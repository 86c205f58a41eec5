package graft.ops

import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkSpec

/** [[Concurrent.all]]'s contract: every task is waited for before a
  * failure propagates, no helper thread outlives the call, and each
  * child runs under the caller's Spark local properties and session —
  * so the caller's job group still cancels the children's jobs. */
class ConcurrentSpec extends SparkSpec {

  private def helpersAlive: Seq[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.isAlive && t.getName.startsWith("graft-concurrent-"))

  test("results come back in task order; no helper thread outlives the call") {
    val out = Concurrent.all(
      () => spark.range(10).count(),
      () => { Thread.sleep(50); 2L },
      () => spark.range(3).count())
    assert(out === Seq(10L, 2L, 3L))
    assert(helpersAlive.isEmpty)
  }

  test("a failing task lets its siblings finish, then rethrows the first failure") {
    val siblingDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Concurrent.all(
        () => throw new IllegalStateException("boom"),
        () => {
          Thread.sleep(300)
          spark.range(100).count()
          siblingDone.set(true)
        },
        () => { Thread.sleep(100); throw new IllegalArgumentException("later") })
    }
    assert(e.getMessage === "boom")
    assert(e.getSuppressed.map(_.getMessage).toSeq === Seq("later"))
    assert(siblingDone.get(), "the caller saw the error while a sibling still ran")
    assert(helpersAlive.isEmpty)
  }

  test("children inherit the caller's local properties and session; cancelJobGroup stops them") {
    val sc = spark.sparkContext
    val group = s"concurrent-spec-${System.nanoTime()}"
    sc.setJobGroup(group, "ConcurrentSpec", interruptOnCancel = true)
    sc.setLocalProperty("graft.spec.marker", "caller")
    val priorSession = SparkSession.getActiveSession
    val callerSession = spark.newSession()
    SparkSession.setActiveSession(callerSession)
    try {
      val seen = Concurrent.all(
        () => (sc.getLocalProperty("spark.jobGroup.id"),
          sc.getLocalProperty("graft.spec.marker"),
          SparkSession.getActiveSession.exists(_ eq callerSession)))
      assert(seen === Seq((group, "caller", true)))

      // a long job in one child, a finished sibling: cancelling the
      // CALLER's group must end the child's job well before it would
      // finish on its own
      val canceller = new Thread(() => {
        val deadline = System.nanoTime() + 60L * 1000000000L
        while (sc.statusTracker.getJobIdsForGroup(group).forall(id =>
            sc.statusTracker.getJobInfo(id).forall(
              _.status != org.apache.spark.JobExecutionStatus.RUNNING)) &&
          System.nanoTime() < deadline) Thread.sleep(20)
        sc.cancelJobGroup(group)
      })
      canceller.start()
      val t0 = System.nanoTime()
      intercept[Exception] {
        Concurrent.all(
          () => sc.parallelize(1 to 2, 2).map { x => Thread.sleep(120000); x }.count(),
          () => 1L)
      }
      canceller.join(60000)
      assert((System.nanoTime() - t0) / 1e9 < 60.0, "the group cancel did not reach the child")
      assert(helpersAlive.isEmpty)
    } finally {
      priorSession.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
      sc.clearJobGroup()
      sc.setLocalProperty("graft.spec.marker", null)
    }
  }
}
