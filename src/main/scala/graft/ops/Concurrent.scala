package graft.ops

import java.util.concurrent.TimeUnit
import java.util.concurrent.atomic.AtomicReference

import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession

/** Overlap independent Spark actions issued from one driver thread —
  * the one place in the library that does (the star sink's dimension
  * writes, the curation epoch's two store merges, the ANALYZE jobs of
  * a multi-join). A chain of small serial jobs pays the dispatch gap
  * of every job in turn while most cores idle; submitted together,
  * the scheduler runs their tasks side by side.
  *
  * Contract of [[all]], with nothing to tune:
  *   - one FRESH thread per task, created by the caller's thread, so
  *     it inherits the caller's Spark local properties (job group,
  *     job tags, SQL execution id, scheduler pool); it also runs under
  *     the caller's active session — a stream stopped while its
  *     `foreachBatch` is inside `all` still cancels the children's jobs
  *     through its job group;
  *   - it waits for EVERY task, then rethrows the first failure (the
  *     later ones ride along as suppressed): no sibling is still
  *     writing when the caller sees the error, so a caller's ordering
  *     invariant (dims before fact, merges before publish) holds on
  *     the failure path too;
  *   - every wait is bounded: past [[Bound]] (or if the caller is
  *     interrupted) the children's jobs are cancelled and their
  *     threads interrupted and joined for up to a grace period before
  *     the error propagates. A child that ignores both (a driver-side
  *     file operation that never returns) can outlive that grace; the
  *     error then says how many are still running, so the caller knows
  *     its ordering invariant no longer holds.
  */
object Concurrent {

  /** The wait bound — far past any one job of a pipeline whose
    * schedule slot is 5 minutes: a task this late is hung, not slow. */
  val Bound: FiniteDuration = 10.minutes

  /** After a cancel, how long a child may take to unwind. */
  private val Grace: FiniteDuration = 30.seconds

  /** Runs every task on its own thread; returns their results in task
    * order. See the object doc for the failure and wait contract. */
  def all[T](tasks: (() => T)*): Seq[T] = {
    val session = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val sc = session.map(_.sparkContext)
    val tag = s"graft-concurrent-${java.util.UUID.randomUUID()}"
    val results = new Array[Any](tasks.size)
    val firstFailure = new AtomicReference[Throwable]()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = tasks.zipWithIndex.map { case (task, i) =>
      val t = new Thread(() =>
        try {
          session.foreach(SparkSession.setActiveSession)
          // the tag lands in this thread's own copy of the properties
          sc.foreach(_.addJobTag(tag))
          results(i) = task()
        } catch {
          case e: Throwable =>
            firstFailure.compareAndSet(null, e)
            failures.add(e)
        }, s"graft-concurrent-$i")
      t.setDaemon(true)
      t
    }
    threads.foreach(_.start())
    val deadline = System.nanoTime() + Bound.toNanos
    def joinUntil(end: Long): Unit = threads.foreach { t =>
      val left = end - System.nanoTime()
      if (left > 0) TimeUnit.NANOSECONDS.timedJoin(t, left)
    }
    /** Cancels, interrupts and joins the children for up to [[Grace]];
      * returns what to tell the caller about any still running. */
    def stop(): String = {
      sc.foreach(_.cancelJobsWithTag(tag))
      threads.foreach(_.interrupt())
      // keep waiting through a second interrupt: returning early would
      // leave a child writing behind the caller's back
      val end = System.nanoTime() + Grace.toNanos
      while (threads.exists(_.isAlive) && System.nanoTime() < end)
        try joinUntil(end) catch { case _: InterruptedException => }
      val alive = threads.count(_.isAlive)
      if (alive == 0) "all stopped after cancel"
      else s"$alive still running $Grace after cancel and interrupt"
    }
    try joinUntil(deadline)
    catch {
      case e: InterruptedException =>
        val left = stop()
        if (threads.exists(_.isAlive))
          e.addSuppressed(new IllegalStateException(
            s"interrupted; of ${tasks.size} concurrent tasks $left"))
        throw e
    }
    if (threads.exists(_.isAlive)) {
      val running = threads.count(_.isAlive)
      val left = stop()
      throw new java.util.concurrent.TimeoutException(
        s"$running of ${tasks.size} concurrent tasks still running after " +
          s"$Bound; $left")
    }
    Option(firstFailure.get()).foreach { first =>
      failures.forEach(e => if (e ne first) first.addSuppressed(e))
      throw first
    }
    results.toSeq.asInstanceOf[Seq[T]]
  }
}
