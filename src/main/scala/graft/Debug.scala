package graft

import org.apache.spark.sql.SparkSession

/** Dev-only: run one named query and print result/plan/exception.
  *
  * `--time` switches to the Bench session shape (local[N], AQE on)
  * and prints per-run wall times instead of rows, then the build-once
  * artifact catalog's per-kind builds, hits and build ms — for
  * profiling a single query without a full bench pass.
  */
object Debug {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    // first non-flag argument after the query name (absolute OR
    // relative — silently ignoring a relative path would measure the
    // wrong dataset)
    val sfDir = args.drop(1).find(!_.startsWith("--"))
      .getOrElse("/root/testdata/sf0.001")
    val timing = args.contains("--time")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", if (timing) "32" else "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", timing.toString)
      // mirror Bench's AQE partition sizing exactly — a --time probe
      // that plans differently from Bench measures a different query
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // --jobs: per-job wall times + stage counts for ONE extra run —
    // answers "where do a multi-job query's seconds go" (broadcast
    // builds, checkpoint jobs, eager cache counts) without the UI
    if (args.contains("--jobs")) {
      val t0 = System.nanoTime()
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          private val starts =
            new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int)]()
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            starts.put(j.jobId, (System.nanoTime(), j.stageInfos.size))
          override def onJobEnd(
              j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val (s, nst) = starts.getOrDefault(j.jobId, (0L, -1))
            System.err.println(
              f"[job ${j.jobId}%3d] +${(s - t0) / 1e9}%7.3fs " +
                f"dur=${(System.nanoTime() - s) / 1e9}%6.3fs stages=$nst")
          }
        })
    }
    // --stages: per-stage completion lines (name@callsite, task count,
    // wall) — identifies WHICH operator a slow job's seconds live in
    // when --jobs can only say "job 83 took 0.57s"
    if (args.contains("--stages")) {
      val t0 = System.nanoTime()
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val i = s.stageInfo
            val dur = (for {a <- i.completionTime; b <- i.submissionTime}
              yield (a - b) / 1e3).getOrElse(-1.0)
            System.err.println(
              f"[stage ${i.stageId}%4d] +${(System.nanoTime() - t0) / 1e9}%7.3fs " +
                f"dur=$dur%6.3fs tasks=${i.numTasks}%3d ${i.name.take(110)}")
          }
        })
    }
    try {
      if (timing) {
        if (args.contains("--explain"))
          SparkEntry.queries(name)(spark, sfDir).explain("formatted")
        SparkEntry.queries(name)(spark, sfDir).count() // warm (JIT + data)
        spark.catalog.clearCache()
        // SPARK_GRAFT_DEBUG_RUNS widens the sample when the question
        // is the RUN-TO-RUN DISTRIBUTION in one JVM (bimodality
        // triage: variance inside a JVM points at cache/eviction,
        // stable-inside-but-differs-across-JVMs points at page cache
        // or JIT), default 3 for quick profiling
        val n = sys.env.getOrElse("SPARK_GRAFT_DEBUG_RUNS", "3").toInt
        for (i <- 1 to n) {
          val t0 = System.nanoTime()
          val rows = SparkEntry.queries(name)(spark, sfDir).count()
          println(f"run $i: ${(System.nanoTime() - t0) / 1e9}%.3f s ($rows rows)")
          spark.catalog.clearCache()
        }
        // the build-once artifact catalog's per-kind profile: a kind
        // with builds after the warm run is rebuilding per call
        graft.ops.BuildOnce.stats.foreach { k =>
          println(f"artifact ${k.kind}%-18s builds=${k.builds}%d " +
            f"hits=${k.hits}%d build_ms=${k.buildMs}%d")
        }
      } else {
        val df = SparkEntry.queries(name)(spark, sfDir)
        if (args.contains("--explain")) df.explain("formatted")
        df.show(10, truncate = false)
        println(s"rows: ${df.count()}")
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
    }
    spark.stop()
  }
}
