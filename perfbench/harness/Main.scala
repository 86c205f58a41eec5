package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark harness: one workload, one closed-loop client, one
  * `local[nproc]` session.
  *
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *       --data <dir> --work <dir> --expected <file> --side <file> [--record]
  * }}}
  *
  * The run is: host-noise probe, setup rounds on one session (the
  * workload's warm-up units, each followed by its untimed check), timed
  * operations until `--seconds` have passed and each phase holds at
  * least `Sizes.MinOps` latency samples, untimed final checks,
  * host-noise probe. `setup_s` is the time from JVM start to the end of
  * the last setup round, less the host-noise probe and the checks: JVM
  * start, class loading, session start, build-once artifacts and the
  * warm-up. With `--trace 1` the first half of the time runs untraced and
  * the second half with listeners and layer probes attached; the
  * difference is the tracing overhead. The last stdout line is
  * `RESULT <json>`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.get("trace").contains("1")
    val record = opts.contains("record")
    val work = new File(opts("work"))
    val expectedFile = new File(opts("expected"))
    val expected =
      if (expectedFile.exists()) Check.readJson(expectedFile)
      else com.fasterxml.jackson.databind.node.NullNode.getInstance()
    val ctx = new Ctx(seed, new File(opts("data")), work, expected, record,
      opts.get("record-out").map(f => new File(f).getAbsoluteFile.getParentFile).orNull)
    val cpus = Runtime.getRuntime.availableProcessors()
    if (workload == "curation_pool") return curationPool(ctx, cpus, work, new File(opts("record-out")))
    if (workload == "etl_offsets") return etlOffsets(ctx, cpus, work, new File(opts("record-out")))

    val (sentinelPre, sentinelPreS) = Timing.secs(Sentinel.probe(cpus))
    val wl: Workload = workload match {
      case "pipeline_cadence" =>
        new PipelineCadence(ctx, CurationEpochs.read(new File(work, "curation/epochs.json")))
      case "query_mix" => new QueryMix(ctx)
      case other => sys.error(s"unknown workload $other")
    }

    // setup rounds: the first also pays JVM start, class loading and
    // session start (the host-noise probe before it is not set-up work)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    val setupStart = System.nanoTime() - (System.currentTimeMillis() - jvmStartMs) * 1000000L +
      (sentinelPreS * 1e9).toLong
    val spark = session(cpus, work)
    for (round <- 0 until wl.setupRounds) {
      val t0 = if (round == 0) setupStart else System.nanoTime()
      wl.warm(spark, round)
      setupTimes += (System.nanoTime() - t0) / 1e9
      wl.warmCheck(spark)
    }

    // timed operations (closed loop, one at a time); a phase ends on
    // a boundary once its time is up and it holds MinOps latency
    // samples (for query_mix, whole passes)
    val ops = mutable.ArrayBuffer.empty[(OpResult, Boolean)]
    def samples(tracedPhase: Boolean) = wl.latencies(ops.filter(_._2 == tracedPhase).map(_._1).toSeq)
    def loop(budget: Double, tracedPhase: Boolean): Unit = {
      val t0 = System.nanoTime()
      var done = false
      while (!done) {
        val i = ops.size
        val elapsed = (System.nanoTime() - t0) / 1e9
        if (wl.exhausted || (wl.boundary(i) && elapsed >= budget && samples(tracedPhase).size >= Sizes.MinOps))
          done = true
        else {
          ctx.tracer.op = i
          val r =
            try Some(wl.op(spark, i, tracedPhase))
            catch { case e: Exception =>
              ctx.check(ok = false, s"operation $i failed: $e")
              e.printStackTrace()
              None
            }
          ctx.tracer.op = -1
          r.foreach(x => ops += ((x, tracedPhase)))
          if (r.isEmpty && ctx.failed > 3) done = true
        }
      }
    }
    val counters = new Counters
    var layerSummary = Map.empty[String, Double]
    if (!traced) loop(seconds, tracedPhase = false)
    else {
      loop(seconds / 2, tracedPhase = false)
      spark.sparkContext.addSparkListener(counters)
      ctx.counters = Some(counters)
      loop(seconds / 2, tracedPhase = true)
    }
    for (phase <- if (traced) Seq(false, true) else Seq(false)) {
      val n = samples(phase).size
      ctx.check(n >= Sizes.MinOps,
        s"${if (phase) "traced" else "untraced"} phase took $n samples, want ${Sizes.MinOps} (input exhausted?)")
    }

    try wl.finish(spark)
    catch { case e: Exception => ctx.check(ok = false, s"final checks failed: $e"); e.printStackTrace() }
    if (traced)
      try layerSummary = wl.summary(spark)
      catch { case e: Exception => ctx.check(ok = false, s"layer summary failed: $e"); e.printStackTrace() }
    val sentinelPost = Sentinel.probe(cpus)
    val rssMb = Sentinel.peakRssMb()
    spark.stop()

    val untracedOps = ops.filterNot(_._2).map(_._1).toSeq
    val tracedOps = ops.filter(_._2).map(_._1).toSeq
    val untracedMedian = Stats.median(wl.latencies(untracedOps))
    val tracedMedian = Stats.median(wl.latencies(tracedOps))
    val e2e = Map(
      "setup_s" -> setupTimes.sum,
      "op_s_p50" -> untracedMedian,
      "ops_per_s" -> untracedOps.size / untracedOps.map(_.wall).sum)
    val layers =
      if (!traced) Map.empty[String, Double]
      else Metrics.perLayer(tracedOps, layerSummary) ++ Map(
        "host.spin_ratio" -> math.max(sentinelPre("ratio"), sentinelPost("ratio")),
        "steady.drift" -> Metrics.drift(wl.latencies(untracedOps)),
        "jvm.peak_rss_mb" -> rssMb,
        "trace.overhead_s" -> (tracedMedian - untracedMedian),
        "trace.overhead_ratio" -> (tracedMedian / untracedMedian - 1.0))
    val sentinel = Map(
      "rule" -> s"multicore slowest-thread spin > ${graft.Bench.ContendedRatio} x single-thread spin",
      "pre" -> sentinelPre, "post" -> sentinelPost,
      "contended" -> (sentinelPre("contended") == 1.0 || sentinelPost("contended") == 1.0))
    val report = Metrics.report(wl, setupTimes.toSeq, untracedOps, rssMb, ctx)

    Check.writeJson(new File(opts("side")), Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "setup_rounds_s" -> setupTimes.toSeq,
      "ops" -> ops.map { case (o, t) => Map("latency_s" -> o.latency, "wall_s" -> o.wall,
        "traced" -> t, "label" -> o.label, "layers" -> o.layers) },
      "spans" -> ctx.tracer.spans.map(s => Map("name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "parent" -> s.parent, "op" -> s.op)),
      "jobs" -> counters.jobLog.map(j => Map("id" -> j.id, "start_ms" -> j.startMs,
        "end_ms" -> j.endMs, "tasks" -> j.tasks, "execution" -> j.execution, "plan" -> counters.plans.getOrElse(j.execution, "").take(300))),
      "report" -> report, "sentinel" -> sentinel, "per_layer" -> layers,
      "failures" -> ctx.failures.toSeq, "recorded" -> ctx.recorded.toMap))
    if (record) Check.writeJson(new File(opts("record-out")), ctx.recorded.toMap)

    println("REPORT " + Check.toJson(report ++ Map("sentinel" -> sentinel)))
    val attempted = math.max(1L, ctx.attempted + ops.size)
    println("RESULT " + Check.toJson(Map(
      "correct" -> (ctx.failed == 0 && untracedOps.nonEmpty && (!traced || tracedOps.nonEmpty)),
      "attempted" -> attempted,
      "failed" -> ctx.failed,
      "metrics" -> (if (traced) layers else e2e))))
  }

  /** Record mode: streams every document once, without duplicates,
    * and records the admitted ids — the pool the curation epochs draw
    * from, so that every pool document is admitted whatever the seed. */
  private def curationPool(ctx: Ctx, cpus: Int, work: File, out: File): Unit = {
    val spark = session(cpus, work)
    val cur = new CurationEpochs(ctx, CurationEpochs.read(new File(work, "curation/epochs.json")))
    val stats = cur.drainAll(spark)
    val ids = spark.read.parquet(new File(work, "curation/base/nd_index/sigs").getPath)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    println(s"curation pool: ${ids.length} of the streamed documents admitted ($stats)")
    Check.writeJson(out, Map("pool" -> ids.toSeq))
    spark.stop()
  }

  /** Record mode: the star fingerprint of one slot at every offset,
    * and, for the DuckDB cross-check, one slot's raw observations and
    * star tables kept beside the record file. */
  private def etlOffsets(ctx: Ctx, cpus: Int, work: File, out: File): Unit = {
    val spark = session(cpus, work)
    val keep = new File(out.getParentFile, "etl_crosscheck")
    val tz = EtlSlots.offsets.head
    graft.ops.Fs.deleteRecursively(keep)
    graft.pipeline.EtlJob.run(spark, new File(keep, "star").getPath, Sizes.EtlStations, Sizes.EtlTicks, tz)
    spark.read.format("graft.sources.ObservationSource")
      .option("stations", Sizes.EtlStations).option("ticks", Sizes.EtlTicks).load()
      .write.parquet(new File(keep, "observations").getPath)
    Check.writeJson(new File(keep, "meta.json"), Map("tz" -> tz))
    val etl = new EtlSlots(ctx, Sizes.EtlStations, Sizes.EtlTicks)
    EtlSlots.offsets.foreach(o => etl.slotAt(spark, s"offset_$o", o))
    etl.verifyPending(spark)
    Check.writeJson(out, ctx.recorded.toMap)
    println(s"etl offsets: ${ctx.recorded.size} fingerprints, ${ctx.failed} failed checks")
    spark.stop()
  }

  private def session(cpus: Int, work: File): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def parse(args: Array[String]): Map[String, String] = {
    val out = mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val k = args(i).stripPrefix("--")
      if (i + 1 < args.length && !args(i + 1).startsWith("--")) { out(k) = args(i + 1); i += 2 }
      else { out(k) = "1"; i += 1 }
    }
    out.toMap
  }
}

/** Workload sizes. */
object Sizes {
  /** One ETL slot: the ETL DAG's default stations and ticks
    * (airflow/weatherflow_spark_dag.py, weatherflow_stations 4 and
    * weatherflow_ticks 12). */
  val EtlStations = 4
  val EtlTicks = 12
  /** ETL slots per curation epoch: the ETL DAG runs every 5 minutes,
    * the curation DAG every 15 (airflow/graft_curation_dag.py). */
  val SlotsPerEpoch = 3
  /** Fewest latency samples in a phase, whatever the time budget: one
    * per operation, for query_mix one per whole pass. */
  val MinOps = 2
}

object Stats {
  def median(v: Seq[Double]): Double = quantile(v, 0.5)

  /** Linear-interpolated quantile; NaN for an empty sample. */
  def quantile(v: Seq[Double], q: Double): Double =
    if (v.isEmpty) Double.NaN
    else {
      val s = v.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

object Metrics {
  /** Per-layer metrics: the median over traced operations of every
    * layer reading, plus the workload's end-of-run summary. */
  def perLayer(ops: Seq[OpResult], summary: Map[String, Double]): Map[String, Double] = {
    val keys = ops.flatMap(_.layers.keys).distinct
    keys.map(k => k -> Stats.median(ops.flatMap(_.layers.get(k)))).toMap ++ summary
  }

  /** Second-half median over first-half median, minus one: a trend
    * from JIT or state growth within the timed operations. */
  def drift(lat: Seq[Double]): Double = {
    val half = lat.size / 2
    if (half == 0) Double.NaN
    else Stats.median(lat.drop(lat.size - half)) / Stats.median(lat.take(half)) - 1.0
  }

  /** A p90 only with ≥100 samples beyond the p50's support. */
  def p90(v: Seq[Double]): Any =
    if (v.size - v.size / 2 >= 100) Stats.quantile(v, 0.9) else s"n/a (n=${v.size})"

  /** The workload's own metric names, fail ratio, sample count and
    * the drift of the second half's median against the first's. */
  def report(wl: Workload, setup: Seq[Double], ops: Seq[OpResult], rssMb: Double,
      ctx: Ctx): Map[String, Any] = {
    val lat = wl.latencies(ops)
    wl.report(ops) ++ Map(
      "setup_s" -> setup.sum, "setup_rounds_s" -> setup, "peak_rss_mb" -> rssMb,
      "fail_ratio" -> ctx.failed.toDouble / math.max(1L, ctx.attempted + ops.size),
      "samples" -> lat.size, "drift_second_vs_first_half" -> drift(lat))
  }
}

/** Host-noise sentinel: the spin-probe rule of `graft.Bench`. A fixed
  * register-only kernel runs on one thread, then on every core at once;
  * the host counts as contended when the slowest multicore thread takes
  * more than `Bench.ContendedRatio` times the single-thread run. The
  * result is recorded beside the metrics and never used to filter. */
object Sentinel {
  private val Iters = 62500000L

  private def spin(iters: Long): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0L
    while (i < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) System.err.println("")
    (System.nanoTime() - t0) / 1e9
  }

  def probe(cpus: Int): Map[String, Double] = {
    spin(Iters / 4)
    val st = spin(Iters)
    val times = new Array[Double](cpus)
    val threads = (0 until cpus).map(i => new Thread(() => times(i) = spin(Iters)))
    threads.foreach(_.start()); threads.foreach(_.join())
    val mt = times.max
    Map("single_s" -> st, "multi_s" -> mt, "ratio" -> mt / st,
      "contended" -> (if (graft.Bench.isContended(mt, st)) 1.0 else 0.0))
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }
}
