package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.pipeline.{CurationJob, EtlJob, StarSchema, StarSink, WeatherEtl}

/** What one timed operation produced. `latency` feeds the latency
  * percentiles, `wall` the throughput; they differ only where the
  * program reports its own operation time (curation epochs). */
final case class OpResult(latency: Double, wall: Double,
    layers: Map[String, Double] = Map.empty, label: String = "")

/** Shared run state handed to every workload. */
final class Ctx(val seed: Long, val data: File, val work: File,
    val expected: com.fasterxml.jackson.databind.JsonNode,
    val record: Boolean, val recordDir: File) {
  val tracer = new Tracer
  var counters: Option[Counters] = None
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val recorded = mutable.LinkedHashMap.empty[String, Any]

  /** One output check: counted in `attempted`, and in `failed` (with
    * its message kept for the side file) when it does not hold. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      failures += what
      System.err.println(s"[perfbench] CHECK FAILED: $what")
    }
  }

  def expectedText(path: String*): Option[String] = {
    var n = expected
    path.foreach(p => n = if (n == null) null else n.get(p))
    Option(n).filterNot(_.isNull).map(_.asText())
  }

  /** Listener deltas and jobs for one traced region (empty when
    * untraced). */
  def measured[T](spark: SparkSession, name: String)(body: => T): (T, Span, Map[String, Double], Seq[JobRecord]) =
    counters match {
      case None =>
        val (out, s) = tracer.span(name)(body)
        (out, s, Map.empty, Nil)
      case Some(c) =>
        Counters.drain(spark.sparkContext)
        val before = c.snapshot()
        val fromMs = System.currentTimeMillis()
        val (out, s) = tracer.span(name)(body)
        val toMs = System.currentTimeMillis()
        Counters.drain(spark.sparkContext)
        val after = c.snapshot()
        val jobs = c.jobsIn(fromMs, toMs)
        val busy = Counters.busySeconds(jobs, fromMs, toMs)
        val delta = after.map { case (k, v) => k -> (v - before(k)) } ++ Map(
          "spark.job_busy_s" -> busy,
          "spark.driver_gap_s" -> math.max(0.0, s.seconds - busy),
          "cache.persisted_rdds_after" ->
            spark.sparkContext.getPersistentRDDs.size.toDouble)
        (out, s, delta, jobs)
    }
}

/** A benchmark workload: a warm-up share per setup round, one timed
  * operation at a time, and output checks outside the timed region. */
abstract class Workload(val ctx: Ctx) {
  /** Setup rounds before the timed operations. */
  def setupRounds: Int = 3
  /** Setup round `round`'s share of the warm-up. */
  def warm(spark: SparkSession, round: Int): Unit
  /** Untimed checks of the warm-up share just run. */
  def warmCheck(spark: SparkSession): Unit = ()
  /** One timed operation followed by its untimed check. */
  def op(spark: SparkSession, i: Int, traced: Boolean): OpResult
  /** May the run stop before operation `i`? */
  def boundary(i: Int): Boolean = true
  /** Has the workload run out of prepared input? */
  def exhausted: Boolean = false
  /** Untimed checks after the last operation. */
  def finish(spark: SparkSession): Unit = ()
  /** Per-layer metrics computed once at the end of a traced run. */
  def summary(spark: SparkSession): Map[String, Double] = Map.empty
  /** The workload's own metric names for the report line. */
  def report(ops: Seq[OpResult]): Map[String, Any]
  /** Latency samples for the end-to-end percentile: one per operation. */
  def latencies(ops: Seq[OpResult]): Seq[Double] = ops.map(_.latency)
}

object Timing {
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }
}
import Timing._

/** `EtlJob.run` slots of `stations` × `ticks` fixture observations. The
  * seed picks each slot's UTC offset: the fixture is fixed per
  * (station, tick), so the offset is the seed's only way in. */
final class EtlSlots(ctx: Ctx, stations: Int, ticks: Int) {
  private val rng = new Random(ctx.seed)
  private val rows = stations.toLong * ticks
  private val pending = mutable.ArrayBuffer.empty[(File, Long, Map[String, Long])]

  private def slotDir(tag: String) = new File(ctx.work, s"etl/$tag")
  private def nextOffset(): Long = EtlSlots.offsets(rng.nextInt(EtlSlots.offsets.size))

  /** One slot at the next seeded offset; returns seconds. Its check
    * runs in [[verifyPending]]. */
  def slot(spark: SparkSession, tag: String): Double = slotAt(spark, tag, nextOffset())

  /** One slot at a given offset; its check runs in [[verifyPending]]. */
  def slotAt(spark: SparkSession, tag: String, tz: Long): Double = {
    val dir = slotDir(tag)
    val (counts, s) = secs(EtlJob.run(spark, dir.getPath, stations, ticks, tz))
    pending += ((dir, tz, counts))
    s
  }

  /** A timed slot; its check runs in [[verifyPending]]. */
  def op(spark: SparkSession, tag: String): OpResult = {
    val (s, _) = ctx.tracer.span("etl.slot")(slot(spark, tag))
    val bytes = Check.bytesUnder(pending.last._1).toDouble
    OpResult(s, s, Map("etl.slot_s" -> s, "etl.stored_bytes_per_row" -> bytes / rows))
  }

  /** Times each layer's public function on a slot's input (each forced
    * with a noop write), then the sink on its own. */
  def probeLayers(spark: SparkSession, i: Int): Map[String, Double] = {
    val tz = nextOffset()
    def source() = spark.read.format("graft.sources.ObservationSource")
      .option("stations", stations).option("ticks", ticks).load()
    // the two columns EtlJob.run adds before enrichment
    def obs() = source().withColumn("timezone", lit(tz))
      .withColumn("obs_id", col("station_id") * 1000000000000L + col("timestamp"))
    val (_, scan, scanM, _) = ctx.measured(spark, "sources.scan")(noop(source()))
    val (_, enr, _, _) = ctx.measured(spark, "enrich")(noop(WeatherEtl.enrich(obs())))
    val (_, keys, _, _) = ctx.measured(spark, "keys")(
      noop(StarSchema.withKeys(WeatherEtl.enrich(obs()))))
    val dir = slotDir(s"sink_$i")
    val (counts, sink, sinkM, _) = ctx.measured(spark, "sink.write")(
      StarSink.write(WeatherEtl.enrich(obs()), dir.getPath))
    ctx.check(counts.get("fact").contains(rows), s"sink probe wrote $counts, want $rows rows")
    val bytes = Check.bytesUnder(dir).toDouble
    val files = Check.dataFiles(dir).toDouble
    graft.ops.Fs.deleteRecursively(dir)
    Map(
      "sources.scan_s" -> scan.seconds,
      "sources.partitions" -> scanM.getOrElse("spark.tasks", 0.0),
      "enrich.self_s" -> (enr.seconds - scan.seconds),
      "keys.self_s" -> (keys.seconds - enr.seconds),
      "sink.write_s" -> sink.seconds,
      "sink.self_s" -> (sink.seconds - keys.seconds),
      "sink.driver_gap_s" -> sinkM.getOrElse("spark.driver_gap_s", 0.0),
      "sink.jobs" -> sinkM.getOrElse("spark.jobs", 0.0),
      "sink.tasks" -> sinkM.getOrElse("spark.tasks", 0.0),
      "sink.files" -> files,
      "sink.bytes" -> bytes,
      "sink.shuffle_bytes" -> sinkM.getOrElse("spark.shuffle_write_bytes", 0.0))
  }

  /** Checks the slots not yet checked and deletes their output:
    * manifest and table counts, every fact key resolving in all four
    * dims, and the star's fingerprint against the stored one for this
    * (size, offset). */
  def verifyPending(spark: SparkSession): Unit = if (pending.nonEmpty) ctx.tracer.span("etl.check") {
    pending.foreach { case (dir, _, counts) =>
      val manifest = new String(java.nio.file.Files.readAllBytes(
        new File(dir, "_BATCH_COMPLETE").toPath))
      ctx.check(manifest.contains(s""""rows":$rows,"""), s"etl manifest $manifest, want $rows rows")
      ctx.check(counts.values.forall(_ == rows), s"etl counts $counts, want $rows")
      EtlSlots.tables.foreach { n =>
        val c = Check.parquetRows(new File(dir, n))
        ctx.check(c == rows, s"etl table $n holds $c rows, want $rows")
      }
    }
    // one query over every pending slot, each slot's rows tagged with
    // its index (keys repeat between slots: they hash the observation
    // id, which the offset does not change)
    def table(n: String) = pending.indices.map(k =>
      spark.read.parquet(new File(pending(k)._1, n).getPath).withColumn("slot", lit(k))).reduce(_ union _)
    // an inner join keeps every fact row iff every key resolves; the
    // joined star carries every column of all five tables
    val star = table("fact").withColumnRenamed("record_date", "fact_record_date")
      .join(table("time_dim"), Seq("slot", "time_id"))
      .join(table("param_dim"), Seq("slot", "parameter_id"))
      .join(table("temp_dim"), Seq("slot", "temp_id"))
      .join(table("heat_index_dim"), Seq("slot", "heat_index_id"))
    val bySlot = star.collect().groupBy(_.getInt(0))
    pending.zipWithIndex.foreach { case ((dir, tz, _), k) =>
      // the slot tag is the first column; the fingerprint covers the rest
      val fp = Check.fingerprintRows(bySlot.getOrElse(k, Array.empty).toSeq.map(r => Row.fromSeq(r.toSeq.tail)))
      ctx.check(fp.startsWith(s"$rows:"), s"etl star join kept ${fp.takeWhile(_ != ':')} rows, want $rows")
      val key = s"${stations}x$ticks"
      if (ctx.record) ctx.recorded(s"etl/$key/$tz") = fp
      else ctx.check(ctx.expectedText("etl", key, tz.toString).contains(fp),
        s"etl star fingerprint $fp at offset $tz, want ${ctx.expectedText("etl", key, tz.toString)}")
      graft.ops.Fs.deleteRecursively(dir)
    }
    pending.clear()
  }
}

object EtlSlots {
  /** Whole-hour UTC offsets, −12 h to +14 h. */
  val offsets: IndexedSeq[Long] = (-12 to 14).map(_ * 3600L)
  val tables = Seq("fact", "time_dim", "param_dim", "temp_dim", "heat_index_dim")
}

/** `CurationJob.run` over epoch files prepared from the seed (one file
  * per epoch, AvailableNow): each run drains the one file that arrived
  * since the previous run. Epoch time comes from the stream's own
  * progress report. */
final class CurationEpochs(ctx: Ctx, epochs: Seq[CurationEpochs.Epoch]) {
  private val staging = new File(ctx.work, "curation/epochs")
  private val src = new File(ctx.work, "curation/source")
  private val base = new File(ctx.work, "curation/base")
  private val times = new EpochTimes
  private var fed = 0
  private var expectAdmitted = 0L
  private var lastAdmitted = 0L

  def exhausted: Boolean = fed >= epochs.size

  private def feed(): CurationEpochs.Epoch = {
    val e = epochs(fed)
    src.mkdirs()
    // a rename inside one file system: the stream sees a whole file
    if (!new File(staging, e.file).renameTo(new File(src, e.file)))
      sys.error(s"cannot move epoch ${e.file}")
    fed += 1
    expectAdmitted += e.pool
    e
  }

  /** Runs the job on every prepared epoch at once (record mode only:
    * derives the pool of documents the workload may admit). */
  def drainAll(spark: SparkSession): Map[String, Long] = {
    while (!exhausted) feed()
    CurationJob.run(spark, src.getPath, base.getPath)
  }

  /** Runs the job on the next epoch file and checks its counts. */
  def epoch(spark: SparkSession): (Double, CurationEpochs.Epoch, Map[String, Long]) = {
    if (!spark.streams.listListeners().contains(times)) spark.streams.addListener(times)
    val e = feed()
    val (stats, s) = secs(CurationJob.run(spark, src.getPath, base.getPath))
    ctx.check(stats("published_batches") == fed,
      s"curation published ${stats("published_batches")} batches after $fed epochs")
    ctx.check(stats("admitted_docs") == expectAdmitted,
      s"curation admitted ${stats("admitted_docs")} docs, want $expectAdmitted")
    lastAdmitted = stats("admitted_docs")
    (s, e, stats)
  }

  def op(spark: SparkSession, traced: Boolean): OpResult = {
    val before = times.snapshot().size
    val bytesBefore = Check.bytesUnder(base)
    val admittedBefore = lastAdmitted
    val ((wall, e, _), _, _, jobs) = ctx.measured(spark, "curation.epoch")(epoch(spark))
    Counters.drain(spark.sparkContext)
    val fresh = times.snapshot().drop(before)
    ctx.check(fresh.size == 1, s"curation epoch produced ${fresh.size} progress reports")
    val epochS = fresh.sum / 1e3
    val bytesAfter = Check.bytesUnder(base)
    val basic = Map("curation.epoch_s" -> epochS, "curation.docs" -> e.docs.toDouble,
      "curation.stored_bytes_per_doc" -> bytesAfter.toDouble / epochs.take(fed).map(_.docs).sum)
    val layers =
      if (!traced) basic
      else {
        val plans = ctx.counters.map(_.plans).getOrElse(Map.empty[Long, String])
        val byStage = jobs.groupBy(j => CurationEpochs.stageOf(plans.getOrElse(j.execution, "")))
          .map { case (k, js) => k -> js.map(j => math.max(0L, j.endMs - j.startMs)).sum / 1e3 }
        basic ++ CurationEpochs.stages.map(st => s"curation.${st}_s" -> byStage.getOrElse(st, 0.0)) ++ Map(
          "curation.jobs" -> jobs.size.toDouble,
          "curation.admit_ratio" -> (lastAdmitted - admittedBefore).toDouble / e.docs,
          "curation.store_bytes_written" -> math.max(0L, bytesAfter - bytesBefore).toDouble,
          "curation.store_bytes" -> bytesAfter.toDouble)
      }
    OpResult(epochS, wall, layers)
  }

  /** `MaintenanceJob.run` on the curated store, as the curation DAG
    * runs it after every epoch (compaction to 128 MB files, table
    * stats); returns seconds. It must keep every curated row. */
  def maintain(spark: SparkSession): Double = {
    val curated = new File(base, "curated")
    val rowsBefore = Check.parquetRows(curated)
    val (stats, s) = ctx.tracer.span("curation.maintenance")(
      secs(graft.ops.MaintenanceJob.run(spark, curated.getPath, 128L * 1024 * 1024)))._1
    ctx.check(stats("rows") == rowsBefore && Check.parquetRows(curated) == rowsBefore,
      s"maintenance kept ${stats("rows")} of $rowsBefore curated rows")
    s
  }

  /** Every published batch dir has `_SUCCESS`, one per epoch, no doc is
    * published twice, and exactly the pool documents were admitted. */
  def finish(): Unit = {
    val pub = new File(base, "publish")
    val batches = Option(pub.listFiles()).toSeq.flatten.filter(_.getName.startsWith("batch_id="))
    batches.foreach(b => ctx.check(new File(b, "_SUCCESS").exists(), s"curation $b has no _SUCCESS"))
    ctx.check(batches.size == fed, s"curation has ${batches.size} batch dirs after $fed epochs")
    // the sink writes tab-separated part files, doc_id first
    val ids = batches.flatMap(b => Option(b.listFiles()).toSeq.flatten)
      .filter(_.getName.startsWith("part-"))
      .flatMap { f =>
        val in = scala.io.Source.fromFile(f)
        try in.getLines().filter(_.nonEmpty).map(_.split("\t", 2)(0).toLong).toList
        finally in.close()
      }
    ctx.check(ids.length == ids.distinct.length, s"curation published ${ids.length - ids.distinct.length} docs twice")
    ctx.check(ids.length == expectAdmitted, s"curation published ${ids.length} docs, want $expectAdmitted")
  }
}

object CurationEpochs {
  final case class Epoch(file: String, docs: Long, pool: Long)

  def read(f: File): Seq[Epoch] = {
    val n = Check.readJson(f)
    (0 until n.size()).map { i =>
      val e = n.get(i)
      Epoch(e.get("file").asText(), e.get("docs").asLong(), e.get("pool").asLong())
    }
  }

  val stages = Seq("ingest", "neardup", "rollup", "sketch", "publish", "other")

  /** Curation stage of a job, from the store its SQL execution writes
    * or reads: the last store named in the plan description, whose final
    * details are the root node's (a write's target). The epoch's input
    * file counts as ingest. (Spark stamps every foreachBatch job with
    * the call site that started the stream, so call sites cannot tell
    * the stages apart.) */
  def stageOf(plan: String): String = {
    val stores = Seq("/curation/source/" -> "ingest", "/curated" -> "ingest",
      "/ledger" -> "ingest", "/nd_index" -> "neardup", "/rollup" -> "rollup",
      "/cms" -> "sketch", "/publish" -> "publish", "AtomicSinkTable" -> "publish")
    stores.map { case (dir, st) => (plan.lastIndexOf(dir), st) }
      .filter(_._1 >= 0).sortBy(-_._1).headOption.map(_._2).getOrElse("other")
  }
}

/** One 15-minute cycle of the two Airflow DAGs: the ETL DAG runs
  * every 5 minutes, the curation DAG every 15, so a cycle is
  * `Sizes.SlotsPerEpoch` `EtlJob.run` slots of the ETL DAG's default
  * size, then a `CurationJob.run` epoch and the `MaintenanceJob.run`
  * that follows it. The cycle's time is the sum of its five calls. The
  * one setup round runs one cycle; every slot is checked at the end of
  * the run, in one query. */
final class PipelineCadence(ctx: Ctx, epochs: Seq[CurationEpochs.Epoch]) extends Workload(ctx) {
  private val etl = new EtlSlots(ctx, Sizes.EtlStations, Sizes.EtlTicks)
  private val cur = new CurationEpochs(ctx, epochs)

  override def setupRounds: Int = 1

  private def cycle(spark: SparkSession, tag: String, traced: Boolean): (Seq[OpResult], OpResult, Double) =
    ((0 until Sizes.SlotsPerEpoch).map(k => etl.op(spark, s"${tag}_$k")),
      cur.op(spark, traced), cur.maintain(spark))

  override def warm(spark: SparkSession, round: Int): Unit = cycle(spark, s"warm_$round", traced = false)

  override def exhausted: Boolean = cur.exhausted

  override def op(spark: SparkSession, i: Int, traced: Boolean): OpResult = {
    val probes = if (traced) etl.probeLayers(spark, i) else Map.empty[String, Double]
    val ((slots, c, maint), _, m, _) = ctx.measured(spark, "cycle")(cycle(spark, s"slot_$i", traced))
    val wall = slots.map(_.wall).sum + c.wall + maint
    def mean(k: String) = slots.map(_.layers(k)).sum / slots.size
    OpResult(wall, wall, probes ++ c.layers ++ m ++ Map(
      "etl.slot_s" -> mean("etl.slot_s"),
      "etl.stored_bytes_per_row" -> mean("etl.stored_bytes_per_row"),
      "curation.maintenance_s" -> maint))
  }

  override def finish(spark: SparkSession): Unit = {
    etl.verifyPending(spark)
    cur.finish()
  }

  override def report(ops: Seq[OpResult]): Map[String, Any] = {
    def layer(k: String) = ops.flatMap(_.layers.get(k))
    val slots = layer("etl.slot_s")
    val epochsS = layer("curation.epoch_s")
    Map(
      "etl_slot_s_p50" -> Stats.median(slots),
      "etl_slot_s_p90" -> Metrics.p90(slots),
      "etl_rows_per_s" -> Sizes.EtlStations * Sizes.EtlTicks / Stats.median(slots),
      "curation_epoch_s_p50" -> Stats.median(epochsS),
      "curation_epoch_s_p90" -> Metrics.p90(epochsS),
      "curation_docs_per_s" -> layer("curation.docs").sum / epochsS.sum,
      "maintenance_s_p50" -> Stats.median(layer("curation.maintenance_s")),
      "stored_bytes_per_row" -> Map(
        "etl" -> Stats.median(layer("etl.stored_bytes_per_row")),
        "curation" -> Stats.median(layer("curation.stored_bytes_per_doc"))))
  }
}

/** Passes over a fixed query subset in a seed-permuted order. Each
  * query is forced by a noop write, so every output column is computed.
  * The setup rounds split one cold pass into thirds; after each round,
  * untimed, every query of its share is run once more for its result
  * fingerprint, which is the run's output check. */
final class QueryMix(ctx: Ctx) extends Workload(ctx) {
  private val rng = new Random(ctx.seed)
  private val dir = ctx.data.getPath
  private val module: Map[String, String] = SparkEntry.modules.flatMap { m =>
    m.defs.map(_._1 -> m.getClass.getSimpleName.stripSuffix("$"))
  }.toMap
  val names: IndexedSeq[String] = QueryMix.subset
  private var order: IndexedSeq[String] = names
  private var passTime = 0.0
  private val untracedPassTimes = mutable.ArrayBuffer.empty[Double]
  private val tracedPassTimes = mutable.ArrayBuffer.empty[Double]
  private val setupTimes = mutable.ArrayBuffer.empty[Double]
  private val moduleTimes = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val passModule = mutable.Map.empty[String, Double]
  private var share: Seq[String] = Nil

  override def warm(spark: SparkSession, round: Int): Unit = {
    share = names.indices.filter(_ % setupRounds == round).map(names)
    setupTimes += secs(share.foreach { n =>
      ctx.recorded(s"first_run_s/$n") = secs(noop(SparkEntry.queries(n)(spark, dir)))._2
    })._2
  }

  override def warmCheck(spark: SparkSession): Unit =
    share.foreach { n =>
      val fp = Check.fingerprint(SparkEntry.queries(n)(spark, dir))
      if (ctx.record) {
        ctx.recorded(s"queries/$n") = fp
        SparkEntry.oracleSql.get(n).foreach { sql =>
          // kept beside the record file for the DuckDB validation
          SparkEntry.queries(n)(spark, dir).write.mode("overwrite")
            .parquet(new File(ctx.recordDir, s"queries/$n").getPath)
          ctx.recorded(s"oracle/$n") = sql
        }
      } else ctx.check(ctx.expectedText("queries", n).contains(fp),
        s"query $n fingerprint $fp, want ${ctx.expectedText("queries", n)}")
    }

  override def boundary(i: Int): Boolean = i % names.size == 0

  override def op(spark: SparkSession, i: Int, traced: Boolean): OpResult = {
    if (i % names.size == 0) {
      order = rng.shuffle(names)
      passTime = 0.0
      passModule.clear()
    }
    val n = order(i % names.size)
    val (layers, s) =
      if (!traced) (Map.empty[String, Double], secs(noop(SparkEntry.queries(n)(spark, dir)))._2)
      else {
        val (df, build) = ctx.tracer.span(s"query.build:$n")(SparkEntry.queries(n)(spark, dir))
        val (_, plan) = ctx.tracer.span(s"query.plan:$n")(df.queryExecution.executedPlan)
        val (_, exec, m, _) = ctx.measured(spark, s"query.exec:$n")(noop(df))
        (m ++ Map("query.build_s" -> build.seconds, "query.plan_s" -> plan.seconds,
          "query.exec_s" -> exec.seconds), build.seconds + plan.seconds + exec.seconds)
      }
    passTime += s
    passModule(module(n)) = passModule.getOrElse(module(n), 0.0) + s
    if ((i + 1) % names.size == 0) {
      if (!traced) untracedPassTimes += passTime
      else {
        tracedPassTimes += passTime
        passModule.foreach { case (k, v) => moduleTimes.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v }
      }
    }
    OpResult(s, s, layers, n)
  }

  override def summary(spark: SparkSession): Map[String, Double] = {
    // noop write against .count() for every query: documents the break
    // from the count()-timed history (record mode only)
    if (ctx.record) ctx.recorded("noop_vs_count") = names.map { n =>
      val noopS = secs(noop(SparkEntry.queries(n)(spark, dir)))._2
      val countS = secs(SparkEntry.queries(n)(spark, dir).count())._2
      n -> Map("noop_s" -> noopS, "count_s" -> countS)
    }.toMap
    // the cold pass and the untraced warm passes do the same work
    moduleTimes.map { case (m, v) => s"query_mix.module.${m}_s" -> Stats.median(v.toSeq) }.toMap ++ Map(
      "query.cold_extra_s" -> (setupTimes.sum - Stats.median(untracedPassTimes.toSeq)),
      "query.pass_s" -> Stats.median(tracedPassTimes.toSeq))
  }

  override def report(ops: Seq[OpResult]): Map[String, Any] = {
    val lat = ops.map(_.latency)
    Map("query_s_p50" -> Stats.median(lat), "query_s_p90" -> Metrics.p90(lat),
      "query_pass_s" -> Stats.median(latencies(ops)))
  }

  /** One sample per pass: 19 different queries make a poor sample of
    * one latency distribution, a whole pass is the repeatable unit. */
  override def latencies(ops: Seq[OpResult]): Seq[Double] =
    ops.map(_.latency).grouped(names.size).filter(_.size == names.size).map(_.sum).toSeq
}

object QueryMix {
  /** The queries ROADMAP names (seven of the `SparkEntry.modules`). */
  val subset: IndexedSeq[String] = IndexedSeq("q_hits", "q_pagerank", "q_ema_decay",
    "q_weather_star_warehouse", "q_zorder_box", "q_ecdf_quality", "q_cdc_merge",
    "q_curation_funnel")
}
