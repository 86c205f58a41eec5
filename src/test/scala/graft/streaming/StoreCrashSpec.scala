package graft.streaming

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{FailingCommitProtocol, SparkSpec}
import graft.ops.{DeleteLedger, Fs, QuantileSketch}

/** Crash and release contract of every self-managed store, table-driven
  * over the eight maintainers on the [[graft.ops.MergeableStore]]
  * kernel, [[DeleteLedger]] compaction, and the composed
  * [[CurationPipeline]] epoch (the generalization of
  * CurationPipelineSpec's crash-at-every-stage harness to crashes
  * INSIDE each store write).
  *
  * Each store is prepared crash-free, then one batch is merged and
  * stopped at each write point:
  *   1. inside the write job — its tasks fail ([[FailingCommitProtocol]]);
  *   2. after the new version is written, before the pointer flips —
  *      the pointer's tmp path is blocked, so the flip throws and the
  *      written version is left as an orphan;
  *   3. after the flip, before superseded versions (or, for the delete
  *      ledger, the folded ledger) are deleted — every path the merge
  *      deleted is put back.
  * At each point the store must read as the previous version (1, 2) or
  * the new one (3), and a replay of the same batch must converge to
  * the crash-free store.
  */
class StoreCrashSpec extends SparkSpec {
  import spark.implicits._
  import StoreCrashSpec.StoreCase

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def ev(id: Long, typ: String, v: Double, t: String) =
    (id, 10L, typ, v, Timestamp.valueOf(t))
  private def events(es: (Long, Long, String, Double, Timestamp)*) =
    es.toDF("event_id", "user_id", "event_type", "value", "ts")

  private def keyed(ks: String*) = ks.map(k => (k.take(1), k)).toDF("g", "k")
  private def values(vs: Long*) = vs.map(v => (v, s"k$v")).toDF("v", "key")
  private def sketchRows(df: DataFrame) =
    df.select(col("v"), QuantileSketch.hash60(col("key")).as("h"))
  private def groupRows(df: DataFrame) =
    sketchRows(df).withColumn("g", (col("v") % 3).cast("string"))

  private val cdcKeys = Seq("k")
  private def cdcLog(rs: (Long, String, String, Long)*) =
    rs.toDF("k", "payload", "op", "seq")

  private def doc(id: Long, text: String) = (id, text)
  private def docs(rs: (Long, String)*) =
    rs.toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        concat(lit("s"), (col("doc_id") % 2).cast("string")).as("source"),
        length(col("text")).as("n_chars"))
  private val famA = ("the quick brown fox jumps over the lazy dog and then " +
    "the fox rests in the shade of a tall tree because it is tired ") * 3
  private val famB = ("a gentle river flows through the wide green valley " +
    "while the clear water shines under the warm morning sun and small " +
    "birds sing ") * 3

  private val cases: Seq[StoreCase] = Seq(
    StoreCase("HllMaintenance",
      d => {
        HllMaintenance.build(keyed("a1", "a2", "b1"), col("g"), col("k"), s"$d/store")
        HllMaintenance.mergeDelta(spark, s"$d/store", keyed("c1"), col("g"), col("k"), "b0")
      },
      d => HllMaintenance.mergeDelta(spark, s"$d/store", keyed("a3", "d1", "d2"),
        col("g"), col("k"), "b1"),
      d => rows(HllMaintenance.read(spark, s"$d/store"))),
    StoreCase("HistogramMaintenance",
      d => {
        HistogramMaintenance.build(values(1, 5, 12), col("v"), 0L, 10L, 8, s"$d/store")
        HistogramMaintenance.mergeDelta(spark, s"$d/store", values(33), col("v"),
          0L, 10L, 8, "b0")
      },
      d => HistogramMaintenance.mergeDelta(spark, s"$d/store", values(7, 44, 99),
        col("v"), 0L, 10L, 8, "b1"),
      d => rows(HistogramMaintenance.read(spark, s"$d/store"))),
    StoreCase("SketchMaintenance",
      d => {
        SketchMaintenance.build(values(1, 2, 2), col("key"), s"$d/store")
        SketchMaintenance.mergeDelta(spark, s"$d/store", values(3), col("key"), "b0")
      },
      d => SketchMaintenance.mergeDelta(spark, s"$d/store", values(2, 4, 4),
        col("key"), "b1"),
      d => rows(SketchMaintenance.read(spark, s"$d/store"))),
    StoreCase("QuantileMaintenance",
      d => {
        QuantileMaintenance.build(sketchRows(values(1L to 40L: _*)), s"$d/store", 8)
        QuantileMaintenance.mergeDelta(spark, s"$d/store",
          sketchRows(values(41L to 60L: _*)), "b0", 8)
      },
      d => QuantileMaintenance.mergeDelta(spark, s"$d/store",
        sketchRows(values(61L to 90L: _*)), "b1", 8),
      d => {
        val (sk, stamp) = QuantileMaintenance.readSketch(spark, s"$d/store", 8)
        Seq(s"$stamp ${sk.level} ${sk.total} ${sk.canonical}")
      }),
    StoreCase("ChecksumMaintenance",
      d => {
        ChecksumMaintenance.build(values(1, 2), Seq(col("v"), col("key")), s"$d/store")
        ChecksumMaintenance.mergeDelta(spark, s"$d/store", values(3),
          Seq(col("v"), col("key")), "b0")
      },
      d => ChecksumMaintenance.mergeDelta(spark, s"$d/store", values(4, 5),
        Seq(col("v"), col("key")), "b1"),
      d => rows(ChecksumMaintenance.read(spark, s"$d/store"))),
    StoreCase("GroupQuantileMaintenance",
      d => {
        GroupQuantileMaintenance.build(groupRows(values(1L to 30L: _*)), s"$d/store", 8)
        GroupQuantileMaintenance.mergeDelta(spark, s"$d/store",
          groupRows(values(31L to 50L: _*)), "b0", 8)
      },
      d => GroupQuantileMaintenance.mergeDelta(spark, s"$d/store",
        groupRows(values(51L to 80L: _*)), "b1", 8),
      d => {
        val (sks, stamp) = GroupQuantileMaintenance.readSketches(spark, s"$d/store", 8)
        stamp +: sks.toSeq.sortBy(_._1).map { case (g, sk) =>
          s"$g ${sk.level} ${sk.total} ${sk.canonical}" }
      }),
    StoreCase("RollupMaintenance",
      d => {
        RollupMaintenance.buildStore(events(
          ev(1, "click", 5.25, "2024-01-01 10:05:00"),
          ev(2, "view", 9.99, "2024-01-01 10:20:00"),
          ev(3, "view", 1.05, "2024-01-01 11:10:00")), s"$d/store")
        RollupMaintenance.mergeDelta(spark, s"$d/store", events(
          ev(4, "click", 2.20, "2024-01-01 12:50:00")), "b0")
      },
      d => RollupMaintenance.mergeDelta(spark, s"$d/store", events(
        ev(5, "click", 3.10, "2024-01-01 10:40:00"),
        ev(6, "view", 7.77, "2024-01-01 13:01:00")), "b1"),
      d => rows(RollupMaintenance.read(spark, s"$d/store"))),
    StoreCase("CdcMaintenance",
      d => {
        CdcMaintenance.buildStore(Seq((1L, "b1"), (2L, "b2"), (3L, "b3"), (6L, "b6"))
          .toDF("k", "payload"), cdcKeys, s"$d/store", 4)
        CdcMaintenance.mergeBatch(spark, s"$d/store",
          cdcLog((2L, "u2", "U", 1L), (3L, "", "D", 1L)), cdcKeys, 4)
      },
      d => CdcMaintenance.mergeBatch(spark, s"$d/store",
        cdcLog((3L, "u3", "U", 2L), (5L, "u5", "U", 2L), (6L, "", "D", 2L)), cdcKeys, 4),
      d => rows(CdcMaintenance.read(spark, s"$d/store", cdcKeys))),
    StoreCase("DeleteLedger compaction",
      d => {
        DeleteLedger.create(spark, s"$d/store",
          (0L until 40L).map(i => (i, s"row$i")).toDF("pk", "payload"))
        DeleteLedger.delete(spark, s"$d/store", (0L until 40L by 5).toDF("pk"), "b0")
        DeleteLedger.compact(spark, s"$d/store", "pk")
        DeleteLedger.delete(spark, s"$d/store", (1L until 40L by 3).toDF("pk"), "b1")
      },
      d => DeleteLedger.compact(spark, s"$d/store", "pk"),
      d => rows(DeleteLedger.read(spark, s"$d/store", "pk")) ++
        rows(DeleteLedger.readVersion(spark, s"$d/store",
          DeleteLedger.currentVersion(s"$d/store"))).map("data " + _)),
    StoreCase("CurationPipeline epoch (rollup store)",
      d => CurationPipeline.processBatch(spark,
        docs(doc(1L, famA), doc(2L, "short low quality")),
        CurationPipeline.Dirs(d), 0L),
      d => CurationPipeline.processBatch(spark, docs(doc(3L, famB)),
        CurationPipeline.Dirs(d), 1L),
      d => {
        val dirs = CurationPipeline.Dirs(d)
        rows(RollupMaintenance.read(spark, dirs.rollup)) ++
          rows(SketchMaintenance.read(spark, dirs.sketch).filter(col("c") > 0))
      },
      target = d => CurationPipeline.Dirs(d).rollup)
  )

  private def fresh(): String = Files.createTempDirectory("store_crash").toString

  /** `body` must throw, and the failure must be the injected one. */
  private def crashed(marker: String)(body: => Unit): Unit = {
    val e = intercept[Exception](body)
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => s"$t").mkString(" <- ")
    assert(chain.contains(marker), s"failed for another reason: $chain")
  }

  private def snapshot(dir: String): Path = {
    val snap = Files.createTempDirectory("store_snap")
    val src = new File(dir).toPath
    Files.walk(src).forEach { p =>
      val to = snap.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else Files.copy(p, to, StandardCopyOption.REPLACE_EXISTING)
    }
    snap
  }

  /** Put back every file of `snap` the merge deleted (the pointer
    * excepted): the state a crash right after the flip leaves. */
  private def restoreDeleted(snap: Path, dir: String): Unit = {
    val dst = new File(dir).toPath
    Files.walk(snap).filter(Files.isRegularFile(_)).forEach { p =>
      val to = dst.resolve(snap.relativize(p).toString)
      if (!Files.exists(to) && p.getFileName.toString != "_MANIFEST") {
        Files.createDirectories(to.getParent)
        Files.copy(p, to)
      }
    }
  }

  cases.foreach { c =>
    test(s"${c.name}: a crash at each write point reads as a whole version; replay converges") {
      val ref = fresh()
      c.prepare(ref)
      val before = c.state(ref)
      c.merge(ref)
      val after = c.state(ref)
      assert(before !== after, "the fixture batch must change the store")

      // 1. inside the write job
      val d1 = fresh()
      c.prepare(d1)
      crashed("injected write-task failure") {
        FailingCommitProtocol.failingWritesUnder(spark, c.target(d1))(c.merge(d1))
      }
      assert(c.state(d1) === before, "crash in the write job lost the store")
      c.merge(d1)
      assert(c.state(d1) === after, "replay after a write-job crash diverged")

      // 2. version written, pointer not flipped
      val d2 = fresh()
      c.prepare(d2)
      val block = new File(c.target(d2), "._MANIFEST.tmp")
      block.mkdirs()
      new File(block, "x").createNewFile()
      try crashed("_MANIFEST.tmp")(c.merge(d2))
      finally Fs.deleteRecursively(block)
      assert(c.state(d2) === before, "an unflipped version became visible")
      c.merge(d2)
      assert(c.state(d2) === after, "replay over an orphan version diverged")

      // 3. pointer flipped, superseded versions not yet deleted
      val d3 = fresh()
      c.prepare(d3)
      val snap = snapshot(c.target(d3))
      c.merge(d3)
      restoreDeleted(snap, c.target(d3))
      Fs.deleteRecursively(snap.toFile)
      assert(c.state(d3) === after, "the flipped version is not the one served")
      c.merge(d3)
      assert(c.state(d3) === after, "replay after the flip diverged")
    }
  }

  cases.filterNot(_.name.startsWith("CurationPipeline")).foreach { c =>
    test(s"${c.name}: a merge leaves no persisted RDD behind") {
      val d = fresh()
      c.prepare(d)
      val sc = spark.sparkContext
      val baseline = sc.getPersistentRDDs.keySet
      c.merge(d)
      val leaked = sc.getPersistentRDDs.keySet -- baseline
      assert(leaked.isEmpty, s"merge left persisted RDDs ${leaked.mkString(",")}")
    }
  }
}

object StoreCrashSpec {

  /** One store under the harness. `prepare` builds it and folds the
    * setup batches; `merge` folds batch "b1" (the batch that crashes
    * and replays); `state` reads it back in a canonical form;
    * `target` is the store dir the crash hits. */
  final case class StoreCase(name: String, prepare: String => Unit,
      merge: String => Unit, state: String => Seq[String],
      target: String => String = dir => s"$dir/store")
}
