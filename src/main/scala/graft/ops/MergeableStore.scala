package graft.ops

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DataType, StructType}

/** The one life cycle of every self-managed mergeable store (the
  * sketch, histogram, checksum, quantile, rollup and CDC maintainers
  * in `graft.streaming`, and [[DeleteLedger]]'s data versions): read
  * the published version, merge a batch into it, publish the result as
  * a NEW version, flip the pointer, collect the superseded versions.
  * A maintainer supplies only its cell shape (the `zero` store), its
  * combine expression and its idempotence guard.
  *
  * Layout under the store dir:
  *   - `_MANIFEST`   the pointer: the current version number, the read
  *                   schema and, for a partitioned store, its partition
  *                   columns and the version each live partition is
  *                   served from.
  *                   Replaced by tmp-file + ATOMIC_MOVE, so a reader sees
  *                   the old manifest or the new one, never a mix. The
  *                   leading underscore hides it from Spark's listing.
  *   - `data_v{N}/`  a whole-store version (immutable once published);
  *   - `<k=v/...>/data_v{N}/`  a partition's version, for stores whose
  *                   shape is partitioned (only the partitions a merge
  *                   touches are rewritten; the rest keep their dirs).
  *
  * Commit protocol (the `StarSink` manifest-last order): write the new
  * version dir, flip `_MANIFEST`, then delete every version dir the
  * manifest no longer names. A publish never writes a dir it read, so
  * no merge plan needs detaching before its write. Crash windows:
  *   - inside the write job, or after it but before the flip: the
  *     manifest still names the previous version; the half-written or
  *     orphan dir is never read and is deleted by the next publish
  *     (which reuses its version number);
  *   - after the flip, before the collection: the new version is
  *     served; the leftovers are collected by the next publish.
  * [[mergeTogether]] holds back the flips of merges that run together
  * until every one has written, so a failed merge moves none of them.
  * A replay of the same batch therefore always merges against a
  * complete version, and the maintainer's idempotence guard (a
  * `last_batch` stamp, a monotone sequence, or a ⊔-semilattice
  * combine) makes it converge.
  *
  * SINGLE WRITER per store, many readers — the contract of every
  * self-managed store here. Readers resolve the manifest once per
  * read; a reader holding an old version's files across a publish may
  * see them collected (the next read resolves the new version).
  */
object MergeableStore {

  private val ManifestName = "_MANIFEST"
  private val VersionPrefix = "data_v"
  private val StagePrefix = "_stage_v"

  /** A published version. `partitionBy` empty ⇔ whole-store shape;
    * otherwise `parts` maps each live partition path to its version.
    * `schema` is the read schema: the union of every schema published
    * so far (so an older era's files read a later column as null, the
    * `mergeSchema` semantics, without a footer job per read); for a
    * [[commitNext]] version, the schema it was written with. None only
    * in manifests written before schemas were recorded; those read
    * with `mergeSchema`. */
  private final case class Manifest(version: Long, partitionBy: Seq[String] = Nil,
      schema: Option[StructType] = None, parts: Map[String, Long] = Map.empty) {
    def render: String = (Seq(s"version $version") ++
      (if (partitionBy.isEmpty) Nil
       else Seq(s"partitionBy ${partitionBy.mkString(",")}")) ++
      schema.map(s => s"schema ${s.json}") ++
      parts.toSeq.sorted.map { case (p, v) => s"part $v $p" })
      .mkString("", "\n", "\n")
  }

  private def parse(text: String): Manifest =
    text.split("\n").filter(_.nonEmpty).foldLeft(Manifest(-1L)) { (m, line) =>
      val (key, rest) = line.span(_ != ' ')
      val value = rest.drop(1)
      key match {
        case "version" => m.copy(version = value.toLong)
        case "partitionBy" => m.copy(partitionBy = value.split(",").toSeq)
        case "schema" =>
          m.copy(schema = Some(DataType.fromJson(value).asInstanceOf[StructType]))
        case "part" =>
          val (v, p) = value.span(_ != ' ')
          m.copy(parts = m.parts + (p.drop(1) -> v.toLong))
        case other => sys.error(s"bad manifest line '$other' in store")
      }
    }

  /** The published manifest, or None before the first publish. */
  private def manifest(dir: String): Option[Manifest] = {
    val p = Paths.get(dir, ManifestName)
    if (Files.exists(p)) Some(parse(new String(Files.readAllBytes(p), UTF_8)))
    else None
  }

  /** Current version, or -1 before the first publish. */
  def version(dir: String): Long = manifest(dir).map(_.version).getOrElse(-1L)

  /** When the current version was published (the manifest's mtime) —
    * the store's freshness stamp. */
  def publishedAt(dir: String): Option[Long] = {
    val f = new File(dir, ManifestName)
    if (f.exists()) Some(f.lastModified()) else None
  }

  def versionDir(dir: String, v: Long): String = s"$dir/$VersionPrefix$v"

  /** The live data dir of a whole-shape store. */
  def liveDir(dir: String): String = versionDir(dir, version(dir))

  /** The live data dir of one partition (`hour=../event_type=..`). */
  def partitionDir(dir: String, part: String): Option[String] =
    manifest(dir).flatMap(_.parts.get(part)).map(v => versionDir(s"$dir/$part", v))

  /** The current version read with the manifest's schema, or None
    * before the first publish. */
  def readOption(spark: SparkSession, dir: String): Option[DataFrame] =
    manifest(dir).map(readVersion(spark, dir, _, _ => true))

  /** `m`'s version, restricted to the partitions `keep` admits (a
    * whole-shape store is read whole). */
  private def readVersion(spark: SparkSession, dir: String, m: Manifest,
      keep: String => Boolean): DataFrame =
    if (m.partitionBy.isEmpty)
      m.schema.fold(Fs.readStore(spark, versionDir(dir, m.version)))(
        spark.read.schema(_).parquet(versionDir(dir, m.version)))
    else {
      val dirs = m.parts.toSeq.sorted.collect {
        case (p, v) if keep(p) => versionDir(s"$dir/$p", v)
      }
      if (dirs.isEmpty) empty(spark, m.schema.get)
      else spark.read.schema(m.schema.get).option("basePath", dir).parquet(dirs: _*)
    }

  def read(spark: SparkSession, dir: String): DataFrame =
    readOption(spark, dir).getOrElse(
      throw new IllegalStateException(s"no published store version at $dir"))

  /** An empty frame of a store's cell shape — the `zero` of stores
    * whose empty state holds no rows. */
  def empty(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  def empty(spark: SparkSession, ddl: String): DataFrame =
    empty(spark, StructType.fromDDL(ddl))

  /** Read, merge, publish: `combine` folds a batch into the current
    * version (or into `zero`, the empty store, before the first
    * publish — so the first merge is the bootstrap) and returns the
    * frame to publish, or None when the idempotence guard finds the
    * batch already folded. */
  def merge(spark: SparkSession, dir: String, zero: => DataFrame)(
      combine: DataFrame => Option[DataFrame]): Unit =
    combine(readOption(spark, dir).getOrElse(zero)).foreach(publish(dir, _))

  /** [[merge]] for a partitioned shape: `combine` is handed only the
    * live partitions `touched` names (its distinct `partitionBy`
    * values — the batch's keys, collected to the driver), so a merge
    * reads and lists what its batch touches, never the store's whole
    * history; the frame it returns holds only those partitions. */
  def mergePartitions(spark: SparkSession, dir: String, zero: => DataFrame,
      partitionBy: Seq[String], touched: DataFrame)(
      combine: DataFrame => Option[DataFrame]): Unit = {
    val base = manifest(dir).map { m =>
      val keys = touched.select(partitionBy.map(c => col(c).cast("string")): _*)
        .distinct().collect().map { r =>
          partitionBy.indices.map { i =>
            ExternalCatalogUtils.getPartitionPathString(partitionBy(i),
              Option(r.getString(i)).getOrElse(ExternalCatalogUtils.DEFAULT_PARTITION_NAME))
          }.mkString("/")
        }.toSet
      readVersion(spark, dir, m, keys)
    }
    combine(base.getOrElse(zero)).foreach(publish(dir, _, partitionBy))
  }

  /** Publish `df` as the next version. Whole-store shape: `df` IS the
    * store. Partitioned shape: each partition present in `df` replaces
    * its live version, `dropped` partitions leave the store, every
    * other partition keeps its version untouched. */
  def publish(dir: String, df: DataFrame, partitionBy: Seq[String] = Nil,
      dropped: Set[String] = Set.empty): Long = {
    val cur = manifest(dir)
    require(cur.forall(_.partitionBy == partitionBy),
      s"store $dir is partitioned by ${cur.map(_.partitionBy)}, not $partitionBy")
    val next = cur.map(_.version).getOrElse(-1L) + 1
    val schema = unionSchema(cur.flatMap(_.schema), df.schema)
    val m =
      if (partitionBy.isEmpty) {
        writeVersion(dir, next)(df.write.parquet(_))
        Manifest(next, schema = Some(schema))
      } else {
        val stage = s"$dir/$StagePrefix$next"
        Fs.deleteRecursively(new File(stage))
        df.write.partitionBy(partitionBy: _*).parquet(stage)
        val written = leafDirs(new File(stage), partitionBy.size)
        written.foreach { p =>
          val target = new File(versionDir(s"$dir/$p", next))
          Fs.deleteRecursively(target)
          target.getParentFile.mkdirs()
          Files.move(Paths.get(stage, p), target.toPath, StandardCopyOption.ATOMIC_MOVE)
        }
        // Spark reads partition columns after the data columns
        val data = schema.filterNot(f => partitionBy.contains(f.name))
        Manifest(next, partitionBy,
          Some(StructType(data ++ partitionBy.map(c => schema(c)))),
          cur.map(_.parts).getOrElse(Map.empty) -- dropped ++ written.map(_ -> next))
      }
    val settle = () => { flip(dir, m); gc(dir) }
    Option(held.get()).fold(settle())(_ += settle)
    next
  }

  /** Write the next whole-store version through `write` (handed the
    * fresh dir, cleared of any crashed attempt's orphan) and flip the
    * pointer to it, recording `schema` (the written frame's) as the
    * read schema. Superseded versions stay — [[publish]] collects
    * them; [[DeleteLedger]] keeps them for time travel. */
  def commitNext(dir: String, schema: StructType)(write: String => Unit): Long = {
    val next = version(dir) + 1
    writeVersion(dir, next)(write)
    flip(dir, Manifest(next, schema = Some(unionSchema(None, schema))))
    next
  }

  private def writeVersion(dir: String, v: Long)(write: String => Unit): Unit = {
    val target = versionDir(dir, v)
    Fs.deleteRecursively(new File(target))
    write(target)
  }

  /** The pointer flips (and collections) [[mergeTogether]] holds back
    * for the task running on this thread; null outside one. */
  private val held = new ThreadLocal[mutable.ArrayBuffer[() => Unit]]

  /** Runs independent merges — each publishing its own store, at most
    * once — together ([[Concurrent.all]]), and flips their pointers
    * only after every merge has written its new version, in task
    * order. A failed merge therefore moves no store: the versions the
    * others wrote stay orphans that their next publish replaces. Only
    * a crash between two flips leaves a prefix of the stores moved,
    * which each store's idempotence guard converges on replay. */
  def mergeTogether(merges: (() => Unit)*): Unit = {
    val flips = merges.map(_ => mutable.ArrayBuffer.empty[() => Unit])
    Concurrent.all(merges.zip(flips).map { case (merge, f) =>
      () => {
        held.set(f)
        try merge() finally held.remove()
      }
    }: _*)
    flips.foreach(_.foreach(_()))
  }

  /** The published frame's schema, then every column only an earlier
    * version had (nullable: the newer files do not carry it). */
  private def unionSchema(prior: Option[StructType], now: StructType): StructType = {
    val fresh = StructType(now.map(_.copy(nullable = true)))
    StructType(fresh ++ prior.toSeq.flatten
      .filterNot(f => fresh.fieldNames.contains(f.name)))
  }

  private def flip(dir: String, m: Manifest): Unit = {
    new File(dir).mkdirs()
    val tmp = Paths.get(dir, s".$ManifestName.tmp")
    Files.write(tmp, m.render.getBytes(UTF_8))
    Files.move(tmp, Paths.get(dir, ManifestName),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  private def child(part: String, name: String) =
    if (part.isEmpty) name else s"$part/$name"

  /** Relative paths of the partition dirs `depth` levels below `root`. */
  private def leafDirs(root: File, depth: Int, part: String = ""): Seq[String] =
    if (depth == 0) Seq(part)
    else Option(root.listFiles()).toSeq.flatten
      .filter(c => c.isDirectory && c.getName.contains("="))
      .flatMap(c => leafDirs(c, depth - 1, child(part, c.getName)))

  /** Delete every stage and version dir the manifest does not name, and
    * every partition dir left with no live version. */
  private def gc(dir: String): Unit = manifest(dir).foreach { m =>
    def sweep(f: File, part: String, depth: Int): Unit =
      Option(f.listFiles()).toSeq.flatten.filter(_.isDirectory).foreach { c =>
        val n = c.getName
        val live = if (m.partitionBy.isEmpty) Some(m.version) else m.parts.get(part)
        if (n.startsWith(StagePrefix) ||
            (n.startsWith(VersionPrefix) && !live.exists(v => n == s"$VersionPrefix$v")))
          Fs.deleteRecursively(c)
        else if (depth > 0 && n.contains("=")) {
          sweep(c, child(part, n), depth - 1)
          if (Option(c.list()).forall(_.isEmpty)) c.delete()
        }
      }
    sweep(new File(dir), "", m.partitionBy.size)
  }

  /** The file-stream wiring every maintainer shares: one micro-batch
    * per arriving source file, AvailableNow (drain and exit), the
    * checkpoint at `checkpoint` (by convention the store's
    * `-__checkpoint` sibling). `schema` is the source files' row shape
    * as their writer produces it: declared by the caller, because
    * inferring it from the footers costs a job on every start.
    * `prepare` shapes the stream (e.g. a watermarked aggregation, with
    * `outputMode` "update"). */
  def stream(spark: SparkSession, sourceDir: String, schema: StructType,
      checkpoint: String, prepare: DataFrame => DataFrame = identity,
      outputMode: String = "append")(
      fold: (DataFrame, Long) => Unit): StreamingQuery =
    prepare(spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(sourceDir))
      .writeStream
      .outputMode(outputMode)
      .foreachBatch { (batch: DataFrame, id: Long) => fold(batch, id) }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
}
