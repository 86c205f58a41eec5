package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** ANALYZE-style table statistics, and the planning decision they
  * exist to drive: choosing the broadcast side of a join from
  * MEASURED row counts instead of hoping the cost model's file-size
  * estimate survives filters and projections.
  *
  * At 100 TB a wrong broadcast decision is an OOM (hinting the big
  * side) or a needless terabyte shuffle (hinting nothing); Spark's
  * own `spark.sql.autoBroadcastJoinThreshold` works off scan-size
  * estimates that go stale the moment a selective filter intervenes.
  * The pattern here is the warehouse-standard fix: ANALYZE once —
  * ONE conditional-aggregation pass per table, the
  * [[graft.ops.QualityChecks]] shape — persist the stats beside the
  * data, and let joins consult them.
  */
object TableStats {

  /** Column statistics in ONE pass: per column — non-null count,
    * approximate NDV (HLL++; exact would pay a shuffle per column),
    * min/max as strings (type-erased for a uniform schema). Row
    * count rides along. Output: one row per column. */
  def collect(df: DataFrame): DataFrame = {
    val cols = df.columns.toSeq
    // backtick-quote every dynamic name: a legal column like `user.id`
    // would otherwise parse as struct-field access and fail resolution
    // (an ANALYZE utility must take schemas as they come)
    def q(c: String) = col(s"`$c`")
    val aggs: Seq[Column] =
      count(lit(1)).as("n_rows") +:
        cols.flatMap { c =>
          Seq(count(q(c)).as(s"nn_$c"),
            approx_count_distinct(q(c)).as(s"ndv_$c"),
            min(q(c)).cast("string").as(s"min_$c"),
            max(q(c)).cast("string").as(s"max_$c"))
        }
    val one = df.agg(aggs.head, aggs.tail: _*)
    // melt the single wide row to (column, n_rows, n_nonnull, ndv, min, max)
    val stacked = cols.map { c =>
      struct(lit(c).as("column"), col("n_rows"),
        q(s"nn_$c").as("n_nonnull"), q(s"ndv_$c").as("ndv"),
        q(s"min_$c").as("min_s"), q(s"max_$c").as("max_s"))
    }
    one.select(explode(array(stacked: _*)).as("s")).select("s.*")
  }

  /** The row shape [[collect]] produces, whatever the table. */
  val Schema: StructType = StructType.fromDDL("column string, n_rows bigint, " +
    "n_nonnull bigint, ndv bigint, min_s string, max_s string")

  def write(df: DataFrame, dir: String): Unit =
    collect(df).coalesce(1).write.mode(SaveMode.Overwrite).parquet(dir)

  /** Stats written by [[write]], read with their fixed [[Schema]] (no
    * footer job to infer it). */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(Schema).parquet(dir)

  /** Measured row count from a stats frame (same for every column row). */
  def rowCount(stats: DataFrame): Long =
    stats.select(max(col("n_rows"))).head().getLong(0)

  /** Equi-join with the broadcast side chosen from MEASURED stats:
    * the smaller side is hinted iff its measured row count clears
    * `maxBroadcastRows`; otherwise no hint is planted and the cost
    * model picks a shuffle join — the graceful-degradation posture
    * (a frozen hint on a growing table eventually OOMs the driver;
    * a stats-gated hint stops broadcasting when the data outgrows
    * it). Stats rows are bounded (one per column) — the `.head()`
    * reads are the documented sketch-row class. */
  def statsJoin(left: DataFrame, leftStats: DataFrame,
      right: DataFrame, rightStats: DataFrame,
      on: Seq[String], maxBroadcastRows: Long = 1000000L): DataFrame = {
    val (ln, rn) = (rowCount(leftStats), rowCount(rightStats))
    if (rn <= ln && rn <= maxBroadcastRows) left.join(broadcast(right), on)
    else if (ln < rn && ln <= maxBroadcastRows) broadcast(left).join(right, on)
    else left.join(right, on)
  }

  // -----------------------------------------------------------------
  // Cost-based MULTI-join ordering: [[statsJoin]] picks the broadcast
  // side of ONE join from measured counts; a 3+ table query written
  // in a bad order still joins big-with-big first, and at 100 TB a
  // bad user-written order is a full-fact shuffle that stats already
  // on disk could avoid. statsMultiJoin is the System-R answer at the
  // library level: greedy left-deep ordering from MEASURED row counts
  // + HLL NDVs (the Selinger '79 containment estimate,
  // |A ⋈ B| ≈ |A||B| / max(ndv_A(k), ndv_B(k)) ), with every step's
  // broadcast decision gated on the joining side's measured size.
  // Inner equi-joins are freely reorderable, so any order returns the
  // same rows — the estimates steer only COST (q_join_reorder's
  // oracle replays the join in the written order as the proof).
  // -----------------------------------------------------------------

  /** One relation in a multi-join: its frame and its [[collect]]
    * stats — computed on the SAME frame, filters already applied, so
    * counts are EFFECTIVE sizes (the thing Spark's file-size cost
    * model loses the moment a selective filter intervenes). Column
    * names must be distinct across the joined relations (the TPC-H
    * prefix convention). */
  final case class Rel(name: String, df: DataFrame, stats: DataFrame)

  /** Equi-join edge between two named relations, as (aCol, bCol)
    * key pairs. */
  final case class JoinEdge(a: String, b: String, keys: Seq[(String, String)])

  /** The greedy order (for specs/monitoring) plus the joined frame.
    * Starts from the cheapest-estimated edge, then repeatedly joins
    * the connected relation minimizing the estimated intermediate
    * size. A relation the edge graph never connects to the running
    * composite is a require-failure — a silent cross join at 100 TB
    * is never what anyone wanted. */
  def statsMultiJoinOrdered(rels: Seq[Rel], edges: Seq[JoinEdge],
      maxBroadcastRows: Long = 1000000L): (DataFrame, Seq[String]) = {
    require(rels.size >= 2, "need at least two relations")
    val byName = rels.map(r => r.name -> r).toMap
    require(byName.size == rels.size, "duplicate relation names")
    edges.foreach { e =>
      require(byName.contains(e.a) && byName.contains(e.b) && e.keys.nonEmpty,
        s"edge $e references unknown relations or has no keys")
    }
    // driver-side measured stats: rows + per-column NDV (stats frames
    // are column-count-sized — the bounded sketch-row class)
    def measured(r: Rel): (Long, Map[String, Long]) = {
      val rows = r.stats.collect()
      val n = rows.map(_.getAs[Long]("n_rows")).max
      (n, rows.map(x => x.getAs[String]("column") -> x.getAs[Long]("ndv")).toMap)
    }
    // the per-relation ANALYZE jobs are independent — submit them
    // together so the small stats scans back-fill each other's
    // stragglers instead of running strictly one after another
    val m: Map[String, (Long, Map[String, Long])] =
      rels.map(_.name).zip(Concurrent.all(rels.map(r => () => measured(r)): _*)).toMap

    // Selinger containment estimate for joining a composite (estRows,
    // ndvs) with relation `b` over `keys`; every key pair divides
    // (independence), floored at 1
    def est(aRows: Double, aNdv: Map[String, Long], b: String,
        keys: Seq[(String, String)]): Double = {
      val (bRows, bNdv) = m(b)
      keys.foldLeft(aRows * bRows) { case (acc, (ka, kb)) =>
        val d = math.max(aNdv.getOrElse(ka, 1L), bNdv.getOrElse(kb, 1L))
        math.max(acc / math.max(d, 1L), 1.0)
      }
    }

    // connecting key pairs between the joined set and a candidate,
    // oriented (joinedCol, candidateCol)
    def connecting(joined: Set[String], cand: String): Seq[(String, String)] =
      edges.flatMap {
        case JoinEdge(a, b, ks) if joined.contains(a) && b == cand => ks
        case JoinEdge(a, b, ks) if joined.contains(b) && a == cand =>
          ks.map(_.swap)
        case _ => Nil
      }

    // seed: the cheapest-estimated single edge
    val seed = edges.minBy { e =>
      val (aRows, aNdv) = m(e.a)
      est(aRows.toDouble, aNdv, e.b, e.keys)
    }
    def bcast(name: String, df: DataFrame): DataFrame =
      if (m(name)._1 <= maxBroadcastRows) broadcast(df) else df
    val (seedSmall, seedBig) =
      if (m(seed.a)._1 <= m(seed.b)._1) (seed.a, seed.b) else (seed.b, seed.a)

    var joinedNames = Set(seed.a, seed.b)
    var order = Vector(seedBig, seedSmall)
    var df = byName(seedBig).df.join(bcast(seedSmall, byName(seedSmall).df),
      seed.keys.map { case (ka, kb) => col(ka) === col(kb) }.reduce(_ && _))
    var curRows = est(m(seed.a)._1.toDouble, m(seed.a)._2, seed.b, seed.keys)
    var curNdv: Map[String, Long] =
      (m(seed.a)._2 ++ m(seed.b)._2).view
        .mapValues(v => math.min(v, math.max(curRows.toLong, 1L))).toMap

    while (joinedNames.size < rels.size) {
      val candidates = rels.map(_.name).filterNot(joinedNames.contains)
        .flatMap { c =>
          val ks = connecting(joinedNames, c)
          if (ks.isEmpty) None else Some((c, ks, est(curRows, curNdv, c, ks)))
        }
      require(candidates.nonEmpty,
        s"join graph disconnects ${rels.map(_.name).filterNot(joinedNames)} " +
          s"from ${joinedNames.mkString(",")} — refusing a cross join")
      val (next, ks, nextRows) = candidates.minBy(_._3)
      df = df.join(bcast(next, byName(next).df),
        ks.map { case (ka, kb) => col(ka) === col(kb) }.reduce(_ && _))
      joinedNames += next
      order :+= next
      curRows = nextRows
      curNdv = (curNdv ++ m(next)._2).view
        .mapValues(v => math.min(v, math.max(curRows.toLong, 1L))).toMap
    }
    (df, order.toSeq)
  }

  /** Inner equi-join of 3+ relations in a measured-cost order — see
    * [[statsMultiJoinOrdered]]. */
  def statsMultiJoin(rels: Seq[Rel], edges: Seq[JoinEdge],
      maxBroadcastRows: Long = 1000000L): DataFrame =
    statsMultiJoinOrdered(rels, edges, maxBroadcastRows)._1
}
