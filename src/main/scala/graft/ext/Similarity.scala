package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, QueryModule, Tables}

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * All math is done in DOUBLE with a strict left-to-right fold so the
  * DuckDB oracle (`list_inner_product` over `DOUBLE[]`) reproduces the
  * result bit-for-bit.
  *
  * Scale design: brute-force top-k is the correctness baseline — a
  * broadcast of the (small) query set against a partitioned scan of the
  * corpus: no shuffle of the corpus, partial top-k per partition via
  * window ranking. Every approximate path (IVF, hyperplane LSH, SQ8)
  * and the near-dup operator turn candidate generation into a bucketed
  * EQUI-JOIN — no per-query corpus scan, no all-pairs join anywhere.
  */
object VectorFunctions {

  /** array<float> -> array<double> (all similarity math in double). */
  def asDouble(a: Column): Column = a.cast("array<double>")

  /** Sequential-fold dot product — native expression
    * ([[graft.functions.DotProduct]]): identical multiply-add chain to
    * the `aggregate(zip_with(...))` HOF and DuckDB's
    * `list_inner_product`, one JIT'd loop instead of interpreted
    * lambdas (the hot kernel of every similarity operator). */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dotProduct(a, b)

  /** Cosine similarity: dot(a,b) / sqrt(dot(a,a) * dot(b,b)). */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / sqrt(dot(a, a) * dot(b, b))
}

/** Shared machinery for the hyperplane-LSH family and IVF training —
  * every construction is corpus-derived and expression-exact so the
  * DuckDB oracle can replay it (a seeded RNG would not be reproducible
  * in SQL).
  */
object Similarity {
  import VectorFunctions._

  /** Bucket-id XOR deltas reaching every 8-bit bucket within Hamming
    * distance `radius` (radius 1 → 9 deltas, radius 2 → 37). */
  def hammingDeltas(radius: Int): Seq[Long] =
    (0 until 256).filter(m => Integer.bitCount(m) <= radius).map(_.toLong)

  /** The default probe set: Hamming ≤ 2 — identity, all single flips,
    * all pairs (1+8+28). */
  val hamming2Deltas: Seq[Long] = hammingDeltas(2)

  /** Number of independent 8-plane LSH tables for the OR-amplified ANN
    * path (recall ≈ 1-(1-r)^L for per-table recall r). */
  val LshTables = 4

  /** Plane source pairs: table `t` pairs pool vector `i` with
    * `i XOR (t+1)` — four disjoint perfect matchings of pool vectors
    * 0..15, so each table's 8 difference planes use all 16 pool
    * vectors exactly once and no plane repeats across tables. Table 0
    * (XOR 1) is the classic (2p, 2p+1) pairing. Returns
    * (table, planeBit, loVecId, hiVecId). */
  def planePairs(tables: Int): Seq[(Int, Int, Int, Int)] = {
    // c = t+1 must stay within the 16-vector pool's XOR group: c >= 16
    // would pair pool vectors with corpus vectors 16..31 and emit >8
    // plane bits per table — outside hammingDeltas' 8-bit probe space,
    // silently collapsing recall. Fail fast instead.
    require(tables >= 1 && tables <= 15, s"tables must be 1..15, got $tables")
    for {
      t <- 0 until tables
      c = t + 1
      (i, j) <- (0 until 16).filter(i => i < (i ^ c)).zipWithIndex
    } yield (t, j, i, i ^ c)
  }

  /** `tables`×8 corpus-derived hyperplanes: differences of fixed pool
    * vector pairs (deterministic, SQL-replayable). Output:
    * (tbl, pair, h). A pool vector filtered out upstream (zero norm)
    * silently drops its pair on BOTH engines — consistent. */
  def hyperplanes(spark: SparkSession, emb: DataFrame, tables: Int): DataFrame = {
    import spark.implicits._
    val pairs = planePairs(tables).toDF("tbl", "pair", "lo", "hi")
    pairs
      .join(emb.select(col("vec_id").as("lo"), col("v").as("v_lo")), "lo")
      .join(emb.select(col("vec_id").as("hi"), col("v").as("v_hi")), "hi")
      .select(col("tbl"), col("pair"),
        zip_with(col("v_lo"), col("v_hi"), (x, y) => x - y).as("h"))
  }

  /** Append per-table sign buckets to `df` (must carry a `v` vector
    * column): bucket = Σ 2^j · [dot(v, h_j) ≥ 0]. One broadcast
    * nested-loop over the ≤32 plane rows, then a map-side-combined
    * aggregation — the signature pass is narrow. Output: every input
    * column + (tbl, bucket), one row per (input row, table). */
  def signBuckets(df: DataFrame, planes: DataFrame): DataFrame = {
    val keyCols = df.columns.map(col).toSeq
    df.join(broadcast(planes))
      .withColumn("bit",
        when(dot(col("v"), col("h")) >= 0,
          pow(lit(2.0), col("pair").cast("double")).cast("long"))
          .otherwise(0L))
      .groupBy((keyCols :+ col("tbl")): _*)
      .agg(sum(col("bit")).as("bucket"))
  }

  /** DuckDB CTE fragment mirroring [[hyperplanes]] + [[signBuckets]]:
    * defines `plane_pairs`, `plane_vecs` (over CTE `emb`) and `signed`
    * (over CTE `srcCte`, grouped by vec_id + `extraKeys` + tbl). */
  def lshSql(tables: Int, srcCte: String, extraKeys: Seq[String]): String = {
    val vals = planePairs(tables)
      .map { case (t, j, lo, hi) => s"($t,$j,$lo,$hi)" }.mkString(",")
    val keySel = extraKeys.map(k => s"e.$k, ").mkString
    val keyGrp = extraKeys.map(k => s", e.$k").mkString
    s"""plane_pairs AS (
       |  SELECT * FROM (VALUES $vals) AS pp(tbl, pair, lo, hi)),
       |plane_vecs AS (
       |  SELECT pp.tbl, pp.pair,
       |    list_transform(range(1, len(a.v) + 1), i -> a.v[i] - b.v[i]) AS h
       |  FROM plane_pairs pp
       |  JOIN emb a ON a.vec_id = pp.lo
       |  JOIN emb b ON b.vec_id = pp.hi),
       |signed AS (
       |  SELECT e.vec_id, ${keySel}ANY_VALUE(e.v) AS v, p.tbl,
       |    SUM(CASE WHEN list_inner_product(e.v, p.h) >= 0
       |             THEN CAST(power(2.0, p.pair) AS BIGINT) ELSE 0 END) AS bucket
       |  FROM $srcCte e CROSS JOIN plane_vecs p
       |  GROUP BY e.vec_id$keyGrp, p.tbl)""".stripMargin
  }

  /** Lloyd-trained IVF centroids (`iters` k-means rounds from the
    * deterministic "first 16 vectors" seed). Each round is ONE
    * distributed pass, 100 TB-shaped:
    *   - assign: centroids are driver-local between rounds (≤nlist
    *     rows × d doubles — the same bounded-sketch class as
    *     [[graft.ops.ScaleJoins.hotKeys]], and exactly what MLlib
    *     k-means keeps on the driver), so the argmax is a NARROW
    *     literal expression per row — `array_max` over nlist
    *     (sim, -c_id, c_id) structs: no join, no shuffle, and the
    *     (sim desc, c_id asc) tie-break matches the query-side
    *     ROW_NUMBER formulation;
    *   - recenter: posexplode to (cluster, pos) cells, LONG-sum of the
    *     1e-6-quantized components — an exact, order-independent,
    *     partition-count-invariant accumulation (a double sum would be
    *     order-dependent and could not hash-match DuckDB), then the
    *     mean in double.
    * Empty clusters drop (fewer centroids next round) on both engines.
    * Output: (c_id, c_v). */
  def trainedCentroids(emb: DataFrame, iters: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    trainedCentroidSeq(emb, iters).toDF("c_id", "c_v")
  }

  /** [[trainedCentroids]] as driver data (nlist×d doubles — the
    * bounded class): the memoizable unit for train-once reuse. */
  def trainedCentroidSeq(emb: DataFrame, iters: Int): Seq[(Long, Seq[Double])] = {
    val spark = emb.sparkSession
    import spark.implicits._
    var cent: Seq[(Long, Seq[Double])] = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("c_id"), col("v").as("c_v"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    for (_ <- 0 until iters) {
      val simStructs = cent.map { case (cid, cv) =>
        struct(cosine(col("v"), array(cv.map(lit): _*)).as("s"),
          lit(-cid).as("nc"), lit(cid).as("c"))
      }
      // one shuffle per round: the (cluster, pos) partial sums ARE the
      // 100 TB -> nlist×d reduction; the ≤nlist×d summary rows finish
      // as driver arithmetic (identical IEEE ops to a Column formula)
      val cells = emb
        .withColumn("c_id", array_max(array(simStructs: _*)).getField("c"))
        .select(col("c_id"), posexplode(col("v")).as(Seq("pos", "x")))
        .withColumn("qx", floor(col("x") * lit(1000000.0) + lit(0.5)))
        .groupBy(col("c_id"), col("pos"))
        .agg(sum(col("qx")).as("s"), count(lit(1)).as("n"))
        .as[(Long, Int, Long, Long)].collect()
      cent = cells.groupBy(_._1).toSeq.sortBy(_._1).map { case (cid, cs) =>
        (cid, cs.sortBy(_._2).map { case (_, _, s, n) =>
          s.toDouble / (1000000.0 * n.toDouble) }.toSeq)
      }
    }
    cent
  }

  /** Codeword-ranking score: squared L2 WITHOUT the dot(v,v) term —
    * constant across the codewords an argmin compares, so dropping it
    * changes no assignment but removes a d-wide fold per codeword from
    * the (already large) encode expression. What remains is
    * dot(c,c) - 2·dot(v,c): dot(c,c) constant-folds at plan time,
    * leaving ONE sequential-fold dot per codeword — the identical IEEE
    * op chain as DuckDB's list_inner_product formulation (PQ ranks by
    * L2, not cosine — a zero subvector has no cosine but a perfectly
    * good L2). */
  private def l2score(vs: Column, cv: Seq[Double]): Column = {
    val cvLit = array(cv.map(lit): _*)
    dot(cvLit, cvLit) - lit(2.0) * dot(vs, cvLit)
  }

  /** Argmin codeword id for one KNOWN subspace: `array_min` over
    * (d², c_id) structs — lexicographic struct order = (d² asc, c_id
    * asc), the same tie-break as the oracle's ROW_NUMBER. Narrow:
    * k literal codewords per row, no join. */
  def pqAssignFor(codebook: Seq[(Long, Seq[Double])], vs: Column): Column =
    array_min(array(codebook.map { case (cid, cv) =>
      struct(l2score(vs, cv).as("d"), lit(cid).as("c"))
    }: _*)).getField("c")

  /** Argmin codeword when the subspace is a COLUMN (training pass):
    * a when-chain over the m subspaces, each branch the same
    * [[pqAssignFor]] expression. m is small (4 here), so the chain
    * stays codegen-friendly. */
  def pqAssign(cents: Seq[(Int, Long, Seq[Double])], s: Column, vs: Column): Column =
    cents.groupBy(_._1).toSeq.sortBy(_._1)
      .foldLeft(lit(null).cast("long")) { case (acc, (sv, cs)) =>
        when(s === sv,
          pqAssignFor(cs.sortBy(_._2).map(t => (t._2, t._3)), vs))
          .otherwise(acc)
      }

  /** Product-quantization codebooks: the vector space splits into `m`
    * `subDim`-wide subspaces, each with its own 16-codeword k-means
    * codebook (seed: the first 16 subvectors, then `iters` Lloyd
    * rounds) — trained JOINTLY in one distributed pass per round: the
    * subspace id `s` rides in the aggregation key (groupBy (s, c_id,
    * pos)), so m trainings cost one shuffle, not m. Assignment uses L2
    * (see [[l2sq]]); recentering reuses the exact 1e-6-quantized
    * LONG-sum from [[trainedCentroids]] so any engine replays it.
    * Driver state is ≤ m·16 codewords — the bounded-sketch budget.
    * Returns (s, c_id, codeword), driver-local. */
  def pqCodebooks(emb: DataFrame, m: Int, subDim: Int, iters: Int): Seq[(Int, Long, Seq[Double])] = {
    val spark = emb.sparkSession
    import spark.implicits._
    val sub = emb
      .select(col("vec_id"), explode(sequence(lit(0), lit(m - 1))).as("s"), col("v"))
      .select(col("vec_id"), col("s"),
        slice(col("v"), col("s") * subDim + 1, lit(subDim)).as("vs"))
    var cents: Seq[(Int, Long, Seq[Double])] = sub.filter(col("vec_id") < 16)
      .select(col("s"), col("vec_id").as("c_id"), col("vs"))
      .as[(Int, Long, Seq[Double])].collect().sortBy(t => (t._1, t._2)).toSeq
    for (_ <- 0 until iters) {
      val cells = sub
        .withColumn("c_id", pqAssign(cents, col("s"), col("vs")))
        .select(col("s"), col("c_id"), posexplode(col("vs")).as(Seq("pos", "x")))
        .withColumn("qx", floor(col("x") * lit(1000000.0) + lit(0.5)))
        .groupBy("s", "c_id", "pos")
        .agg(sum(col("qx")).as("sm"), count(lit(1)).as("n"))
        .as[(Int, Long, Int, Long, Long)].collect()
      cents = cells.groupBy(t => (t._1, t._2)).toSeq.sortBy(_._1).map {
        case ((s, cid), cs) =>
          (s, cid, cs.sortBy(_._3).map { case (_, _, _, sm, n) =>
            sm.toDouble / (1000000.0 * n.toDouble) }.toSeq)
      }
    }
    cents
  }

  /** ADC lookup columns from a computed LUT frame: the ≤ q×m×16
    * query-to-codeword dot products run as ONE Spark job, collect to
    * the driver (the bounded-sketch class — this is the LUT every PQ
    * implementation keeps register/cache-resident), and re-enter the
    * plan as dense per-subspace literal arrays indexed by
    * q_id·16 + code. Each ADC term is then an O(1) codegen'd
    * element_at — replacing m broadcast hash joins whose build sides
    * each re-planned the LUT subtree (measured: the join chain, not
    * the data, dominated q_ann_pq's runtime). The values are the SAME
    * collected doubles the joins produced, summed in the same fixed
    * order, so oracle hash-parity is untouched. */
  def adcLookups(lutAll: DataFrame, m: Int, maxQ: Int,
      k: Int = 16): Int => Column = {
    val spark = lutAll.sparkSession
    import spark.implicits._
    val rows = lutAll.as[(Long, Int, Long, Double)].collect()
    val arrays = (0 until m).map { s =>
      val vals = Array.fill(maxQ * k)(0.0)
      rows.filter(_._2 == s).foreach { case (q, _, c, l) =>
        // fail LOUDLY at plan-build time: an out-of-range query or
        // codeword id written as a silent 0.0 slot would corrupt the
        // ADC ranking quietly (the old per-subspace inner join at
        // least DROPPED such rows visibly)
        require(q >= 0 && q < maxQ && c >= 0 && c < k,
          s"LUT entry (q=$q, c=$c) outside ${maxQ}x$k layout")
        vals(q.toInt * k + c.toInt) = l
      }
      typedLit(vals.toSeq)
    }
    s => element_at(arrays(s),
      (col("q_id") * k + col(s"k$s") + 1).cast("int"))
  }

  /** DuckDB CTE chain mirroring [[pqCodebooks]] (+ the corpus `codes`):
    * `sub`, `pcent0`, one assign/recenter round per iter, and `codes`
    * — the final per-(vector, subspace) codeword assignment. */
  def pqSql(m: Int, subDim: Int, iters: Int): String = {
    // mirrors l2score: dot(v,v) dropped (argmin-invariant), dot(c,c)
    // leads so the (fold, subtract) op order matches Spark's
    def d2(vs: String, cv: String) =
      s"list_inner_product($cv, $cv) - 2.0 * list_inner_product($vs, $cv)"
    val rounds = (0 until iters).map { k =>
      s"""passign$k AS (
         |  SELECT vec_id, s, vs, c_id FROM (
         |    SELECT sub.vec_id, sub.s, sub.vs, c.c_id,
         |      ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.s
         |        ORDER BY ${d2("sub.vs", "c.c_v")}, c.c_id) AS rn
         |    FROM sub JOIN pcent$k c ON c.s = sub.s)
         |  WHERE rn = 1),
         |pcent${k + 1} AS (
         |  SELECT s, c_id, list(mn ORDER BY pos) AS c_v FROM (
         |    SELECT s, c_id, pos,
         |      CAST(SUM(CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
         |        / (1000000.0 * COUNT(*)) AS mn
         |    FROM (
         |      SELECT s, c_id, unnest(range(1, len(vs) + 1)) AS pos,
         |             unnest(vs) AS x
         |      FROM passign$k)
         |    GROUP BY s, c_id, pos)
         |  GROUP BY s, c_id)""".stripMargin
    }
    (s"""sub AS (
        |  SELECT vec_id, ss.s, v[ss.s * $subDim + 1 : ss.s * $subDim + $subDim] AS vs
        |  FROM emb, (SELECT unnest(range(0, $m)) AS s) ss),
        |pcent0 AS (
        |  SELECT s, vec_id AS c_id, vs AS c_v FROM sub WHERE vec_id < 16)""".stripMargin
      +: rounds
      :+ s"""codes AS (
            |  SELECT vec_id, s, c_id AS k FROM (
            |    SELECT sub.vec_id, sub.s, c.c_id,
            |      ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.s
            |        ORDER BY ${d2("sub.vs", "c.c_v")}, c.c_id) AS rn
            |    FROM sub JOIN pcent$iters c ON c.s = sub.s)
            |  WHERE rn = 1)""".stripMargin).mkString(",\n")
  }

  /** DuckDB CTE chain for the ADC scoring stage over [[pqSql]]'s
    * `codes`/`pcent$iters`: `lut` (query×codeword dot products) and
    * `adc` — ONE linear join (codes × queries ⨝ lut) grouped per
    * (query, candidate), with the m per-subspace lookups summed via
    * `list_reduce(list(l ORDER BY s), ..)` — explicitly left-to-right,
    * matching Spark's `l0 + l1 + ... + l7` column sum bit-for-bit.
    * (An earlier m-way self-join shape let DuckDB's join-order
    * enumerator cross the tiny per-subspace `lut` relations on `q_id`
    * alone — 16^m rows per query id; see [[SimilarityQueries]]'
    * ivfPqOracleSql note. The linear shape makes that unpickable.) */
  def pqAdcSql(m: Int, subDim: Int, iters: Int): String = {
    s"""lut AS (
       |  SELECT q.vec_id AS q_id, c.s, c.c_id,
       |    list_inner_product(
       |      q.v[c.s * $subDim + 1 : c.s * $subDim + $subDim], c.c_v) AS l
       |  FROM emb q JOIN pcent$iters c ON q.vec_id < 20),
       |adc AS (
       |  SELECT q_id, n_id,
       |    list_reduce(list(l ORDER BY s), (a, b) -> a + b) AS adc
       |  FROM (
       |    SELECT q.q_id, c.vec_id AS n_id, c.s, lu.l
       |    FROM codes c
       |    CROSS JOIN (SELECT vec_id AS q_id FROM emb WHERE vec_id < 20) q
       |    JOIN lut lu ON lu.q_id = q.q_id AND lu.s = c.s AND lu.c_id = c.k
       |    WHERE c.vec_id != q.q_id)
       |  GROUP BY q_id, n_id)""".stripMargin
  }

  /** DuckDB CTE chain mirroring [[trainedCentroids]]: `cent0` ..
    * `cent$iters` (use `cent$iters` as the trained set). The paired
    * `unnest(range(..))`/`unnest(v)` zip positionally = posexplode. */
  def lloydSql(iters: Int, cosSql: (String, String) => String): String = {
    val steps = (0 until iters).map { k =>
      s"""assign$k AS (
         |  SELECT vec_id, v, c_id FROM (
         |    SELECT e.vec_id, e.v, c.c_id,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosSql("e.v", "c.c_v")} DESC, c.c_id) AS rn
         |    FROM emb e CROSS JOIN cent$k c)
         |  WHERE rn = 1),
         |cent${k + 1} AS (
         |  SELECT c_id, list(m ORDER BY pos) AS c_v FROM (
         |    SELECT c_id, pos,
         |      CAST(SUM(CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
         |        / (1000000.0 * COUNT(*)) AS m
         |    FROM (
         |      SELECT c_id, unnest(range(1, len(v) + 1)) AS pos, unnest(v) AS x
         |      FROM assign$k)
         |    GROUP BY c_id, pos)
         |  GROUP BY c_id)""".stripMargin
    }
    ("""cent0 AS (
       |  SELECT vec_id AS c_id, v AS c_v FROM emb WHERE vec_id < 16)""".stripMargin
      +: steps).mkString(",\n")
  }
}

object SimilarityQueries extends QueryModule {
  import VectorFunctions._

  /** Train once: Lloyd centroid/codebook training is DETERMINISTIC
    * in (embeddings table, params) — the training output is the
    * in-memory twin of what [[graft.ops.VectorIndex.build]]
    * materializes on disk. Queries reuse the trained index instead of
    * re-running Lloyd per invocation (no served ANN system retrains
    * per query). The FIRST use trains for real, the catalog holds
    * only nlist×d / m×16×subDim doubles (the bounded driver-data
    * class), and the DuckDB oracle independently replays the
    * identical training chain — correctness is untouched, only
    * repeat-call latency changes. */
  private def centroidsFor(spark: SparkSession, dir: String,
      iters: Int): DataFrame = {
    import spark.implicits._
    graft.ops.BuildOnce.value("centroids", spark,
      Tables.paths(dir, "embeddings"), iters)(
      Similarity.trainedCentroidSeq(embFrame(spark, dir), iters))
      .toDF("c_id", "c_v")
  }

  /** The standard 2-round Lloyd centroids (the `q_ann_ivf` training),
    * shared with the hybrid-retrieval module ([[RetrievalQueries]]) so
    * its IVF leg probes the SAME trained index the ANN queries serve —
    * one training, one index, many consumers. */
  private[ext] def ivfCentroids(spark: SparkSession, dir: String): DataFrame =
    centroidsFor(spark, dir, 2)

  /** The shared zero-norm-excluded embedding corpus (see [[embFrame]]
    * contract), exposed for the hybrid module's index build. */
  private[ext] def embCorpus(spark: SparkSession, dir: String): DataFrame =
    embFrame(spark, dir)

  /** Build-once corpus row count — the regime gate for [[pairJoin]]
    * (the pageRank broadcast-vs-copartition idea applied to the pair
    * generators). One cheap count job per embeddings table state. */
  private def corpusRows(spark: SparkSession, dir: String): Long =
    graft.ops.BuildOnce.value("corpus_rows", spark,
      Tables.paths(dir, "embeddings"))(embFrame(spark, dir).count())

  /** Corpora at or below this row count ride the broadcast pair
    * regime (~0.5 GB of 64-dim doubles — inside executor memory with
    * headroom); larger corpora fall back to the plain equi-join,
    * where bucket cardinality (∝ corpus under the documented
    * nlist-grows-with-corpus contract) already exceeds the partition
    * count and width comes from the keys themselves. */
  private val BroadcastCorpusRows = 500000L

  /** Fan-out guard for the PAIR-EXPLODING bucket equi-joins (kNN
    * edges, SemDeDup/DBSCAN candidates): their OUTPUT is quadratic in
    * bucket occupancy while their INPUT is corpus-sized, so AQE's
    * advisory coalescing — which sees only input bytes — rolls the
    * post-shuffle side into ONE partition and the Σ bucket² cosine
    * work runs single-threaded (hit at the sf10 scale probe: 88k
    * vectors / 16 buckets = one ~400M-pair task; 32 idle cores).
    * Fix, stats-gated like [[graft.ext.GraphOps.pageRank]]'s regimes:
    *   - bounded corpus (the oracle-checkable fixture class): the
    *     probe side repartitions to an EXPLICIT partition count (a
    *     user-specified number is exempt from AQE coalescing) and the
    *     build side broadcasts — the explosion runs at full width and
    *     nothing corpus-sized shuffles at all;
    *   - large corpus: the plain equi-join (bucket count ≫ partitions
    *     by the nlist contract, so the shuffle itself is wide).
    */
  /** Below this row count the whole pair explosion fits one task's
    * second anyway (measured 0.33 s at the 2k-vector bench scale), and
    * the wide path's fixed costs — an extra exchange plus a broadcast
    * build — roughly double that. The guard exists for the decade
    * scales in between, where the same plan silently became one
    * 274-second task. */
  private val WidePairRows = 16384L

  private def pairJoin(left: DataFrame, right: DataFrame,
      keys: Seq[String], rows: Long): DataFrame = {
    val p = left.sparkSession.sessionState.conf.numShufflePartitions
    if (rows >= WidePairRows && rows <= BroadcastCorpusRows)
      // ROUND-ROBIN with an explicit count: a hash repartition on the
      // probe's own key is removed as redundant (the aggregate below
      // already hash-partitions on it) and the surviving aggregate
      // exchange is advisory-coalesced — measured at sf10: the
      // "fixed" plan still ran the explosion at width 1. Round-robin
      // never matches a child's partitioning, and a user-specified
      // partition count is exempt from AQE coalescing, so the width
      // is guaranteed.
      left.repartition(p).join(broadcast(right), keys)
    else left.join(right, keys)
  }

  private def codebooksFor(spark: SparkSession, dir: String, m: Int,
      subDim: Int, iters: Int): Seq[(Int, Long, Seq[Double])] =
    graft.ops.BuildOnce.value("codebooks", spark,
      Tables.paths(dir, "embeddings"), m, subDim, iters)(
      Similarity.pqCodebooks(embFrame(spark, dir), m, subDim, iters))

  /** The previous invocation's persisted PQ-code index — released when
    * the next invocation installs its own (bounded at one copy). */
  private val lastCodes =
    graft.ops.BuildOnce.swapRef()

  /** q_cluster_labels' (bucket, term) count frame — four consumers
    * read it; swap-release bounds the cache at one live copy. */
  private val lastBucketTerms =
    graft.ops.BuildOnce.swapRef()

  /** q_ann_recall's exact top-k truth frame (sample×k ids, but its
    * lineage is the corpus pass) — two consumers; same bounding. */
  private val lastExactTop =
    graft.ops.BuildOnce.swapRef()

  /** q_mutual_knn's edge frame (both sides of the mutuality join) —
    * same swap-release bounding. */
  private val lastNdcgExact =
    graft.ops.BuildOnce.swapRef()

  /** nDCG rank discounts 1/log2(r+1) for r = 1..5, as 1e6-scaled
    * integer literals — ONE constant rendered into both the Spark
    * lookup frame and the oracle's VALUES so no engine computes a
    * log at query time (libm bits differ engine-to-engine; fixed
    * literals are the q_benford expectation discipline). */
  private val ndcgWeights: Seq[Long] =
    Seq(1000000L, 630930L, 500000L, 430677L, 386853L)
  private val lastMutualEdges =
    graft.ops.BuildOnce.swapRef()

  /** q_kcore's knn edge frame (probe + build sides of the
    * reciprocity semi-join) — same swap-release bounding. */
  private val lastKcoreEdges =
    graft.ops.BuildOnce.swapRef()

  /** q_dbscan's symmetrized eps-edge frame (degree count, core-core
    * restriction, border attachment all read it) — same bounding. */
  private val lastDbscanEdges =
    graft.ops.BuildOnce.swapRef()

  /** The fixed demo query set: corpus vectors with id < 20, as
    * (q_id, q_v). */
  private def queryVecs(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))

  /** Bounded-heap top-`k` per `q_id` by (sim desc, n_id asc), with the
    * `rank` column reconstituted on the pruned ≤k-per-query frame
    * under the same total order — bit-identical to the window
    * formulation (row_number + rank<=k filter) it replaces.
    *
    * Honest plan economics: Spark's own InferWindowGroupLimit already
    * bounds the EXCHANGE of the window formulation to ≤k rows per key
    * per partition, but its WindowGroupLimit is sort-based — the whole
    * per-partition stream is sorted (O(n log n)) on BOTH sides of the
    * exchange before limiting. The heaps do O(n log k) updates and
    * never materialize a sorted run, which is the difference that
    * matters when the pre-exchange stream is corpus-sized (the
    * knnEdges discipline, shared by every ANN ranking tail). */
  private def topKBySim(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))
    graft.plans.TopK.perKey(scored, k, Seq("q_id"),
        Seq("sim" -> false, "n_id" -> true))
      .withColumn("rank", row_number().over(w).cast("long"))
  }

  /** One-pass nearest-centroid assignment of the corpus, as
    * (n_id, n_v, bucket) — shared by ivfTopK and ivfPqTopK so a
    * tie-break or assignment fix lands in ONE place. The argmax is a
    * max_by AGGREGATION (map-side partial reduce: ~1 row per vec_id
    * per partition reaches the exchange; a window over the
    * corpus×nlist cross join would shuffle nlist copies of every
    * vector). Tie-break (c_sim desc, c_id asc) matches the oracle's
    * ROW_NUMBER via the (c_sim, -c_id) struct order. */
  private def assignBuckets(emb: DataFrame, centroids: DataFrame): DataFrame =
    emb.join(broadcast(centroids))
      .withColumn("c_sim", cosine(col("v"), col("c_v")))
      .groupBy("vec_id")
      .agg(max_by(col("c_id"),
          struct(col("c_sim"), (-col("c_id")).as("nc"))).as("bucket"),
        first(col("v")).as("n_v")) // v constant per vec_id
      .select(col("vec_id").as("n_id"), col("n_v"), col("bucket"))

  /** Within-bucket kNN edges over `corpus` (needs vec_id + v): each
    * vector's top-`k` cosine neighbors among vectors sharing its
    * Lloyd bucket, as (vec_id, bucket, rank, n_id, sim). The candidate
    * join is an EQUI-JOIN on bucket — the SemDeDup-style blocking
    * shared by q_knn_graph, q_semantic_dedup and q_triangle_count. */
  private def knnEdges(corpus: DataFrame, centroids: DataFrame,
      k: Int, rows: Long): DataFrame = {
    // squared norms precompute per ROW (narrow), not per PAIR: cosine
    // recomputes dot(a,a) and dot(b,b) for every pair — 3× the flops of
    // the explosion's one necessary dot product. sim below is the
    // IDENTICAL IEEE chain (dot / sqrt(nn_a · nn_b)), so results are
    // bit-for-bit unchanged and the oracle needs no edit.
    val assigned = assignBuckets(corpus, centroids)
      .withColumn("nn", VectorFunctions.dot(col("n_v"), col("n_v")))
    val left = assigned.select(col("n_id").as("vec_id"),
      col("n_v").as("v"), col("nn").as("nn_l"), col("bucket"))
    // top-k through the bounded-heap TopKPerKey operator: the pair
    // stream is Σ bucket² rows, and the window path fully SORTS each
    // partition's share of it (twice — both sides of the exchange)
    // before its group limit; the heaps keep ≤k rows per vec with
    // O(n log k) updates and no sorted runs (see topKBySim doc). Ranks
    // reconstitute on the pruned ≤k-per-vec frame under the same
    // total order (sim desc, n_id asc), so output is bit-identical.
    // pairJoin keeps the quadratic pair stream at full task width.
    val scored = pairJoin(left, assigned, Seq("bucket"), rows)
      .filter(col("n_id") =!= col("vec_id"))
      .withColumn("sim", VectorFunctions.dot(col("v"), col("n_v"))
        / sqrt(col("nn_l") * col("nn")))
    val w = Window.partitionBy("vec_id").orderBy(col("sim").desc, col("n_id"))
    graft.plans.TopK.perKey(scored, k, Seq("vec_id"),
        Seq("sim" -> false, "n_id" -> true))
      .withColumn("rank", row_number().over(w).cast("long"))
  }

  /** The planted demo corpus for the graph-structured queries: every
    * 20th vector gets two ±0.01-perturbed twins — guaranteed 3-vector
    * near-duplicate groups (mutual nearest neighbors), so semantic
    * dedup and the triangle census are structurally non-degenerate on
    * any input corpus. */
  private def plantedEmb(spark: SparkSession, dir: String): DataFrame = {
    val emb = embFrame(spark, dir)
    val twins = emb.filter(col("vec_id") % 20 === 0)
    // slice length is size-derived (not a magic cap) so the Spark twin
    // matches the oracle's unbounded v[2:] at ANY embedding dimension
    def perturbed(offset: Long, eps: Double) =
      twins.select((col("vec_id") + offset).as("vec_id"),
        concat(array(element_at(col("v"), 1) + lit(eps)),
          slice(col("v"), lit(2), size(col("v")) - 1)).as("v"))
    emb.select(col("vec_id"), col("v"))
      .unionByName(perturbed(1000000L, 0.01))
      .unionByName(perturbed(2000000L, -0.01))
  }

  /** DuckDB twin of [[plantedEmb]] (CTE `all_emb` over `emb`). */
  private val plantedSql =
    """all_emb AS (
      |  SELECT vec_id, v FROM emb
      |  UNION ALL
      |  SELECT vec_id + 1000000 AS vec_id, [v[1] + 0.01] || v[2:] AS v
      |  FROM emb WHERE vec_id % 20 = 0
      |  UNION ALL
      |  SELECT vec_id + 2000000 AS vec_id, [v[1] - 0.01] || v[2:] AS v
      |  FROM emb WHERE vec_id % 20 = 0)""".stripMargin

  /** DuckDB twin of [[assignBuckets]] over CTE `src` (needs `cent2`
    * from [[Similarity.lloydSql]] in scope). */
  private def assignedSql(src: String): String =
    s"""assigned AS (
       |  SELECT vec_id, v, c_id AS bucket FROM (
       |    SELECT e.vec_id, e.v, c.c_id,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSqlOf("e.v", "c.c_v")} DESC, c.c_id) AS c_rank
       |    FROM $src e CROSS JOIN cent2 c)
       |  WHERE c_rank = 1)""".stripMargin

  /** Query-side probe set: each query's `nprobe` nearest centroid
    * buckets, as (q_id, q_v, bucket). Shared by ivfTopK/ivfPqTopK. */
  private def probeBuckets(queries: DataFrame, centroids: DataFrame,
      nprobe: Int): DataFrame =
    queries.join(broadcast(centroids))
      .withColumn("c_sim", cosine(col("q_v"), col("c_v")))
      .withColumn("c_rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("c_sim").desc, col("c_id"))))
      .filter(col("c_rank") <= nprobe)
      .select(col("q_id"), col("q_v"), col("c_id").as("bucket"))

  /** PQ encode columns k0..k(m-1) over vector column `vcol` — the m
    * narrow argmin expressions (codebooks are plan literals). */
  private def pqCodeCols(books: Seq[(Int, Long, Seq[Double])], vcol: Column,
      m: Int, subDim: Int): Seq[Column] = {
    val bookOf: Int => Seq[(Long, Seq[Double])] = s =>
      books.filter(_._1 == s).map(t => (t._2, t._3)).sortBy(_._1)
    (0 until m).map { s =>
      Similarity.pqAssignFor(bookOf(s),
        slice(vcol, lit(s * subDim + 1), lit(subDim))).as(s"k$s")
    }
  }

  /** The per-(query, subspace, codeword) ADC lookup frame — ≤
    * queries×m×16 rows, computed as one Spark job and collected by
    * [[Similarity.adcLookups]]. */
  private def pqLutAll(queries: DataFrame,
      books: Seq[(Int, Long, Seq[Double])], subDim: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val cent = books.toDF("s", "c_id", "c_v")
    queries.join(broadcast(cent))
      .withColumn("q_vs", slice(col("q_v"), col("s") * subDim + 1, lit(subDim)))
      .select(col("q_id"), col("s"), col("c_id"), dot(col("q_vs"), col("c_v")).as("l"))
  }

  /** Shared PQ tail: ADC top-20 per query → fetch full vectors for
    * exactly those → exact cosine top-5. One definition — the
    * degeneracy anchor (ivfpq at nprobe=nlist == pq) is structural
    * for this whole stage, not a lucky textual match. */
  private def adcRerank(scored: DataFrame, emb: DataFrame,
      queries: DataFrame): DataFrame = {
    val wExact = Window.partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))
    // ADC candidates heap-prune to the top-20 per query before the
    // exchange (membership only — no rank column needed)
    graft.plans.TopK.perKey(scored, 20, Seq("q_id"),
        Seq("adc" -> false, "n_id" -> true))
      .select("q_id", "n_id")
      .join(emb.select(col("vec_id").as("n_id"), col("v").as("n_v")), "n_id")
      .join(broadcast(queries), "q_id")
      .withColumn("sim", cosine(col("q_v"), col("n_v")))
      .withColumn("rank", row_number().over(wExact).cast("long"))
      .filter(col("rank") <= 5)
      .select("q_id", "rank", "n_id", "sim")
      .orderBy("q_id", "rank")
  }

  /** Shared corpus frame: double vectors, zero-norm vectors excluded.
    * The exclusion is a CONTRACT, mirrored in [[embCte]]: a zero
    * vector's cosine is 0/0, which Spark's Divide maps to NULL (sorts
    * last under desc) while DuckDB's IEEE division yields NaN (sorts
    * FIRST) — the engines would rank different top-k rows. No
    * meaningful ANN query wants zero vectors anyway. */
  private def embFrame(spark: SparkSession, dir: String) =
    Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      .filter(dot(col("v"), col("v")) > 0)

  /** Shared DuckDB fragment: embeddings with double-precision vectors
    * (zero-norm excluded — see [[embFrame]]). */
  private val embCte =
    """WITH emb AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings
      |  WHERE list_inner_product(CAST(embedding AS DOUBLE[]),
      |                           CAST(embedding AS DOUBLE[])) > 0
      |)""".stripMargin

  // exposed to the hybrid-retrieval module so the zero-norm corpus
  // contract and the cosine SQL fragment live in exactly ONE place
  private[ext] def cosSqlOf(a: String, b: String): String =
    s"list_inner_product($a, $b) / sqrt(list_inner_product($a, $a) * list_inner_product($b, $b))"

  /** One MMR greedy round as a CTE pair: sel$t picks, per query, the
    * unselected candidate maximizing 7·rel − 3·max(pairsim to the
    * all${t−1} selection); all$t accumulates. Mirrors the
    * flatMapGroups greedy in q_mmr_rerank round for round. */
  private def mmrCte(t: Int): String = s"""
    |sel$t AS MATERIALIZED (
    |  SELECT q_id, $t AS pos, n_id, rel, mmr FROM (
    |    SELECT c.q_id, c.n_id, c.rel, 7 * c.rel - 3 * m.maxsim AS mmr,
    |      ROW_NUMBER() OVER (PARTITION BY c.q_id
    |        ORDER BY 7 * c.rel - 3 * m.maxsim DESC, c.n_id) AS rn
    |    FROM cand c
    |    JOIN (SELECT p.q_id, p.i, MAX(p.ps) AS maxsim
    |          FROM psim p JOIN all${t - 1} s
    |            ON p.q_id = s.q_id AND p.j = s.n_id
    |          GROUP BY 1, 2) m ON m.q_id = c.q_id AND m.i = c.n_id
    |    LEFT JOIN all${t - 1} e ON e.q_id = c.q_id AND e.n_id = c.n_id
    |    WHERE e.n_id IS NULL) WHERE rn = 1),
    |all$t AS MATERIALIZED (SELECT * FROM all${t - 1} UNION ALL SELECT * FROM sel$t)""".stripMargin.trim

  /** [[embCte]] without the leading `WITH ` — for composition into a
    * caller's own WITH list. */
  private[ext] lazy val embCteBody: String = embCte.stripPrefix("WITH ")

  private val cosSql = cosSqlOf("q.v", "n.v")

  /** IVF top-k with trained centroids at a caller-chosen `nprobe` —
    * the query-time recall/cost dial. Used by `q_ann_ivf` (nprobe=2,
    * oracle-pinned) and by the recall spec at higher nprobe. */
  def ivfTopK(spark: SparkSession, dir: String, nprobe: Int): DataFrame = {
    val emb = embFrame(spark, dir)
    val centroids = centroidsFor(spark, dir, iters = 2)
    val assigned = assignBuckets(emb, centroids)
    val probes = probeBuckets(queryVecs(emb), centroids, nprobe)
    // search only inside the probed buckets; candidates (∝ probed
    // bucket populations) heap-prune to ≤5/query before the exchange
    val scored = broadcast(probes)
      .join(assigned, "bucket")
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("sim", cosine(col("q_v"), col("n_v")))
    topKBySim(scored, 5)
      .select("q_id", "rank", "n_id", "sim")
      .orderBy("q_id", "rank")
  }

  /** PQ-ADC top-k: corpus vectors compress to m codeword ids (one
    * byte each at k=16 — 64 doubles become 4 codes); each query scores
    * the whole code table through an m×16-entry lookup of
    * query-to-codeword dot products, takes the top-20 by the
    * asymmetric-distance approximation, and exact-reranks only those.
    * Used by `q_ann_pq` and the recall spec. */
  def pqTopK(spark: SparkSession, dir: String, m: Int = 8, subDim: Int = 8): DataFrame = {
    val emb = embFrame(spark, dir)
    val books = codebooksFor(spark, dir, m, subDim, iters = 1)
    // encode: m narrow argmin expressions — ONE pass over the corpus,
    // no join (codebooks are plan literals, the bounded-sketch class)
    val codes = emb.select(
      col("vec_id").as("n_id") +: pqCodeCols(books, col("v"), m, subDim): _*)
    val queries = queryVecs(emb)
    // LUT: per (query, subspace, codeword) dot product — ≤ 20·m·16
    // rows; the ADC score is then m lookups per candidate instead of
    // a d-wide dot product (the PQ bargain: the scan reads
    // 4 bytes/vector, not 64 doubles; pair count is unchanged — pair
    // REDUCTION is IVF's job, composing as IVF-PQ at 100 TB).
    // adc = l0+l1+...: a FIXED-ORDER column sum of O(1) literal-LUT
    // lookups (see [[Similarity.adcLookups]]; a groupBy sum over the
    // m parts would be order-dependent double addition — unreplayable)
    val look = Similarity.adcLookups(pqLutAll(queries, books, subDim), m, maxQ = 20)
    val scored = codes.crossJoin(broadcast(queries.select("q_id")))
      .withColumn("adc", (0 until m).map(look).reduceLeft(_ + _))
      .filter(col("n_id") =!= col("q_id"))
    adcRerank(scored, emb, queries)
  }

  /** IVF-PQ top-k — the composed 100 TB shape: IVF cuts CANDIDATE
    * COUNT (each query touches ~nprobe/nlist of the corpus via the
    * bucket equi-join), PQ cuts BYTES PER CANDIDATE (m code lookups
    * instead of a d-wide dot). Both training chains are the existing
    * deterministic ones, so the oracle replays the whole composition.
    * Exact cosine re-rank of the ADC top-20 finishes, as in the
    * single-stage paths. */
  def ivfPqTopK(spark: SparkSession, dir: String, nprobe: Int = 2,
      m: Int = 8, subDim: Int = 8): DataFrame = {
    val emb = embFrame(spark, dir)
    val centroids = centroidsFor(spark, dir, iters = 2)
    val books = codebooksFor(spark, dir, m, subDim, iters = 1)
    // one pass assigns the IVF bucket AND the PQ codes — the stored
    // index row is (n_id, bucket, k0..k7): 9 small ints, no full
    // vector needed until the final re-rank fetch. Persisted: this
    // frame IS the stored index (what VectorIndex would materialize
    // to disk at scale); without it the assignment join + argmin
    // encode re-executes for the ADC chain AND the re-rank fetch.
    // Bounded at ONE cached copy across invocations via the
    // swap-release below (a bare persist per call would accumulate
    // pinned copies for the session's lifetime — CacheManager holds
    // strong references).
    val codes = graft.ops.BuildOnce.swapPersist(lastCodes,
      assignBuckets(emb, centroids).select(
        col("n_id") +: col("bucket") +:
          pqCodeCols(books, col("n_v"), m, subDim): _*))
    val queries = queryVecs(emb)
    val probes = probeBuckets(queries, centroids, nprobe)
      .select("q_id", "bucket")
    // candidates = probed-bucket equi-join; ADC = fixed-order sum of
    // O(1) literal-LUT lookups (see [[Similarity.adcLookups]])
    val look = Similarity.adcLookups(pqLutAll(queries, books, subDim), m, maxQ = 20)
    val scored = broadcast(probes).join(codes, "bucket")
      .withColumn("adc", (0 until m).map(look).reduceLeft(_ + _))
      .filter(col("n_id") =!= col("q_id"))
    adcRerank(scored, emb, queries)
  }

  /** An OPENED served IVF-PQ index: the on-disk path plus everything a
    * probe session holds resident — the two training sketches READ BACK
    * from the layout (bounded: nlist + m×16 rows; parquet round-trips
    * doubles bit-exactly, so they equal the trained values) and
    * the two hive-layout DataFrames, opened ONCE so their resolved
    * FileIndex (directory listing + schema) is reused across probes.
    * Re-listing per probe was q_ann_ivfpq_indexed's measured overhead:
    * the served path cost MORE than its rebuild-per-run twin at sf0.1
    * because every run re-enumerated the hive tree. A real vector store
    * keeps exactly this handle open per serving process. */
  private case class ServedPqIndex(
      path: String,
      centroids: Seq[(Long, Seq[Double])],
      books: Seq[(Int, Long, Seq[Double])],
      codes: DataFrame,
      vectors: DataFrame)

  /** The MATERIALIZED IVF-PQ index ("build once on disk, probe
    * many"): first use per (embeddings table, m, subDim) trains (via
    * the build-once training), encodes and writes the
    * [[graft.ops.VectorIndex.buildPq]] layout; the opened handle is a
    * per-session build-once value over it. */
  private def pqIndexFor(spark: SparkSession, dir: String, m: Int,
      subDim: Int): ServedPqIndex = {
    import spark.implicits._
    val idx = graft.ops.BuildOnce.dir("ivfpq_index", spark,
        Tables.paths(dir, "embeddings"), m, subDim) { idx =>
      val emb = embFrame(spark, dir)
      val centroids = centroidsFor(spark, dir, iters = 2)
      val books = codebooksFor(spark, dir, m, subDim, iters = 1)
      val assigned = assignBuckets(emb, centroids)
      graft.ops.VectorIndex.buildPq(
        codes = assigned.select(col("n_id") +: col("bucket") +:
          pqCodeCols(books, col("n_v"), m, subDim): _*),
        vectors = assigned.select(col("n_id").as("vec_id"),
          col("n_v").as("v"), col("bucket")),
        centroids = centroids,
        codebooks = books.toDF("s", "c_id", "c_v"),
        dir = idx)
    }
    graft.ops.BuildOnce.value("ivfpq_open", spark, Nil, spark, idx)(
      ServedPqIndex(
        path = idx,
        centroids = spark.read.parquet(s"$idx/centroids")
          .select("c_id", "c_v").as[(Long, Seq[Double])]
          .collect().toSeq.sortBy(_._1),
        books = spark.read.parquet(s"$idx/codebooks")
          .select("s", "c_id", "c_v").as[(Int, Long, Seq[Double])]
          .collect().toSeq.sortBy(t => (t._1, t._2)),
        codes = spark.read.parquet(s"$idx/codes"),
        vectors = spark.read.parquet(s"$idx/vectors")))
  }

  /** IVF-PQ top-k served from the MATERIALIZED on-disk index — the
    * production shape of [[ivfPqTopK]] (which demonstrates the same
    * semantics fully in-memory): every per-vector input is read from
    * the [[graft.ops.VectorIndex.buildPq]] layout with the probed
    * buckets as a literal IN-list, so BOTH the ADC code scan and the
    * exact-rerank vector fetch are statically partition-pruned to
    * nprobe/nlist of the corpus (candidates can only come from probed
    * buckets, so the pruned `vectors/` read is lossless). The corpus
    * table itself is touched only for the 20 query vectors. Training
    * sketches (centroids, codebooks) come back from the index dir —
    * doubles round-trip parquet bit-exactly, and the ADC sum / ranking
    * expressions are the shared ones, so the result is bit-identical
    * to [[ivfPqTopK]] and replays against the SAME DuckDB oracle. */
  def ivfPqTopKIndexed(spark: SparkSession, dir: String, nprobe: Int = 2,
      m: Int = 8, subDim: Int = 8): DataFrame = {
    import spark.implicits._
    val ix = pqIndexFor(spark, dir, m, subDim)
    val queries = queryVecs(embFrame(spark, dir))
    // the training sketches came back FROM THE LAYOUT when the handle
    // was opened (ServedPqIndex); here they are local relations — the
    // centroid probe plans with zero file scans
    val centroids = ix.centroids.toDF("c_id", "c_v")
    val probes = probeBuckets(queries, centroids, nprobe)
      .select("q_id", "bucket")
    val buckets = probes.select("bucket").distinct().as[Long].collect()
    val codes = ix.codes
      .filter(col("bucket").isin(buckets.toIndexedSeq: _*))
    val look = Similarity.adcLookups(pqLutAll(queries, ix.books, subDim), m, maxQ = 20)
    val scored = broadcast(probes).join(codes, "bucket")
      .withColumn("adc", (0 until m).map(look).reduceLeft(_ + _))
      .filter(col("n_id") =!= col("q_id"))
    val vecs = ix.vectors
      .filter(col("bucket").isin(buckets.toIndexedSeq: _*))
      .select("vec_id", "v")
    adcRerank(scored, vecs, queries)
  }

  /** Candidate (q_id, n_id) pairs from the OR-amplified multi-table
    * LSH probe — ids only (vectors are re-fetched for survivors), the
    * same staged shape as MinHash-LSH banding. `tables` and `radius`
    * are the two recall/cost dials (defaults = the q_ann_lsh point;
    * AnnRecallSpec measures the frontier). */
  def lshCandidates(spark: SparkSession, dir: String,
      tables: Int = Similarity.LshTables, radius: Int = 2): DataFrame = {
    val emb = embFrame(spark, dir)
    val planes = Similarity.hyperplanes(spark, emb, tables)
    val signed = Similarity.signBuckets(emb.drop("label"), planes)
    // multi-probe: each query searches, PER TABLE, its own bucket AND
    // every bucket within Hamming distance `radius` (sign bits
    // flipped) — a single-bucket probe on weakly-correlated vectors
    // has near-zero recall. OR-amplification across the L tables then
    // unions the candidate sets: recall ~ 1-(1-r)^L at L× the probe
    // cost (AnnRecallSpec measures both dials).
    val probeDeltas = array(Similarity.hammingDeltas(radius).map(lit(_)): _*)
    val probes = signed.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("tbl"), col("bucket"))
      .withColumn("__d", explode(probeDeltas))
      .withColumn("bucket", col("bucket").bitwiseXOR(col("__d")))
      .drop("__d")
    probes
      .join(signed.select(col("vec_id").as("n_id"), col("tbl"), col("bucket")),
        Seq("tbl", "bucket"))
      .filter(col("n_id") =!= col("q_id"))
      .select("q_id", "n_id")
      .distinct() // the same pair can collide in several tables
  }

  /** LSH top-k at a caller-chosen (tables, radius) point — exact same
    * re-fetch + rank tail as q_ann_lsh. */
  def lshTopK(spark: SparkSession, dir: String,
      tables: Int = Similarity.LshTables, radius: Int = 2): DataFrame = {
    val emb = embFrame(spark, dir)
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
    val scored = lshCandidates(spark, dir, tables, radius)
      .join(emb.select(col("vec_id").as("n_id"), col("v").as("n_v")), "n_id")
      .join(broadcast(queries), "q_id")
      .withColumn("sim", cosine(col("q_v"), col("n_v")))
    topKBySim(scored, 5)
      .select("q_id", "rank", "n_id", "sim")
      .orderBy("q_id", "rank")
  }

  /** Candidate near-dup pairs blocked by (label, sign-bucket) — an
    * EQUI-JOIN, never all-pairs within a label. Exposed for
    * [[q_embedding_neardup]] and the plan-shape spec. */
  def neardupCandidates(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val emb = embFrame(spark, dir)
    val planted = emb.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000000).as("vec_id"), col("label"),
        concat(array(element_at(col("v"), 1) + lit(0.01)),
          slice(col("v"), lit(2), size(col("v")) - 1)).as("v"))
    val all = emb.unionByName(planted)
    // one 8-plane table: near-dups at cosine >= 0.99 are ~8 degrees
    // apart, so a plane splits a true pair with p ~ 0.045 — Hamming<=2
    // multi-probe recovers pairs with up to 2 disagreeing sign bits
    // (the oracle replays the same blocking, so the result is
    // deterministic either way; SimilaritySpec asserts every planted
    // pair survives it)
    val planes = Similarity.hyperplanes(spark, emb, 1)
    val signed = Similarity.signBuckets(all, planes)
    val probeDeltas = array(Similarity.hamming2Deltas.map(lit(_)): _*)
    // ids only through the join; each qualifying pair matches exactly
    // one delta (the XOR of its two buckets), so no dedup is needed
    val exploded = signed.select(col("vec_id").as("id_a"), col("label"), col("bucket"))
      .withColumn("__d", explode(probeDeltas))
      .withColumn("bucket", col("bucket").bitwiseXOR(col("__d")))
      .drop("__d")
    val cand = pairJoin(exploded,
        signed.select(col("vec_id").as("id_b"), col("label"), col("bucket")),
        Seq("label", "bucket"), corpusRows(spark, dir))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "label")
    (all, cand)
  }

  override def defs: Seq[(String, QueryDef)] = Seq(

    // ---- Brute-force cosine top-k: 20 query vectors against the whole
    // corpus. The query set is broadcast; the corpus is never shuffled
    // until the final (tiny) top-k aggregation.
    "q_ann_cosine_topk" -> QueryDef(
      fn = (spark, dir) => {
        val emb = embFrame(spark, dir)
        val queries = emb.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), col("v").as("q_v"))
        // the corpus×queries score stream heap-prunes to ≤5 rows per
        // query per partition with O(n log k) updates — the native
        // window path bounds the exchange the same way but only after
        // fully SORTING each partition's stream (see topKBySim doc)
        val scored = broadcast(queries)
          .join(emb.select(col("vec_id").as("n_id"), col("v").as("n_v")),
            col("n_id") =!= col("q_id"))
          .withColumn("sim", cosine(col("q_v"), col("n_v")))
        topKBySim(scored, 5)
          .select("q_id", "rank", "n_id", "sim")
          .orderBy("q_id", "rank")
      },
      oracle = Some(embCte + s"""
        |SELECT q_id, rank, n_id, sim FROM (
        |  SELECT q.vec_id AS q_id, n.vec_id AS n_id, $cosSql AS sim,
        |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |                       ORDER BY $cosSql DESC, n.vec_id) AS rank
        |  FROM emb q JOIN emb n ON q.vec_id < 20 AND n.vec_id != q.vec_id)
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),
      bench = true),

    // ---- MMR diversified re-ranking (Carbonell & Goldstein 1998):
    // greedily pick K=8 of each query's top-C=20 cosine candidates,
    // each round taking the candidate maximizing
    //   mmr = λ·relevance − (1−λ)·max sim to the already-picked set
    // (λ=0.7) — the standard redundancy-vs-relevance dial for RAG
    // context assembly (top-k alone returns near-duplicates; MMR
    // trades a little relevance for coverage). All decisions ride
    // quantized BIGINT micro-units (rel/pairsim = floor(cos·10⁶+0.5),
    // mmr = 7·rel − 3·maxsim, ties → smallest n_id), so the greedy
    // argmax chain replays exactly on both engines.
    // Scale shape: one broadcast-queries×corpus stream heap-pruned to
    // ≤C rows per query (TopKPerKey), ONE shuffle to (q_id) groups,
    // then a typed flatMapGroups runs the O(K·C) greedy per group —
    // state is C bounded structs, groups are embarrassingly parallel,
    // so a million-query rerank costs one partial-pruned exchange.
    // The iterative exclusion-set argmax is genuinely sequential in K
    // (each pick changes the next round's scores), which is why this
    // is a mapGroups kernel and not K join rounds: the relational
    // unrolling shuffles the same tiny frame 8 times — the oracle
    // does exactly that (8 unrolled CTE rounds), proving equivalence.
    "q_mmr_rerank" -> QueryDef(
      fn = (spark, dir) => {
        import spark.implicits._
        val emb = embFrame(spark, dir)
        val queries = emb.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), col("v").as("q_v"))
        val scored = broadcast(queries)
          .join(emb.select(col("vec_id").as("n_id"), col("v").as("n_v")),
            col("n_id") =!= col("q_id"))
          .withColumn("sim", cosine(col("q_v"), col("n_v")))
        val cand = topKBySim(scored, 20)
          .withColumn("rel",
            floor(col("sim") * 1000000 + lit(0.5)).cast("long"))
          .select(col("q_id"), col("n_id"), col("rel"), col("n_v"))
        cand.as[(Long, Long, Long, Seq[Double])]
          .groupByKey(_._1)
          .flatMapGroups { (q: Long, it: Iterator[(Long, Long, Long, Seq[Double])]) =>
            // strict left-to-right multiply-add — the DotProduct
            // kernel's fold order, so pair sims match the oracle's
            // list_inner_product bit-for-bit
            def dotd(a: Seq[Double], b: Seq[Double]): Double = {
              val n = math.min(a.length, b.length)
              var acc = 0.0; var i = 0
              while (i < n) { acc += a(i) * b(i); i += 1 }
              acc
            }
            val cs = it.toArray.sortBy(t => (-t._3, t._2))
            val nn = cs.map(c => dotd(c._4, c._4))
            def ps(i: Int, j: Int): Long =
              math.floor(dotd(cs(i)._4, cs(j)._4)
                / math.sqrt(nn(i) * nn(j)) * 1000000 + 0.5).toLong
            val selected = scala.collection.mutable.ArrayBuffer[Int]()
            val rows = scala.collection.mutable
              .ArrayBuffer[(Long, Long, Long, Long, Long)]()
            for (pos <- 1 to math.min(8, cs.length)) {
              def mmrOf(i: Int): Long =
                if (selected.isEmpty) 7L * cs(i)._3
                else 7L * cs(i)._3 - 3L * selected.map(j => ps(i, j)).max
              val pick = cs.indices.filterNot(selected.contains)
                .maxBy(i => (mmrOf(i), -cs(i)._2))
              rows += ((q, pos.toLong, cs(pick)._2, cs(pick)._3,
                mmrOf(pick)))
              selected += pick
            }
            rows.iterator
          }
          .toDF("q_id", "pos", "n_id", "rel", "mmr")
          .orderBy("q_id", "pos")
      },
      oracle = Some(embCte + s""",
        |cand AS MATERIALIZED (
        |  SELECT q_id, n_id, rel FROM (
        |    SELECT q.vec_id AS q_id, n.vec_id AS n_id,
        |      CAST(FLOOR(($cosSql) * 1000000 + 0.5) AS BIGINT) AS rel,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |                         ORDER BY $cosSql DESC, n.vec_id) AS rnk
        |    FROM emb q JOIN emb n ON q.vec_id < 20 AND n.vec_id != q.vec_id)
        |  WHERE rnk <= 20),
        |psim AS MATERIALIZED (
        |  SELECT a.q_id, a.n_id AS i, b.n_id AS j,
        |    CAST(FLOOR((${cosSqlOf("va.v", "vb.v")}) * 1000000 + 0.5)
        |      AS BIGINT) AS ps
        |  FROM cand a JOIN cand b ON a.q_id = b.q_id AND a.n_id != b.n_id
        |  JOIN emb va ON va.vec_id = a.n_id
        |  JOIN emb vb ON vb.vec_id = b.n_id),
        |all1 AS MATERIALIZED (
        |  SELECT q_id, 1 AS pos, n_id, rel, 7 * rel AS mmr FROM (
        |    SELECT q_id, n_id, rel, ROW_NUMBER() OVER (
        |      PARTITION BY q_id ORDER BY rel DESC, n_id) AS rn
        |    FROM cand) WHERE rn = 1),
        |${(2 to 8).map(mmrCte).mkString(",\n")}
        |SELECT q_id, CAST(pos AS BIGINT) AS pos, n_id, rel, mmr
        |FROM all8 ORDER BY q_id, pos""".stripMargin)),

    // ---- Matryoshka (prefix-dimension) retrieval agreement: rank by
    // cosine over only the FIRST 16 of 64 dims and measure top-5
    // overlap with the full-dimension ranking, per query. This is the
    // MRL serving pattern — coarse search in the cheap prefix space
    // (4× fewer multiplies, 4× smaller index bytes), full-dim math
    // only on survivors — and the query IS its recall monitor: the
    // driver testdata's embeddings are NOT matryoshka-trained, so the
    // measured agreement is the honest floor, not a trained model's
    // marketing number. Prefix-zero-norm vectors are excluded from
    // the truncated ranking on BOTH sides (same contract as
    // [[embFrame]]'s full-vector guard — a 0/0 cosine ranks
    // differently across engines).
    // Scale shape: two broadcast-queries×corpus streams, each
    // heap-pruned to ≤5 rows/query/partition (TopKPerKey); the
    // overlap count joins two ≤100-row frames. At index scale the
    // prefix stream reads 16/64 of the vector bytes — that 4× scan
    // saving is the whole point.
    "q_ann_matryoshka" -> QueryDef(
      fn = (spark, dir) => {
        val p = 16
        val emb = embFrame(spark, dir)
        val queries = emb.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), col("v").as("q_v"))
        val corpus = emb.select(col("vec_id").as("n_id"), col("v").as("n_v"))
        val fullTop = topKBySim(
          broadcast(queries).join(corpus, col("n_id") =!= col("q_id"))
            .withColumn("sim", cosine(col("q_v"), col("n_v"))), 5)
          .select(col("q_id"), col("n_id"))
        val truncTop = topKBySim(
          broadcast(queries
              .filter(dot(slice(col("q_v"), 1, p), slice(col("q_v"), 1, p)) > 0))
            .join(corpus
              .filter(dot(slice(col("n_v"), 1, p), slice(col("n_v"), 1, p)) > 0),
              col("n_id") =!= col("q_id"))
            .withColumn("sim",
              cosine(slice(col("q_v"), 1, p), slice(col("n_v"), 1, p))), 5)
          .select(col("q_id"), col("n_id"))
        queries.select(col("q_id"))
          .join(fullTop.join(truncTop, Seq("q_id", "n_id"))
            .groupBy("q_id").agg(count(lit(1)).as("n_common")),
            Seq("q_id"), "left")
          .select(col("q_id"),
            coalesce(col("n_common"), lit(0L)).as("n_common"))
          .orderBy("q_id")
      },
      oracle = Some(embCte + s"""
        |, full_top AS (
        |  SELECT q_id, n_id FROM (
        |    SELECT q.vec_id AS q_id, n.vec_id AS n_id,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |                         ORDER BY $cosSql DESC, n.vec_id) AS rank
        |    FROM emb q JOIN emb n ON q.vec_id < 20 AND n.vec_id != q.vec_id)
        |  WHERE rank <= 5),
        |trunc_top AS (
        |  SELECT q_id, n_id FROM (
        |    SELECT q.vec_id AS q_id, n.vec_id AS n_id,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |        ORDER BY ${cosSqlOf("q.v[1:16]", "n.v[1:16]")} DESC,
        |          n.vec_id) AS rank
        |    FROM emb q JOIN emb n ON q.vec_id < 20 AND n.vec_id != q.vec_id
        |      AND list_inner_product(q.v[1:16], q.v[1:16]) > 0
        |      AND list_inner_product(n.v[1:16], n.v[1:16]) > 0)
        |  WHERE rank <= 5)
        |SELECT q.vec_id AS q_id,
        |  CAST(COALESCE(c.n_common, 0) AS BIGINT) AS n_common
        |FROM emb q LEFT JOIN (
        |  SELECT f.q_id, COUNT(*) AS n_common
        |  FROM full_top f JOIN trunc_top t
        |    ON f.q_id = t.q_id AND f.n_id = t.n_id
        |  GROUP BY f.q_id) c ON q.vec_id = c.q_id
        |WHERE q.vec_id < 20 ORDER BY q_id""".stripMargin)),

    // ---- Filtered similarity search: top-k under a metadata
    // predicate (here: neighbors sharing the query's label — "find
    // similar items in MY category", the filter every production
    // vector search carries). This is the exact PRE-FILTER strategy:
    // the predicate is an equi-key, so it becomes part of the join key
    // — the corpus is filtered by the broadcast query side before any
    // distance math, result exactness is unconditional, and no row
    // outside the label ever scores. Its complement is IVF
    // POST-filtering (`VectorIndex.probe(metaFilter=...)`): keep the
    // index's bucket pruning and apply the predicate inside the pruned
    // scan — cheaper per query, but a predicate rare within the probed
    // buckets can starve top-k below k (VectorIndexSpec measures that
    // trade; pre-filter wins for selective equi-predicates, post-filter
    // for broad ones).
    "q_ann_filtered" -> QueryDef(
      fn = (spark, dir) => {
        val emb = embFrame(spark, dir)
        val queries = emb.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), col("label").as("q_label"),
            col("v").as("q_v"))
        val scored = broadcast(queries)
          .join(emb.select(col("vec_id").as("n_id"), col("label"),
              col("v").as("n_v")),
            col("label") === col("q_label") && col("n_id") =!= col("q_id"))
          .withColumn("sim", cosine(col("q_v"), col("n_v")))
        topKBySim(scored, 5)
          .select("q_id", "label", "rank", "n_id", "sim")
          .orderBy("q_id", "rank")
      },
      oracle = Some(embCte + s"""
        |SELECT q_id, label, rank, n_id, sim FROM (
        |  SELECT q.vec_id AS q_id, n.label AS label, n.vec_id AS n_id,
        |    $cosSql AS sim,
        |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |                       ORDER BY $cosSql DESC, n.vec_id) AS rank
        |  FROM emb q JOIN emb n ON q.vec_id < 20 AND n.label = q.label
        |    AND n.vec_id != q.vec_id)
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin)),

    // ---- Embedding near-dup: same-label pairs above a cosine
    // threshold, with planted perturbed copies as guaranteed positives.
    // Candidates are an equi-join on (label, hyperplane sign-bucket)
    // with Hamming<=2 multi-probe — within-label is NOT all-pairs, so
    // one hot label can't go quadratic at 100 TB. The oracle replays
    // the identical blocking, keeping the hash check exact.
    "q_embedding_neardup" -> QueryDef(
      fn = (spark, dir) => {
        val (all, cand) = neardupCandidates(spark, dir)
        // vector re-fetch rides the same regime gate as the candidate
        // join: broadcast lookups keep cand's explicit width (a plain
        // id equi-join would re-shuffle it, and AQE would coalesce the
        // small-bytes exchange back into a handful of tasks)
        val va = all.select(col("vec_id").as("id_a"), col("v").as("v_a"))
        val vb = all.select(col("vec_id").as("id_b"), col("v").as("v_b"))
        val wide = corpusRows(spark, dir) <= 500000L
        cand
          .join(if (wide) broadcast(va) else va, "id_a")
          .join(if (wide) broadcast(vb) else vb, "id_b")
          .withColumn("sim", cosine(col("v_a"), col("v_b")))
          .filter(col("sim") >= 0.99)
          .select(col("id_a"), col("id_b"), col("label"), col("sim"))
          .orderBy("id_a", "id_b")
      },
      oracle = Some(embCte + s""",
        |all_emb AS (
        |  SELECT vec_id, label, v FROM emb
        |  UNION ALL
        |  SELECT vec_id + 1000000 AS vec_id, label,
        |         [v[1] + 0.01] || v[2:] AS v
        |  FROM emb WHERE vec_id % 10 = 0),
        |${Similarity.lshSql(1, "all_emb", Seq("label"))}
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS label,
        |  ${cosSqlOf("a.v", "b.v")} AS sim
        |FROM signed a JOIN signed b
        |  ON a.label = b.label AND a.vec_id < b.vec_id
        |  AND xor(a.bucket, b.bucket) IN (${Similarity.hamming2Deltas.mkString(",")})
        |WHERE ${cosSqlOf("a.v", "b.v")} >= 0.99
        |ORDER BY id_a, id_b""".stripMargin),
      bench = true), // round-1's flagged scale-killer — keep its cost tracked

    // ---- Hard-negative mining for contrastive training: for each
    // query vector, the most-similar corpus vectors with a DIFFERENT
    // label — semantically close but wrong-class, the negatives that
    // actually teach an embedding model. The label inequality is a
    // post-condition on the broadcast nested-loop (query set
    // broadcasts, corpus never shuffles — same shape as
    // q_ann_cosine_topk); at corpus-scale query sets the IVF probe
    // path applies with the label test as a post-filter
    // (VectorIndex.probe(metaFilter=...)).
    "q_hard_negatives" -> QueryDef(
      fn = (spark, dir) => {
        val emb = embFrame(spark, dir)
        val q = emb.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), col("label").as("q_label"),
            col("v").as("q_v"))
        val scored = broadcast(q)
          .join(emb.select(col("vec_id").as("n_id"),
              col("label").as("n_label"), col("v").as("n_v")),
            col("n_label") =!= col("q_label"))
          .withColumn("sim", cosine(col("q_v"), col("n_v")))
        topKBySim(scored, 3)
          .select("q_id", "q_label", "rank", "n_id", "n_label", "sim")
          .orderBy("q_id", "rank")
      },
      oracle = Some(embCte + s"""
        |SELECT q_id, q_label, rank, n_id, n_label, sim FROM (
        |  SELECT q.vec_id AS q_id, q.label AS q_label, n.vec_id AS n_id,
        |    n.label AS n_label, $cosSql AS sim,
        |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |                       ORDER BY $cosSql DESC, n.vec_id) AS rank
        |  FROM emb q JOIN emb n ON q.vec_id < 20 AND n.label != q.label)
        |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin)),

    // ---- Full-corpus kNN graph, cluster-blocked: top-3 cosine
    // neighbors for EVERY vector, searched only within the vector's
    // own Lloyd-trained IVF bucket. This is the SemDeDup-style
    // construction (cluster first, then pairwise only inside the
    // cluster): at 100 TB the cluster count grows ∝ corpus size so the
    // per-bucket population stays bounded and the candidate join is an
    // EQUI-JOIN on bucket — never all-pairs, never a per-query corpus
    // scan. The recall trade (neighbors outside the bucket are
    // unreachable by construction) is the published design's; the
    // DuckDB oracle replays training + assignment + within-bucket
    // ranking identically, so the result is hash-exact, not
    // recall-gated.
    "q_knn_graph" -> QueryDef(
      fn = (spark, dir) =>
        knnEdges(embFrame(spark, dir), centroidsFor(spark, dir, iters = 2), 3,
            corpusRows(spark, dir))
          .select("vec_id", "bucket", "rank", "n_id", "sim")
          .orderBy("vec_id", "rank"),
      oracle = Some(embCte + s""",
        |${Similarity.lloydSql(2, cosSqlOf)},
        |${assignedSql("emb")}
        |SELECT vec_id, bucket, rank, n_id, sim FROM (
        |  SELECT a.vec_id, a.bucket, b.vec_id AS n_id,
        |    ${cosSqlOf("a.v", "b.v")} AS sim,
        |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
        |      ORDER BY ${cosSqlOf("a.v", "b.v")} DESC, b.vec_id) AS rank
        |  FROM assigned a JOIN assigned b
        |    ON a.bucket = b.bucket AND b.vec_id != a.vec_id)
        |WHERE rank <= 3 ORDER BY vec_id, rank""".stripMargin),
      bench = true), // the all-corpus construction is the cost to track

    // ---- Semantic dedup end-to-end (the SemDeDup recipe): cluster
    // (Lloyd IVF buckets), take within-bucket pairs at cosine ≥ 0.99
    // as duplicate edges, resolve transitive groups with connected
    // components (pointer jumping, [[PipelineOps.connectedComponents]]),
    // and report each non-trivial group keyed by its keeper (min id).
    // Planted twins (±0.01 on one coordinate of every 20th vector)
    // guarantee non-degenerate 3-vector groups. Scale: candidate
    // generation is the bucket equi-join (bounded bucket population —
    // see q_knn_graph), CC is O(log diameter) rounds; nothing is ever
    // all-pairs. The oracle replays training, assignment, edges, and
    // reachability (recursive CTE) — fully hash-checked.
    "q_semantic_dedup" -> QueryDef(
      fn = (spark, dir) => {
        val all = plantedEmb(spark, dir)
        val centroids = centroidsFor(spark, dir, iters = 2)
        val assigned = assignBuckets(all, centroids)
          .withColumn("nn", VectorFunctions.dot(col("n_v"), col("n_v")))
        val a = assigned.select(col("n_id").as("id_a"),
          col("n_v").as("v_a"), col("nn").as("nn_a"), col("bucket"))
        val b = assigned.select(col("n_id").as("id_b"),
          col("n_v").as("v_b"), col("nn").as("nn_b"), col("bucket"))
        // per-row norms, per-pair single dot — the knnEdges flop cut,
        // identical IEEE chain (see knnEdges)
        val edges = pairJoin(a, b, Seq("bucket"), corpusRows(spark, dir))
          .filter(col("id_a") < col("id_b"))
          .filter(VectorFunctions.dot(col("v_a"), col("v_b"))
            / sqrt(col("nn_a") * col("nn_b")) >= 0.99)
          .select(col("id_a").as("src"), col("id_b").as("dst"))
        PipelineOps.connectedComponents(
            all.select(col("vec_id").as("id")), edges)
          .groupBy("cluster")
          .agg(count(lit(1)).as("cluster_size"))
          .filter(col("cluster_size") > 1)
          .orderBy("cluster")
      },
      oracle = Some(embCte.replaceFirst("^WITH ", "WITH RECURSIVE ") + s""",
        |${Similarity.lloydSql(2, cosSqlOf)},
        |$plantedSql,
        |${assignedSql("all_emb")},
        |prs AS (
        |  SELECT a.vec_id AS src, b.vec_id AS dst
        |  FROM assigned a JOIN assigned b
        |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |  WHERE ${cosSqlOf("a.v", "b.v")} >= 0.99),
        |edges AS (
        |  SELECT src, dst FROM prs UNION ALL SELECT dst, src FROM prs),
        |reach AS (
        |  SELECT vec_id AS id, vec_id AS lbl FROM all_emb
        |  UNION
        |  SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
        |components AS (
        |  SELECT id, MIN(lbl) AS cluster FROM reach GROUP BY id)
        |SELECT cluster, COUNT(*) AS cluster_size FROM components
        |GROUP BY cluster HAVING COUNT(*) > 1 ORDER BY cluster""".stripMargin)),

    // ---- DBSCAN over the embedding corpus: density-based clustering
    // with core/border/noise roles — the classification SemDeDup-style
    // plain CC cannot make (CC clusters ANY ≥θ pair; DBSCAN demands
    // minPts eps-neighbors before a point may seed a cluster, so an
    // isolated near-dup PAIR stays noise while a dense group becomes a
    // cluster). eps-neighborhood = cosine ≥ 0.95 within the vector's
    // Lloyd bucket (the same blocked candidate generator as
    // q_semantic_dedup — never all-pairs; cross-bucket neighbors are
    // outside the neighborhood BY THE SAME recall contract), minPts =
    // 2 neighbors excluding self. Clusters = connected components of
    // the core-core subgraph (pointer jumping, O(log diameter)
    // rounds); border points attach to their MIN core-neighbor
    // cluster (deterministic); everything else is noise (cluster −1).
    // Scale shape: bucket equi-join → one degree aggregation → CC on
    // the (much smaller) core subgraph → one border equi-join; the
    // edge frame is built once into an owned swap slot. The oracle
    // replays blocking, degrees, core reachability (recursive CTE)
    // and border attachment — fully hash-checked. DbscanSpec proves
    // the role classification on a crafted chain fixture.
    "q_dbscan" -> QueryDef(
      fn = (spark, dir) => {
        val all = plantedEmb(spark, dir)
        val centroids = centroidsFor(spark, dir, iters = 2)
        val assigned = assignBuckets(all, centroids)
          .withColumn("nn", VectorFunctions.dot(col("n_v"), col("n_v")))
        val a = assigned.select(col("n_id").as("id_a"),
          col("n_v").as("v_a"), col("nn").as("nn_a"), col("bucket"))
        val b = assigned.select(col("n_id").as("id_b"),
          col("n_v").as("v_b"), col("nn").as("nn_b"), col("bucket"))
        val prs = pairJoin(a, b, Seq("bucket"), corpusRows(spark, dir))
          .filter(col("id_a") < col("id_b"))
          .filter(VectorFunctions.dot(col("v_a"), col("v_b"))
            / sqrt(col("nn_a") * col("nn_b")) >= 0.95)
          .select("id_a", "id_b")
        val edges = graft.ops.BuildOnce.swapPersist(lastDbscanEdges,
          prs.select(col("id_a").as("src"), col("id_b").as("dst"))
            .unionByName(
              prs.select(col("id_b").as("src"), col("id_a").as("dst"))))
        PipelineOps.dbscanRoles(all.select(col("vec_id").as("id")),
            edges, minPts = 2)
          .select(col("id").as("vec_id"), col("role"), col("cluster"))
          .orderBy("vec_id")
      },
      oracle = Some(embCte.replaceFirst("^WITH ", "WITH RECURSIVE ") + s""",
        |${Similarity.lloydSql(2, cosSqlOf)},
        |$plantedSql,
        |${assignedSql("all_emb")},
        |prs AS MATERIALIZED (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM assigned a JOIN assigned b
        |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |  WHERE ${cosSqlOf("a.v", "b.v")} >= 0.95),
        |edges AS MATERIALIZED (
        |  SELECT id_a AS src, id_b AS dst FROM prs
        |  UNION ALL SELECT id_b AS src, id_a AS dst FROM prs),
        |core AS MATERIALIZED (
        |  SELECT src AS id FROM edges GROUP BY src
        |  HAVING COUNT(DISTINCT dst) >= 2),
        |core_edges AS MATERIALIZED (
        |  SELECT e.src, e.dst FROM edges e
        |  JOIN core c1 ON e.src = c1.id
        |  JOIN core c2 ON e.dst = c2.id),
        |reach AS (
        |  SELECT id, id AS lbl FROM core
        |  UNION
        |  SELECT e.dst AS id, r.lbl
        |  FROM reach r JOIN core_edges e ON e.src = r.id),
        |comp AS MATERIALIZED (
        |  SELECT id, MIN(lbl) AS cluster FROM reach GROUP BY id),
        |border AS (
        |  SELECT e.src AS id, MIN(c.cluster) AS cluster
        |  FROM edges e JOIN comp c ON e.dst = c.id
        |  WHERE e.src NOT IN (SELECT id FROM core)
        |  GROUP BY e.src)
        |SELECT ae.vec_id,
        |  CASE WHEN comp.id IS NOT NULL THEN 'core'
        |       WHEN border.id IS NOT NULL THEN 'border'
        |       ELSE 'noise' END AS role,
        |  COALESCE(comp.cluster, border.cluster, CAST(-1 AS BIGINT))
        |    AS cluster
        |FROM all_emb ae
        |LEFT JOIN comp ON comp.id = ae.vec_id
        |LEFT JOIN border ON border.id = ae.vec_id
        |ORDER BY vec_id""".stripMargin)),

    // ---- Triangle census of the similarity graph: per-node triangle
    // counts over the undirected kNN edge set (planted corpus, so the
    // twin trios guarantee a non-degenerate census). This is the
    // clustering-coefficient / community-density primitive. Scale
    // shape: node-ordered wedge enumeration — the undirected edge set
    // keeps only (a < b), each triangle {a<b<c} is generated exactly
    // once from wedge (a,b)+(b,c) closed by (a,c), and every join is
    // an EQUI-join on node ids. kNN edges bound every degree by 2k, so
    // wedge count <= |E|·2k — linear in the corpus, no all-pairs
    // anywhere.
    "q_triangle_count" -> QueryDef(
      fn = (spark, dir) => {
        val edges = knnEdges(plantedEmb(spark, dir),
          centroidsFor(spark, dir, iters = 2), 3, corpusRows(spark, dir))
        val und = edges.select(least(col("vec_id"), col("n_id")).as("a"),
            greatest(col("vec_id"), col("n_id")).as("b"))
          .distinct()
        val tri = und.as("e1")
          .join(und.as("e2"), col("e1.b") === col("e2.a"))
          .join(und.as("e3"),
            col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
          .select(col("e1.a").as("x"), col("e1.b").as("y"),
            col("e2.b").as("z"))
        tri.select(explode(array(col("x"), col("y"), col("z"))).as("vec_id"))
          .groupBy("vec_id")
          .agg(count(lit(1)).as("n_triangles"))
          .orderBy("vec_id")
      },
      oracle = Some(embCte + s""",
        |${Similarity.lloydSql(2, cosSqlOf)},
        |$plantedSql,
        |${assignedSql("all_emb")},
        |knn AS (
        |  SELECT vec_id, n_id FROM (
        |    SELECT a.vec_id, b.vec_id AS n_id,
        |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
        |        ORDER BY ${cosSqlOf("a.v", "b.v")} DESC, b.vec_id) AS rank
        |    FROM assigned a JOIN assigned b
        |      ON a.bucket = b.bucket AND b.vec_id != a.vec_id)
        |  WHERE rank <= 3),
        |und AS (
        |  SELECT DISTINCT least(vec_id, n_id) AS a, greatest(vec_id, n_id) AS b
        |  FROM knn),
        |tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM und e1
        |  JOIN und e2 ON e2.a = e1.b
        |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b)
        |SELECT vec_id, COUNT(*) AS n_triangles FROM (
        |  SELECT unnest([x, y, z]) AS vec_id FROM tri)
        |GROUP BY vec_id ORDER BY vec_id""".stripMargin)),

    // ---- IVF-bucketed ANN — the 100 TB scale path. 16 centroids
    // (deterministic seed: the first 16 vectors, then 2 Lloyd rounds —
    // see [[Similarity.trainedCentroids]]) partition the corpus: every
    // vector is assigned to its nearest centroid ONCE (nlist broadcast
    // comparisons per row, narrow), and each query probes only its
    // nprobe=2 nearest centroid buckets — an equi-join on centroid_id
    // instead of a full scan per query. At scale the corpus is written
    // bucketed/partitioned by centroid_id ([[graft.ops.VectorIndex]]),
    // so a probe is a partition-pruned read of ~nprobe/nlist of the
    // data. Exactly mirrored in SQL => hash-checkable (unlike a
    // recall-based ANN check). nprobe is THE recall/cost dial
    // (AnnRecallSpec measures 0.78 @ nprobe=2, >=0.9 @ nprobe=4 on
    // this corpus); the oracle pins nprobe=2.
    // ---- Clustering-quality metric: purity of the Lloyd-trained IVF
    // buckets against the label ground truth — Σ_bucket max_label
    // count / N. Pure COUNTING (exact BIGINTs, one final IEEE ratio),
    // so unlike the recall specs this quality measure IS
    // oracle-hash-checkable: DuckDB replays training, assignment, and
    // the purity rollup bit-for-bit. One corpus pass (broadcast
    // centroids + max_by agg) + two bounded aggregations over
    // nlist×labels cells.
    "q_cluster_purity" -> QueryDef(
      fn = (spark, dir) => {
        val emb = embFrame(spark, dir)
        val centroids = centroidsFor(spark, dir, iters = 2)
        val assigned = emb.join(broadcast(centroids))
          .withColumn("c_sim", cosine(col("v"), col("c_v")))
          .groupBy("vec_id")
          .agg(max_by(col("c_id"),
              struct(col("c_sim"), (-col("c_id")).as("nc"))).as("bucket"),
            first(col("label")).as("label")) // label constant per vec_id
        val cells = assigned.groupBy("bucket", "label")
          .agg(count(lit(1)).as("n"))
        cells.groupBy("bucket")
          .agg(max(col("n")).as("n_top"), sum(col("n")).as("n_bucket"))
          .agg(sum(col("n_bucket")).as("n_vectors"),
            sum(col("n_top")).as("n_majority"))
          .withColumn("purity",
            col("n_majority").cast("double") / col("n_vectors").cast("double"))
      },
      oracle = Some(embCte + s""",
        |${Similarity.lloydSql(2, cosSqlOf)},
        |assigned AS (
        |  SELECT vec_id, label, c_id AS bucket FROM (
        |    SELECT e.vec_id, e.label, c.c_id,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY ${cosSqlOf("e.v", "c.c_v")} DESC, c.c_id) AS c_rank
        |    FROM emb e CROSS JOIN cent2 c)
        |  WHERE c_rank = 1),
        |cells AS (
        |  SELECT bucket, label, COUNT(*) AS n FROM assigned
        |  GROUP BY bucket, label),
        |per_bucket AS (
        |  SELECT bucket, MAX(n) AS n_top, SUM(n) AS n_bucket
        |  FROM cells GROUP BY bucket)
        |SELECT CAST(SUM(n_bucket) AS BIGINT) AS n_vectors,
        |  CAST(SUM(n_top) AS BIGINT) AS n_majority,
        |  CAST(SUM(n_top) AS DOUBLE) / CAST(SUM(n_bucket) AS DOUBLE) AS purity
        |FROM per_bucket""".stripMargin)),

    "q_ann_ivf" -> QueryDef(
      fn = (spark, dir) => ivfTopK(spark, dir, nprobe = 2),
      oracle = Some(embCte + s""",
        |${Similarity.lloydSql(2, cosSqlOf)},
        |assigned AS (
        |  SELECT n_id, n_v, c_id AS bucket FROM (
        |    SELECT e.vec_id AS n_id, e.v AS n_v, c.c_id,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY ${cosSqlOf("e.v", "c.c_v")} DESC, c.c_id) AS c_rank
        |    FROM emb e CROSS JOIN cent2 c)
        |  WHERE c_rank = 1),
        |probes AS (
        |  SELECT q_id, q_v, c_id AS bucket FROM (
        |    SELECT q.vec_id AS q_id, q.v AS q_v, c.c_id,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |        ORDER BY ${cosSqlOf("q.v", "c.c_v")} DESC, c.c_id) AS c_rank
        |    FROM emb q CROSS JOIN cent2 c WHERE q.vec_id < 20)
        |  WHERE c_rank <= 2)
        |SELECT q_id, rank, n_id, sim FROM (
        |  SELECT p.q_id, a.n_id,
        |    ${cosSqlOf("p.q_v", "a.n_v")} AS sim,
        |    ROW_NUMBER() OVER (PARTITION BY p.q_id
        |      ORDER BY ${cosSqlOf("p.q_v", "a.n_v")} DESC, a.n_id) AS rank
        |  FROM probes p JOIN assigned a ON p.bucket = a.bucket
        |  WHERE a.n_id != p.q_id)
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),
      bench = true),

    // ---- Scalar-quantized (int8) retrieval with exact re-ranking —
    // the standard two-stage pattern for 100 TB embedding corpora:
    // store/scan 4x-smaller int8 vectors (per-vector symmetric scale =
    // max|x|/127; scales cancel in cosine so the quantized similarity
    // needs no dequantization), take top-20 candidates by quantized
    // similarity, then re-score ONLY those 20 with full-precision
    // cosine for the final top-5. The expensive exact kernel touches
    // 20 vectors per query instead of the corpus. Quantization uses
    // floor(x+0.5) (not round()) so DuckDB reproduces it bit-for-bit.
    "q_ann_sq8_rerank" -> QueryDef(
      fn = (spark, dir) => {
        val emb = embFrame(spark, dir)
        // hoist the per-vector scale OUT of the per-element lambda:
        // HOFs are interpreted with no CSE inside the lambda, so an
        // inline scale would re-scan the whole array per element —
        // O(d^2) per row. Same value, same IEEE division, O(d).
        val quantized = emb
          .withColumn("__scale",
            array_max(transform(col("v"), x => abs(x))) / lit(127.0))
          .withColumn("qv",
            transform(col("v"),
              x => floor(x / col("__scale") + lit(0.5)).cast("double")))
          .drop("__scale")
        val queries = quantized.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), col("v").as("q_v"),
            col("qv").as("q_qv"))
        val corpus = quantized.select(col("vec_id").as("n_id"),
          col("v").as("n_v"), col("qv").as("n_qv"))
        // the quantized corpus×queries stream heap-prunes to the
        // top-20 candidates per query BEFORE any exchange (ranks are
        // never needed — only membership in the candidate set)
        val candidates = graft.plans.TopK.perKey(
          broadcast(queries)
            .join(corpus, col("n_id") =!= col("q_id"))
            .withColumn("qsim", cosine(col("q_qv"), col("n_qv"))),
          20, Seq("q_id"), Seq("qsim" -> false, "n_id" -> true))
        val wExact = Window.partitionBy("q_id")
          .orderBy(col("sim").desc, col("n_id"))
        candidates
          .withColumn("sim", cosine(col("q_v"), col("n_v")))
          .withColumn("rank", row_number().over(wExact).cast("long"))
          .filter(col("rank") <= 5)
          .select("q_id", "rank", "n_id", "sim")
          .orderBy("q_id", "rank")
      },
      oracle = Some(embCte + s""",
        |q8 AS (
        |  SELECT vec_id, v,
        |    list_transform(v, x ->
        |      floor(x / (list_max(list_transform(v, y -> abs(y))) / 127.0) + 0.5)) AS qv
        |  FROM emb),
        |cand AS (
        |  SELECT q_id, n_id, q_v, n_v FROM (
        |    SELECT q.vec_id AS q_id, n.vec_id AS n_id, q.v AS q_v, n.v AS n_v,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_inner_product(q.qv, n.qv) / sqrt(list_inner_product(q.qv, q.qv) * list_inner_product(n.qv, n.qv)) DESC, n.vec_id) AS qrank
        |    FROM q8 q JOIN q8 n ON q.vec_id < 20 AND n.vec_id != q.vec_id)
        |  WHERE qrank <= 20)
        |SELECT q_id, rank, n_id, sim FROM (
        |  SELECT q_id, n_id,
        |    list_inner_product(q_v, n_v) / sqrt(list_inner_product(q_v, q_v) * list_inner_product(n_v, n_v)) AS sim,
        |    ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY list_inner_product(q_v, n_v) / sqrt(list_inner_product(q_v, q_v) * list_inner_product(n_v, n_v)) DESC, n_id) AS rank
        |  FROM cand)
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin)),

    // ---- Product-quantized (PQ) ANN with asymmetric-distance scoring
    // and exact re-rank — the codebook compression missing from the
    // SQ8 (scalar) path: 64-double vectors become m=8 codeword ids
    // (k=16 per subspace, Lloyd-trained jointly in one pass per round,
    // seed + quantized recenter identical to the IVF training so the
    // oracle replays every stage). Queries score the code table via an
    // m×16 dot-product LUT (broadcast), take top-20 by the ADC
    // approximation, and pay the exact cosine for those 20 only.
    // PQ shrinks BYTES PER CANDIDATE (m lookups vs a d-wide dot);
    // candidate-count reduction is IVF's job — at 100 TB the two
    // compose as IVF-PQ (probe partitions, then ADC inside them).
    "q_ann_pq" -> QueryDef(
      fn = (spark, dir) => pqTopK(spark, dir),
      oracle = Some(embCte + s""",
        |${Similarity.pqSql(8, 8, 1)},
        |${Similarity.pqAdcSql(8, 8, 1)},
        |cand AS (
        |  SELECT q_id, n_id FROM (
        |    SELECT q_id, n_id,
        |      ROW_NUMBER() OVER (PARTITION BY q_id
        |        ORDER BY adc DESC, n_id) AS ar
        |    FROM adc)
        |  WHERE ar <= 20)
        |SELECT q_id, rank, n_id, sim FROM (
        |  SELECT c.q_id, c.n_id,
        |    ${cosSqlOf("q.v", "n.v")} AS sim,
        |    ROW_NUMBER() OVER (PARTITION BY c.q_id
        |      ORDER BY ${cosSqlOf("q.v", "n.v")} DESC, c.n_id) AS rank
        |  FROM cand c
        |  JOIN emb q ON q.vec_id = c.q_id
        |  JOIN emb n ON n.vec_id = c.n_id)
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin)),

    // ---- IVF-PQ: the composed index every 100 TB vector store
    // actually runs — IVF bucketing bounds the candidate COUNT
    // (equi-join on the probed centroid buckets, ~nprobe/nlist of the
    // corpus per query), PQ codes bound the BYTES per candidate (the
    // index row is 8 codes + a bucket id; full vectors are fetched
    // only for the ADC top-20 re-rank). Both trainings are the
    // deterministic chains the single-stage paths already use, so the
    // DuckDB oracle replays bucketing, coding, LUT, ADC, and re-rank
    // stage by stage — hash-exact.
    "q_ann_ivfpq" -> QueryDef(
      fn = (spark, dir) => ivfPqTopK(spark, dir),
      oracle = Some(ivfPqOracleSql)),

    // ---- IVF-PQ served from the MATERIALIZED index — the same
    // composed operator as q_ann_ivfpq but reading the on-disk
    // VectorIndex.buildPq layout ("build once, probe many"): the ADC
    // code scan AND the exact-rerank vector fetch are statically
    // partition-pruned to the probed buckets (IndexedAnnSpec asserts
    // the PartitionFilters in both scans). Bit-identical output, same
    // oracle. This is the benched entry: at 100 TB nobody retrains or
    // re-encodes per query — the probe cost IS the serving cost.
    "q_ann_ivfpq_indexed" -> QueryDef(
      fn = (spark, dir) => ivfPqTopKIndexed(spark, dir),
      oracle = Some(ivfPqOracleSql),
      bench = true),

    // ---- LSH-bucketed ANN (random-hyperplane family), OR-amplified:
    // L=4 independent 8-plane tables give per-table 256-bucket sign
    // signatures; neighbors are searched only inside the query's
    // (table, bucket) — an equi-join, never a scan per query — and the
    // candidate union over tables recovers the recall a single table
    // can't reach. The hyperplanes are DERIVED FROM THE CORPUS
    // (differences of fixed vector pairs) so both engines construct
    // them exactly — a seeded RNG would not be reproducible in SQL.
    // Same staged shape as MinHash-LSH: narrow signature pass,
    // fixed-width join keys, ids-only candidates, vectors re-fetched
    // for survivors.
    "q_ann_lsh" -> QueryDef(
      fn = (spark, dir) => lshTopK(spark, dir), // (L=4, Hamming<=2), oracle-pinned
      oracle = Some(embCte + s""",
        |${Similarity.lshSql(Similarity.LshTables, "emb", Seq.empty)},
        |probes AS (
        |  SELECT vec_id, tbl, xor(bucket, d.d) AS bucket
        |  FROM signed,
        |    (SELECT unnest([${Similarity.hamming2Deltas.mkString(",")}]) AS d) d
        |  WHERE vec_id < 20),
        |cand AS (
        |  SELECT DISTINCT p.vec_id AS q_id, n.vec_id AS n_id
        |  FROM probes p JOIN signed n ON p.tbl = n.tbl AND p.bucket = n.bucket
        |  WHERE n.vec_id != p.vec_id)
        |SELECT q_id, rank, n_id, sim FROM (
        |  SELECT c.q_id, c.n_id,
        |    $cosSql AS sim,
        |    ROW_NUMBER() OVER (PARTITION BY c.q_id
        |      ORDER BY $cosSql DESC, c.n_id) AS rank
        |  FROM cand c
        |  JOIN emb q ON q.vec_id = c.q_id
        |  JOIN emb n ON n.vec_id = c.n_id)
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin)),

    // ---- CLUSTER LABELING (the BERTopic/c-TF-IDF step): name each
    // semantic cluster by its most DISTINCTIVE terms — the top-3 terms
    // per Lloyd-trained IVF bucket ranked by lift over the corpus
    // share, in exact basis points. This is the curation step after
    // clustering: "bucket 7 is the SQL-tutorial cluster" drives
    // per-topic sampling/filter decisions. Embeddings and documents
    // share ids (vec_id == doc_id), so the bucket assignment joins the
    // document table directly.
    //
    // Scale shape: the bucket frame (one row per doc) equi-joins the
    // document table on the id BEFORE tokenization, so the join moves
    // doc-count rows, not token-count rows; the explode is map-side;
    // the only corpus-sized shuffle is the partial-agg'd
    // (bucket, term) count. Everything downstream aggregates the
    // ≤ nlist×vocab count frame (persisted — four consumers), and the
    // three marginals are rollups of it, never a second corpus pass
    // (the q_token_lift discipline). Lift is pure BIGINT
    // cross-multiplication — cnt·grand·10⁴ div (bucket_tot·term_tot) —
    // so any engine replays it exactly (headroom: ~5e17 at sf1; a
    // 100 TB corpus routes the product through DECIMAL(38,0)). Top-3
    // per bucket goes through the bounded-heap TopKPerKey operator.
    "q_cluster_labels" -> QueryDef(
      fn = (spark, dir) => {
        val buckets = assignBuckets(embFrame(spark, dir),
            centroidsFor(spark, dir, iters = 2))
          .select(col("n_id").as("doc_id"), col("bucket"))
        val toks = filter(TextFunctions.wsTokens(col("text")),
          t => t =!= "")
        val bt = graft.ops.BuildOnce.swapPersist(lastBucketTerms,
          Tables(spark, dir, "documents")
            .select(col("doc_id"), toks.as("t"))
            .join(buckets, "doc_id")
            .select(col("bucket"), explode(col("t")).as("term"))
            .groupBy("bucket", "term").agg(count(lit(1)).as("cnt")))
        val byTerm = bt.groupBy("term").agg(sum("cnt").as("term_total"))
        val byBucket = bt.groupBy("bucket")
          .agg(sum("cnt").as("bucket_total"))
        val grand = bt.agg(sum("cnt").as("grand_total"))
        val scored = bt.filter(col("cnt") >= 5)
          .join(broadcast(byTerm), "term")
          .join(broadcast(byBucket), "bucket")
          .crossJoin(broadcast(grand))
          .withColumn("lift_bp", expr(
            "cnt * grand_total * 10000 div (bucket_total * term_total)"))
        graft.plans.TopK.perKey(scored, 3, Seq("bucket"),
            Seq("lift_bp" -> false, "cnt" -> false, "term" -> true))
          .select("bucket", "term", "cnt", "bucket_total", "term_total",
            "lift_bp")
          .orderBy(col("bucket"), col("lift_bp").desc, col("cnt").desc,
            col("term"))
      },
      oracle = Some(embCte + s""",
        |${Similarity.lloydSql(2, cosSqlOf)},
        |${assignedSql("emb")},
        |tok AS (
        |  SELECT d.doc_id, unnest(string_split_regex(d.text, '\\s+')) AS term
        |  FROM documents d),
        |bt AS (
        |  SELECT a.bucket, t.term, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM tok t JOIN assigned a ON t.doc_id = a.vec_id
        |  WHERE t.term != '' GROUP BY 1, 2),
        |tt AS (SELECT term, CAST(SUM(cnt) AS BIGINT) AS term_total
        |       FROM bt GROUP BY 1),
        |btot AS (SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS bucket_total
        |         FROM bt GROUP BY 1),
        |g AS (SELECT CAST(SUM(cnt) AS BIGINT) AS grand_total FROM bt),
        |scored AS (
        |  SELECT b.bucket, b.term, b.cnt, bo.bucket_total, t.term_total,
        |    (b.cnt * g.grand_total * 10000)
        |      // (bo.bucket_total * t.term_total) AS lift_bp
        |  FROM bt b JOIN tt t USING (term) JOIN btot bo USING (bucket)
        |  CROSS JOIN g
        |  WHERE b.cnt >= 5),
        |rk AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket
        |    ORDER BY lift_bp DESC, cnt DESC, term) AS rn FROM scored)
        |SELECT bucket, term, cnt, bucket_total, term_total, lift_bp
        |FROM rk WHERE rn <= 3
        |ORDER BY bucket, lift_bp DESC, cnt DESC, term""".stripMargin)),

    // ---- ANN SERVING-RECALL MONITOR — the eval-family member for the
    // approximate index (q_cluster_purity audits the clustering,
    // q_lsh_eval audits the LSH bands; this audits what the USER
    // feels: recall@5 of the served IVF top-k vs the exact top-k, per
    // query, in exact basis points). AnnRecallSpec measures the same
    // frontier in tests; this is the production-shaped twin — the
    // query a 100 TB deployment schedules nightly to catch recall
    // drift after index rebuilds or corpus churn.
    //
    // Scale shape: recall eval always runs on a bounded QUERY SAMPLE
    // (here the 20 demo queries). The exact leg is the one-pass
    // broadcast-queries-against-corpus-scan; the IVF leg is the served
    // bucket equi-join; the overlay is an equi-join of two
    // sample×5-row frames plus a left join back to the sample so
    // zero-hit queries surface as recall 0, not as missing rows.
    "q_ann_recall" -> QueryDef(
      fn = (spark, dir) => {
        // compose the two PUBLISHED queries — the monitor measures
        // exactly what a user of each query gets, and a future change
        // to either leg's definition moves the monitor with it. The
        // exact frame is sample×5 rows but its computation is the
        // corpus pass — persisted (swap-release, one live copy)
        // because the truth-size and hit legs both read it.
        val exact = graft.ops.BuildOnce.swapPersist(lastExactTop,
          graft.SparkEntry.queries("q_ann_cosine_topk")(spark, dir)
            .select("q_id", "n_id"))
        val served = graft.SparkEntry.queries("q_ann_ivf")(spark, dir)
          .select("q_id", "n_id")
        // recall denominator = THIS query's exact-neighbor count (a
        // query with < k exact neighbors is not drift), so zero-hit
        // queries surface as recall 0, never as missing rows
        val truthSize = exact.groupBy("q_id")
          .agg(count(lit(1)).as("n_truth"))
        val hits = exact.join(served, Seq("q_id", "n_id"), "left_semi")
          .groupBy("q_id").agg(count(lit(1)).as("hits"))
        truthSize.join(hits, Seq("q_id"), "left")
          .select(col("q_id"), coalesce(col("hits"), lit(0L)).as("hits"),
            col("n_truth"))
          .select(col("q_id"), col("hits"), col("n_truth"),
            expr("hits * 10000 div n_truth").as("recall_bp"))
          .orderBy("q_id")
      },
      oracle = Some(embCte + s""",
        |${Similarity.lloydSql(2, cosSqlOf)},
        |assigned AS (
        |  SELECT n_id, n_v, c_id AS bucket FROM (
        |    SELECT e.vec_id AS n_id, e.v AS n_v, c.c_id,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY ${cosSqlOf("e.v", "c.c_v")} DESC, c.c_id) AS c_rank
        |    FROM emb e CROSS JOIN cent2 c)
        |  WHERE c_rank = 1),
        |probes AS (
        |  SELECT q_id, q_v, c_id AS bucket FROM (
        |    SELECT q.vec_id AS q_id, q.v AS q_v, c.c_id,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |        ORDER BY ${cosSqlOf("q.v", "c.c_v")} DESC, c.c_id) AS c_rank
        |    FROM emb q CROSS JOIN cent2 c WHERE q.vec_id < 20)
        |  WHERE c_rank <= 2),
        |served AS (
        |  SELECT q_id, n_id FROM (
        |    SELECT p.q_id, a.n_id,
        |      ROW_NUMBER() OVER (PARTITION BY p.q_id
        |        ORDER BY ${cosSqlOf("p.q_v", "a.n_v")} DESC, a.n_id) AS rank
        |    FROM probes p JOIN assigned a ON p.bucket = a.bucket
        |    WHERE a.n_id != p.q_id)
        |  WHERE rank <= 5),
        |exact AS (
        |  SELECT q_id, n_id FROM (
        |    SELECT q.vec_id AS q_id, n.vec_id AS n_id,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |        ORDER BY $cosSql DESC, n.vec_id) AS rank
        |    FROM emb q JOIN emb n
        |      ON q.vec_id < 20 AND n.vec_id != q.vec_id)
        |  WHERE rank <= 5),
        |ts AS (
        |  SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_truth
        |  FROM exact GROUP BY 1),
        |hits AS (
        |  SELECT e.q_id, CAST(COUNT(*) AS BIGINT) AS hits
        |  FROM exact e JOIN served s
        |    ON e.q_id = s.q_id AND e.n_id = s.n_id
        |  GROUP BY 1)
        |SELECT t.q_id, COALESCE(h.hits, 0) AS hits, t.n_truth,
        |  COALESCE(h.hits, 0) * 10000 // t.n_truth AS recall_bp
        |FROM ts t LEFT JOIN hits h ON t.q_id = h.q_id
        |ORDER BY t.q_id""".stripMargin)),

    // ---- MRR (reciprocal rank) of the SERVED IVF ranking against
    // the exact top-1 neighbor — q_ann_recall's rank-position-
    // sensitive sibling: recall@5 says "the truth is somewhere in
    // the list"; MRR says "how far down". Same composition
    // discipline — both legs are the PUBLISHED queries, so the
    // monitor moves with any change to their definitions. rr_bp =
    // 10000 div found_rank is exact integer arithmetic (10000/1..5
    // → 10000, 5000, 3333, 2500, 2000; 0 when the truth misses the
    // served list entirely), so the eval is hash-checked, never
    // approximate. Scale: both legs are k-row frames per query; the
    // eval join touches 20×5 rows.
    "q_mrr_eval" -> QueryDef(
      fn = (spark, dir) => {
        val truth = graft.SparkEntry.queries("q_ann_cosine_topk")(spark, dir)
          .filter(col("rank") === 1)
          .select(col("q_id"), col("n_id").as("truth_id"))
        val served = graft.SparkEntry.queries("q_ann_ivf")(spark, dir)
          .select(col("q_id"), col("n_id").as("truth_id"),
            col("rank").as("served_rank"))
        truth.join(served, Seq("q_id", "truth_id"), "left")
          .select(col("q_id"), col("truth_id"),
            coalesce(col("served_rank"), lit(0L)).as("found_rank"),
            coalesce(expr("10000 div served_rank"), lit(0L)).as("rr_bp"))
          .orderBy("q_id")
      },
      oracle = Some(embCte + s""",
        |${Similarity.lloydSql(2, cosSqlOf)},
        |assigned AS (
        |  SELECT n_id, n_v, c_id AS bucket FROM (
        |    SELECT e.vec_id AS n_id, e.v AS n_v, c.c_id,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY ${cosSqlOf("e.v", "c.c_v")} DESC, c.c_id) AS c_rank
        |    FROM emb e CROSS JOIN cent2 c)
        |  WHERE c_rank = 1),
        |probes AS (
        |  SELECT q_id, q_v, c_id AS bucket FROM (
        |    SELECT q.vec_id AS q_id, q.v AS q_v, c.c_id,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |        ORDER BY ${cosSqlOf("q.v", "c.c_v")} DESC, c.c_id) AS c_rank
        |    FROM emb q CROSS JOIN cent2 c WHERE q.vec_id < 20)
        |  WHERE c_rank <= 2),
        |served AS (
        |  SELECT q_id, n_id, rank FROM (
        |    SELECT p.q_id, a.n_id,
        |      ROW_NUMBER() OVER (PARTITION BY p.q_id
        |        ORDER BY ${cosSqlOf("p.q_v", "a.n_v")} DESC, a.n_id) AS rank
        |    FROM probes p JOIN assigned a ON p.bucket = a.bucket
        |    WHERE a.n_id != p.q_id)
        |  WHERE rank <= 5),
        |truth AS (
        |  SELECT q_id, n_id AS truth_id FROM (
        |    SELECT q.vec_id AS q_id, n.vec_id AS n_id,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |        ORDER BY $cosSql DESC, n.vec_id) AS rank
        |    FROM emb q JOIN emb n ON q.vec_id < 20 AND n.vec_id != q.vec_id)
        |  WHERE rank = 1)
        |SELECT t.q_id, t.truth_id,
        |  CAST(COALESCE(s.rank, 0) AS BIGINT) AS found_rank,
        |  CAST(COALESCE(10000 // s.rank, 0) AS BIGINT) AS rr_bp
        |FROM truth t LEFT JOIN served s
        |  ON t.q_id = s.q_id AND t.truth_id = s.n_id
        |ORDER BY t.q_id""".stripMargin)),

    // ---- nDCG@5 of the SERVED IVF ranking against the exact top-5 —
    // completes the ranking-eval triad: recall@5 (is the truth in the
    // list), MRR (how far down is the top-1), nDCG (is the WHOLE
    // graded ordering right). Graded relevance rel = 6 − exact_rank;
    // the 1/log2(r+1) discount weights are FIXED integer literals in
    // 1e6 scale (rendered from ONE Scala constant into both engines —
    // no query-time log2, whose libm bits differ across engines), so
    // dcg/idcg are exact integer sums and ndcg_bp is one integral
    // division. idcg derives from THIS query's exact list (n_truth <
    // k queries keep an honest denominator — the q_ann_recall
    // convention). Same composition discipline as the other two
    // monitors: both legs are the PUBLISHED queries. Scale: k-row
    // frames per query; the eval joins touch sample×k rows.
    "q_ndcg_eval" -> QueryDef(
      fn = (spark, dir) => {
        val w = spark.createDataFrame(
          ndcgWeights.zipWithIndex.map { case (x, i) => (i + 1L, x) })
          .toDF("rank", "w")
        val exact = graft.ops.BuildOnce.swapPersist(lastNdcgExact,
          graft.SparkEntry.queries("q_ann_cosine_topk")(spark, dir)
            .select("q_id", "n_id", "rank"))
        val rel = exact.select(col("q_id"), col("n_id"),
          (lit(6L) - col("rank")).as("rel"), col("rank"))
        val idcg = rel.join(broadcast(w), "rank")
          .groupBy("q_id").agg(sum(expr("rel * w")).as("idcg"))
        val served = graft.SparkEntry.queries("q_ann_ivf")(spark, dir)
          .select("q_id", "n_id", "rank")
        val dcg = served.join(broadcast(w), "rank")
          .join(rel.select("q_id", "n_id", "rel"), Seq("q_id", "n_id"))
          .groupBy("q_id").agg(sum(expr("rel * w")).as("dcg"))
        idcg.join(dcg, Seq("q_id"), "left")
          .select(col("q_id"),
            coalesce(col("dcg"), lit(0L)).as("dcg"), col("idcg"),
            expr("coalesce(dcg, 0) * 10000 div idcg").as("ndcg_bp"))
          .orderBy("q_id")
      },
      oracle = Some(embCte + s""",
        |${Similarity.lloydSql(2, cosSqlOf)},
        |assigned AS (
        |  SELECT n_id, n_v, c_id AS bucket FROM (
        |    SELECT e.vec_id AS n_id, e.v AS n_v, c.c_id,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY ${cosSqlOf("e.v", "c.c_v")} DESC, c.c_id) AS c_rank
        |    FROM emb e CROSS JOIN cent2 c)
        |  WHERE c_rank = 1),
        |probes AS (
        |  SELECT q_id, q_v, c_id AS bucket FROM (
        |    SELECT q.vec_id AS q_id, q.v AS q_v, c.c_id,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |        ORDER BY ${cosSqlOf("q.v", "c.c_v")} DESC, c.c_id) AS c_rank
        |    FROM emb q CROSS JOIN cent2 c WHERE q.vec_id < 20)
        |  WHERE c_rank <= 2),
        |served AS (
        |  SELECT q_id, n_id, rank FROM (
        |    SELECT p.q_id, a.n_id,
        |      ROW_NUMBER() OVER (PARTITION BY p.q_id
        |        ORDER BY ${cosSqlOf("p.q_v", "a.n_v")} DESC, a.n_id) AS rank
        |    FROM probes p JOIN assigned a ON p.bucket = a.bucket
        |    WHERE a.n_id != p.q_id)
        |  WHERE rank <= 5),
        |exact AS (
        |  SELECT q_id, n_id, rank FROM (
        |    SELECT q.vec_id AS q_id, n.vec_id AS n_id,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |        ORDER BY $cosSql DESC, n.vec_id) AS rank
        |    FROM emb q JOIN emb n
        |      ON q.vec_id < 20 AND n.vec_id != q.vec_id)
        |  WHERE rank <= 5),
        |w(rank, w) AS (VALUES ${ndcgWeights.zipWithIndex
          .map { case (x, i) => s"(${i + 1}, $x)" }.mkString(", ")}),
        |idcg AS (
        |  SELECT e.q_id, CAST(SUM((6 - e.rank) * w.w) AS BIGINT) AS idcg
        |  FROM exact e JOIN w ON e.rank = w.rank GROUP BY 1),
        |dcg AS (
        |  SELECT s.q_id, CAST(SUM((6 - e.rank) * w.w) AS BIGINT) AS dcg
        |  FROM served s
        |  JOIN exact e ON s.q_id = e.q_id AND s.n_id = e.n_id
        |  JOIN w ON s.rank = w.rank
        |  GROUP BY 1)
        |SELECT i.q_id, CAST(COALESCE(d.dcg, 0) AS BIGINT) AS dcg,
        |  i.idcg,
        |  CAST(COALESCE(d.dcg, 0) * 10000 // i.idcg AS BIGINT) AS ndcg_bp
        |FROM idcg i LEFT JOIN dcg d ON i.q_id = d.q_id
        |ORDER BY i.q_id""".stripMargin)),

    // ---- MUTUAL (reciprocal) kNN pairs — the high-precision slice
    // of the kNN graph: a pair where EACH vector ranks the other in
    // its own top-3 is the classic RNN duplicate-confidence signal
    // (one-directional neighbors are often hub artifacts; mutual ones
    // are near-duplicates or tight cluster cores). Built ON the
    // published q_knn_graph edges: the mutuality test is one
    // self-equi-join on (vec_id, n_id) of the ≤3·n edge frame —
    // bounded fan-in, no new pair generation — with the edge frame
    // persisted once (swap-release) so the bucket join + heaps run
    // once, not twice. sim is exactly symmetric (same index-ordered
    // dot product both directions), so emitting the (a<b) direction
    // is canonical on both engines.
    "q_mutual_knn" -> QueryDef(
      fn = (spark, dir) => {
        val e = graft.ops.BuildOnce.swapPersist(lastMutualEdges,
          knnEdges(embFrame(spark, dir),
            centroidsFor(spark, dir, iters = 2), 3, corpusRows(spark, dir))
            .select("vec_id", "n_id", "rank", "sim"))
        val rev = e.select(col("n_id").as("vec_id"),
          col("vec_id").as("n_id"), col("rank").as("rank_ba"))
        e.join(rev, Seq("vec_id", "n_id"))
          .filter(col("vec_id") < col("n_id"))
          .select(col("vec_id").as("id_a"), col("n_id").as("id_b"),
            col("rank").as("rank_ab"), col("rank_ba"), col("sim"))
          .orderBy("id_a", "id_b")
      },
      oracle = Some(embCte + s""",
        |${Similarity.lloydSql(2, cosSqlOf)},
        |${assignedSql("emb")},
        |knn AS MATERIALIZED (
        |  SELECT vec_id, n_id, rank, sim FROM (
        |    SELECT a.vec_id, b.vec_id AS n_id,
        |      ${cosSqlOf("a.v", "b.v")} AS sim,
        |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
        |        ORDER BY ${cosSqlOf("a.v", "b.v")} DESC, b.vec_id) AS rank
        |    FROM assigned a JOIN assigned b
        |      ON a.bucket = b.bucket AND b.vec_id != a.vec_id)
        |  WHERE rank <= 3)
        |SELECT e.vec_id AS id_a, e.n_id AS id_b,
        |  CAST(e.rank AS BIGINT) AS rank_ab,
        |  CAST(r.rank AS BIGINT) AS rank_ba, e.sim
        |FROM knn e JOIN knn r
        |  ON e.vec_id = r.n_id AND e.n_id = r.vec_id
        |WHERE e.vec_id < e.n_id
        |ORDER BY id_a, id_b""".stripMargin)),

    // ---- K-CORE of the MUTUAL-kNN graph (K=2, 3 peel rounds via
    // GraphOps.kCorePeel) — the community-density member of the graph
    // family, composing with q_mutual_knn: mutual pairs are the
    // high-precision duplicate EDGES; their 2-core keeps only nodes
    // whose reciprocation is CYCLIC (each survivor holds ≥2 mutual
    // neighbors that themselves survive) — duplicate communities and
    // template families, with pendant one-off pairs peeled away. The
    // mutual graph is the right substrate: measured on the driver
    // corpus the peel retains a substantial, slowly-shrinking core
    // (463→341→289→263 nodes over 3 rounds at sf0.001) whose degree
    // structure is scale-invariant, where a raw-kNN 4-core collapses
    // to near-empty. Rounds are FIXED so the unrolled-CTE oracle
    // replays the peel exactly (the labelPropagation discipline);
    // the bounded peel approaches the true core from above.
    "q_kcore" -> QueryDef(
      fn = (spark, dir) => {
        // mutual edges arrive with BOTH directions present (if (a,b)
        // passes the reciprocity semi-join, so does (b,a)) — exactly
        // kCorePeel's input contract; the knn frame feeds probe AND
        // build sides of that semi-join, so persist it (swap-release)
        val ek = graft.ops.BuildOnce.swapPersist(lastKcoreEdges,
          knnEdges(embFrame(spark, dir),
            centroidsFor(spark, dir, iters = 2), 3, corpusRows(spark, dir))
            .select(col("vec_id").as("src"), col("n_id").as("dst")))
        val mutual = ek.join(
          ek.select(col("dst").as("src"), col("src").as("dst")),
          Seq("src", "dst"), "left_semi")
        GraphOps.kCorePeel(mutual, k = 2, rounds = 3)
          .select(col("node").as("vec_id"), col("deg"))
          .orderBy("vec_id")
      },
      // every peel CTE is MATERIALIZED: DuckDB inlines plain CTEs, so
      // e3's tree would otherwise re-evaluate e2 twice (via n3 and
      // itself), e1 four times, ... and the expensive knn pair join
      // ~2^rounds times — measured as a >50 GB spill at sf1; with
      // materialization the chain is linear and knn runs once
      oracle = Some(embCte + s""",
        |${Similarity.lloydSql(2, cosSqlOf)},
        |${assignedSql("emb")},
        |knn AS MATERIALIZED (
        |  SELECT vec_id, n_id FROM (
        |    SELECT a.vec_id, b.vec_id AS n_id,
        |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
        |        ORDER BY ${cosSqlOf("a.v", "b.v")} DESC, b.vec_id) AS rank
        |    FROM assigned a JOIN assigned b
        |      ON a.bucket = b.bucket AND b.vec_id != a.vec_id)
        |  WHERE rank <= 3),
        |e0 AS MATERIALIZED (
        |       SELECT e.vec_id AS src, e.n_id AS dst FROM knn e
        |       JOIN knn r ON e.vec_id = r.n_id AND e.n_id = r.vec_id),
        |${(1 to 3).map(r => s"""n$r AS MATERIALIZED (
        |        SELECT src FROM e${r - 1}
        |        GROUP BY src HAVING COUNT(*) >= 2),
        |e$r AS MATERIALIZED (
        |        SELECT e.src, e.dst FROM e${r - 1} e
        |        JOIN n$r a ON e.src = a.src
        |        JOIN n$r b ON e.dst = b.src)""").mkString(",\n")}
        |SELECT src AS vec_id, CAST(COUNT(*) AS BIGINT) AS deg
        |FROM e3 GROUP BY src ORDER BY vec_id""".stripMargin))
  )

  /** DuckDB replay of the full IVF-PQ composition (training, bucketing,
    * coding, LUT, ADC, exact re-rank) — shared verbatim by
    * `q_ann_ivfpq` (in-memory) and `q_ann_ivfpq_indexed` (on-disk
    * layout): the two paths are bit-identical by construction.
    *
    * The ADC stage is ONE linear join (probes⨝assigned⨝codes⨝lut)
    * grouped per candidate, with the m per-subspace LUT values summed
    * via `list_reduce(list(l ORDER BY s), ..)` — explicitly
    * left-to-right, matching Spark's `l0 + l1 + ... + l7` column sum
    * bit-for-bit. The previous shape (8 self-joins of `codes` + 8 of
    * `lut`, 17 relations) was semantically identical but let DuckDB's
    * join-order enumerator chain the tiny `lut` relations together on
    * `q_id` alone — a 16^m cross-blowup per query id that spilled
    * >50 GB at sf1 before dying. Linear join + ordered reduce makes
    * that order unpickable. */
  private lazy val ivfPqOracleSql: String = {
        val m = 8
        embCte + s""",
        |${Similarity.lloydSql(2, cosSqlOf)},
        |assigned AS (
        |  SELECT n_id, bucket FROM (
        |    SELECT e.vec_id AS n_id, c.c_id AS bucket,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY ${cosSqlOf("e.v", "c.c_v")} DESC, c.c_id) AS c_rank
        |    FROM emb e CROSS JOIN cent2 c)
        |  WHERE c_rank = 1),
        |probes AS (
        |  SELECT q_id, bucket FROM (
        |    SELECT q.vec_id AS q_id, c.c_id AS bucket,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |        ORDER BY ${cosSqlOf("q.v", "c.c_v")} DESC, c.c_id) AS c_rank
        |    FROM emb q CROSS JOIN cent2 c WHERE q.vec_id < 20)
        |  WHERE c_rank <= 2),
        |${Similarity.pqSql(m, 8, 1)},
        |lut AS (
        |  SELECT q.vec_id AS q_id, c.s, c.c_id,
        |    list_inner_product(q.v[c.s * 8 + 1 : c.s * 8 + 8], c.c_v) AS l
        |  FROM emb q JOIN pcent1 c ON q.vec_id < 20),
        |adc AS (
        |  SELECT q_id, n_id,
        |    list_reduce(list(l ORDER BY s), (a, b) -> a + b) AS adc
        |  FROM (
        |    SELECT p.q_id, a.n_id, c.s, lu.l
        |    FROM probes p
        |    JOIN assigned a ON a.bucket = p.bucket
        |    JOIN codes c ON c.vec_id = a.n_id
        |    JOIN lut lu ON lu.q_id = p.q_id AND lu.s = c.s AND lu.c_id = c.k
        |    WHERE a.n_id != p.q_id)
        |  GROUP BY q_id, n_id),
        |cand AS (
        |  SELECT q_id, n_id FROM (
        |    SELECT q_id, n_id,
        |      ROW_NUMBER() OVER (PARTITION BY q_id
        |        ORDER BY adc DESC, n_id) AS ar
        |    FROM adc)
        |  WHERE ar <= 20)
        |SELECT q_id, rank, n_id, sim FROM (
        |  SELECT c.q_id, c.n_id,
        |    ${cosSqlOf("q.v", "n.v")} AS sim,
        |    ROW_NUMBER() OVER (PARTITION BY c.q_id
        |      ORDER BY ${cosSqlOf("q.v", "n.v")} DESC, c.n_id) AS rank
        |  FROM cand c
        |  JOIN emb q ON q.vec_id = c.q_id
        |  JOIN emb n ON n.vec_id = c.n_id)
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
  }
}
