package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, QueryModule, Tables}

/** Hybrid retrieval — the fusion layer of a modern RAG / search stack:
  * a LEXICAL ranking (exact-rational BM25, shared expression tree with
  * `q_bm25` via [[TextFunctions.bm25Scored]]) and a SEMANTIC ranking
  * (embedding cosine, the `q_ann_cosine_topk` contract) are combined
  * by Reciprocal-Rank Fusion: score(d) = Σ_lists 1/(k + rank_list(d)),
  * k = 60 (the constant from Cormack & Clarke, SIGIR'09 — public
  * method, universally used because it needs no score calibration
  * between lists whose scales are incomparable).
  *
  * Scale shape (the reason RRF is THE production fusion): each leg
  * produces only its top-k candidates (here the lexical leg is a
  * TakeOrdered over a single corpus scan and the semantic leg is the
  * ANN probe — at 100 TB the indexed variants `q_bm25_indexed` /
  * `q_ann_ivfpq_indexed` serve the same contract from pruned on-disk
  * layouts), so fusion itself joins two k-row frames: O(k), driver- and
  * shuffle-free, regardless of corpus size. Multi-query fusion is the
  * same plan with `q_id` prepended to every partition/join key.
  *
  * Determinism contract for the DuckDB oracle: ranks are ROW_NUMBER
  * under a total order (score DESC, id) and the fused score is
  * `coalesce(1.0/(r_lex+60),0) + coalesce(1.0/(r_sem+60),0)` — two
  * integer-operand IEEE divisions and one addition in fixed order, so
  * the double hash-matches across engines (a SUM aggregate over a
  * variable number of doubles would not).
  *
  * The documents and embeddings tables pair 1:1 by id (doc_id ≡
  * vec_id — the embedding of each doc), which is exactly the layout a
  * real pipeline's "embed every document" stage produces.
  */
object RetrievalQueries extends QueryModule {
  import VectorFunctions.cosine

  /** Fused-list depth (per-leg top-k) and the RRF smoothing constant. */
  val FuseDepth = 50
  val RrfK = 60

  /** Embedding corpus + DuckDB mirror + cosine SQL, all DELEGATED to
    * the Similarity module so the zero-norm exclusion contract (Spark
    * 0/0→NULL vs DuckDB 0/0→NaN rank divergence) is defined in exactly
    * one place and the hybrid legs can never drift from the ANN
    * queries they share results with. */
  private def embFrame(spark: SparkSession, dir: String): DataFrame =
    SimilarityQueries.embCorpus(spark, dir)

  private def embCte: String = SimilarityQueries.embCteBody

  private def cosSqlOf(a: String, b: String): String =
    SimilarityQueries.cosSqlOf(a, b)

  /** The build-once plain-IVF `VectorIndex` layout the indexed
    * hybrid's semantic leg probes, trained with the SHARED `q_ann_ivf`
    * centroids (one training serves every consumer) and opened once
    * per session, so repeat probes reuse the resolved FileIndex. */
  private def vecIndexFor(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Fs.resolvedParquet(spark,
      graft.ops.BuildOnce.dir("hybrid_vec_index", spark,
          Tables.paths(dir, "embeddings")) { idx =>
        graft.ops.VectorIndex.build(
          SimilarityQueries.embCorpus(spark, dir),
          SimilarityQueries.ivfCentroids(spark, dir), idx)
      })

  override def defs: Seq[(String, QueryDef)] = Seq(

    // ---- Reciprocal-rank fusion of BM25 and embedding-cosine top-50
    // lists. Each leg ends in TakeOrderedAndProject (distributed top-k,
    // no global sort); the rank ROW_NUMBER then runs on the k-row
    // result — the one intentionally-single-partition window in this
    // module, over exactly FuseDepth rows. The fusion join is a
    // full-outer of two k-row frames (a doc may appear in either leg
    // alone — RRF's whole point), cost O(k) independent of corpus size.
    "q_hybrid_rrf" -> QueryDef(
      fn = (spark, dir) => {
        // lexical leg: shared BM25 tree, top-50 under (score, doc_id)
        val lexW = Window.orderBy(col("score").desc, col("doc_id"))
        val lex = TextFunctions.bm25Scored(spark, dir, TextQueries.bm25Terms)
          .filter(col("score") > 0)
          .orderBy(col("score").desc, col("doc_id")).limit(FuseDepth)
          .withColumn("r_lex", row_number().over(lexW).cast("long"))
          .select("doc_id", "r_lex")
        // semantic leg: cosine vs the query doc's embedding (doc 0),
        // corpus scanned once with the broadcast 1-row query side
        val emb = embFrame(spark, dir)
        val qv = emb.filter(col("vec_id") === 0).select(col("v").as("q_v"))
        val semW = Window.orderBy(col("sim").desc, col("doc_id"))
        val sem = emb.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(qv))
          .select(col("vec_id").as("doc_id"),
            cosine(col("q_v"), col("v")).as("sim"))
          .orderBy(col("sim").desc, col("doc_id")).limit(FuseDepth)
          .withColumn("r_sem", row_number().over(semW).cast("long"))
          .select("doc_id", "r_sem")
        lex.join(sem, Seq("doc_id"), "full_outer")
          .withColumn("rrf",
            coalesce(lit(1.0) / (col("r_lex") + RrfK).cast("double"), lit(0.0)) +
              coalesce(lit(1.0) / (col("r_sem") + RrfK).cast("double"), lit(0.0)))
          .orderBy(col("rrf").desc, col("doc_id")).limit(20)
          .select("doc_id", "r_lex", "r_sem", "rrf")
      },
      oracle = Some(s"""
        |WITH ${TextFunctions.bm25ScoredCtes(TextQueries.bm25Terms)},
        |lex AS (
        |  SELECT doc_id, r_lex FROM (
        |    SELECT doc_id,
        |      CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
        |        AS r_lex
        |    FROM scored WHERE score > 0)
        |  WHERE r_lex <= $FuseDepth),
        |$embCte,
        |sem AS (
        |  SELECT doc_id, r_sem FROM (
        |    SELECT n.vec_id AS doc_id,
        |      CAST(ROW_NUMBER() OVER (
        |        ORDER BY ${cosSqlOf("q.v", "n.v")} DESC, n.vec_id) AS BIGINT)
        |        AS r_sem
        |    FROM emb n CROSS JOIN (SELECT v FROM emb WHERE vec_id = 0) q
        |    WHERE n.vec_id != 0)
        |  WHERE r_sem <= $FuseDepth)
        |SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id, r_lex, r_sem,
        |  COALESCE(1.0/CAST(r_lex + $RrfK AS DOUBLE), 0.0)
        |    + COALESCE(1.0/CAST(r_sem + $RrfK AS DOUBLE), 0.0) AS rrf
        |FROM lex FULL JOIN sem ON lex.doc_id = sem.doc_id
        |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin),
      bench = true),

    // ---- The SERVED form: both legs probe materialized on-disk
    // indexes ("build once, probe many" — at 100 TB retrieval cost is
    // probe cost, never a corpus scan per query). Lexical leg:
    // `InvertedIndex.probe` — terms' posting-list partitions only,
    // bit-identical scores to the full scan (InvertedIndexSpec), so
    // the lex CTEs are shared verbatim. Semantic leg: plain-IVF
    // `VectorIndex.probe` at nprobe=2 over the q_ann_ivf-trained
    // centroids — APPROXIMATE by design (candidates only from probed
    // buckets), and the oracle replays training+assignment+probe
    // exactly, so even the approximation is hash-checked, not
    // recall-gated. Fusion is unchanged: O(k) over two k-row lists.
    "q_hybrid_rrf_indexed" -> QueryDef(
      fn = (spark, dir) => {
        val lexW = Window.orderBy(col("score").desc, col("doc_id"))
        val lex = graft.ops.InvertedIndex.probe(
            TextQueries.invIndexFor(spark, dir),
            TextQueries.bm25Terms, FuseDepth)
          .withColumn("r_lex", row_number().over(lexW).cast("long"))
          .select("doc_id", "r_lex")
        val qv = embFrame(spark, dir).filter(col("vec_id") === 0)
          .select(col("vec_id").as("q_id"), col("v").as("q_v"))
        val sem = graft.ops.VectorIndex.probe(
            vecIndexFor(spark, dir), qv,
            SimilarityQueries.ivfCentroids(spark, dir),
            nprobe = 2, k = FuseDepth, metaFilter = None)
          .select(col("n_id").as("doc_id"), col("rank").as("r_sem"))
        lex.join(sem, Seq("doc_id"), "full_outer")
          .withColumn("rrf",
            coalesce(lit(1.0) / (col("r_lex") + RrfK).cast("double"), lit(0.0)) +
              coalesce(lit(1.0) / (col("r_sem") + RrfK).cast("double"), lit(0.0)))
          .orderBy(col("rrf").desc, col("doc_id")).limit(20)
          .select("doc_id", "r_lex", "r_sem", "rrf")
      },
      oracle = Some(s"""
        |WITH ${TextFunctions.bm25ScoredCtes(TextQueries.bm25Terms)},
        |lex AS (
        |  SELECT doc_id, r_lex FROM (
        |    SELECT doc_id,
        |      CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
        |        AS r_lex
        |    FROM scored WHERE score > 0)
        |  WHERE r_lex <= $FuseDepth),
        |$embCte,
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
        |    FROM emb q CROSS JOIN cent2 c WHERE q.vec_id = 0)
        |  WHERE c_rank <= 2),
        |sem AS (
        |  SELECT doc_id, r_sem FROM (
        |    SELECT a.n_id AS doc_id,
        |      CAST(ROW_NUMBER() OVER (
        |        ORDER BY ${cosSqlOf("p.q_v", "a.n_v")} DESC, a.n_id) AS BIGINT)
        |        AS r_sem
        |    FROM probes p JOIN assigned a ON p.bucket = a.bucket
        |    WHERE a.n_id != p.q_id)
        |  WHERE r_sem <= $FuseDepth)
        |SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id, r_lex, r_sem,
        |  COALESCE(1.0/CAST(r_lex + $RrfK AS DOUBLE), 0.0)
        |    + COALESCE(1.0/CAST(r_sem + $RrfK AS DOUBLE), 0.0) AS rrf
        |FROM lex FULL JOIN sem ON lex.doc_id = sem.doc_id
        |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin),
      bench = true)
  )
}
