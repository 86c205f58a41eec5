package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, QueryModule, Tables}

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language ID, fingerprinting.
  * All per-row, narrow, whole-stage-codegen'd column expressions —
  * they scale linearly and shuffle nothing.
  */
object TextFunctions {

  /** Whitespace tokenization (the baseline tokenizer) — the ONE
    * tokenizer definition every operator and query routes through.
    * The explicit class is RE2's `\s` ([ \t\n\f\r]); Java's `\s`
    * additionally includes vertical tab (0x0B), so split("\\s+")
    * would tokenize a VT-bearing text differently than the DuckDB
    * string_split_regex('\s+') oracles. */
  def wsTokens(text: Column): Column = split(text, "[ \\t\\n\\f\\r]+")

  /** BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation. */
  // [^...] uses the same explicit RE2-\s class as wsTokens (no 0x0B)
  val bpeishPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\f\\r]"

  def bpeishCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpeishPattern), lit(0))).cast("long")

  /** Ratio of punctuation (non-alphanumeric, non-space) chars. */
  def punctRatio(text: Column): Column =
    length(regexp_replace(text, "[A-Za-z0-9 ]", "")).cast("double") / length(text)

  val enStop = Seq("the", "a", "of", "and", "to", "in", "is", "on", "for")
  val esStop = Seq("el", "la", "de", "que", "y", "en", "los", "se", "del")
  val frStop = Seq("le", "la", "de", "et", "les", "des", "un", "une", "est")
  val deStop = Seq("der", "die", "und", "das", "ist", "von", "den", "mit", "ein")

  def countIn(tokens: Column, words: Seq[String]): Column =
    size(filter(tokens, tok => tok.isin(words.map(lit(_)): _*))).cast("long")

  /** Stopword ratio over whitespace tokens (English list). */
  def stopwordRatio(tokens: Column): Column =
    countIn(tokens, enStop).cast("double") / size(tokens)

  /** Composite quality score in [0,1]-ish: rewards mid-length docs with
    * low punctuation and a healthy stopword rate. Pure double math. */
  def qualityScore(text: Column, tokens: Column): Column =
    (least(length(text).cast("double") / lit(500.0), lit(1.0)) * lit(0.4)) +
      ((lit(1.0) - least(punctRatio(text) * lit(10.0), lit(1.0))) * lit(0.3)) +
      (least(stopwordRatio(tokens) * lit(5.0), lit(1.0)) * lit(0.3))

  /** CJK-character count — the zh signal for language ID. */
  def cjkCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[一-鿿]"), lit(0))).cast("long")

  /** Stopword-profile language ID with a fixed tie-break order
    * (zh > en > es > fr > de). Deterministic, SQL-expressible. */
  def langId(text: Column, tokens: Column): Column = {
    val (en, es, fr, de) = (countIn(tokens, enStop), countIn(tokens, esStop),
      countIn(tokens, frStop), countIn(tokens, deStop))
    when(cjkCount(text) > 0, "zh")
      .when(en >= es && en >= fr && en >= de, "en")
      .when(es >= fr && es >= de, "es")
      .when(fr >= de, "fr")
      .otherwise("de")
  }

  /** Benchmark decontamination — flag corpus documents sharing any
    * `n`-token shingle with an evaluation set (the standard exact
    * n-gram-collision rule for keeping eval data out of training
    * data).
    *
    * Scale shape: the eval set is small by construction, so its
    * distinct shingles BROADCAST; the corpus side is one narrow
    * shingle explode + a broadcast semi-join — the corpus is never
    * shuffled. Contamination at 100 TB costs one pass. */
  def decontaminate(corpus: DataFrame, eval: DataFrame, n: Int): DataFrame = {
    val evalGrams = eval
      .select(explode(graft.functions.ShingleSet.shingleSet(col("text"), n)).as("g"))
      .distinct()
    corpus
      .select(col("doc_id"),
        explode(graft.functions.ShingleSet.shingleSet(col("text"), n)).as("g"))
      .join(broadcast(evalGrams), Seq("g"), "left_semi")
      .select("doc_id").distinct()
  }

  /** [[decontaminate]] for when the eval set's shingle dictionary is
    * too large to broadcast as a hash set (a full eval-suite union at
    * 100 TB can carry billions of distinct n-grams): sketch the eval
    * shingles into ONE bloom filter (Spark's own
    * `BloomFilterAggregate`, the machinery AQE's runtime filters use —
    * [[graft.functions.BloomSketch]]), ship it as a `nBits/8`-byte
    * plan literal, and kill definitely-clean corpus shingles with a
    * narrow codegen'd `might_contain` BEFORE the exchange. Only
    * bloom-surviving shingles (true collisions + the fp rate) reach
    * the exact confirming semi-join — deliberately NOT a broadcast
    * join: the eval side shuffles once, the corpus side ships only
    * survivors. Blooms have no false negatives and the confirm join
    * removes false positives, so the result is IDENTICAL to the exact
    * [[decontaminate]] — the driver's oracle hash gate doubles as the
    * proof. */
  /** The eval-gram frame is used twice per call (sketch build, then
    * confirm join) — persisted with swap-release bounding (one live
    * copy across invocations, the Dedup.lastSigs pattern) so the
    * explode+distinct shuffle over the eval set runs once, not twice. */
  private val lastEvalGrams =
    graft.ops.BuildOnce.swapRef()

  def decontaminateBloom(corpus: DataFrame, eval: DataFrame, n: Int): DataFrame = {
    val evalGrams = graft.ops.BuildOnce.swapPersist(lastEvalGrams, eval
      .select(explode(graft.functions.ShingleSet.shingleSet(col("text"), n)).as("g"))
      .distinct())
    // bounded driver data (the sketch-class exemption): 2^20 bits =
    // 128 KiB regardless of eval size, like a broadcast var
    val sketch = evalGrams
      .agg(graft.functions.BloomSketch
        .bloomAgg(xxhash64(col("g")), 1L << 16, 1L << 20).as("bf"))
      .head().getAs[Array[Byte]](0)
    corpus
      .select(col("doc_id"),
        explode(graft.functions.ShingleSet.shingleSet(col("text"), n)).as("g"))
      .filter(graft.functions.BloomSketch
        .mightContain(lit(sketch), xxhash64(col("g"))))
      .join(evalGrams, Seq("g"), "left_semi")
      .select("doc_id").distinct()
  }

  /** Token-window document chunking — the context-length preprocessing
    * step of a training pipeline: each document splits into windows of
    * `window` tokens advancing by `stride` (overlap = window - stride),
    * so no token span longer than the model context is lost at chunk
    * boundaries. One narrow pass (split + explode of a per-row
    * sequence) — no shuffle, scales linearly. */
  def chunkDocs(docs: DataFrame, window: Int, stride: Int): DataFrame = {
    require(stride > 0 && stride <= window, s"stride $stride vs window $window")
    val toks = wsTokens(col("text"))
    val n = size(toks)
    // starts: 0, stride, 2*stride, ... last one < n (a doc shorter than
    // one window still yields its single partial chunk)
    val nChunks = greatest(ceil((n - lit(window)).cast("double") / stride)
      .cast("int") + 1, lit(1))
    docs
      .withColumn("__toks", toks)
      .withColumn("chunk_idx", explode(sequence(lit(0), nChunks - 1)))
      .select(
        col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        concat_ws(" ",
          slice(col("__toks"), col("chunk_idx") * stride + 1, lit(window)))
          .as("chunk_text"),
        least(size(col("__toks")) - col("chunk_idx") * stride, lit(window))
          .cast("long").as("n_chunk_tokens"))
  }

  /** Adjacent-token pairs within one document — the unit the first
    * BPE merge iteration of tokenizer training counts. Built narrowly
    * inside the row: two shifted slices zipped, so the token array is
    * never exploded twice and nothing shuffles until the pair count.
    * A 1-token (or empty) doc yields an empty pair list, which the
    * downstream explode drops. */
  def adjacentPairs(tokens: Column): Column =
    zip_with(
      slice(tokens, lit(1), greatest(size(tokens) - 1, lit(0))),
      slice(tokens, lit(2), greatest(size(tokens) - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))

  /** Two-pass exact heavy hitters: tokens with frequency >
    * total/denom, with exact counts.
    *
    * Pass 1 (sketch): [[graft.functions.MisraGries]] keeps at most `k`
    * counters per partition, so the full token multiset is NEVER
    * shuffled — only k-counter sketches merge. The result (candidate
    * superset + exact total) is one tiny driver-side row: sketch
    * metadata, like AQE's runtime stats, not data. Pass 2 (verify):
    * exact counts for candidates only — the pre-shuffle filter means
    * the groupBy shuffles <= k distinct tokens. Output is exact and
    * deterministic regardless of partitioning (k >= denom makes the
    * sketch's n/(k+1) error smaller than the n/denom threshold, so no
    * true hitter can be missed). */
  def heavyHitters(docs: DataFrame, denom: Int, k: Int = 256): DataFrame = {
    require(k >= denom, s"sketch width $k cannot guarantee n/$denom hitters")
    val tokens = docs
      .select(explode(wsTokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
    val sketch = tokens
      .select(graft.functions.MisraGries.sketch(col("token"), k).as("s"))
      .select(col("s.candidates"), col("s.total"))
      .head()
    val (cands, total) = (sketch.getSeq[String](0), sketch.getLong(1))
    tokens.filter(col("token").isin(cands: _*))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * denom > lit(total))
      .orderBy(col("cnt").desc, col("token"))
  }

  /** One term's BM25 contribution in the exact-rational house form
    * (see `q_bm25`): ratio idf × fraction-cleared tf normalization
    * (k1=1.2, b=0.75), exact-BIGINT operands, one IEEE division each
    * side. SHARED by the full-scan query and the InvertedIndex probe —
    * the probe's bit-identity to the scan depends on both paths
    * evaluating this exact expression tree.
    *
    * @param tf term frequency in the doc   @param df docs containing term
    * @param dl doc token length            @param n  corpus doc count
    * @param t  corpus total tokens */
  def bm25TermScore(tf: Column, df: Column, dl: Column,
      n: Column, t: Column): Column =
    ((n * 2 - df * 2 + 1).cast("double") / (df * 2 + 1).cast("double")) *
      ((tf * t * 22).cast("double") /
        (tf * t * 10 + t * 3 + dl * n * 9).cast("double"))

  /** The BM25-scored corpus: (doc_id, dl, score) for `terms` — the
    * expression tree SHARED by `q_bm25` (which top-10s it) and the
    * hybrid rank-fusion retrieval ([[RetrievalQueries]], which fuses
    * its ranking with an embedding ranking). Sharing matters for
    * correctness, not just DRY: the fused ranks are only comparable to
    * the standalone query's because both paths evaluate the identical
    * exact-rational score. Shape: per-doc tf counts are narrow
    * codegen'd array ops (no explode), corpus stats are ONE single-row
    * aggregate broadcast back — the corpus is scanned once and never
    * shuffled. */
  def bm25Scored(spark: SparkSession, dir: String,
      terms: Seq[String]): DataFrame = {
    // widen before the tokenize: the corpus fixture is a single-row-
    // group file (one scan task) and BOTH consumers of `base` (the
    // stats aggregate and the final scoring pass) plan the tokenizer
    // into that scan stage (ops/Parallelism; identity at scale)
    val base0 = graft.ops.Parallelism.widen(
      Tables(spark, dir, "documents").select(col("doc_id"), col("text")),
      col("doc_id"))
      .select(col("doc_id"),
        filter(wsTokens(col("text")), t => t =!= "").as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    val base = terms.zipWithIndex.foldLeft(base0) { case (d, (t, i)) =>
      d.withColumn(s"tf$i",
        size(filter(col("toks"), x => x === lit(t))).cast("long"))
    }.drop("toks")
    val stats = base.agg(
      count(lit(1)).as("n_docs"),
      sum(col("dl")).as("total_dl") +:
        terms.indices.map(i =>
          sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i")): _*)
    def termScore(i: Int) = bm25TermScore(col(s"tf$i"), col(s"df$i"),
      col("dl"), col("n_docs"), col("total_dl"))
    base.crossJoin(broadcast(stats))
      .withColumn("score",
        terms.indices.map(termScore).reduceLeft(_ + _))
      .select("doc_id", "dl", "score")
  }

  /** DuckDB CTE list (tok, base, stats, scored) replaying
    * [[bm25Scored]] exactly — compose as `s"WITH $ctes SELECT ..."`.
    * Shared by the q_bm25 oracle and the hybrid-fusion oracle. */
  def bm25ScoredCtes(terms: Seq[String]): String = {
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(toks, x -> x = '$t')) AS BIGINT) AS tf$i"
    }.mkString(",\n        |    ")
    val dfCols = terms.indices.map(i =>
      s"CAST(SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i"
    ).mkString(",\n        |    ")
    val scoreSum = terms.indices.map(i =>
      s"""(CAST(s.n_docs*2 - s.df$i*2 + 1 AS DOUBLE) / CAST(s.df$i*2 + 1 AS DOUBLE))
        |      * (CAST(b.tf$i * s.total_dl * 22 AS DOUBLE)
        |         / CAST(b.tf$i * s.total_dl * 10 + s.total_dl * 3 + b.dl * s.n_docs * 9 AS DOUBLE))"""
    ).mkString("\n        |    + ")
    s"""tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS toks
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
        |    $tfCols
        |  FROM tok),
        |stats AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(dl) AS BIGINT) AS total_dl,
        |    $dfCols
        |  FROM base),
        |scored AS (
        |  SELECT b.doc_id, b.dl,
        |    $scoreSum AS score
        |  FROM base b CROSS JOIN stats s)""".stripMargin
  }
}

object TextQueries extends QueryModule {
  import TextFunctions._

  private def listSql(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(", ")
  private val stopList = listSql(enStop)

  /** q_token_lift's pair-count frame cache — bounded at one copy
    * across invocations (the Dedup.lastSigs swap-release pattern). */
  private val lastPairs =
    graft.ops.BuildOnce.swapRef()

  /** q_bigram_oov's bigram-stream cache — same swap-release bounding. */
  private val lastBigrams =
    graft.ops.BuildOnce.swapRef()

  /** q_lm_surprisal's LM-broadcast license: corpora whose FILE bytes
    * sit under this bound have a bigram LM that broadcasts safely
    * (bigram TYPES are sublinear in tokens — Heaps' law — so a ≤1 GiB
    * corpus yields an LM far under the 8 GB / 512M-row broadcast cap,
    * typically a few hundred MB framed). The signal is the listed
    * FileIndex size via logical stats: free, no counting job per run.
    * Past the bound the scoring join stays cost-model-chosen. */
  private[graft] val LmBroadcastMaxCorpusBytes: Long = 1L << 30

  override def defs: Seq[(String, QueryDef)] = Seq(

    // ---- BIGRAM LANGUAGE-MODEL STATS: top-3 next tokens per head
    // with exact conditional-probability basis points — the n-gram LM
    // table a data-quality pipeline derives per corpus snapshot. The
    // bigram stream is generated MAP-SIDE by zipping the token array
    // against its own tail (zip_with over two slices — no self-join,
    // no window, the explode is the only row amplification), so the
    // only shuffles are the two bounded-cardinality count
    // aggregations. Top-3 per head goes through the TopKPerKey
    // operator (bounded heaps, <=k rows per head per partition reach
    // the exchange); the oracle replays it as the window formulation,
    // re-proving operator equivalence on a second corpus shape. The
    // head_total floor keeps the table to heads with enough mass for
    // the probabilities to be meaningful (and scale-stable: totals
    // only grow with corpus size).
    "q_bigram_lm" -> QueryDef(
      fn = (spark, dir) => {
        val toks = filter(wsTokens(col("text")), t => t =!= "")
        val bg = Tables(spark, dir, "documents")
          .select(toks.as("t")).filter(size(col("t")) >= 2)
          .select(explode(zip_with(
            slice(col("t"), lit(1), size(col("t")) - 1),
            slice(col("t"), lit(2), size(col("t")) - 1),
            (a, b) => struct(a.as("head"), b.as("next")))).as("bg"))
          .select(col("bg.head").as("head"), col("bg.next").as("next"))
        val cnt = bg.groupBy("head", "next").agg(count(lit(1)).as("cnt"))
        val tot = cnt.groupBy("head").agg(sum("cnt").as("head_total"))
        graft.plans.TopK.perKey(cnt, 3, Seq("head"),
            Seq("cnt" -> false, "next" -> true))
          .join(tot, "head")
          .filter(col("head_total") >= 50)
          .select(col("head"), col("next"), col("cnt"), col("head_total"),
            floor(col("cnt") * 10000.0 / col("head_total") + 0.5)
              .cast("long").as("p_bp"))
          .orderBy(col("head"), col("cnt").desc, col("next"))
      },
      oracle = Some("""
        |WITH tok AS (
        |  SELECT string_split_regex(text, '\s+') AS t FROM documents),
        |bg AS (
        |  SELECT unnest(t[1:len(t)-1]) AS head, unnest(t[2:len(t)]) AS next
        |  FROM tok WHERE len(t) >= 2),
        |cnt AS (SELECT head, next, COUNT(*) AS cnt FROM bg GROUP BY 1, 2),
        |tot AS (SELECT head, CAST(SUM(cnt) AS BIGINT) AS head_total
        |        FROM cnt GROUP BY 1),
        |rk AS (SELECT c.head, c.next, c.cnt, t.head_total,
        |         ROW_NUMBER() OVER (PARTITION BY c.head
        |                            ORDER BY c.cnt DESC, c.next) AS rn
        |       FROM cnt c JOIN tot t USING (head))
        |SELECT head, next, cnt, head_total,
        |  CAST(FLOOR(cnt * 10000.0 / head_total + 0.5) AS BIGINT) AS p_bp
        |FROM rk WHERE rn <= 3 AND head_total >= 50
        |ORDER BY head, cnt DESC, next""".stripMargin)),

    // ---- BIGRAM OOV RATE — the curation use of the LM table: per
    // doc, the fraction of bigrams outside the corpus's own
    // high-frequency bigram vocabulary (share >= 0.1% of all bigram
    // occurrences — relative, so the split is scale-stable). A high
    // OOV rate is the classic fluency/garbage proxy when no external
    // model is available. Scale shape: the known-bigram table is
    // bounded (vocabulary-squared at most, far less under the
    // frequency floor), so membership is a BROADCAST anti-join on the
    // map-side-generated bigram stream — the corpus shuffles only for
    // the two per-doc count aggregations, both on doc_id.
    "q_bigram_oov" -> QueryDef(
      fn = (spark, dir) => {
        val toks = filter(wsTokens(col("text")), t => t =!= "")
        // read by the global count, the anti-join probe AND the
        // per-doc denominator => persist, swap-released
        val bg = graft.ops.BuildOnce.swapPersist(lastBigrams,
          // widen before the tokenize+explode (single-row-group scan;
          // the persisted bigram stream inherits the width for every
          // downstream pass — ops/Parallelism, identity at scale)
          graft.ops.Parallelism.widen(
            Tables(spark, dir, "documents")
              .select(col("doc_id"), col("text")), col("doc_id"))
            .select(col("doc_id"), toks.as("t"))
            .filter(size(col("t")) >= 2)
            .select(col("doc_id"), explode(zip_with(
              slice(col("t"), lit(1), size(col("t")) - 1),
              slice(col("t"), lit(2), size(col("t")) - 1),
              (a, b) => struct(a.as("head"), b.as("next")))).as("bg"))
            .select(col("doc_id"), col("bg.head").as("head"),
              col("bg.next").as("next")))
        val cnt = bg.groupBy("head", "next").agg(count(lit(1)).as("cnt"))
        val tot = cnt.agg(sum("cnt").as("n_total"))
        val known = cnt.crossJoin(broadcast(tot))
          .filter(col("cnt") >= col("n_total") * 0.001)
          .select("head", "next")
        val oov = bg.join(broadcast(known), Seq("head", "next"), "left_anti")
          .groupBy("doc_id").agg(count(lit(1)).as("n_oov"))
        bg.groupBy("doc_id").agg(count(lit(1)).as("n_bigrams"))
          .join(oov, Seq("doc_id"), "left").na.fill(0L, Seq("n_oov"))
          .select(col("doc_id"), col("n_bigrams"), col("n_oov"),
            floor(col("n_oov") * 10000.0 / col("n_bigrams") + 0.5)
              .cast("long").as("oov_bp"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        |WITH tok AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents),
        |bg AS (
        |  SELECT doc_id, unnest(t[1:len(t)-1]) AS head,
        |         unnest(t[2:len(t)]) AS next
        |  FROM tok WHERE len(t) >= 2),
        |cnt AS (SELECT head, next, COUNT(*) AS cnt FROM bg GROUP BY 1, 2),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM cnt),
        |known AS (SELECT head, next FROM cnt
        |          WHERE cnt >= (SELECT n_total FROM tot) * 0.001),
        |perdoc AS (SELECT doc_id, COUNT(*) AS n_bigrams FROM bg GROUP BY 1),
        |oov AS (SELECT b.doc_id, COUNT(*) AS n_oov FROM bg b
        |        WHERE NOT EXISTS (SELECT 1 FROM known k
        |                          WHERE k.head = b.head AND k.next = b.next)
        |        GROUP BY 1)
        |SELECT p.doc_id, p.n_bigrams, COALESCE(o.n_oov, 0) AS n_oov,
        |  CAST(FLOOR(COALESCE(o.n_oov, 0) * 10000.0 / p.n_bigrams + 0.5)
        |    AS BIGINT) AS oov_bp
        |FROM perdoc p LEFT JOIN oov o USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // ---- LM SURPRISAL FILTER — the perplexity-style quality score
    // (the CCNet "LM filter" stage) made hash-checkable: per doc, the
    // mean conditional surprisal of its bigrams under the corpus's
    // OWN bigram LM, in integer BIT units. The trick is the log:
    // -log2 P(next|head) = log2(head_total/cnt) is transcendental and
    // engine-float-dependent, but its integer surrogate
    //   bits = bitlen(head_total) - bitlen(cnt)
    // (bitlen x = floor(log2 x)+1 = length of the binary rendering —
    // Spark `bin`, DuckDB printf('%b')) brackets it within ±1 bit and
    // is EXACT integer arithmetic, so the hash gate holds by
    // construction. Rare continuations (cnt small vs the head's mass)
    // score high; formulaic text scores near 0 — the same ordering
    // the real log gives at whole-bit granularity, which is all a
    // keep/drop threshold consumes. Scale shape: the bigram stream is
    // map-side (zip_with, no self-join); the LM table is Heaps-law
    // bounded so its window pass is cheap; the one real exchange is
    // the (head, next) equi-join of stream against LM — at 100 TB the
    // frequency-pruned LM broadcasts and even unpruned it's a
    // standard shuffle join AQE handles — then the per-doc rollup.
    // The mean is the q_bigram_lm basis-point pattern: one double
    // mul/div on exact integers, identically associated both sides.
    "q_lm_surprisal" -> QueryDef(
      fn = (spark, dir) => {
        val toks = filter(wsTokens(col("text")), t => t =!= "")
        val docs = Tables(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
        // FREE scale signal (no counting job): the corpus's file bytes
        // from the already-listed FileIndex via logical stats. Under
        // the gate the Heaps-law-bounded LM (and its head-total table)
        // broadcasts SAFELY — the corpus-sized bigram stream is then
        // never shuffled for the scoring join; past the gate the joins
        // stay cost-model-chosen (the guide's rule: hint only what you
        // KNOW fits — size estimates of derived frames are unreliable,
        // a frozen hint on an unbounded LM would OOM the driver).
        val lmFits =
          docs.queryExecution.analyzed.stats.sizeInBytes <= LmBroadcastMaxCorpusBytes
        def gated(df: org.apache.spark.sql.DataFrame) =
          if (lmFits) broadcast(df) else df
        // read by the LM counts AND the scoring join => persist once
        // (swap-released, same bounded slot as q_bigram_oov's stream)
        val bg = graft.ops.BuildOnce.swapPersist(lastBigrams,
          // widen before the tokenize+explode (single-row-group scan;
          // the persisted bigram stream inherits the width for every
          // downstream pass — ops/Parallelism, identity at scale)
          graft.ops.Parallelism.widen(docs, col("doc_id"))
            .select(col("doc_id"), toks.as("t"))
            .filter(size(col("t")) >= 2)
            .select(col("doc_id"), explode(zip_with(
              slice(col("t"), lit(1), size(col("t")) - 1),
              slice(col("t"), lit(2), size(col("t")) - 1),
              (a, b) => struct(a.as("head"), b.as("next")))).as("bg"))
            .select(col("doc_id"), col("bg.head").as("head"),
              col("bg.next").as("next")))
        val cnt = bg.groupBy("head", "next").agg(count(lit(1)).as("cnt"))
        // head totals as an AGGREGATE + equi-join instead of a window
        // over the LM: the window re-exchanged the ENTIRE LM by head
        // and sorted it; the totals frame is head-vocabulary-sized
        // (strictly smaller than the LM) and attaches without moving
        // the LM at all under the broadcast gate. Aggregated straight
        // off the CACHED bigram stream (not off cnt — a second
        // reference to cnt would duplicate its whole aggregation
        // subtree in the plan, since nothing materializes it). Same
        // exact integer per (head, next): count over the head ≡ sum
        // of cnt over the head.
        val heads = bg.groupBy("head").agg(count(lit(1)).as("head_total"))
        val lm = cnt.join(gated(heads), Seq("head"))
        val bits = (length(bin(col("head_total"))) -
          length(bin(col("cnt")))).cast("long")
        bg.join(gated(lm), Seq("head", "next"))
          .select(col("doc_id"), bits.as("bits"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"), sum("bits").as("sum_bits"))
          .select(col("doc_id"), col("n_bigrams"), col("sum_bits"),
            floor(col("sum_bits") * 100.0 / col("n_bigrams") + 0.5)
              .cast("long").as("avg_centibits"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        |WITH tok AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents),
        |bg AS (
        |  SELECT doc_id, unnest(t[1:len(t)-1]) AS head,
        |         unnest(t[2:len(t)]) AS next
        |  FROM tok WHERE len(t) >= 2),
        |cnt AS (SELECT head, next, COUNT(*) AS cnt FROM bg GROUP BY 1, 2),
        |lm AS (SELECT head, next, cnt,
        |         CAST(SUM(cnt) OVER (PARTITION BY head) AS BIGINT)
        |           AS head_total
        |       FROM cnt),
        |sc AS (SELECT b.doc_id,
        |         CAST(length(printf('%b', l.head_total))
        |            - length(printf('%b', l.cnt)) AS BIGINT) AS bits
        |       FROM bg b JOIN lm l USING (head, next)),
        |agg AS (SELECT doc_id, COUNT(*) AS n_bigrams,
        |          CAST(SUM(bits) AS BIGINT) AS sum_bits
        |        FROM sc GROUP BY 1)
        |SELECT doc_id, n_bigrams, sum_bits,
        |  CAST(FLOOR(sum_bits * 100.0 / n_bigrams + 0.5) AS BIGINT)
        |    AS avg_centibits
        |FROM agg ORDER BY doc_id""".stripMargin),
      bench = true),

    // ---- Decontamination: corpus docs sharing any 8-token shingle
    // with the eval set (docs 0-9). Five contaminated docs are
    // planted (eval texts re-id'd with a prefix token — the 8-grams
    // survive). Eval shingles broadcast; the corpus is never
    // shuffled.
    "q_decontaminate" -> QueryDef(
      fn = (spark, dir) => {
        val docs = Tables(spark, dir, "documents")
        val eval = docs.filter(col("doc_id") < 10)
        val corpus = docs.filter(col("doc_id") >= 10)
          .select(col("doc_id"), col("text"))
          .unionByName(eval.filter(col("doc_id") < 5)
            .select((col("doc_id") + 900000).as("doc_id"),
              concat(lit("planted_prefix "), col("text")).as("text")))
        decontaminate(corpus, eval, n = 8).orderBy("doc_id")
      },
      oracle = Some("""
        |WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 10
        |  UNION ALL
        |  SELECT doc_id + 900000 AS doc_id, 'planted_prefix ' || text AS text
        |  FROM documents WHERE doc_id < 5),
        |eval_grams AS (
        |  SELECT DISTINCT g FROM (
        |    SELECT unnest(list_transform(
        |      generate_series(0, greatest(len(toks) - 8, 0)),
        |      i -> array_to_string(toks[i+1:i+8], ' '))) AS g
        |    FROM (SELECT string_split_regex(text, '\s+') AS toks
        |          FROM documents WHERE doc_id < 10))),
        |corpus_grams AS (
        |  SELECT doc_id, unnest(list_transform(
        |    generate_series(0, greatest(len(toks) - 8, 0)),
        |    i -> array_to_string(toks[i+1:i+8], ' '))) AS g
        |  FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks
        |        FROM corpus))
        |SELECT DISTINCT doc_id FROM corpus_grams
        |WHERE g IN (SELECT g FROM eval_grams)
        |ORDER BY doc_id""".stripMargin)),

    // ---- Decontamination, bloom-prefiltered: same exact-8-gram rule
    // as q_decontaminate but on the scale path for eval dictionaries
    // too big to broadcast ([[TextFunctions.decontaminateBloom]]).
    // Different plant (suffix-extended copies of docs 5..9) so the two
    // entries exercise distinct corpora; the oracle is the EXACT
    // contamination SQL — hash-matching it proves the
    // bloom-prefilter + confirm pipeline loses and invents nothing.
    "q_decontaminate_bloom" -> QueryDef(
      fn = (spark, dir) => {
        val docs = Tables(spark, dir, "documents")
        val eval = docs.filter(col("doc_id") < 10)
        val corpus = docs.filter(col("doc_id") >= 10)
          .select(col("doc_id"), col("text"))
          .unionByName(docs.filter(col("doc_id") >= 5 && col("doc_id") < 10)
            .select((col("doc_id") + 800000).as("doc_id"),
              concat(col("text"), lit(" planted trailing suffix")).as("text")))
        decontaminateBloom(corpus, eval, n = 8).orderBy("doc_id")
      },
      oracle = Some("""
        |WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 10
        |  UNION ALL
        |  SELECT doc_id + 800000 AS doc_id,
        |         text || ' planted trailing suffix' AS text
        |  FROM documents WHERE doc_id >= 5 AND doc_id < 10),
        |eval_grams AS (
        |  SELECT DISTINCT g FROM (
        |    SELECT unnest(list_transform(
        |      generate_series(0, greatest(len(toks) - 8, 0)),
        |      i -> array_to_string(toks[i+1:i+8], ' '))) AS g
        |    FROM (SELECT string_split_regex(text, '\s+') AS toks
        |          FROM documents WHERE doc_id < 10))),
        |corpus_grams AS (
        |  SELECT doc_id, unnest(list_transform(
        |    generate_series(0, greatest(len(toks) - 8, 0)),
        |    i -> array_to_string(toks[i+1:i+8], ' '))) AS g
        |  FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks
        |        FROM corpus))
        |SELECT DISTINCT doc_id FROM corpus_grams
        |WHERE g IN (SELECT g FROM eval_grams)
        |ORDER BY doc_id""".stripMargin)),

    // ---- Context-window chunking: 50-token windows, stride 40
    // (10-token overlap). Narrow explode — no shuffle.
    "q_doc_chunks" -> QueryDef(
      fn = (spark, dir) =>
        chunkDocs(Tables(spark, dir, "documents")
          .filter(col("doc_id") < 100), window = 50, stride = 40)
          .orderBy("doc_id", "chunk_idx"),
      oracle = Some("""
        |WITH t AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks
        |  FROM documents WHERE doc_id < 100),
        |c AS (
        |  SELECT doc_id, toks,
        |    unnest(generate_series(0,
        |      GREATEST(CAST(CEIL((len(toks) - 50) / 40.0) AS BIGINT), 0)))
        |      AS chunk_idx
        |  FROM t)
        |SELECT doc_id, chunk_idx,
        |  array_to_string(toks[chunk_idx * 40 + 1 : chunk_idx * 40 + 50], ' ')
        |    AS chunk_text,
        |  LEAST(len(toks) - chunk_idx * 40, 50) AS n_chunk_tokens
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin)),

    // ---- Heavy hitters: tokens above a 1/64 frequency share, via
    // Misra-Gries sketch + exact verify (the full token multiset is
    // never shuffled — see TextFunctions.heavyHitters).
    "q_heavy_hitters" -> QueryDef(
      fn = (spark, dir) =>
        heavyHitters(Tables(spark, dir, "documents"), denom = 64),
      oracle = Some("""
        |WITH t AS (
        |  SELECT token FROM (
        |    SELECT unnest(string_split_regex(text, '\s+')) AS token
        |    FROM documents)
        |  WHERE token != ''),
        |tot AS (SELECT COUNT(*) AS n FROM t)
        |SELECT token, COUNT(*) AS cnt FROM t, tot
        |GROUP BY token, tot.n HAVING COUNT(*) * 64 > tot.n
        |ORDER BY cnt DESC, token""".stripMargin)),

    // ---- Token counting + quality signals per document.
    "q_text_stats" -> QueryDef(
      fn = (spark, dir) => {
        val tokens = wsTokens(col("text"))
        Tables(spark, dir, "documents").select(
          col("doc_id"),
          size(tokens).cast("long").as("n_tokens"),
          bpeishCount(col("text")).as("n_bpeish_tokens"),
          length(col("text")).cast("long").as("n_chars_actual"),
          (length(regexp_replace(col("text"), " ", "")).cast("double") / size(tokens))
            .as("avg_token_len"),
          punctRatio(col("text")).as("punct_ratio"),
          stopwordRatio(tokens).as("stopword_ratio"))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        |SELECT doc_id,
        |  CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpeish_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars_actual,
        |  CAST(length(regexp_replace(text, ' ', '', 'g')) AS DOUBLE) / len(string_split_regex(text, '\\s+')) AS avg_token_len,
        |  CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
        |  CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x IN ($stopList))) AS DOUBLE) / len(string_split_regex(text, '\\s+')) AS stopword_ratio
        |FROM documents ORDER BY doc_id""".stripMargin),
      bench = true),

    // ---- Quality scoring with a composite signal.
    "q_text_quality" -> QueryDef(
      fn = (spark, dir) => {
        val tokens = wsTokens(col("text"))
        Tables(spark, dir, "documents").select(
          col("doc_id"), col("lang"),
          qualityScore(col("text"), tokens).as("quality"))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        |SELECT doc_id, lang,
        |  least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
        |  + (1.0 - least(CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) * 10.0, 1.0)) * 0.3
        |  + least(CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x IN ($stopList))) AS DOUBLE) / len(string_split_regex(text, '\\s+')) * 5.0, 1.0) * 0.3
        |  AS quality
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- Within-document repetition (the Gopher/Dolma boilerplate
    // rule): fraction of duplicate 3-grams per document. Everything
    // is narrow — each doc's n-gram multiset never leaves its row
    // (counted by the same native ShingleSet kernel the near-dup
    // path uses), so the filter costs one codegen'd scan at any
    // corpus size. A planted looping doc guarantees a true positive.
    // ---- Character-class diversity (the "degenerate text" quality
    // axis the token-level stats miss: base64 blobs, aaaa-runs,
    // keyboard mash all have healthy token counts but a skewed or
    // flat CHARACTER distribution). One native one-pass kernel
    // (CharClassCounts: 26 case-folded letters + space + other) feeds
    // Simpson concentration Σpᵢ² — deliberately LOG-FREE (an entropy
    // would need libm log, which differs across engines; Simpson is
    // pure multiply/divide/add, so the DuckDB oracle — which rebuilds
    // the same 28 counts the expensive way, via 27 replace() passes —
    // matches the doubles bit-for-bit; the fold runs in the FIXED
    // alphabet order on both sides). Scale shape: narrow per-row
    // compute, no shuffle before the ordering — scan-bound at 100 TB.
    // Corpus min length is 44 chars (TESTDATA), so len ≥ 1 always;
    // an empty-text guard would be greatest(len, 1) on both sides.
    "q_char_diversity" -> QueryDef(
      fn = (spark, dir) => {
        val planted = spark.range(1).select(
          lit(9999998L).as("doc_id"),
          lit("aaaaaaaa aaaa aaaaaa aaaabbbb aaaa").as("text"))
        val base = Tables(spark, dir, "documents")
          .select(col("doc_id"), col("text")).unionByName(planted)
        base.select(col("doc_id"),
            graft.functions.CharClassCounts
              .charClassCounts(col("text")).as("cnt"))
          .withColumn("len", expr("aggregate(cnt, 0L, (a, c) -> a + c)"))
          .withColumn("n_alpha",
            expr("aggregate(slice(cnt, 1, 26), 0L, (a, c) -> a + c)"))
          .withColumn("n_space", col("cnt").getItem(26))
          .withColumn("n_other", col("cnt").getItem(27))
          .withColumn("simpson", expr(
            "aggregate(cnt, CAST(0 AS DOUBLE), (a, c) -> a" +
              " + (CAST(c AS DOUBLE) / CAST(len AS DOUBLE))" +
              " * (CAST(c AS DOUBLE) / CAST(len AS DOUBLE)))"))
          .withColumn("top_sym_frac",
            expr("CAST(array_max(cnt) AS DOUBLE) / CAST(len AS DOUBLE)"))
          .withColumn("degenerate", (col("simpson") > 0.125).cast("long"))
          .select("doc_id", "len", "n_alpha", "n_space", "n_other",
            "simpson", "top_sym_frac", "degenerate")
          .orderBy("doc_id")
      },
      oracle = Some("""
        |WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT 9999998 AS doc_id,
        |         'aaaaaaaa aaaa aaaaaa aaaabbbb aaaa' AS text),
        |c AS (
        |  SELECT doc_id, length(text) AS len,
        |    list_transform(generate_series(1, 26), i ->
        |      length(text) - length(replace(replace(text,
        |        substring('abcdefghijklmnopqrstuvwxyz', i, 1), ''),
        |        substring('ABCDEFGHIJKLMNOPQRSTUVWXYZ', i, 1), ''))) AS letters,
        |    length(text) - length(replace(text, ' ', '')) AS n_space
        |  FROM corpus),
        |d AS (
        |  SELECT doc_id, len, n_space, letters,
        |    CAST(list_sum(letters) AS BIGINT) AS n_alpha
        |  FROM c),
        |e AS (
        |  SELECT doc_id, len, n_alpha, n_space,
        |    len - n_alpha - n_space AS n_other,
        |    list_append(list_append(letters, n_space),
        |                len - n_alpha - n_space) AS cnt
        |  FROM d),
        |f AS (
        |  SELECT doc_id, len, n_alpha, n_space, n_other,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(cnt, c ->
        |        (CAST(c AS DOUBLE) / CAST(len AS DOUBLE))
        |        * (CAST(c AS DOUBLE) / CAST(len AS DOUBLE)))),
        |      (a, x) -> a + x) AS simpson,
        |    CAST(list_max(cnt) AS DOUBLE) / CAST(len AS DOUBLE) AS top_sym_frac
        |  FROM e)
        |SELECT doc_id, CAST(len AS BIGINT) AS len,
        |  CAST(n_alpha AS BIGINT) AS n_alpha,
        |  CAST(n_space AS BIGINT) AS n_space,
        |  CAST(n_other AS BIGINT) AS n_other,
        |  simpson, top_sym_frac,
        |  CAST(simpson > 0.125 AS BIGINT) AS degenerate
        |FROM f ORDER BY doc_id""".stripMargin)),

    "q_repetition_filter" -> QueryDef(
      fn = (spark, dir) => {
        val planted = spark.range(1).select(
          lit(9999999L).as("doc_id"),
          lit(("data spark pipeline " * 40).trim).as("text"))
        val base = Tables(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
          .unionByName(planted)
        // total 3-grams = len-2 (clamped to 1: short docs yield one
        // partial shingle on both engines — same clamp the jaccard
        // oracle's generate_series applies); distinct from the
        // ShingleSet kernel
        val total = greatest(size(wsTokens(col("text"))) - 2, lit(1)).cast("long")
        val uniq = size(DedupFunctions.distinctShingles(col("text"))).cast("long")
        base.select(col("doc_id"), total.as("n_3grams"),
            uniq.as("n_distinct_3grams"))
          .withColumn("rep_frac",
            (col("n_3grams") - col("n_distinct_3grams")).cast("double")
              / col("n_3grams").cast("double"))
          .withColumn("repetitive", (col("rep_frac") > 0.2).cast("long"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        |WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT 9999999 AS doc_id,
        |         trim(repeat('data spark pipeline ', 40)) AS text),
        |tok AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS tokens
        |  FROM base),
        |sh AS (
        |  SELECT doc_id,
        |    GREATEST(len(tokens) - 2, 1) AS n_3grams,
        |    len(list_distinct(list_transform(
        |      generate_series(0, greatest(len(tokens) - 3, 0)),
        |      i -> array_to_string(tokens[i+1:i+3], ' ')))) AS n_distinct_3grams
        |  FROM tok)
        |SELECT doc_id, CAST(n_3grams AS BIGINT) AS n_3grams,
        |  CAST(n_distinct_3grams AS BIGINT) AS n_distinct_3grams,
        |  CAST(n_3grams - n_distinct_3grams AS DOUBLE) / CAST(n_3grams AS DOUBLE) AS rep_frac,
        |  CAST(CAST(n_3grams - n_distinct_3grams AS DOUBLE) / CAST(n_3grams AS DOUBLE) > 0.2 AS BIGINT) AS repetitive
        |FROM sh ORDER BY doc_id""".stripMargin)),

    // ---- PII scrubbing (the standard pre-training redaction pass):
    // emails and long digit runs replaced by typed sentinels, with
    // per-doc match counts for audit. Pure regexp_replace — narrow,
    // codegen'd, one scan at any corpus size. The patterns use only
    // syntax Java regex and RE2 share, so the DuckDB oracle applies
    // the identical automaton; planted docs carry the true positives
    // (the synthetic corpus itself is PII-free).
    "q_pii_scrub" -> QueryDef(
      fn = (spark, dir) => {
        val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
        val digitsRe = "[0-9][0-9][0-9][0-9][0-9][0-9]+"
        val planted = spark.range(1).select(
          lit(9999991L).as("doc_id"),
          lit("contact jane.doe+spam@example.co.uk or call 5551234567 today")
            .as("text"))
          .unionByName(spark.range(1).select(
            lit(9999992L).as("doc_id"),
            lit("ticket 1234 is fine but card 4111111111111111 is not")
              .as("text")))
        val base = Tables(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
          .unionByName(planted)
        // digit runs are counted on the EMAIL-SCRUBBED text, so a
        // digit run inside an address is counted once (as the email)
        // and n_numbers always reconciles with <NUMBER> sentinels
        base.select(
            col("doc_id"),
            regexp_replace(col("text"), emailRe, "<EMAIL>").as("__e"),
            size(regexp_extract_all(col("text"), lit(emailRe), lit(0)))
              .cast("long").as("n_emails"))
          .select(
            col("doc_id"),
            regexp_replace(col("__e"), digitsRe, "<NUMBER>").as("scrubbed"),
            col("n_emails"),
            size(regexp_extract_all(col("__e"), lit(digitsRe), lit(0)))
              .cast("long").as("n_numbers"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        |WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT 9999991, 'contact jane.doe+spam@example.co.uk or call 5551234567 today'
        |  UNION ALL
        |  SELECT 9999992, 'ticket 1234 is fine but card 4111111111111111 is not'),
        |e AS (
        |  SELECT doc_id,
        |    regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g') AS etext,
        |    CAST(len(regexp_extract_all(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+')) AS BIGINT) AS n_emails
        |  FROM base)
        |SELECT doc_id,
        |  regexp_replace(etext, '[0-9][0-9][0-9][0-9][0-9][0-9]+', '<NUMBER>', 'g') AS scrubbed,
        |  n_emails,
        |  CAST(len(regexp_extract_all(etext,
        |    '[0-9][0-9][0-9][0-9][0-9][0-9]+')) AS BIGINT) AS n_numbers
        |FROM e ORDER BY doc_id""".stripMargin)),

    // ---- k-anonymity audit (the privacy companion to q_pii_scrub:
    // scrubbing redacts identifiers IN the text, this flags docs whose
    // METADATA combination re-identifies them): quasi-identifier =
    // (lang, source, length-bucket); any doc in a group smaller than
    // k=5 is re-identifiable by that combo and lands on the
    // suppression list (suppress, or generalize the bucket until the
    // group clears k — the standard Mondrian-style ladder). One window
    // count over ONE exchange on the quasi-key, pure integers. At
    // 100 TB identical shape: the group count is a partial-aggregated
    // shuffle on a low-cardinality key; a skewed giant group is
    // exactly the group that clears k and filters out.
    "q_kanon_suppress" -> QueryDef(
      fn = (spark, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang", "source", "len_bucket")
        Tables(spark, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source"),
            expr("n_chars div 200").as("len_bucket"))
          .withColumn("group_n", count(lit(1)).over(w))
          .filter(col("group_n") < 5)
          .orderBy("doc_id")
      },
      oracle = Some("""
        |SELECT doc_id, lang, source, len_bucket, group_n FROM (
        |  SELECT doc_id, lang, source, n_chars // 200 AS len_bucket,
        |    COUNT(*) OVER (PARTITION BY lang, source, n_chars // 200)
        |      AS group_n
        |  FROM documents)
        |WHERE group_n < 5 ORDER BY doc_id""".stripMargin)),

    // ---- Language identification (stopword-profile heuristic).
    "q_lang_id" -> QueryDef(
      fn = (spark, dir) => {
        val tokens = wsTokens(col("text"))
        Tables(spark, dir, "documents").select(
          col("doc_id"), col("lang"),
          langId(col("text"), tokens).as("lang_pred"))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        |WITH scored AS (
        |  SELECT doc_id, lang,
        |    len(regexp_extract_all(text, '[一-鿿]')) AS s_zh,
        |    len(list_filter(string_split_regex(text, '\\s+'), x -> x IN (${listSql(enStop)}))) AS s_en,
        |    len(list_filter(string_split_regex(text, '\\s+'), x -> x IN (${listSql(esStop)}))) AS s_es,
        |    len(list_filter(string_split_regex(text, '\\s+'), x -> x IN (${listSql(frStop)}))) AS s_fr,
        |    len(list_filter(string_split_regex(text, '\\s+'), x -> x IN (${listSql(deStop)}))) AS s_de
        |  FROM documents)
        |SELECT doc_id, lang,
        |  CASE WHEN s_zh > 0 THEN 'zh'
        |       WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
        |       WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
        |       WHEN s_fr >= s_de THEN 'fr'
        |       ELSE 'de' END AS lang_pred
        |FROM scored ORDER BY doc_id""".stripMargin)),

    // ---- Edit distance between each planted near-dup and its source
    // (the character-level near-dup signal, complementing the set-based
    // Jaccard/MinHash and bit-based SimHash measures).
    "q_edit_distance" -> QueryDef(
      fn = (spark, dir) => {
        val docs = DedupFunctions.withPlantedNearDups(
          Tables(spark, dir, "documents"))
        val orig = docs.filter(col("doc_id") < 1000000)
          .select(col("doc_id"), col("text").as("text_a"))
        val planted = docs.filter(col("doc_id") >= 1000000)
          .select((col("doc_id") - 1000000).as("doc_id"), col("text").as("text_b"))
        orig.join(planted, "doc_id")
          .select(col("doc_id"),
            levenshtein(col("text_a"), col("text_b")).cast("long").as("edit_dist"),
            (levenshtein(col("text_a"), col("text_b")).cast("double") /
              greatest(length(col("text_a")), length(col("text_b"))))
              .as("edit_dist_norm"))
          .orderBy("doc_id")
      },
      oracle = Some(DedupFunctions.plantedCte + """
        |SELECT a.doc_id,
        |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
        |  CAST(levenshtein(a.text, b.text) AS DOUBLE)
        |    / greatest(length(a.text), length(b.text)) AS edit_dist_norm
        |FROM (SELECT * FROM docs WHERE doc_id < 1000000) a
        |JOIN (SELECT doc_id - 1000000 AS doc_id, text FROM docs
        |      WHERE doc_id >= 1000000) b USING (doc_id)
        |ORDER BY a.doc_id""".stripMargin)),

    // ---- Deterministic stratified sampling: a fixed per-language
    // quota selected by content-hash order — the reproducible way to
    // downsample a corpus per stratum (rand() samples differ per run
    // and per engine; hash order is stable everywhere). Scale shape:
    // one shuffle on (lang), per-key top-k by hash. The rank is
    // filter-only, so Spark's native InferWindowGroupLimit already
    // bounds the exchange to 20 rows per language per partition
    // (sort-based); installing TopKRewriteRule upgrades the same plan
    // to the bounded-heap operator (no per-partition sort) — this
    // query is the rewrite rule's demo target either way.
    "q_stratified_sample" -> QueryDef(
      fn = (spark, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy("h")
        Tables(spark, dir, "documents")
          .select(col("doc_id"), col("lang"),
            md5(concat(col("doc_id").cast("string"), col("text"))
              .cast("binary")).as("h"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 20)
          .select("lang", "doc_id", "h")
          .orderBy("lang", "h")
      },
      oracle = Some("""
        |SELECT lang, doc_id, h FROM (
        |  SELECT lang, doc_id, md5(CAST(doc_id AS VARCHAR) || text) AS h,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || text)) AS rn
        |  FROM documents)
        |WHERE rn <= 20 ORDER BY lang, h""".stripMargin)),

    // ---- Tokenizer-training pair statistics: corpus-wide frequencies
    // of adjacent BPE-ish token pairs — exactly the count the first
    // BPE merge iteration maximizes over. Pair construction is narrow
    // (two shifted slices zipped inside the row, see
    // TextFunctions.adjacentPairs); the only shuffle is the pair-count
    // aggregation with map-side combine, and the global top-20 plans
    // as TakeOrderedAndProject — no full sort at any corpus size.
    "q_tokenizer_pairs" -> QueryDef(
      fn = (spark, dir) => {
        val toks = regexp_extract_all(col("text"), lit(bpeishPattern), lit(0))
        Tables(spark, dir, "documents")
          .select(explode(adjacentPairs(toks)).as("pair"))
          .groupBy("pair").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("pair"))
          .limit(20)
      },
      oracle = Some("""
        |WITH tok AS (
        |  SELECT regexp_extract_all(text,
        |    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\f\r]') AS toks
        |  FROM documents),
        |pairs AS (
        |  SELECT unnest(list_transform(
        |    generate_series(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1])) AS pair
        |  FROM tok)
        |SELECT pair, COUNT(*) AS cnt FROM pairs
        |GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20""".stripMargin)),

    // ---- TF-IDF keyword extraction: top-3 most characteristic terms
    // per document — the classic two-phase relevance pipeline (term
    // frequency per doc, document frequency per term, joined and
    // ranked). The idf is the RATIO (N+1)/(df+1), not its log: ranking
    // is order-isomorphic (log is monotone) and the score stays one
    // exact-BIGINT product + one IEEE division, so the oracle matches
    // bit-for-bit (libm log implementations differ across engines).
    //
    // Scale shape: tf is one shuffle on (doc_id, term) with map-side
    // combine; df re-aggregates the (already tiny) tf keys; the scalar
    // doc count and df both broadcast back onto tf. Per-doc top-3 is a
    // partitioned window the TopKRewriteRule plans as a bounded heap.
    "q_tfidf_keywords" -> QueryDef(
      fn = (spark, dir) => {
        val docs = Tables(spark, dir, "documents")
        val tf = docs
          .select(col("doc_id"), explode(wsTokens(col("text"))).as("term"))
          .filter(col("term") =!= "")
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val n = docs.agg(count(lit(1)).as("__n_docs"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
        // the (doc, term) frame is corpus-scale; route it through
        // TopKPerKey directly (O(n log k) heaps — the native window
        // path bounds the exchange identically but fully sorts each
        // partition's stream first) and reconstitute rnk on the pruned
        // frame under the same total order (bit-identical)
        val scored = tf.join(broadcast(df), "term").crossJoin(broadcast(n))
          .withColumn("score",
            (col("tf") * (col("__n_docs") + 1L)).cast("double") / (col("df") + 1L))
        graft.plans.TopK.perKey(scored, 3, Seq("doc_id"),
            Seq("score" -> false, "term" -> true))
          .withColumn("rnk", row_number().over(w).cast("long"))
          .select("doc_id", "rnk", "term", "tf", "df", "score")
          .orderBy("doc_id", "rnk")
      },
      oracle = Some("""
        |WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM tok
        |  WHERE term != '' GROUP BY doc_id, term),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    CAST(tf.tf * ((SELECT COUNT(*) FROM documents) + 1) AS DOUBLE)
        |      / (df.df + 1) AS score
        |  FROM tf JOIN df USING (term)),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, term) AS rnk FROM scored)
        |SELECT doc_id, rnk, term, tf, df, score
        |FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin)),

    // ---- Length-decile profile: exact decile boundaries of the
    // document-length distribution, broadcast back for a NARROW bin
    // assignment (bin = #boundaries ≤ length, one array-filter per
    // row), then per-bin counts and exact-ratio mean length. The
    // exact `percentile` is safe here because the VALUE DOMAIN is
    // bounded (doc lengths — its internal counts-map is
    // domain-sized, not corpus-sized); an unbounded-domain column
    // would swap in approx_percentile and drop to a rows-only check.
    // Spark `percentile` ↔ DuckDB `quantile_cont` parity is already
    // proven by q_percentiles.
    "q_length_deciles" -> QueryDef(
      fn = (spark, dir) => {
        val docs = Tables(spark, dir, "documents")
        val bounds = docs.agg(percentile(col("n_chars"),
          array((1 to 9).map(i => lit(i / 10.0)): _*)).as("bs"))
        docs.crossJoin(broadcast(bounds))
          .withColumn("bin", size(filter(col("bs"),
            b => b <= col("n_chars").cast("double"))).cast("long"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
          .withColumn("avg_chars",
            col("total_chars").cast("double") / col("n_docs").cast("double"))
          .select("bin", "n_docs", "avg_chars")
          .orderBy("bin")
      },
      oracle = Some("""
        |WITH b AS (
        |  SELECT quantile_cont(n_chars,
        |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bs
        |  FROM documents),
        |binned AS (
        |  SELECT d.n_chars,
        |    len(list_filter(b.bs, x -> x <= d.n_chars)) AS bin
        |  FROM documents d CROSS JOIN b)
        |SELECT bin, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
        |FROM binned GROUP BY bin ORDER BY bin""".stripMargin)),

    // ---- Adjacent-token association (lift): which bigrams co-occur
    // MORE than their marginals predict — the market-basket lift
    // statistic over the same shifted-slice pair stream as
    // q_tokenizer_pairs (raw pair counts rank boilerplate; lift ranks
    // collocations). All counts are exact BIGINTs off one narrow
    // explode; lift = (c_ab·N) / (c_a·c_b) is exact products + ONE
    // IEEE division, so the oracle matches bit-for-bit. Min support 5
    // keeps noise bigrams from topping the board on tiny marginals.
    // Scale shape: the pair stream aggregates three ways (pair, left
    // marginal, right marginal) — each map-side combined — and the
    // marginals join back onto the ≤|vocab|² pair-count frame, never
    // onto the stream.
    "q_token_lift" -> QueryDef(
      fn = (spark, dir) => {
        val toks = regexp_extract_all(col("text"), lit(bpeishPattern), lit(0))
        val p = Tables(spark, dir, "documents")
          .select(explode(adjacentPairs(toks)).as("pair"))
          .withColumn("a", split(col("pair"), " ").getItem(0))
          .withColumn("b", split(col("pair"), " ").getItem(1))
        // ONE corpus pass: the marginals and the total are exact
        // integer rollups of the pair-count frame (c_a = Σ_b c_ab
        // etc.), so everything past `ab` aggregates ≤|vocab|² rows —
        // computing them straight off `p` would tokenize + explode
        // the corpus four times
        val ab = graft.ops.BuildOnce.swapPersist(lastPairs,
          p.groupBy("a", "b").agg(count(lit(1)).as("c_ab")))
        val la = ab.groupBy("a").agg(sum("c_ab").as("c_a"))
        val rb = ab.groupBy("b").agg(sum("c_ab").as("c_b"))
        val n = ab.agg(sum("c_ab").as("n_pairs"))
        ab.filter(col("c_ab") >= 5)
          .join(la, "a").join(rb, "b").crossJoin(broadcast(n))
          .withColumn("lift", (col("c_ab") * col("n_pairs")).cast("double") /
            (col("c_a") * col("c_b")).cast("double"))
          .orderBy(col("lift").desc, col("a"), col("b")).limit(20)
          .select("a", "b", "c_ab", "lift")
      },
      oracle = Some("""
        |WITH tok AS (
        |  SELECT regexp_extract_all(text,
        |    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\f\r]') AS toks
        |  FROM documents),
        |pq AS (
        |  SELECT pr[1] AS a, pr[2] AS b FROM (
        |    SELECT unnest(list_transform(
        |      generate_series(1, len(toks) - 1),
        |      i -> [toks[i], toks[i+1]])) AS pr
        |    FROM tok)),
        |ab AS (SELECT a, b, COUNT(*) AS c_ab FROM pq GROUP BY a, b),
        |la AS (SELECT a, COUNT(*) AS c_a FROM pq GROUP BY a),
        |rb AS (SELECT b, COUNT(*) AS c_b FROM pq GROUP BY b),
        |n AS (SELECT COUNT(*) AS n_pairs FROM pq)
        |SELECT a, b, c_ab,
        |  CAST(c_ab * n_pairs AS DOUBLE) / CAST(c_a * c_b AS DOUBLE) AS lift
        |FROM ab JOIN la USING (a) JOIN rb USING (b) CROSS JOIN n
        |WHERE c_ab >= 5
        |ORDER BY lift DESC, a, b LIMIT 20""".stripMargin)),

    // ---- BM25 retrieval, exact-rational form: score every doc
    // against a fixed 4-term query and return the top 10. Two
    // departures from textbook BM25, both FOR cross-engine bit-parity
    // (the house oracle rules: no transcendentals, no order-dependent
    // double sums):
    //  * k1=1.2, b=0.75 are kept as exact rationals and the tf
    //    normalization is algebraically cleared of fractions —
    //    tfnorm = 22·tf·T / (10·tf·T + 3·T + 9·dl·N) with T = total
    //    corpus tokens, N = doc count: exact BIGINT numerator and
    //    denominator, ONE correctly-rounded division per term.
    //  * idf uses the RATIO form (2N-2df+1)/(2df+1) — the argument of
    //    Robertson's log, not its value. Log-free means replayable;
    //    per-term doc ordering is unchanged (idf is constant within a
    //    term), and BM25Spec pins the single-term ranking identical
    //    to the log form while measuring multi-term top-k agreement.
    // The per-term scores combine in a FIXED-ORDER column sum.
    // (Applies to BOTH entries: q_bm25_indexed probes the on-disk
    // posting lists, q_bm25 full-scans; bit-identical by
    // InvertedIndexSpec, one shared oracle.)
    "q_bm25_indexed" -> QueryDef(
      // BM25 served from the MATERIALIZED inverted index — the same
      // retrieval as q_bm25 below but reading the on-disk
      // InvertedIndex layout ("build once, probe many"): the postings
      // scan is statically pruned to the query terms' hash-bucket
      // partitions (4 terms → ≤4 of 64 buckets; IndexedAnnSpec asserts
      // the PartitionFilters), term footer stats prune row groups
      // inside a bucket, and the corpus table is never touched.
      // Bit-identical scores (InvertedIndexSpec), same oracle. This is
      // the benched entry: at 100 TB retrieval cost is probe cost, not
      // a corpus scan per query.
      fn = (spark, dir) => graft.ops.InvertedIndex.probe(
        invIndexFor(spark, dir), bm25Terms, 10),
      oracle = Some(bm25OracleSql),
      bench = true),

    // The full-scan formulation — scale shape: tf/dl are narrow
    // per-row expressions (no token explode — the term list is in the
    // lambda); corpus stats are ONE partial agg broadcast back; top-10
    // plans as TakeOrdered. The only wide op in the whole plan is the
    // single-row stats agg.
    "q_bm25" -> QueryDef(
      fn = (spark, dir) =>
        bm25Scored(spark, dir, bm25Terms)
          .filter(col("score") > 0)
          .orderBy(col("score").desc, col("doc_id")).limit(10)
          .select("doc_id", "dl", "score"),
      oracle = Some(bm25OracleSql)),

    // ---- Model-based quality filtering: a fasttext-style LINEAR
    // classifier over hashed bag-of-words features — the "model
    // filter" stage of a pretraining pipeline (CCNet-style), scoring
    // docs with a fixed weight table instead of heuristics. The
    // feature hash is the first 3 hex digits of md5(token) (a 4096-
    // bucket feature space both engines compute identically); the
    // weight table is a fixed multiplicative-hash function of the
    // bucket id (stand-in for trained weights — at production scale
    // the 4096-entry table broadcasts and nothing changes shape).
    // Score = EXACT BIGINT sum of per-token weights: integer addition
    // commutes, so any engine replays the identical score (a double
    // dot product would be summation-order-sensitive and never
    // hash-match). Scale shape: one narrow codegen'd expression per
    // row — transform + aggregate over the token array, no explode,
    // no shuffle; the classifier costs exactly one corpus scan.
    "q_quality_classifier" -> QueryDef(
      fn = (spark, dir) => {
        Tables(spark, dir, "documents")
          .select(col("doc_id"), col("lang"), classifierScore.as("score"))
          .withColumn("kept", (col("score") > 0).cast("long"))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        |SELECT doc_id, lang,
        |  CAST($classifierScoreSql AS BIGINT) AS score,
        |  CAST($classifierScoreSql > 0 AS BIGINT) AS kept
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- Calibration report for the model filter: exact quintiles
    // of the classifier-score distribution vs the HEURISTIC quality
    // rule's keep rate per quintile — "do the two filter families
    // agree, and is agreement monotone in model confidence?", the
    // eval a pipeline runs before trusting a model filter to replace
    // its heuristics. Monotone-increasing keep_bp across quintiles =
    // calibrated alignment; a flat profile = the model ranks nothing
    // the heuristic cares about. All counts exact BIGINTs; keep_bp
    // uses the floor(n·10000 / d) integer-division convention; the
    // quality≥0.5 comparison is safe cross-engine because both
    // engines compute the identical double bits (q_text_quality is
    // hash-matched). The exact `percentile` is safe here because the
    // score domain is distinct-value bounded (≈ one value per doc)
    // at harness scale — an unbounded production corpus would swap in
    // approx_percentile and drop to a rows-only check (the
    // q_length_deciles convention).
    // Scale shape: ONE corpus scan computes both scores narrowly, the
    // 4-boundary percentile row broadcasts back, and the report is a
    // 5-row aggregate.
    "q_quality_calibration" -> QueryDef(
      fn = (spark, dir) => {
        // the scored frame feeds BOTH the percentile boundaries and
        // the binning pass — persist it (swap-release, one live copy)
        // so the text is scanned and token-scored ONCE, not twice
        val docs = graft.ops.BuildOnce.swapPersist(lastCalibScores,
          Tables(spark, dir, "documents")
            .select(col("doc_id"), classifierScore.as("score"),
              qualityScore(col("text"), wsTokens(col("text"))).as("quality")))
        val bounds = docs.agg(percentile(col("score"),
          array(Seq(0.2, 0.4, 0.6, 0.8).map(lit(_)): _*)).as("bs"))
        docs.crossJoin(broadcast(bounds))
          .withColumn("quintile", size(filter(col("bs"),
            b => b <= col("score").cast("double"))).cast("long"))
          .groupBy("quintile")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("quality") >= 0.5, 1L).otherwise(0L))
              .as("n_heur_keep"))
          .withColumn("keep_bp", expr("n_heur_keep * 10000 div n_docs"))
          .select("quintile", "n_docs", "n_heur_keep", "keep_bp")
          .orderBy("quintile")
      },
      oracle = Some(s"""
        |WITH scored AS (
        |  SELECT doc_id, CAST($classifierScoreSql AS BIGINT) AS score,
        |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
        |    + (1.0 - least(CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) * 10.0, 1.0)) * 0.3
        |    + least(CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x IN ($stopList))) AS DOUBLE) / len(string_split_regex(text, '\\s+')) * 5.0, 1.0) * 0.3
        |    AS quality
        |  FROM documents),
        |b AS (SELECT quantile_cont(score, [0.2, 0.4, 0.6, 0.8]) AS bs
        |      FROM scored),
        |binned AS (
        |  SELECT s.quality,
        |    len(list_filter(b.bs, x -> x <= CAST(s.score AS DOUBLE))) AS quintile
        |  FROM scored s CROSS JOIN b)
        |SELECT CAST(quintile AS BIGINT) AS quintile,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_heur_keep,
        |  CAST(SUM(CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END) * 10000
        |    // COUNT(*) AS BIGINT) AS keep_bp
        |FROM binned GROUP BY 1 ORDER BY quintile""".stripMargin)),

    // ---- HEAPS-LAW VOCABULARY GROWTH — the corpus-saturation curve
    // crawl planning reads ("is the next 10% of documents still
    // buying new vocabulary?"). Complements q_ngram_novelty (per-DOC
    // admission novelty) at corpus granularity: cumulative distinct
    // whitespace tokens after each admission-order decile of the
    // document stream, plus the per-decile increment. Exactness:
    // everything is integer counts over min(doc_id) first
    // occurrences. Scale shape: one token-keyed shuffle builds the
    // (token, first_doc) vocabulary (Heaps-law small relative to the
    // corpus), decile bounds are 10 exact order statistics over
    // doc_id (ONE ExactRank pass — doc_id is unique, so it is its
    // own total order), and the growth rollup is the vocabulary ×
    // broadcast-bounds conditional count with map-side partials —
    // ≤10 rows reach the final exchange. The lag window runs on the
    // 10-row frame (bounded, like the date-spine prefix sums).
    "q_vocab_growth" -> QueryDef(
      fn = (spark, dir) => {
        val toks = filter(wsTokens(col("text")), t => t =!= "")
        val vocab = Tables(spark, dir, "documents")
          .select(col("doc_id"), explode(toks).as("t"))
          .groupBy("t").agg(min(col("doc_id")).as("first_doc"))
        val bounds = graft.ops.ExactRank.selectRanks(
          Tables(spark, dir, "documents").select(col("doc_id")),
          Seq(col("doc_id")),
          n => (1 to 10).map(d => (n * d / 10).cast("long")))
          .select(col("doc_id").as("bound"), col("rank"),
            col("n_total"))
          .withColumn("decile",
            expr("(rank * 10 + n_total - 1) div n_total"))
        val g = vocab.crossJoin(broadcast(bounds))
          .groupBy("decile", "rank")
          .agg(sum(when(col("first_doc") <= col("bound"), 1L)
            .otherwise(0L)).as("vocab_cum"))
        import org.apache.spark.sql.expressions.Window
        g.select(col("decile"), col("rank").as("docs_cum"),
            col("vocab_cum"),
            (col("vocab_cum") - coalesce(
              lag(col("vocab_cum"), 1)
                .over(Window.orderBy(col("decile"))), lit(0L)))
              .as("new_tokens"))
          .orderBy("decile")
      },
      oracle = Some("""
        |WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS t
        |  FROM documents),
        |v AS (SELECT t, min(doc_id) AS first_doc FROM tok
        |      WHERE t != '' GROUP BY 1),
        |r AS (SELECT doc_id,
        |        ROW_NUMBER() OVER (ORDER BY doc_id) AS rn,
        |        COUNT(*) OVER () AS n
        |      FROM documents),
        |ds AS (SELECT unnest(range(1, 11)) AS d),
        |b AS (SELECT DISTINCT doc_id AS bound, rn, n FROM r
        |      JOIN ds ON r.rn = (r.n * ds.d) // 10),
        |g AS (SELECT (rn * 10 + n - 1) // n AS decile, rn AS docs_cum,
        |        (SELECT COUNT(*) FROM v WHERE v.first_doc <= b.bound)
        |          AS vocab_cum
        |      FROM b)
        |SELECT CAST(decile AS BIGINT) AS decile,
        |  CAST(docs_cum AS BIGINT) AS docs_cum,
        |  CAST(vocab_cum AS BIGINT) AS vocab_cum,
        |  CAST(vocab_cum - coalesce(lag(vocab_cum)
        |    OVER (ORDER BY decile), 0) AS BIGINT) AS new_tokens
        |FROM g ORDER BY decile""".stripMargin)),

    // ---- ECDF (PERCENTILE-RANK) NORMALIZATION of the quality
    // classifier score — the feature-engineering transform that makes
    // a model score comparable across corpora/snapshots ("keep the
    // top 30%" survives recalibration; "keep score > 1.7" does not).
    // This is ops/ExactRank's TRANSFORM use (rankAll): EVERY doc gets
    // its exact global rank, so the single-partition window
    // formulation would funnel the whole corpus through one task —
    // here it stays a range-partitioned parallel pipeline end-to-end.
    // ecdf_bp = rank·10000 div n is pure integer arithmetic on an
    // exact BIGINT score (shared with q_quality_classifier — ONE
    // model definition), so the oracle replays it bit-for-bit.
    "q_ecdf_quality" -> QueryDef(
      fn = (spark, dir) => {
        // widen before the per-token md5 scoring pass (single-row-
        // group scan — ops/Parallelism, identity at scale)
        val scored = graft.ops.Parallelism.widen(
          Tables(spark, dir, "documents")
            .select(col("doc_id"), col("text")), col("doc_id"))
          .select(col("doc_id"), classifierScore.as("score"))
        graft.ops.ExactRank.rankAll(scored,
          Seq(col("score"), col("doc_id")), rankCol = "srank")
          .select(col("doc_id"), col("score"), col("srank"),
            expr("(srank * 10000) div n_total").as("ecdf_bp"))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        |WITH scored AS (
        |  SELECT doc_id, CAST($classifierScoreSql AS BIGINT) AS score
        |  FROM documents),
        |r AS (SELECT doc_id, score,
        |        ROW_NUMBER() OVER (ORDER BY score, doc_id) AS srank,
        |        COUNT(*) OVER () AS n
        |      FROM scored)
        |SELECT doc_id, score, CAST(srank AS BIGINT) AS srank,
        |  CAST((srank * 10000) // n AS BIGINT) AS ecdf_bp
        |FROM r ORDER BY doc_id""".stripMargin),
      bench = true), // the rank-TRANSFORM scale path: every doc flows
                     // through the range-partitioned sort (vs
                     // q_exact_median's rank SELECTION of one element)

    // ---- FEATURE HASHING (the hashing trick) — the fixed-width
    // sparse featurization a linear text model trains on when the
    // vocabulary is unbounded: token → bucket via a hash (no
    // vocabulary dictionary to build, ship, or keep consistent across
    // 1000 executors — the whole point at corpus scale), with a
    // second hash bit choosing ±1 so colliding tokens cancel in
    // expectation instead of biasing the bucket upward (Weinberger et
    // al.'s signed hashing). Reuses the classifier's portable
    // MD5-3-hex-digit hash so both engines derive identical buckets;
    // the sign is the 4th hex digit's parity (independent bits of the
    // same digest). Exactness: every emitted value is an integer
    // count. Scale shape: ONE corpus scan explodes tokens into a
    // (doc_id, bucket)-keyed aggregate — map-side combine collapses
    // each doc's token stream to ≤ 64 rows before the shuffle, so the
    // exchange carries O(docs · 64), not O(corpus tokens).
    "q_feature_hashing" -> QueryDef(
      fn = (spark, dir) => {
        val dim = 64
        val toks = filter(wsTokens(col("text")), t => t =!= "")
        val h = conv(substring(md5(col("t").cast("binary")), 1, 3),
          16, 10).cast("long")
        val sign = when(conv(substring(md5(col("t").cast("binary")),
          4, 1), 16, 10).cast("long") % 2 === 0, 1L).otherwise(-1L)
        Tables(spark, dir, "documents")
          .select(col("doc_id"), explode(toks).as("t"))
          .select(col("doc_id"), (h % dim).as("bucket"), sign.as("s"))
          .groupBy("doc_id", "bucket")
          .agg(count(lit(1)).as("n_tokens"), sum(col("s")).as("feat"))
          .orderBy("doc_id", "bucket")
      },
      oracle = Some("""
        |WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '\s+'),
        |      x -> x <> '')) AS t
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    ((strpos('0123456789abcdef', substr(md5(t), 1, 1)) - 1) * 256
        |     + (strpos('0123456789abcdef', substr(md5(t), 2, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef', substr(md5(t), 3, 1)) - 1))
        |      AS hv,
        |    (strpos('0123456789abcdef', substr(md5(t), 4, 1)) - 1) % 2
        |      AS sp
        |  FROM tok)
        |SELECT doc_id, CAST(hv % 64 AS BIGINT) AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN sp = 0 THEN 1 ELSE -1 END) AS BIGINT)
        |    AS feat
        |FROM h GROUP BY 1, 2 ORDER BY doc_id, bucket""".stripMargin)),

    // ---- UNICODE NFC NORMALIZATION — the first cleaning pass of a
    // crawl pipeline: composed vs decomposed code-point sequences are
    // byte-distinct but logically identical, so exact-hash dedup,
    // shingles, and tokenizers all disagree about them until the
    // corpus is pinned to one normal form. The kernel is the new
    // native [[graft.functions.NfcNormalize]] expression (Spark has
    // no builtin; the JDK Normalizer and DuckDB's utf8proc implement
    // the same Unicode NFC — that agreement IS the oracle check
    // here). The ASCII fixture corpus gets deterministic decomposed
    // plants (e+U+0301, u+U+0308) derived from doc_id on BOTH
    // engines; byte lengths before/after prove the composition
    // happened (3 bytes → 2 per combining pair). Scale shape: narrow
    // per-row compute, no shuffle before the output ordering —
    // scan-bound, ASCII rows never leave the fast path.
    "q_text_normalize" -> QueryDef(
      fn = (spark, dir) => {
        // DECOMPOSED sequences (base letter + combining mark), via
        // escapes so no editor silently re-composes the source file
        val planted = when(col("doc_id") % 4 === 0,
            lit(" caf" + "e\u0301")) // e + COMBINING ACUTE
          .when(col("doc_id") % 4 === 1,
            lit(" " + "u\u0308ber")) // u + COMBINING DIAERESIS
          .otherwise(lit(""))
        Tables(spark, dir, "documents")
          .select(col("doc_id"), concat(col("text"), planted).as("t2"))
          .select(col("doc_id"),
            octet_length(col("t2")).cast("long").as("bytes_raw"),
            octet_length(
              graft.functions.NfcNormalize.nfcNormalize(col("t2")))
              .cast("long").as("bytes_nfc"))
          .withColumn("normalized",
            (col("bytes_nfc") < col("bytes_raw")).cast("long"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        |WITH t AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 4 = 0 THEN ' caf' || chr(101) || chr(769)
        |         WHEN doc_id % 4 = 1 THEN ' ' || chr(117) || chr(776) || 'ber'
        |         ELSE '' END AS t2
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(strlen(t2) AS BIGINT) AS bytes_raw,
        |  CAST(strlen(nfc_normalize(t2)) AS BIGINT) AS bytes_nfc,
        |  CAST(strlen(nfc_normalize(t2)) < strlen(t2) AS BIGINT)
        |    AS normalized
        |FROM t ORDER BY doc_id""".stripMargin)),

    // ---- EXACT ROC AUC of the model filter against the heuristic
    // rule — the eval that decides whether the classifier can REPLACE
    // the heuristics (q_quality_calibration asks "do they agree per
    // confidence band"; AUC asks "does the score RANK heuristic-keeps
    // above heuristic-drops overall"). Computed by the rank-sum
    // identity AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺n⁻) with midrank tie
    // handling, all in exact integers: group by score (ties collapse
    // to one row), one [[graft.ops.ExactRank.prefixSum]] gives each
    // group its cumulative count, and a tied group's summed midranks
    // are pos·(2·cum_before + cnt + 1)/2 — kept doubled (×2) so every
    // intermediate is integral, widened to DECIMAL(38,0) before the
    // rank×count products (n² territory — Long wraps past ~3e9 rows).
    // Emitted as exact basis points (the `div` convention) plus the
    // one-IEEE-division double; degenerate single-class corpora yield
    // NULL via nullif on both engines rather than an engine-dependent
    // zero-division. Scale shape: corpus scan → score-keyed map-side
    // combined rollup → two-job prefix-sum fold → 1-row aggregate; no
    // per-doc data ever crosses a single-partition boundary.
    "q_roc_auc" -> QueryDef(
      fn = (spark, dir) => {
        // widen before the per-token md5 scoring + quality pass
        // (single-row-group scan — ops/Parallelism, identity at scale)
        val docs = graft.ops.Parallelism.widen(
          Tables(spark, dir, "documents")
            .select(col("doc_id"), col("text")), col("doc_id"))
          .select(col("doc_id"), classifierScore.as("score"),
            (qualityScore(col("text"), wsTokens(col("text"))) >= 0.5)
              .cast("long").as("label"))
        val g = docs.groupBy("score")
          .agg(count(lit(1)).as("cnt"), sum(col("label")).as("pos"))
        val cum = graft.ops.ExactRank.prefixSum(g,
          Seq(col("score")), Seq("cum" -> col("cnt")))
        cum.agg(
            sum(expr("cast(pos as decimal(38,0))" +
              " * (2 * (cum - cnt) + cnt + 1)")).as("r2"),
            sum(col("pos")).cast("decimal(38,0)").as("n_pos"),
            sum(col("cnt")).cast("decimal(38,0)").as("n"))
          .select(
            col("n_pos").cast("long").as("n_pos"),
            (col("n") - col("n_pos")).cast("long").as("n_neg"),
            expr("((r2 - n_pos * (n_pos + 1)) * 10000)" +
              " div nullif(2 * n_pos * (n - n_pos), 0)").as("auc_bp"),
            (expr("r2 - n_pos * (n_pos + 1)").cast("double") /
              expr("nullif(2 * n_pos * (n - n_pos), 0)").cast("double"))
              .as("auc"))
      },
      oracle = Some(s"""
        |WITH scored AS (
        |  SELECT doc_id, CAST($classifierScoreSql AS BIGINT) AS score,
        |    CASE WHEN
        |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
        |    + (1.0 - least(CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) * 10.0, 1.0)) * 0.3
        |    + least(CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x IN ($stopList))) AS DOUBLE) / len(string_split_regex(text, '\\s+')) * 5.0, 1.0) * 0.3
        |    >= 0.5 THEN 1 ELSE 0 END AS label
        |  FROM documents),
        |g AS (SELECT score, COUNT(*) AS cnt, SUM(label) AS pos
        |      FROM scored GROUP BY score),
        |c AS (SELECT score, cnt, pos,
        |        SUM(cnt) OVER (ORDER BY score) AS cum FROM g),
        |t AS (SELECT
        |        SUM(CAST(pos AS HUGEINT)
        |          * (2 * (cum - cnt) + cnt + 1)) AS r2,
        |        CAST(SUM(pos) AS HUGEINT) AS n_pos,
        |        CAST(SUM(cnt) AS HUGEINT) AS n FROM c)
        |SELECT CAST(n_pos AS BIGINT) AS n_pos,
        |  CAST(n - n_pos AS BIGINT) AS n_neg,
        |  CAST(((r2 - n_pos * (n_pos + 1)) * 10000)
        |    // nullif(2 * n_pos * (n - n_pos), 0) AS BIGINT) AS auc_bp,
        |  CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE)
        |    / CAST(nullif(2 * n_pos * (n - n_pos), 0) AS DOUBLE) AS auc
        |FROM t""".stripMargin),
      bench = true) // the score-grouped prefix-sum fold + corpus
                    // token-scoring pass: the eval-family scale shape
  )

  /** The fixed BM25 demo query: one genuinely rare term (df ~5% —
    * idf does real work) + three common ones. */
  val bm25Terms: Seq[String] = Seq("dup", "spark", "window", "join")

  /** q_quality_calibration's scored-doc frame (doc_id, score,
    * quality) — swap-released, bounded at one copy across
    * invocations (the Dedup.lastSigs pattern). */
  private val lastCalibScores =
    graft.ops.BuildOnce.swapRef()

  /** The hashed-linear classifier score (exact BIGINT sum of
    * per-token weights; see q_quality_classifier's header comment) —
    * shared by the classifier and its calibration report so the
    * model definition lives in ONE place. */
  private def classifierScore: org.apache.spark.sql.Column = {
    val toks = filter(wsTokens(col("text")), t => t =!= "")
    val weight = (t: org.apache.spark.sql.Column) =>
      conv(substring(md5(t.cast("binary")), 1, 3), 16, 10).cast("long") *
        2654435761L % 1000003L - 501501L
    aggregate(transform(toks, weight), lit(0L), (acc, x) => acc + x)
  }

  /** DuckDB mirror of [[classifierScore]] (the 3-hex-digit feature
    * hash decoded by strpos — DuckDB conv() has no base argument). */
  private val classifierScoreSql: String =
    """COALESCE(list_sum(list_transform(
      |    list_transform(
      |      list_filter(string_split_regex(text, '\s+'), x -> x <> ''),
      |      t -> md5(t)),
      |    h -> ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 256
      |        + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 16
      |        + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1))
      |        * 2654435761 % 1000003 - 501501)), 0)""".stripMargin

  /** The build-once materialized inverted index over the documents
    * table, served as a per-session OPENED handle
    * ([[graft.ops.InvertedIndex.Opened]]) so repeat probes reuse the
    * resolved hive-tree FileIndex instead of re-listing it per run. */
  private[ext] def invIndexFor(spark: SparkSession,
      dir: String): graft.ops.InvertedIndex.Opened = {
    val idx = graft.ops.BuildOnce.dir("inv_index", spark,
        Tables.paths(dir, "documents")) { idx =>
      graft.ops.InvertedIndex.build(Tables(spark, dir, "documents"), idx)
    }
    graft.ops.BuildOnce.value("inv_open", spark, Nil, spark, idx)(
      graft.ops.InvertedIndex.open(spark, idx))
  }

  /** DuckDB replay of the exact-rational BM25 — shared verbatim by
    * `q_bm25` (full scan) and `q_bm25_indexed` (on-disk posting-list
    * layout): the two paths are bit-identical by construction
    * (InvertedIndexSpec). */
  private lazy val bm25OracleSql: String =
    s"""WITH ${bm25ScoredCtes(bm25Terms)}
        |SELECT doc_id, dl, score FROM scored WHERE score > 0
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin
}
