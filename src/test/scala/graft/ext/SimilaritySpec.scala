package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SimilaritySpec extends SparkSpec {
  import spark.implicits._
  import VectorFunctions._

  test("dot product: sequential fold over zip_with") {
    val d = Seq(1).toDF("x").select(
      dot(array(lit(1.0), lit(2.0), lit(3.0)),
        array(lit(4.0), lit(5.0), lit(6.0))).as("d")).as[Double].head()
    assert(d === 32.0)
  }

  test("cosine: identical vectors -> 1.0, orthogonal -> 0.0, opposite -> -1.0") {
    def cos(a: Seq[Double], b: Seq[Double]): Double =
      Seq(1).toDF("x").select(
        cosine(array(a.map(lit): _*), array(b.map(lit): _*)).as("c"))
        .as[Double].head()
    assert(math.abs(cos(Seq(1, 2, 3), Seq(1, 2, 3)) - 1.0) < 1e-12)
    assert(cos(Seq(1, 0), Seq(0, 1)) === 0.0)
    assert(math.abs(cos(Seq(1, 2), Seq(-1, -2)) + 1.0) < 1e-12)
  }

  test("asDouble casts float arrays for double math") {
    val d = Seq(Seq(1.5f, 2.5f)).toDF("v")
      .select(dot(asDouble(col("v")), asDouble(col("v"))).as("d"))
      .as[Double].head()
    assert(d === 1.5 * 1.5 + 2.5 * 2.5)
  }

  private val sf = "/root/testdata/sf0.001"

  test("near-dup LSH blocking still finds every planted pair") {
    val found = graft.SparkEntry.queries("q_embedding_neardup")(spark, sf)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // planted = vec_id % 10 == 0 (nonzero norm) copied to id+1000000
    // with a 0.01 first-component nudge => cosine ~ 1 with its source
    val planted = graft.Tables(spark, sf, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .filter(dot(col("v"), col("v")) > 0)
      .filter(col("vec_id") % 10 === 0)
      .select("vec_id").as[Long].collect()
      .map(id => (id, id + 1000000L)).toSet
    assert(planted.nonEmpty)
    val missed = planted -- found
    assert(missed.isEmpty, s"planted pairs missed by the blocking: $missed")
  }

  test("LSH blocking is lossless vs the unblocked all-pairs join on this corpus") {
    val blocked = graft.SparkEntry.queries("q_embedding_neardup")(spark, sf)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // the pre-round-4 formulation: same planted union, same-label
    // ALL-pairs (the quadratic shape the blocking replaced) — ground
    // truth for what a >= 0.99 pair is
    val (all, _) = SimilarityQueries.neardupCandidates(spark, sf)
    val a = all.select(col("vec_id").as("id_a"), col("label").as("la"),
      col("v").as("v_a"))
    val b = all.select(col("vec_id").as("id_b"), col("label").as("lb"),
      col("v").as("v_b"))
    val unblocked = a.join(b, col("la") === col("lb") && col("id_a") < col("id_b"))
      .withColumn("sim", VectorFunctions.cosine(col("v_a"), col("v_b")))
      .filter(col("sim") >= 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(blocked === unblocked,
      s"missed: ${unblocked -- blocked}; extra: ${blocked -- unblocked}")
  }

  test("build-once memo is bounded: overflow clears instead of growing") {
    // the catalog every build-once artifact (training, index layouts,
    // warehouse) goes through: MemoMaxEntries+1 distinct builds of one
    // kind never exceed the cap, the overflow deletes every dir it
    // evicts, and clearAll empties the catalog and deletes the rest
    import graft.ops.BuildOnce
    def exists(d: String) = new java.io.File(d).exists()
    val n = BuildOnce.MemoMaxEntries + 1
    val dirs = (0 until n).map { i =>
      BuildOnce.dir("bound_probe", spark, Nil, i) { d =>
        java.nio.file.Files.write(java.nio.file.Paths.get(d, "v"),
          Array(i.toByte))
      }
    }
    assert(dirs.distinct.size == n)
    // the overflow dropped the kind and deleted its dirs: only the
    // build after it is left
    assert(BuildOnce.ownedDirs.filter(dirs.contains) == Seq(dirs.last))
    assert(dirs.init.forall(!exists(_)))
    assert(exists(dirs.last))
    // a hit serves the built dir without building again
    assert(BuildOnce.dir("bound_probe", spark, Nil, n - 1)(
      _ => fail("rebuilt on a hit")) == dirs.last)
    BuildOnce.clearAll()
    assert(BuildOnce.ownedDirs.isEmpty)
    assert(!exists(dirs.last))
  }

  test("near-dup candidates are an equi-join on (label, bucket), never label alone") {
    val (_, cand) = SimilarityQueries.neardupCandidates(spark, sf)
    val joinConds = cand.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        j.condition.map(_.toString).getOrElse("")
    }
    val labelJoins = joinConds.filter(_.contains("label"))
    assert(labelJoins.nonEmpty, joinConds.mkString("\n"))
    // every join that touches label also carries the sign-bucket key —
    // the all-pairs-within-a-label shape is gone
    labelJoins.foreach(c => assert(c.contains("bucket"), c))
  }

  test("q_mmr_rerank: greedy invariants — anchored start, no repeats, non-increasing mmr") {
    val rows = graft.SparkEntry.queries("q_mmr_rerank")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val byQ = rows.groupBy(_._1)
    assert(byQ.size === 20)
    // position 1 is the pure-relevance top-1 (MMR with an empty
    // selection degenerates to relevance), and it must agree with the
    // brute-force cosine ranking's rank-1
    val top1 = graft.SparkEntry.queries("q_ann_cosine_topk")(spark, sf)
      .filter(col("rank") === 1L).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    byQ.foreach { case (q, sel) =>
      val ordered = sel.sortBy(_._2)
      assert(ordered.map(_._2).toSeq === (1L to 8L), s"q=$q positions")
      assert(ordered.map(_._3).distinct.length === 8, s"q=$q repeats")
      assert(ordered.head._3 === top1(q), s"q=$q anchor pick")
      assert(ordered.head._5 === 7L * ordered.head._4, s"q=$q mmr1")
      // each round maximizes a score that can only shrink as the
      // exclusion set grows, so picked mmr is non-increasing
      ordered.map(_._5).sliding(2).foreach { case Array(a, b) =>
        assert(a >= b, s"q=$q mmr not non-increasing: $a -> $b")
      }
    }
    // diversity must actually fire somewhere: if every query's pick
    // ORDER equalled its pure-relevance order, the redundancy penalty
    // never moved a decision and the operator would be a no-op here
    val differs = byQ.exists { case (_, sel) =>
      val mmrIds = sel.sortBy(_._2).map(_._3).toSeq
      val relIds = sel.sortBy(t => (-t._4, t._3)).map(_._3).toSeq
      mmrIds != relIds
    }
    assert(differs, "MMR never diverged from relevance order")
  }
}
