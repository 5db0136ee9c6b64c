package graft

import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.index.LshModel
import graft.model.GraftConfig
import graft.operators.Similarity

/**
 * Adversarial-skew contracts for the bulk LSH kNN join — the corpus it
 * exists for is PRE-dedup (re-crawl spam = large identical-vector
 * masses that share every bucket key), so the operator must stay
 * bounded there, not just on decorrelated fixtures:
 *  - bounded_topk == the collect_list+sort+slice+distinct shape it
 *    replaced (the k-smallest-distinct contract), on data with
 *    duplicates and ties
 *  - exact-vector collapse: bucketed rows == distinct vectors × tables
 *    on a majority-identical corpus, and the join's output is
 *    IDENTICAL to the uncollapsed reference shape (collapse is
 *    lossless by the padded-member argument in the scaladoc)
 *  - excludeSelf padding: a query inside a large identical group still
 *    gets k results (the k+1 pad — the deficit case a k-sized member
 *    list would truncate)
 *  - width cap: under a tiny cap every bucket is thinned to ~cap reps,
 *    deterministically, and the join still returns well-formed
 *    exact-scored rows
 *  - plan audit: no unbounded collect_list anywhere in the join's plan
 */
class LshSkewSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 16
  private val rnd = new scala.util.Random(11)
  private def unit(v: Array[Double]): Seq[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat).toSeq
  }
  private def randVec(): Seq[Float] =
    unit(Array.fill(dim)(rnd.nextGaussian()))

  // 80 distinct vectors + 120 copies of one "spam" vector: 60% of the
  // corpus is one identical mass (ids interleaved so member order is
  // exercised), the shape that made the unguarded join quadratic.
  private val spam = randVec()
  private val distinctVecs: Seq[(Long, Seq[Float])] =
    (0 until 80).map(i => (i * 3L, randVec()))
  private val spamRows: Seq[(Long, Seq[Float])] =
    (0 until 120).map(i => (i * 3L + 1, spam))
  private lazy val corpus = (distinctVecs ++ spamRows)
    .toDF("vec_id", "embedding")
    .withColumn("embedding", col("embedding").cast("array<float>"))
    .localCheckpoint(true)

  private val lsh = LshModel(numTables = 8, bitsPerTable = 4, dim = dim)

  /** The pre-rework join shape (raw rows bucketed, collect_list top-k)
    * — the semantics oracle the guarded operator must reproduce. */
  private def uncollapsedJoin(k: Int, excludeSelf: Boolean) = {
    val c = corpus.select(col("vec_id").as("id"), col("embedding").as("ce"),
      explode(lsh.bucketsColumn(col("embedding"))).as("bucket"))
    val q = corpus.select(col("vec_id").as("query_id"), col("embedding").as("qe"),
      explode(lsh.bucketsColumn(col("embedding"))).as("bucket"))
    val cand = q.join(c, Seq("bucket"))
    val kept = if (excludeSelf) cand.filter(col("query_id") =!= col("id")) else cand
    val item = struct((-cosine_sim(col("ce"), col("qe"))).as("neg"), col("id").as("nid"))
    kept.groupBy("query_id")
      .agg(slice(array_sort(array_distinct(collect_list(item))), 1, k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "item")))
      .select(col("query_id"), col("item.nid").as("neighbor_id"),
        (-col("item.neg")).as("score"), (col("pos") + 1).cast("int").as("rank"))
  }

  private def resultKey(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      math.round(r.getDouble(2) * 1e9), r.getInt(3))).toSet

  test("bounded_topk == collect_list+sort+distinct+slice on dup-heavy data") {
    val df = Seq(
      (1L, 0.9, 10L), (1L, 0.9, 10L), (1L, 0.9, 11L), (1L, 0.5, 12L),
      (1L, 0.99, 13L), (1L, 0.5, 14L), (1L, 0.5, 12L),
      (2L, 0.1, 20L), (2L, 0.1, 21L), (2L, 0.1, 22L), (2L, 0.2, 23L),
      (3L, 0.7, 30L)
    ).toDF("query_id", "score", "nid")
    for (k <- Seq(1, 2, 3, 10)) {
      val item = struct((-col("score")).as("neg"), col("nid"))
      val got = df.groupBy("query_id").agg(bounded_topk(item, k).as("top"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
      val want = df.groupBy("query_id")
        .agg(slice(array_sort(array_distinct(collect_list(item))), 1, k).as("top"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
      assert(got == want, s"bounded_topk mismatch at k=$k")
    }
  }

  test("bounded_topk orders string ids and survives partial/merge boundaries") {
    // many partitions force partial buffers + merges; string items check
    // the generic-ordering + copy path (UTF8String aliasing)
    val df = spark.range(0, 1000).repartition(7)
      .select((col("id") % 3).as("query_id"),
        concat(lit("v"), format_string("%04d", col("id"))).as("nid"))
    val got = df.groupBy("query_id").agg(bounded_topk(col("nid"), 5).as("top"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    (0L until 3L).foreach { q =>
      val want = (0 until 1000).filter(_ % 3 == q)
        .map(i => f"v$i%04d").sorted.take(5).toList
      assert(got(q) == want, s"string top-5 mismatch for group $q")
    }
  }

  test("exact collapse: bucketed rows shrink to distinct vectors; join output identical") {
    val buckets = Similarity.collapsedThinnedBuckets(
      corpus, "vec_id", "embedding", kPad = 6, lsh)
    // 81 distinct vectors (80 random + 1 spam) x 8 tables, NOT 200 x 8
    assert(buckets.count() == 81L * 8)
    // the spam group's rep carries the 6 smallest member ids
    val spamLit = typedLit(spam)
    val spamRow = buckets
      .filter(cosine_sim(col("__cemb"), spamLit) > 0.999999 &&
        vector_norm(col("__cemb")) > 0)
      .select(col("id"), col("__members")).limit(1).collect()(0)
    assert(spamRow.getLong(0) == 1L) // min spam id
    assert(spamRow.getSeq[Long](1).toList == List(1L, 4L, 7L, 10L, 13L, 16L))

    for (excludeSelf <- Seq(true, false)) {
      val got = resultKey(Similarity.lshKnnJoin(corpus, "vec_id", "embedding",
        corpus, "vec_id", "embedding", k = 5, lsh = lsh, excludeSelf = excludeSelf))
      val want = resultKey(uncollapsedJoin(5, excludeSelf))
      assert(got == want, s"collapse changed the join output (excludeSelf=$excludeSelf)")
    }
  }

  test("excludeSelf inside an identical mass: still k results, smallest sibling ids") {
    // query id 1 is a spam copy; its true neighbors are its 119 siblings
    // at cosine 1.0 — k results must be the k smallest OTHER spam ids
    val q = corpus.filter(col("vec_id") === 1L)
    val rows = Similarity.lshKnnJoin(corpus, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 5, lsh = lsh, excludeSelf = true)
      .orderBy("rank").collect()
    assert(rows.length == 5, s"padding failed: got ${rows.length} rows")
    assert(rows.map(_.getLong(1)).toList == List(4L, 7L, 10L, 13L, 16L))
    assert(rows.forall(_.getDouble(2) > 0.999999))
  }

  test("width cap thins hot buckets deterministically; join stays well-formed") {
    val cap = 8
    // 2-bit tables over 200+ distinct vectors: every bucket is hot
    val crowd = (0 until 240).map(i => (i.toLong, randVec()))
      .toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
      .localCheckpoint(true)
    val tiny = LshModel(numTables = 4, bitsPerTable = 2, dim = dim)
    val thinned = Similarity.collapsedThinnedBuckets(
      crowd, "vec_id", "embedding", kPad = 5, tiny, maxBucketWidth = cap)
    val widths = thinned.groupBy("bucket").count().collect().map(_.getLong(1))
    assert(widths.nonEmpty)
    // hash thinning is Binomial(w, cap/w) around cap — 3x is far
    // outside its tail at these sizes, while the unthinned width (60
    // rows/bucket at 2 bits) would trip it
    assert(widths.max <= 3L * cap,
      s"cap did not bound bucket width: max ${widths.max}")
    val r1 = resultKey(Similarity.lshKnnJoin(crowd, "vec_id", "embedding",
      crowd, "vec_id", "embedding", k = 3, lsh = tiny, excludeSelf = true, maxBucketWidth = cap))
    val r2 = resultKey(Similarity.lshKnnJoin(crowd, "vec_id", "embedding",
      crowd, "vec_id", "embedding", k = 3, lsh = tiny, excludeSelf = true, maxBucketWidth = cap))
    assert(r1 == r2, "thinned join not deterministic")
    assert(r1.nonEmpty)
    assert(r1.forall { case (q, n, _, rank) => q != n && rank >= 1 && rank <= 3 })
  }

  test("derived width cap: default replays the calibrated constant; thinning recall delta quantified") {
    // pin: the candidate-mass derivation must reproduce the value the
    // old constant was calibrated to (2^18 budget / 64 occupancy)
    assert(GraftConfig.lshMaxBucketWidth == 4096,
      s"derived cap drifted: ${GraftConfig.lshMaxBucketWidth}")
    // quantify the recall the thinning trades on an ADVERSARIAL
    // fixture (every bucket hot: 240 distinct vectors in 2-bit
    // tables, cap 8 thins ~87% of every bucket) against the exact
    // top-3 — the bounded-probe trade made measurable once
    val crowd = (0 until 240).map(i => (i.toLong, randVec()))
      .toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
      .localCheckpoint(true)
    val tiny = LshModel(numTables = 4, bitsPerTable = 2, dim = dim)
    def knnSet(cap: Int): Set[(Long, Long)] =
      Similarity.lshKnnJoin(crowd, "vec_id", "embedding",
          crowd, "vec_id", "embedding", k = 3, lsh = tiny, excludeSelf = true,
          maxBucketWidth = cap)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = crowd.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      .crossJoin(crowd.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce")))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", cosine_sim(col("qe"), col("ce")))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("score").desc, col("neighbor_id"))))
      .filter(col("rn") <= 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = knnSet(1 << 20) // cap inert
    val capped = knnSet(8)
    val rUncapped = (uncapped & exact).size.toDouble / exact.size
    val rCapped = (capped & exact).size.toDouble / exact.size
    info(f"top-3 recall vs exact: uncapped $rUncapped%.3f, cap=8 $rCapped%.3f " +
      f"(delta ${rUncapped - rCapped}%.3f on an all-hot-bucket fixture)")
    // survival model: a true neighbor is found iff it survives the
    // thinning in at least one bucket SHARED with the query; with
    // ~w=240/4=60 reps/bucket and cap 8 the per-bucket survival is
    // cap/w ≈ 0.133, so capped recall must stay at or above roughly
    // thinRate × uncapped (measured 0.20× — table overlap correlation
    // keeps it near the single-bucket rate). 0.7 safety factor for
    // binomial noise at 240 queries. A collapse (e.g. the thinning
    // accidentally dropping whole buckets) would land far below.
    val thinRate = 8.0 / (240.0 / 4)
    assert(rCapped >= 0.7 * thinRate * rUncapped,
      f"thinning collapsed recall: $rCapped%.3f vs floor ${0.7 * thinRate * rUncapped}%.3f")
  }

  test("plan audit: no unbounded collect_list in the join's physical plan") {
    val plan = Similarity.lshKnnJoin(corpus, "vec_id", "embedding",
        corpus, "vec_id", "embedding", k = 5, lsh = lsh, excludeSelf = true)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("collect_list"),
      "unbounded collect_list buffer in the kNN join plan")
    assert(plan.contains("bounded_topk"), "bounded_topk missing from plan")
  }
}
