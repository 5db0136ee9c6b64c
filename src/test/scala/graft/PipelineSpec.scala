package graft

import org.apache.spark.sql.functions._

import graft.pipeline.CorpusPipeline
import graft.pipeline.CorpusPipeline.CurationConfig

/** End-to-end curation over a doctored corpus with known dirt. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog while it is raining today"
  private val corpus = Seq(
    (1L, base),                                 // keeper
    (2L, base),                                 // exact dup of 1
    (3L, base.replace("lazy", "sleepy")),       // near dup of 1
    (4L, "x"),                                  // too short: quality gate
    (5L, "el perro y el gato en la casa de la abuela es un buen amigo"), // es
    (6L, "completely different text about the spark engine and its query optimizer plans")
  ).toDF("doc_id", "text")

  test("curation drops low-quality, exact dups, and near dups; embeds survivors") {
    val out = CorpusPipeline.curate(corpus, "doc_id", "text",
      CurationConfig(minQuality = 0.5, nearDupJaccard = 0.5))
    val ids = out.select("doc_id").as[Long].collect().toSet
    assert(ids.contains(1L))   // representative of the dup group
    assert(!ids.contains(2L))  // exact dup dropped
    assert(!ids.contains(3L))  // near dup dropped (jaccard vs 1 >= 0.5)
    assert(!ids.contains(4L))  // quality-gated
    assert(ids.contains(6L))
    // embeddings present + unit-norm
    val emb = out.filter(col("doc_id") === 1).select("embedding")
      .collect()(0).getSeq[Float](0)
    assert(math.abs(math.sqrt(emb.map(x => x.toDouble * x).sum) - 1.0) < 1e-5)
    // metrics columns survive
    assert(out.columns.contains("quality_score") && out.columns.contains("lang_pred"))
    // split assignment: pure hash of the id, valid values only
    val splits = out.select("split").as[String].collect().toSet
    assert(splits.subsetOf(Set("train", "val", "test")))
  }

  test("chain dedup keeps one doc per component, not zero") {
    // A ~ B and B ~ C but A !~ C: greedy pair-dropping would also drop
    // C; component dedup must keep exactly the min-id representative
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val b = a.replace("alpha", "omega")            // near dup of a
    val c = b.replace("beta", "sigma").replace("gamma", "tau") // near dup of b, farther from a
    val chain = Seq((10L, a), (11L, b), (12L, c)).toDF("doc_id", "text")
    val out = CorpusPipeline.curate(chain, "doc_id", "text",
      CurationConfig(minQuality = 0.0, nearDupJaccard = 0.5))
    val ids = out.select("doc_id").as[Long].collect().toSet
    assert(ids == Set(10L), s"one representative per component, got $ids")
  }

  test("language gate keeps only requested languages") {
    val out = CorpusPipeline.curate(corpus, "doc_id", "text",
      CurationConfig(minQuality = 0.0, keepLangs = Set("es")))
    val ids = out.select("doc_id").as[Long].collect().toSet
    assert(ids == Set(5L))
  }

  test("curation report counts are monotone non-increasing") {
    val r = CorpusPipeline.curationReport(corpus, "doc_id", "text",
      CurationConfig(minQuality = 0.5, nearDupJaccard = 0.5))
    assert(r("input") == 6)
    assert(r("after_quality") <= r("input"))
    assert(r("after_lang") <= r("after_quality"))
    assert(r("after_exact_dedup") <= r("after_lang"))
    assert(r("after_near_dedup") <= r("after_exact_dedup"))
    assert(r("after_near_dedup") >= 1)
  }

  test("semantic stage drops embedding-level dups that lexical dedup misses") {
    // B is A with word order reversed: 3-gram shingles are disjoint
    // (survives lexical near-dup at any threshold) but the bag-of-token
    // hashing embedding is IDENTICAL -> cosine 1 -> semantic dup.
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val b = a.split(" ").reverse.mkString(" ")
    val c = "completely different text about the spark engine and its query planner"
    val docs = Seq((20L, a), (21L, b), (22L, c)).toDF("doc_id", "text")
    val lexCfg = CurationConfig(minQuality = 0.0, nearDupJaccard = 0.8)

    // gate -> lexical alone keeps all three (ordering precondition)
    val lexical = CorpusPipeline.curate(docs, "doc_id", "text", lexCfg)
    assert(lexical.select("doc_id").as[Long].collect().toSet == Set(20L, 21L, 22L))

    // + semantic stage: exactly one of the reordered pair survives
    val semCfg = lexCfg.copy(semanticMinCosine = Some(0.95))
    val curated = CorpusPipeline.curate(docs, "doc_id", "text", semCfg)
    val ids = curated.select("doc_id").as[Long].collect().toSet
    assert(ids.contains(22L))
    assert(Seq(20L, 21L).count(ids) == 1, s"one of the semantic pair, got $ids")
    // split column still assigned after the semantic stage
    assert(curated.columns.contains("split"))

    // report separates lexical and semantic drops
    val r = CorpusPipeline.curationReport(docs, "doc_id", "text", semCfg)
    assert(r("after_near_dedup") == 3)
    assert(r("after_semantic_dedup") == 2)

    // caller-supplied model path: same keep result, no retrain
    val mat = CorpusPipeline.curate(docs, "doc_id", "text", lexCfg)
    val model = graft.operators.SemDedup.trainModel(mat, "embedding")
    val viaModel = CorpusPipeline.curate(docs, "doc_id", "text", semCfg, Some(model))
    assert(viaModel.select("doc_id").as[Long].collect().toSet == ids)
  }

  test("incremental semantic stage: batch paraphrase of a corpus doc is dropped") {
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val c = "completely different text about the spark engine and its query planner"
    val cfg = CurationConfig(minQuality = 0.0, nearDupJaccard = 0.8,
      semanticMinCosine = Some(0.95))
    val existing = CorpusPipeline.curate(
      Seq((30L, a), (31L, c)).toDF("doc_id", "text"), "doc_id", "text", cfg)
    // batch: word-order-reversed copy of corpus doc 30 (lexically
    // distinct — disjoint shingles — but identical bag-of-token
    // embedding) + a genuinely fresh doc
    val batch = Seq(
      (40L, a.split(" ").reverse.mkString(" ")),
      (41L, "fresh corpus material about window functions and shuffles tonight")
    ).toDF("doc_id", "text")
    val out = CorpusPipeline.curateIncremental(existing, batch, "doc_id", "text", cfg)
    val ids = out.select("doc_id").as[Long].collect().toSet
    assert(ids == Set(41L), s"semantic dup of corpus must drop: $ids")
    // lexical-only config keeps both (proves the drop is the semantic stage)
    val lexOnly = CorpusPipeline.curateIncremental(existing, batch, "doc_id",
      "text", cfg.copy(semanticMinCosine = None))
    assert(lexOnly.select("doc_id").as[Long].collect().toSet == Set(40L, 41L))
  }

  test("incremental curation: batch deduped against the existing corpus") {
    // first batch curated the usual way becomes the corpus
    val cfg = CurationConfig(minQuality = 0.0, nearDupJaccard = 0.5)
    val existing = CorpusPipeline.curate(corpus, "doc_id", "text", cfg)
      .select("doc_id", "text")
    // new batch: a dup of corpus doc 1, an internal dup pair, a keeper
    val batch = Seq(
      (101L, base),                                       // dup of existing 1
      (102L, "fresh unique content about distributed joins and shuffles"),
      (103L, "fresh unique content about distributed joins and shuffles today"), // near dup of 102
      (104L, "entirely novel writing on streaming watermark semantics")
    ).toDF("doc_id", "text")
    val out = CorpusPipeline.curateIncremental(existing, batch, "doc_id", "text", cfg)
    val ids = out.select("doc_id").as[Long].collect().toSet
    assert(ids == Set(102L, 104L), s"got $ids") // 101 corpus-dup, 103 loses to 102
    assert(out.columns.contains("embedding") && out.columns.contains("split"))
    // the kept batch rows never contain existing ids (batch-only output)
    assert(!ids.contains(1L))
  }

  test("redactPii stage scrubs text before dedup and embedding") {
    val docs = Seq(
      (1L, base + " mail me at a@b.co for details and more things"),
      (2L, base + " mail me at x@y.io for details and more things") // same after scrub
    ).toDF("doc_id", "text")
    val out = CorpusPipeline.curate(docs, "doc_id", "text",
      CurationConfig(minQuality = 0.0, nearDupJaccard = 0.9, redactPii = true))
    val rows = out.select("doc_id", "text").as[(Long, String)].collect().toMap
    // scrubbed texts are identical -> exact dedup keeps only doc 1
    assert(rows.keySet == Set(1L))
    assert(rows(1L).contains("<EMAIL>") && !rows(1L).contains("a@b.co"))
  }

  test("curation on the real documents table survives at fixture scale") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val out = CorpusPipeline.curate(docs, "doc_id", "text",
      CurationConfig(minQuality = 0.3, nearDupJaccard = 0.8))
    val n = out.count()
    assert(n > 0 && n <= docs.count())
  }
}
