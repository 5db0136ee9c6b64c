package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextAnalysis}

/** Dedup-operator invariants on doctored near-duplicate corpora. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog again and again every single day"
  private val corpus = Seq(
    (1L, base),
    (2L, base),                                        // exact dup of 1
    (3L, base.replace("lazy", "sleepy")),              // near dup
    (4L, "completely unrelated text about database engines and query optimization plans"),
    (5L, base.replace("quick", "swift").replace("dog", "cat")) // near dup, 2 edits
  ).toDF("doc_id", "text")

  test("exact dedup keeps min-id representative") {
    val groups = Dedup.exactDuplicateGroups(corpus, "doc_id", "text").collect()
    assert(groups.length == 4) // 1&2 merge
    val dupGroup = groups.find(_.getAs[Long]("n_copies") == 2).get
    assert(dupGroup.getAs[Long]("keep_id") == 1L)
    val kept = Dedup.exactDedup(corpus, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L, 5L))
  }

  test("minhash LSH finds the near-dup pairs an exact jaccard would") {
    val exact = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
        shingleSize = 2, minJaccard = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val approx = Dedup.minHashNearDupPairs(corpus, "doc_id", "text",
        shingleSize = 2, numHashes = 64, bands = 32, minJaccard = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.contains((1L, 2L)))
    // verification step makes minhash pairs a subset of true pairs;
    // banding with 32 bands at j>=0.5 should find them all here
    assert(approx == exact)
  }

  test("ngram jaccard: identical docs => 1.0; unrelated => no pair at 0.5") {
    val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
        shingleSize = 2, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(!pairs.keys.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("prefix-filter plan returns exactly the counting plan's pairs") {
    // the opt-in PPJoin path must be a pure plan change, not a
    // semantics change — differentially checked on the real fixture
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def run(prefix: Boolean) =
      Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          shingleSize = 3, minJaccard = 0.6, usePrefixFilter = prefix)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("j"))
        .as[(Long, Long, Double)].collect().toSet
    val counting = run(false)
    assert(counting.nonEmpty)
    assert(run(true) == counting)
  }

  test("incremental minhash: same pairs as full dedup, minus existing-existing") {
    // real fixture split into an "already deduped" corpus and a new batch
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val existing = docs.filter($"doc_id" % 3 =!= 0)
    val incoming = docs.filter($"doc_id" % 3 === 0)
    val full = Dedup.minHashNearDupPairs(docs, "doc_id", "text",
        shingleSize = 3, numHashes = 64, bands = 32, minJaccard = 0.2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val newIds = incoming.select("doc_id").as[Long].collect().toSet
    // expectation: exactly full's pairs that touch an incoming doc,
    // oriented so id_b is the incoming side
    val expected = full.filter { case (a, b) => newIds(a) || newIds(b) }
      .map { case (a, b) => if (newIds(b)) (a, b) else (b, a) }
    val inc = Dedup.incrementalMinHashPairs(existing, incoming, "doc_id", "text",
        shingleSize = 3, numHashes = 64, bands = 32, minJaccard = 0.2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(inc == expected)
    assert(inc.forall { case (_, b) => newIds(b) })
  }

  test("incremental dedup: corpus dups dropped, batch groups keep one") {
    val existing = Seq((10L, base), (11L, "some other existing document text here"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (20L, base),                                    // dup of existing 10
      (21L, "a brand new unique document about spark"),
      (22L, "catalog systems for petabyte scale analytics engines"),
      (23L, "catalog systems for petabyte scale analytics engines")  // dup of 22
    ).toDF("doc_id", "text")
    val kept = Dedup.incrementalDedup(existing, incoming, "doc_id", "text",
        shingleSize = 2, numHashes = 64, bands = 32, minJaccard = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(21L, 22L)) // 20 dup-of-corpus, 23 loses to 22
  }

  test("simhash: identical tokens => identical hash; near dup within small hamming") {
    val sims = corpus
      .select($"doc_id", Dedup.simhash(TextAnalysis.tokens($"text")).as("h"))
      .as[(Long, Long)].collect().toMap
    assert(sims(1L) == sims(2L))
    val hamming13 = java.lang.Long.bitCount(sims(1L) ^ sims(3L))
    val hamming14 = java.lang.Long.bitCount(sims(1L) ^ sims(4L))
    assert(hamming13 < hamming14) // near dup closer than unrelated
  }

  test("embedding near-dup: exact dups found by LSH-bucketed path") {
    val embedder = graft.functions.HashingEmbedder(dimension = 64)
    val embDf = corpus.as[(Long, String)].collect().toSeq
      .map { case (id, t) => (id, embedder.embedOne(t)) }
      .toDF("doc_id", "emb")
    val pairs = Dedup.embeddingNearDupPairs(embDf, "doc_id", "emb",
        minCosine = 0.95, bruteForce = false, numTables = 8, bitsPerTable = 4, dim = 64)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // identical embeddings share all buckets
  }

  test("embedding near-dup: auto-sized bits (bitsPerTable<=0) matches fixed-bits pairs at small n") {
    val embedder = graft.functions.HashingEmbedder(dimension = 64)
    val embDf = corpus.as[(Long, String)].collect().toSeq
      .map { case (id, t) => (id, embedder.embedOne(t)) }
      .toDF("doc_id", "emb")
    // n << 64*2^4 ⇒ auto-sizing clamps to the 4-bit floor: the plan must
    // be identical to the explicit bitsPerTable = 4 call above.
    val auto = Dedup.embeddingNearDupPairs(embDf, "doc_id", "emb",
        minCosine = 0.95, bruteForce = false, numTables = 8, bitsPerTable = 0, dim = 64)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val fixed = Dedup.embeddingNearDupPairs(embDf, "doc_id", "emb",
        minCosine = 0.95, bruteForce = false, numTables = 8, bitsPerTable = 4, dim = 64)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(auto == fixed)
    assert(auto.contains((1L, 2L)))
    // and no duplicate pairs survive the multi-table union
    val rows = Dedup.embeddingNearDupPairs(embDf, "doc_id", "emb",
        minCosine = 0.95, bruteForce = false, numTables = 8, bitsPerTable = 0, dim = 64)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(rows.length == rows.toSet.size)
  }

  test("repeated spans: shared boilerplate detected, unique text not") {
    val boiler = (1 to 8).map(i => s"lic$i").mkString(" ") // one full 8-token window
    val docs = Seq(
      (1L, s"$boiler alpha beta gamma delta epsilon zeta eta theta"),
      (2L, s"$boiler iota kappa lambda mu nu xi omicron pi"),
      (3L, "entirely unique words that no other document carries here ok"))
      .toDF("doc_id", "text")
    val prof = Dedup.repetitionProfile(docs, "doc_id", "text",
      spanTokens = 8, stride = 4, minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(prof(1L) > 0.0 && prof(2L) > 0.0)
    assert(prof(3L) == 0.0)
  }

  test("repetition profile: exact duplicate docs are fully repeated") {
    val text = (1 to 20).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, text), (2L, text)).toDF("doc_id", "text")
    val prof = Dedup.repetitionProfile(docs, "doc_id", "text",
      spanTokens = 8, stride = 4, minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(prof(1L) == 1.0 && prof(2L) == 1.0)
  }

  test("splitmix64 / string_hash64 expressions match the JVM reference") {
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.graft.expressions.{SplitMix64, StringHash64, TextHash}
    val got = Seq((7L, "hello world")).toDF("id", "s")
      .select(
        Bridge.column(SplitMix64(Bridge.expression($"id"))).as("m"),
        Bridge.column(StringHash64(Bridge.expression($"s"))).as("h"))
      .collect()(0)
    assert(got.getLong(0) == TextHash.splitmix64(7L))
    assert(got.getLong(1) == TextHash.stringHash(
      org.apache.spark.unsafe.types.UTF8String.fromString("hello world"), 42L))
  }
}
