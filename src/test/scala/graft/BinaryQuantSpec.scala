package graft

import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.{cosine_sim, hamming_dist, sign_bits}
import graft.index.BinaryQuant
import graft.operators.Similarity

/** Binary sign-quantization tier: pack/Hamming semantics, expression ↔
  * driver agreement, recall vs exact, and the codegen'd prefilter plan. */
class BinaryQuantSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("pack: bit i set iff v(i) >= 0, multi-word for dim > 64") {
    val v = Array.tabulate(70)(i => if (i % 3 == 0) 1f else -1f)
    val words = BinaryQuant.pack(v)
    assert(words.length == 2)
    (0 until 70).foreach { i =>
      val bit = (words(i >>> 6) >>> (i & 63)) & 1L
      assert(bit == (if (i % 3 == 0) 1L else 0L), s"bit $i")
    }
    // -0.0f and NaN: IEEE comparison semantics on both engines
    assert(BinaryQuant.pack(Array(-0.0f))(0) == 1L) // -0.0 >= 0 is true
    assert(BinaryQuant.pack(Array(Float.NaN))(0) == 0L) // NaN >= 0 is false
  }

  test("hamming: zero on self, symmetric, counts exactly the sign flips") {
    val a = Array(1f, -1f, 1f, -1f)
    val b = Array(1f, 1f, -1f, -1f)
    val df = Seq((BinaryQuant.pack(a).toSeq, BinaryQuant.pack(b).toSeq))
      .toDF("sa", "sb")
    val Array(h1, h2, h0) = df.select(
        hamming_dist(col("sa"), col("sb")),
        hamming_dist(col("sb"), col("sa")),
        hamming_dist(col("sa"), col("sa")))
      .collect()(0).toSeq.map(_.asInstanceOf[Int]).toArray
    assert(h1 == 2 && h2 == 2 && h0 == 0)
  }

  test("sign_bits expression agrees with driver-side pack on real vectors") {
    val rows = emb.filter(col("embedding").isNotNull).limit(50)
      .select(col("embedding"), sign_bits(col("embedding")).as("sig"))
      .collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](0).toArray
      assert(r.getSeq[Long](1) == BinaryQuant.pack(v).toSeq)
    }
  }

  test("knn: k rows, self is rank 1, recall@10 vs exact holds the floor") {
    val q = emb.filter(col("vec_id") === 0).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    val got = BinaryQuant.knn(emb, "vec_id", "embedding", q,
      k = 10, candidates = 64).select("vec_id").collect().map(_.getLong(0))
    assert(got.length == 10)
    assert(got.head == 0L, "the query vector itself is Hamming-0 and cosine-1")
    val exact = Similarity.knnExact(emb, "vec_id", "embedding", q, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = got.count(exact.contains) / 10.0
    // sign bits keep ~1 bit/dim of angle information, so recall at
    // FIXED C decays as n grows — measured (R13Probe binrecall):
    // C=64 gives 0.78 at n=500 (this fixture) but 0.53 at n=2000,
    // which is why the facade budgets candidates as a corpus FRACTION
    // (GraftConfig.binaryCandidateFraction). Floor with margin at the
    // fixture's measured 0.78.
    assert(recall >= 0.6, s"recall@10 $recall below floor")
  }

  test("prefilter stays in whole-stage codegen and heaps, not sorts") {
    val q = emb.filter(col("vec_id") === 0).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    val plan = BinaryQuant.signatures(emb, "vec_id", "embedding")
      .withColumn("ham", hamming_dist(col("sig"),
        typedLit(BinaryQuant.pack(q).toSeq)))
      .orderBy(col("ham").asc, col("vec_id").asc).limit(64)
      .queryExecution.executedPlan.toString
    // "*(n)" spans = WholeStageCodegen; the top-C is a per-partition
    // heap (TakeOrderedAndProject), never a global sort
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
    assert(plan.contains("*(1)"), plan.take(800))
    assert(!plan.contains("CodegenFallback"), plan.take(800))
  }

  test("hammingNearDupPairs: complete and duplicate-free vs brute force") {
    // the pigeonhole claim, checked against a brute-force cross join:
    // every pair with ham <= 3 (and cos >= tau) is found EXACTLY once
    val corpus = emb.filter(col("vec_id") < 300)
      .select(col("vec_id"), col("embedding"))
    // plant tight duplicates (negate two dims => ham <= 2)
    val planted = corpus.select((col("vec_id") + 10000).as("vec_id"),
      concat(
        array((-element_at(col("embedding"), 1)).cast("float"),
          (-element_at(col("embedding"), 2)).cast("float")),
        slice(col("embedding"), 3, 62)).as("embedding"))
    val all = corpus.unionByName(planted)
    val got = BinaryQuant.hammingNearDupPairs(all, "vec_id", "embedding",
        dim = 64, maxHamming = 3, minCosine = 0.5)
      .select("ia", "ib", "ham").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.length == got.distinct.length, "canonical filter must dedup")
    val a = all.select(col("vec_id").as("ia"), col("embedding").as("ea"),
      sign_bits(col("embedding")).as("sa"))
    val b = all.select(col("vec_id").as("ib"), col("embedding").as("eb"),
      sign_bits(col("embedding")).as("sb"))
    val brute = a.crossJoin(b).filter(col("ia") < col("ib"))
      .withColumn("ham", hamming_dist(col("sa"), col("sb")))
      .filter(col("ham") <= 3)
      .withColumn("cos", cosine_sim(col("ea"), col("eb")))
      .filter(col("cos") >= 0.5)
      .select("ia", "ib", "ham").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.toSet == brute.toSet,
      s"banded join must equal brute force (${got.length} vs ${brute.length})")
    assert(got.length == 300, "every planted pair found")
  }

  test("hammingNearDupPairs: refuses a band plan with no guarantee") {
    val tiny = emb.limit(2).select(col("vec_id"), col("embedding"))
    intercept[IllegalArgumentException] {
      BinaryQuant.hammingNearDupPairs(tiny, "vec_id", "embedding",
        dim = 64, maxHamming = 64, minCosine = 0.5)
    }
  }

  test("facade: binary index search agrees with exact top-k") {
    import graft.catalog.VectorCatalog
    import graft.search.SearchService
    import graft.model.SearchQuery
    val cat = new VectorCatalog(spark)
    val lib = cat.createLibrary("L", indexType = "binary").toOption.get
    val doc = cat.createDocument(lib.id, "D").toOption.get
    val texts = Seq("gardening and soil", "astronomy and stars",
      "cooking with herbs", "stars and telescopes", "soil nutrition basics",
      "herbal tea recipes", "galactic astronomy", "vegetable gardening")
    texts.foreach(t => cat.createChunk(doc.id, t))
    cat.indexLibrary(lib.id, "binary")
    assert(cat.getLibrary(lib.id).toOption.get.is_indexed)
    val svc = new SearchService(cat)
    val got = svc.search(lib.id,
      SearchQuery(queryText = Some("astronomy of stars"), k = 3))
      .toOption.get.results.map(_.chunk.text)
    // the 64-candidate prefilter covers this 8-chunk corpus entirely,
    // so the result must EQUAL exact search (prefilter is a no-op here;
    // this pins the plumbing: sig build, Hamming probe, rerank, shape)
    val exactLib = cat.createLibrary("LE", indexType = "exact").toOption.get
    val exactDoc = cat.createDocument(exactLib.id, "D").toOption.get
    texts.foreach(t => cat.createChunk(exactDoc.id, t))
    val expected = svc.search(exactLib.id,
      SearchQuery(queryText = Some("astronomy of stars"), k = 3))
      .toOption.get.results.map(_.chunk.text)
    assert(got == expected)
  }

  test("facade: binary refresh reconciles inserts, re-embeds, deletes") {
    import graft.catalog.VectorCatalog
    val cat = new VectorCatalog(spark)
    val lib = cat.createLibrary("L", indexType = "binary").toOption.get
    val doc = cat.createDocument(lib.id, "D").toOption.get
    val c1 = cat.createChunk(doc.id, "the original text about gardening").toOption.get
    val c2 = cat.createChunk(doc.id, "an unrelated stable sibling chunk").toOption.get
    cat.indexLibrary(lib.id, "binary")

    // insert + update + delete between refreshes
    val c3 = cat.createChunk(doc.id, "a brand new third chunk").toOption.get
    cat.updateChunk(c1.id, text = Some("completely different words on astronomy"))
    cat.deleteChunk(c2.id)
    cat.refreshIndex(lib.id)

    val sigs = cat.indexState(lib.id).get.signatures.get
    val byId = sigs.select("id", "sig").collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(byId.keySet == Set(c1.id, c3.id), "delete gone, insert present")
    // the updated chunk's signature must reflect the NEW embedding
    val expected = BinaryQuant.pack(
      cat.getChunk(c1.id).toOption.get.embedding.get).toSeq
    assert(byId(c1.id) == expected, "stale signature for re-embedded chunk")
  }

  test("facade: binary index persists and loads (search-equal roundtrip)") {
    import graft.catalog.VectorCatalog
    import graft.search.SearchService
    import graft.model.SearchQuery
    val cat = new VectorCatalog(spark)
    val lib = cat.createLibrary("L", indexType = "binary").toOption.get
    val doc = cat.createDocument(lib.id, "D").toOption.get
    Seq("alpha beta gamma", "delta epsilon", "beta gamma delta",
      "zeta eta theta").foreach(t => cat.createChunk(doc.id, t))
    cat.indexLibrary(lib.id, "binary")
    val dir = java.nio.file.Files.createTempDirectory("binquant").toString
    cat.save(dir); cat.saveIndexes(dir)

    val cat2 = new VectorCatalog(spark)
    // registries restore via save/load in ApiSpec; here only the index
    // roundtrip is under test, so re-register the library and chunks
    cat2.load(dir)
    val loaded = cat2.loadIndex(dir, lib.id)
    assert(loaded.isRight, loaded.toString)
    assert(loaded.toOption.get.indexType == graft.catalog.IndexType.Binary)
    val q = SearchQuery(queryText = Some("beta gamma"), k = 2)
    val a = new SearchService(cat).search(lib.id, q).toOption.get.results.map(_.chunk.id)
    val b = new SearchService(cat2).search(lib.id, q).toOption.get.results.map(_.chunk.id)
    assert(a == b && a.size == 2)
  }

  test("q116 oracle replays at the test fixture (guards pass, SQL emitted)") {
    val sql = graft.queries.AnnOracles.q116(spark, sfDir, k = 10, cands = 64)
    assert(sql.nonEmpty, "q116 oracle unexpectedly withheld at sf0.001")
    assert(sql.get.contains(">= 0"), "sign replay missing")
  }

  test("bandWidth: largest word-aligned width leaving maxHamming+1 bands") {
    // the shared engine/oracle rule (ADVICE r13: no hardcoded 16)
    assert(BinaryQuant.bandWidth(64, 3) == 16)
    assert(BinaryQuant.bandWidth(128, 3) == 32)
    assert(BinaryQuant.bandWidth(96, 5) == 16)
    assert(BinaryQuant.bandWidth(64, 0) == 64)
    intercept[IllegalArgumentException](BinaryQuant.bandWidth(64, 64))
  }

  test("facade: sigCount is captured at build and refresh (no per-search count job)") {
    import graft.catalog.VectorCatalog
    val cat = new VectorCatalog(spark)
    val lib = cat.createLibrary("LC", indexType = "binary").toOption.get
    val doc = cat.createDocument(lib.id, "D").toOption.get
    (1 to 5).foreach(i => cat.createChunk(doc.id, s"text number $i"))
    cat.indexLibrary(lib.id, "binary")
    assert(cat.indexState(lib.id).flatMap(_.sigCount).contains(5L))
    cat.createChunk(doc.id, "a sixth text")
    cat.refreshIndex(lib.id)
    assert(cat.indexState(lib.id).flatMap(_.sigCount).contains(6L))
  }

  test("hot-band cap: constant-sign region stays near-linear, planted pairs kept") {
    // adversarial fixture (VERDICT r13 item 4): dims 0-15 share ONE
    // sign pattern across the whole corpus, so band 0 is a single
    // group holding every row (the n^2/2 regime the cap exists for);
    // dims 16-63 carry seeded random signs
    val n = 2000
    val rnd = new scala.util.Random(7)
    val base = (0L until n.toLong).map { i =>
      val v = Array.tabulate(64) { d =>
        if (d < 16) 0.5f
        else (if (rnd.nextBoolean()) 1f else -1f) * (0.1f + rnd.nextFloat())
      }
      (i, v)
    }
    // plant one near-dup per row: dims 17-18 negated — flips confined
    // to band 1 (ham = 2), so every planted pair ALSO shares bands 2
    // and 3; a survival-aware join must find all of them even with the
    // constant band thinned 80x
    val planted = base.map { case (i, v) =>
      val u = v.clone(); u(16) = -u(16); u(17) = -u(17)
      (i + 10000L, u)
    }
    val df = (base ++ planted).toDF("vec_id", "embedding")
    val cap = 50
    val got = BinaryQuant.hammingNearDupPairs(df, "vec_id", "embedding",
        dim = 64, maxHamming = 3, minCosine = 0.5, maxBandWidth = cap)
      .select("ia", "ib").collect().map(r => (r.getLong(0), r.getLong(1)))
    // exact recovery: the true pair set IS the n planted pairs
    // (random 48-bit tails put every other pair at ham >> 3), found
    // once each — no loss through the thinned hot band, no dupes
    assert(got.length == got.distinct.length, "duplicate emissions")
    val gotSet = got.toSet
    (0L until n.toLong).foreach { i =>
      assert(gotSet.contains((i, i + 10000L)), s"planted pair $i lost")
    }
    assert(got.length == n, s"false positives: ${got.length} != $n")

    // candidate-mass receipt: the capped occurrence stream's group
    // widths bound the join work at sum(w*(w-1)/2); uncapped, band 0
    // alone is 4000*3999/2 = 8.0M pair rows in ONE task
    val exploded = BinaryQuant.explodedBands(df, "vec_id", "embedding", 64, 3)
    val widths = exploded.groupBy("b", "v").agg(count(lit(1)).as("__w"))
    val hot = widths.filter(col("__w") > cap)
    val hotN = hot.count()
    assert(hotN >= 1, "the constant band must actually be hot")
    val keyed = BinaryQuant.cappedBands(exploded, hot, hotN, cap, 64, 3)
    val mass = keyed.groupBy("b", "v").count()
      .agg(sum((col("count") * (col("count") - 1) / 2).cast("long")))
      .collect()(0).getLong(0)
    val uncapped = widths
      .agg(sum((col("__w") * (col("__w") - 1) / 2).cast("long")))
      .collect()(0).getLong(0)
    info(s"candidate mass: capped=$mass uncapped=$uncapped")
    assert(uncapped > 8000000L, "fixture must be genuinely quadratic uncapped")
    // near-linear: ~3n from the planted pairs' shared bands plus the
    // capped hot band's ~cap^2/2 plus random 16-bit collisions
    assert(mass < 50L * n, s"capped mass $mass not near-linear")
  }

  test("hot-band cap derives from the candidate-mass budget") {
    import graft.model.GraftConfig
    assert(GraftConfig.binaryMaxBandWidth ==
      math.sqrt(2.0 * GraftConfig.binaryTargetBandCandidates).toInt)
    assert(GraftConfig.binaryMaxBandWidth == 724)
  }
}
