package graft

import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.index.{AnnRegistry, HnswModel, IvfModel, LshModel}

/** The opt-in cosine-topk -> IVF-probe optimizer rewrite
  * (AnnTopKProbe), differentially tested against the explicit probe
  * path it replaces. */
class AnnTopKProbeSpec extends SparkSpec {
  import spark.implicits._

  private lazy val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")

  private def topk(df: org.apache.spark.sql.DataFrame, q: Array[Float], k: Int) =
    df.withColumn("score", cosine_sim(col("embedding"), typedLit(q)))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)
      .select("vec_id").as[Long].collect().toSeq

  test("rewrite == explicit probe; inert without conf; survives column pruning") {
    val model = IvfModel.train(corpus, "embedding", nlist = 8)
    val q = corpus.filter($"vec_id" === 3).select("embedding")
      .collect()(0).getSeq[Float](0).toArray

    spark.conf.unset("spark.graft.ann.autoProbe")
    val exact = topk(corpus, q, 10)
    val explicitProbe = topk(
      model.candidates(model.assign(corpus, "embedding"), q, nprobe = 2), q, 10)
    assert(explicitProbe != exact, "nprobe=2/8 should actually prune on this data")

    AnnRegistry.register("spec-idx", model, nprobe = 2)
    spark.conf.set("spark.graft.ann.autoProbe", "spec-idx")
    try {
      // NOTE: topk ends in select("vec_id") — the collected plan is
      // column-pruned, which is exactly the case that must still match
      val auto = topk(corpus, q, 10)
      assert(auto == explicitProbe, "rewritten plan must equal the explicit probe")
    } finally {
      spark.conf.unset("spark.graft.ann.autoProbe")
      AnnRegistry.unregister("spec-idx")
    }

    // and the exact query is restored once the conf is off
    assert(topk(corpus, q, 10) == exact)
  }

  test("rule skips a registered index of a different dimension") {
    val wrongDim = IvfModel(Array(Array(0.1f, 0.2f), Array(-0.3f, 0.4f)))
    val q = corpus.filter($"vec_id" === 3).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    spark.conf.unset("spark.graft.ann.autoProbe")
    val exact = topk(corpus, q, 10)
    AnnRegistry.register("spec-wrong-dim", wrongDim, nprobe = 1)
    spark.conf.set("spark.graft.ann.autoProbe", "spec-wrong-dim")
    try assert(topk(corpus, q, 10) == exact, "mismatched index must not hijack the plan")
    finally {
      spark.conf.unset("spark.graft.ann.autoProbe")
      AnnRegistry.unregister("spec-wrong-dim")
    }
  }

  test("on a persisted cluster-partitioned table, the probe becomes PARTITION pruning") {
    val model = IvfModel.train(corpus, "embedding", nlist = 8)
    val q = corpus.filter($"vec_id" === 3).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    val path = java.nio.file.Files.createTempDirectory("annprobe").toString
    graft.index.IndexStore.writeByCluster(model.assign(corpus, "embedding"), path)
    val table = spark.read.parquet(path)

    AnnRegistry.register("spec-part", model, nprobe = 2)
    spark.conf.set("spark.graft.ann.autoProbe", "spec-part")
    try {
      val df = table
        .withColumn("score", cosine_sim(col("embedding"), typedLit(q)))
        .orderBy(col("score").desc, col("vec_id").asc).limit(5)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      // the rule filtered the EXISTING cluster_id column (no
      // nearest_centroid evaluation), and since the table is stored
      // partitionBy("cluster_id"), the IN landed in PartitionFilters —
      // the scan reads only the probed directories
      assert(!plan.contains("nearest_centroid"), s"should reuse cluster_id:\n$plan")
      assert(plan.contains("PartitionFilters: [") &&
        plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
          .contains("cluster_id"),
        s"probe must prune partitions:\n$plan")
    } finally {
      spark.conf.unset("spark.graft.ann.autoProbe")
      AnnRegistry.unregister("spec-part")
    }
  }

  test("euclidean-ASC top-k rewrites the same way as cosine-DESC") {
    import graft.functions.GraftFunctions.euclidean_dist
    val model = IvfModel.train(corpus, "embedding", nlist = 8)
    val q = corpus.filter($"vec_id" === 5).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    def nn(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("d", euclidean_dist(col("embedding"), typedLit(q)))
        .orderBy(col("d").asc, col("vec_id").asc).limit(10)
        .select("vec_id").as[Long].collect().toSeq
    spark.conf.unset("spark.graft.ann.autoProbe")
    val exact = nn(corpus)
    val explicitProbe = nn(model.candidates(model.assign(corpus, "embedding"), q, nprobe = 2))
    AnnRegistry.register("spec-l2", model, nprobe = 2)
    spark.conf.set("spark.graft.ann.autoProbe", "spec-l2")
    try assert(nn(corpus) == explicitProbe)
    finally {
      spark.conf.unset("spark.graft.ann.autoProbe")
      AnnRegistry.unregister("spec-l2")
    }
    assert(exact.head == explicitProbe.head) // self row survives the probe
  }

  test("LSH tier: rewrite == explicit signature-table candidates + rerank") {
    val q = corpus.filter($"vec_id" === 3).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    val model = LshModel(numTables = 4, bitsPerTable = 8, dim = q.length, seed = 11L)

    spark.conf.unset("spark.graft.ann.autoProbe")
    val exact = topk(corpus, q, 10)
    // the explicit path the filter form must reproduce: signature table
    // semi-join then exact rerank among candidates
    val sig = model.build(corpus, "vec_id", "embedding")
    val explicitLsh = topk(
      corpus.join(model.candidates(sig, q).withColumnRenamed("id", "vec_id"),
        Seq("vec_id"), "left_semi"), q, 10)

    AnnRegistry.registerLsh("spec-lsh", model)
    spark.conf.set("spark.graft.ann.autoProbe", "spec-lsh")
    try {
      val auto = topk(corpus, q, 10)
      assert(auto == explicitLsh, "filter form must equal the semi-join form")
      // candidate pruning is real on this config (else the test is vacuous)
      if (explicitLsh == exact)
        info("LSH candidates covered the exact top-k on this draw")
      // and the plan carries the synthesized signature overlap, no join
      val optimized = corpus
        .withColumn("score", cosine_sim(col("embedding"), typedLit(q)))
        .orderBy(col("score").desc, col("vec_id").asc).limit(10)
        .queryExecution.optimizedPlan.toString
      assert(optimized.contains("lsh_buckets") && optimized.contains("arrays_overlap"),
        s"LSH probe filter missing:\n$optimized")
      assert(!optimized.toLowerCase.contains("join"), "filter form must not introduce a join")
    } finally {
      spark.conf.unset("spark.graft.ann.autoProbe")
      AnnRegistry.unregister("spec-lsh")
    }
    assert(topk(corpus, q, 10) == exact) // conf off => exact restored
  }

  test("LSH tier: recall gate vs exact top-k across query draws") {
    val dim = corpus.filter($"vec_id" === 0).select("embedding")
      .collect()(0).getSeq[Float](0).length
    // few bits: 16 buckets/table keeps per-bucket occupancy meaningful
    // on a 500-vector corpus (10+ bits leaves buckets near-empty and
    // the gate would measure noise, not the rewrite)
    val model = LshModel(numTables = 8, bitsPerTable = 4, dim = dim, seed = 42L)
    AnnRegistry.registerLsh("spec-lsh-recall", model, flips = 1)
    spark.conf.set("spark.graft.ann.autoProbe", "spec-lsh-recall")
    try {
      val recalls = (0L until 10L).map { vid =>
        val q = corpus.filter($"vec_id" === vid).select("embedding")
          .collect()(0).getSeq[Float](0).toArray
        spark.conf.unset("spark.graft.ann.autoProbe")
        val exact = topk(corpus, q, 10).toSet
        spark.conf.set("spark.graft.ann.autoProbe", "spec-lsh-recall")
        val approx = topk(corpus, q, 10).toSet
        (exact intersect approx).size.toDouble / exact.size
      }
      val mean = recalls.sum / recalls.length
      assert(mean >= 0.7, s"multi-probe LSH recall@10 too low: $mean ($recalls)")
    } finally {
      spark.conf.unset("spark.graft.ann.autoProbe")
      AnnRegistry.unregister("spec-lsh-recall")
    }
  }

  test("binary tier: Hamming-radius filter == explicit radius prefilter + rerank") {
    import graft.index.BinaryQuant
    val q = corpus.filter($"vec_id" === 3).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    val dim = q.length
    val radius = dim / 3 // wide enough to prune yet keep some of top-10
    spark.conf.unset("spark.graft.ann.autoProbe")
    val explicitForm = topk(
      corpus.filter(hamming_dist(sign_bits(col("embedding")),
        typedLit(BinaryQuant.pack(q).toSeq)) <= radius), q, 10)
    AnnRegistry.registerBinary("spec-bin", dim, radius)
    spark.conf.set("spark.graft.ann.autoProbe", "spec-bin")
    try {
      val auto = topk(corpus, q, 10)
      assert(auto == explicitForm, "filter form must equal the explicit radius form")
      val optimized = corpus
        .withColumn("score", cosine_sim(col("embedding"), typedLit(q)))
        .orderBy(col("score").desc, col("vec_id").asc).limit(10)
        .queryExecution.optimizedPlan.toString
      assert(optimized.contains("hamming_dist") && optimized.contains("sign_bits"),
        s"binary probe filter missing:\n$optimized")
      assert(!optimized.toLowerCase.contains("join"),
        "filter form must not introduce a join")
    } finally {
      spark.conf.unset("spark.graft.ann.autoProbe")
      AnnRegistry.unregister("spec-bin")
    }
  }

  test("binary tier skips a registered index of a different dimension") {
    val q = corpus.filter($"vec_id" === 3).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    val exact = topk(corpus, q, 10)
    AnnRegistry.registerBinary("spec-bin-dim", q.length + 1, 8)
    spark.conf.set("spark.graft.ann.autoProbe", "spec-bin-dim")
    try assert(topk(corpus, q, 10) == exact, "mismatched dim must not rewrite")
    finally {
      spark.conf.unset("spark.graft.ann.autoProbe")
      AnnRegistry.unregister("spec-bin-dim")
    }
  }

  test("HNSW tier: optimizer-time graph navigation injects id IN candidates") {
    val g = HnswModel.build(corpus, "vec_id", "embedding")
    val q = corpus.filter($"vec_id" === 3).select("embedding")
      .collect()(0).getSeq[Float](0).toArray

    spark.conf.unset("spark.graft.ann.autoProbe")
    val exact = topk(corpus, q, 10)

    AnnRegistry.registerHnsw("spec-hnsw", g, idCol = "vec_id", fetchK = 50)
    spark.conf.set("spark.graft.ann.autoProbe", "spec-hnsw")
    try {
      val auto = topk(corpus, q, 10)
      // recall gate: graph candidates + exact rerank; on this corpus
      // HNSW sits at recall 1.0 at far smaller fetch (RECALL.md)
      assert((exact.toSet intersect auto.toSet).size >= 9,
        s"HNSW rewrite recall@10 < 0.9: exact=$exact auto=$auto")
      // candidate filter present: vec_id IN (<= fetchK literals)
      val optimized = corpus
        .withColumn("score", cosine_sim(col("embedding"), typedLit(q)))
        .orderBy(col("score").desc, col("vec_id").asc).limit(10)
        .queryExecution.optimizedPlan.toString
      assert(optimized.contains("vec_id") && optimized.contains(" IN "),
        s"HNSW id filter missing:\n$optimized")
    } finally {
      spark.conf.unset("spark.graft.ann.autoProbe")
      AnnRegistry.unregister("spec-hnsw")
    }
    assert(topk(corpus, q, 10) == exact)
  }

  test("HNSW tier skips when the id column is absent from the plan") {
    val g = HnswModel.build(corpus, "vec_id", "embedding")
    val q = corpus.filter($"vec_id" === 4).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    AnnRegistry.registerHnsw("spec-hnsw-noid", g, idCol = "no_such_col")
    spark.conf.set("spark.graft.ann.autoProbe", "spec-hnsw-noid")
    try {
      spark.conf.unset("spark.graft.ann.autoProbe")
      val exact = topk(corpus, q, 10)
      spark.conf.set("spark.graft.ann.autoProbe", "spec-hnsw-noid")
      assert(topk(corpus, q, 10) == exact, "missing id column must leave the plan exact")
    } finally {
      spark.conf.unset("spark.graft.ann.autoProbe")
      AnnRegistry.unregister("spec-hnsw-noid")
    }
  }

  test("probe filter reaches the plan and prunes scored rows") {
    val model = IvfModel.train(corpus, "embedding", nlist = 8)
    val q = corpus.filter($"vec_id" === 7).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    AnnRegistry.register("spec-idx3", model, nprobe = 2)
    spark.conf.set("spark.graft.ann.autoProbe", "spec-idx3")
    try {
      val df = corpus.withColumn("score", cosine_sim(col("embedding"), typedLit(q)))
        .orderBy(col("score").desc, col("vec_id").asc).limit(5)
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("nearest_centroid") && optimized.contains(" IN "),
        s"probe filter missing:\n$optimized")
    } finally {
      spark.conf.unset("spark.graft.ann.autoProbe")
      AnnRegistry.unregister("spec-idx3")
    }
  }

  // ---- ADVICE r13: index-owned column bindings need type provenance ----

  /** topk that also COLLECTS `keep`, so column pruning cannot remove it
    * from the plan the rule inspects — the adversarial shape for the
    * name-collision regressions below. */
  private def topkKeeping(df: org.apache.spark.sql.DataFrame, keep: String,
      q: Array[Float], k: Int): Seq[Long] =
    df.withColumn("score", cosine_sim(col("embedding"), typedLit(q)))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)
      .select(col("vec_id"), col(keep))
      .collect().map(_.getLong(0)).toSeq

  test("binary tier: wrong-typed user 'sig' column -> synthesized sign_bits") {
    import graft.index.BinaryQuant
    val q = corpus.filter($"vec_id" === 3).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    val dim = q.length
    val radius = dim / 3
    // localCheckpoint makes sig a REAL source attribute (a persisted
    // table's shape) — a plain withColumn alias gets collapsed into the
    // top Project above the Limit and never reaches the rule's subtree
    val tainted = corpus.withColumn("sig", lit("not-a-signature"))
      .localCheckpoint(true)
    spark.conf.unset("spark.graft.ann.autoProbe")
    val explicitForm = topkKeeping(
      tainted.filter(hamming_dist(sign_bits(col("embedding")),
        typedLit(BinaryQuant.pack(q).toSeq)) <= radius), "sig", q, 10)
    AnnRegistry.registerBinary("spec-bin-type", dim, radius)
    spark.conf.set("spark.graft.ann.autoProbe", "spec-bin-type")
    try assert(topkKeeping(tainted, "sig", q, 10) == explicitForm,
      "a string 'sig' must not be bound as the signature column")
    finally {
      spark.conf.unset("spark.graft.ann.autoProbe")
      AnnRegistry.unregister("spec-bin-type")
    }
  }

  test("binary tier: wrong-LENGTH persisted sig fails OPEN to the exact rerank") {
    val q = corpus.filter($"vec_id" === 3).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    // a signature from some OTHER space: array<long> (type passes) but
    // two words where ceil(64/64) = 1 — Hamming against it is garbage,
    // so the injected predicate must admit every mismatched row and let
    // the exact rerank decide (NOT silently prefilter on noise)
    val alien = corpus.withColumn("sig", array(lit(0L), lit(0L)))
      .localCheckpoint(true) // real source attribute, not a collapsible alias
    spark.conf.unset("spark.graft.ann.autoProbe")
    val exact = topkKeeping(alien, "sig", q, 10)
    AnnRegistry.registerBinary("spec-bin-len", q.length, radius = 4)
    spark.conf.set("spark.graft.ann.autoProbe", "spec-bin-len")
    try assert(topkKeeping(alien, "sig", q, 10) == exact,
      "mismatched word count must pass through, not lossily prefilter")
    finally {
      spark.conf.unset("spark.graft.ann.autoProbe")
      AnnRegistry.unregister("spec-bin-len")
    }
  }

  test("binary tier: a CORRECT persisted sig column is still used and filters") {
    import graft.index.BinaryQuant
    val q = corpus.filter($"vec_id" === 3).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    val dim = q.length
    val radius = dim / 3
    val withSig = corpus.withColumn("sig", sign_bits(col("embedding")))
      .localCheckpoint(true) // real source attribute, not a collapsible alias
    spark.conf.unset("spark.graft.ann.autoProbe")
    val explicitForm = topkKeeping(
      withSig.filter(hamming_dist(col("sig"),
        typedLit(BinaryQuant.pack(q).toSeq)) <= radius), "sig", q, 10)
    AnnRegistry.registerBinary("spec-bin-ok", dim, radius)
    spark.conf.set("spark.graft.ann.autoProbe", "spec-bin-ok")
    try assert(topkKeeping(withSig, "sig", q, 10) == explicitForm,
      "a well-typed right-length sig must keep the radius prefilter")
    finally {
      spark.conf.unset("spark.graft.ann.autoProbe")
      AnnRegistry.unregister("spec-bin-ok")
    }
  }

  test("IVF tier: wrong-typed user 'cluster_id' -> synthesized nearest_centroid") {
    val model = IvfModel.train(corpus, "embedding", nlist = 8)
    val q = corpus.filter($"vec_id" === 3).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    val tainted = corpus.withColumn("cluster_id", lit("zone-a"))
      .localCheckpoint(true) // real source attribute, not a collapsible alias
    spark.conf.unset("spark.graft.ann.autoProbe")
    val explicitProbe = topk(
      model.candidates(model.assign(corpus, "embedding"), q, nprobe = 2), q, 10)
    AnnRegistry.register("spec-ivf-type", model, nprobe = 2)
    spark.conf.set("spark.graft.ann.autoProbe", "spec-ivf-type")
    try assert(topkKeeping(tainted, "cluster_id", q, 10) == explicitProbe,
      "a string 'cluster_id' must not be bound as the assignment column")
    finally {
      spark.conf.unset("spark.graft.ann.autoProbe")
      AnnRegistry.unregister("spec-ivf-type")
    }
  }
}
