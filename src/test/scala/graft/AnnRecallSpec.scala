package graft

import org.apache.spark.sql.functions._

import graft.index.{IvfModel, LshModel}
import graft.operators.Similarity

/** ANN quality vs the exact Q1 oracle — the recall metric the reference
  * never measured (SURVEY.md §6). Seeds fixed => thresholds stable. */
class AnnRecallSpec extends SparkSpec {

  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").cache()

  private def exactTopK(query: Array[Float], k: Int): Set[Long] =
    Similarity.knnExact(emb, "vec_id", "embedding", query, k)
      .select("vec_id").collect().map(_.getLong(0)).toSet

  private def queryVec(id: Long): Array[Float] =
    emb.filter(col("vec_id") === id).select("embedding")
      .collect()(0).getSeq[Float](0).toArray

  test("LSH candidates always contain the query itself; recall@10 reasonable") {
    // 16 tables x 6 bits: on uniform random 64-dim vectors the nearest
    // neighbors sit at ~50-60 degrees, where 8x8 collides too rarely
    // (~0.2 recall measured). Recall here is a property of the data's
    // angular gaps, not a bug — parameters chosen so the invariant is
    // meaningful.
    val lsh = LshModel(numTables = 16, bitsPerTable = 6, dim = 64)
    val sigs = lsh.build(emb, "vec_id", "embedding").cache()
    val recalls = (0L until 10L).map { qid =>
      val q = queryVec(qid)
      val cands = lsh.candidates(sigs, q).withColumnRenamed("id", "vec_id")
      val candSet = cands.collect().map(_.getLong(0)).toSet
      assert(candSet.contains(qid)) // identical vector collides in all tables
      val universe = emb.join(cands, Seq("vec_id"), "left_semi")
      val approx = Similarity.knnExact(universe, "vec_id", "embedding", q, 10)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val exact = exactTopK(q, 10)
      approx.intersect(exact).size / 10.0
    }
    val mean = recalls.sum / recalls.size
    info(f"LSH mean recall@10 = $mean%.2f")
    assert(mean >= 0.3, s"LSH recall collapsed: $mean")
  }

  test("multi-probe LSH: superset candidates, recall strictly improves") {
    val lsh = LshModel(numTables = 8, bitsPerTable = 8, dim = 64)
    val sigs = lsh.build(emb, "vec_id", "embedding").cache()
    var singleRecall = 0.0
    var multiRecall = 0.0
    (0L until 10L).foreach { qid =>
      val q = queryVec(qid)
      val single = lsh.candidates(sigs, q).collect().map(_.getLong(0)).toSet
      val multi = lsh.multiProbeCandidates(sigs, q, flips = 3)
        .collect().map(_.getLong(0)).toSet
      assert(single.subsetOf(multi)) // flips only ADD probes
      val exact = exactTopK(q, 10)
      singleRecall += single.intersect(exact).size / 10.0
      multiRecall += multi.intersect(exact).size / 10.0
    }
    info(f"candidate recall@10: single=${singleRecall / 10}%.2f multi=${multiRecall / 10}%.2f")
    assert(multiRecall > singleRecall,
      s"multi-probe should find more of the true top-10 ($multiRecall vs $singleRecall)")
    // probe-count contract: (1 + flips) buckets per table
    assert(lsh.multiProbeBucketsOf(queryVec(0), 3).length == 8 * 4)
  }

  test("recall preset: opt-in resizes the built index, default keeps parity") {
    import graft.model.GraftConfig
    val cat = new graft.catalog.VectorCatalog(spark)
    // default: reference-parity sizing (8 tables x 12 bits, config.py:29-30)
    val lib0 = cat.createLibrary("parity", indexType = "lsh").toOption.get
    val d0 = cat.createDocument(lib0.id, "D").toOption.get
    cat.createChunks(d0.id, (1 to 20).map(i => (s"parity text $i", Map.empty[String, String])))
    cat.indexLibrary(lib0.id, "lsh")
    val parityModel = cat.indexState(lib0.id).get.lsh.get
    assert(parityModel.numTables == GraftConfig.lshNumTables &&
      parityModel.bitsPerTable == GraftConfig.lshHashLength)

    // preset active: built model takes the preset's sizing; search works
    GraftConfig.lshActivePreset = Some(GraftConfig.lshRecallPreset)
    try {
      val lib = cat.createLibrary("preset", indexType = "lsh").toOption.get
      val d = cat.createDocument(lib.id, "D").toOption.get
      cat.createChunks(d.id, (1 to 20).map(i => (s"preset text $i", Map.empty[String, String])))
      cat.indexLibrary(lib.id, "lsh")
      val m = cat.indexState(lib.id).get.lsh.get
      assert(m.numTables == 16 && m.bitsPerTable == 8)
      val svc = new graft.search.SearchService(cat)
      val resp = svc.search(lib.id,
        graft.model.SearchQuery(queryText = Some("preset text 7"), k = 3)).toOption.get
      assert(resp.results.nonEmpty)
    } finally GraftConfig.lshActivePreset = None
  }

  test("IVF recall@10 with nprobe=4 of nlist=16") {
    val model = IvfModel.train(emb, "embedding", nlist = 16)
    assert(model.nlist == 16)
    val assigned = model.assign(emb, "embedding").cache()
    // every row lands in exactly one cluster; clusters partition the data
    assert(assigned.count() == emb.count())
    val recalls = (0L until 10L).map { qid =>
      val q = queryVec(qid)
      val cands = model.candidates(assigned, q, nprobe = 4)
      val approx = Similarity.knnExact(cands, "vec_id", "embedding", q, 10)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      approx.intersect(exactTopK(q, 10)).size / 10.0
    }
    val mean = recalls.sum / recalls.size
    info(f"IVF mean recall@10 = $mean%.2f")
    assert(mean >= 0.4, s"IVF recall collapsed: $mean")
  }

  test("ANN scores are exact on returned rows (rerank is exact cosine)") {
    val q = queryVec(3L)
    val lsh = LshModel(numTables = 8, bitsPerTable = 8, dim = 64)
    val sigs = lsh.build(emb, "vec_id", "embedding")
    val cands = lsh.candidates(sigs, q).withColumnRenamed("id", "vec_id")
    val universe = emb.join(cands, Seq("vec_id"), "left_semi")
    val approx = Similarity.knnExact(universe, "vec_id", "embedding", q, 5)
      .select("vec_id", "score").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val exact = Similarity.knnExact(emb, "vec_id", "embedding", q, 500)
      .select("vec_id", "score").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    approx.foreach { case (id, s) => assert(math.abs(s - exact(id)) < 1e-12) }
  }

  test("int8-quantized candidate tier keeps high recall vs float exact") {
    import graft.operators.Quantize
    val deq = emb.select(col("vec_id"), col("label"),
      Quantize.dequantizeInt8(
        Quantize.quantizeInt8(col("embedding")),
        Quantize.int8Scale(col("embedding"))).as("embedding"))
    val recalls = (0L until 10L).map { qid =>
      val q = queryVec(qid)
      val approx = Similarity.knnExact(deq, "vec_id", "embedding", q, 10)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      approx.intersect(exactTopK(q, 10)).size / 10.0
    }
    val mean = recalls.sum / recalls.size
    info(f"int8 candidate recall@10 = $mean%.2f")
    // int8 on 64-dim unit-norm vectors: quantization noise is far below
    // neighbor score gaps — candidate tier must stay near-exact
    assert(mean >= 0.9, s"int8 quantization lost too much recall: $mean")
    // round-trip error bound: |x - q/scale| <= 0.5/scale (half a step)
    val row = emb.select(col("embedding")).limit(1).collect()(0)
      .getSeq[Float](0).toArray
    val mx = row.map(math.abs(_)).max.toDouble
    val scale = 127.0 / mx
    row.foreach { x =>
      val q = math.floor(x * scale + 0.5)
      assert(math.abs(x - q / scale) <= 0.5 / scale + 1e-12)
    }
  }

  test("PQ: 32x-compressed codes, ADC candidate tier keeps usable recall") {
    import graft.index.PqModel
    val pq = PqModel.train(emb, "embedding", m = 8, k = 16)
    assert(pq.dim == 64 && pq.m == 8 && pq.k == 16)
    val encoded = emb.select(col("vec_id"), col("label"),
      pq.encodeColumn(col("embedding")).as("codes")).cache()
    // codes are m small ints in [0, k) — the 32x storage claim
    val codes = encoded.select("codes").limit(5).collect()
      .map(_.getSeq[Int](0))
    assert(codes.forall(c => c.length == 8 && c.forall(x => x >= 0 && x < 16)))

    val recalls = (0L until 10L).map { qid =>
      val q = queryVec(qid)
      // candidate tier: ADC top-50 of 500 (10% fetch), exact rerank top-10
      val cands = pq.candidates(encoded, "codes", q, n = 50).select("vec_id")
      val universe = emb.join(cands, Seq("vec_id"), "left_semi")
      val approx = Similarity.knnExact(universe, "vec_id", "embedding", q, 10)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      approx.intersect(exactTopK(q, 10)).size / 10.0
    }
    val mean = recalls.sum / recalls.size
    info(f"PQ(8x16) ADC candidate recall@10 at 10%% fetch = $mean%.2f")
    assert(mean >= 0.5, s"PQ candidate recall collapsed: $mean")
    encoded.unpersist()
  }

  test("IVF-PQ: residual coding beats raw PQ at equal code budget") {
    import graft.index.{IvfPqModel, PqModel}
    val ivfpq = IvfPqModel.train(emb, "embedding", nlist = 16, m = 8, k = 16)
    val encoded = ivfpq.encode(emb, "vec_id", "embedding").cache()
    assert(encoded.count() == emb.count())
    // one cell per row; codes stay 8x4-bit
    assert(encoded.select("codes").limit(3).collect()
      .forall(_.getSeq[Int](0).length == 8))

    def recallOf(cands: Long => org.apache.spark.sql.DataFrame): Double =
      (0L until 10L).map { qid =>
        val q = queryVec(qid)
        val universe = emb.join(cands(qid).select(col("id").as("vec_id")),
          Seq("vec_id"), "left_semi")
        val approx = Similarity.knnExact(universe, "vec_id", "embedding", q, 10)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        approx.intersect(exactTopK(q, 10)).size / 10.0
      }.sum / 10.0

    // probe 8 of 16 cells, ADC top-50, exact rerank
    val r = recallOf(qid => ivfpq.candidates(encoded, queryVec(qid), nprobe = 8, n = 50))
    info(f"IVF-PQ (nprobe 8/16, top-50) candidate recall@10 = $r%.2f")
    assert(r >= 0.5, s"IVF-PQ recall collapsed: $r")

    // same code budget, raw PQ: residual coding should not lose
    val raw = PqModel.train(emb, "embedding", m = 8, k = 16)
    val rawEnc = emb.select(col("vec_id"), raw.encodeColumn(col("embedding")).as("codes")).cache()
    val rRaw = (0L until 10L).map { qid =>
      val q = queryVec(qid)
      val cands = raw.candidates(rawEnc, "codes", q, n = 50).select("vec_id")
      val universe = emb.join(cands, Seq("vec_id"), "left_semi")
      val approx = Similarity.knnExact(universe, "vec_id", "embedding", q, 10)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      approx.intersect(exactTopK(q, 10)).size / 10.0
    }.sum / 10.0
    info(f"raw PQ (top-50) candidate recall@10 = $rRaw%.2f")
    assert(r >= rRaw - 0.15, // residuals should be at least comparable
      s"residual coding much worse than raw PQ: $r vs $rRaw")
    encoded.unpersist(); rawEnc.unpersist()
  }

  test("lshKnnJoin: exact scores, self-exclusion, recall floor vs brute force") {
    val lsh = LshModel(numTables = 16, bitsPerTable = 6, dim = 64)
    val q = emb.filter(col("vec_id") < 20)
    val approx = Similarity.lshKnnJoin(emb, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 10, lsh = lsh, excludeSelf = true)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    // self never appears; ranks are 1..n contiguous per query
    assert(approx.forall { case (qid, nid, _, _) => qid != nid })
    approx.groupBy(_._1).foreach { case (qid, rows) =>
      assert(rows.map(_._4).sorted.toSeq == (1 to rows.length),
        s"ranks not contiguous for query $qid")
    }
    // every returned score equals the exact cosine of that pair: the
    // bucket join only prunes candidates, never perturbs scores
    val pairs = approx.map { case (qid, nid, _, _) => (qid, nid) }.toSeq
    val exactScores = emb.as("a").join(emb.as("b"),
        pairs.map { case (qid, nid) =>
          col("a.vec_id") === qid && col("b.vec_id") === nid
        }.reduce(_ || _))
      .select(col("a.vec_id"), col("b.vec_id"),
        graft.functions.GraftFunctions.cosine_sim(col("a.embedding"), col("b.embedding")))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    approx.foreach { case (qid, nid, s, _) =>
      assert(math.abs(s - exactScores((qid, nid))) < 1e-9,
        s"score mismatch for ($qid,$nid)")
    }
    // DIFFERENTIAL contract: the bulk join equals the per-query
    // composition (candidates → semi-join universe → exact top-k with
    // self excluded) for the same model — the bucket equi-join is the
    // same candidate set (batchCandidates == candidates, asserted in
    // OperatorSpec) and the rerank is exact, so results must match
    // id-for-id. This is the strong gate; recall itself is a property
    // of the wide-angle uniform corpus (see the single-query test's
    // geometry note), logged informationally with a collapse canary.
    val sigs = lsh.build(emb, "vec_id", "embedding").cache()
    val got = approx.groupBy(_._1).map { case (qid, rs) => qid -> rs.map(_._2).toSet }
    (0L until 20L).foreach { qid =>
      val qv = queryVec(qid)
      val cands = lsh.candidates(sigs, qv).withColumnRenamed("id", "vec_id")
      val universe = emb.join(cands, Seq("vec_id"), "left_semi")
        .filter(col("vec_id") =!= qid)
      val single = Similarity.knnExact(universe, "vec_id", "embedding", qv, 10)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(got.getOrElse(qid, Set.empty) == single,
        s"join result != per-query composition for query $qid")
    }
    sigs.unpersist()
    // recall vs brute force (self excluded BOTH sides), canary only
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        q, "vec_id", "embedding", 11)
      .filter(col("query_id") =!= col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
      .groupBy(_._1)
      .map { case (qid, rs) => qid -> rs.sortBy(_._3).map(_._2).take(10).toSet }
    val recall = exact.keys.map { qid =>
      got.getOrElse(qid, Set.empty).intersect(exact(qid)).size / 10.0
    }.sum / exact.size
    info(f"lshKnnJoin recall@10 (self excluded) = $recall%.2f")
    assert(recall >= 0.05, s"lshKnnJoin recall collapsed: $recall")
  }

  test("lshKnnJoin multi-probe: columnar buckets match driver-side, recall never drops") {
    val lsh = LshModel(numTables = 4, bitsPerTable = 8, dim = 64)
    // columnar expression == driver-side multiProbeBucketsOf, row for row
    val rows = emb.filter(col("vec_id") < 50)
      .select(col("vec_id"), col("embedding"),
        lsh.multiProbeBucketsColumn(col("embedding"), 2).as("mp"))
      .collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](1).toArray
      assert(r.getSeq[Long](2).toSeq == lsh.multiProbeBucketsOf(v, 2).toSeq,
        s"columnar/driver multi-probe mismatch for vec ${r.getLong(0)}")
    }
    // batch join recall with query-side flips is >= single-probe recall
    val q = emb.filter(col("vec_id") < 20)
    def recallOf(flips: Int): Double = {
      val got = Similarity.lshKnnJoin(emb, "vec_id", "embedding",
          q, "vec_id", "embedding", k = 10, lsh = lsh,
          excludeSelf = true, queryFlips = flips)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (qid, rs) => qid -> rs.map(_._2).toSet }
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          q, "vec_id", "embedding", 11)
        .filter(col("query_id") =!= col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
        .groupBy(_._1)
        .map { case (qid, rs) => qid -> rs.sortBy(_._3).map(_._2).take(10).toSet }
      exact.keys.map { qid =>
        got.getOrElse(qid, Set.empty).intersect(exact(qid)).size / 10.0
      }.sum / exact.size
    }
    val base = recallOf(0)
    val probed = recallOf(2)
    info(f"lshKnnJoin recall@10: single-probe $base%.2f, 2-flip multi-probe $probed%.2f")
    // multi-probe candidates are a strict superset per query, so the
    // exact-rerank top-k can only get closer to the true top-k
    assert(probed >= base, s"multi-probe recall dropped: $base -> $probed")
  }

  test("NearestCentroids expression matches the driver-side linear probe at any nlist") {
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.graft.expressions.NearestCentroids
    for (nlist <- Seq(16, 256)) {
      val ivf = IvfModel.train(emb, "embedding", nlist = nlist)
      val probed = emb.filter(col("vec_id") < 30)
        .select(col("vec_id"), col("embedding"),
          Bridge.column(NearestCentroids(
            Bridge.expression(col("embedding")), ivf.centroids, 4)).as("cells"))
        .collect()
      probed.foreach { r =>
        val v = r.getSeq[Float](1).toArray
        assert(r.getSeq[Int](2).toSeq == ivf.probeLinear(v, 4),
          s"expression/driver probe mismatch at nlist=$nlist for vec ${r.getLong(0)}")
      }
    }
  }

  test("batch kNN matches single-query kNN") {
    val q = emb.filter(col("vec_id") === 5)
    val batch = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, "vec_id", "embedding", 10)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    val single = exactTopK(queryVec(5L), 10)
    assert(batch == single)
  }

  test("HNSW graph tier: candidate recall@10 beats every other ANN tier") {
    import graft.index.HnswModel
    val g = HnswModel.build(emb, "vec_id", "embedding")
    val recalls = (0L until 20L).map { qid =>
      val q = queryVec(qid)
      val cands = g.search(q, k = 50, ef = 100).map(_._1).toSet
      assert(cands.contains(qid)) // the query's own vector must be found
      val universe = emb.filter(col("vec_id").isin(cands.toSeq.map(Long.box): _*))
      val approx = Similarity.knnExact(universe, "vec_id", "embedding", q, 10)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      approx.intersect(exactTopK(q, 10)).size / 10.0
    }
    val mean = recalls.sum / recalls.size
    info(f"HNSW (ef=100, top-50) candidate recall@10 = $mean%.2f")
    assert(mean >= 0.8, s"HNSW recall collapsed: $mean")
  }

  test("sharded HNSW: flat-quality recall PAST maxGraphVectors, no driver collect (VERDICT r15)") {
    import graft.index.{HnswModel, ShardedHnsw}
    val n = emb.count()
    // flat baseline at the normal cap (corpus fits)
    val flat = HnswModel.build(emb, "vec_id", "embedding")
    def recallOf(topk: Long => Set[Long]): Double = {
      val rs = (0L until 20L).map { qid =>
        topk(qid).intersect(exactTopK(queryVec(qid), 10)).size / 10.0
      }
      rs.sum / rs.size
    }
    val flatRecall = recallOf { qid =>
      val q = queryVec(qid)
      val universe = emb.filter(col("vec_id")
        .isin(flat.search(q, 50, ef = 100).map(t => Long.box(t._1)): _*))
      Similarity.knnExact(universe, "vec_id", "embedding", q, 10)
        .select("vec_id").collect().map(_.getLong(0)).toSet
    }
    // now make the flat tier IMPOSSIBLE: cap below the corpus size —
    // the sharded build must still construct (chunked subgraphs built
    // inside executor tasks; fromVectors would throw past the cap, so
    // green here proves no subgraph exceeded it and the driver never
    // collected the corpus)
    val cap = (n / 3).toInt.max(60)
    intercept[IllegalArgumentException] {
      HnswModel.build(emb, "vec_id", "embedding", cap = cap).size
      // build() limits its collect to the cap, so force the refusal
      // via fromVectors on the full corpus
      val rows = emb.select(col("vec_id"), col("embedding")).collect()
      HnswModel.fromVectors(rows.map(_.getLong(0)),
        rows.map(_.getSeq[Float](1).toArray), cap = cap)
    }
    val sharded = ShardedHnsw.build(emb, "vec_id", "embedding",
      targetShardRows = cap, cap = cap)
    val hits = sharded.knnJoin(emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", emb, "vec_id", "embedding",
        k = 10, ef = 100, probeShards = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val shardedRecall = recallOf(qid => hits.getOrElse(qid, Set.empty))
    info(f"sharded recall@10 = $shardedRecall%.2f vs flat $flatRecall%.2f")
    assert(shardedRecall >= flatRecall - 0.05,
      s"sharded lost flat quality: $shardedRecall vs $flatRecall")
    assert(shardedRecall >= 0.75, s"sharded recall collapsed: $shardedRecall")
    // determinism: same (data, params) => same candidates
    val again = sharded.knnCandidates(emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 10, ef = 100, probeShards = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val fresh = ShardedHnsw.build(emb, "vec_id", "embedding",
        targetShardRows = cap, cap = cap)
      .knnCandidates(emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 10, ef = 100, probeShards = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(again == fresh, "sharded build/search must be deterministic")
    // persistence round-trip serves identical candidates
    val dir = java.nio.file.Files.createTempDirectory("sharded-hnsw").toString
    sharded.save(dir)
    val loaded = ShardedHnsw.load(spark, dir)
      .knnCandidates(emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 10, ef = 100, probeShards = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(loaded == again, "persisted index must serve identical candidates")
  }

  test("HNSW build is deterministic for fixed (data, seed)") {
    import graft.index.HnswModel
    val a = HnswModel.build(emb, "vec_id", "embedding", seed = 7L)
    val b = HnswModel.build(emb, "vec_id", "embedding", seed = 7L)
    val q = queryVec(3L)
    assert(a.search(q, 20, ef = 80) == b.search(q, 20, ef = 80))
  }

  test("HNSW broadcast candidate tier equals driver-side navigation") {
    import graft.index.HnswModel
    val g = HnswModel.build(emb, "vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 5)
    val dist = g.knnCandidates(spark, queries, "vec_id", "embedding", k = 10, ef = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val local = (0L until 5L).flatMap { qid =>
      g.search(queryVec(qid), 10, ef = 64).map { case (id, _) => (qid, id) }
    }.toSet
    assert(dist == local) // same graph, same navigation, any partitioning
  }

  test("OPQ: learned rotation is orthogonal and never hurts quantization error") {
    import graft.index.OpqModel
    val vecs = emb.select(col("embedding").cast("array<float>"))
      .collect().map(_.getSeq[Float](0).toArray)
    val plain = OpqModel.trainLocal(vecs, m = 8, k = 16, iters = 0)
    val opq = OpqModel.trainLocal(vecs, m = 8, k = 16, iters = 4)
    // R orthogonal: RᵀR ≈ I
    val d = opq.dim
    for (i <- 0 until d; j <- 0 until d) {
      var s = 0.0
      for (r <- 0 until d) s += opq.rotation(r)(i).toDouble * opq.rotation(r)(j)
      assert(math.abs(s - (if (i == j) 1.0 else 0.0)) < 1e-3,
        s"RtR($i,$j) = $s not ${if (i == j) 1 else 0}")
    }
    val ePlain = plain.quantizationError(vecs)
    val eOpq = opq.quantizationError(vecs)
    info(f"quantization MSE: plain PQ = $ePlain%.4f, OPQ(4 iters) = $eOpq%.4f")
    assert(eOpq <= ePlain * 1.001, s"OPQ worsened quantization: $eOpq vs $ePlain")
    // alternation is monotone (warm-started Lloyd + Procrustes)
    val e2 = OpqModel.trainLocal(vecs, m = 8, k = 16, iters = 2).quantizationError(vecs)
    assert(e2 <= ePlain * 1.001 && eOpq <= e2 * 1.001,
      s"non-monotone: $ePlain -> $e2 -> $eOpq")
  }

  test("OPQ candidate tier keeps PQ-level recall with rotation applied") {
    import graft.index.OpqModel
    val opq = OpqModel.train(emb, "embedding", m = 8, k = 16, iters = 4)
    val encoded = emb.select(col("vec_id"),
      opq.encodeColumn(col("embedding")).as("codes")).cache()
    val recalls = (0L until 10L).map { qid =>
      val q = queryVec(qid)
      val cands = opq.candidates(encoded, "codes", q, n = 50).select("vec_id")
      val universe = emb.join(cands, Seq("vec_id"), "left_semi")
      val approx = Similarity.knnExact(universe, "vec_id", "embedding", q, 10)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      approx.intersect(exactTopK(q, 10)).size / 10.0
    }
    val mean = recalls.sum / recalls.size
    info(f"OPQ (top-50) candidate recall@10 = $mean%.2f")
    assert(mean >= 0.5, s"OPQ recall collapsed: $mean")
    encoded.unpersist()
  }

  test("OPQ+IVF-PQ: rotated residual coding lowers residual MSE, keeps recall") {
    import graft.index.{OpqIvfPqModel, OpqModel}
    val model = OpqIvfPqModel.train(emb, "embedding", nlist = 16, m = 8, k = 16)
    val encoded = model.encode(emb, "vec_id", "embedding").cache()
    assert(encoded.count() == emb.count())

    // the learned rotation must not worsen RESIDUAL quantization error
    // vs plain residual PQ (identity rotation, same training data) —
    // this is the whole point of putting OPQ inside IVF-PQ
    val residuals = emb
      .withColumn("cluster_id", model.ivf.assignColumn(col("embedding")))
      .select(graft.index.IvfPqModel.residual(
        col("embedding"), col("cluster_id"), model.ivf.centroids)
        .cast("array<float>").as("r"))
      .collect().map(_.getSeq[Float](0).toArray)
    val plain = OpqModel.trainLocal(residuals, m = 8, k = 16, iters = 0)
    val ePlain = plain.quantizationError(residuals)
    val eOpq = model.opq.quantizationError(residuals)
    info(f"residual MSE: plain residual PQ = $ePlain%.4f, OPQ residual = $eOpq%.4f")
    assert(eOpq <= ePlain * 1.001,
      s"OPQ rotation worsened residual quantization: $eOpq vs $ePlain")

    // candidate tier: probe 8/16, rotated-residual ADC top-50, rerank
    val recalls = (0L until 10L).map { qid =>
      val q = queryVec(qid)
      val cands = model.candidates(encoded, q, nprobe = 8, n = 50)
        .select(col("id").as("vec_id"))
      val universe = emb.join(cands, Seq("vec_id"), "left_semi")
      val approx = Similarity.knnExact(universe, "vec_id", "embedding", q, 10)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      approx.intersect(exactTopK(q, 10)).size / 10.0
    }
    val mean = recalls.sum / recalls.size
    info(f"OPQ+IVF-PQ (nprobe 8/16, top-50) candidate recall@10 = $mean%.2f")
    assert(mean >= 0.5, s"OPQ+IVF-PQ recall collapsed: $mean")
    encoded.unpersist()
  }

  test("HNSW coarse quantizer agrees with brute-force centroid probe") {
    import graft.index.HnswModel
    val ivf = IvfModel.train(emb, "embedding", nlist = 16)
    val g = HnswModel.overCentroids(ivf)
    val overlaps = (0L until 20L).map { qid =>
      val q = queryVec(qid)
      val brute = ivf.probeLinear(q, nprobe = 4).toSet
      val graph = g.probeCells(q, nprobe = 4, ef = 16).toSet
      brute.intersect(graph).size / 4.0
    }
    val mean = overlaps.sum / overlaps.size
    info(f"HNSW-vs-brute probe overlap @4/16 cells = $mean%.2f")
    // the graph replaces a LINEAR centroid scan; near-perfect agreement
    // expected at this nlist (it searches the same 16 points)
    assert(mean >= 0.9, s"coarse-quantizer probe disagreement: $mean")
  }

  test("q110 shape: graph-routed IVF top-10 matches linear-probe top-10 end to end") {
    // the registered q110_knn_ivf_hnsw_coarse path: probe selection via
    // the centroid graph, partition-pruned scan, exact rerank — the
    // differential here covers the FULL query, not just cell selection
    import graft.index.HnswModel
    val ivf = IvfModel.train(emb, "embedding", nlist = 16)
    val g = HnswModel.overCentroids(ivf)
    val assigned = ivf.assign(emb, "embedding").localCheckpoint(true)
    def topK(cells: Set[Int], q: Array[Float]): Seq[Long] = {
      val cands = assigned.filter(col("cluster_id").isin(cells.toSeq.map(Int.box): _*))
      Similarity.knnExact(cands, "vec_id", "embedding", q, 10)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
    }
    val overlaps = (0L until 10L).map { qid =>
      val q = queryVec(qid)
      val viaGraph = topK(g.probeCells(q, nprobe = 4).toSet, q)
      val viaLinear = topK(ivf.probeLinear(q, nprobe = 4).toSet, q)
      viaGraph.toSet.intersect(viaLinear.toSet).size / 10.0
    }
    val mean = overlaps.sum / overlaps.size
    info(f"graph-routed vs linear-routed IVF top-10 agreement = $mean%.2f")
    assert(mean >= 0.9, s"end-to-end coarse-quantizer disagreement: $mean")
    assigned.unpersist()
  }

  test("IVF probe auto-switches to the HNSW coarse quantizer past the nlist threshold") {
    // a threshold of 16: nlist (16) >= threshold, so the probe walks
    // the lazy coarse graph
    val graphModel = IvfModel.train(emb, "embedding", nlist = 16)
    val overlaps = (0L until 20L).map { qid =>
      val q = queryVec(qid)
      val graph = graphModel.probe(q, nprobe = 4, coarseMinNlist = 16).toSet
      val brute = graphModel.probeLinear(q, nprobe = 4).toSet
      brute.intersect(graph).size / 4.0
    }
    val mean = overlaps.sum / overlaps.size
    info(f"auto-switched probe vs linear overlap @4/16 = $mean%.2f")
    assert(mean >= 0.9, s"graph probe disagreement: $mean")
    // the switched probe drives the same pruned candidate scan
    val assigned = graphModel.assign(emb, "embedding")
    val cells = graphModel.probe(queryVec(0L), nprobe = 4, coarseMinNlist = 16)
    assert(assigned.filter(col("cluster_id").isin(cells.map(Int.box): _*)).count() > 0)

    // below the default threshold the identical training stays on the exact scan
    val exactModel = IvfModel.train(emb, "embedding", nlist = 16)
    assert((0L until 5L).forall { qid =>
      exactModel.probe(queryVec(qid), 4) == exactModel.probeLinear(queryVec(qid), 4)
    })
  }

  test("HNSW cap boundary: builds AT the cap, refuses loudly past it, facade reroutes") {
    import graft.catalog.VectorCatalog
    import graft.index.HnswModel
    import graft.model.GraftConfig
    // refusal at the REAL default cap is cheap: the guard fires before
    // any graph work, so 200001 tiny vectors never get inserted
    val n = GraftConfig.hnswMaxGraphVectors + 1
    val err = intercept[IllegalArgumentException] {
      HnswModel.fromVectors(Array.tabulate(n)(_.toLong),
        Array.fill(n)(Array(1.0f, 0.0f)), m = 4, efConstruction = 8)
    }
    assert(err.getMessage.contains("bounded driver state"))

    // with a lowered cap the full boundary is exercisable end to end:
    // exactly-at-cap builds, past-cap indexing refuses with guidance,
    // and a library that GROWS past the cap keeps its complete graph
    val cap = 12
    val atCap = HnswModel.fromVectors(Array.tabulate(12)(_.toLong),
      Array.tabulate(12)(i => Array(math.cos(i * 0.5).toFloat, math.sin(i * 0.5).toFloat)),
      m = 4, efConstruction = 8, cap = cap)
    assert(atCap.search(Array(1.0f, 0.0f), 3, 8).nonEmpty)

    val cat = new VectorCatalog(spark, hnswCap = cap)
    val lib = cat.createLibrary("L", indexType = "hnsw").toOption.get
    val doc = cat.createDocument(lib.id, "D").toOption.get
    cat.createChunks(doc.id,
      (1 to 13).map(i => (s"chunk number $i", Map.empty[String, String])))
    val refused = cat.indexLibrary(lib.id, "hnsw")
    assert(refused.left.toOption.exists(_.message.contains("use ivf or ivfpq")))

    // index at 12 chunks (at cap), then grow to 13: refresh keeps the
    // previous complete graph instead of silently truncating
    val cat2 = new VectorCatalog(spark, hnswCap = cap)
    val lib2 = cat2.createLibrary("L2", indexType = "hnsw").toOption.get
    val doc2 = cat2.createDocument(lib2.id, "D2").toOption.get
    val seedIds = (1 to 12).map(i =>
      cat2.createChunk(doc2.id, s"seed chunk $i").toOption.get.id)
    assert(cat2.indexLibrary(lib2.id, "hnsw").isRight)
    val graphBefore = cat2.indexState(lib2.id).get.hnsw.get
    cat2.createChunk(doc2.id, "one past the cap")
    // refresh refuses like indexLibrary and leaves the state as it
    // was, so the index still reads stale
    val refusedRefresh = cat2.refreshIndex(lib2.id)
    assert(refusedRefresh.left.toOption.exists(_.message.contains("use ivf or ivfpq")))
    assert(cat2.indexStale(lib2.id))
    val after = cat2.indexState(lib2.id).get.hnsw.get
    assert(after.graph eq graphBefore.graph, "past-cap refresh must keep the old graph")
    assert(after.chunkIds.toSet == seedIds.toSet)
  }

  test("HNSW insertAll: appended inserts are bit-identical to a fresh build of the union") {
    import graft.index.HnswModel
    val rnd = new scala.util.Random(23)
    val dim = 16
    def vec() = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val all = Array.fill(300)(vec())
    val ids = Array.tabulate(300)(_.toLong)
    val fresh = HnswModel.fromVectors(ids, all, m = 8, efConstruction = 50, seed = 7L)
    // insert in two increments: the seeded level sequence continues,
    // so the final graph must be the SAME graph fresh build produces
    val g0 = HnswModel.fromVectors(ids.take(200), all.take(200),
      m = 8, efConstruction = 50, seed = 7L)
    val g1 = g0.insertAll(ids.slice(200, 260), all.slice(200, 260))
    val g2 = g1.insertAll(ids.slice(260, 300), all.slice(260, 300))
    assert(g2.size == 300)
    assert(g2.structureHash == fresh.structureHash,
      "incremental insert diverged from the fresh build")
    // and the original graph object is untouched (immutable broadcast state)
    assert(g0.size == 200)
    assert(g0.structureHash ==
      HnswModel.fromVectors(ids.take(200), all.take(200),
        m = 8, efConstruction = 50, seed = 7L).structureHash)
    // empty insert is the same model
    assert(g2.insertAll(Array.empty, Array.empty) eq g2)
  }

  test("HNSW facade refresh: additions insert into the graph; deletes/updates rebuild") {
    import graft.catalog.VectorCatalog
    val cat = new VectorCatalog(spark)
    val lib = cat.createLibrary("Lins", indexType = "hnsw").toOption.get
    val doc = cat.createDocument(lib.id, "Dins").toOption.get
    (1 to 8).foreach(i => cat.createChunk(doc.id, s"seed passage number $i"))
    assert(cat.indexLibrary(lib.id, "hnsw").isRight)
    val st1 = cat.indexState(lib.id).get.hnsw.get

    // ADD a chunk: refresh must take the insert path — the refreshed
    // graph equals insertAll on the prior graph (appended node), NOT
    // necessarily a from-scratch rebuild (the new uuid may sort anywhere)
    val newChunk = cat.createChunk(doc.id, "freshly streamed arrival").toOption.get
    cat.refreshIndex(lib.id)
    val st2 = cat.indexState(lib.id).get.hnsw.get
    assert(st2.chunkIds.length == 9)
    assert(st2.chunkIds.take(8).toSeq == st1.chunkIds.toSeq,
      "insert path must append, preserving the existing node order")
    assert(st2.chunkIds.last == newChunk.id)
    val emb = cat.chunks.filter(org.apache.spark.sql.functions.col("id") === newChunk.id)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val expected = st1.graph.insertAll(Array(st1.graph.size.toLong), Array(emb))
    assert(st2.graph.structureHash == expected.structureHash,
      "refresh must produce exactly the insertAll graph")
    // search sees the new chunk (its own embedding is its nearest node)
    val hit = st2.graph.search(emb, 1, 16).head
    assert(st2.chunkIds(hit._1.toInt) == newChunk.id)

    // DELETE a chunk: additions-only fails, refresh rebuilds
    cat.deleteChunk(st1.chunkIds.head)
    cat.refreshIndex(lib.id)
    val st3 = cat.indexState(lib.id).get.hnsw.get
    assert(st3.chunkIds.length == 8)
    assert(!st3.chunkIds.contains(st1.chunkIds.head))
    // rebuilt = sorted id order over the surviving chunks
    assert(st3.chunkIds.toSeq == st3.chunkIds.toSeq.sorted,
      "rebuild path must re-sort insertion order")
  }
}
