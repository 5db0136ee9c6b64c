package graft

import org.apache.spark.sql.DataFrame

/**
 * Physical-plan audits: the properties every 100 TB claim rests on,
 * asserted on the actual executed plans of the registered queries.
 * A regression here (a filter that stops pushing, a broadcast that
 * becomes a shuffle, a sort that loses its top-k heap, an accidental
 * cartesian) is invisible to result-correctness tests — this spec is
 * what catches it.
 */
class PlanAuditSpec extends SparkSpec {

  private def planOf(name: String): String = {
    val q = SparkEntry.allQueries.find(_.name == name)
      .getOrElse(fail(s"query $name not registered"))
    q.run(spark, sfDir).queryExecution.executedPlan.toString
  }

  private def run(name: String): DataFrame =
    SparkEntry.allQueries.find(_.name == name).get.run(spark, sfDir)

  test("q02 filter scan: predicates push to parquet, schema pruned") {
    val plan = planOf("q02_filter_scan")
    assert(plan.contains("PushedFilters: ["), plan)
    assert(plan.contains("GreaterThan") || plan.contains("IsNotNull"),
      s"expected pushed comparison filters:\n$plan")
    // projection prunes to the 4 selected + 2 filter columns, never l_comment
    assert(!plan.contains("l_comment"), s"ReadSchema must not include unused columns:\n$plan")
  }

  test("q05 nation revenue: dimension joins broadcast, no shuffle of dims") {
    val plan = planOf("q05_nation_revenue")
    assert(plan.contains("BroadcastHashJoin"), s"dims must broadcast:\n$plan")
  }

  test("q08/q20 top-k: TakeOrderedAndProject (heap), not a global sort") {
    for (q <- Seq("q08_topk_orders", "q20_knn_exact")) {
      val plan = planOf(q)
      assert(plan.contains("TakeOrderedAndProject"),
        s"$q must plan a top-k heap, not sort-then-limit:\n$plan")
    }
  }

  test("no registered query plans a cartesian product or nested-loop join") {
    // bench-surface queries must all be hash/merge/broadcast-keyed;
    // q22/q28 broadcast the small query side by construction (allowed)
    val allowedNlj = Set("q22_knn_batch", "q28_ivf_batch", "q25_embedding_neardup")
    SparkEntry.allQueries.filterNot(q => allowedNlj.contains(q.name)).foreach { q =>
      val plan = q.run(spark, sfDir).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"${q.name} plans a cartesian product:\n${plan.take(1200)}")
    }
  }

  test("q60 range join: banded equi-join keys reach the join operator") {
    val plan = planOf("q60_range_join")
    assert(plan.contains("__band") || plan.contains("SortMergeJoin")
      || plan.contains("BroadcastHashJoin"),
      s"range join must key on (user_id, band):\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
  }

  test("q33 exact dedup: single shuffle (one aggregate over the text hash)") {
    val plan = planOf("q33_dedup_exact")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 3, s"exact dedup grew extra shuffles ($exchanges):\n$plan")
  }

  test("q01 pricing summary: partial aggregation before the shuffle") {
    val plan = planOf("q01_pricing_summary")
    assert(plan.contains("partial_"), // partial_sum/partial_avg markers
      s"aggregation must map-side combine:\n$plan")
  }

  test("q81 repeated spans: one tokenize pipeline via ReuseExchange, id-only shuffles") {
    // AQE reuses stages at runtime, which the pre-execution plan can't
    // show — turn it off to assert the static reuse condition (the
    // canonical-identical exchange subtrees AQE's reuse also needs)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = planOf("q81_repeated_spans")
      // the span table feeds both the doc-count aggregate and the join;
      // hanging both off one repartition exchange must dedup the
      // tokenize+window+hash subtree
      assert(plan.contains("ReusedExchange"),
        s"span pipeline must execute once (ReuseExchange):\n$plan")
      // the text column must not survive past the span table projection
      // into any exchange (only hash/id/span_idx shuffle)
      val exchangeLines = plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
      assert(exchangeLines.nonEmpty && exchangeLines.forall(!_.contains("text#")),
        s"no exchange may carry the text column:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q106 embedding near-dup: self-join sides share one exchange, pairs stream") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = planOf("q106_embedding_neardup_lsh")
      // both sides of the bucket self-join hang off the single
      // repartition(bucket) of the scan+LSH pipeline — it must run once
      assert(plan.contains("ReusedExchange"),
        s"bucket sides must share one exchange:\n$plan")
      // pair expansion is a streaming join, not an in-bucket
      // collect_set materialization (the aggregation-buffer shape that
      // collapses under a hot bucket)
      assert(!plan.contains("collect_set"),
        s"no collect_set materialization in the pair expansion:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q117 Hamming join: band sides share one exchange, sigs-only shuffle") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = planOf("q117_hamming_neardup")
      // both sides of the band self-join hang off the single
      // repartition(b, v) of the scan+sign_bits+explode pipeline —
      // it must execute once (the q106 rule: one projection, aliases
      // only above the join)
      assert(plan.contains("ReusedExchange"),
        s"band sides must share one exchange:\n${plan.take(3000)}")
      // the band join shuffles (id, sig, b, v) — the embedding column
      // must never ride an exchange (it re-joins only for survivors)
      val exchangeLines = plan.linesIterator
        .filter(_.contains("Exchange hashpartitioning"))
        .filter(_.contains(", v#")).toSeq
      assert(exchangeLines.nonEmpty && exchangeLines.forall(!_.contains("embedding#")),
        s"no band exchange may carry the embedding column:\n$plan")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("q96 term PMI: pair sides share one repartition exchange, vocab broadcasts") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = planOf("q96_term_pmi")
      // both self-join sides hang off the pruned token table's single
      // repartition(doc_id) — the tokenize+distinct+join pipeline must
      // execute once
      assert(plan.contains("ReusedExchange"),
        s"pair sides must share one exchange:\n$plan")
      // the vocabulary prune is a broadcast, not a shuffle join
      assert(plan.contains("BroadcastHashJoin"), plan)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q93 inverted index: both aggregations combine partially before shuffling") {
    val plan = planOf("q93_inverted_index")
    // doc-term tf and the term rollup must each partial-aggregate
    // map-side; with 2 aggregates that is >= 2 partial + 2 final
    val partials = plan.linesIterator.count(l =>
      l.contains("HashAggregate") && l.contains("partial_"))
    assert(partials >= 2, s"expected partial aggregation on both levels:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q92 bloom semi join: might_contain filters the probe side before the join") {
    val plan = planOf("q92_bloom_semi_join")
    val filterIdx = plan.indexOf("might_contain")
    val joinIdx = plan.indexOf("LeftSemi")
    assert(filterIdx >= 0, s"bloom predicate missing:\n${plan.take(800)}")
    assert(joinIdx >= 0, plan.take(800))
    // executedPlan prints top-down: the semi join sits ABOVE the
    // bloom-filtered scan, so the filter must appear after it textually
    assert(filterIdx > joinIdx,
      "bloom filter must sit under the join on the probe side")
  }

  test("q80 exact-2p quantiles: bucket assignment broadcasts the boundary table") {
    val plan = run("q80_percentiles_exact2p").queryExecution.executedPlan.toString
    // final assembly is a tiny local join of two collected results —
    // what matters is it stays broadcast, never a shuffle join
    assert(plan.contains("BroadcastHashJoin") || plan.contains("LocalTableScan"),
      s"q80 assembly must not plan a shuffled join:\n$plan")
  }

  test("persisted IVF-PQ probe plans partition pruning on cluster_id") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val model = graft.index.IvfPqModel.train(emb, "embedding", nlist = 16, m = 8, k = 16)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-prune").toString
    graft.index.IndexStore.writeByCluster(
      model.encode(emb, "vec_id", "embedding"), dir)
    val restored = graft.index.IndexStore.readTable(spark, dir)
    val q = emb.filter(org.apache.spark.sql.functions.col("vec_id") === 0)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val probed = model.candidates(restored, q, nprobe = 4, n = 20)
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["), s"ADC probe must partition-prune:\n$plan")
    val pf = plan.split("PartitionFilters: ", 2).last.take(300)
    assert(pf.contains("cluster_id") && !pf.startsWith("[]"),
      s"PartitionFilters must constrain cluster_id:\n$pf")
    // and the probe actually returns ranked candidates from the restored table
    assert(probed.count() == 20)
  }

  test("q75 decontamination: benchmark side broadcasts, corpus never shuffles") {
    val df = run("q75_decontaminate")
    df.collect() // finalize adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark shingles must broadcast:\n$plan")
    // the only exchanges allowed are the broadcast and the final
    // aggregation/sort — no hash exchange BELOW the join (that would
    // mean the corpus shingle table shuffled to meet the benchmark)
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-side shuffle join defeats the broadcast design:\n$plan")
  }

  test("q71 stratified sample: rank filter plans a map-side WindowGroupLimit") {
    val plan = planOf("q71_stratified_sample")
    // partial WindowGroupLimit BEFORE the exchange: each task keeps its
    // local top-n per group, so a group never materializes fully —
    // the property that makes exact-n-per-group sampling 100x-safe
    val exchangeIdx = plan.indexOf("Exchange hashpartitioning")
    val wglIdx = plan.indexOf("WindowGroupLimit")
    assert(wglIdx >= 0, s"rank<=n must plan WindowGroupLimit:\n$plan")
    assert(plan.indexOf("WindowGroupLimit", exchangeIdx) >= 0 &&
      "WindowGroupLimit".r.findAllIn(plan).length >= 2,
      s"expected partial+final WindowGroupLimit around the exchange:\n$plan")
  }

  test("restored IVF index is cached; its saved layout still prunes") {
    // The persisted assigned table is partitionBy("cluster_id")
    // (IndexStore.writeByCluster): read back from disk, an
    // nprobe-of-nlist probe becomes PARTITION pruning — reading nprobe
    // directories, the Spark analog of the reference scanning only the
    // probed inverted lists (indexes.py:346-356). loadIndex caches the
    // whole table, so a restored catalog's probes scan memory.
    val cat = new graft.catalog.VectorCatalog(spark)
    val lib = cat.createLibrary("L", indexType = "ivf").toOption.get
    val doc = cat.createDocument(lib.id, "D").toOption.get
    cat.createChunks(doc.id,
      (1 to 120).map(i => (s"probe text $i word${i % 13}", Map.empty[String, String])))
    cat.indexLibrary(lib.id, "ivf")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-prune").toString
    cat.saveIndexes(dir)

    val restored = new graft.catalog.VectorCatalog(spark)
    restored.createLibrary("L", indexType = "ivf", id = Some(lib.id))
    val state = restored.loadIndex(dir, lib.id).toOption.get
    assert(state.ivf.isDefined && state.assigned.isDefined)
    val qv = restored.embedder.embedOne("probe text 7")
    val cached = state.ivf.get.candidates(state.assigned.get, qv).queryExecution.executedPlan.toString
    assert(cached.contains("InMemoryTableScan"), s"restored probe must scan the cache:\n$cached")
    // a read of the same path would be served from that cache
    state.assigned.get.unpersist(blocking = true)
    val onDisk = graft.index.IndexStore.readTable(spark, s"$dir/indexes/${lib.id}/ivf_assigned")
    val probed = state.ivf.get.candidates(onDisk, qv)
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["), s"probe must partition-prune:\n$plan")
    val pf = plan.split("PartitionFilters: ", 2).last.take(300)
    assert(pf.contains("cluster_id"),
      s"PartitionFilters must constrain cluster_id:\n$pf")
    assert(!pf.startsWith("[]"), s"PartitionFilters must be non-empty:\n$pf")
  }

  test("whole-stage codegen covers the scan->filter->project spine of q02") {
    val df = run("q02_filter_scan")
    df.collect() // finalize the adaptive plan so codegen stages print
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"scan spine must be codegen'd:\n$plan")
  }

  test("OPQ encode (MatVec rotation + per-subspace codes) is codegen'd") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val opq = graft.index.OpqModel.train(emb, "embedding", m = 8, k = 16, iters = 1)
    val encoded = emb.select(col("vec_id"), opq.encodeColumn(col("embedding")).as("codes"))
    encoded.collect()
    val plan = encoded.queryExecution.executedPlan.toString
    // the rotate+encode projection sits inside a WholeStageCodegen
    // stage — the custom expressions did not fall back to interpreted
    // row-at-a-time eval
    assert(plan.contains("*(1)"), s"OPQ encode must be codegen'd:\n$plan")
    assert(plan.contains("mat_vec"), plan)
    assert(plan.contains("nearest_centroid"), plan)
  }

  test("q122 heavy hitters: candidate recount joins BROADCAST, term agg partial") {
    // round 17: recountTopK computes rank/verdict driver-side over the
    // collected post-limit(k) rows (the returned frame is a
    // LocalTableScan), so the shape to pin is the DISTRIBUTED recount
    // half it collects from
    import org.apache.spark.sql.functions._
    val docs = graft.queries.Tables.table(spark, sfDir, "documents")
    import spark.implicits._
    val plan = graft.operators.TextAnalysis.recountPlan(
      docs, "text", Seq("the", "and", "of").toDF("term"), 10)
      .queryExecution.executedPlan.toString
    // pass 2's semi-join against the <= m candidates must broadcast —
    // a shuffled join here would reintroduce the term-universe exchange
    // the MG summary exists to avoid
    assert(plan.contains("BroadcastHashJoin"),
      s"candidate join must broadcast:\n${plan.take(2000)}")
    // the exact recount still combines map-side before its exchange
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      s"recount must partial-aggregate:\n${plan.take(2000)}")
    // and the returned q122 frame must be the bounded driver-side form
    // (no empty-partition WindowExec anywhere in it)
    val outPlan = run("q122_heavy_hitters").queryExecution.executedPlan.toString
    assert(!outPlan.contains("WindowExec"), outPlan.take(2000))
  }
}
