package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.api.JsonCodec
import graft.catalog.IndexType
import graft.catalog.VectorCatalog
import graft.operators.{AsOfJoin, Similarity}

/** Regressions for the round-1 advisor findings (ADVICE.md). */
class AdviceRegressionSpec extends SparkSpec {
  import spark.implicits._

  test("isoTimestamp renders a real microsecond fraction (not ms zero-padded)") {
    val ts = Timestamp.valueOf("2024-03-05 10:20:30")
    ts.setNanos(123000000) // 0.123 s
    assert(JsonCodec.isoTimestamp(ts) == "2024-03-05T10:20:30.123000")
    val ts2 = Timestamp.valueOf("2024-03-05 10:20:30")
    ts2.setNanos(123456000) // 123456 us
    assert(JsonCodec.isoTimestamp(ts2) == "2024-03-05T10:20:30.123456")
  }

  test("isoTimestamp is thread-safe under concurrent encoding") {
    val ts = Timestamp.valueOf("2024-03-05 10:20:30")
    ts.setNanos(987654000)
    val expected = JsonCodec.isoTimestamp(ts)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val results = Await.result(Future.sequence((1 to 8).map(_ => Future {
      (1 to 500).map(_ => JsonCodec.isoTimestamp(ts)).distinct
    })), 30.seconds)
    assert(results.forall(_ == Seq(expected)))
  }

  test("bruteForceTopK keeps non-numeric (string/UUID) neighbor ids intact") {
    val corpus = Seq(
      ("chunk-aa", Array(1f, 0f)),
      ("chunk-bb", Array(0.9f, 0.1f)),
      ("chunk-cc", Array(0f, 1f))
    ).toDF("id", "embedding")
    val queries = Seq(("q1", Array(1f, 0f))).toDF("qid", "qemb")
    val out = Similarity.bruteForceTopK(corpus, "id", "embedding",
        queries, "qid", "qemb", 2)
      .orderBy("rank")
      .select($"neighbor_id".cast("string")).as[String].collect().toSeq
    assert(out == Seq("chunk-aa", "chunk-bb")) // would be null,null with cast("long")
  }

  test("asOf: NULL value in the matched right row stays NULL (no stale carry)") {
    val left = Seq((1L, 5L, Timestamp.valueOf("2024-01-01 12:00:00")))
      .toDF("event_id", "user_id", "ts")
    val right = Seq(
      (5L, Timestamp.valueOf("2024-01-01 09:00:00"), 1L, Some(7.0)),
      (5L, Timestamp.valueOf("2024-01-01 11:00:00"), 2L, None: Option[Double]) // matched row, NULL value
    ).toDF("user_id", "ts", "sig_id", "value")
    val out = AsOfJoin.asOf(left, right, Seq("user_id"), "ts", "ts", Seq("value"), "sig_id")
      .select($"asof_value").as[Option[Double]].head()
    assert(out.isEmpty) // the 11:00 row matched; its NULL must not fall back to 7.0
  }

  test("asOf multi-column: all values come from the same matched row") {
    val left = Seq((1L, 5L, Timestamp.valueOf("2024-01-01 12:00:00")))
      .toDF("event_id", "user_id", "ts")
    val right = Seq(
      (5L, Timestamp.valueOf("2024-01-01 09:00:00"), 1L, Some(7.0), Some("old")),
      (5L, Timestamp.valueOf("2024-01-01 11:00:00"), 2L, None: Option[Double], Some("new"))
    ).toDF("user_id", "ts", "sig_id", "a", "b")
    val row = AsOfJoin.asOf(left, right, Seq("user_id"), "ts", "ts", Seq("a", "b"), "sig_id")
      .select($"asof_a", $"asof_b").as[(Option[Double], Option[String])].head()
    assert(row == ((None, Some("new"))))
  }

  test("createChunk with an existing id overwrites (dict-set parity)") {
    val cat = new VectorCatalog(spark)
    val lib = cat.createLibrary("L").toOption.get
    val doc = cat.createDocument(lib.id, "D").toOption.get
    cat.createChunk(doc.id, "first text", Map("v" -> "1"), id = Some("fixed-id"))
    cat.createChunk(doc.id, "second text", Map("v" -> "2"), id = Some("fixed-id"))
    assert(cat.chunks.filter($"id" === "fixed-id").count() == 1)
    assert(cat.getChunk("fixed-id").toOption.get.metadata("v") == "2")
  }

  test("catalog write path is thread-safe under concurrent CRUD") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val cat = new VectorCatalog(spark)
    val lib = cat.createLibrary("L").toOption.get
    val doc = cat.createDocument(lib.id, "D").toOption.get
    // 8 writers x 25 ops: creates (some with fixed ids), updates, deletes;
    // crosses the compaction threshold (64) several times concurrently
    val futures = (0 until 8).map { w =>
      Future {
        (0 until 25).foreach { i =>
          val id = s"w$w-c$i"
          cat.createChunk(doc.id, s"text $w $i", id = Some(id))
          if (i % 5 == 0) cat.updateChunk(id, text = Some(s"updated $w $i"))
          if (i % 7 == 0) cat.deleteChunk(id)
        }
      }
    }
    Await.result(Future.sequence(futures), 120.seconds)
    // per writer: 25 created, ids with i%7==0 deleted (i in 0,7,14,21 -> 4)
    assert(cat.chunks.count() == 8L * (25 - 4))
    assert(cat.getChunk("w3-c10").toOption.exists(_.text == "updated 3 10"))
    assert(cat.getChunk("w3-c14").isLeft) // deleted
  }

  // ---- round-3 ADVICE backlog (VERDICT r3 "What's wrong" 1-4) ----

  test("IvfModel.train handles array<double> embeddings on the local path") {
    val df = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(0.9, 0.1)),
      (3L, Array(0.0, 1.0)), (4L, Array(0.1, 0.9))
    ).toDF("id", "embedding") // array<double>, not array<float>
    val model = graft.index.IvfModel.train(df, "embedding", nlist = 2)
    assert(model.nlist == 2) // would ClassCastException before the cast fix
  }

  test("IvfModel.train fails loudly (not NoSuchElementException) on empty input") {
    val empty = Seq.empty[(Long, Array[Float])].toDF("id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      graft.index.IvfModel.train(empty, "embedding", nlist = 4)
    }
    assert(ex.getMessage.contains("no non-null"))
  }

  test("CorpusPipeline.curate rejects string ids for split assignment") {
    val docs = Seq(("uuid-a", "some quality text here with words"),
      ("uuid-b", "other quality text here with words")).toDF("id", "text")
    val ex = intercept[IllegalArgumentException] {
      graft.pipeline.CorpusPipeline.curate(docs, "id", "text")
    }
    assert(ex.getMessage.contains("integral")) // was: silent all-rows-in-"test"
    // trainPct = 0 skips the split stage and string ids are fine
    val cfg = graft.pipeline.CorpusPipeline.CurationConfig(trainPct = 0)
    assert(graft.pipeline.CorpusPipeline.curate(docs, "id", "text", cfg).count() >= 0)
  }

  test("loadIndex on a missing path returns Left(NotFound), no exception") {
    val cat = new VectorCatalog(spark)
    val lib = cat.createLibrary("L").toOption.get
    val out = cat.loadIndex("/tmp/graft-test-definitely-absent", lib.id)
    assert(out.isLeft)
    assert(out.swap.toOption.exists(_.isInstanceOf[graft.model.ApiError.NotFound]))
  }

  test("connectedComponentsDistributed throws on non-convergence at maxIter") {
    // a 6-node chain needs >1 min-label round; maxIter=1 must not return
    // silently-wrong labels
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("id_a", "id_b")
    val ex = intercept[IllegalStateException] {
      graft.operators.Dedup.connectedComponentsDistributed(chain, maxIter = 1).collect()
    }
    assert(ex.getMessage.contains("did not converge"))
    // and with enough rounds the same graph converges to one component
    val labels = graft.operators.Dedup.connectedComponentsDistributed(chain, maxIter = 10)
    assert(labels.select("label").distinct().count() == 1)
  }

  test("q69 approx percentiles sit within the GK rank-error bound of exact") {
    // accuracy 10000 => rank error <= n/10000; at test scale that is
    // < 1 row, so every approx value must be an order statistic within
    // +-2 positions of the target rank. (The registered query now
    // hashes the error-bound VERDICT booleans — this test keeps the
    // tighter raw-value bound on the sketch itself.)
    val approx = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy(col("l_returnflag"))
      .agg(
        percentile_approx(col("l_quantity"),
          array(lit(0.5), lit(0.9)), lit(10000)).as("aq"),
        percentile_approx(col("l_extendedprice"),
          array(lit(0.25), lit(0.75)), lit(10000)).as("ap"))
      .select(col("l_returnflag"),
        element_at(col("aq"), 1), element_at(col("aq"), 2),
        element_at(col("ap"), 1), element_at(col("ap"), 2))
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    // and the registered query's verdict columns must all be true
    val q69 = SparkEntry.allQueries.find(_.name == "q69_percentiles_approx").get
    q69.run(spark, sfDir).collect().foreach { r =>
      (2 until 6).foreach(i => assert(r.getBoolean(i),
        s"q69 verdict col $i false for ${r.getString(0)}"))
    }
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val byFlag = li.select("l_returnflag", "l_quantity", "l_extendedprice").collect()
      .groupBy(_.getString(0))
    def bound(sorted: Array[Double], f: Double, v: Double): Boolean = {
      val n = sorted.length
      val r = math.floor(f * (n - 1)).toInt
      val lo = sorted(math.max(0, r - 2))
      val hi = sorted(math.min(n - 1, r + 2))
      v >= lo && v <= hi
    }
    byFlag.foreach { case (flag, rows) =>
      val qty = rows.map(_.getDouble(1)).sorted
      val price = rows.map(_.getDouble(2)).sorted
      val (medQ, p90Q, p25P, p75P) = approx(flag)
      assert(bound(qty, 0.5, medQ), s"$flag median_qty $medQ outside bound")
      assert(bound(qty, 0.9, p90Q), s"$flag p90_qty $p90Q outside bound")
      assert(bound(price, 0.25, p25P), s"$flag p25_price $p25P outside bound")
      assert(bound(price, 0.75, p75P), s"$flag p75_price $p75P outside bound")
    }
  }

  test("q70 approx distinct counts sit within the HLL++ rsd bound of exact") {
    val approx = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_orderkey"), rsd = 0.02).as("ao"),
        approx_count_distinct(col("l_partkey"), rsd = 0.02).as("ap"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // and the registered query's verdict columns must all be true
    // (the fixture is far below exactGateMaxRows, so the verdicts are
    // REAL sketch-vs-exact checks here, not the at-scale passthrough)
    val q70 = SparkEntry.allQueries.find(_.name == "q70_distinct_approx").get
    q70.run(spark, sfDir).collect().foreach { r =>
      assert(r.getBoolean(2) && r.getBoolean(3),
        s"q70 verdict false for ${r.getString(0)}")
      assert(r.getString(4) == "checked",
        s"q70 gate state should be 'checked' below the gate, got ${r.getString(4)}")
    }
    // below the gate the oracle is emitted (and asserts 'checked')
    val below = q70.oracleAt(spark, sfDir)
    assert(below.exists(_.contains("'checked'")),
      "q70 oracle should be emitted below the exact gate")
    val exact = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_orderkey")).as("o"), countDistinct(col("l_partkey")).as("p"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // rsd 0.02 is the STANDARD DEVIATION of relative error; 5 sigma
    // gives a deterministic-in-practice bound for a fixed-seed sketch
    exact.foreach { case (flag, (o, p)) =>
      val (ao, ap) = approx(flag)
      assert(math.abs(ao - o).toDouble / o <= 0.10, s"$flag orders: $ao vs $o")
      assert(math.abs(ap - p).toDouble / p <= 0.10, s"$flag parts: $ap vs $p")
    }
  }

  test("q70 above the exact gate: verdict 'skipped', oracle withheld (ADVICE r12)") {
    // a constant-true verdict above the gate was hash-indistinguishable
    // from a checked one; now the gate state is an output column and
    // the oracle generator withholds so the leg records rows-only
    sys.props("graft.q70.gateMaxRows") = "1"
    try {
      val q70 = SparkEntry.allQueries.find(_.name == "q70_distinct_approx").get
      q70.run(spark, sfDir).collect().foreach { r =>
        assert(r.getString(4) == "skipped",
          s"q70 gate state above the gate should be 'skipped', got ${r.getString(4)}")
      }
      assert(q70.oracleAt(spark, sfDir).isEmpty,
        "q70 oracle must be withheld above the exact gate")
    } finally sys.props -= "graft.q70.gateMaxRows"
  }

  test("keeper-rank guard withholds a thin attr gap at rank 3+ (ADVICE r12)") {
    // the incremental replays (q112/q114/q115) take keeper argmins over
    // incoming-only SUBSETS of a batch component, so a drift-swappable
    // pair can sit at any rank — the old top-2-only check missed it.
    // One cluster, one component (all pairwise cosines >= 0.9):
    // cs(t) = 1/sqrt(1+t^2); ranks 1-2 (t=0.1, 0.05) gap ~3.7e-3 (the
    // old check passes), ranks 3-4 (t=0.001005, 0.001) gap ~5e-9 <
    // distEps=1e-8 and distinct.
    val model = graft.index.IvfModel(Array(Array(1f, 0f)))
    def fixture(attr3: String) = Seq(
      (1L, Seq(1f, 0.1f), "A"),
      (2L, Seq(1f, 0.05f), "A"),
      (3L, Seq(1f, 0.001f), attr3),
      (4L, Seq(1f, 0.001005f), "A"))
      .toDF("vec_id", "embedding", "attr")
    // attr-differing thin pair at ranks 3-4: output-sensitive withhold
    assert(!graft.queries.AnnOracles.keeperRankOkCached(
      "advtest-rank3-diff", spark, fixture("B"), model, 0.9, strict = false),
      "thin attr-differing gap at ranks 3-4 must withhold")
    // same-attr thin pair: a swap cannot change a count-by-attr output
    assert(graft.queries.AnnOracles.keeperRankOkCached(
      "advtest-rank3-same", spark, fixture("A"), model, 0.9, strict = false),
      "same-attr thin gap must NOT withhold in output-sensitive mode")
    // strict mode (keepers feed later folds): any thin gap withholds
    assert(!graft.queries.AnnOracles.keeperRankOkCached(
      "advtest-rank3-strict", spark, fixture("A"), model, 0.9, strict = true),
      "strict mode must withhold on any thin distinct gap")
  }

  test("refreshIndex trains an IVF index once chunk count crosses nlist") {
    val cat = new VectorCatalog(spark)
    val lib = cat.createLibrary("L", indexType = "ivf").toOption.get
    val doc = cat.createDocument(lib.id, "D").toOption.get
    cat.createChunks(doc.id, (1 to 10).map(i => (s"seed text $i", Map.empty[String, String])))
    cat.indexLibrary(lib.id, "ivf")
    assert(cat.indexState(lib.id).exists(s => s.indexType == IndexType.Ivf && s.ivf.isEmpty))

    cat.createChunks(doc.id, (11 to 110).map(i => (s"more text $i word${i % 7}", Map.empty[String, String])))
    val refreshed = cat.refreshIndex(lib.id).toOption.get
    assert(refreshed.ivf.isDefined)       // trained at the threshold crossing
    assert(refreshed.assigned.isDefined)  // and the assigned table exists
    assert(refreshed.assigned.get.count() == 110)
  }

  test("refreshIndex re-encodes a re-embedded (updated) chunk — no stale LSH buckets") {
    val cat = new VectorCatalog(spark)
    val lib = cat.createLibrary("L", indexType = "lsh").toOption.get
    val doc = cat.createDocument(lib.id, "D").toOption.get
    val c = cat.createChunk(doc.id, "the original text about gardening").toOption.get
    cat.createChunk(doc.id, "an unrelated stable sibling chunk")
    cat.indexLibrary(lib.id, "lsh")

    // update re-embeds under the SAME id; an id-only reconcile would
    // keep the old embedding's buckets (silent recall loss)
    cat.updateChunk(c.id, text = Some("completely different words on astronomy"))
    cat.refreshIndex(lib.id)

    val st = cat.indexState(lib.id).get
    val model = st.lsh.get
    val got = st.signatures.get.filter(col("id") === c.id)
      .select("bucket").collect().map(_.getLong(0)).toSet
    val expected = model.bucketsOf(
      cat.getChunk(c.id).toOption.get.embedding.get.toArray).toSet
    assert(got == expected, "signatures must reflect the NEW embedding only")
  }

  test("refreshIndex re-encodes a re-embedded chunk in the IVF assigned table") {
    val cat = new VectorCatalog(spark)
    val lib = cat.createLibrary("L", indexType = "ivf").toOption.get
    val doc = cat.createDocument(lib.id, "D").toOption.get
    val chunks = cat.createChunks(doc.id,
      (1 to 110).map(i => (s"base corpus text $i topic${i % 5}", Map.empty[String, String])))
      .toOption.get
    cat.indexLibrary(lib.id, "ivf")
    val target = chunks.head

    cat.updateChunk(target.id, text = Some("a wholly new subject: deep sea biology"))
    cat.refreshIndex(lib.id)

    val st = cat.indexState(lib.id).get
    val row = st.assigned.get.filter(col("id") === target.id)
      .select("cluster_id", "emb_hash").collect()
    assert(row.length == 1, "exactly one assigned row for the updated id")
    val newEmb = cat.getChunk(target.id).toOption.get.embedding.get
    // `assigned` is (id, cluster_id, emb_hash): the row carries the new
    // embedding's hash
    assert(row(0).getLong(1) == spark.createDataFrame(Seq(Tuple1(newEmb))).select(xxhash64(col("_1")))
      .head().getLong(0), "assigned row must carry the NEW embedding's hash")
    assert(row(0).getInt(0) ==
      st.ivf.get.probeLinear(newEmb, 1).head,
      "cluster assignment must be recomputed from the new embedding")
  }

  // ---- round-14 advisor findings ----

  test("heavyHitterTerms on an empty corpus returns empty, not NPE (ADVICE r14)") {
    import graft.operators.TextAnalysis
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(TextAnalysis.heavyHitterTerms(empty, "text", k = 5,
      counters = 16).collect().isEmpty)
  }

  test("short all-heavy candidate set is never certified complete (ADVICE r14)") {
    import graft.operators.TextAnalysis
    // 3 distinct terms, k = 5: the exact result has only 3 rows — the
    // count bound (min cnt * m > N) HOLDS, but ranks 4..5 of a 5-term
    // corpus would be missing, so the verdict must be false
    val docs = Seq((1L, "a a a a b b b c c c")).toDF("doc_id", "text")
    val out = TextAnalysis.heavyHitterTerms(docs, "text", k = 5,
      counters = 16).collect()
    assert(out.length == 3)
    assert(out.forall(!_.getBoolean(3)),
      "a result shorter than k must not claim provable completeness")
    // and when |result| == k the verdict logic is unchanged
    val full = TextAnalysis.heavyHitterTerms(docs, "text", k = 3,
      counters = 16).collect()
    assert(full.length == 3 && full.forall(_.getBoolean(3)))
  }

  test("repetition oracle contract: zero-token doc keeps with all-zero stats (ADVICE r14)") {
    import graft.operators.TextAnalysis
    val out = TextAnalysis.repetitionSignals(
        Seq((1L, "   ")).toDF("doc_id", "text"), "doc_id", "text")
      .select("n_tokens", "dup_tokens", "dup5_den", "keep").collect()(0)
    assert(out.getInt(0) == 0 && out.getInt(1) == 0 && out.getInt(2) == 0)
    assert(out.getBoolean(3), "empty text trivially passes the gate")
  }
}
