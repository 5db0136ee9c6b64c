package graft

import org.apache.spark.sql.functions._

/** Index persistence + streaming CDC. */
class IndexStoreSpec extends SparkSpec {
  import spark.implicits._

  test("catalog save/load round-trips built indexes: search works without rebuild") {
    import graft.catalog.VectorCatalog
    import graft.model.SearchQuery
    val dir = java.nio.file.Files.createTempDirectory("graft-idx-rt").toString
    val cat = new VectorCatalog(spark)
    val lib = cat.createLibrary("L", indexType = "lsh", id = Some("lib-rt")).toOption.get
    val doc = cat.createDocument(lib.id, "D").toOption.get
    cat.createChunks(doc.id, (1 to 30).map(i => (s"document text number $i topic${i % 5}", Map.empty[String, String])))
    cat.indexLibrary(lib.id, "lsh")
    cat.save(dir); cat.saveIndexes(dir)

    val restored = new VectorCatalog(spark)
    restored.load(dir)
    restored.createLibrary("L", indexType = "lsh", id = Some("lib-rt")) // registry entry
    val st = restored.loadIndex(dir, "lib-rt").toOption.get
    assert(st.lsh.isDefined && st.signatures.isDefined)
    assert(st.signatures.get.count() > 0)

    val svc = new graft.search.SearchService(restored)
    val resp = svc.search("lib-rt", SearchQuery(queryText = Some("document topic1"), k = 3))
      .toOption.get
    assert(resp.results.nonEmpty) // probes the RESTORED signatures, no rebuild
  }

  test("an LSH directory saved in the old bucket-partitioned layout still loads and searches") {
    import graft.catalog.VectorCatalog
    import graft.model.SearchQuery
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh-old").toString
    val cat = new VectorCatalog(spark)
    val lib = cat.createLibrary("L", indexType = "lsh").toOption.get
    val doc = cat.createDocument(lib.id, "D").toOption.get
    cat.createChunks(doc.id, (1 to 60).map(i => (s"old layout text $i topic${i % 6}", Map.empty[String, String])))
    val sigs = cat.indexLibrary(lib.id, "lsh").toOption.get.signatures.get
    cat.save(dir); cat.saveIndexes(dir)
    // the layout LSH signatures were saved in before they were written
    // unpartitioned: a bucket_part = pmod(bucket, 256) partition column
    sigs.withColumn("bucket_part", pmod($"bucket", lit(256)))
      .repartition($"bucket_part")
      .write.mode("overwrite").partitionBy("bucket_part")
      .parquet(s"$dir/indexes/${lib.id}/lsh_sigs")

    val restored = new VectorCatalog(spark)
    restored.load(dir)
    val st = restored.loadIndex(dir, lib.id).toOption.get
    assert(st.signatures.get.columns.toSeq == Seq("id", "bucket", "emb_hash"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "bucket", "emb_hash").collect().map(_.toSeq).toSeq.sortBy(_.mkString(","))
    assert(rows(st.signatures.get) == rows(sigs))
    val query = SearchQuery(queryText = Some("old layout topic2"), k = 5)
    def ids(c: VectorCatalog) = {
      val svc = new graft.search.SearchService(c)
      Seq(svc.search(lib.id, query), svc.sparkSearch(lib.id, query)).map(_.toOption.get.results.map(_.chunk.id))
    }
    val want = ids(cat)
    assert(want.head.nonEmpty)
    assert(ids(restored) == want)
  }

  test("streaming CDC classifies arriving snapshot rows against the pinned old") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.SnapshotDiff
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val old = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val input = MemoryStream[(Long, String)]
    val q = SnapshotDiff.diffStream(input.toDS().toDF("id", "v"), old, Seq("id"))
      .writeStream.outputMode("append")
      .format("memory").queryName("cdc_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData((1L, "a"), (2L, "B2"))     // same + changed
      q.processAllAvailable()
      input.addData((9L, "new"))               // added, separate batch
      q.processAllAvailable()
      val got = spark.sql("SELECT id, v, diff_status FROM cdc_out")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(got == Set((1L, "a", "same"), (2L, "B2", "changed"), (9L, "new", "added")))

      // differential vs the batch classifier on the same rows (batch
      // diff adds 'removed' for key 3, which streaming cannot know)
      val newSnap = Seq((1L, "a"), (2L, "B2"), (9L, "new")).toDF("id", "v")
      val batch = SnapshotDiff.diff(old, newSnap, Seq("id"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      got.foreach { case (id, _, st) => assert(batch(id) == st) }
      assert(batch(3L) == "removed")
    } finally q.stop()
  }

  test("GraftExtensions-injected SQL functions work (session built with spark.sql.extensions)") {
    val got = spark.sql(
      "SELECT cosine_sim(array(1.0F, 0.0F), array(1.0F, 1.0F)) AS c," +
        " rolling_hash('abc') AS h, word_shingles('a b c', 2) AS s," +
        " word_tokens(' A  b ') AS t, hilbert2d(3L, 5L, 4) AS hc")
      .collect()(0)
    assert(math.abs(got.getDouble(0) - 1.0 / math.sqrt(2)) < 1e-12)
    assert(got.getLong(1) != 0L)
    assert(got.getSeq[String](2) == Seq("a b", "b c"))
    assert(got.getSeq[String](3) == Seq("a", "b"))
    assert(got.getLong(4) ==
      org.apache.spark.sql.graft.expressions.HilbertEval.xy2d(4, 3L, 5L))
  }

  test("HNSW graph persists and restores with identical search results") {
    import graft.index.HnswModel
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val g = HnswModel.build(emb, "vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("graft-hnsw").toString
    HnswModel.write(spark, g, path)
    val restored = HnswModel.read(spark, path)
    assert(restored.size == g.size)
    for (qid <- 0L until 5L) {
      val q = emb.filter(org.apache.spark.sql.functions.col("vec_id") === qid)
        .select("embedding").collect()(0).getSeq[Float](0).toArray
      // stored adjacency, not a rebuild: navigation must be identical
      assert(restored.search(q, 20, ef = 80) == g.search(q, 20, ef = 80))
    }
    // coarse-quantizer probes too
    assert(restored.probeCells(Array.fill(64)(0.1f), nprobe = 4) ==
      g.probeCells(Array.fill(64)(0.1f), nprobe = 4))
  }

  test("HNSW pre-params persistence: loads for search, refuses insertAll") {
    import graft.index.HnswModel
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .limit(50)
    val g = HnswModel.build(emb, "vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("graft-hnsw-old").toString
    HnswModel.write(spark, g, path)
    // simulate the pre-params meta format: entry/top/normalized only
    spark.read.parquet(s"$path/meta")
      .select("entry", "top", "normalized")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta2")
    val old = spark.read.parquet(s"$path/meta2")
    old.coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    val restored = HnswModel.read(spark, path)
    assert(!restored.paramsKnown)
    // stored adjacency still searches identically (params only matter
    // for CONTINUING the build)
    val q = emb.filter(org.apache.spark.sql.functions.col("vec_id") === 0L)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    assert(restored.search(q, 10, ef = 40) == g.search(q, 10, ef = 40))
    // insertAll must refuse rather than risk a wrong RNG continuation
    val ex = intercept[IllegalArgumentException] {
      restored.insertAll(Array(9999L), Array(Array.fill(restored.dim)(0.1f)))
    }
    assert(ex.getMessage.contains("rebuild"))
  }
}

object IndexStoreSpec {
  /** chunk-shaped streaming-ingest record (embedding added at ingest). */
  case class In(id: String, document_id: String, library_id: String, text: String,
      metadata: Map[String, String], created_at: java.sql.Timestamp,
      updated_at: java.sql.Timestamp)
}
