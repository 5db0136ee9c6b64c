package graft

import org.apache.spark.sql.functions._

import graft.streaming.EventStream

/** Index persistence + streaming sessionization. */
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

  test("streaming sessionization closes sessions on gap (flatMapGroupsWithState)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext

    def ev(id: Long, uid: Long, minute: Int): EventStream.Event =
      EventStream.Event(id, java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"),
        uid, "click", Some(1.0))

    val input = MemoryStream[EventStream.Event]
    val sessions = EventStream.sessionizeStream(input.toDS(), gapSeconds = 600)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sessions_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      // session 1: 10:00-10:05; then a 20-min gap; session 2 stays open
      input.addData(ev(1, 7, 0), ev(2, 7, 5))
      q.processAllAvailable()
      input.addData(ev(3, 7, 25))
      q.processAllAvailable()
      val closed = spark.sql("SELECT * FROM sessions_out").as[EventStream.ClosedSession].collect()
      assert(closed.length == 1)
      assert(closed.head.user_id == 7 && closed.head.n_events == 2)
      assert(closed.head.session_start.toString.contains("10:00:00"))
      assert(closed.head.session_end.toString.contains("10:05:00"))
    } finally q.stop()
  }

  test("streaming funnel: stage progression matches batch, order-independent across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    val steps = Seq("view", "click", "purchase")

    def ev(id: Long, uid: Long, minute: Int, tp: String): EventStream.Event =
      EventStream.Event(id, java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"),
        uid, tp, Some(1.0))

    // user 7 completes the funnel, but the CLICK arrives one batch
    // BEFORE the earlier view (out of order across batches); user 8
    // clicks before ever viewing (event time), so never passes stage 1
    // until a later view, after which only a LATER click would count
    val input = MemoryStream[EventStream.Event]
    val q = EventStream.funnelStream(input.toDS(), steps)
      .writeStream.outputMode("append")
      .format("memory").queryName("funnel_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(ev(1, 7, 10, "click"), ev(2, 8, 1, "click"))
      q.processAllAvailable()
      // no view yet: nothing emitted for either user
      assert(spark.sql("SELECT * FROM funnel_out").count() == 0)

      input.addData(ev(3, 7, 5, "view"), ev(4, 8, 3, "view"))
      q.processAllAvailable()
      // user 7: view@5 then the buffered click@10 => stages 1 AND 2
      // user 8: view@3 but its only click was @1 (before) => stage 1
      val afterTwo = spark.sql("SELECT user_id, stage FROM funnel_out")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(afterTwo == Set((7L, 1), (7L, 2), (8L, 1)), s"got $afterTwo")

      input.addData(ev(5, 7, 20, "purchase"), ev(6, 8, 2, "purchase"))
      q.processAllAvailable()
      // user 7 completes; user 8's purchase@2 predates everything
      val fin = spark.sql("SELECT user_id, stage, step FROM funnel_out")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      assert(fin.contains((7L, 3, "purchase")))
      assert(!fin.exists(t => t._1 == 8L && t._2 >= 2), s"got $fin")

      // completed funnel: further events emit nothing and don't error
      // (the drained state path)
      val before = spark.sql("SELECT * FROM funnel_out").count()
      input.addData(ev(7, 7, 30, "view"), ev(8, 7, 31, "purchase"))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM funnel_out").count() == before)
    } finally q.stop()
  }

  test("windowed funnel: span bound forces a later anchor, greedy-earliest would miss it") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext

    def ev(id: Long, uid: Long, minute: Int, tp: String): EventStream.Event =
      EventStream.Event(id, java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"),
        uid, tp, Some(1.0))

    // view@0, view@40, click@45 with a 10-minute span: the earliest
    // anchor (view@0) cannot reach click@45, the view@40 anchor can —
    // the candidate search must find it
    val input = MemoryStream[EventStream.Event]
    val q = EventStream.funnelStream(input.toDS(), Seq("view", "click"),
        maxSpanMs = Some(10L * 60 * 1000))
      .writeStream.outputMode("append")
      .format("memory").queryName("wfunnel_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(ev(1, 1, 0, "view"), ev(2, 1, 40, "view"), ev(3, 1, 45, "click"))
      // user 2: view@0 then click@45 only — outside any 10-min window
      input.addData(ev(4, 2, 0, "view"), ev(5, 2, 45, "click"))
      q.processAllAvailable()
      val got = spark.sql("SELECT user_id, stage, reached_at FROM wfunnel_out")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getTimestamp(2).toString)).toSet
      assert(got.contains((1L, 2, "2024-01-01 10:45:00.0")), s"got $got")
      // the emitted stage-1 anchor must be the WINDOW-VALID one (10:40)
      assert(got.contains((1L, 1, "2024-01-01 10:40:00.0")), s"got $got")
      assert(!got.exists(t => t._1 == 2L && t._2 == 2), s"got $got")
    } finally q.stop()
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

  test("streaming dedup drops duplicate event_ids within the watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, minute: Int): EventStream.Event =
      EventStream.Event(id, java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"),
        1L, "click", Some(1.0))
    val input = MemoryStream[EventStream.Event]
    val q = EventStream.dedupStream(input.toDF()).writeStream
      .outputMode("append").format("memory").queryName("dedup_out").start()
    try {
      input.addData(ev(1, 0), ev(2, 1), ev(1, 2)) // id 1 duplicated
      q.processAllAvailable()
      input.addData(ev(2, 3), ev(3, 4))           // id 2 duplicated across batches
      q.processAllAvailable()
      val ids = spark.sql("SELECT event_id FROM dedup_out").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("streaming ingest appends chunk batches into the catalog") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import IndexStoreSpec.In
    implicit val sqlCtx = spark.sqlContext
    val cat = new graft.catalog.VectorCatalog(spark)
    val lib = cat.createLibrary("L", id = Some("lib1")).toOption.get
    cat.createDocument(lib.id, "D", id = Some("doc1"))

    val now = new java.sql.Timestamp(System.currentTimeMillis())
    val input = MemoryStream[In]
    val q = cat.startIngest(input.toDF(), "ingest_test")
    try {
      input.addData(
        In("c1", "doc1", "lib1", "streamed text one", Map("src" -> "stream"), now, now),
        In("c2", "doc1", "lib1", "streamed text two", Map("src" -> "stream"), now, now))
      q.processAllAvailable()
      assert(cat.chunks.count() == 2)
      input.addData(In("c3", "doc1", "lib1", "third arrives later", Map.empty, now, now))
      q.processAllAvailable()
      assert(cat.chunks.count() == 3)
      // ingested chunks are embedded and searchable
      val svc = new graft.search.SearchService(cat)
      val resp = svc.search("lib1",
        graft.model.SearchQuery(queryText = Some("third"), k = 1)).toOption.get
      assert(resp.results.head.chunk.id == "c3")
      assert(resp.results.head.chunk.embedding.isDefined)
    } finally q.stop()
  }

  test("streamed batches respect delete + re-create cascade semantics") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import IndexStoreSpec.In
    implicit val sqlCtx = spark.sqlContext
    val cat = new graft.catalog.VectorCatalog(spark)
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    def row(id: String, doc: String = "doc1", lib: String = "lib1") =
      In(id, doc, lib, s"text $id", Map.empty, now, now)

    cat.createLibrary("L", id = Some("lib1"))
    cat.createDocument("lib1", "D", id = Some("doc1"))
    val input = MemoryStream[In]
    val q = cat.startIngest(input.toDF(), "ingest_cascade_test")
    try {
      // pre-delete batch must stay hidden after the delete...
      input.addData(row("c1"), row("c2"))
      q.processAllAvailable()
      assert(cat.chunks.count() == 2)
      cat.deleteDocument("doc1").toOption.get
      assert(cat.chunks.count() == 0)
      // ...including across the re-create of the SAME document id
      cat.createDocument("lib1", "D again", id = Some("doc1"))
      assert(cat.chunks.count() == 0)
      // a post-re-create batch IS visible (tombstone predates its seq)
      input.addData(row("c3"), row("c4"))
      q.processAllAvailable()
      assert(cat.chunks.as[graft.model.ChunkRow].collect().map(_.id).sorted.toSeq
        == Seq("c3", "c4"))

      // repeat the cycle at library granularity, with a compact interleaved
      cat.deleteLibrary("lib1").toOption.get
      assert(cat.chunks.count() == 0)
      cat.compact()
      cat.createLibrary("L2", id = Some("lib1"))
      cat.createDocument("lib1", "D2", id = Some("doc1"))
      input.addData(row("c5"))
      q.processAllAvailable()
      assert(cat.chunks.as[graft.model.ChunkRow].collect().map(_.id).toSeq == Seq("c5"))

      // second delete/re-create cycle on the same ids still behaves
      cat.deleteDocument("doc1").toOption.get
      cat.createDocument("lib1", "D3", id = Some("doc1"))
      input.addData(row("c6"))
      q.processAllAvailable()
      assert(cat.chunks.as[graft.model.ChunkRow].collect().map(_.id).toSeq == Seq("c6"))
    } finally q.stop()
  }

  test("late streamed batch for a deleted entity is dropped, not orphaned") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import IndexStoreSpec.In
    implicit val sqlCtx = spark.sqlContext
    val cat = new graft.catalog.VectorCatalog(spark)
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    cat.createLibrary("L", id = Some("lib1"))
    cat.createDocument("lib1", "D", id = Some("doc1"))
    val input = MemoryStream[In]
    val q = cat.startIngest(input.toDF(), "ingest_orphan_test")
    try {
      cat.deleteDocument("doc1").toOption.get
      // doc1 is gone and NOT re-created: a late batch for it must be
      // dropped at append (its seq postdates the tombstone, so nothing
      // else would ever hide these rows)
      input.addData(
        In("late1", "doc1", "lib1", "late data", Map.empty, now, now),
        In("late2", "never-existed", "lib1", "bogus doc", Map.empty, now, now))
      q.processAllAvailable()
      assert(cat.chunks.count() == 0)
      assert(cat.validateRelationships()("orphan_chunks") == 0)
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
