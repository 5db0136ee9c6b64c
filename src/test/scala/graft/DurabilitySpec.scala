package graft

import java.nio.file.Files

import graft.catalog.DurableCatalog
import graft.model.ChunkRow

/**
 * WAL + checkpoint durability: every acknowledged mutation must
 * survive a "crash" (recovering a brand-new catalog from the same
 * root) byte-identically — generated ids, timestamps, embeddings,
 * cascade semantics and all.
 */
class DurabilitySpec extends SparkSpec {

  private def freshRoot(): String =
    Files.createTempDirectory("graft-wal").toString

  private def chunkRows(c: DurableCatalog): Seq[ChunkRow] = {
    import c.inner.spark.implicits._
    c.inner.chunks.as[ChunkRow].collect().toSeq.sortBy(_.id)
  }

  private def assertSameState(a: DurableCatalog, b: DurableCatalog): Unit = {
    assert(a.inner.listLibraries() == b.inner.listLibraries())
    val libs = a.inner.listLibraries().map(_.id)
    for (l <- libs)
      assert(a.inner.listDocuments(l) == b.inner.listDocuments(l))
    val (ca, cb) = (chunkRows(a), chunkRows(b))
    assert(ca.map(_.id) == cb.map(_.id))
    ca.zip(cb).foreach { case (x, y) =>
      assert(x.copy(embedding = None) == y.copy(embedding = None))
      assert(x.embedding.isDefined == y.embedding.isDefined)
      x.embedding.zip(y.embedding).foreach { case (e1, e2) =>
        assert(e1.sameElements(e2))
      }
    }
  }

  test("recover replays the full CRUD history byte-identically") {
    val root = freshRoot()
    val cat = DurableCatalog.recover(spark, root)
    val lib = cat.createLibrary("wiki", Some("docs"), Map("tier" -> "a"), "ivf").toOption.get
    val lib2 = cat.createLibrary("news", None, Map.empty, "exact").toOption.get
    Seq("lsh", "hnsw", "ivfpq", "binary", "flat").foreach(t => assert(cat.createLibrary(t, indexType = t).isRight))
    val doc = cat.createDocument(lib.id, "intro").toOption.get
    val doc2 = cat.createDocument(lib2.id, "daily", Some("d"), Map("k" -> "v")).toOption.get
    val c1 = cat.createChunk(doc.id, "the quick brown fox", Map("p" -> "1")).toOption.get
    cat.createChunks(doc.id, Seq(("jumps over", Map("p" -> "2")), ("the lazy dog", Map.empty))).toOption.get
    cat.createChunk(doc2.id, "breaking news").toOption.get
    cat.updateLibrary(lib.id, name = Some("wiki2")).toOption.get
    cat.updateDocument(doc.id, description = Some("updated")).toOption.get
    cat.updateChunk(c1.id, text = Some("rewritten text")).toOption.get

    val rec = DurableCatalog.recover(spark, root)
    assertSameState(cat, rec)
    // index type survived (lib_create carries it)
    assert(rec.inner.indexState(lib.id).map(_.indexType.toString) == Some("Ivf"))
    assert(rec.inner.indexState(lib2.id).map(_.indexType.toString) == Some("Exact"))
    // the logged names, "flat" under its canonical name
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val logged = new java.io.File(s"$root/wal").listFiles().filter(_.getName.endsWith(".json"))
      .sortBy(_.getName).map(mapper.readTree).filter(_.get("op").asText == "lib_create")
      .map(_.get("index_type").asText).toSeq
    assert(logged == Seq("ivf", "exact", "lsh", "hnsw", "ivfpq", "binary", "exact"))
  }

  test("deletes and cascades replay: doc delete, chunk delete, lib delete") {
    val root = freshRoot()
    val cat = DurableCatalog.recover(spark, root)
    val lib = cat.createLibrary("a").toOption.get
    val keepLib = cat.createLibrary("b").toOption.get
    val d1 = cat.createDocument(lib.id, "d1").toOption.get
    val d2 = cat.createDocument(lib.id, "d2").toOption.get
    val kd = cat.createDocument(keepLib.id, "kd").toOption.get
    cat.createChunk(d1.id, "gone with the doc").toOption.get
    val c2 = cat.createChunk(d2.id, "individually deleted").toOption.get
    val c3 = cat.createChunk(d2.id, "survives").toOption.get
    cat.createChunk(kd.id, "other library").toOption.get
    cat.deleteDocument(d1.id).toOption.get
    cat.deleteChunk(c2.id).toOption.get

    val rec = DurableCatalog.recover(spark, root)
    assertSameState(cat, rec)
    assert(chunkRows(rec).map(_.id).toSet == Set(c3.id) ++ chunkRows(rec).filter(_.library_id == keepLib.id).map(_.id))

    // now cascade-delete the whole library and recover again
    cat.deleteLibrary(lib.id).toOption.get
    val rec2 = DurableCatalog.recover(spark, root)
    assertSameState(cat, rec2)
    assert(rec2.inner.listLibraries().map(_.id) == Seq(keepLib.id).sorted)
    assert(chunkRows(rec2).forall(_.library_id == keepLib.id))
  }

  test("checkpoint truncates the log and recovery = snapshot + tail") {
    val root = freshRoot()
    val cat = DurableCatalog.recover(spark, root)
    val lib = cat.createLibrary("ckpt").toOption.get
    val doc = cat.createDocument(lib.id, "d").toOption.get
    for (i <- 1 to 5) cat.createChunk(doc.id, s"chunk $i").toOption.get
    cat.checkpoint()
    val walFiles = new java.io.File(s"$root/wal").listFiles()
    assert(walFiles == null || walFiles.isEmpty, "checkpoint must truncate the WAL")

    // tail after the checkpoint
    val c6 = cat.createChunk(doc.id, "post-checkpoint").toOption.get
    cat.deleteChunk(c6.id).toOption.get
    val c7 = cat.createChunk(doc.id, "post-checkpoint survivor").toOption.get

    val rec = DurableCatalog.recover(spark, root)
    assertSameState(cat, rec)
    assert(chunkRows(rec).exists(_.id == c7.id))
    assert(!chunkRows(rec).exists(_.id == c6.id))
  }

  test("a root reopened after a checkpoint numbers its writes past the fence") {
    val root = freshRoot()
    val cat = DurableCatalog.recover(spark, root)
    val lib = cat.createLibrary("fence").toOption.get
    val doc = cat.createDocument(lib.id, "d").toOption.get
    for (i <- 1 to 3) cat.createChunk(doc.id, s"chunk $i").toOption.get
    cat.checkpoint()
    // the checkpoint truncated every WAL record: the reopened log must
    // still number its writes above the manifest's sequence fence
    val reopened = DurableCatalog.recover(spark, root)
    val late = reopened.createChunk(doc.id, "written after the reopen").toOption.get
    val rec = DurableCatalog.recover(spark, root)
    assert(chunkRows(rec).exists(_.id == late.id), "an acknowledged write was lost")
    assertSameState(reopened, rec)
  }

  test("recover on an empty root yields an empty catalog") {
    val rec = DurableCatalog.recover(spark, freshRoot())
    assert(rec.inner.listLibraries().isEmpty)
    assert(rec.inner.chunks.count() == 0L)
  }

  test("delete then re-create with the same id preserves replay order") {
    val root = freshRoot()
    val cat = DurableCatalog.recover(spark, root)
    val lib = cat.createLibrary("lib").toOption.get
    val doc = cat.createDocument(lib.id, "doc").toOption.get
    val c = cat.createChunk(doc.id, "v1", id = Some("fixed-id")).toOption.get
    assert(c.id == "fixed-id")
    cat.deleteChunk("fixed-id").toOption.get
    cat.createChunk(doc.id, "v2", id = Some("fixed-id")).toOption.get

    val rec = DurableCatalog.recover(spark, root)
    val rows = chunkRows(rec).filter(_.id == "fixed-id")
    assert(rows.size == 1 && rows.head.text == "v2")
  }

  test("VectorDb facade with durableRoot survives a restart end-to-end") {
    val root = freshRoot()
    val db = new graft.api.VectorDb(spark, durableRoot = Some(root))
    val lib = db.createLibrary("persistent", indexType = "exact").toOption.get
    val doc = db.createDocument(lib.id, "d").toOption.get
    db.createChunk(doc.id, "the quick brown fox").toOption.get
    db.createChunk(doc.id, "jumps over the lazy dog").toOption.get
    db.checkpoint()
    db.createChunk(doc.id, "post-checkpoint chunk").toOption.get

    val db2 = new graft.api.VectorDb(spark, durableRoot = Some(root))
    assert(db2.listLibraries().map(_.id) == Seq(lib.id))
    assert(db2.chunksByDocument(doc.id).toOption.get.size == 3)
    val res = db2.search(lib.id, graft.model.SearchQuery(
      queryText = Some("the quick brown fox"), k = 1)).toOption.get
    assert(res.results.head.chunk.text == "the quick brown fox")
    // without durableRoot nothing persists and checkpoint is a no-op
    val plain = new graft.api.VectorDb(spark)
    plain.checkpoint()
    assert(plain.listLibraries().isEmpty)
  }

  test("splitmix64 / string_hash64 are registered SQL functions") {
    val r = spark.sql(
      "SELECT splitmix64(7L) AS m, string_hash64('hello world') AS h").collect()(0)
    import org.apache.spark.sql.graft.expressions.TextHash
    assert(r.getLong(0) == TextHash.splitmix64(7L))
    assert(r.getLong(1) == TextHash.stringHash(
      org.apache.spark.unsafe.types.UTF8String.fromString("hello world"), 42L))
  }

  test("search works against a recovered catalog") {
    val root = freshRoot()
    val cat = DurableCatalog.recover(spark, root)
    val lib = cat.createLibrary("s", indexType = "exact").toOption.get
    val doc = cat.createDocument(lib.id, "d").toOption.get
    cat.createChunk(doc.id, "alpha beta gamma").toOption.get
    cat.createChunk(doc.id, "delta epsilon").toOption.get

    val rec = DurableCatalog.recover(spark, root)
    val svc = new graft.search.SearchService(rec.inner)
    val res = svc.search(lib.id, graft.model.SearchQuery(
      queryText = Some("alpha beta gamma"), k = 1))
    assert(res.toOption.get.results.head.chunk.text == "alpha beta gamma")
  }

  test("WAL compaction merges the log into one segment, replay identical") {
    val root = freshRoot()
    val cat = DurableCatalog.recover(spark, root)
    val lib = cat.createLibrary("comp", indexType = "exact").toOption.get
    val doc = cat.createDocument(lib.id, "d").toOption.get
    (0 until 20).foreach(i => assert(cat.createChunk(doc.id, s"chunk $i").isRight))

    def walFiles(): Seq[java.io.File] =
      new java.io.File(s"$root/wal").listFiles().toSeq
        .filter(_.getName.endsWith(".json")).sortBy(_.getName)

    assert(walFiles().size == 22) // one commit file per mutation
    cat.compactWal()
    assert(walFiles().size == 1, s"expected one merged segment: ${walFiles()}")
    assertSameState(cat, DurableCatalog.recover(spark, root))

    // sequence numbering continues correctly after compaction
    cat.createChunk(doc.id, "after compact").toOption.get
    assertSameState(cat, DurableCatalog.recover(spark, root))

    // a second compaction folds the compacted segment + new singles
    cat.compactWal()
    assert(walFiles().size == 1)
    assertSameState(cat, DurableCatalog.recover(spark, root))

    // and checkpoint still truncates a compacted log
    cat.checkpoint()
    assert(walFiles().isEmpty)
    assertSameState(cat, DurableCatalog.recover(spark, root))
  }

  test("crashed compaction (merged + originals both present) replays without duplication") {
    val root = freshRoot()
    val cat = DurableCatalog.recover(spark, root)
    val lib = cat.createLibrary("crash", indexType = "exact").toOption.get
    val doc = cat.createDocument(lib.id, "d").toOption.get
    (0 until 10).foreach(i => assert(cat.createChunk(doc.id, s"c$i").isRight))

    val walDir = java.nio.file.Paths.get(s"$root/wal")
    // count commit files only (the Hadoop local FS adds .crc siblings)
    def jsonCount(): Long = java.nio.file.Files.list(walDir).toArray
      .map(_.toString).count(_.endsWith(".json"))
    // snapshot the pre-compaction commit files
    val originals = java.nio.file.Files.list(walDir).toArray.map(_.toString)
      .filter(_.endsWith(".json"))
      .map { p =>
        val path = java.nio.file.Paths.get(p)
        (path.getFileName.toString, java.nio.file.Files.readAllBytes(path))
      }
    cat.compactWal()
    // simulate the crash window: merged segment written, originals not
    // yet deleted — restore every original next to the merged file
    originals.foreach { case (name, bytes) =>
      java.nio.file.Files.write(walDir.resolve(name), bytes)
    }
    assert(jsonCount() == originals.length + 1)

    // recovery must dedup by sequence: 12 mutations, not 24
    val rec = DurableCatalog.recover(spark, root)
    assertSameState(cat, rec)
    assert(chunkRows(rec).size == 10)
    // appends against the recovered root keep live sequence numbers
    rec.createChunk(doc.id, "post-crash append").toOption.get
    assertSameState(rec, DurableCatalog.recover(spark, root))
    // re-running compaction converges back to one segment
    rec.compactWal()
    assert(jsonCount() == 1)
    assertSameState(rec, DurableCatalog.recover(spark, root))

    // a leaked partial merge tmp (crash mid-write, pre-rename) is
    // inert: no ".json" suffix, so replay/truncation/bootstrap all
    // ignore it and recovery proceeds normally
    java.nio.file.Files.write(
      walDir.resolve("00000000000000000000c00000000000000000099.json.tmp"),
      "{ not even valid json".getBytes)
    assertSameState(rec, DurableCatalog.recover(spark, root))
  }

  test("compaction races concurrent mutations without losing acknowledged writes") {
    val root = freshRoot()
    val cat = DurableCatalog.recover(spark, root)
    val lib = cat.createLibrary("race", indexType = "exact").toOption.get
    val doc = cat.createDocument(lib.id, "d").toOption.get

    val threads = 6
    val perThread = 20
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads + 1)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    try {
      // one thread compacts in a loop while the others mutate
      val compactor = pool.submit(new Runnable {
        def run(): Unit = while (!stop.get()) { cat.compactWal(); Thread.sleep(5) }
      })
      val writers = (0 until threads).map { t =>
        pool.submit(new Runnable {
          def run(): Unit = (0 until perThread).foreach { i =>
            assert(cat.createChunk(doc.id, s"race $t-$i").isRight)
          }
        })
      }
      writers.foreach(_.get())
      stop.set(true)
      compactor.get()
    } finally pool.shutdown()
    cat.compactWal()

    // every acknowledged write must survive recovery, byte-identically
    val rec = DurableCatalog.recover(spark, root)
    assertSameState(cat, rec)
    assert(chunkRows(rec).size == threads * perThread)
  }

  test("a rejected chunk create writes no WAL record and is absent after recover") {
    val root = freshRoot()
    val cat = DurableCatalog.recover(spark, root)
    val lib = cat.createLibrary("boundary", indexType = "exact").toOption.get
    val doc = cat.createDocument(lib.id, "d").toOption.get
    cat.createChunk(doc.id, "a valid chunk").toOption.get
    def walFiles(): Int =
      new java.io.File(s"$root/wal").listFiles().count(_.getName.endsWith(".json"))
    val before = walFiles()

    val nan = Array.fill(cat.inner.embeddingDim)(0.1f).updated(0, Float.NaN)
    assert(cat.createChunk(doc.id, "nan", embedding = Some(nan), id = Some("nan")).isLeft)
    assert(cat.createChunk(doc.id, "short", embedding = Some(Array(1f, 2f)), id = Some("short")).isLeft)
    assert(walFiles() == before, "a rejected create was logged")

    val rec = DurableCatalog.recover(spark, root)
    assertSameState(cat, rec)
    assert(chunkRows(rec).map(_.text) == Seq("a valid chunk"))
  }
}
