package graft

import java.nio.ByteBuffer
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit, TimeoutException}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.catalog.{DurableCatalog, VectorCatalog}
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

  private val mapper = new ObjectMapper()

  /** File names under the root's `wal/`, sorted. */
  private def walFiles(root: String): Seq[String] =
    Option(new java.io.File(s"$root/wal").listFiles()).toSeq.flatten.map(_.getName).sorted

  private def segment(root: String, firstSeq: Long): Path =
    Paths.get(root, "wal", f"$firstSeq%020d.wal")

  private def seqs(c: VectorCatalog): Seq[Long] = c.wal.records().map(_.get("seq").asLong())

  /** End offset of each whole `[u32 length][u32 CRC32][payload]` frame. */
  private def frameEnds(bytes: Array[Byte]): Seq[Int] = {
    val ends = Seq.newBuilder[Int]
    var pos = 0
    while (pos + 8 <= bytes.length && pos + 8 + ByteBuffer.wrap(bytes, pos, 4).getInt <= bytes.length) {
      pos += 8 + ByteBuffer.wrap(bytes, pos, 4).getInt
      ends += pos
    }
    ends.result()
  }

  private def chunkRows(c: VectorCatalog): Seq[ChunkRow] = {
    import c.spark.implicits._
    c.chunks.as[ChunkRow].collect().toSeq.sortBy(_.id)
  }

  private def assertSameState(a: VectorCatalog, b: VectorCatalog): Unit = {
    assert(a.listLibraries() == b.listLibraries())
    val libs = a.listLibraries().map(_.id)
    for (l <- libs)
      assert(a.listDocuments(l) == b.listDocuments(l))
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
    assert(rec.indexState(lib.id).map(_.indexType.toString) == Some("Ivf"))
    assert(rec.indexState(lib2.id).map(_.indexType.toString) == Some("Exact"))
    // the logged names, "flat" under its canonical name
    val logged = rec.wal.records().filter(_.get("op").asText == "lib_create")
      .map(_.get("index_type").asText)
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
    assert(rec2.listLibraries().map(_.id) == Seq(keepLib.id).sorted)
    assert(chunkRows(rec2).forall(_.library_id == keepLib.id))
  }

  test("checkpoint truncates the log and recovery = snapshot + tail") {
    val root = freshRoot()
    val cat = DurableCatalog.recover(spark, root)
    val lib = cat.createLibrary("ckpt").toOption.get
    val doc = cat.createDocument(lib.id, "d").toOption.get
    for (i <- 1 to 5) cat.createChunk(doc.id, s"chunk $i").toOption.get
    cat.checkpoint()
    assert(cat.wal.records().isEmpty, "checkpoint must truncate the WAL")
    assert(walFiles(root).isEmpty, "checkpoint must delete the rolled segment")

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

  test("a checkpoint deletes the snapshot it replaces, and a recovered catalog still reads every row") {
    val root = freshRoot()
    val cat = DurableCatalog.recover(spark, root)
    val lib = cat.createLibrary("snapshots", indexType = "exact").toOption.get
    val doc = cat.createDocument(lib.id, "d").toOption.get
    val before = (1 to 3).map(i => cat.createChunk(doc.id, s"before $i").toOption.get)
    cat.checkpoint()
    val after = (1 to 2).map(i => cat.createChunk(doc.id, s"after $i").toOption.get)
    def snapshots = Option(new java.io.File(root).listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith("snapshot-")).sorted
    assert(snapshots.size == 1)

    // the recovered base reads the first snapshot until a fold; the
    // checkpoint, with no write of its own, must not lose it
    val rec = DurableCatalog.recover(spark, root)
    rec.checkpoint()
    assert(snapshots == Seq(f"snapshot-${rec.wal.lastSeq}%020d"))
    val ids = rec.chunksByLibrary(lib.id).select("id").collect().map(_.getString(0)).toSet
    assert(ids == (before ++ after).map(_.id).toSet)
    assertSameState(rec, DurableCatalog.recover(spark, root))
  }

  test("a WAL replay folds once, not once per 64 records") {
    val root = freshRoot()
    val cat = DurableCatalog.recover(spark, root)
    val lib = cat.createLibrary("replay", indexType = "exact").toOption.get
    val doc = cat.createDocument(lib.id, "d").toOption.get
    val acked = (0 until 200).map(i => cat.createChunk(doc.id, s"chunk $i").toOption.get)
    // a fold is a localCheckpoint: one job each; the replay itself runs
    // none (no snapshot to read, no existence checks)
    var rec: VectorCatalog = null
    val jobs = jobsStarted { rec = DurableCatalog.recover(spark, root) }
    assert(jobs <= 1, s"replay of 200 creates ran $jobs fold jobs")
    assert(chunkRows(rec).map(_.id) == acked.map(_.id).sorted)
    assertSameState(cat, rec)
  }

  test("recover on an empty root yields an empty catalog") {
    val rec = DurableCatalog.recover(spark, freshRoot())
    assert(rec.listLibraries().isEmpty)
    assert(rec.chunks.count() == 0L)
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
    val svc = new graft.search.SearchService(rec)
    val res = svc.search(lib.id, graft.model.SearchQuery(
      queryText = Some("alpha beta gamma"), k = 1))
    assert(res.toOption.get.results.head.chunk.text == "alpha beta gamma")
  }

  test("checkpoint rolls the segment and truncates; numbering continues") {
    val root = freshRoot()
    val cat = DurableCatalog.recover(spark, root)
    val lib = cat.createLibrary("roll", indexType = "exact").toOption.get
    val doc = cat.createDocument(lib.id, "d").toOption.get
    (0 until 20).foreach(i => assert(cat.createChunk(doc.id, s"chunk $i").isRight))
    assert(walFiles(root) == Seq(segment(root, 0).getFileName.toString))
    assert(seqs(cat) == (0L until 22L))

    cat.checkpoint()
    assert(walFiles(root).isEmpty && cat.wal.records().isEmpty)
    assertSameState(cat, DurableCatalog.recover(spark, root))

    // the next write opens a new segment named by its seq, past the fence
    cat.createChunk(doc.id, "after checkpoint").toOption.get
    assert(walFiles(root) == Seq(segment(root, 22).getFileName.toString))
    assert(seqs(cat) == Seq(22L))
    assertSameState(cat, DurableCatalog.recover(spark, root))

    // a second checkpoint rolls and truncates the new segment too
    cat.createChunk(doc.id, "before the second checkpoint").toOption.get
    cat.checkpoint()
    assert(walFiles(root).isEmpty)
    val rec = DurableCatalog.recover(spark, root)
    assertSameState(cat, rec)
    assert(chunkRows(rec).size == 22)
  }

  test("legacy commit files and an overlapping compacted segment replay once") {
    val src = DurableCatalog.recover(spark, freshRoot())
    val lib = src.createLibrary("legacy", indexType = "exact").toOption.get
    val doc = src.createDocument(lib.id, "d").toOption.get
    (0 until 10).foreach(i => assert(src.createChunk(doc.id, s"c$i").isRight))
    val records = src.wal.records()
    assert(records.size == 12)

    // the earlier layout: one JSON commit file per record, and a
    // compaction that crashed after writing its merged segment (seqs
    // 0..7) but before deleting the originals
    val root = freshRoot()
    val walDir = Files.createDirectories(Paths.get(root, "wal"))
    records.foreach { r =>
      Files.write(walDir.resolve(f"${r.get("seq").asLong()}%020d.json"), mapper.writeValueAsBytes(r))
    }
    val merged = mapper.createObjectNode()
    merged.putArray("batch").addAll(records.take(8).asJava)
    Files.write(walDir.resolve(f"${0}%020dc${7}%020d.json"), mapper.writeValueAsBytes(merged))

    // recovery must dedup by sequence: 12 mutations, not 20
    val rec = DurableCatalog.recover(spark, root)
    assertSameState(src, rec)
    assert(chunkRows(rec).size == 10)
    assert(rec.wal.records() == records)

    // appends against a legacy root continue its numbering in a segment
    rec.createChunk(doc.id, "post-legacy append").toOption.get
    assert(Files.exists(segment(root, 12)))
    assert(seqs(rec) == (0L to 12L))
    assertSameState(rec, DurableCatalog.recover(spark, root))

    // a leaked partial merge tmp (crash mid-write, pre-rename) is inert:
    // no ".json" suffix, so the reader never opens it
    Files.write(walDir.resolve("00000000000000000000c00000000000000000099.json.tmp"),
      "{ not even valid json".getBytes)
    assertSameState(rec, DurableCatalog.recover(spark, root))

    // a checkpoint truncates the legacy files with the segment
    rec.checkpoint()
    assert(walFiles(root) == Seq("00000000000000000000c00000000000000000099.json.tmp"))
    assertSameState(rec, DurableCatalog.recover(spark, root))
  }

  test("checkpoint races concurrent mutations without losing acknowledged writes") {
    val root = freshRoot()
    val cat = DurableCatalog.recover(spark, root)
    val lib = cat.createLibrary("race", indexType = "exact").toOption.get
    val doc = cat.createDocument(lib.id, "d").toOption.get

    val threads = 6
    val perThread = 20
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads + 1)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val checkpoints = new java.util.concurrent.atomic.AtomicInteger(0)
    try {
      // one thread checkpoints in a loop while the others mutate
      val checkpointer = pool.submit(new Runnable {
        def run(): Unit = while (!stop.get()) {
          cat.checkpoint(); checkpoints.incrementAndGet(); Thread.sleep(5)
        }
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
      checkpointer.get()
    } finally pool.shutdown()
    assert(checkpoints.get() > 0)

    // every acknowledged write must survive recovery, byte-identically
    val rec = DurableCatalog.recover(spark, root)
    assertSameState(cat, rec)
    assert(chunkRows(rec).size == threads * perThread)
    assert(seqs(rec) == (rec.wal.lastSeq - seqs(rec).size + 1 to rec.wal.lastSeq))
    assert(rec.wal.lastSeq == threads * perThread + 1)
  }

  /** Libraries, documents and chunk rows (embeddings as Seqs) of a catalog. */
  private case class LogState(libs: Seq[graft.model.LibraryRow],
      docs: Seq[Seq[graft.model.DocumentRow]], chunks: Seq[(ChunkRow, Option[Seq[Float]])])

  private def comparable(r: ChunkRow) = (r.copy(embedding = None), r.embedding.map(_.toSeq))

  private def logState(c: VectorCatalog): LogState = {
    val libs = c.listLibraries()
    LogState(libs, libs.map(l => c.listDocuments(l.id)), chunkRows(c).map(comparable))
  }

  /** A log of five records, a chunk delete among them, on a
    * 2-dimensional catalog, with the catalog state after each record. */
  private def smallLog(root: String): (VectorCatalog, Seq[LogState]) = {
    val cat = DurableCatalog.recover(spark, root, embeddingDim = 2)
    val states = scala.collection.mutable.ArrayBuffer(logState(cat))
    def write[A](op: Either[graft.model.ApiError, A]): A = {
      val a = op.toOption.get
      states += logState(cat)
      a
    }
    val lib = write(cat.createLibrary("torn", indexType = "exact"))
    val doc = write(cat.createDocument(lib.id, "d"))
    val c1 = write(cat.createChunk(doc.id, "one", embedding = Some(Array(0.1f, 0.2f))))
    write(cat.createChunk(doc.id, "two", Map("k" -> "v"), embedding = Some(Array(0.3f, -0.4f))))
    write(cat.deleteChunk(c1.id))
    (cat, states.toSeq)
  }

  test("truncating the segment at every byte offset recovers the acknowledged prefix") {
    val root = freshRoot()
    val (cat, states) = smallLog(root)
    val acked = cat.wal.records()
    val seg = segment(root, 0)
    val bytes = Files.readAllBytes(seg)
    val ends = frameEnds(bytes)
    assert(ends.size == acked.size && ends.last == bytes.length)
    for (cut <- 0 to bytes.length) {
      Files.write(seg, bytes.take(cut))
      val k = ends.count(_ <= cut)
      val want = states(k)
      val rec = DurableCatalog.recover(spark, root, embeddingDim = 2)
      assert(rec.wal.records() == acked.take(k), s"records after a cut at byte $cut")
      assert(rec.wal.lastSeq == k - 1)
      assert(rec.listLibraries() == want.libs, s"libraries after a cut at byte $cut")
      assert(want.libs.map(l => rec.listDocuments(l.id)) == want.docs, s"documents after a cut at byte $cut")
      want.chunks.foreach { case c @ (row, _) =>
        assert(rec.getChunk(row.id).map(comparable) == Right(c), s"chunk after a cut at byte $cut")
      }
      // the whole chunk table takes a Spark job: compare it once per prefix
      if (cut == 0 || ends.contains(cut)) assert(logState(rec) == want, s"state after a cut at byte $cut")
    }
  }

  test("a flipped byte in a non-final frame fails recovery loudly") {
    val root = freshRoot()
    val (cat, _) = smallLog(root)
    val seg = segment(root, 0)
    val bytes = Files.readAllBytes(seg)
    val ends = frameEnds(bytes)
    // every byte of every frame but the last: header and payload alike
    for (at <- 0 until ends.init.last) {
      Files.write(seg, bytes.updated(at, (bytes(at) ^ 0xff).toByte))
      val e = intercept[IllegalStateException](DurableCatalog.recover(spark, root, embeddingDim = 2))
      assert(e.getMessage.contains(seg.getFileName.toString) && e.getMessage.contains("byte"),
        s"flip at byte $at: ${e.getMessage}")
    }
    Files.write(seg, bytes)
    assertSameState(cat, DurableCatalog.recover(spark, root, embeddingDim = 2))
  }

  test("torn tail, restart, more writes: every ack recovers, seqs contiguous") {
    val root = freshRoot()
    val cat = DurableCatalog.recover(spark, root)
    val lib = cat.createLibrary("torn", indexType = "exact").toOption.get
    val doc = cat.createDocument(lib.id, "d").toOption.get
    val kept = (0 until 3).map(i => cat.createChunk(doc.id, s"kept $i").toOption.get)
    val torn = cat.createChunk(doc.id, "torn").toOption.get
    // a crash tears the last frame (seq 5)
    val seg0 = segment(root, 0)
    val bytes = Files.readAllBytes(seg0)
    Files.write(seg0, bytes.take(bytes.length - 5))

    val restarted = DurableCatalog.recover(spark, root)
    assert(restarted.wal.lastSeq == 4)
    assert(restarted.getChunk(torn.id).isLeft)
    val later = (0 until 3).map(i => restarted.createChunk(doc.id, s"later $i").toOption.get)
    assert(walFiles(root) == Seq(seg0, segment(root, 5)).map(_.getFileName.toString))
    assert(seqs(restarted) == (0L to 7L))
    assertSameState(restarted, DurableCatalog.recover(spark, root))
    // a lost segment leaves a gap in the sequence: recovery names it
    val aside = Paths.get(root, "segment-aside")
    Files.move(seg0, aside)
    val gap = intercept[IllegalStateException](DurableCatalog.recover(spark, root))
    assert(gap.getMessage.contains(segment(root, 5).getFileName.toString) && gap.getMessage.contains("seq 5"),
      gap.getMessage)
    Files.move(aside, seg0)

    // a second crash tears the first frame of a fresh segment: the
    // restarted writer takes its name over
    restarted.checkpoint()
    val lost = restarted.createChunk(doc.id, "lost").toOption.get
    Files.write(segment(root, 8), Files.readAllBytes(segment(root, 8)).take(3))
    val again = DurableCatalog.recover(spark, root)
    assert(again.wal.lastSeq == 7)
    val last = again.createChunk(doc.id, "last").toOption.get
    val rec = DurableCatalog.recover(spark, root)
    assertSameState(again, rec)
    assert(seqs(rec) == Seq(8L))
    assert(chunkRows(rec).map(_.id).toSet == (kept ++ later :+ last).map(_.id).toSet)
    assert(!chunkRows(rec).exists(c => c.id == torn.id || c.id == lost.id))
  }

  test("100 writes from one process leave one segment file and no .crc") {
    val root = freshRoot()
    val cat = DurableCatalog.recover(spark, root)
    val lib = cat.createLibrary("one-file", indexType = "exact").toOption.get
    val doc = cat.createDocument(lib.id, "d").toOption.get
    (0 until 98).foreach(i => assert(cat.createChunk(doc.id, s"chunk $i").isRight))
    assert(walFiles(root) == Seq(segment(root, 0).getFileName.toString))
    assert(seqs(cat) == (0L until 100L))
    assertSameState(cat, DurableCatalog.recover(spark, root))
  }

  test("a crash between the manifest's delete and its rename rolls forward on open") {
    val root = freshRoot()
    val cat = DurableCatalog.recover(spark, root)
    val lib = cat.createLibrary("manifest", indexType = "exact").toOption.get
    val doc = cat.createDocument(lib.id, "d").toOption.get
    cat.createChunk(doc.id, "before the first checkpoint").toOption.get
    cat.checkpoint()
    cat.createChunk(doc.id, "before the second checkpoint").toOption.get
    cat.checkpoint()
    val r = Paths.get(root)
    // a checkpoint replaces the manifest by one rename, with no checksum file
    assert(Seq("_manifest.json.tmp", "._manifest.json.crc").forall(n => !Files.exists(r.resolve(n))))
    // the window of roots written before that: the tmp manifest written,
    // the old manifest deleted, the rename not yet done
    Files.move(r.resolve("_manifest.json"), r.resolve("_manifest.json.tmp"))

    val rec = DurableCatalog.recover(spark, root)
    assertSameState(cat, rec)
    assert(chunkRows(rec).size == 2)
    assert(Files.exists(r.resolve("_manifest.json")) && !Files.exists(r.resolve("_manifest.json.tmp")))
  }

  test("a logged chunk of another embedding dimension fails recovery, naming its seq") {
    val root = freshRoot()
    val cat = DurableCatalog.recover(spark, root)
    val lib = cat.createLibrary("dim", indexType = "exact").toOption.get
    val doc = cat.createDocument(lib.id, "d").toOption.get
    cat.createChunk(doc.id, "a 64-dimensional chunk").toOption.get
    val e = intercept[IllegalStateException](DurableCatalog.recover(spark, root, embeddingDim = 32))
    assert(e.getMessage.contains("seq 2"), e.getMessage)
    assert(e.getCause.getMessage.contains("dimension 64"), e.getCause.getMessage)
    assertSameState(cat, DurableCatalog.recover(spark, root))
  }

  test("two writers opened on one root at the same state: the second fails loudly") {
    val root = freshRoot()
    val cat = DurableCatalog.recover(spark, root)
    val lib = cat.createLibrary("split", indexType = "exact").toOption.get
    val doc = cat.createDocument(lib.id, "d").toOption.get
    val a = DurableCatalog.recover(spark, root)
    val b = DurableCatalog.recover(spark, root)
    val kept = a.createChunk(doc.id, "first writer").toOption.get
    intercept[IllegalStateException](b.createChunk(doc.id, "second writer"))
    // and it stays failed: a later append never lands behind the loser's
    intercept[IllegalStateException](b.createChunk(doc.id, "second writer again"))
    val rec = DurableCatalog.recover(spark, root)
    assert(chunkRows(rec).map(_.id) == Seq(kept.id))
    assertSameState(a, rec)
  }

  test("two writers opened at different states: the stale one fails when it writes") {
    val root = freshRoot()
    val cat = DurableCatalog.recover(spark, root)
    val lib = cat.createLibrary("stale", indexType = "exact").toOption.get
    val doc = cat.createDocument(lib.id, "d").toOption.get
    // a opens at seq 1 and writes seq 2 in its segment; b opens after that
    val a = DurableCatalog.recover(spark, root)
    val a1 = a.createChunk(doc.id, "a at seq 2").toOption.get
    val b = DurableCatalog.recover(spark, root)
    assert(b.wal.lastSeq == 2)
    // a writes on, so b, which would number its write 3 as well, fails
    val a2 = a.createChunk(doc.id, "a at seq 3").toOption.get
    intercept[IllegalStateException](b.createChunk(doc.id, "b behind a"))
    // c opens at a's state and writes first, in a newer segment: a fails
    // on its next write and on a checkpoint, which would delete c's record
    val c = DurableCatalog.recover(spark, root)
    val c1 = c.createChunk(doc.id, "c at seq 4").toOption.get
    intercept[IllegalStateException](a.createChunk(doc.id, "a behind c"))
    intercept[IllegalStateException](a.checkpoint())
    // c's checkpoint deletes every segment; b is still behind its fence
    c.checkpoint()
    assert(walFiles(root).isEmpty)
    intercept[IllegalStateException](b.createChunk(doc.id, "b behind the fence"))
    val c2 = c.createChunk(doc.id, "c after its checkpoint").toOption.get
    val rec = DurableCatalog.recover(spark, root)
    assert(chunkRows(rec).map(_.id).toSet == Set(a1, a2, c1, c2).map(_.id))
    assert(rec.wal.lastSeq == 5)
    assertSameState(c, rec)
  }

  test("a second writer waits on the lock while the first one's new segment is empty") {
    val root = freshRoot()
    val cat = DurableCatalog.recover(spark, root)
    val lib = cat.createLibrary("empty", indexType = "exact").toOption.get
    val doc = cat.createDocument(lib.id, "d").toOption.get
    val a = DurableCatalog.recover(spark, root)
    val b = DurableCatalog.recover(spark, root)
    val created = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      // a inside an append: its segment created, its first frame not written
      val holder = pool.submit(new Runnable {
        def run(): Unit = a.wal.exclusively {
          Files.createFile(segment(root, 2))
          created.countDown()
          release.await()
        }
      })
      created.await()
      val second = pool.submit(new Callable[ChunkRow] {
        def call(): ChunkRow = b.createChunk(doc.id, "b").toOption.get
      })
      intercept[TimeoutException](second.get(300, TimeUnit.MILLISECONDS))
      assert(Files.exists(segment(root, 2)), "the second writer deleted a segment whose writer holds the lock")
      // a stops there without a frame: b then takes the empty segment over
      release.countDown()
      holder.get()
      val kept = second.get(60, TimeUnit.SECONDS)
      intercept[IllegalStateException](a.createChunk(doc.id, "a behind b"))
      val rec = DurableCatalog.recover(spark, root)
      assert(chunkRows(rec).map(_.id) == Seq(kept.id))
      assert(seqs(rec) == (0L to 2L))
    } finally {
      release.countDown()
      pool.shutdown()
    }
  }

  test("a rejected chunk create writes no WAL record and is absent after recover") {
    val root = freshRoot()
    val cat = DurableCatalog.recover(spark, root)
    val lib = cat.createLibrary("boundary", indexType = "exact").toOption.get
    val doc = cat.createDocument(lib.id, "d").toOption.get
    cat.createChunk(doc.id, "a valid chunk").toOption.get
    val before = cat.wal.records()

    val nan = Array.fill(cat.embeddingDim)(0.1f).updated(0, Float.NaN)
    assert(cat.createChunk(doc.id, "nan", embedding = Some(nan), id = Some("nan")).isLeft)
    assert(cat.createChunk(doc.id, "short", embedding = Some(Array(1f, 2f)), id = Some("short")).isLeft)
    assert(cat.wal.records() == before, "a rejected create was logged")

    val rec = DurableCatalog.recover(spark, root)
    assertSameState(cat, rec)
    assert(chunkRows(rec).map(_.text) == Seq("a valid chunk"))
  }

  test("a library's index type survives a checkpoint, and a snapshot without types still loads") {
    val root = freshRoot()
    val cat = DurableCatalog.recover(spark, root)
    val ivf = cat.createLibrary("untrained", indexType = "ivf").toOption.get
    val lsh = cat.createLibrary("hashed", indexType = "lsh").toOption.get
    for (lib <- Seq(ivf, lsh)) {
      val doc = cat.createDocument(lib.id, "d").toOption.get
      (0 until 3).foreach(i => assert(cat.createChunk(doc.id, s"chunk $i of ${lib.name}").isRight))
    }
    val q = graft.model.SearchQuery(queryText = Some("chunk 1"), k = 2)
    def hits(c: VectorCatalog) = new graft.search.SearchService(c).search(ivf.id, q).toOption.get.results.size
    // fewer chunks than ivfNlist: the IVF tier is untrained and answers nothing
    assert(hits(cat) == 0)
    cat.checkpoint()
    assert(walFiles(root).isEmpty)

    val rec = DurableCatalog.recover(spark, root)
    assert(rec.indexState(ivf.id).map(_.indexType) == Some(graft.catalog.IndexType.Ivf))
    assert(rec.indexState(lsh.id).map(_.indexType) == Some(graft.catalog.IndexType.Lsh))
    assert(hits(rec) == 0, "the recovered IVF library answered as exact")
    assertSameState(cat, rec)

    // a snapshot written before the type was kept: no index state, as then
    val snapshot = Files.list(Paths.get(root)).iterator().asScala.map(_.getFileName.toString)
      .find(_.startsWith("snapshot-")).get
    val libs = Paths.get(root, snapshot, "libraries")
    val untyped = Paths.get(root, "untyped-libraries")
    spark.read.parquet(libs.toString).drop("index_type").write.parquet(untyped.toString)
    org.apache.commons.io.FileUtils.deleteDirectory(libs.toFile)
    Files.move(untyped, libs)
    val old = DurableCatalog.recover(spark, root)
    assert(old.indexState(ivf.id).isEmpty && old.indexState(lsh.id).isEmpty)
    assertSameState(cat, old)
  }

  test("a built IVF library still answers after checkpoint and recover") {
    val root = freshRoot()
    val cat = DurableCatalog.recover(spark, root)
    val lib = cat.createLibrary("trained", indexType = "ivf").toOption.get
    val doc = cat.createDocument(lib.id, "d").toOption.get
    cat.createChunks(doc.id, (0 until graft.model.GraftConfig.ivfNlist).map(i => (s"chunk $i", Map.empty[String, String])))
    assert(cat.indexLibrary(lib.id, "ivf").isRight)
    val q = graft.model.SearchQuery(queryText = Some("chunk 7"), k = 5)
    def hits(c: VectorCatalog) = new graft.search.SearchService(c).search(lib.id, q).toOption.get.results.size
    assert(hits(cat) > 0)
    cat.checkpoint()

    val rec = DurableCatalog.recover(spark, root)
    assert(rec.getLibrary(lib.id).map(_.is_indexed) == Right(true))
    assert(hits(rec) == 5, "the recovered built library answered nothing")
    assertSameState(cat, rec)
  }

  test("a built IVF library still answers after a recovery from the WAL alone") {
    val root = freshRoot()
    val cat = DurableCatalog.recover(spark, root)
    val lib = cat.createLibrary("trained", indexType = "ivf").toOption.get
    val doc = cat.createDocument(lib.id, "d").toOption.get
    cat.createChunks(doc.id, (0 until graft.model.GraftConfig.ivfNlist).map(i => (s"chunk $i", Map.empty[String, String])))
    assert(cat.indexLibrary(lib.id, "ivf").isRight)
    val q = graft.model.SearchQuery(queryText = Some("chunk 7"), k = 5)
    def hits(c: VectorCatalog) = new graft.search.SearchService(c).search(lib.id, q).toOption.get.results.size
    assert(hits(cat) == 5)

    val rec = DurableCatalog.recover(spark, root)
    assert(hits(rec) == 5, "the recovered built library answered nothing")
    assert(rec.getLibrary(lib.id).map(_.is_indexed) == Right(true))
    assert(rec.indexState(lib.id).isEmpty, "a replayed build restored derived state")
    assertSameState(cat, rec)
    // the build is one lib_update record carrying its tier
    val build = cat.wal.records().last
    assert(build.get("op").asText == "lib_update" && build.get("index_type").asText == "ivf")
    assert(build.get("is_indexed").asBoolean)
  }

  test("an index type switch is logged, and recovers as a built library searched exact") {
    val root = freshRoot()
    val cat = DurableCatalog.recover(spark, root)
    val lib = cat.createLibrary("switched", indexType = "lsh").toOption.get
    val doc = cat.createDocument(lib.id, "d").toOption.get
    (0 until 4).foreach(i => cat.createChunk(doc.id, s"chunk $i"))
    assert(cat.indexLibrary(lib.id, "hnsw").isRight)
    assert(cat.indexState(lib.id).map(_.indexType) == Some(graft.catalog.IndexType.Hnsw))
    assert(cat.wal.records().last.get("index_type").asText == "hnsw")
    val rec = DurableCatalog.recover(spark, root)
    assert(rec.getLibrary(lib.id) == cat.getLibrary(lib.id))
    assert(rec.indexState(lib.id).isEmpty)
    assertSameState(cat, rec)
    val q = graft.model.SearchQuery(queryText = Some("chunk 2"), k = 4)
    assert(new graft.search.SearchService(rec).search(lib.id, q).toOption.get.results.size == 4)
  }

  test("a stale writer's failed write is neither logged nor visible") {
    val root = freshRoot()
    val cat = DurableCatalog.recover(spark, root)
    val lib = cat.createLibrary("stale", indexType = "exact").toOption.get
    val doc = cat.createDocument(lib.id, "d").toOption.get
    val a = DurableCatalog.recover(spark, root)
    val b = DurableCatalog.recover(spark, root)
    a.createChunk(doc.id, "first writer").toOption.get
    val logged = a.wal.records()
    intercept[IllegalStateException](b.createChunk(doc.id, "stale chunk", id = Some("stale")))
    assert(b.getChunk("stale").isLeft, "the failed chunk create is visible")
    intercept[IllegalStateException](b.createLibrary("stale lib", indexType = "exact", id = Some("stale-lib")))
    assert(b.getLibrary("stale-lib").isLeft, "the failed library create is visible")
    intercept[IllegalStateException](b.deleteDocument(doc.id))
    assert(b.getDocument(doc.id).isRight, "the failed document delete is visible")
    assert(b.wal.records() == logged, "a failed write was logged")
    val rec = DurableCatalog.recover(spark, root)
    assertSameState(a, rec)
  }

  test("a write through VectorDb.catalog on a durable facade is logged and recovers") {
    val root = freshRoot()
    val db = new graft.api.VectorDb(spark, durableRoot = Some(root))
    val lib = db.createLibrary("direct", indexType = "exact").toOption.get
    val doc = db.createDocument(lib.id, "d").toOption.get
    val row = db.catalog.createChunk(doc.id, "written through the catalog").toOption.get
    assert(db.catalog.wal.records().last.get("op").asText == "chunk_put")

    val db2 = new graft.api.VectorDb(spark, durableRoot = Some(root))
    assert(db2.getChunk(row.id).map(_.text) == Right("written through the catalog"))
    assertSameState(db.catalog, db2.catalog)
  }

  test("each WAL op keeps its op string and its field names") {
    val cat = DurableCatalog.recover(spark, freshRoot())
    val lib = cat.createLibrary("format", Some("desc"), Map("k" -> "v"), "ivf").toOption.get
    cat.updateLibrary(lib.id, name = Some("format2")).toOption.get
    val doc = cat.createDocument(lib.id, "d", Some("desc"), Map("k" -> "v")).toOption.get
    val chunk = cat.createChunk(doc.id, "text", Map("k" -> "v")).toOption.get
    cat.deleteChunk(chunk.id).toOption.get
    cat.deleteDocument(doc.id).toOption.get
    cat.deleteLibrary(lib.id).toOption.get

    def fields(n: com.fasterxml.jackson.databind.JsonNode): Seq[String] = n.fieldNames().asScala.toSeq
    val libFields = Seq("id", "name", "description")
    val stamps = Seq("created_at", "updated_at")
    val want = Seq(
      "lib_create" -> (Seq("op") ++ libFields ++ Seq("index_type", "metadata", "is_indexed") ++ stamps :+ "seq"),
      "lib_update" -> (Seq("op") ++ libFields ++ Seq("metadata", "is_indexed") ++ stamps :+ "seq"),
      "doc_put" -> (Seq("op", "id", "library_id", "name", "description", "metadata") ++ stamps :+ "seq"),
      "chunk_put" -> Seq("op", "chunks", "seq"),
      "chunk_delete" -> Seq("op", "id", "seq"),
      "doc_delete" -> Seq("op", "id", "seq"),
      "lib_delete" -> Seq("op", "id", "seq"))
    val records = cat.wal.records()
    assert(records.map(_.get("op").asText) == want.map(_._1))
    records.zip(want).foreach { case (r, (op, names)) => assert(fields(r) == names, op) }
    assert(records.head.get("index_type").asText == "ivf")
    val logged = records(3).get("chunks")
    assert(logged.size == 1)
    assert(fields(logged.get(0)) ==
      Seq("id", "document_id", "library_id", "text", "embedding", "metadata") ++ stamps)
  }
}
