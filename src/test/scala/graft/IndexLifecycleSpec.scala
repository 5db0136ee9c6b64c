package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.catalog.{IndexState, IndexType, ResidentIndex, VectorCatalog}
import graft.functions.GraftFunctions
import graft.model.{ApiError, ChunkRow, SearchQuery, SearchResponse}
import graft.search.SearchService

/**
 * One index lifecycle: a build is a refresh from the tier's empty
 * state, every derived table reconciles on (id, emb_hash), and a
 * restored table keeps its emb_hash, so a refresh after save and load
 * derives the same rows as one without them. Every tier's save and
 * load reproduce its replies, and a state the catalog replaces or drops
 * gives its cached table back. A resident library derives on the
 * driver with no Spark job and the Spark derivation's bits.
 */
class IndexLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private val tiers = Seq("exact", "lsh", "ivf", "hnsw", "ivfpq", "binary")

  /** A library of `n` embedded chunks in one document, indexed as `indexType`. */
  private def library(cat: VectorCatalog, indexType: String, n: Int): (String, Seq[ChunkRow]) = {
    val lib = cat.createLibrary(s"L-$indexType", indexType = indexType).toOption.get
    val doc = cat.createDocument(lib.id, "D").toOption.get
    val rows = cat.createChunks(doc.id, (1 to n).map(i =>
      (s"chunk $i about topic${i % 7} and word${i % 11}", Map.empty[String, String]))).toOption.get
    assert(cat.indexLibrary(lib.id, indexType).isRight)
    (lib.id, rows)
  }

  /** `df`'s rows over `cols`, as a multiset. */
  private def bag(df: DataFrame, cols: Seq[String]): Map[Seq[Any], Int] =
    df.select(cols.map(col): _*).collect().toSeq.map(_.toSeq).groupBy(identity)
      .map { case (r, rs) => r -> rs.size }

  test("a re-embedded chunk's LSH buckets and IVF-PQ codes follow it through save, load and refresh") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lifecycle").toString
    val cat = new VectorCatalog(spark)
    val (lsh, lshRows) = library(cat, "lsh", 30)
    val (pq, pqRows) = library(cat, "ivfpq", 120)
    cat.save(dir); cat.saveIndexes(dir)

    val restored = new VectorCatalog(spark)
    restored.load(dir)
    Seq(lsh, pq).foreach(id => assert(restored.loadIndex(dir, id).isRight))
    val lshChunk = restored.updateChunk(lshRows.head.id,
      text = Some("a wholly new subject: deep sea biology")).toOption.get
    val pqChunk = restored.updateChunk(pqRows.head.id,
      text = Some("completely different words on astronomy")).toOption.get
    Seq(lsh, pq).foreach(id => assert(restored.refreshIndex(id).isRight))

    val lshState = restored.indexState(lsh).get
    val buckets = lshState.signatures.get.filter($"id" === lshChunk.id)
      .select("bucket").as[Long].collect().sorted.toSeq
    assert(buckets == lshState.lsh.get.bucketsOf(lshChunk.embedding.get).sorted.toSeq,
      "restored LSH signatures must follow the new embedding")

    val pqState = restored.indexState(pq).get.ivfpq.get
    val got = pqState.encoded.filter($"id" === pqChunk.id).select("cluster_id", "codes")
      .collect().map(_.toSeq).toSeq
    val want = pqState.coded.encode(Seq((pqChunk.id, pqChunk.embedding.get)).toDF("id", "embedding"),
      "id", "embedding").select("cluster_id", "codes").collect().map(_.toSeq).toSeq
    assert(got == want, "restored IVF-PQ codes must follow the new embedding")
  }

  test("refresh after creates, re-embedding updates and deletes derives what the model derives from the corpus") {
    val cat = new VectorCatalog(spark)
    for (t <- Seq("lsh", "binary", "ivf", "ivfpq")) {
      val (lib, rows) = library(cat, t, 120)
      cat.createChunks(rows.head.document_id,
        (1 to 5).map(i => (s"a new arrival $i on rivers", Map.empty[String, String])))
      rows.take(3).foreach(r => cat.updateChunk(r.id, text = Some(s"rewritten text ${r.id}")))
      rows.slice(3, 6).foreach(r => assert(cat.deleteChunk(r.id).isRight))
      val st = cat.refreshIndex(lib).toOption.get
      assert(!cat.indexStale(lib), t)

      val corpus = cat.chunksByLibrary(lib).filter($"embedding".isNotNull)
      val (table, expected, cols) = t match {
        case "lsh" => (st.signatures.get, st.lsh.get.build(corpus, "id", "embedding"),
          Seq("id", "bucket", "emb_hash"))
        case "binary" => (st.signatures.get, corpus.select($"id",
          GraftFunctions.sign_bits($"embedding").as("sig"), xxhash64($"embedding").as("emb_hash")),
          Seq("id", "sig", "emb_hash"))
        case "ivf" => (st.assigned.get, st.ivf.get.assign(corpus, "embedding")
          .withColumn("emb_hash", xxhash64($"embedding")),
          Seq("id", "cluster_id", "emb_hash"))
        case "ivfpq" => (st.ivfpq.get.encoded,
          st.ivfpq.get.coded.encode(corpus, "id", "embedding"),
          Seq("id", "cluster_id", "codes", "emb_hash"))
      }
      assert(bag(table, cols) == bag(expected, cols), s"$t: refreshed rows differ from a derivation")
      assert(table.select("id").distinct().count() == 122, t)
    }
  }

  test("indexLibrary runs no more jobs than before, and an HNSW rebuild-refresh runs fewer") {
    // Jobs measured on this test's fixture with the code before builds
    // and refreshes shared one derivation (commit 3cfead5):
    // indexLibrary exact 0, lsh 5, ivf 11, hnsw 3, ivfpq 13, binary 5;
    // an HNSW refresh that rebuilds 4.
    val before = Map("exact" -> 0, "lsh" -> 5, "ivf" -> 11, "hnsw" -> 3, "ivfpq" -> 13, "binary" -> 5)
    val cat = new VectorCatalog(spark)
    val measured = tiers.map { t =>
      val lib = cat.createLibrary(s"J-$t", indexType = t).toOption.get
      val doc = cat.createDocument(lib.id, "D").toOption.get
      cat.createChunks(doc.id, (1 to 120).map(i => (s"job probe $i word${i % 13}", Map.empty[String, String])))
      t -> jobsStarted(assert(cat.indexLibrary(lib.id, t).isRight))
    }.toMap
    info(s"indexLibrary jobs: $measured")
    tiers.foreach(t => assert(measured(t) <= before(t), s"$t: ${measured(t)} jobs > ${before(t)}"))

    val (hnsw, rows) = library(cat, "hnsw", 40)
    cat.updateChunk(rows.head.id, text = Some("a re-embedding update forces a rebuild"))
    val rebuild = jobsStarted(assert(cat.refreshIndex(hnsw).isRight))
    info(s"hnsw rebuild-refresh jobs: $rebuild")
    assert(rebuild <= 4 - 1)
  }

  /** A reply as its ids, in order, with the bits of both scores. */
  private def bits(r: Either[_, SearchResponse]): Seq[(String, Long, Long)] =
    r.toOption.get.results.map(x => (x.chunk.id, java.lang.Double.doubleToRawLongBits(x.similarityScore),
      java.lang.Double.doubleToRawLongBits(x.distance)))

  test("every tier's save and load reproduce its replies on both read paths") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tier-rt").toString
    val cat = new VectorCatalog(spark)
    val libs = IndexType.all.map(t => t.name -> library(cat, t.name, 120)._1)
    val queries = Seq(SearchQuery(queryText = Some("topic3 and word5"), k = 5),
      SearchQuery(queryText = Some("chunk 17 about topic1"), k = 10),
      SearchQuery(queryText = Some("word9 word2"), k = 1),
      SearchQuery(queryEmbedding = Some(cat.embedder.embedOne("topic6 word10")), k = 20))
    def replies(c: VectorCatalog): Map[String, Seq[Seq[(String, Long, Long)]]] = {
      val svc = new SearchService(c)
      libs.map { case (t, lib) =>
        t -> queries.flatMap(q => Seq(bits(svc.search(lib, q)), bits(svc.sparkSearch(lib, q))))
      }.toMap
    }
    val want = replies(cat)
    assert(want.values.flatten.forall(_.nonEmpty))
    cat.save(dir); cat.saveIndexes(dir)

    val restored = new VectorCatalog(spark)
    restored.load(dir)
    libs.foreach { case (t, lib) =>
      assert(restored.loadIndex(dir, lib).toOption.get.indexType.name == t, t)
    }
    val got = replies(restored)
    libs.foreach { case (t, _) => assert(got(t) == want(t), s"$t: replies differ after save and load") }
  }

  test("re-indexing and deleting a library releases every cached table it built") {
    // the Spark form caches each table it derives; the driver form of a
    // resident library caches none
    val sc = spark.sparkContext
    for (onDriver <- Seq(false, true)) {
      val cat = new VectorCatalog(spark, driverDerivation = onDriver)
      val lib = cat.createLibrary("released", indexType = "lsh").toOption.get
      val doc = cat.createDocument(lib.id, "D").toOption.get
      cat.createChunks(doc.id, (1 to 120).map(i => (s"cached table $i word${i % 9}", Map.empty[String, String])))
      val before = sc.getPersistentRDDs.size
      for (_ <- 1 to 4; t <- Seq("lsh", "binary", "ivf")) assert(cat.indexLibrary(lib.id, t).isRight, t)
      assert(sc.getPersistentRDDs.size == before + (if (onDriver) 0 else 1),
        "only the current state's table stays cached")
      assert(cat.deleteLibrary(lib.id).isRight)
      assert(sc.getPersistentRDDs.size == before)
    }
  }

  test("a resident library is indexed and first searched with zero Spark jobs on every tier") {
    val cat = new VectorCatalog(spark)
    val svc = new SearchService(cat)
    val libs = tiers.map { t =>
      val lib = cat.createLibrary(s"Z-$t", indexType = t).toOption.get
      val doc = cat.createDocument(lib.id, "D").toOption.get
      cat.createChunks(doc.id, (1 to 120).map(i => (s"zero jobs $i word${i % 13}", Map.empty[String, String])))
      t -> lib.id
    }
    cat.compact()
    val q = SearchQuery(queryText = Some("zero jobs word7"), k = 10)
    libs.foreach { case (t, lib) =>
      assert(jobsStarted(assert(cat.indexLibrary(lib, t).isRight)) == 0, s"$t: indexLibrary ran a job")
      var reply: Either[ApiError, SearchResponse] = null
      assert(jobsStarted { reply = svc.search(lib, q) } == 0, s"$t: the first search ran a job")
      assert(bits(reply).nonEmpty && bits(reply) == bits(svc.sparkSearch(lib, q)), t)
    }
  }

  /** `s`'s model, as comparable values with the bits of every float. */
  private def model(s: IndexState): Seq[Any] = {
    def bits(m: Array[Array[Float]]): Seq[Seq[Int]] = m.toSeq.map(_.toSeq.map(java.lang.Float.floatToRawIntBits))
    Seq(s.lsh, s.ivf.map(m => bits(m.centroids)), s.sigCount,
      s.ivfpq.map(p => (bits(p.coded.ivf.centroids), p.coded.pq.codebooks.toSeq.map(bits))),
      s.hnsw.map(h => (h.chunkIds.toSeq, h.embHashes.toSeq, h.graph.size)))
  }

  /** `s`'s derived table as a multiset of rows. */
  private def tableBag(s: IndexState): Map[Seq[Any], Int] = {
    val t = Seq(s.signatures, s.assigned, s.ivfpq.map(_.encoded)).flatten
    t.headOption.fold(Map.empty[Seq[Any], Int])(df => bag(df, df.columns.toSeq))
  }

  /** `s`'s driver copy, in an order-free form (every probe of it is). */
  private def copy(s: IndexState): Option[Any] = s.resident.map {
    case ResidentIndex.Buckets(m) => m.map { case (b, ids) => b -> ids.sorted.toSeq }
    case ResidentIndex.Cells(m) => m.map { case (c, ids) => c -> ids.sorted.toSeq }
    case ResidentIndex.Codes(c) => c.ids.indices.map(i => (c.ids(i), c.cells(i), c.codes(i).toSeq)).sortBy(_._1)
    case ResidentIndex.Sigs(ids, sigs) => ids.indices.map(i => (ids(i), sigs(i).toLongArray().toSeq)).sortBy(_._1)
  }

  test("the driver derivation of a resident library gives the Spark derivation's bits, at build and after refresh") {
    // two catalogs fed the same operations with the same ids: one
    // derives on the driver, the other takes every tier's Spark form
    val driver = new VectorCatalog(spark)
    val reference = new VectorCatalog(spark, driverDerivation = false)
    val cats = Seq(driver, reference)
    val ann = Seq("lsh", "ivf", "hnsw", "ivfpq", "binary")
    def each(f: VectorCatalog => Any): Unit = cats.foreach(f)
    ann.foreach { t =>
      each { c =>
        c.createLibrary(s"D-$t", indexType = t, id = Some(s"lib-$t"))
        c.createDocument(s"lib-$t", "D", id = Some(s"doc-$t"))
      }
      // 140 single creates: the catalog folds every 64 mutations
      (0 until 140).foreach(i => each(_.createChunk(s"doc-$t",
        s"differential $i about topic${i % 7} and word${i % 11}", id = Some(f"$t-$i%04d"))))
    }
    def mutate(round: Int): Unit = ann.foreach { t =>
      (0 until 4).foreach(i => each(_.deleteChunk(f"$t-${round * 10 + i}%04d")))
      (4 until 7).foreach(i => each(_.updateChunk(f"$t-${round * 10 + i}%04d", text = Some(s"rewritten $round $i"))))
      (0 until 5).foreach(i => each(_.createChunk(s"doc-$t", s"late $round arrival $i on rivers",
        id = Some(f"$t-new-$round-$i"))))
    }
    // admitted now, the libraries are carried through the next fold:
    // the driver form trains on the carried rows
    each(c => ann.foreach(t => assert(c.residentView(s"lib-$t").isDefined)))
    mutate(0)
    each(_.compact())
    mutate(1) // tombstones and buffered upserts over the folded base
    val queries = Seq(SearchQuery(queryText = Some("topic3 and word5"), k = 5),
      SearchQuery(queryText = Some("late arrival on rivers"), k = 10),
      SearchQuery(queryEmbedding = Some(driver.embedder.embedOne("word9 topic2")), k = 20))
    def compare(t: String, when: String): Unit = {
      val lib = s"lib-$t"
      val Seq(d, s) = cats.map(_.indexState(lib).get)
      assert(d.resident.isDefined == (t != "hnsw") && s.resident.isDefined == d.resident.isDefined, s"$t $when")
      assert(model(d) == model(s), s"$t $when: models differ")
      assert(tableBag(d) == tableBag(s), s"$t $when: tables differ")
      assert(copy(d) == copy(s), s"$t $when: driver copies differ")
      val replies = cats.flatMap { c =>
        val svc = new SearchService(c)
        Seq(queries.map(q => bits(svc.search(lib, q))), queries.map(q => bits(svc.sparkSearch(lib, q))))
      }
      assert(replies.forall(_ == replies.head) && replies.head.exists(_.nonEmpty), s"$t $when: replies differ")
    }
    ann.foreach { t =>
      each(c => assert(c.indexLibrary(s"lib-$t", t).isRight, t))
      compare(t, "at build")
    }
    mutate(2)
    each(_.compact())
    mutate(3)
    ann.foreach { t =>
      each(c => assert(c.refreshIndex(s"lib-$t").isRight, t))
      compare(t, "after refresh")
    }
  }

  test("an untrained IVF or IVF-PQ library and an empty HNSW library save and load their tier") {
    val dir = java.nio.file.Files.createTempDirectory("graft-empty-tiers").toString
    val cat = new VectorCatalog(spark)
    val libs = Seq("ivf" -> library(cat, "ivf", 10)._1, "ivfpq" -> library(cat, "ivfpq", 10)._1) :+ {
      val lib = cat.createLibrary("L-empty-hnsw", indexType = "hnsw").toOption.get.id
      assert(cat.indexLibrary(lib, "hnsw").isRight)
      "hnsw" -> lib
    }
    val queries = Seq(SearchQuery(queryText = Some("topic3 and word5"), k = 5),
      SearchQuery(queryEmbedding = Some(cat.embedder.embedOne("chunk 4")), k = 10))
    def replies(c: VectorCatalog): Map[String, Seq[Seq[(String, Long, Long)]]] = {
      val svc = new SearchService(c)
      libs.map { case (t, lib) =>
        t -> queries.flatMap(q => Seq(bits(svc.search(lib, q)), bits(svc.sparkSearch(lib, q))))
      }.toMap
    }
    val want = replies(cat)
    // an untrained IVF tier returns nothing; an empty library has nothing
    assert(want.values.flatten.forall(_.isEmpty))
    cat.save(dir); cat.saveIndexes(dir)

    val restored = new VectorCatalog(spark)
    restored.load(dir)
    libs.foreach { case (t, lib) =>
      val st = restored.loadIndex(dir, lib)
      assert(st.toOption.map(_.indexType.name).contains(t), s"$t: $st")
    }
    assert(replies(restored) == want)
  }
}
