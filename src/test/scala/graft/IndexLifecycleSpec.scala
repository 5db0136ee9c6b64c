package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.catalog.{IndexType, VectorCatalog}
import graft.functions.GraftFunctions
import graft.model.{ChunkRow, SearchQuery, SearchResponse}
import graft.search.SearchService

/**
 * One index lifecycle: a build is a refresh from the tier's empty
 * state, every derived table reconciles on (id, emb_hash), and a
 * restored table keeps its emb_hash, so a refresh after save and load
 * derives the same rows as one without them. Every tier's save and
 * load reproduce its replies, and a state the catalog replaces or drops
 * gives its cached table back.
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

  /** Spark jobs `body` starts on this thread. */
  private def jobs(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"lifecycle-${System.nanoTime()}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "index lifecycle probe")
    try { body; Bridge.waitListenerBus(sc); n.get }
    finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
  }

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
          Seq("id", "embedding", "cluster_id", "emb_hash"))
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
      t -> jobs(assert(cat.indexLibrary(lib.id, t).isRight))
    }.toMap
    info(s"indexLibrary jobs: $measured")
    tiers.foreach(t => assert(measured(t) <= before(t), s"$t: ${measured(t)} jobs > ${before(t)}"))

    val (hnsw, rows) = library(cat, "hnsw", 40)
    cat.updateChunk(rows.head.id, text = Some("a re-embedding update forces a rebuild"))
    val rebuild = jobs(assert(cat.refreshIndex(hnsw).isRight))
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
    val sc = spark.sparkContext
    val cat = new VectorCatalog(spark)
    val lib = cat.createLibrary("released", indexType = "lsh").toOption.get
    val doc = cat.createDocument(lib.id, "D").toOption.get
    cat.createChunks(doc.id, (1 to 120).map(i => (s"cached table $i word${i % 9}", Map.empty[String, String])))
    val before = sc.getPersistentRDDs.size
    for (_ <- 1 to 4; t <- Seq("lsh", "binary", "ivf")) assert(cat.indexLibrary(lib.id, t).isRight, t)
    assert(sc.getPersistentRDDs.size == before + 1, "only the current state's table stays cached")
    assert(cat.deleteLibrary(lib.id).isRight)
    assert(sc.getPersistentRDDs.size == before)
  }
}
