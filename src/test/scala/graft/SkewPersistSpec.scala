package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.catalog.VectorCatalog

/** Approximate distinct counts + full catalog persistence round-trip. */
class SkewPersistSpec extends SparkSpec {
  import spark.implicits._

  test("approx_count_distinct within 5% of exact on lineitem keys") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val row = li.agg(
      countDistinct(col("l_orderkey")).as("exact"),
      approx_count_distinct(col("l_orderkey"), 0.02).as("approx")).collect()(0)
    val (exact, approx) = (row.getLong(0), row.getLong(1))
    assert(math.abs(approx - exact).toDouble / exact < 0.05)
  }

  test("catalog save/load round-trip preserves entities and chunks") {
    val dir = Files.createTempDirectory("graft-catalog").toString
    val cat = new VectorCatalog(spark)
    val lib = cat.createLibrary("L", Some("d"), Map("a" -> "b")).toOption.get
    val doc = cat.createDocument(lib.id, "D").toOption.get
    cat.createChunks(doc.id, Seq(
      ("alpha beta", Map("t" -> "1")), ("gamma delta", Map("t" -> "2"))))
    cat.save(dir)

    val cat2 = new VectorCatalog(spark)
    cat2.load(dir)
    assert(cat2.getLibrary(lib.id).toOption.get.metadata == Map("a" -> "b"))
    assert(cat2.getDocument(doc.id).toOption.get.library_id == lib.id)
    assert(cat2.chunks.count() == 2)
    assert(cat2.chunks.columns.toSeq == graft.model.Schemas.chunks.fieldNames.toSeq)
    // loaded chunks searchable end-to-end
    val svc = new graft.search.SearchService(cat2)
    val resp = svc.search(lib.id,
      graft.model.SearchQuery(queryText = Some("alpha"), k = 1)).toOption.get
    assert(resp.results.head.chunk.text == "alpha beta")
  }
}
