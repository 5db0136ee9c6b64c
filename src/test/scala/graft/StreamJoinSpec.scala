package graft

/** Stream-static near-dup flagging, differentially tested against the
  * batch incremental minhash pairs. */
class StreamJoinSpec extends SparkSpec {
  import spark.implicits._

  test("stream-static near-dup flag mirrors incremental minhash candidates") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog while it is raining today"
    val corpus = Seq((10L, base),
        (11L, "an established corpus document about catalyst optimizer rules"))
      .toDF("doc_id", "text")
    val corpusBanded = graft.operators.Dedup
      .minHashBanded(corpus, "doc_id", "text", shingleSize = 2, bands = 32)
      .cache()
    corpusBanded.count() // the index is built once, looked up per batch

    val in = MemoryStream[(Long, String)]
    val flagged = graft.streaming.CorpusStream.nearDupFlagStream(
      in.toDF().toDF("doc_id", "text"), corpusBanded,
      "doc_id", "text", shingleSize = 2, bands = 32)
    val q = flagged.writeStream.outputMode("append")
      .format("memory").queryName("neardup_flags").start()
    val got = try {
      in.addData(
        (20L, base.replace("lazy", "sleepy")), // near dup of corpus 10
        (21L, "totally new content with no counterpart in the corpus at all"))
      q.processAllAvailable()
      spark.sql("SELECT DISTINCT id, corpus_id FROM neardup_flags")
        .as[(Long, Long)].collect().toSet
    } finally q.stop()
    assert(got.contains((20L, 10L)))        // near dup flagged
    assert(!got.exists(_._1 == 21L))        // unique doc silent
    // differential: same candidates as the batch incremental pair path
    val batchPairs = graft.operators.Dedup.incrementalMinHashPairs(
        corpus, Seq((20L, base.replace("lazy", "sleepy")),
          (21L, "totally new content with no counterpart in the corpus at all"))
          .toDF("doc_id", "text"),
        "doc_id", "text", shingleSize = 2, bands = 32, minJaccard = 0.5)
      .select("id_b", "id_a").as[(Long, Long)].collect().toSet
    assert(batchPairs == got.filter { case (_, c) => c >= 10L && c < 20L })
  }
}
