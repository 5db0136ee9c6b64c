package perfbench

/** Every reported metric with its unit, in report order (BENCHMARK.json names the same set). */
object Units {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "search_p50_ms" -> "ms",
    "ops_per_s" -> "1/s",
    "recall_at_10" -> "fraction",
    "retained_heap_mb" -> "MB")

  val perLayer: Seq[(String, String)] = {
    val all = ServeBench.IndexTypes
    val ann = ServeBench.AnnTypes
    all.map(t => s"api.http_ms.$t" -> "ms") ++
      all.map(t => s"search.facade_ms.$t" -> "ms") ++
      all.map(t => s"spark.jobs_per_req.$t" -> "count") ++
      all.map(t => s"spark.tasks_per_req.$t" -> "count") ++
      all.map(t => s"spark.job_ms_per_req.$t" -> "ms") ++
      all.map(t => s"spark.driver_ms_per_req.$t" -> "ms") ++
      ann.map(t => s"index.candidates_ms.$t" -> "ms") ++
      ann.map(t => s"index.candidates_per_req.$t" -> "count") ++
      ann.map(t => s"index.recall_at_10.$t" -> "fraction") ++
      Seq(
        "api.encode_ms" -> "ms",
        "functions.embed_ms" -> "ms",
        "catalog.view_ms" -> "ms",
        "api.writes" -> "count",
        "api.create_ms" -> "ms",
        "api.update_ms" -> "ms",
        "api.delete_ms" -> "ms",
        "catalog.jobs_per_write" -> "count",
        "catalog.compactions" -> "count",
        "catalog.compaction_write_ms" -> "ms",
        "catalog.wal_files_per_write" -> "count",
        "catalog.wal_bytes_per_write" -> "B",
        "catalog.recover_s" -> "s",
        "api.malformed_sent" -> "count",
        "api.malformed_4xx" -> "count",
        "trace.overhead_ms" -> "ms")
  }
}
