package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Optional
  * trailing args restrict to the named queries (local iteration /
  * scale-probe reruns — mirrors validate.py's subset form). */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val only = args.drop(2).toSet
    val spark = GraftSession.builder(GraftSession.cpus(4)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Manifest FIRST (before any query runs): the self-produced
    // correctness artifact (validate.py --json) cross-checks its entry
    // set against this list, so a query that crashes mid-run — or a
    // round artifact that comes back empty, like CORRECTNESS_r13.json's
    // literal {} — is a loud count mismatch, never a silent omission.
    val selected = SparkEntry.allQueries.filter(q => only.isEmpty || only(q.name))
    Files.writeString(Paths.get(s"$outDir/queries.txt"),
      selected.map(_.name).mkString("", "\n", "\n"))
    selected.foreach { q =>
      try q.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // dir-aware: generated oracles (centroid/hyperplane literal replays)
    // are emitted for the dir THIS run verified, so scale legs (sf1
    // probes) get correctly-sized replays too
    val json = SparkEntry.oracleSqlFor(spark, sfDir)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
