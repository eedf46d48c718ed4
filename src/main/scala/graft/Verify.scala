package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // local-iteration filter: SPARK_GRAFT_ONLY=q1,q2 dumps just those
    // queries (the driver never sets it)
    val only = SparkEntry.selectOnly(sys.env.get("SPARK_GRAFT_ONLY"))
    val spark = GraftSession.build(GraftSession.bench())
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries persist intermediates (shingle tables, shredded roots);
      // drop them between queries so 45 runs don't accumulate cache
      spark.catalog.clearCache()
    }
    // ST1 smoke now runs INSIDE the query loop as the `st1_smoke` entry
    // (Ingest.st1Smoke): the pass bit lands in the dump as a 1-row
    // relation against a constant oracle, so the driver's correctness
    // record carries the streaming row instead of a stdout-only line.
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Caches.invalidate(spark)
    spark.stop()
  }
}
