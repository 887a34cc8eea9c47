package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.get()
    new java.io.File(outDir).mkdirs()
    // dev aid (mirrors Bench): SPARK_GRAFT_ONLY=q116,q57 restricts the
    // dump to exact names (q11* for a prefix family); unset (the
    // driver's case) runs all
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries
      .filter { case (name, _) =>
        only.forall(GraftSession.nameSelected(name, _)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case scala.util.control.NonFatal(e) =>
        // NonFatal only: an OOM/LinkageError must abort the run loudly,
        // not be logged as one more missing query
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      spark.catalog.clearCache() // release untracked per-query caches
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
    // static mirrors + the data-dependent ones (ANN planes/centroids) —
    // generated HERE so the driver's DuckDB pass replays the exact
    // literals this run's Spark queries used
    val dynamic =
      try SparkEntry.oracleSqlDynamic(spark, sfDir)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] dynamic oracle generation failed: ${e.getMessage}")
        Map.empty[String, String]
      }
    val json = (SparkEntry.oracleSql ++ dynamic)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
