package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // volume-derived shuffle width, same rule as Bench (results are
    // partition-count independent — the oracle board pins that)
    val spark = GraftSession.local(sfDir)
    dump(spark, sfDir, outDir)
    spark.stop()
  }

  /** Write every selected query's result (all of them unless
    * `SPARK_GRAFT_ONLY` narrows the set) to `outDir/<name>` and the
    * matching oracle SQL to `outDir/oracle_sql.json`. A failing query is
    * reported on stderr and counted; the dump goes on. Returns the number
    * of failed queries.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String): Int = {
    new java.io.File(outDir).mkdirs()
    val only = SparkEntry.onlyQueries
    var failed = 0
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      Persisted.unpersistAll()   // release operator-persisted intermediates
      spark.catalog.clearCache() // and anything else cached
    }
    // filter the oracle dump by the same SPARK_GRAFT_ONLY set: a targeted
    // local check should exit 0 on success instead of FAILing every
    // unselected query with "no spark output" (driver runs unfiltered)
    val json = SparkEntry.oracleSql
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    failed
  }

  /** JSON string literal: escapes backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
