package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Graft.localSession()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // evict per query: operators that cache-and-return (prepared
      // shingles, CC labels, checkpoint blocks) would otherwise
      // accumulate storage across the 100+ query session
      Graft.evictAll(spark)
    }
    writeOracleSql(outDir, SparkEntry.oracleSql)
    spark.stop()
  }

  /** Writes `oracles` (query name → DuckDB SQL) to `outDir/oracle_sql.json`.
    * `Json.str` escapes quote, backslash and every control char (<0x20):
    * one tab or CR left raw in an oracle's SQL would make the oracle
    * compare's JSON parse fail, and every query would read as wrong.
    */
  private[graft] def writeOracleSql(outDir: String, oracles: Iterable[(String, String)]): Unit =
    Files.writeString(Paths.get(outDir, "oracle_sql.json"), oracles
      .map { case (k, v) => s"${api.Json.str(k)}: ${api.Json.str(v)}" }.mkString("{", ",", "}"))
}
