package graft.tools

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import graft.{Graft, SparkEntry, Verify}

/** Dev tool: dump ONE named query's result to parquet for a targeted
  * oracle compare (tools/validate.py with a filter), without paying a
  * full graft.Verify pass. Usage: QueryDump <name> <sfDir> <outDir>.
  */
object QueryDump {
  def main(args: Array[String]): Unit = {
    val Array(name, sfDir, outDir) = args.take(3)
    val spark = Graft.localSession()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries(name)(spark, sfDir)
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    // merge this query's oracle into outDir/oracle_sql.json so
    // tools/validate.py can compare without a full Verify pass
    SparkEntry.oracleSql.get(name).foreach { sql =>
      val p = Paths.get(outDir, "oracle_sql.json")
      val existing: Map[String, String] =
        if (Files.exists(p))
          new ObjectMapper().readValue(Files.readString(p),
            classOf[java.util.Map[String, String]]).asScala.toMap
        else Map.empty
      Verify.writeOracleSql(outDir, existing + (name -> sql))
    }
    spark.stop()
  }
}
