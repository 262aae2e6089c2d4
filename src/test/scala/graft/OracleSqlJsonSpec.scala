package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** `oracle_sql.json` is read by the DuckDB compare with a JSON parser:
  * one bad escape there fails the whole file, so every query reads as
  * wrong.
  */
class OracleSqlJsonSpec extends AnyFunSuite {

  test("writeOracleSql round-trips quotes, backslashes, control chars and non-ASCII") {
    val oracles = Map(
      "q_\"quoted\"" -> "SELECT '\"a\"' AS x",
      "q_back\\slash" -> "SELECT 'C:\\dir\\' AS p, '\\\\' AS two",
      "q_lines" -> "SELECT 1\nFROM t\r\nWHERE a = '\t'",
      "q_ctrl\u0001" -> "SELECT '\u0001\u0000\u001f' AS c",
      "q_ünïcødé" -> "SELECT 'naïve café — 日本語 😀' AS s",
      "" -> "")
    val dir = Files.createTempDirectory("oracle_sql")
    try {
      Verify.writeOracleSql(dir.toString, oracles)
      val parsed = new ObjectMapper().readValue(
        Files.readString(Paths.get(dir.toString, "oracle_sql.json")),
        classOf[java.util.Map[String, String]]).asScala.toMap
      assert(parsed == oracles)
    } finally {
      Files.deleteIfExists(dir.resolve("oracle_sql.json"))
      Files.deleteIfExists(dir)
    }
  }
}
