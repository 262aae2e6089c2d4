package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A named group of driver-checkable queries. Each entry must appear in
  * BOTH maps (same key) unless the operation is not SQL-expressible in
  * DuckDB, in which case it may appear in `queries` only (weaker
  * rows-only check).
  *
  * Contract notes (driver compare):
  *  - column names are matched positionally-after-sort-by-name → every
  *    computed column is aliased identically in Spark and SQL;
  *  - results are made order-deterministic with a total-order sort key
  *    in both engines;
  *  - floating point is either raw pass-through (bit-identical), exact
  *    decimal arithmetic cast to double, or rounded to ≥6 dp.
  */
trait QueryPack {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracleSql: Map[String, String]
}

/** Shared DuckDB oracle fragments — ONE spelling of each replay the
  * query packs share: the strict-left-fold float accumulation
  * (`VectorFunctions`' order, bit-for-bit) and the text hashing,
  * MinHash, banding and Jaccard replays of `TextFunctions`, so a fix to
  * a fold, hash or rounding can never leave a second copy stale (r8
  * code review).
  */
private[queries] object OracleSql {
  def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(list_zip($a::DOUBLE[], $b::DOUBLE[]), p -> p[1] * p[2])), (x, y) -> x + y)"
  def cosSql(a: String, b: String): String =
    s"ROUND(${dotSql(a, b)} / (SQRT(${dotSql(a, a)}) * SQRT(${dotSql(b, b)})), 6)"
  def l2Sql(a: String, b: String): String =
    s"ROUND(SQRT(list_reduce(list_prepend(0.0, list_transform(list_zip($a::DOUBLE[], $b::DOUBLE[]), p -> (p[1] - p[2]) * (p[1] - p[2]))), (x, y) -> x + y)), 6)"
  /** Parse the first 15 hex chars of md5 into a BIGINT, mod 2^31-1 —
    * mirrors TextFunctions.md5Long bit-for-bit.
    */
  def md5LongSql(e: String): String =
    s"(list_reduce(list_prepend(0::BIGINT, list_transform(string_split(substr(md5($e), 1, 15), ''), c -> strpos('0123456789abcdef', c)::BIGINT - 1)), (a, b) -> a * 16 + b) % 2147483647)"
  def minhashSql(ss: String, k: Int): String =
    s"list_transform(range(0, $k), i -> coalesce(list_min(list_transform($ss, t -> ((i * 2 + 1) * ${md5LongSql("t")} + (i * i + 98765)) % 2147483647)), 2147483647))"
  def bandsSql(sig: String, bands: Int, rowsPer: Int): String =
    s"list_transform(range(0, $bands), b -> b::VARCHAR || '|' || md5(array_to_string(($sig)[b*$rowsPer+1:b*$rowsPer+$rowsPer], ',')))"
  def jaccardSql(a: String, b: String): String =
    s"ROUND(CASE WHEN len($a) = 0 OR len($b) = 0 THEN 0.0 ELSE len(list_intersect($a, $b))::DOUBLE / len(list_distinct(list_concat($a, $b)))::DOUBLE END, 6)"
}
