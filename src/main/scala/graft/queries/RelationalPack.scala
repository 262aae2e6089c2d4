package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** The relational query core: scan/filter/sort/paginate/count (reference
  * Q1-Q3, src/core/GraphDB.cpp:45-230), joins, aggregation, windows,
  * set ops, scalar functions — expressed as idiomatic DataFrame plans so
  * Catalyst gets full pushdown/pruning/reorder freedom.
  *
  * Numeric policy (cross-engine determinism): money/quantity sums are
  * computed over DECIMAL(18,2) casts (exact, order-independent) and the
  * final aggregate is cast to DOUBLE — bit-identical in Spark and the
  * DuckDB oracle. Raw double columns pass through untouched.
  */
object RelationalPack extends QueryPack {

  /** Exact decimal sum of a double column, surfaced as double. */
  private def dsum(c: org.apache.spark.sql.Column) =
    sum(c.cast("decimal(18,2)")).cast("double")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- Q1 parity: full-scan aggregate (TPC-H Q1 shape) ----
    "q01_pricing_summary" -> { (s, d) =>
      import s.implicits._
      Tables.lineitem(s, d)
        .filter($"l_shipdate" <= lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          dsum($"l_quantity").as("sum_qty"),
          dsum($"l_extendedprice").as("sum_base_price"),
          sum($"l_extendedprice".cast("decimal(18,2)") *
            (lit(1) - $"l_discount".cast("decimal(18,2)")))
            .cast("double").as("sum_disc_price"),
          (sum($"l_quantity".cast("decimal(18,2)")).cast("double") /
            count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    },

    // ---- Q1/Q2 parity: filter + sort + offset/limit pagination ----
    "q02_filter_sort_paginate" -> { (s, d) =>
      import s.implicits._
      Tables.part(s, d)
        .filter($"p_size" >= 25)
        .select($"p_partkey", $"p_name", $"p_size", $"p_retailprice")
        .orderBy($"p_retailprice".desc, $"p_partkey".asc)
        .offset(10).limit(20)
    },

    // ---- Q3 parity: filtered count ----
    "q03_count_filtered" -> { (s, d) =>
      import s.implicits._
      Tables.lineitem(s, d)
        .filter($"l_returnflag" === "R" && $"l_quantity" >= 10 && $"l_quantity" <= 20)
        .agg(count(lit(1)).as("cnt"))
    },

    // ---- C1 parity: point lookup by primary key ----
    "q04_point_lookup" -> { (s, d) =>
      import s.implicits._
      Tables.orders(s, d)
        .filter($"o_orderkey" === 42L)
        .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice",
          date_format($"o_orderdate", "yyyy-MM-dd HH:mm:ss").as("o_orderdate_str"))
    },

    // ---- join + aggregate: revenue by nation (broadcast dim) ----
    "q05_join_agg_nation_revenue" -> { (s, d) =>
      import s.implicits._
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      val n = Tables.nation(s, d)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy($"n_name")
        .agg(dsum($"o_totalprice").as("revenue"), count(lit(1)).as("n_orders"))
        .orderBy($"n_name")
    },

    // ---- two-level broadcast dim join ----
    "q06_region_customer_stats" -> { (s, d) =>
      import s.implicits._
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy($"r_name")
        .agg(count(lit(1)).as("n_customers"), dsum($"c_acctbal").as("total_acctbal"))
        .orderBy($"r_name")
    },

    // ---- left-semi join (EXISTS) ----
    "q07_semi_join" -> { (s, d) =>
      import s.implicits._
      val c = Tables.customer(s, d)
      val big = Tables.orders(s, d).filter($"o_totalprice" > 100000.0)
      c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
        .select($"c_custkey", $"c_name")
        .orderBy($"c_custkey")
    },

    // ---- left-anti join (NOT EXISTS) ----
    "q08_anti_join" -> { (s, d) =>
      import s.implicits._
      val c = Tables.customer(s, d)
      val big = Tables.orders(s, d).filter($"o_totalprice" > 400000.0)
      c.join(big, c("c_custkey") === big("o_custkey"), "left_anti")
        .select($"c_custkey", $"c_name", $"c_acctbal")
        .orderBy($"c_custkey")
    },

    // ---- global top-k (TakeOrderedAndProject, no full sort) ----
    "q09_topk_orders" -> { (s, d) =>
      import s.implicits._
      Tables.orders(s, d)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
        .limit(15)
    },

    // ---- window: per-group top-n ----
    "q10_window_rank" -> { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 2)
        .select($"o_custkey", $"o_orderkey", $"o_totalprice", $"rn")
        .orderBy($"o_custkey", $"rn")
    },

    // ---- distinct aggregates ----
    "q11_distinct_agg" -> { (s, d) =>
      import s.implicits._
      Tables.lineitem(s, d)
        .groupBy($"l_returnflag")
        .agg(
          countDistinct($"l_suppkey").as("n_supp"),
          countDistinct($"l_partkey").as("n_part"),
          count(lit(1)).as("n_rows"))
        .orderBy($"l_returnflag")
    },

    // ---- rollup (grouping sets) ----
    "q12_rollup" -> { (s, d) =>
      import s.implicits._
      Tables.lineitem(s, d)
        .rollup($"l_returnflag", $"l_linestatus")
        .agg(dsum($"l_quantity").as("sum_qty"), count(lit(1)).as("n_rows"))
        .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
    },

    // ---- set op: INTERSECT ----
    "q13_intersect" -> { (s, d) =>
      import s.implicits._
      val a = Tables.lineitem(s, d).filter($"l_returnflag" === "A")
        .select($"l_suppkey".as("suppkey")).distinct()
      val b = Tables.supplier(s, d).filter($"s_acctbal" > 0)
        .select($"s_suppkey".as("suppkey"))
      a.intersect(b).orderBy($"suppkey")
    },

    // ---- set op: EXCEPT ----
    "q14_except" -> { (s, d) =>
      import s.implicits._
      val a = Tables.part(s, d).filter($"p_size" >= 40)
        .select($"p_partkey".as("partkey"))
      val b = Tables.lineitem(s, d)
        .filter($"l_quantity" > 45 && $"l_returnflag" === "A")
        .select($"l_partkey".as("partkey")).distinct()
      a.except(b).orderBy($"partkey")
    },

    // ---- string scalar functions (contains = reference title filter) ----
    "q15_string_funcs" -> { (s, d) =>
      import s.implicits._
      Tables.part(s, d)
        .filter($"p_name".contains("a"))
        .select(
          $"p_partkey",
          upper($"p_name").as("name_upper"),
          substring($"p_name", 1, 5).as("name_pfx"),
          length($"p_name").as("name_len"),
          concat_ws("-", $"p_brand", $"p_type").as("brand_type"))
        .orderBy($"p_partkey")
    },

    // ---- date functions + grouping ----
    "q16_date_agg" -> { (s, d) =>
      import s.implicits._
      Tables.orders(s, d)
        .groupBy(
          year($"o_orderdate").cast("int").as("y"),
          month($"o_orderdate").cast("int").as("m"))
        .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("revenue"))
        .orderBy($"y", $"m")
    },

    // ---- CASE expression buckets ----
    "q17_case_buckets" -> { (s, d) =>
      import s.implicits._
      Tables.customer(s, d)
        .withColumn("bucket",
          when($"c_acctbal" < 0, "negative")
            .when($"c_acctbal" < 5000, "low")
            .otherwise("high"))
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n"), dsum($"c_acctbal").as("total_bal"))
        .orderBy($"bucket")
    },

    // ---- Q2 parity: conjunctive multi-filter + sort + paginate ----
    "q18_conjunctive_filter" -> { (s, d) =>
      import s.implicits._
      Tables.lineitem(s, d)
        .filter($"l_returnflag" === "N" && $"l_linestatus" === "O" &&
          $"l_quantity" >= 30.0)
        .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_extendedprice")
        .orderBy($"l_orderkey", $"l_linenumber")
        .offset(5).limit(100)
    },

    // ---- HAVING (post-aggregation filter) ----
    "q19_having" -> { (s, d) =>
      import s.implicits._
      Tables.lineitem(s, d)
        .groupBy($"l_suppkey")
        .agg(count(lit(1)).as("n_items"), dsum($"l_quantity").as("sum_qty"))
        .filter($"n_items" >= 50)
        .orderBy($"l_suppkey")
    },

    // ---- C2 parity: existence flag ----
    "q20_exists_flag" -> { (s, d) =>
      import s.implicits._
      Tables.orders(s, d)
        .filter($"o_orderkey" === 999L)
        .agg((count(lit(1)) > 0).as("exists_flag"))
    },

    // ---- 5-way join chain, mixed broadcast + shuffle ----
    // ---- skew-salted join: orders x customer on a deterministic
    //      8-way salt; results identical to the plain join, so the
    //      oracle is the unsalted SQL ----
    // ---- MERGE INTO / CDC apply: updates, deletes, and inserts folded
    //      into the target in one deterministic batch. The updated
    //      price is exact DECIMAL(18,2) arithmetic cast to DOUBLE: a
    //      double rounded at a .xx5 boundary rounds up in Spark and
    //      down in DuckDB ----
    "q124_cdc_merge" -> { (s, d) =>
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderpriority"))
      val upd = o.filter(col("o_orderkey") % 97 === 0)
        .withColumn("o_totalprice", round(col("o_totalprice").cast("decimal(18,2)") *
          lit(BigDecimal("1.1")), 2).cast("double"))
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("__op", lit("U")).withColumn("__seq", lit(1L))
      val del = o.filter(col("o_orderkey") % 101 === 0)
        .withColumn("__op", lit("D")).withColumn("__seq", lit(2L))
      val ins = o.filter(col("o_orderkey") % 103 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
        .withColumn("o_orderstatus", lit("N"))
        .withColumn("__op", lit("U")).withColumn("__seq", lit(1L))
      graft.operators.CdcMerge.applyChanges(o,
          upd.unionByName(del).unionByName(ins),
          keyCols = Seq("o_orderkey"), opCol = "__op", seqCol = "__seq")
        .orderBy(col("o_orderkey"))
    },

    "q22_salted_join" -> { (s, d) =>
      import s.implicits._
      val o = Tables.orders(s, d).select($"o_orderkey", $"o_custkey",
        $"o_totalprice")
      val c = Tables.customer(s, d)
        .select($"c_custkey".as("o_custkey"), $"c_mktsegment")
      graft.operators.SaltedJoin.saltedJoin(o, c, "o_custkey", r = 8)
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum($"o_totalprice".cast("decimal(18,2)")).cast("double")
            .as("total_price"))
        .orderBy($"c_mktsegment")
    },

    // ---- CUBE grouping sets (beyond q12's rollup) ----
    "q23_cube" -> { (s, d) =>
      import s.implicits._
      Tables.lineitem(s, d)
        .cube($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum($"l_quantity".cast("decimal(18,2)")).cast("double").as("sum_qty"))
        .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
    },

    // ---- exact percentiles (linear interpolation, Spark percentile ==
    //      DuckDB quantile_cont on the same sorted multiset) ----
    "q24_percentiles" -> { (s, d) =>
      import s.implicits._
      Tables.orders(s, d)
        .groupBy($"o_orderpriority")
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
          count(lit(1)).as("n"))
        .orderBy($"o_orderpriority")
    },

    // ---- deterministic string aggregation (sorted collect + join) ----
    "q25_group_concat" -> { (s, d) =>
      import s.implicits._
      Tables.nation(s, d)
        .groupBy($"n_regionkey")
        .agg(
          array_join(sort_array(collect_list($"n_name")), ",").as("nations"),
          count(lit(1)).as("n"))
        .orderBy($"n_regionkey")
    },

    "q21_five_way_join" -> { (s, d) =>
      import s.implicits._
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy($"r_name", year($"o_orderdate").cast("int").as("y"))
        .agg(
          sum($"l_extendedprice".cast("decimal(18,2)") *
            (lit(1) - $"l_discount".cast("decimal(18,2)")))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy($"r_name", $"y")
    },

    // ---- market-basket affinity: parts frequently co-ordered, with
    //      lift; Apriori item prefilter bounds the basket self-join ----
    "q145_copurchase" -> { (s, d) =>
      graft.pipeline.Affinity.copurchasePairs(Tables.lineitem(s, d),
          basketCol = "l_orderkey", itemCol = "l_partkey", minSupport = 3L)
        .orderBy(col("item_a"), col("item_b"))
    },

    // ---- snapshot diff: added/removed/changed rows between two keyed
    //      table versions — one full-outer equi-join on (key, hash) ----
    "q152_snapshot_diff" -> { (s, d) =>
      val cents = round(col("o_totalprice") * 100).cast("long")
      val v1 = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), cents.as("cents"))
      // deterministic synthetic v2: %13 keys deleted, %7 prices bumped
      // 10% (exact integer cents), %17 keys re-inserted under new ids
      val v2 = v1.filter(col("o_orderkey") % 13 =!= 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          when(col("o_orderkey") % 7 === 0, expr("cents * 110 div 100"))
            .otherwise(col("cents")).as("cents"))
        .unionAll(v1.filter(col("o_orderkey") % 17 === 0)
          .select((col("o_orderkey") + lit(1000000000L)).as("o_orderkey"),
            col("o_orderstatus"), col("cents")))
      graft.operators.SnapshotDiff.diff(v1, v2, Seq("o_orderkey"),
          concat_ws("|", col("o_orderstatus"), col("cents")))
        .orderBy(col("o_orderkey"))
    },

    // ---- join-size estimation from two constant-size CMS sketches
    //      (self-join of lineitem on l_partkey): the optimizer-
    //      statistics primitive — exact Σf² vs the sketch inner
    //      product, which never underestimates ----
    "q159_join_size" -> { (s, d) =>
      val hashed = Tables.lineitem(s, d).select(
        graft.functions.TextFunctions
          .md5Long(col("l_partkey").cast("string")).as("h"))
      val sk = hashed.agg(graft.Graft.cmsSketch(col("h"), 4, 16384).as("sk"))
      val exact = Tables.lineitem(s, d)
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
        .agg(sum(col("n") * col("n")).as("exact_size"))
      exact.crossJoin(broadcast(sk))
        .select(col("exact_size"),
          graft.Graft.cmsInnerProduct(col("sk"), col("sk"), 4, 16384)
            .as("est_size"))
        .withColumn("err_ratio",
          round(col("est_size").cast("double") /
            col("exact_size").cast("double"), 6))
    },

    // ---- Gini concentration of order revenue per nation (exact
    //      rank·value decimal sums; one IEEE division at the end) ----
    "q207_gini" -> { (s, d) =>
      import s.implicits._
      val j = Tables.orders(s, d)
        .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
        .join(broadcast(Tables.nation(s, d)), $"c_nationkey" === $"n_nationkey")
        .select($"n_name",
          round($"o_totalprice" * 100).cast("long").as("cents"),
          $"o_orderkey")
      graft.pipeline.Stats.giniByGroup(j, "n_name", "cents", "o_orderkey")
        .orderBy(col("n_name"))
    },

    // ---- exact per-nation LOWER median order price (deterministic
    //      attained-value convention — no middle-pair averaging) ----
    "q184_grouped_median" -> { (s, d) =>
      import s.implicits._
      val j = Tables.orders(s, d)
        .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
        .join(broadcast(Tables.nation(s, d)), $"c_nationkey" === $"n_nationkey")
        .select($"n_name",
          round($"o_totalprice" * 100).cast("long").as("cents"),
          $"o_orderkey")
      graft.pipeline.Stats.groupedMedian(j, "n_name", "cents", "o_orderkey")
        .select(col("n_name"), col("n_rows").as("n_orders"),
          col("median").as("median_cents"))
        .orderBy(col("n_name"))
    },

    // ---- OLAP rollup: region → nation revenue hierarchy with
    //      grouping flags (one Expand + one hash aggregate; the
    //      subtotal rows cost one extra aggregate row per group,
    //      never a second scan) ----
    "q173_rollup_revenue" -> { (s, d) =>
      import s.implicits._
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .rollup($"r_name", $"n_name")
        .agg(grouping($"r_name").cast("int").as("g_region"),
          grouping($"n_name").cast("int").as("g_nation"),
          dsum($"o_totalprice").as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy($"g_region", $"g_nation", $"r_name", $"n_name")
    },
  )

  import OracleSql.md5LongSql

  def oracleSql: Map[String, String] = Map(
    "q159_join_size" ->
      s"""WITH wh AS (SELECT ${md5LongSql("l_partkey::VARCHAR")} AS h
         |  FROM lineitem),
         |counters AS (SELECT r.i,
         |    ((2*r.i+1)*h + r.i*r.i + 98765) % 2147483647 % 16384 AS b,
         |    COUNT(*)::BIGINT AS c
         |  FROM wh CROSS JOIN range(0, 4) r(i) GROUP BY 1, 2),
         |ip AS (SELECT MIN(s)::BIGINT AS est_size FROM (
         |  SELECT i, SUM(c * c) AS s FROM counters GROUP BY i) t),
         |ex AS (SELECT SUM(n * n)::BIGINT AS exact_size FROM (
         |  SELECT COUNT(*)::BIGINT AS n FROM lineitem GROUP BY l_partkey) u)
         |SELECT exact_size, est_size,
         |  ROUND(est_size::DOUBLE / exact_size::DOUBLE, 6) AS err_ratio
         |FROM ex, ip""".stripMargin,

    "q152_snapshot_diff" ->
      """WITH v1 AS (SELECT o_orderkey, o_orderstatus,
        |    ROUND(o_totalprice * 100)::BIGINT AS cents FROM orders),
        |v2 AS (SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 7 = 0 THEN cents * 110 // 100
        |      ELSE cents END AS cents
        |  FROM v1 WHERE o_orderkey % 13 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 1000000000, o_orderstatus, cents
        |  FROM v1 WHERE o_orderkey % 17 = 0),
        |o AS (SELECT o_orderkey,
        |  o_orderstatus || '|' || cents::VARCHAR AS fp_old FROM v1),
        |n AS (SELECT o_orderkey,
        |  o_orderstatus || '|' || cents::VARCHAR AS fp_new FROM v2),
        |j AS (SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |    fp_old, fp_new,
        |    CASE WHEN fp_old IS NULL THEN 'added'
        |         WHEN fp_new IS NULL THEN 'removed'
        |         WHEN fp_old <> fp_new THEN 'changed' END AS change
        |  FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey)
        |SELECT o_orderkey, change, fp_old, fp_new
        |FROM j WHERE change IS NOT NULL ORDER BY o_orderkey""".stripMargin,

    "q145_copurchase" ->
      """WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |  FROM lineitem),
        |it AS (SELECT i, COUNT(*) AS n_i FROM bi GROUP BY i
        |  HAVING COUNT(*) >= 3),
        |pr AS (SELECT bi.b, bi.i FROM bi JOIN it USING (i)),
        |p AS (SELECT a.i AS item_a, c.i AS item_b, COUNT(*) AS pair_n
        |  FROM pr a JOIN pr c ON a.b = c.b AND a.i < c.i
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        |t AS (SELECT COUNT(DISTINCT b) AS n_baskets FROM bi)
        |SELECT item_a, item_b, pair_n, x.n_i AS n_a, y.n_i AS n_b,
        |  ROUND((pair_n * t.n_baskets)::DOUBLE / (x.n_i * y.n_i)::DOUBLE, 6)
        |    AS lift
        |FROM p JOIN it x ON p.item_a = x.i JOIN it y ON p.item_b = y.i
        |CROSS JOIN t
        |ORDER BY item_a, item_b""".stripMargin,
    "q25_group_concat" ->
      """SELECT n_regionkey,
        |  array_to_string(list_sort(list(n_name)), ',') AS nations,
        |  COUNT(*) AS n
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,

    "q23_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q24_percentiles" ->
      """SELECT o_orderpriority,
        |  ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        |  ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90,
        |  COUNT(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q124_cdc_merge" ->
      """WITH o AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    o_totalprice, o_orderpriority FROM orders),
        |upd AS (SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
        |    CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 1.1, 2) AS DOUBLE)
        |      AS o_totalprice, o_orderpriority,
        |    'U' AS op, 1 AS seq FROM o WHERE o_orderkey % 97 = 0),
        |del AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |    o_orderpriority, 'D' AS op, 2 AS seq FROM o
        |  WHERE o_orderkey % 101 = 0),
        |ins AS (SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey,
        |    'N' AS o_orderstatus, o_totalprice, o_orderpriority,
        |    'U' AS op, 1 AS seq FROM o WHERE o_orderkey % 103 = 0),
        |ch AS (SELECT * FROM upd UNION ALL SELECT * FROM del
        |       UNION ALL SELECT * FROM ins),
        |latest AS (SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
        |      ORDER BY seq DESC, op ASC) AS rn FROM ch) t WHERE rn = 1),
        |surv AS (SELECT * FROM o WHERE o_orderkey NOT IN
        |  (SELECT o_orderkey FROM latest))
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderpriority FROM surv
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderpriority FROM latest WHERE op <> 'D'
        |ORDER BY o_orderkey""".stripMargin,

    "q22_salted_join" ->
      """SELECT c.c_mktsegment, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin,

    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_filter_sort_paginate" ->
      """SELECT p_partkey, p_name, p_size, p_retailprice
        |FROM part WHERE p_size >= 25
        |ORDER BY p_retailprice DESC, p_partkey ASC
        |LIMIT 20 OFFSET 10""".stripMargin,

    "q03_count_filtered" ->
      """SELECT COUNT(*) AS cnt FROM lineitem
        |WHERE l_returnflag = 'R' AND l_quantity >= 10 AND l_quantity <= 20""".stripMargin,

    "q04_point_lookup" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate_str
        |FROM orders WHERE o_orderkey = 42""".stripMargin,

    "q05_join_agg_nation_revenue" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q06_region_customer_stats" ->
      """SELECT r_name, COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "q07_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 100000)
        |ORDER BY c_custkey""".stripMargin,

    "q08_anti_join" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,

    "q09_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 15""".stripMargin,

    "q10_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) t
        |WHERE rn <= 2 ORDER BY o_custkey, rn""".stripMargin,

    "q11_distinct_agg" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_suppkey) AS n_supp,
        |  COUNT(DISTINCT l_partkey) AS n_part,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q12_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q13_intersect" ->
      """SELECT DISTINCT l_suppkey AS suppkey FROM lineitem WHERE l_returnflag = 'A'
        |INTERSECT
        |SELECT s_suppkey AS suppkey FROM supplier WHERE s_acctbal > 0
        |ORDER BY suppkey""".stripMargin,

    "q14_except" ->
      """SELECT p_partkey AS partkey FROM part WHERE p_size >= 40
        |EXCEPT
        |SELECT DISTINCT l_partkey AS partkey FROM lineitem
        |WHERE l_quantity > 45 AND l_returnflag = 'A'
        |ORDER BY partkey""".stripMargin,

    "q15_string_funcs" ->
      """SELECT p_partkey,
        |  UPPER(p_name) AS name_upper,
        |  SUBSTRING(p_name, 1, 5) AS name_pfx,
        |  LENGTH(p_name) AS name_len,
        |  CONCAT_WS('-', p_brand, p_type) AS brand_type
        |FROM part WHERE p_name LIKE '%a%' ORDER BY p_partkey""".stripMargin,

    "q16_date_agg" ->
      """SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS y,
        |  CAST(EXTRACT(month FROM o_orderdate) AS INT) AS m,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY y, m ORDER BY y, m""".stripMargin,

    "q17_case_buckets" ->
      """SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
        |  WHEN c_acctbal < 5000 THEN 'low' ELSE 'high' END AS bucket,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q18_conjunctive_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_returnflag = 'N' AND l_linestatus = 'O' AND l_quantity >= 30
        |ORDER BY l_orderkey, l_linenumber
        |LIMIT 100 OFFSET 5""".stripMargin,

    "q19_having" ->
      """SELECT l_suppkey, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_suppkey
        |HAVING COUNT(*) >= 50 ORDER BY l_suppkey""".stripMargin,

    "q20_exists_flag" ->
      """SELECT COUNT(*) > 0 AS exists_flag FROM orders WHERE o_orderkey = 999""".stripMargin,

    "q21_five_way_join" ->
      """SELECT r_name, CAST(EXTRACT(year FROM o_orderdate) AS INT) AS y,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, y ORDER BY r_name, y""".stripMargin,

    "q207_gini" ->
      """WITH j AS (SELECT n_name,
        |    ROUND(o_totalprice * 100)::BIGINT AS cents, o_orderkey
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey),
        |r AS (SELECT n_name, cents,
        |    ROW_NUMBER() OVER (PARTITION BY n_name
        |      ORDER BY cents, o_orderkey) AS rn FROM j),
        |a AS (SELECT n_name, COUNT(*)::BIGINT AS n_rows,
        |    SUM(cents::HUGEINT) AS sx,
        |    SUM(rn::HUGEINT * cents) AS srx
        |  FROM r GROUP BY n_name)
        |SELECT n_name, n_rows,
        |  ROUND((2 * srx - (n_rows + 1) * sx)::DOUBLE
        |    / (n_rows::DOUBLE * sx::DOUBLE), 6) AS gini
        |FROM a ORDER BY n_name""".stripMargin,

    "q184_grouped_median" ->
      """WITH j AS (SELECT n_name,
        |    ROUND(o_totalprice * 100)::BIGINT AS cents, o_orderkey
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey),
        |r AS (SELECT n_name, cents,
        |    ROW_NUMBER() OVER (PARTITION BY n_name
        |      ORDER BY cents, o_orderkey) AS rn,
        |    COUNT(*) OVER (PARTITION BY n_name) AS cnt FROM j)
        |SELECT n_name, cnt::BIGINT AS n_orders, cents AS median_cents
        |FROM r WHERE rn = (cnt + 1) // 2 ORDER BY n_name""".stripMargin,

    "q173_rollup_revenue" ->
      """SELECT r_name, n_name,
        |  GROUPING(r_name)::INT AS g_region,
        |  GROUPING(n_name)::INT AS g_nation,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY g_region, g_nation, r_name, n_name""".stripMargin,
  )
}
