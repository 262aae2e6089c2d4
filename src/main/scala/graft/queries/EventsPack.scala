package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Event-stream analytics over the `events` table — the batch
  * equivalents of the Structured Streaming operators in
  * `graft.streaming` (tumbling windows, sessionization), plus JSON
  * extraction and top-k rollups.
  *
  * Time policy: all window/gap arithmetic is done on exact int64
  * nanoseconds (`ts_ns`) — never on doubles (int64 nanos overflow a
  * double mantissa) and never on engine-truncated timestamps — so the
  * DuckDB oracle (`epoch_ns(ts)`) is bit-identical.
  */
object EventsPack extends QueryPack {

  private val HourNs = 3600L * 1000 * 1000 * 1000
  private val Win15Ns = 900L * 1000 * 1000 * 1000
  private val SessionGapNs = 1800L * 1000 * 1000 * 1000

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- tumbling 1h window aggregate (streaming window, batch form) ----
    "q60_hourly_agg" -> { (s, d) =>
      import s.implicits._
      Tables.events(s, d)
        .withColumn("hour_id", expr(s"ts_ns div $HourNs"))
        .groupBy($"hour_id")
        .agg(
          count(lit(1)).as("n_events"),
          sum($"value".cast("decimal(18,2)")).cast("double").as("total_value"),
          countDistinct($"user_id").as("n_users"))
        .withColumn("hour_ts",
          date_format(timestamp_micros($"hour_id" * (HourNs / 1000)), "yyyy-MM-dd HH:mm:ss"))
        .select("hour_id", "hour_ts", "n_events", "total_value", "n_users")
        .orderBy($"hour_id")
    },

    // ---- sessionization: 30-min inactivity gap (lag window) ----
    "q61_sessionize" -> { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts_ns", $"event_id")
      Tables.events(s, d)
        .withColumn("prev_ns", lag($"ts_ns", 1).over(w))
        .withColumn("new_session",
          when($"prev_ns".isNull || $"ts_ns" - $"prev_ns" > SessionGapNs, 1L)
            .otherwise(0L))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_events"), sum($"new_session").as("n_sessions"))
        .orderBy($"user_id")
    },

    // ---- per-type value stats ----
    "q62_event_type_stats" -> { (s, d) =>
      import s.implicits._
      Tables.events(s, d)
        .groupBy($"event_type")
        .agg(
          count(lit(1)).as("n"),
          sum($"value".cast("decimal(18,2)")).cast("double").as("total_value"),
          min($"value").as("min_value"),
          max($"value").as("max_value"))
        .orderBy($"event_type")
    },

    // ---- JSON property extraction + bucket rollup ----
    "q63_json_extract" -> { (s, d) =>
      import s.implicits._
      Tables.events(s, d)
        .withColumn("k", get_json_object($"props", "$.k").cast("int"))
        .groupBy(pmod($"k", lit(10)).cast("int").as("k_mod"))
        .agg(count(lit(1)).as("n"),
          sum($"value".cast("decimal(18,2)")).cast("double").as("total_value"))
        .orderBy($"k_mod")
    },

    // ---- tumbling 15-min windows × type (finer streaming window) ----
    "q64_tumbling_15min" -> { (s, d) =>
      import s.implicits._
      Tables.events(s, d)
        .withColumn("win_id", expr(s"ts_ns div $Win15Ns"))
        .groupBy($"win_id", $"event_type")
        .agg(count(lit(1)).as("n"))
        .withColumn("win_ts",
          date_format(timestamp_micros($"win_id" * (Win15Ns / 1000)), "yyyy-MM-dd HH:mm:ss"))
        .select("win_id", "win_ts", "event_type", "n")
        .orderBy($"win_id", $"event_type")
    },

    // ---- top-k users by total value ----
    "q65_top_users" -> { (s, d) =>
      import s.implicits._
      Tables.events(s, d)
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n"),
          sum($"value".cast("decimal(18,2)")).cast("double").as("total_value"))
        .orderBy($"total_value".desc, $"user_id".asc)
        .limit(20)
    },

    // ---- per-user activity-span / gap statistics ----
    "q66_gap_stats" -> { (s, d) =>
      import s.implicits._
      Tables.events(s, d)
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n"),
          min($"ts_ns").as("min_ns"), max($"ts_ns").as("max_ns"))
        .filter($"n" >= 2)
        .select(
          $"user_id", $"n",
          // exact integer arithmetic end-to-end: engines' double round()
          // implementations disagree at decimal boundaries
          expr("(max_ns - min_ns) div 1000000000").as("span_sec"),
          expr("((max_ns - min_ns) div (n - 1)) div 1000000").as("avg_gap_ms"))
        .orderBy($"user_id")
    },

    // ---- as-of join: each click picks up the latest prior (or
    //      simultaneous) purchase of the same user ----
    "q67_asof_join" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts_ns"))
      // right side unique per (key, time): max event_id wins the tie
      val w = Window.partitionBy(col("user_id"), col("ts_ns"))
        .orderBy(col("p_event_id").desc)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_event_id"), col("user_id"),
          col("ts_ns"), col("value"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
      graft.operators.AsofJoin
        .asofJoin(clicks, purchases, "user_id", "ts_ns",
          payload = Seq("p_event_id", "value"))
        .select(col("event_id"), col("user_id"),
          col("asof_p_event_id").as("prior_purchase_id"),
          col("asof_value").as("prior_value"))
        .orderBy(col("event_id"))
    },
    // ---- pivot: users x event-type count matrix (explicit value list
    //      keeps the plan single-pass and the column set stable) ----
    "q70_pivot" -> { (s, d) =>
      import s.implicits._
      val types = Seq("click", "error", "purchase", "signup", "view")
      val pivoted = Tables.events(s, d)
        .filter($"user_id" < 30)
        .groupBy($"user_id")
        .pivot("event_type", types)
        .agg(count(lit(1)))
      types.foldLeft(pivoted)((df, t) =>
          df.withColumn(t, coalesce(col(t), lit(0L))))
        .orderBy($"user_id")
    },

    // ---- native session_window (vs q61's manual lag/cumsum form).
    //      Spark opens a NEW session when gap >= 30min (window end is
    //      exclusive: [start, last+gap)) — the oracle mirrors >=. ----
    "q71_session_window" -> { (s, d) =>
      import s.implicits._
      Tables.events(s, d)
        .filter($"user_id" < 30)
        .groupBy($"user_id", session_window($"ts", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select($"user_id", unix_micros($"w.start").as("start_us"), $"n_events")
        .orderBy($"user_id", $"start_us")
    },

    // ---- unpivot (melt): the wide per-type matrix back to long form ----
    "q72_unpivot" -> { (s, d) =>
      import s.implicits._
      val types = Seq("click", "error", "purchase", "signup", "view")
      val wide = Tables.events(s, d)
        .filter($"user_id" < 30)
        .groupBy($"user_id")
        .pivot("event_type", types)
        .agg(count(lit(1)))
      val filled = types.foldLeft(wide)((df, t) =>
        df.withColumn(t, coalesce(col(t), lit(0L))))
      filled.unpivot(
          Array($"user_id"), types.map(col).toArray, "event_type", "n")
        .filter($"n" > 0)
        .orderBy($"user_id", $"event_type")
    },

    // ---- cumulative (running) per-user value, exact decimal ----
    "q69_running_total" -> { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id")
        .orderBy($"ts_ns", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .filter($"user_id" < 20)
        .select($"user_id", $"event_id",
          sum($"value".cast("decimal(18,2)")).over(w).cast("double")
            .as("running_value"))
        .orderBy($"user_id", $"event_id")
    },

    // ---- range join: clicks inside the 1-hour window after each
    //      error event of the same user (bin-bucketed equi-join) ----
    "q68_range_join" -> { (s, d) =>
      val winNs = 3600L * 1000 * 1000 * 1000 // 1 hour
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts_ns"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("error_id"), col("user_id"),
          col("ts_ns").as("w_start"),
          (col("ts_ns") + winNs).as("w_end"))
      graft.operators.RangeJoin
        .rangeJoin(clicks, errors, "user_id", "ts_ns", "w_start", "w_end",
          binWidth = winNs)
        .select(col("click_id"), col("error_id"), col("user_id"))
        .orderBy(col("click_id"), col("error_id"))
    },

    // ---- ordered conversion funnel: first view -> first click at or
    //      after it -> first purchase at or after that ----
    "q126_funnel" -> { (s, d) =>
      graft.operators.EventAnalytics.funnelTimes(Tables.events(s, d),
          "user_id", "ts_ns", "event_type", Seq("view", "click", "purchase"))
        .orderBy(col("user_id"))
    },

    // ---- cohort retention by first-seen day (86400e9 ns periods) ----
    "q127_cohort_retention" -> { (s, d) =>
      graft.operators.EventAnalytics.cohortRetention(Tables.events(s, d),
          "user_id", "ts_ns", periodLength = 86400L * 1000 * 1000 * 1000)
        .orderBy(col("cohort"), col("period"))
    },

    // ---- DAU/WAU stickiness via explode-to-window equi-joins ----
    "q128_dau_wau" -> { (s, d) =>
      graft.operators.EventAnalytics.stickiness(Tables.events(s, d),
          "user_id", "ts_ns", periodLength = 86400L * 1000 * 1000 * 1000,
          window = 7)
        .orderBy(col("day"))
    },

    // ---- Markov transition matrix: prev-type -> next-type counts
    //      and probabilities over per-user event sequences ----
    "q129_transition_matrix" -> { (s, d) =>
      graft.operators.EventAnalytics.transitionMatrix(Tables.events(s, d),
          "user_id", "ts_ns", "event_id", "event_type")
        .orderBy(col("prev_type"), col("next_type"))
    },

    // ---- trailing-window anomaly z-scores on the daily per-type
    //      activity series (exact integer window sums). The contract
    //      compares the integer z parts (z = z_num/√z_den2) — the
    //      rounded-double z column was hash-red on the driver's newer
    //      DuckDB in r5 and is for humans, not the gate ----
    "q130_daily_anomaly" -> { (s, d) =>
      graft.operators.EventAnalytics.rollingAnomaly(Tables.events(s, d),
          "event_type", "ts_ns", periodLength = 86400L * 1000 * 1000 * 1000,
          window = 7)
        .select(col("event_type"), col("period"), col("n"), col("w_n"),
          col("w_sum"), col("z_num"), col("z_den2"))
        .orderBy(col("event_type"), col("period"))
    },

    // ---- SCD Type-2 history: collapse repeat states, validity
    //      intervals with an open current row ----
    "q140_scd2" -> { (s, d) =>
      graft.operators.EventAnalytics.scd2History(
          Tables.events(s, d).filter(col("user_id") < 30),
          "user_id", "ts_ns", "event_id", "event_type")
        .orderBy(col("user_id"), col("valid_from"))
    },

    // ---- dense period spine: per-user hourly series zero-filled
    //      between first and last activity ----
    "q141_gap_fill" -> { (s, d) =>
      graft.operators.EventAnalytics.gapFill(
          Tables.events(s, d).filter(col("user_id") < 20),
          "user_id", "ts_ns", periodLength = 3600L * 1000 * 1000 * 1000)
        .orderBy(col("user_id"), col("period"))
    },

    // ---- growth accounting: dau, new vs returning, cumulative base ----
    "q142_growth" -> { (s, d) =>
      graft.operators.EventAnalytics.growthAccounting(Tables.events(s, d),
          "user_id", "ts_ns", periodLength = 86400L * 1000 * 1000 * 1000)
        .orderBy(col("period"))
    },

    // ---- top session paths: most common 3-step event sequences
    //      inside 30-min-gap sessions ----
    "q137_top_paths" -> { (s, d) =>
      graft.operators.EventAnalytics.topPaths(Tables.events(s, d),
          "user_id", "ts_ns", "event_id", "event_type",
          gapNs = 1800L * 1000 * 1000 * 1000, pathLen = 3, topK = 20)
        .orderBy(col("rank"))
    },

    // ---- interval coalescing: every error opens a 30-min alert
    //      window; overlapping windows merge per user ----
    "q136_merge_intervals" -> { (s, d) =>
      val iv = Tables.events(s, d).filter(col("event_type") === "error")
        .select(col("user_id"), col("ts_ns").as("s0"),
          (col("ts_ns") + lit(1800L * 1000 * 1000 * 1000)).as("e0"))
      graft.operators.Intervals.coalesceIntervals(iv, "user_id", "s0", "e0")
        .select(col("user_id"), col("island"),
          col("start").as("span_start"), col("end").as("span_end"),
          col("n_merged"))
        .orderBy(col("user_id"), col("island"))
    },

    // ---- first/last-touch conversion attribution: per purchase, the
    //      earliest and latest preceding click/view (organic = NULLs) ----
    "q148_attribution" -> { (s, d) =>
      graft.operators.EventAnalytics.touchAttribution(Tables.events(s, d),
          "user_id", "ts_ns", "event_id", "event_type",
          touchTypes = Seq("click", "view"), convType = "purchase")
        .orderBy(col("user_id"), col("conv_ns"), col("conv_id"))
    },

    // ---- incremental materialized-view maintenance: fold the delta
    //      batch's partial aggregate into the stored base aggregate;
    //      the oracle recomputes from scratch — merge must be exact ----
    "q149_incremental_agg" -> { (s, d) =>
      val ev = Tables.events(s, d)
      def agg(part: DataFrame): DataFrame = part.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).as("__sv"))
      val base = agg(ev.filter(col("event_id") % 10 < 8))
      val delta = agg(ev.filter(col("event_id") % 10 >= 8))
      graft.operators.IncrementalAgg.mergeAggs(base, delta,
          keyCols = Seq("user_id"), sumCols = Seq("n", "__sv"))
        .select(col("user_id"), col("n"),
          col("__sv").cast("double").as("total_value"))
        .orderBy(col("user_id"))
    },

    // ---- Theil-Sen robust trend: median pairwise slope of each
    //      type's daily activity series (outlier-immune drift) ----
    "q160_theil_sen" -> { (s, d) =>
      graft.operators.EventAnalytics.theilSenTrend(Tables.events(s, d),
          "event_type", "ts_ns", periodLength = 86400L * 1000 * 1000 * 1000)
        .orderBy(col("event_type"))
    },

    // ---- KMV sketch set operations: distinct-user union/intersection
    //      estimates per event-type pair (inclusion-exclusion over
    //      mergeable sketches) vs the exact intersection ----
    "q161_kmv_setops" -> { (s, d) =>
      val d0 = Tables.events(s, d).filter(col("value") > 150)
        .select(col("event_type").as("t"), col("user_id").as("u")).distinct()
      val h = d0.select(col("t"), col("u"),
        graft.functions.TextFunctions.md5Long(col("u").cast("string"))
          .as("hv")).localCheckpoint()
      val types = h.select("t").distinct()
      // |types|² pair frame — bounded broadcast, the allowlisted class
      val prs = types.select(col("t").as("type_a"))
        .crossJoin(broadcast(types.select(col("t").as("type_b"))))
        .filter(col("type_a") < col("type_b"))
      val pr2 = prs.select(col("type_a"), col("type_b"),
        explode(array(col("type_a"), col("type_b"))).as("t"))
      val uni = pr2.join(h, "t").groupBy(col("type_a"), col("type_b"))
        .agg(round(graft.Graft.kmvSketch(col("hv"), 64), 6).as("est_union"))
      val per = h.groupBy(col("t"))
        .agg(round(graft.Graft.kmvSketch(col("hv"), 64), 6).as("est"))
      val ex = d0.select(col("t").as("type_a"), col("u"))
        .join(d0.select(col("t").as("type_b"), col("u")), "u")
        .filter(col("type_a") < col("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(countDistinct(col("u")).as("exact_intersect"))
      uni
        .join(per.select(col("t").as("type_a"), col("est").as("est_a")),
          "type_a")
        .join(per.select(col("t").as("type_b"), col("est").as("est_b")),
          "type_b")
        .join(ex, Seq("type_a", "type_b"), "left")
        .select(col("type_a"), col("type_b"), col("est_a"), col("est_b"),
          col("est_union"),
          round(col("est_a") + col("est_b") - col("est_union"), 6)
            .as("est_intersect"),
          coalesce(col("exact_intersect"), lit(0L)).as("exact_intersect"))
        .orderBy(col("type_a"), col("type_b"))
    },

    // ---- dimension-as-of-event-time: each purchase picks up the
    //      user's SCD2 state (built over NON-purchase activity) valid
    //      at its timestamp — scd2History ∘ asofJoin composition ----
    "q164_asof_state" -> { (s, d) =>
      val ev = Tables.events(s, d).filter(col("user_id") < 30)
      val hist = graft.operators.EventAnalytics.scd2History(
        ev.filter(col("event_type") =!= "purchase"),
        "user_id", "ts_ns", "event_id", "event_type")
      val changes = hist.select(col("user_id"),
        col("valid_from").as("ts_ns"), col("state"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts_ns"))
      graft.operators.AsofJoin.asofJoin(purchases, changes,
          "user_id", "ts_ns", payload = Seq("state"))
        .orderBy(col("user_id"), col("ts_ns"), col("event_id"))
    },

    // ---- RFM customer segmentation: quantile-binned recency /
    //      frequency / monetary with the composed 3-digit code ----
    "q171_rfm" -> { (s, d) =>
      graft.operators.EventAnalytics.rfmSegments(Tables.events(s, d),
          "user_id", "ts_ns", "event_type", convType = "purchase",
          valueCol = "value", periodNs = 86400L * 1000 * 1000 * 1000)
        .orderBy(col("user_id"))
    },

    // ---- time-weighted average: per-user TWAP of value (exact
    //      cents·Δns decimal sums, doubles only at the end) ----
    "q168_twap" -> { (s, d) =>
      graft.operators.EventAnalytics.twap(Tables.events(s, d),
          "user_id", "ts_ns", "event_id", "value")
        .orderBy(col("user_id"))
    },

    // ---- linear-interpolation fill on the hourly spine (LOCF's
    //      smoother sibling; trailing holes carry forward) ----
    "q169_interp" -> { (s, d) =>
      graft.operators.EventAnalytics.interpFill(
          Tables.events(s, d).filter(col("user_id") < 20),
          "user_id", "ts_ns", "event_id", "value",
          periodLength = 3600L * 1000 * 1000 * 1000)
        .orderBy(col("user_id"), col("period"))
    },

    // ---- LOCF fill: per-user hourly value series, holes carry the
    //      latest earlier observation forward ----
    "q162_locf" -> { (s, d) =>
      graft.operators.EventAnalytics.locfFill(
          Tables.events(s, d).filter(col("user_id") < 20),
          "user_id", "ts_ns", "event_id", "value",
          periodLength = 3600L * 1000 * 1000 * 1000)
        .orderBy(col("user_id"), col("period"))
    },

    // ---- two-proportion A/B conversion test (variant = user parity,
    //      conversion = a high-value purchase — plain "any purchase"
    //      saturates at these event densities and degenerates z) ----
    "q157_ab_test" -> { (s, d) =>
      graft.operators.EventAnalytics.abTest(Tables.events(s, d),
          "user_id",
          convPred = col("event_type") === "purchase" && col("value") > 99,
          variantExpr = col("user_id") % 2)
    },

    // ---- gap-based sessionization with per-session stats (30-min
    //      gap): the batch twin of the streaming sessionizer ----
    "q172_session_stats" -> { (s, d) =>
      graft.operators.EventAnalytics.sessionStats(Tables.events(s, d),
          "user_id", "ts_ns", "event_id",
          gapNs = 1800L * 1000 * 1000 * 1000)
        .orderBy(col("user_id"), col("session_id"))
    },

    // ---- exact ROC AUC: does event value separate purchases from
    //      the rest? Mann-Whitney midranks over the distinct-cents
    //      table (score-codomain-bounded, never row-count-sized) ----
    "q175_auc" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select(round(col("value") * 100).cast("long").as("score_cents"),
          (col("event_type") === "purchase").as("label"))
      graft.pipeline.Stats.auc(ev, "score_cents", "label")
    },

    // ---- diurnal profile: hour-of-day load shape per event type ----
    "q223_diurnal" -> { (s, d) =>
      graft.operators.EventAnalytics.diurnalProfile(Tables.events(s, d),
          "event_type", "ts_ns")
        .orderBy(col("event_type"), col("hour_of_day"))
    },

    // ---- linear multi-touch attribution: every pre-conversion touch
    //      in the conversion's SESSION shares equal credit (the
    //      session scope bounds the pairing fan-out) ----
    "q210_linear_attribution" -> { (s, d) =>
      graft.operators.EventAnalytics.linearAttribution(
          Tables.events(s, d).filter(col("user_id") < 40),
          "user_id", "ts_ns", "event_id", "event_type",
          touchTypes = Seq("view", "click"), convType = "purchase",
          gapNs = 1800L * 1000 * 1000 * 1000)
        .orderBy(col("user_id"), col("conv_id"), col("touch_id"))
    },

    // ---- funnel step-rate dashboard: users per step + step-to-step
    //      conversion rates over the q126 ordered-funnel rows ----
    "q211_funnel_rates" -> { (s, d) =>
      graft.operators.EventAnalytics.funnelRates(Tables.events(s, d),
          "user_id", "ts_ns", "event_type",
          Seq("view", "click", "purchase"))
        .orderBy(col("step"))
    },

    // ---- churn label/feature table: tenure, recency, counts and the
    //      7-day-inactivity churn bit vs the corpus horizon ----
    "q205_churn_labels" -> { (s, d) =>
      graft.operators.EventAnalytics.churnLabels(Tables.events(s, d),
          "user_id", "ts_ns", "event_type", convType = "purchase",
          churnNs = 7L * 86400 * 1000 * 1000 * 1000)
        .orderBy(col("user_id"))
    },

    // ---- behavioral entropy: event-type mix diversity per user in
    //      exact nano-nats (bot/engagement screen) ----
    "q206_behavior_entropy" -> { (s, d) =>
      graft.operators.EventAnalytics.behaviorEntropy(Tables.events(s, d),
          "user_id", "event_type")
        .orderBy(col("user_id"))
    },

    // ---- AUC per cohort: does value rank purchases equally well for
    //      both user-parity arms? (the fairness/segmentation audit) ----
    "q203_auc_by_group" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select((col("user_id") % 2).as("cohort"),
          round(col("value") * 100).cast("long").as("score_cents"),
          (col("event_type") === "purchase").as("label"))
      graft.pipeline.Stats.aucByGroup(ev, "cohort", "score_cents", "label")
        .orderBy(col("cohort"))
    },

    // ---- CUSUM changepoint screen: where each event type's daily
    //      activity level shifted (exact integer cumulative devs) ----
    "q176_cusum" -> { (s, d) =>
      graft.operators.EventAnalytics.cusumChangepoint(Tables.events(s, d),
          "event_type", "ts_ns", periodLength = 86400L * 1000 * 1000 * 1000)
        .orderBy(col("event_type"))
    },

    // ---- interval overlap join: which user sessions overlapped a
    //      global error burst? (bin equi-join, first-shared-bin dedup;
    //      bursts from calendar-bounded 10-min error buckets) ----
    "q191_session_incident_overlap" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val sessions = graft.operators.EventAnalytics.sessionStats(
          ev.filter(col("user_id") < 30), "user_id", "ts_ns", "event_id",
          gapNs = 1800L * 1000 * 1000 * 1000)
        .select(col("user_id"), col("session_id"),
          col("session_start"), col("session_end"))
      val bin10 = 600L * 1000 * 1000 * 1000
      val buckets = ev.filter(col("event_type") === "error")
        .select(expr(s"ts_ns div $bin10").as("__b")).distinct()
        .select(lit(1L).as("__g"), (col("__b") * bin10).as("s0"),
          ((col("__b") + 1) * bin10).as("e0"))
      val bursts = graft.operators.Intervals
        .coalesceIntervals(buckets, "__g", "s0", "e0")
        .select(col("island").as("burst_id"), col("start").as("burst_start"),
          col("end").as("burst_end"))
      graft.operators.Intervals.overlapJoin(
          sessions, "session_start", "session_end",
          bursts, "burst_start", "burst_end",
          binNs = 3600L * 1000 * 1000 * 1000)
        .select(col("user_id"), col("session_id"), col("burst_id"),
          col("overlap_ns"))
        .orderBy(col("user_id"), col("session_id"), col("burst_id"))
    },

    // ---- lag-1/lag-7 autocorrelation of daily activity per type:
    //      the seasonality diagnostic (exact integer deviations) ----
    "q189_autocorr" -> { (s, d) =>
      graft.operators.EventAnalytics.autocorr(Tables.events(s, d),
          "event_type", "ts_ns",
          periodLength = 86400L * 1000 * 1000 * 1000, lags = Seq(1, 7))
        .orderBy(col("event_type"), col("lag"))
    },

    // ---- period-over-period change report: DoD + WoW via calendar
    //      self equi-joins on the aggregated daily series ----
    "q197_period_changes" -> { (s, d) =>
      graft.operators.EventAnalytics.periodChanges(Tables.events(s, d),
          "event_type", "ts_ns",
          periodLength = 86400L * 1000 * 1000 * 1000)
        .orderBy(col("event_type"), col("period"))
    },

    // ---- Holt level+trend smoothing (α=β=1/4) with a 7-period-ahead
    //      forecast — integer micro recurrence, bit-exact ----
    "q193_holt" -> { (s, d) =>
      graft.operators.EventAnalytics.holtForecast(Tables.events(s, d),
          "event_type", "ts_ns",
          periodLength = 86400L * 1000 * 1000 * 1000,
          alphaDen = 4, horizon = 7)
        .orderBy(col("event_type"), col("period"))
    },

    // ---- single-exponential smoothing (α=1/4) of the daily activity
    //      series per type — integer micro-unit recurrence, bit-exact ----
    "q177_ses" -> { (s, d) =>
      graft.operators.EventAnalytics.sesForecast(Tables.events(s, d),
          "event_type", "ts_ns",
          periodLength = 86400L * 1000 * 1000 * 1000, alphaDen = 4)
        .orderBy(col("event_type"), col("period"))
    },

    // ---- pivot: per-user event-type count matrix via the real
    //      relational PIVOT operator (fixed value list keeps the
    //      schema static — the scale-safe form; .pivot without the
    //      list would collect the distinct types to the driver) ----
    "q174_event_pivot" -> { (s, d) =>
      val types = Seq("click", "error", "purchase", "signup", "view")
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .select(col("user_id") +:
          types.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
        .orderBy(col("user_id"))
    },
  )

  import OracleSql.md5LongSql

  /** KMV estimate replay over a grouped hash list column expr (k=64). */
  private def kmvEstSql(hs: String): String =
    s"ROUND(CASE WHEN len($hs) < 64 THEN len($hs)::DOUBLE ELSE 63.0 * 2147483647 / ($hs)[64]::DOUBLE END, 6)"

  /** Quantile-edge CTE chain replaying `Stats.histogramQuantiles` over
    * CTE `src`'s column expr `vexpr` (prefix `p` keeps chains disjoint).
    */
  private def qedgesCtes(p: String, src: String, vexpr: String,
                         bins: Int, qs: Seq[Double]): String =
    s"""${p}stats AS (SELECT MIN($vexpr)::DOUBLE AS mn,
       |  MAX($vexpr)::DOUBLE AS mx, COUNT($vexpr) AS n FROM $src),
       |${p}b AS (SELECT CASE WHEN s.mx = s.mn THEN 0
       |  ELSE LEAST(${bins - 1}, FLOOR(($vexpr::DOUBLE - s.mn) * ${bins}.0
       |    / (s.mx - s.mn))::INT) END AS bin FROM $src, ${p}stats s),
       |${p}c AS (SELECT bin, COUNT(*) AS c FROM ${p}b GROUP BY bin),
       |${p}cc AS (SELECT bin, c, CAST(SUM(c) OVER (ORDER BY bin
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |  AS cum FROM ${p}c),
       |${p}q AS (SELECT unnest([${qs.mkString(", ")}]::DOUBLE[]) AS q),
       |${p}est AS (SELECT ROUND(CASE WHEN s.mx = s.mn THEN s.mn
       |  ELSE s.mn + (s.mx - s.mn) / ${bins}.0
       |    * (cc.bin + (q.q * s.n - (cc.cum - cc.c)) / cc.c) END, 6) AS est
       |  FROM ${p}cc cc, ${p}q q, ${p}stats s
       |  WHERE cc.cum >= q.q * s.n AND (cc.cum - cc.c) < q.q * s.n)"""
      .stripMargin

  def oracleSql: Map[String, String] = Map(
    "q172_session_stats" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) AS ts_ns, event_id
        |  FROM events),
        |m AS (SELECT user_id, ts_ns, event_id,
        |    CASE WHEN LAG(ts_ns) OVER w IS NULL
        |         OR ts_ns - LAG(ts_ns) OVER w > 1800000000000
        |      THEN 1 ELSE 0 END AS nw
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id)),
        |sid AS (SELECT user_id, ts_ns,
        |    SUM(nw) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |      AS session_id
        |  FROM m)
        |SELECT user_id, session_id, MIN(ts_ns) AS session_start,
        |  MAX(ts_ns) AS session_end, COUNT(*)::BIGINT AS n_events,
        |  MAX(ts_ns) - MIN(ts_ns) AS duration_ns,
        |  COUNT(*) = 1 AS is_bounce
        |FROM sid GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    "q223_diurnal" ->
      """WITH c AS (SELECT event_type,
        |    (epoch_ns(ts) // 3600000000000) % 24 AS hour_of_day,
        |    COUNT(*)::BIGINT AS n
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, SUM(n)::BIGINT AS tt FROM c
        |  GROUP BY event_type)
        |SELECT c.event_type, c.hour_of_day, c.n,
        |  ROUND(c.n::DOUBLE / t.tt::DOUBLE, 6) AS share
        |FROM c JOIN t USING (event_type)
        |ORDER BY event_type, hour_of_day""".stripMargin,

    "q210_linear_attribution" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) AS ts_ns, event_id,
        |    event_type FROM events WHERE user_id < 40),
        |m AS (SELECT user_id, ts_ns, event_id, event_type,
        |    CASE WHEN LAG(ts_ns) OVER w IS NULL
        |         OR ts_ns - LAG(ts_ns) OVER w > 1800000000000
        |      THEN 1 ELSE 0 END AS nw
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id)),
        |sid AS (SELECT user_id, ts_ns, event_id, event_type,
        |    SUM(nw) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |      AS s
        |  FROM m),
        |tch AS (SELECT user_id, s, event_id AS touch_id, ts_ns AS touch_ns,
        |    event_type AS touch_type
        |  FROM sid WHERE event_type IN ('view', 'click')),
        |cv AS (SELECT user_id, s, event_id AS conv_id, ts_ns AS conv_ns
        |  FROM sid WHERE event_type = 'purchase'),
        |j AS (SELECT cv.user_id, cv.conv_id, tch.touch_id, tch.touch_type,
        |    COUNT(*) OVER (PARTITION BY cv.user_id, cv.s, cv.conv_id)
        |      AS nb
        |  FROM cv JOIN tch ON cv.user_id = tch.user_id AND cv.s = tch.s
        |  WHERE tch.touch_ns < cv.conv_ns)
        |SELECT user_id, conv_id, touch_id, touch_type,
        |  ROUND(1.0 / nb::DOUBLE, 6) AS weight
        |FROM j ORDER BY user_id, conv_id, touch_id""".stripMargin,

    "q211_funnel_rates" ->
      """WITH s1 AS (SELECT user_id, MIN(epoch_ns(ts)) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, MIN(epoch_ns(e.ts)) AS t2
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND epoch_ns(e.ts) >= s1.t1
        |  GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, MIN(epoch_ns(e.ts)) AS t3
        |  FROM events e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) >= s2.t2
        |  GROUP BY e.user_id),
        |c AS (SELECT (SELECT COUNT(*) FROM s1)::BIGINT AS n1,
        |  (SELECT COUNT(*) FROM s2)::BIGINT AS n2,
        |  (SELECT COUNT(*) FROM s3)::BIGINT AS n3)
        |SELECT 1 AS step, 'view' AS event_type, n1 AS n_users,
        |  NULL::DOUBLE AS rate FROM c
        |UNION ALL SELECT 2, 'click', n2,
        |  ROUND(n2::DOUBLE / n1::DOUBLE, 6) FROM c
        |UNION ALL SELECT 3, 'purchase', n3,
        |  ROUND(n3::DOUBLE / n2::DOUBLE, 6) FROM c
        |ORDER BY step""".stripMargin,

    "q205_churn_labels" ->
      """WITH h AS (SELECT MAX(epoch_ns(ts)) AS hz FROM events),
        |a AS (SELECT user_id, COUNT(*)::BIGINT AS n_events,
        |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |      END)::BIGINT AS n_conversions,
        |    MIN(epoch_ns(ts)) AS f, MAX(epoch_ns(ts)) AS l
        |  FROM events GROUP BY user_id)
        |SELECT user_id, n_events, n_conversions,
        |  l - f AS tenure_ns, hz - l AS recency_ns,
        |  hz - l > 604800000000000 AS churned
        |FROM a, h ORDER BY user_id""".stripMargin,

    "q206_behavior_entropy" ->
      """WITH c AS (SELECT user_id, event_type, COUNT(*)::BIGINT AS c
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT user_id, SUM(c)::BIGINT AS n,
        |    COUNT(*)::BIGINT AS n_types FROM c GROUP BY user_id)
        |SELECT c.user_id, t.n AS n_events, t.n_types,
        |  SUM(ROUND((c.c::DOUBLE / t.n::DOUBLE)
        |    * LN(t.n::DOUBLE / c.c::DOUBLE) * 1e9)::BIGINT)::BIGINT
        |    AS entropy_nano
        |FROM c JOIN t USING (user_id)
        |GROUP BY c.user_id, t.n, t.n_types
        |ORDER BY c.user_id""".stripMargin,

    "q203_auc_by_group" ->
      """WITH e AS (SELECT user_id % 2 AS cohort,
        |    ROUND(value * 100)::BIGINT AS s,
        |    event_type = 'purchase' AS lbl FROM events),
        |g AS (SELECT cohort, s, COUNT(*)::BIGINT AS c,
        |    SUM(CASE WHEN lbl THEN 1 ELSE 0 END)::BIGINT AS p
        |  FROM e GROUP BY cohort, s),
        |r AS (SELECT cohort, s, c, p, SUM(c) OVER (PARTITION BY cohort
        |    ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
        |    ROW)::BIGINT AS cum FROM g),
        |a AS (SELECT cohort, SUM((p * (2 * cum - c + 1))::HUGEINT) AS s2,
        |    SUM(p)::BIGINT AS pos_n, SUM(c - p)::BIGINT AS neg_n
        |  FROM r GROUP BY cohort)
        |SELECT cohort, pos_n, neg_n,
        |  ROUND((s2 - pos_n::HUGEINT * (pos_n + 1))::DOUBLE
        |    / (2.0 * pos_n::DOUBLE * neg_n::DOUBLE), 6) AS auc
        |FROM a ORDER BY cohort""".stripMargin,

    "q175_auc" ->
      """WITH e AS (SELECT ROUND(value * 100)::BIGINT AS s,
        |    event_type = 'purchase' AS lbl FROM events),
        |g AS (SELECT s, COUNT(*)::BIGINT AS c,
        |    SUM(CASE WHEN lbl THEN 1 ELSE 0 END)::BIGINT AS p
        |  FROM e GROUP BY s),
        |r AS (SELECT s, c, p, SUM(c) OVER (ORDER BY s
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |    AS cum FROM g),
        |a AS (SELECT SUM((p * (2 * cum - c + 1))::HUGEINT) AS s2,
        |    SUM(p)::BIGINT AS pos_n, SUM(c - p)::BIGINT AS neg_n FROM r)
        |SELECT pos_n, neg_n,
        |  ROUND((s2 - pos_n::HUGEINT * (pos_n + 1))::DOUBLE
        |    / (2.0 * pos_n::DOUBLE * neg_n::DOUBLE), 6) AS auc
        |FROM a""".stripMargin,

    "q176_cusum" ->
      """WITH s AS (SELECT event_type AS k,
        |    epoch_ns(ts) // 86400000000000 AS period, COUNT(*)::BIGINT AS c
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT k, SUM(c)::BIGINT AS total,
        |    COUNT(*)::BIGINT AS n_periods FROM s GROUP BY k),
        |cu AS (SELECT s.k, s.period, t.total, t.n_periods,
        |    SUM(s.c * t.n_periods - t.total) OVER (PARTITION BY s.k
        |      ORDER BY s.period ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      CURRENT ROW)::BIGINT AS cusum
        |  FROM s JOIN t ON s.k = t.k),
        |rk AS (SELECT k, n_periods, total, period, ABS(cusum) AS a,
        |    ROW_NUMBER() OVER (PARTITION BY k
        |      ORDER BY ABS(cusum) DESC, period ASC) AS rn FROM cu)
        |SELECT k AS event_type, n_periods, total, period AS cp_period,
        |  a AS max_abs_cusum
        |FROM rk WHERE rn = 1 ORDER BY event_type""".stripMargin,

    "q191_session_incident_overlap" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) AS ts_ns, event_id,
        |    event_type FROM events),
        |m AS (SELECT user_id, ts_ns, event_id,
        |    CASE WHEN LAG(ts_ns) OVER w IS NULL
        |         OR ts_ns - LAG(ts_ns) OVER w > 1800000000000
        |      THEN 1 ELSE 0 END AS nw
        |  FROM e WHERE user_id < 30
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id)),
        |sid AS (SELECT user_id, ts_ns,
        |    SUM(nw) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |      AS session_id
        |  FROM m),
        |sess AS (SELECT user_id, session_id, MIN(ts_ns) AS session_start,
        |    MAX(ts_ns) AS session_end
        |  FROM sid GROUP BY user_id, session_id),
        |bk AS (SELECT DISTINCT ts_ns // 600000000000 AS b FROM e
        |  WHERE event_type = 'error'),
        |iv AS (SELECT b * 600000000000 AS s0,
        |  (b + 1) * 600000000000 AS e0 FROM bk),
        |f AS (SELECT s0, e0,
        |    CASE WHEN MAX(e0) OVER pw IS NULL OR s0 > MAX(e0) OVER pw
        |      THEN 1 ELSE 0 END AS nw
        |  FROM iv
        |  WINDOW pw AS (ORDER BY s0, e0
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |g AS (SELECT s0, e0,
        |    CAST(SUM(nw) OVER (ORDER BY s0, e0
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS island
        |  FROM f),
        |bursts AS (SELECT island AS burst_id, MIN(s0) AS burst_start,
        |    MAX(e0) AS burst_end
        |  FROM g GROUP BY island)
        |SELECT s.user_id, s.session_id, b.burst_id,
        |  LEAST(s.session_end, b.burst_end)
        |    - GREATEST(s.session_start, b.burst_start) AS overlap_ns
        |FROM sess s JOIN bursts b
        |  ON s.session_start <= b.burst_end
        | AND b.burst_start <= s.session_end
        |ORDER BY s.user_id, s.session_id, b.burst_id""".stripMargin,

    "q189_autocorr" ->
      """WITH s AS (SELECT event_type AS k,
        |    epoch_ns(ts) // 86400000000000 AS p, COUNT(*)::BIGINT AS c
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT k, SUM(c)::BIGINT AS tt, COUNT(*)::BIGINT AS n
        |  FROM s GROUP BY k),
        |d AS (SELECT s.k, s.p, t.n AS n_periods, s.c * t.n - t.tt AS dev
        |  FROM s JOIN t ON s.k = t.k),
        |l AS (SELECT k, n_periods, dev,
        |    LEAD(dev, 1) OVER w AS d1, LEAD(dev, 7) OVER w AS d7
        |  FROM d WINDOW w AS (PARTITION BY k ORDER BY p)),
        |a AS (SELECT k, n_periods,
        |    SUM(dev::HUGEINT * d1::HUGEINT) AS n1,
        |    SUM(dev::HUGEINT * d7::HUGEINT) AS n7,
        |    SUM(dev::HUGEINT * dev::HUGEINT) AS dn
        |  FROM l GROUP BY k, n_periods)
        |SELECT k AS event_type, n_periods, 1 AS lag,
        |  ROUND(n1::DOUBLE / dn::DOUBLE, 6) AS autocorr FROM a
        |UNION ALL SELECT k, n_periods, 7,
        |  ROUND(n7::DOUBLE / dn::DOUBLE, 6) FROM a
        |ORDER BY event_type, lag""".stripMargin,

    "q197_period_changes" ->
      """WITH s AS (SELECT event_type AS k,
        |    epoch_ns(ts) // 86400000000000 AS period, COUNT(*)::BIGINT AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT s.k AS event_type, s.period, s.n,
        |  d.n AS prev_day,
        |  ROUND((s.n - d.n)::DOUBLE / d.n::DOUBLE, 6) AS dod_pct,
        |  w.n AS prev_week,
        |  ROUND((s.n - w.n)::DOUBLE / w.n::DOUBLE, 6) AS wow_pct
        |FROM s
        |LEFT JOIN s d ON d.k = s.k AND d.period = s.period - 1
        |LEFT JOIN s w ON w.k = s.k AND w.period = s.period - 7
        |ORDER BY event_type, s.period""".stripMargin,

    "q193_holt" ->
      """WITH RECURSIVE s AS (SELECT event_type AS k,
        |    epoch_ns(ts) // 86400000000000 AS p, COUNT(*)::BIGINT AS c
        |  FROM events GROUP BY 1, 2),
        |r0 AS (SELECT k, p, c,
        |    ROW_NUMBER() OVER (PARTITION BY k ORDER BY p) AS rn FROM s),
        |f(k, p, c, rn, l, b) AS (
        |  SELECT k, p, c, rn, c * 1000000, 0::BIGINT FROM r0 WHERE rn = 1
        |  UNION ALL
        |  SELECT r0.k, r0.p, r0.c, r0.rn,
        |    (r0.c * 1000000 + 3 * (f.l + f.b)) // 4,
        |    (((r0.c * 1000000 + 3 * (f.l + f.b)) // 4 - f.l) + 3 * f.b) // 4
        |  FROM f JOIN r0 ON r0.k = f.k AND r0.rn = f.rn + 1),
        |lastrow AS (SELECT k, l, b FROM (
        |  SELECT k, l, b, ROW_NUMBER() OVER (PARTITION BY k
        |    ORDER BY rn DESC) AS rr FROM f) t WHERE rr = 1)
        |SELECT f.k AS event_type, f.p AS period, f.c AS n_events,
        |  f.l::BIGINT AS level_micro, f.b::BIGINT AS trend_micro,
        |  (lastrow.l + 7 * lastrow.b)::BIGINT AS forecast_micro
        |FROM f JOIN lastrow ON f.k = lastrow.k
        |ORDER BY event_type, period""".stripMargin,

    "q177_ses" ->
      """WITH RECURSIVE s AS (SELECT event_type AS k,
        |    epoch_ns(ts) // 86400000000000 AS p, COUNT(*)::BIGINT AS c
        |  FROM events GROUP BY 1, 2),
        |r0 AS (SELECT k, p, c,
        |    ROW_NUMBER() OVER (PARTITION BY k ORDER BY p) AS rn FROM s),
        |f(k, p, c, rn, sm) AS (
        |  SELECT k, p, c, rn, c * 1000000 FROM r0 WHERE rn = 1
        |  UNION ALL
        |  SELECT r0.k, r0.p, r0.c, r0.rn,
        |    (r0.c * 1000000 + 3 * f.sm) // 4
        |  FROM f JOIN r0 ON r0.k = f.k AND r0.rn = f.rn + 1)
        |SELECT k AS event_type, p AS period, c AS n_events,
        |  sm::BIGINT AS smooth_micro
        |FROM f ORDER BY event_type, period""".stripMargin,

    "q174_event_pivot" ->
      """SELECT user_id,
        |  SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS n_click,
        |  SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS n_error,
        |  SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n_purchase,
        |  SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS n_signup,
        |  SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS n_view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q171_rfm" -> {
      val qs = (1 until 5).map(i => i.toDouble / 5)
      s"""WITH gmax AS (SELECT MAX(epoch_ns(ts)) AS g FROM events
         |  WHERE event_type = 'purchase'),
         |f AS (SELECT user_id,
         |    (g - MAX(epoch_ns(ts))) // 86400000000000 AS recency_days,
         |    COUNT(*)::BIGINT AS frequency,
         |    SUM(ROUND(value * 100)::BIGINT)::BIGINT AS monetary_cents
         |  FROM events, gmax WHERE event_type = 'purchase'
         |  GROUP BY user_id, g),
         |${qedgesCtes("r", "f", "recency_days", 64, qs)},
         |${qedgesCtes("fq", "f", "frequency", 64, qs)},
         |${qedgesCtes("m", "f", "monetary_cents", 64, qs)}
         |SELECT user_id, recency_days, frequency, monetary_cents,
         |  (SELECT COUNT(*) FROM rest e
         |    WHERE f.recency_days::DOUBLE > e.est)::INT AS r_bin,
         |  (SELECT COUNT(*) FROM fqest e
         |    WHERE f.frequency::DOUBLE > e.est)::INT AS f_bin,
         |  (SELECT COUNT(*) FROM mest e
         |    WHERE f.monetary_cents::DOUBLE > e.est)::INT AS m_bin,
         |  ((SELECT COUNT(*) FROM rest e
         |    WHERE f.recency_days::DOUBLE > e.est) + 1) * 100
         |  + ((SELECT COUNT(*) FROM fqest e
         |    WHERE f.frequency::DOUBLE > e.est) + 1) * 10
         |  + (SELECT COUNT(*) FROM mest e
         |    WHERE f.monetary_cents::DOUBLE > e.est)::INT + 1 AS rfm_code
         |FROM f ORDER BY user_id""".stripMargin
    },

    "q160_theil_sen" ->
      """WITH s AS (SELECT event_type AS k,
        |    epoch_ns(ts) // 86400000000000 AS p, COUNT(*)::BIGINT AS n
        |  FROM events GROUP BY 1, 2),
        |pr AS (SELECT a.k, a.p AS p_a, b.p AS p_b,
        |    ROUND((b.n - a.n)::DOUBLE / (b.p - a.p)::DOUBLE, 6) AS slope
        |  FROM s a JOIN s b ON a.k = b.k AND a.p < b.p),
        |r AS (SELECT k, slope,
        |    ROW_NUMBER() OVER (PARTITION BY k
        |      ORDER BY slope ASC, p_a ASC, p_b ASC) AS rn,
        |    COUNT(*) OVER (PARTITION BY k) AS cnt FROM pr),
        |np AS (SELECT k, COUNT(*)::BIGINT AS n_periods FROM s GROUP BY k)
        |SELECT r.k AS event_type, np.n_periods, r.cnt::BIGINT AS n_pairs,
        |  r.slope
        |FROM r JOIN np ON r.k = np.k WHERE rn = (cnt + 1) // 2
        |ORDER BY event_type""".stripMargin,

    "q161_kmv_setops" ->
      s"""WITH d0 AS (SELECT DISTINCT event_type AS t, user_id AS u
         |  FROM events WHERE value > 150),
         |h AS (SELECT t, u, ${md5LongSql("u::VARCHAR")} AS hv FROM d0),
         |types AS (SELECT DISTINCT t FROM d0),
         |prs AS (SELECT a.t AS type_a, b.t AS type_b
         |  FROM types a JOIN types b ON a.t < b.t),
         |per AS (SELECT t, ${kmvEstSql("hs")} AS est FROM (
         |  SELECT t, list_sort(list_distinct(list(hv))) AS hs
         |  FROM h GROUP BY t) g),
         |uni AS (SELECT type_a, type_b, ${kmvEstSql("hs")} AS est_union
         |  FROM (SELECT p.type_a, p.type_b,
         |      list_sort(list_distinct(list(h.hv))) AS hs
         |    FROM prs p JOIN h ON h.t = p.type_a OR h.t = p.type_b
         |    GROUP BY p.type_a, p.type_b) g),
         |ex AS (SELECT x.t AS type_a, y.t AS type_b,
         |    COUNT(DISTINCT x.u)::BIGINT AS exact_intersect
         |  FROM d0 x JOIN d0 y ON x.u = y.u AND x.t < y.t
         |  GROUP BY 1, 2)
         |SELECT u.type_a, u.type_b, pa.est AS est_a, pb.est AS est_b,
         |  u.est_union,
         |  ROUND(pa.est + pb.est - u.est_union, 6) AS est_intersect,
         |  COALESCE(ex.exact_intersect, 0) AS exact_intersect
         |FROM uni u
         |JOIN per pa ON u.type_a = pa.t
         |JOIN per pb ON u.type_b = pb.t
         |LEFT JOIN ex ON u.type_a = ex.type_a AND u.type_b = ex.type_b
         |ORDER BY u.type_a, u.type_b""".stripMargin,

    "q168_twap" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) AS ts_ns, event_id,
        |    ROUND(value * 100)::BIGINT AS cents FROM events),
        |l AS (SELECT user_id, ts_ns, cents,
        |    LEAD(ts_ns) OVER (PARTITION BY user_id
        |      ORDER BY ts_ns, event_id) AS nxt FROM e),
        |a AS (SELECT user_id, COUNT(*)::BIGINT AS n_obs,
        |    SUM(cents::HUGEINT * (nxt - ts_ns)::HUGEINT) AS sumc,
        |    MAX(ts_ns) - MIN(ts_ns) AS span
        |  FROM l GROUP BY user_id)
        |SELECT user_id, n_obs,
        |  ROUND(sumc::DOUBLE / span::DOUBLE / 100.0, 6) AS twap
        |FROM a WHERE span > 0 ORDER BY user_id""".stripMargin,

    "q169_interp" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) AS ts_ns, event_id, value
        |  FROM events WHERE user_id < 20),
        |obs AS (SELECT user_id, period, obs FROM (
        |  SELECT user_id, ts_ns // 3600000000000 AS period,
        |    ROUND(value * 100)::BIGINT AS obs,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, ts_ns // 3600000000000
        |      ORDER BY ts_ns DESC, event_id DESC) AS rn FROM e) t
        |  WHERE rn = 1),
        |b AS (SELECT user_id, MIN(period) AS lo, MAX(period) AS hi
        |  FROM obs GROUP BY user_id),
        |g AS (SELECT user_id, unnest(range(lo, hi + 1)) AS period FROM b),
        |j AS (SELECT g.user_id, g.period, obs.obs FROM g
        |  LEFT JOIN obs ON g.user_id = obs.user_id AND g.period = obs.period),
        |wv AS (SELECT user_id, period, obs,
        |    last_value(obs IGNORE NULLS) OVER wb AS pv,
        |    last_value(CASE WHEN obs IS NOT NULL THEN period END
        |      IGNORE NULLS) OVER wb AS pp,
        |    first_value(obs IGNORE NULLS) OVER wf AS nv,
        |    first_value(CASE WHEN obs IS NOT NULL THEN period END
        |      IGNORE NULLS) OVER wf AS np
        |  FROM j
        |  WINDOW wb AS (PARTITION BY user_id ORDER BY period ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wf AS (PARTITION BY user_id ORDER BY period ASC
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, period,
        |  (CASE WHEN obs IS NOT NULL THEN obs * 10000
        |    WHEN pv IS NULL THEN NULL
        |    WHEN nv IS NULL THEN pv * 10000
        |    ELSE pv * 10000 + ((nv - pv) * 10000 * (period - pp))
        |      // (np - pp) END)::DOUBLE / 1e6 AS value,
        |  obs IS NULL AS was_filled
        |FROM wv ORDER BY user_id, period""".stripMargin,

    "q164_asof_state" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_ns(ts) AS ts_ns FROM events WHERE user_id < 30),
        |c AS (SELECT user_id, event_type, ts_ns, event_id,
        |    LAG(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts_ns, event_id) AS pv
        |  FROM e WHERE event_type <> 'purchase'),
        |k AS (SELECT user_id, event_type AS state, ts_ns FROM c
        |  WHERE pv IS NULL OR pv <> event_type),
        |p AS (SELECT user_id, event_id, ts_ns FROM e
        |  WHERE event_type = 'purchase')
        |SELECT p.user_id, p.event_id, p.ts_ns, k.state AS asof_state
        |FROM p ASOF LEFT JOIN k
        |  ON p.user_id = k.user_id AND p.ts_ns >= k.ts_ns
        |ORDER BY p.user_id, p.ts_ns, p.event_id""".stripMargin,

    "q162_locf" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) AS ts_ns, event_id, value
        |  FROM events WHERE user_id < 20),
        |obs AS (SELECT user_id, period, value AS obs FROM (
        |  SELECT user_id, ts_ns // 3600000000000 AS period, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, ts_ns // 3600000000000
        |      ORDER BY ts_ns DESC, event_id DESC) AS rn FROM e) t
        |  WHERE rn = 1),
        |b AS (SELECT user_id, MIN(period) AS lo, MAX(period) AS hi
        |  FROM obs GROUP BY user_id),
        |g AS (SELECT user_id, unnest(range(lo, hi + 1)) AS period FROM b),
        |j AS (SELECT g.user_id, g.period, obs.obs FROM g
        |  LEFT JOIN obs ON g.user_id = obs.user_id AND g.period = obs.period)
        |SELECT user_id, period,
        |  last_value(obs IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY period ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
        |  obs IS NULL AND last_value(obs IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY period ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) IS NOT NULL
        |    AS was_filled
        |FROM j ORDER BY user_id, period""".stripMargin,

    "q148_attribution" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_ns(ts) AS ts_ns FROM events),
        |wv AS (SELECT user_id, event_id, event_type, ts_ns,
        |  first_value(CASE WHEN event_type IN ('click', 'view')
        |    THEN event_id END IGNORE NULLS) OVER w AS first_id,
        |  first_value(CASE WHEN event_type IN ('click', 'view')
        |    THEN ts_ns END IGNORE NULLS) OVER w AS first_ns,
        |  first_value(CASE WHEN event_type IN ('click', 'view')
        |    THEN event_type END IGNORE NULLS) OVER w AS first_type,
        |  last_value(CASE WHEN event_type IN ('click', 'view')
        |    THEN event_id END IGNORE NULLS) OVER w AS last_id,
        |  last_value(CASE WHEN event_type IN ('click', 'view')
        |    THEN ts_ns END IGNORE NULLS) OVER w AS last_ns,
        |  last_value(CASE WHEN event_type IN ('click', 'view')
        |    THEN event_type END IGNORE NULLS) OVER w AS last_type
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT user_id, event_id AS conv_id, ts_ns AS conv_ns,
        |  first_id, first_ns, first_type, last_id, last_ns, last_type
        |FROM wv WHERE event_type = 'purchase'
        |ORDER BY user_id, conv_ns, conv_id""".stripMargin,

    "q157_ab_test" ->
      """WITH u AS (SELECT user_id, MAX(user_id % 2) AS variant,
        |    MAX(CASE WHEN event_type = 'purchase' AND value > 99
        |      THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY user_id),
        |a AS (SELECT
        |  SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
        |  SUM(CASE WHEN variant = 0 THEN conv ELSE 0 END)::BIGINT AS conv_a,
        |  SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b,
        |  SUM(CASE WHEN variant = 1 THEN conv ELSE 0 END)::BIGINT AS conv_b
        |  FROM u)
        |SELECT n_a, conv_a, n_b, conv_b,
        |  ROUND(conv_a::DOUBLE / n_a::DOUBLE, 6) AS rate_a,
        |  ROUND(conv_b::DOUBLE / n_b::DOUBLE, 6) AS rate_b,
        |  ROUND(conv_b::DOUBLE / n_b::DOUBLE
        |    - conv_a::DOUBLE / n_a::DOUBLE, 6) AS lift,
        |  ROUND((conv_b::DOUBLE / n_b::DOUBLE - conv_a::DOUBLE / n_a::DOUBLE)
        |    / SQRT(((conv_a + conv_b)::DOUBLE / (n_a + n_b)::DOUBLE)
        |      * (1.0 - (conv_a + conv_b)::DOUBLE / (n_a + n_b)::DOUBLE)
        |      * (1.0 / n_a::DOUBLE + 1.0 / n_b::DOUBLE)), 6) AS z
        |FROM a""".stripMargin,

    // full recompute over base ∪ delta — asserts the merge is exact
    "q149_incremental_agg" ->
      """SELECT user_id, COUNT(*) AS n,
        |  SUM(value::DECIMAL(18,2))::DOUBLE AS total_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q140_scd2" ->
      """WITH c AS (
        |  SELECT user_id, event_type, epoch_ns(ts) AS tns, event_id,
        |    LAG(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts), event_id) AS pv
        |  FROM events WHERE user_id < 30),
        |k AS (SELECT user_id, event_type, tns, event_id FROM c
        |  WHERE pv IS NULL OR pv <> event_type),
        |f AS (SELECT user_id, event_type AS state, tns AS valid_from,
        |    LEAD(tns) OVER (PARTITION BY user_id ORDER BY tns, event_id)
        |      AS valid_to
        |  FROM k)
        |SELECT user_id, state, valid_from, valid_to,
        |  valid_to IS NULL AS is_current
        |FROM f ORDER BY user_id, valid_from""".stripMargin,

    "q141_gap_fill" ->
      """WITH sp AS (SELECT user_id,
        |    epoch_ns(ts) // 3600000000000 AS period, COUNT(*) AS n
        |  FROM events WHERE user_id < 20 GROUP BY user_id, period),
        |b AS (SELECT user_id, MIN(period) AS lo, MAX(period) AS hi
        |  FROM sp GROUP BY user_id),
        |g AS (SELECT user_id, unnest(range(lo, hi + 1)) AS period FROM b)
        |SELECT g.user_id, g.period, COALESCE(sp.n, 0) AS n
        |FROM g LEFT JOIN sp
        |  ON g.user_id = sp.user_id AND g.period = sp.period
        |ORDER BY g.user_id, g.period""".stripMargin,

    "q142_growth" ->
      """WITH du AS (SELECT DISTINCT epoch_ns(ts) // 86400000000000 AS period,
        |    user_id FROM events),
        |dau AS (SELECT period, COUNT(*) AS dau FROM du GROUP BY period),
        |fu AS (SELECT user_id, MIN(period) AS period FROM du GROUP BY user_id),
        |nu AS (SELECT period, COUNT(*) AS new_users FROM fu GROUP BY period)
        |SELECT dau.period, dau.dau, COALESCE(nu.new_users, 0) AS new_users,
        |  dau.dau - COALESCE(nu.new_users, 0) AS returning,
        |  CAST(SUM(COALESCE(nu.new_users, 0)) OVER (ORDER BY dau.period
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
        |FROM dau LEFT JOIN nu ON dau.period = nu.period
        |ORDER BY dau.period""".stripMargin,

    "q137_top_paths" ->
      s"""WITH s AS (
         |  SELECT user_id, event_id, event_type, epoch_ns(ts) AS tns,
         |    CASE WHEN LAG(epoch_ns(ts)) OVER w IS NULL
         |      OR epoch_ns(ts) - LAG(epoch_ns(ts)) OVER w > $SessionGapNs
         |      THEN 1 ELSE 0 END AS nw
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)),
         |g AS (
         |  SELECT user_id, event_id, event_type, tns,
         |    SUM(nw) OVER (PARTITION BY user_id ORDER BY tns, event_id
         |      ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM s),
         |p AS (
         |  SELECT event_type AS t0,
         |    LEAD(event_type, 1) OVER w2 AS t1,
         |    LEAD(event_type, 2) OVER w2 AS t2,
         |    sid, LEAD(sid, 2) OVER w2 AS sid2
         |  FROM g
         |  WINDOW w2 AS (PARTITION BY user_id ORDER BY tns, event_id)),
         |c AS (SELECT t0 || '>' || t1 || '>' || t2 AS path, COUNT(*) AS n
         |  FROM p WHERE t2 IS NOT NULL AND sid2 = sid GROUP BY path
         |  ORDER BY n DESC, path ASC LIMIT 20)
         |SELECT ROW_NUMBER() OVER (ORDER BY n DESC, path ASC)::INT AS rank,
         |  path, n
         |FROM c ORDER BY rank""".stripMargin,

    "q136_merge_intervals" ->
      """WITH iv AS (SELECT user_id, epoch_ns(ts) AS s0,
        |    epoch_ns(ts) + 1800000000000 AS e0
        |  FROM events WHERE event_type = 'error'),
        |f AS (SELECT user_id, s0, e0,
        |    CASE WHEN MAX(e0) OVER pw IS NULL OR s0 > MAX(e0) OVER pw
        |      THEN 1 ELSE 0 END AS nw
        |  FROM iv
        |  WINDOW pw AS (PARTITION BY user_id ORDER BY s0, e0
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |g AS (SELECT user_id, s0, e0,
        |    CAST(SUM(nw) OVER (PARTITION BY user_id ORDER BY s0, e0
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS island
        |  FROM f)
        |SELECT user_id, island, MIN(s0) AS span_start, MAX(e0) AS span_end,
        |  COUNT(*) AS n_merged
        |FROM g GROUP BY user_id, island
        |ORDER BY user_id, island""".stripMargin,

    "q129_transition_matrix" ->
      """WITH t AS (
        |  SELECT LAG(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts), event_id) AS prev_type,
        |    event_type AS next_type
        |  FROM events),
        |c AS (SELECT prev_type, next_type, COUNT(*) AS n FROM t
        |  WHERE prev_type IS NOT NULL GROUP BY prev_type, next_type),
        |tot AS (SELECT prev_type, SUM(n) AS tot FROM c GROUP BY prev_type)
        |SELECT c.prev_type, c.next_type, c.n,
        |  ROUND(c.n::DOUBLE / tot.tot::DOUBLE, 6) AS p
        |FROM c JOIN tot ON c.prev_type = tot.prev_type
        |ORDER BY c.prev_type, c.next_type""".stripMargin,

    // every SUM-derived output carries ::BIGINT — DuckDB's HUGEINT
    // (int128) canonicalizes differently across driver versions
    "q130_daily_anomaly" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS period,
        |    COUNT(*) AS n
        |  FROM events GROUP BY event_type, period),
        |w AS (
        |  SELECT event_type, period, n,
        |    COUNT(*) OVER tw AS w_n,
        |    CAST(SUM(n) OVER tw AS BIGINT) AS w_sum,
        |    CAST(SUM(n * n) OVER tw AS BIGINT) AS w_sumsq
        |  FROM daily
        |  WINDOW tw AS (PARTITION BY event_type ORDER BY period
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT event_type, period, n, w_n, w_sum,
        |  (w_n * n - w_sum)::BIGINT AS z_num,
        |  (w_n * w_sumsq - w_sum * w_sum)::BIGINT AS z_den2
        |FROM w ORDER BY event_type, period""".stripMargin,

    // round-tripping pivot -> unpivot with zero-drop equals the plain
    // long-form aggregation
    "q72_unpivot" ->
      """SELECT user_id, event_type, COUNT(*) AS n
        |FROM events WHERE user_id < 30
        |GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin,

    "q128_dau_wau" ->
      """WITH du AS (SELECT DISTINCT epoch_ns(ts) // 86400000000000 AS day,
        |    user_id FROM events),
        |dau AS (SELECT day, COUNT(*) AS dau FROM du GROUP BY day),
        |w AS (SELECT unnest(range(day, day + 7)) AS day, user_id FROM du),
        |wau AS (SELECT day, COUNT(DISTINCT user_id) AS wau FROM w GROUP BY day)
        |SELECT dau.day, dau.dau, wau.wau,
        |  ROUND(dau.dau::DOUBLE / wau.wau::DOUBLE, 6) AS stickiness
        |FROM dau JOIN wau ON dau.day = wau.day
        |ORDER BY dau.day""".stripMargin,

    "q126_funnel" ->
      """WITH s1 AS (SELECT user_id, MIN(epoch_ns(ts)) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, MIN(epoch_ns(e.ts)) AS t2
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND epoch_ns(e.ts) >= s1.t1
        |  GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, MIN(epoch_ns(e.ts)) AS t3
        |  FROM events e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) >= s2.t2
        |  GROUP BY e.user_id)
        |SELECT s1.user_id, s1.t1, s2.t2, s3.t3
        |FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
        |  LEFT JOIN s3 ON s1.user_id = s3.user_id
        |ORDER BY s1.user_id""".stripMargin,

    "q127_cohort_retention" ->
      """WITH f AS (SELECT user_id,
        |    MIN(epoch_ns(ts)) // 86400000000000 AS cohort
        |  FROM events GROUP BY user_id),
        |sz AS (SELECT cohort, COUNT(*) AS cohort_size FROM f GROUP BY cohort),
        |a AS (SELECT f.cohort,
        |    (epoch_ns(e.ts) // 86400000000000) - f.cohort AS period,
        |    COUNT(DISTINCT e.user_id) AS n_active
        |  FROM events e JOIN f ON e.user_id = f.user_id
        |  GROUP BY f.cohort, period)
        |SELECT a.cohort, a.period, a.n_active, sz.cohort_size,
        |  ROUND(a.n_active::DOUBLE / sz.cohort_size::DOUBLE, 6) AS retention
        |FROM a JOIN sz ON a.cohort = sz.cohort
        |ORDER BY a.cohort, a.period""".stripMargin,

    "q71_session_window" ->
      """WITH g AS (
        |  SELECT user_id, epoch_us(ts) AS tus,
        |    CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
        |      OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w >= 1800000000
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM events WHERE user_id < 30
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))),
        |s AS (
        |  SELECT user_id, tus,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM g)
        |SELECT user_id, MIN(tus) AS start_us, COUNT(*) AS n_events
        |FROM s GROUP BY user_id, sid ORDER BY user_id, start_us""".stripMargin,

    "q70_pivot" ->
      """SELECT user_id,
        |  COUNT(*) FILTER (event_type = 'click') AS click,
        |  COUNT(*) FILTER (event_type = 'error') AS error,
        |  COUNT(*) FILTER (event_type = 'purchase') AS purchase,
        |  COUNT(*) FILTER (event_type = 'signup') AS signup,
        |  COUNT(*) FILTER (event_type = 'view') AS view
        |FROM events WHERE user_id < 30
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q69_running_total" ->
      """SELECT user_id, event_id,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
        |    PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS running_value
        |FROM events WHERE user_id < 20
        |ORDER BY user_id, event_id""".stripMargin,

    "q68_range_join" ->
      """SELECT c.event_id AS click_id, e.event_id AS error_id, c.user_id
        |FROM events c JOIN events e
        |  ON c.user_id = e.user_id
        | AND c.event_type = 'click' AND e.event_type = 'error'
        | AND epoch_ns(c.ts) >= epoch_ns(e.ts)
        | AND epoch_ns(c.ts) <= epoch_ns(e.ts) + 3600000000000
        |ORDER BY click_id, error_id""".stripMargin,

    "q67_asof_join" ->
      """WITH r AS (
        |  SELECT * FROM (
        |    SELECT event_id AS p_event_id, user_id, epoch_ns(ts) AS tns, value,
        |      ROW_NUMBER() OVER (PARTITION BY user_id, epoch_ns(ts)
        |        ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_type = 'purchase') WHERE rn = 1),
        |l AS (SELECT event_id, user_id, epoch_ns(ts) AS tns
        |      FROM events WHERE event_type = 'click')
        |SELECT l.event_id, l.user_id, r.p_event_id AS prior_purchase_id,
        |  r.value AS prior_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.tns >= r.tns
        |ORDER BY l.event_id""".stripMargin,

    "q60_hourly_agg" ->
      s"""SELECT epoch_ns(ts) // $HourNs AS hour_id,
         |  strftime(make_timestamp((epoch_ns(ts) // $HourNs) * ${HourNs / 1000}), '%Y-%m-%d %H:%M:%S') AS hour_ts,
         |  COUNT(*) AS n_events,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
         |  COUNT(DISTINCT user_id) AS n_users
         |FROM events GROUP BY hour_id, hour_ts ORDER BY hour_id""".stripMargin,

    "q61_sessionize" ->
      s"""SELECT user_id, COUNT(*) AS n_events,
         |  CAST(SUM(new_session) AS BIGINT) AS n_sessions
         |FROM (SELECT user_id,
         |    CASE WHEN prev_ns IS NULL OR epoch_ns(ts) - prev_ns > $SessionGapNs
         |      THEN 1 ELSE 0 END AS new_session
         |  FROM (SELECT user_id, ts,
         |      LAG(epoch_ns(ts)) OVER (PARTITION BY user_id
         |        ORDER BY epoch_ns(ts), event_id) AS prev_ns
         |    FROM events) t) u
         |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q62_event_type_stats" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  MIN(value) AS min_value, MAX(value) AS max_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q63_json_extract" ->
      """SELECT CAST(json_extract_string(props, '$.k')::INT % 10 AS INT) AS k_mod,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY k_mod ORDER BY k_mod""".stripMargin,

    "q64_tumbling_15min" ->
      s"""SELECT epoch_ns(ts) // $Win15Ns AS win_id,
         |  strftime(make_timestamp((epoch_ns(ts) // $Win15Ns) * ${Win15Ns / 1000}), '%Y-%m-%d %H:%M:%S') AS win_ts,
         |  event_type, COUNT(*) AS n
         |FROM events GROUP BY win_id, win_ts, event_type
         |ORDER BY win_id, event_type""".stripMargin,

    "q65_top_users" ->
      """SELECT user_id, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY user_id
        |ORDER BY total_value DESC, user_id ASC LIMIT 20""".stripMargin,

    "q66_gap_stats" ->
      """SELECT user_id, n,
        |  (max_ns - min_ns) // 1000000000 AS span_sec,
        |  ((max_ns - min_ns) // (n - 1)) // 1000000 AS avg_gap_ms
        |FROM (SELECT user_id, COUNT(*) AS n,
        |    MIN(epoch_ns(ts)) AS min_ns, MAX(epoch_ns(ts)) AS max_ns
        |  FROM events GROUP BY user_id) t
        |WHERE n >= 2 ORDER BY user_id""".stripMargin,
  )
}
