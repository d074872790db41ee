package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generic relational operator conformance queries over the driver's
  * TPC-H-ish tables. Each query exercises one operator family from
  * SURVEY.md §2 (the reference's relational shapes re-expressed
  * Spark-first), and each has an exact DuckDB oracle in [[oracles]].
  *
  * Reference citations (what each operator re-imagines):
  *  - q01: per-group aggregation (osm-live-updates A5/A6 batch stats,
  *    src/osm/OsmChangeHandler.cpp:108-116).
  *  - q03: W1 dedup-to-latest window (src/osm/OsmUpdater.cpp:117-168).
  *  - q04: J1-style semi-join closure (src/sparql/QueryWriter.cpp:169-184).
  *  - q05: SO2 anti-join "not in change file" guard
  *    (src/osm/OsmChangeHandler.cpp:224-226).
  *  - q06: SO1/A4 id-set unions (src/osm/OsmChangeHandler.cpp:444-481).
  *  - q07: J8/A1 ordered GROUP_CONCAT reconstruction
  *    (src/sparql/QueryWriter.cpp:115-134).
  *  - q08: A3 max-timestamp top-1 (src/sparql/QueryWriter.cpp:81-87).
  *  - q09: top-k per group window (north-rule kNN ranking shape, W6).
  *  - q10: A5 facts-count per object (tests/data/node.ttl:32).
  */
object RelationalQueries {
  import Tables._

  /** Distinct (user_id, epoch-week) activity — the shared base of the
    * engagement pair q181 (retention cohorts) and q186 (rolling
    * actives): one bucketing expression so the two dashboards can
    * never disagree on what a week is. */
  private def weeklyActivity(s: SparkSession, dir: String): DataFrame =
    events(s, dir).select(col("user_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP)) div 604800000000")
          .as("week"))
      .distinct()

  /** q167's funnel fold over an arbitrary (user_id, ts, event_type)
    * frame — factored so FunnelPropSpec can drive random event streams
    * (including equal-timestamp ties) against brute force. Ties
    * process in funnel-stage order (view before click before
    * purchase), reproducing the `ts >= prev` chain exactly. */
  private[graft] def funnelOf(ev: DataFrame): DataFrame = {
    val pr = when(col("event_type") === "view", 0)
      .when(col("event_type") === "click", 1)
      .when(col("event_type") === "purchase", 2)
      .otherwise(-1)
    ev
      // ts is TIMESTAMP_NTZ; the session TZ is pinned UTC, so the
      // cast preserves the instant and matches DuckDB's epoch_us
      .select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("tu"), pr.as("pr"))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("tu"), col("pr")))).as("evs"))
      .withColumn("acc", expr(
        """aggregate(evs,
          |  named_struct('t1', CAST(NULL AS BIGINT),
          |               't2', CAST(NULL AS BIGINT),
          |               't3', CAST(NULL AS BIGINT)),
          |  (a, x) -> named_struct(
          |    't1', CASE WHEN a.t1 IS NULL AND x.pr = 0
          |               THEN x.tu ELSE a.t1 END,
          |    't2', CASE WHEN a.t2 IS NULL AND x.pr = 1
          |                AND a.t1 IS NOT NULL
          |               THEN x.tu ELSE a.t2 END,
          |    't3', CASE WHEN a.t3 IS NULL AND x.pr = 2
          |                AND a.t2 IS NOT NULL
          |               THEN x.tu ELSE a.t3 END))""".stripMargin))
      .select(col("user_id"),
        when(col("acc.t3").isNotNull, 3L)
          .when(col("acc.t2").isNotNull, 2L)
          .when(col("acc.t1").isNotNull, 1L).otherwise(0L).as("stage"),
        col("acc.t1").as("t1_us"), col("acc.t2").as("t2_us"),
        col("acc.t3").as("t3_us"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q295_lis_trend" -> ((s, dir) => {
      // longest STRICTLY-increasing subsequence per user's
      // chronological value sequence — trend persistence (how long a
      // monotone run survives reordering noise), the sequence-DP
      // primitive next to the trajectory DPs (q199/q204/q271) but on
      // the VALUE axis. The classic O(L²) DP folds entirely inside
      // ONE aggregate() higher-order function over the collected
      // per-user sequence (bounded by the per-user event count — the
      // q213/q254 bounded-collect convention): the accumulator
      // carries (value, best-length-ending-here) pairs, seeded with a
      // −∞ sentinel of length 0 so filter(acc) is never empty and no
      // coalesce is needed. One user-keyed exchange, no window, no
      // join; users sampled %10=0 to bound the oracle's recursive DP.
      Tables.events(s, dir)
        .filter(col("user_id") % 10 === 0)
        .groupBy(col("user_id"))
        .agg(sort_array(collect_list(struct(col("ts"), col("event_id"),
          col("value")))).as("seq"))
        .select(col("user_id"),
          size(col("seq")).cast("long").as("n_events"),
          expr("""aggregate(
              transform(seq, e -> e.value),
              array(named_struct('v', cast('-Infinity' as double),
                                 'l', cast(0 as bigint))),
              (acc, x) -> array_append(acc, named_struct('v', x,
                'l', 1 + array_max(transform(filter(acc, a -> a.v < x),
                                             a -> a.l)))),
              acc -> array_max(transform(acc, a -> a.l)))""")
            .as("lis_len"))
    }),
    // A1/A5: wide aggregation with map-side partial agg; exact integer units.
    "q01_pricing_agg" -> ((s, dir) => {
      lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(cents(col("l_quantity"))).as("sum_qty_c"),
          sum(cents(col("l_extendedprice"))).as("sum_base_c"),
          sum(bp(col("l_discount"))).as("sum_disc_bp"),
          count(lit(1)).as("count_order"))
    }),
    "q02_revenue_per_nation" -> ((s, dir) => {
      val li = lineitem(s, dir)
        .withColumn("rev_micro", cents(col("l_extendedprice")) * (lit(10000L) - bp(col("l_discount"))))
      val o = orders(s, dir).select("o_orderkey", "o_custkey")
      val c = customer(s, dir).select("c_custkey", "c_nationkey")
      val n = nation(s, dir).select("n_nationkey", "n_name")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("rev_micro")).as("revenue_micro"), count(lit(1)).as("n_items"))
    }),
    "q03_dedup_latest" -> ((s, dir) => {
      // W1: newest event per (user_id, event_type); deterministic
      // tie-break on event_id (mirrors version DESC, deleted, ts DESC).
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts").desc, col("event_id").desc)
      events(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"), col("ts"),
          bp(col("value")).as("value_bp"))
    }),
    "q04_semijoin_orders_of_flagged_parts" -> ((s, dir) => {
      // J1 shape: distinct "ways" (orders) referencing any "modified
      // node" (flagged part). Probe side is small -> broadcast semi-join.
      val flagged = part(s, dir).filter(col("p_size") % 7 === 0).select(col("p_partkey"))
      lineitem(s, dir)
        .join(broadcast(flagged), col("l_partkey") === col("p_partkey"), "left_semi")
        .select(col("l_orderkey")).distinct()
    }),
    "q85_bloom_semijoin" -> ((s, dir) => {
      // the SHUFFLE-regime counterpart of q04: when the build side is
      // too large to broadcast, [[graft.operators.BloomJoin]] builds a
      // fixed-size bitset in one pass and drops non-matching probe
      // rows BEFORE the exchange — the shuffle carries ~matches, not
      // the corpus. False positives are removed by the exact join, so
      // the output is bit-identical to the plain semi-join the oracle
      // runs.
      val flagged = part(s, dir).filter(col("p_size") % 5 === 0)
        .select(col("p_partkey").as("l_partkey"))
      graft.operators.BloomJoin.semiJoin(lineitem(s, dir), flagged, "l_partkey")
        .select(col("l_orderkey")).distinct()
    }),
    "q05_antijoin_customers_without_orders" -> ((s, dir) => {
      customer(s, dir)
        .join(orders(s, dir).select(col("o_custkey")), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }),
    "q06_union_distinct_ids" -> ((s, dir) => {
      // A4/SO1: union of id sets from heterogeneous sources.
      val a = orders(s, dir).filter(col("o_orderstatus") === "F").select(col("o_custkey").as("id"))
      val b = customer(s, dir).filter(col("c_acctbal") < 0).select(col("c_custkey").as("id"))
      val c = supplier(s, dir).select(col("s_suppkey").as("id"))
      a.union(b).union(c).distinct()
    }),
    "q07_ordered_group_concat" -> ((s, dir) => {
      // J8/A1: ordered member reconstruction — collect_list(struct(pos,id))
      // then sort_array, never a text shuffle mid-pipeline.
      lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(
          array_join(
            transform(
              array_sort(collect_list(struct(col("l_linenumber"), col("l_partkey")))),
              x => x.getField("l_partkey").cast("string")),
            ";").as("members"),
          count(lit(1)).cast("long").as("n_members"))
    }),
    "q08_latest_timestamp" -> ((s, dir) =>
      events(s, dir).agg(max(col("ts")).as("latest_ts"))),
    "q09_topk_per_group" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      orders(s, dir)
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("o_custkey"), col("rank"), col("o_orderkey"),
          cents(col("o_totalprice")).as("price_cents"))
    }),
    "q67b_hist_quantile" -> ((s, dir) => {
      // quantiles through a FIXED-WIDTH integer histogram — the
      // bounded-state scale path next to q67's exact quantile_cont
      // (which must sort every group's values at 100 TB). One
      // map-side-combined shuffle builds (group, bucket) counts; the
      // cumulative walk runs over <= ~625 bucket rows per group, so
      // the window state is bounded by the bucket count, not the data.
      // The estimate is the bucket UPPER bound (16 bp wide) — the
      // deterministic, exactly-oracle-able contract a sketch needs.
      val hist = events(s, dir)
        .select(col("event_type"), (Tables.bp(col("value")) / 16).cast("long").as("b"))
        .groupBy(col("event_type"), col("b")).agg(count(lit(1)).as("c"))
      val wc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("b"))
      val wn = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
      hist.withColumn("cum", sum(col("c")).over(wc))
        .withColumn("n", sum(col("c")).over(wn))
        .groupBy(col("event_type"))
        .agg(min(when(col("cum") * 2 >= col("n"), (col("b") + 1) * 16))
            .cast("long").as("p50_ub_bp"),
          min(when(col("cum") * 10 >= col("n") * 9, (col("b") + 1) * 16))
            .cast("long").as("p90_ub_bp"))
    }),
    "q102_resample_gapfill" -> ((s, dir) => {
      // time-series resample + gap-fill: per-user DAILY activity with
      // explicit zero rows for silent days inside the user's active
      // span — the regularization step before any windowed model
      // input. One shuffle builds the daily rollup; the per-user grid
      // is sequence+explode over (first, last) day (O(span), no
      // calendar table scan); the fill join is user+day equi — at
      // corpus scale both sides are already hash-distributed by user.
      // Day is emitted as an ISO string so both engines hash alike.
      val daily = events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d"),
          Tables.bp(col("value")).as("vb"))
        .groupBy(col("user_id"), col("d"))
        .agg(count(lit(1)).as("n"), sum(col("vb")).as("v"))
      val grid = daily.groupBy(col("user_id"))
        .agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
        .select(col("user_id"),
          explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("d"))
      grid.join(daily, Seq("user_id", "d"), "left")
        .select(col("user_id"), col("d").cast("string").as("day"),
          coalesce(col("n"), lit(0L)).as("n_events"),
          coalesce(col("v"), lit(0L)).as("v_bp"))
    }),
    "q175_interpolate" -> ((s, dir) => {
      // time-series IMPUTATION by linear interpolation — q102's
      // gap-fill twin for metrics where zero is wrong (sensor sums):
      // a missing day takes v0 + (v1−v0)·(d−d0)/(d1−d0) between its
      // neighboring present days, leading/trailing gaps carry the
      // nearest value. Same one user shuffle as q102: the
      // neighbor lookup is two ignore-nulls windows over the SAME
      // (user, day) order (one exchange, two sorts fused), never a
      // self-join. Exact integers: the slope divide is sign-split
      // (abs div, then ±) so Spark trunc == DuckDB floor.
      val daily = events(s, dir)
        .select(col("user_id"),
          expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000").as("day"),
          Tables.bp(col("value")).as("vb"))
        .groupBy(col("user_id"), col("day"))
        .agg(sum(col("vb")).as("v"))
      val grid = daily.groupBy(col("user_id"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("user_id"),
          explode(sequence(col("d0"), col("d1"))).as("day"))
      val wPrev = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      grid.join(daily, Seq("user_id", "day"), "left")
        .withColumn("v0", last(col("v"), ignoreNulls = true).over(wPrev))
        .withColumn("dd0", last(when(col("v").isNotNull, col("day")),
          ignoreNulls = true).over(wPrev))
        .withColumn("v1", first(col("v"), ignoreNulls = true).over(wNext))
        .withColumn("dd1", first(when(col("v").isNotNull, col("day")),
          ignoreNulls = true).over(wNext))
        .select(col("user_id"), col("day"),
          when(col("v").isNotNull, col("v"))
            .when(col("v0").isNull, col("v1"))
            .when(col("v1").isNull, col("v0"))
            .otherwise(col("v0") +
              when(col("v1") >= col("v0"), 1L).otherwise(-1L) *
                expr("(abs(v1 - v0) * (day - dd0)) div (dd1 - dd0)"))
            .as("v_bp"))
    }),
    "q180_cusum" -> ((s, dir) => {
      // two-sided CUSUM change-point statistic per user stream — the
      // classic sequential drift detector a feed-quality monitor runs
      // per source. The recurrence s_i = max(0, s_{i-1} + d_i) looks
      // inherently sequential, but the Page/Lindley identity
      // s_i = p_i − min(0, min_{j≤i} p_j) (p = running sum of drifted
      // deviations) turns it into TWO stacked window passes over the
      // same (user, ts, event_id) order — both shuffles partition by
      // user_id, nothing is a global sort, and at 100 TB each source's
      // stream folds independently. Exact integer bp units throughout;
      // the up-side drifts at 55.0 (above the ~49.6 mean) and the
      // down-side at 45.0, alarm threshold 200.0, so both statistics
      // hover near zero and alarms mark genuine sustained excursions.
      val ev = events(s, dir).select(col("user_id"), col("ts"),
        col("event_id"), Tables.bp(col("value")).as("vb"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val prefixed = ev
        .withColumn("pu", sum(col("vb") - lit(550000L)).over(w))
        .withColumn("pd", sum(lit(450000L) - col("vb")).over(w))
      val st = prefixed
        .withColumn("su", col("pu") - least(min(col("pu")).over(w), lit(0L)))
        .withColumn("sd", col("pd") - least(min(col("pd")).over(w), lit(0L)))
      st.groupBy(col("user_id")).agg(
        count(when(col("su") >= 2000000L, 1)).as("n_alarms_up"),
        count(when(col("sd") >= 2000000L, 1)).as("n_alarms_dn"),
        max(col("su")).as("max_s_up"),
        max(col("sd")).as("max_s_dn"))
    }),
    "q181_retention" -> ((s, dir) => {
      // weekly cohort retention matrix — the panel health readout for
      // any source: cohort = a user's first active epoch-week, cell
      // (cohort, offset) = how many of that cohort were active
      // `offset` weeks later, plus retention in exact ppm of cohort
      // size. Three user-keyed map-side-combined shuffles (distinct
      // activity, per-user min, cohort re-agg) and a broadcast-sized
      // cohort-total join; weeks are pure integer div of epoch-micros
      // so no calendar library can disagree. The (user, week) distinct
      // makes the final count a distinct-user count without a
      // count_distinct shuffle.
      val activity = weeklyActivity(s, dir)
      val firsts = activity.groupBy(col("user_id"))
        .agg(min(col("week")).as("cohort"))
      val sizes = firsts.groupBy(col("cohort"))
        .agg(count(lit(1)).as("cohort_n"))
      activity.join(firsts, "user_id")
        .groupBy(col("cohort"), (col("week") - col("cohort")).as("offset"))
        .agg(count(lit(1)).as("n_active"))
        .join(broadcast(sizes), "cohort")
        .select(col("cohort"), col("offset"), col("n_active"),
          col("cohort_n"),
          expr("n_active * 1000000 div cohort_n").as("retention_ppm"))
    }),
    "q256_seasonal_decompose" -> ((s, dir) => {
      // classical additive seasonal decomposition (STL-lite: v = trend
      // + seasonal + remainder) — the time-series family's capstone
      // next to q108's MA, q184's seasonal-MAD anomalies, q188's ACF,
      // q180's CUSUM: trend = centered 7-day moving mean, seasonal =
      // per-weekday mean of the detrended interior, remainder = the
      // rest. EVERY division is the engine-identical exact floor
      // (a − pmod(a, n)) div n (q242's identity) — no FP averaging,
      // so the decomposition is bit-exact cross-engine. Per cohort
      // the series is <= 28 rows (day = event_id % 28), so the trend
      // window, the weekday aggregate, and the join-back all run on
      // BOUNDED frames; one exchange on event_type feeds both
      // windows.
      val daily = events(s, dir)
        .select(col("event_type"), (col("event_id") % 28).as("day"),
          Tables.bp(col("value")).as("vb"))
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("vb")).as("v"))
      val wT = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(-3, 3)
      val trended = daily
        .withColumn("tsum", sum(col("v")).over(wT))
        .withColumn("tcnt", count(lit(1)).over(wT))
        // centered MA defined only where the full 7-day window exists
        .withColumn("trend", when(col("tcnt") === 7,
          expr("(tsum - pmod(tsum, 7)) div 7")))
        .withColumn("wd", pmod(col("day"), lit(7)))
        .drop("tsum", "tcnt")
      val seasonal = trended.filter(col("trend").isNotNull)
        .groupBy(col("event_type"), col("wd"))
        .agg(sum(col("v") - col("trend")).as("dsum"),
          count(lit(1)).as("dcnt"))
        .select(col("event_type"), col("wd"),
          expr("(dsum - pmod(dsum, dcnt)) div dcnt").as("seasonal"))
      trended.filter(col("trend").isNotNull)
        .join(seasonal, Seq("event_type", "wd"))
        .select(col("event_type"), col("day"), col("v"), col("trend"),
          col("seasonal"),
          (col("v") - col("trend") - col("seasonal")).as("remainder"))
    }),
    "q184_seasonal_anomaly" -> ((s, dir) => {
      // seasonal-baseline anomaly detection — the robust-statistics
      // monitor for periodic feeds: each user-day's metric is compared
      // to that user's SAME-WEEKDAY lower median, and a day flags when
      // its absolute residual exceeds 3× the user's MAD (lower median
      // of absolute residuals — q133's exact order-statistic treatment,
      // no FP averaging anywhere). Two median passes + the final fold,
      // every window partitioned by (user[, weekday]) with unique
      // (value, day) sort keys, so ranks are total-ordered and nothing
      // sorts globally; at 100 TB each source's seasonality profile
      // computes independently.
      val daily = events(s, dir)
        .select(col("user_id"),
          expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000")
            .as("day"),
          Tables.bp(col("value")).as("vb"))
        .groupBy(col("user_id"), col("day"))
        .agg(sum(col("vb")).as("v"))
        .withColumn("wd", pmod(col("day"), lit(7)))
      val wB = Window.partitionBy(col("user_id"), col("wd"))
        .orderBy(col("v"), col("day"))
      val wBn = Window.partitionBy(col("user_id"), col("wd"))
      val base = daily
        .withColumn("rn", row_number().over(wB).cast("long"))
        .withColumn("nn", count(lit(1)).over(wBn))
        .filter(col("rn") === expr("(nn + 1) div 2"))
        .select(col("user_id"), col("wd"), col("v").as("med"))
      val resid = daily.join(base, Seq("user_id", "wd"))
        .withColumn("ar", abs(col("v") - col("med")))
      val wM = Window.partitionBy(col("user_id"))
        .orderBy(col("ar"), col("day"))
      val wMn = Window.partitionBy(col("user_id"))
      val mad = resid
        .withColumn("rn", row_number().over(wM).cast("long"))
        .withColumn("nn", count(lit(1)).over(wMn))
        .filter(col("rn") === expr("(nn + 1) div 2"))
        .select(col("user_id"), col("ar").as("mad"))
      resid.join(mad, "user_id")
        .groupBy(col("user_id")).agg(
          count(lit(1)).as("n_days"),
          max(col("mad")).as("mad"),
          count(when(col("ar") > col("mad") * 3, 1)).as("n_anom"),
          max(col("ar")).as("max_abs_resid"))
    }),
    "q186_rolling_active" -> ((s, dir) => {
      // rolling 4-week active users per observed week — the windowed
      // COUNT DISTINCT every engagement dashboard needs, WITHOUT a
      // range-window distinct (Spark has none): each distinct
      // (user, week) activity row scatters to the 4 target weeks it
      // keeps the user "active" in, then one count_distinct per target
      // (partial aggregation dedups map-side). The 4× explode is the
      // whole cost — constant fan-out, no self-join over the window,
      // no global sort; a semi-join keeps only weeks that really
      // occur, so sparse calendars don't emit phantom rows.
      val act = weeklyActivity(s, dir)
      val weeks = act.select(col("week")).distinct()
      act.select(col("user_id"),
          explode(sequence(col("week"), col("week") + 3)).as("tw"))
        .join(weeks.withColumnRenamed("week", "tw"), Seq("tw"), "left_semi")
        .groupBy(col("tw").as("week"))
        .agg(countDistinct(col("user_id")).as("mau"))
    }),
    "q188_acf" -> ((s, dir) => {
      // lag-k autocorrelation of per-cohort daily activity (k = 1, 2)
      // — the stationarity probe a forecasting pipeline runs before
      // fitting anything. Pairs are (x = count(day − k), y =
      // count(day)) over days where BOTH are present (lag window + a
      // gap check — well-defined on sparse calendars with no gap-fill
      // pass); Pearson r rides q173's exact-integer cancellation:
      // num = m·Σxy − Σx·Σy, den² factors likewise, emitted as SIGNED
      // r² in ppm with DECIMAL(38,0) products (num² overflows BIGINT
      // at corpus scale). ONE exchange on cohort builds the daily
      // rollup; both lags fold from the same two windows; cohorts with
      // a degenerate den (constant series) drop — r is undefined there.
      val w = Window.partitionBy(col("cohort")).orderBy(col("day"))
      val daily = events(s, dir)
        .select((col("user_id") % 100).as("cohort"),
          expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000").as("day"))
        .groupBy(col("cohort"), col("day"))
        .agg(count(lit(1)).as("y"))
      val lagged = daily
        .withColumn("x1", when(lag(col("day"), 1).over(w) === col("day") - 1,
          lag(col("y"), 1).over(w)))
        .withColumn("x2", when(lag(col("day"), 2).over(w) === col("day") - 2,
          lag(col("y"), 2).over(w)))
      Seq(1, 2).map { k =>
        lagged.filter(col(s"x$k").isNotNull)
          .groupBy(col("cohort"))
          .agg(count(lit(1)).as("m"),
            sum(col(s"x$k")).as("sx"), sum(col("y")).as("sy"),
            sum(col(s"x$k") * col("y")).as("sxy"),
            sum(col(s"x$k") * col(s"x$k")).as("sxx"),
            sum(col("y") * col("y")).as("syy"))
          .select(col("cohort"), lit(k.toLong).as("lag"), col("m"),
            (col("m") * col("sxy") - col("sx") * col("sy")).as("num"),
            (col("m") * col("sxx") - col("sx") * col("sx")).as("den_x"),
            (col("m") * col("syy") - col("sy") * col("sy")).as("den_y"))
      }.reduce(_ unionByName _)
        .filter(col("den_x") > 0 && col("den_y") > 0)
        .select(col("cohort"), col("lag"), col("m"), col("num"),
          (when(col("num") < 0, -1L).otherwise(1L) *
            expr("(CAST(1000000 AS DECIMAL(38,0)) * num * num)" +
              " div (CAST(den_x AS DECIMAL(38,0)) * den_y)"))
            .as("acf2_ppm_signed"))
    }),
    "q190_grouping_sets" -> ((s, dir) => {
      // explicit GROUPING SETS ((type, bucket), (type), ()) — the
      // irregular multi-level aggregate completing q69's ROLLUP / CUBE
      // family (a dashboard rarely wants the full cube; this shape
      // prices exactly the three levels it reads). One pass, Spark's
      // native Expand; grouping nulls coalesced to sentinels and the
      // grouping id emitted so rows from different sets never collide.
      events(s, dir)
        .withColumn("ub", col("user_id") % 10)
        .groupingSets(
          Seq(Seq(col("event_type"), col("ub")), Seq(col("event_type")), Seq()),
          col("event_type"), col("ub"))
        .agg(count(lit(1)).as("n"),
          sum(Tables.bp(col("value"))).as("v_bp"),
          grouping_id().as("gid"))
        .select(coalesce(col("event_type"), lit("ALL")).as("event_type"),
          coalesce(col("ub"), lit(-1L)).as("ub"), col("gid"), col("n"),
          col("v_bp"))
    }),
    "q09b_topk_agg" -> ((s, dir) => {
      // q09's per-group top-k through the BOUNDED-STATE native
      // aggregate (functions.TopKAgg) instead of the window: the
      // window plan sorts EVERY order of every customer; this plan's
      // exchange carries at most k=3 rows per (partition, customer)
      // thanks to map-side partial aggregation, and nothing sorts.
      // Ranks order by exact integer cents (the aggregate's Long ord),
      // so the oracle ranks by the same rounded key.
      val o = orders(s, dir).select(col("o_custkey"),
        cents(col("o_totalprice")).as("pc"), col("o_orderkey"))
      o.groupBy(col("o_custkey"))
        .agg(graft.functions.TopKAgg.topK(col("pc"), col("o_orderkey"), 3).as("tk"))
        .select(col("o_custkey"), posexplode(col("tk")))
        .select(col("o_custkey"), (col("pos") + 1).cast("long").as("rank"),
          col("col.tie").as("o_orderkey"), col("col.ord").as("price_cents"))
    }),
    "q67_quantiles" -> ((s, dir) =>
      // exact interpolated percentiles (both engines: linear interp at
      // p*(n-1)); bp conversion AFTER the quantile keeps the arithmetic
      // order identical
      events(s, dir).groupBy(col("event_type"))
        .agg(
          round(expr("percentile(value, 0.5)") * 10000, 0).cast("long").as("p50_bp"),
          round(expr("percentile(value, 0.9)") * 10000, 0).cast("long").as("p90_bp"))),
    "q68_pivot" -> ((s, dir) => {
      // reshape: per user-bucket event-type counts as columns (Spark
      // .pivot with an explicit type list keeps the plan one pass)
      val types = Seq("click", "error", "purchase", "signup", "view")
      val p = events(s, dir)
        .groupBy((col("user_id") % 100).as("ub"))
        .pivot("event_type", types).count()
      p.select(col("ub") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
    }),
    "q69_rollup" -> ((s, dir) =>
      // multi-level aggregation in one pass; grouping nulls coalesced to
      // sentinels so both engines hash the same rows
      events(s, dir)
        .withColumn("ub", col("user_id") % 10)
        .rollup(col("event_type"), col("ub"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 10000, 0).cast("long")).as("v_bp"))
        .select(coalesce(col("event_type"), lit("ALL")).as("event_type"),
          coalesce(col("ub"), lit(-1L)).as("ub"), col("n"), col("v_bp"))),
    "q148_user_growth" -> ((s, dir) => {
      // cumulative distinct-cardinality curve (the corpus/user growth
      // dashboard) computed EXACTLY without any quadratic distinct:
      // first-appearance per (event_type, user) is one map-side-combined
      // min aggregate, daily new-user counts collapse to <= |days| rows
      // per type, and the running total is a window over that
      // calendar-bounded series — the cumulative-distinct problem
      // reduced to a first-occurrence flag plus a tiny prefix sum.
      val firsts = events(s, dir)
        .groupBy(col("event_type"), col("user_id"))
        .agg(min(col("ts")).as("first_ts"))
      val days = firsts
        .select(col("event_type"), to_date(col("first_ts")).as("d"))
        .groupBy(col("event_type"), col("d"))
        .agg(count(lit(1)).as("new_users"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("d"))
      days.select(col("event_type"), col("d").cast("string").as("day"),
        col("new_users"), sum(col("new_users")).over(w).as("cum_users"))
    }),
    "q108_moving_avg" -> ((s, dir) => {
      // 7-day trailing moving average over the gap-filled daily series
      // (the q102 grid) — the sliding ROWS frame surface. The average
      // is exact integer milli (sum*1000 DIV frame rows: the first 6
      // days of a user's span average over the shorter prefix, exactly
      // like both engines' COUNT over the same frame). Same single
      // user_id shuffle as q102; the frame sort is per-user days only.
      val daily = events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d"))
        .groupBy(col("user_id"), col("d"))
        .agg(count(lit(1)).as("n"))
      val grid = daily.groupBy(col("user_id"))
        .agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
        .select(col("user_id"),
          explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("d"))
      val filled = grid.join(daily, Seq("user_id", "d"), "left")
        .select(col("user_id"), col("d"), coalesce(col("n"), lit(0L)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("d")).rowsBetween(-6, 0)
      filled.select(col("user_id"), col("d").cast("string").as("day"),
        col("n").as("n_events"),
        (sum(col("n")).over(w) * 1000 / count(lit(1)).over(w))
          .cast("long").as("ma7_milli"))
    }),
    "q105_group_ols" -> ((s, dir) => {
      // per-group least-squares trend (is this event type's value
      // drifting?) in ONE aggregation pass: the five OLS sums are
      // exact integers (minutes since 2024-01-01 x basis points), so
      // both engines reach bit-identical sums regardless of schedule;
      // the single IEEE division at the end is identical too. At far
      // larger groups the integer products need decimal/Welford —
      // noted, not needed at these magnitudes (<~1e17).
      // ts is TIMESTAMP_NTZ; the UTC session TZ makes the TIMESTAMP hop
      // equal DuckDB's naive epoch_us
      val x = (expr("CAST(CAST(ts AS TIMESTAMP) AS LONG) DIV 60") - 28401120L).as("x")
      val y = Tables.bp(col("value")).as("y")
      events(s, dir).select(col("event_type"), x, y)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"))
        .select(col("event_type"), col("n"),
          round(lit(1000000000.0) *
            ((col("n") * col("sxy") - col("sx") * col("sy")) /
             (col("n") * col("sxx") - col("sx") * col("sx"))), 0)
            .cast("long").as("slope_nano"))
    }),
    "q106_mode" -> ((s, dir) => {
      // deterministic per-user mode (most frequent event type, ties to
      // the lexicographically smallest) — two map-side-combined
      // aggregations, the argmax via struct-ordering min((-n, type)),
      // no window, no sort of the group's rows.
      events(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("user_id"))
        .agg(min(struct((-col("n")).as("negn"),
          col("event_type").as("t"))).as("m"))
        .select(col("user_id"), col("m.t").as("mode_type"),
          (-col("m.negn")).as("n"))
    }),
    "q111_intersect" -> ((s, dir) => {
      // SO-family completion: INTERSECT (distinct) of two id sets —
      // plans as a left-semi join after dedup, one shuffle per side.
      val a = orders(s, dir).filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("id"))
      val b = customer(s, dir).filter(col("c_acctbal") < 0)
        .select(col("c_custkey").as("id"))
      a.intersect(b)
    }),
    "q111b_intersect_all" -> ((s, dir) => {
      // INTERSECT ALL — multiset semantics (min multiplicity per id);
      // both sides are genuine multisets so the ALL matters.
      val a = orders(s, dir).filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("id"))
      val b = orders(s, dir).filter(col("o_totalprice") > 100000)
        .select(col("o_custkey").as("id"))
      a.intersectAll(b)
    }),
    "q112_except_all" -> ((s, dir) => {
      // EXCEPT ALL — multiset difference: each id keeps
      // count(all orders) - count(F orders) copies.
      val a = orders(s, dir).select(col("o_custkey").as("id"))
      val b = orders(s, dir).filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("id"))
      a.exceptAll(b)
    }),
    "q104_kv_explode" -> ((s, dir) => {
      // semi-structured key=value payload parsing: a query-string-like
      // attribute blob per event parses through str_to_map, the map
      // explodes to (key, value) rows, and values tally per key — the
      // log-ingestion shape (parse -> normalize -> profile) done as a
      // pure narrow parse + ONE aggregation shuffle.
      val kv = concat(lit("type="), col("event_type"),
        lit("&u="), col("user_id") % 100,
        lit("&geo=r"), col("event_id") % 5)
      events(s, dir).select(kv.as("kv"))
        .select(explode(expr("str_to_map(kv, '&', '=')")))
        .groupBy(col("key"), col("value"))
        .agg(count(lit(1)).as("n"))
        .select(col("key").as("k"), col("value").as("v"), col("n"))
    }),
    "q69b_cube" -> ((s, dir) =>
      // full CUBE (all 2^k grouping sets) in one Expand pass — the
      // remaining grouping-set shape next to q69's ROLLUP; same
      // null-sentinel contract for cross-engine hashing
      events(s, dir)
        .withColumn("ub", col("user_id") % 10)
        .cube(col("event_type"), col("ub"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 10000, 0).cast("long")).as("v_bp"))
        .select(coalesce(col("event_type"), lit("ALL")).as("event_type"),
          coalesce(col("ub"), lit(-1L)).as("ub"), col("n"), col("v_bp"))),
    "q65_range_join" -> ((s, dir) => {
      // numeric range join through the 1-D bucket prefilter — a naive
      // BETWEEN join plans as a nested loop; this shuffles once on the
      // bucket (operators.RangeJoin). Closed-form interval bounds keep
      // the oracle a plain BETWEEN join.
      val intervals = orders(s, dir).filter(col("o_orderkey") % 8 === 0)
        .select(col("o_orderkey"),
          (col("o_totalprice") % 450.0).as("lo"),
          (col("o_totalprice") % 450.0 + 2.0).as("hi"))
      val pts = events(s, dir).select(col("event_id"), col("value"))
      graft.operators.RangeJoin.rangeJoin(pts, "value", intervals, "lo", "hi", 5.0)
        .select(col("event_id"), col("o_orderkey"))
    }),
    "q133_group_median" -> ((s, dir) => {
      // exact per-group order statistics: the lower and upper median
      // VALUES (no FP averaging — exact integers survive the hash
      // compare, and the pair exposes the even-n case honestly). One
      // group-partitioned window; the rank filter carries <= 2 rows
      // per group into the final aggregate.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("v_bp").asc, col("event_id").asc)
      val wn = org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))
      events(s, dir)
        .select(col("event_type"), col("event_id"),
          round(col("value") * 10000, 0).cast("long").as("v_bp"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(wn))
        .filter(col("rn") === expr("(n + 1) div 2") ||
          col("rn") === expr("n div 2 + 1"))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n"),
          min(col("v_bp")).as("median_lo"), max(col("v_bp")).as("median_hi"))
    }),
    "q242_theilsen_trend" -> ((s, dir) => {
      // Theil-Sen robust trend per event-type cohort — the
      // median-of-pairwise-slopes estimator (29% breakdown point) a
      // drift monitor (q109/q180) escalates to when outliers poison
      // the mean. Scale shape: the event stream first reduces to
      // <= 30 (type, day) daily sums (exact bp), so the pairwise
      // slope set is a self-join of a BOUNDED aggregate — <= C(30,2)
      // = 435 pairs per cohort, never the event stream squared.
      // Slopes are exact e6 FLOOR quotients spelled
      // (num − pmod(num, dd)) div dd — an identity both engines
      // evaluate identically whatever their native division rounding
      // (num divisible by dd after the pmod subtraction). Median =
      // q133's lower/upper order-statistic pair over the per-cohort
      // pair window (total order: slope, d1, d2).
      val daily = events(s, dir)
        .select(col("event_type"), (col("event_id") % 30).as("day"),
          round(col("value") * 10000, 0).cast("long").as("v_bp"))
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("v_bp")).as("v"))
      val a = daily.select(col("event_type"), col("day").as("d1"), col("v").as("v1"))
      val b = daily.select(col("event_type"), col("day").as("d2"), col("v").as("v2"))
      val pairs = a.join(b, Seq("event_type"))
        .filter(col("d2") > col("d1"))
        .select(col("event_type"), col("d1"), col("d2"),
          ((col("v2") - col("v1")) * 1000000L).as("num"),
          (col("d2") - col("d1")).as("dd"))
        .select(col("event_type"), col("d1"), col("d2"),
          expr("(num - pmod(num, dd)) div dd").as("slope_e6"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
        .orderBy(col("slope_e6"), col("d1"), col("d2"))
      val wn = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
      pairs
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(wn))
        .filter(col("rn") === expr("(n + 1) div 2") ||
          col("rn") === expr("n div 2 + 1"))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n_pairs"),
          min(col("slope_e6")).as("slope_lo_e6"),
          max(col("slope_e6")).as("slope_hi_e6"))
    }),
    "q243_percentile_bands" -> ((s, dir) => {
      // exact per-source P10/P50/P90 length band — q133's
      // order-statistic machinery generalized to the percentile
      // guardrails a curation pipeline alarms on: rank_p =
      // ceil(p·n/100) picks the exact LOWER order statistic (no
      // interpolation, no floats); one source-partitioned window,
      // <= 3 surviving rows per source fold into the band by
      // conditional aggregation.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))
      val wn = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
      documents(s, dir)
        .select(col("source"), col("doc_id"), col("n_chars"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(wn))
        .filter(col("rn") === expr("(10 * n + 99) div 100") ||
          col("rn") === expr("(50 * n + 99) div 100") ||
          col("rn") === expr("(90 * n + 99) div 100"))
        .groupBy(col("source"))
        .agg(max(col("n")).as("n"),
          max(when(col("rn") === expr("(10 * n + 99) div 100"), col("n_chars"))).as("p10"),
          max(when(col("rn") === expr("(50 * n + 99) div 100"), col("n_chars"))).as("p50"),
          max(when(col("rn") === expr("(90 * n + 99) div 100"), col("n_chars"))).as("p90"))
    }),
    "q129_interval_overlap" -> ((s, dir) => {
      // interval x interval OVERLAP join (temporal/range analytics'
      // other half next to q65's point-in-interval): both interval
      // sets bucket-cover once, the equi-join prefilters, and the
      // responsible-bucket rule (overlap's left edge) emits each true
      // pair exactly once — no post-join distinct, never a nested
      // loop. Overlap length in exact e7 units, identical expression
      // trees in both engines.
      val a = orders(s, dir).filter(col("o_orderkey") % 8 === 0)
        .select(col("o_orderkey"),
          (col("o_totalprice") % 450.0).as("alo"),
          (col("o_totalprice") % 450.0 + 2.0).as("ahi"))
      val b = events(s, dir).select(col("event_id"),
        (col("value") % 450.0).as("blo"),
        (col("value") % 450.0 + 1.5).as("bhi"))
      graft.operators.RangeJoin.intervalOverlapJoin(a, "alo", "ahi", b, "blo", "bhi", 5.0)
        .select(col("o_orderkey"), col("event_id"),
          round((least(col("ahi"), col("bhi")) - greatest(col("alo"), col("blo"))) * 1e7, 0)
            .cast("long").as("olap_e7"))
    }),
    "q97_rank_suite" -> ((s, dir) => {
      // the remaining ranking-window surface (ntile / percent_rank /
      // cume_dist) under a TOTAL order — ties broken by event_id, since
      // ntile assigns by row position and would otherwise be
      // nondeterministic. The rational ranks are single IEEE divisions
      // of exact integers, so the basis-point rounding agrees across
      // engines. One shuffle on event_type.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
      events(s, dir).select(col("event_id"), col("event_type"),
        ntile(4).over(w).cast("long").as("ntile4"),
        round(percent_rank().over(w) * 10000, 0).cast("long").as("pr_bp"),
        round(cume_dist().over(w) * 10000, 0).cast("long").as("cume_bp"))
    }),
    "q94_table_profile" -> ((s, dir) => {
      // ANALYZE-style column profile in ONE corpus scan: every
      // column's (rows, nulls, ndv, min, max) aggregates together,
      // then the single result row unpivots in-memory to one row per
      // column. The multi-column exact countDistinct plans one Expand
      // (×cols) — at 100 TB swap exact ndv for the bounded-state KMV
      // sketch (q66's aggregate) to keep the pass single-Expand-free.
      val li = lineitem(s, dir)
        .withColumn("price_cents", Tables.cents(col("l_extendedprice")))
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "price_cents")
      val aggs = cols.flatMap { c => Seq(
        count(lit(1)).as(s"n_$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c"),
        countDistinct(col(c)).as(s"ndv_$c"),
        min(col(c)).cast("long").as(s"min_$c"),
        max(col(c)).cast("long").as(s"max_$c")) }
      li.agg(aggs.head, aggs.tail: _*)
        .select(explode(array(cols.map(c => struct(
          lit(c).as("col_name"), col(s"n_$c").as("n_rows"),
          col(s"nulls_$c").as("n_nulls"), col(s"ndv_$c").as("n_distinct"),
          col(s"min_$c").as("min_v"), col(s"max_$c").as("max_v"))): _*)).as("r"))
        .select(col("r.*"))
    }),
    "q66_kmv_sketch" -> ((s, dir) => {
      // KMV (k-minimum-values) distinct sketch, k=64 — DETERMINISTIC
      // given the md5-derived hash, so the estimate is exactly
      // oracle-able (unlike HLL). Scale shape: a BOUNDED-STATE native
      // aggregate (functions.KmvSketchAgg) holding the k minima per
      // group — ONE shuffle with map-side partial aggregation, no
      // pre-distinct (set semantics dedupe inside the sketch) and no
      // window sort over the distinct values. Estimate
      // (k-1)*2^60/kth from the k-th minimum; exact count when the
      // group holds fewer than k values.
      val k = 64
      val h = graft.text.TextFunctions.hash60(
        concat(lit("u:"), col("user_id")))
      events(s, dir).select(col("event_type"), h.as("h"))
        .groupBy(col("event_type"))
        .agg(graft.functions.KmvSketchAgg.kmvSketch(col("h"), k).as("sk"))
        .select(col("event_type"),
          col("sk.kth_min_hash").as("kth_min_hash"),
          when(col("sk.n_in_sketch") < k, col("sk.n_in_sketch"))
            .otherwise(floor(lit((k - 1).toDouble) * lit(1152921504606846976.0)
              / col("sk.kth_min_hash")))
            .cast("long").as("est_distinct"))
    }),
    "q165_kmv_setops" -> ((s, dir) => {
      // KMV sketch SET OPERATIONS — the mergeable-sketch algebra a
      // multi-corpus overlap audit runs: |A|, |B|, |A∪B| from two
      // bounded k-minima sketches (union sketch = k smallest of the
      // concatenated minima) and the standard inclusion estimator
      // |A∩B| ≈ ρ·est(U), ρ = |unionK ∩ minsA ∩ minsB| / k. Each side
      // is ONE bounded-state map-side-combined aggregate
      // (functions.KmvMinsAgg); the merge itself is pure array
      // arithmetic over two 1-row broadcasts — at 100 TB per-corpus
      // sketches come out of per-partition partials, never a
      // distinct. Unsaturated sketches (< k minima) are EXACT, so the
      // estimator collapses to the true counts there.
      val k = 64
      val h = graft.text.TextFunctions.hash60(
        concat(lit("e:"), col("event_id")))
      val ev = events(s, dir)
      val a = ev.filter(col("event_id") % 2 === 0)
        .agg(graft.functions.KmvSketchAgg.kmvMins(h, k).as("ma"))
      val b = ev.filter(col("event_id") % 3 === 0)
        .agg(graft.functions.KmvSketchAgg.kmvMins(h, k).as("mb"))
      def est(mins: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        when(size(mins) < k, size(mins).cast("long"))
          .otherwise(floor(lit((k - 1).toDouble) * lit(1152921504606846976.0)
            / element_at(mins, k)).cast("long"))
      a.crossJoin(broadcast(b))
        .withColumn("mu", slice(array_sort(array_union(col("ma"), col("mb"))), 1, k))
        .withColumn("est_a", est(col("ma")))
        .withColumn("est_b", est(col("mb")))
        .withColumn("est_union", est(col("mu")))
        .withColumn("matches", size(filter(col("mu"),
          x => array_contains(col("ma"), x) && array_contains(col("mb"), x)))
          .cast("long"))
        .withColumn("est_intersect",
          when(size(col("mu")) < k, col("matches"))
            .otherwise(expr(s"(matches * est_union) div $k")))
        .select(col("est_a"), col("est_b"), col("est_union"), col("matches"),
          col("est_intersect"),
          expr("10000 * est_intersect div (est_a + est_b - est_intersect)")
            .as("jaccard_bp"))
    }),
    "q166_attribution" -> ((s, dir) => {
      // event-time interval attribution join: each click (event_id%5=0)
      // pairs with every impression of the SAME user in the preceding
      // 30 minutes. The plan is the scale shape for this semantics —
      // ONE equi-join shuffle on user_id with the time range as a
      // post-join filter (never a time-bucket cover: the window is
      // fixed and small relative to per-user history, so the user key
      // alone co-locates everything once).
      val e = events(s, dir).select(col("event_id"), col("user_id"), col("ts"))
      val clicks = e.filter(col("event_id") % 5 === 0)
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("cts"))
      val imps = e.filter(col("event_id") % 5 =!= 0)
        .select(col("event_id").as("imp_id"), col("user_id").as("u2"),
          col("ts").as("its"))
      clicks.join(imps, col("user_id") === col("u2") &&
          col("its") <= col("cts") &&
          col("cts") <= col("its") + expr("interval 30 minutes"))
        .select(col("click_id"), col("imp_id"), col("user_id"))
    }),
    "q167_funnel" -> ((s, dir) => {
      // ordered conversion funnel (view -> click -> purchase): per
      // user, t1 = first view, t2 = first click at/after t1, t3 =
      // first purchase at/after t2 — the sequential-pattern op a web
      // analytics pipeline runs. ONE shuffle: per-user history is
      // naturally bounded (q63's premise), so the chain folds over a
      // sorted-array aggregate — the window formulation would need
      // three stacked user exchanges because each stage's minimum
      // conditions on the previous. Equal-timestamp ties process in
      // funnel-stage order (view before click before purchase), which
      // reproduces the oracle's `ts >= prev` semantics exactly.
      funnelOf(events(s, dir))
    }),
    "q64_asof_join" -> ((s, dir) => {
      // as-of join: each event picks the LATEST state snapshot at or
      // before its timestamp per user. DuckDB checks it with its NATIVE
      // ASOF JOIN; Spark runs the union-tag + ignore-nulls-last window
      // composition (operators.AsofJoin). States are aggregated unique
      // per (user, ts) — the determinism contract both engines need.
      val states = events(s, dir).filter(col("event_id") % 10 === 0)
        .groupBy(col("user_id"), col("ts"))
        .agg(max(round(col("value") * 10000, 0).cast("long")).as("state_bp"))
      val evs = events(s, dir).filter(col("event_id") % 10 =!= 0)
        .select(col("event_id"), col("user_id"), col("ts"))
      graft.operators.AsofJoin.asofJoin(evs, states, Seq("user_id"), "ts",
          Seq("state_bp"))
        .select(col("event_id"), col("user_id"), col("state_bp"))
    }),
    "q63_sessionize" -> ((s, dir) => {
      // gap-based sessionization: a >30-minute silence starts a new
      // session — lag + conditional flag + running sum, all in ONE
      // window partitioning (single shuffle on user_id); the interval
      // comparison avoids epoch conversion so both engines compare
      // timestamps directly
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      events(s, dir)
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev").isNull ||
            col("ts") > col("prev") + expr("INTERVAL 30 MINUTES"), 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_sess")).over(w))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          (unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts"))))
            .as("duration_s"))
    }),
    "q169_session_paths" -> ((s, dir) => {
      // session path mining (journey analysis): the top 20 most
      // common session-opening event-type sequences. Sessions come
      // from q63's gap recurrence (SAME single user exchange — two
      // window functions share one spec); each session's path is the
      // first 5 events' types folded IN ORDER from a bounded
      // sorted-array aggregate (per-session history is bounded, q63's
      // premise); the global top-k is orderBy+limit — Spark plans
      // TakeOrderedAndProject (per-partition partial top-k, never a
      // global sort or an unpartitioned window). Ties break on path.
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      events(s, dir)
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev").isNull ||
            col("ts") > col("prev") + expr("INTERVAL 30 MINUTES"), 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_sess")).over(w))
        .groupBy(col("user_id"), col("session_id"))
        .agg(expr("array_join(transform(slice(sort_array(" +
          "collect_list(struct(ts, event_id, event_type))), 1, 5)," +
          " x -> x.event_type), '>')").as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("n_sessions").desc, col("path").asc)
        .limit(20)
    }),
    "q10_facts_count" -> ((s, dir) =>
      // A5: osm2rdf:facts — count of fact rows per object.
      events(s, dir).groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("facts"))),
    "q205_longest_streak" -> ((s, dir) => {
      // longest consecutive-day activity streak per user — the classic
      // gaps-and-islands arithmetic (island key = day − rank), NO
      // self-join; both windows and both aggregates share ONE user_id
      // exchange, and days are integer days-since-epoch so the whole
      // query is exact BIGINT. Ties on length break to the EARLIEST
      // streak via one argmax struct fold (no second window).
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      events(s, dir)
        .select(col("user_id"),
          datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
            .cast("long").as("day"))
        .distinct()
        .withColumn("grp", col("day") - row_number().over(w))
        .groupBy(col("user_id"), col("grp"))
        .agg(count(lit(1)).as("len"), min(col("day")).as("start_day"))
        .groupBy(col("user_id"))
        .agg(max(struct(col("len"), (-col("start_day")).as("ns"))).as("m"))
        .select(col("user_id"), col("m.len").as("best_streak"),
          (-col("m.ns")).as("start_days"))
    }),
    "q215_transitions" -> ((s, dir) => {
      // first-order Markov transition matrix over event types (the
      // session-model fit q169's paths consume): per-user consecutive
      // type pairs via ONE lag window on the user exchange, global
      // (from, to) counts map-side-combined, and the row-normalized
      // share as an exact floor-ppm against the from-state total —
      // the total joins back on the tiny type key (broadcast), never
      // a second pass over the event stream.
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val tr = events(s, dir)
        .withColumn("t_to", lead(col("event_type"), 1).over(w))
        .filter(col("t_to").isNotNull)
        .groupBy(col("event_type").as("t_from"), col("t_to"))
        .agg(count(lit(1)).as("cnt"))
      val totals = tr.groupBy(col("t_from")).agg(sum(col("cnt")).as("tot"))
      tr.join(broadcast(totals), Seq("t_from"))
        .select(col("t_from"), col("t_to"), col("cnt"),
          expr("cnt * 1000000 div tot").as("ppm"))
    }),
    "q220_incremental_sessions" -> ((s, dir) => {
      // IVM of q63's gap sessionization under an EVENT change batch —
      // the keyed-window re-solve flavor of the IVM family (q124
      // re-solves a closed subgraph; here the closure is trivial
      // because sessions are strictly per-user): a batch touches
      // exactly the users it mentions, so stored sessions pass
      // through untouched for every other user and the gap recurrence
      // re-runs over the touched users' post-change history only —
      // O(touched users' events), never an event-stream re-scan, and
      // the rebuild window shuffles only the touched slice. Batch:
      // event_id%13=5 rows deleted; each user_id%7=3 user appends one
      // follow-up event 45 min after their last (a NEW session under
      // the 30-min gap rule). The stored state is rebuilt in-query as
      // oracle scaffolding (q52/q70 adjudication — production reads
      // the stored session table); oracle = full q63 on the
      // post-change stream.
      val ev = events(s, dir).select(col("user_id"), col("event_id"), col("ts"))
      def sessionsOf(e: DataFrame): DataFrame = {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
        e.withColumn("prev", lag(col("ts"), 1).over(w))
          .withColumn("new_sess",
            when(col("prev").isNull ||
              col("ts") > col("prev") + expr("INTERVAL 30 MINUTES"), 1L)
              .otherwise(0L))
          .withColumn("session_id", sum(col("new_sess")).over(w))
          .groupBy(col("user_id"), col("session_id"))
          .agg(count(lit(1)).as("n_events"),
            (unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts"))))
              .as("duration_s"))
      }
      val stored = sessionsOf(ev)
      val appended = ev.filter(col("user_id") % 7 === 3)
        .groupBy(col("user_id")).agg(max(col("ts")).as("mts"))
        .select(col("user_id"),
          (col("user_id") + lit(1000000000L)).as("event_id"),
          (col("mts") + expr("INTERVAL 45 MINUTES")).as("ts"))
      val deleted = ev.filter(col("event_id") % 13 === 5)
      val touched = deleted.select(col("user_id"))
        .union(appended.select(col("user_id"))).distinct()
      val post = ev.filter(col("event_id") % 13 =!= 5).unionByName(appended)
      val rebuilt = sessionsOf(post.join(touched, Seq("user_id"), "left_semi"))
      stored.join(touched, Seq("user_id"), "left_anti").unionByName(rebuilt)
    }),
    "q227_scd2_intervals" -> ((s, dir) => {
      // slowly-changing-dimension (type 2) history build: each user's
      // event_type stream collapses into [valid_from, valid_to)
      // validity intervals — consecutive same-type runs via the
      // gaps-and-islands flag+sum recurrence, closed by the NEXT
      // interval's open (lead; NULL = current row). All three windows
      // and the aggregate share ONE user_id exchange — the warehouse
      // staple expressed with zero self-joins (the naive build joins
      // the stream to itself on "next change").
      val wo = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val segs = events(s, dir)
        .withColumn("chg",
          when(lag(col("event_type"), 1).over(wo).isNull ||
            lag(col("event_type"), 1).over(wo) =!= col("event_type"), 1L)
            .otherwise(0L))
        .withColumn("seg_id", sum(col("chg")).over(wo))
        .groupBy(col("user_id"), col("seg_id"))
        .agg(min(col("event_type")).as("event_type"),
          min(col("ts")).as("valid_from"),
          count(lit(1)).as("n_events"))
      val ws = Window.partitionBy(col("user_id")).orderBy(col("seg_id").asc)
      segs.withColumn("valid_to", lead(col("valid_from"), 1).over(ws))
        .select(col("user_id"), col("seg_id"), col("event_type"),
          col("valid_from"), col("valid_to"), col("n_events"))
    }),
    "q233_decay_score" -> ((s, dir) => {
      // freshness-decayed engagement score — recency weighting with a
      // 7-day HALF-LIFE kept exact: weight_ppm = 10⁶ div 2^(age/7),
      // the exponent clamped to [0, 30] (older than ~30 weeks decays
      // to 0 exactly; a negative age from clock skew clamps to full
      // weight instead of dividing by a fraction). No exp()/ln() —
      // the halving-bucket fold is pure BIGINT, mirrored digit-for-
      // digit in the oracle, and the whole score is ONE map-side-
      // combined aggregate over the event stream.
      events(s, dir)
        .select(col("user_id"),
          expr("greatest(least(datediff(DATE'2024-03-01', " +
            "CAST(ts AS DATE)) div 7, 30), 0)").as("k"))
        .select(col("user_id"),
          expr("1000000 div CAST(pow(2, k) AS BIGINT)").as("w"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"), sum(col("w")).as("score"))
    }),
    "q240_shard_rebalance" -> ((s, dir) => {
      // consistent-hashing movement audit — the shard-assignment
      // algebra a 100 TB corpus lives on: 4 storage nodes × 4 vnodes
      // on a 2^20 ring, a 5th node joins with 4 more vnodes, and the
      // audit counts per (old_owner, new_owner) how many docs move.
      // The ring-successor lookup folds to a driver-built WHEN chain
      // over the ≤20 SORTED vnode positions (pure codegen, O(1) per
      // row, no join, no 20× candidate blowup), the audit is ONE
      // map-side-combined aggregate — embarrassingly parallel. The
      // defining consistent-hashing property (rows move ONLY to the
      // joining node; old→other-old is impossible because surviving
      // vnodes keep their positions) is visible in the output: every
      // moved row lands on node 4.
      val positions = ShardRing.oldRing.map(_._1)
      require(positions.distinct.size == positions.size)
      val h = pmod(pmod(col("doc_id"), lit(ShardRing.M)) * 2654435761L + 12345L,
        lit(ShardRing.M))
      def owner(ring: Seq[(Long, Long)]): org.apache.spark.sql.Column =
        ring.reverse.foldLeft(lit(ring.head._2): org.apache.spark.sql.Column) {
          case (acc, (p, node)) => when(h <= p, lit(node)).otherwise(acc)
        }
      Tables.documents(s, dir)
        .select(owner(ShardRing.oldRing).as("old_node"),
          owner(ShardRing.newRing).as("new_node"))
        .groupBy(col("old_node"), col("new_node"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("moved", when(col("old_node") =!= col("new_node"), 1L)
          .otherwise(0L))
    }),
  )

  /** q240's rings: vnode i sits at (i·2654435761 + 987654321) mod 2^20
    * (all 20 positions distinct — checked at plan build); vnodes 0-15
    * belong to nodes i%4, the joining node 4 brings vnodes 16-19. */
  private[graft] object ShardRing {
    val M: Long = 1L << 20
    private def vpos(i: Long): Long = (i * 2654435761L + 987654321L) % M
    private def node(i: Long): Long = if (i < 16) i % 4 else 4L
    val oldRing: Seq[(Long, Long)] =
      (0L until 16L).map(i => (vpos(i), node(i))).sortBy(_._1)
    val newRing: Seq[(Long, Long)] =
      (0L until 20L).map(i => (vpos(i), node(i))).sortBy(_._1)
    /** CASE chain mirror for the oracle. */
    def ownerSql(h: String, ring: Seq[(Long, Long)]): String =
      "CASE " + ring.map { case (p, n) => s"WHEN $h <= $p THEN $n" }
        .mkString(" ") + s" ELSE ${ring.head._2} END"
  }

  val oracles: Map[String, String] = Map(
    // the independent formulation: the textbook recursive LIS DP over
    // (user, position, length) states — the in-aggregate fold must
    // reproduce its maxima
    "q295_lis_trend" ->
      """WITH RECURSIVE pos AS (
        |  SELECT user_id,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i,
        |    value AS v
        |  FROM events WHERE user_id % 10 = 0),
        |r AS (
        |  SELECT user_id, i, v, 1 AS len FROM pos
        |  UNION
        |  SELECT p.user_id, p.i, p.v, r.len + 1
        |  FROM r JOIN pos p ON p.user_id = r.user_id AND p.i > r.i
        |    AND p.v > r.v),
        |n AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
        |  FROM pos GROUP BY 1)
        |SELECT n.user_id, n.n_events,
        |  CAST((SELECT MAX(len) FROM r WHERE r.user_id = n.user_id) AS BIGINT)
        |    AS lis_len
        |FROM n""".stripMargin,
    "q240_shard_rebalance" -> {
      val h = s"(doc_id % ${ShardRing.M} * 2654435761 + 12345) % ${ShardRing.M}"
      s"""WITH o AS (SELECT
         |    ${ShardRing.ownerSql(s"($h)", ShardRing.oldRing)} AS old_node,
         |    ${ShardRing.ownerSql(s"($h)", ShardRing.newRing)} AS new_node
         |  FROM documents)
         |SELECT old_node, new_node, COUNT(*) AS cnt,
         |  CASE WHEN old_node <> new_node THEN 1 ELSE 0 END AS moved
         |FROM o GROUP BY 1, 2""".stripMargin
    },
    "q148_user_growth" ->
      """WITH firsts AS (
        |  SELECT event_type, user_id, MIN(ts) AS first_ts
        |  FROM events GROUP BY 1, 2
        |), days AS (
        |  SELECT event_type, CAST(first_ts AS DATE) AS d,
        |    COUNT(*) AS new_users
        |  FROM firsts GROUP BY 1, 2
        |)
        |SELECT event_type, CAST(d AS VARCHAR) AS day, new_users,
        |  CAST(SUM(new_users) OVER (PARTITION BY event_type ORDER BY d)
        |    AS BIGINT) AS cum_users
        |FROM days""".stripMargin,
    "q01_pricing_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(ROUND(l_quantity*100,0) AS BIGINT)) AS BIGINT) AS sum_qty_c,
        |  CAST(SUM(CAST(ROUND(l_extendedprice*100,0) AS BIGINT)) AS BIGINT) AS sum_base_c,
        |  CAST(SUM(CAST(ROUND(l_discount*10000,0) AS BIGINT)) AS BIGINT) AS sum_disc_bp,
        |  COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q02_revenue_per_nation" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(ROUND(l_extendedprice*100,0) AS BIGINT)
        |      * (10000 - CAST(ROUND(l_discount*10000,0) AS BIGINT))) AS BIGINT) AS revenue_micro,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,
    "q03_dedup_latest" ->
      """SELECT user_id, event_type, event_id, ts,
        |  CAST(ROUND(value*10000,0) AS BIGINT) AS value_bp
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |WHERE rn = 1""".stripMargin,
    "q04_semijoin_orders_of_flagged_parts" ->
      """SELECT DISTINCT l_orderkey FROM lineitem
        |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size % 7 = 0)""".stripMargin,
    "q85_bloom_semijoin" ->
      """SELECT DISTINCT l_orderkey FROM lineitem
        |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size % 5 = 0)""".stripMargin,
    "q05_antijoin_customers_without_orders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)""".stripMargin,
    "q06_union_distinct_ids" ->
      """SELECT o_custkey AS id FROM orders WHERE o_orderstatus = 'F'
        |UNION
        |SELECT c_custkey AS id FROM customer WHERE c_acctbal < 0
        |UNION
        |SELECT s_suppkey AS id FROM supplier""".stripMargin,
    "q07_ordered_group_concat" ->
      """SELECT l_orderkey,
        |  STRING_AGG(CAST(l_partkey AS VARCHAR), ';' ORDER BY l_linenumber, l_partkey) AS members,
        |  COUNT(*) AS n_members
        |FROM lineitem GROUP BY l_orderkey""".stripMargin,
    "q08_latest_timestamp" ->
      "SELECT MAX(ts) AS latest_ts FROM events",
    "q09_topk_per_group" ->
      """SELECT o_custkey, rank, o_orderkey,
        |  CAST(ROUND(o_totalprice*100,0) AS BIGINT) AS price_cents
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
        |        ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank FROM orders)
        |WHERE rank <= 3""".stripMargin,
    "q67b_hist_quantile" ->
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(ROUND(value*10000,0) AS BIGINT) // 16 AS b FROM events),
        |hist AS (SELECT event_type, b, COUNT(*) AS c FROM e GROUP BY 1, 2),
        |cum AS (
        |  SELECT event_type, b,
        |    SUM(c) OVER (PARTITION BY event_type ORDER BY b) AS cum,
        |    SUM(c) OVER (PARTITION BY event_type) AS n
        |  FROM hist)
        |SELECT event_type,
        |  CAST(MIN(CASE WHEN cum*2 >= n THEN (b+1)*16 END) AS BIGINT) AS p50_ub_bp,
        |  CAST(MIN(CASE WHEN cum*10 >= n*9 THEN (b+1)*16 END) AS BIGINT) AS p90_ub_bp
        |FROM cum GROUP BY 1""".stripMargin,
    "q102_resample_gapfill" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, COUNT(*) AS n,
        |    CAST(SUM(CAST(ROUND(value*10000,0) AS BIGINT)) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2),
        |spans AS (SELECT user_id, MIN(d) AS d0, MAX(d) AS d1 FROM daily GROUP BY 1),
        |grid AS (
        |  SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d
        |  FROM spans)
        |SELECT g.user_id, CAST(g.d AS VARCHAR) AS day,
        |  COALESCE(daily.n, 0) AS n_events,
        |  CAST(COALESCE(daily.v, 0) AS BIGINT) AS v_bp
        |FROM grid g LEFT JOIN daily USING (user_id, d)""".stripMargin,
    "q09b_topk_agg" ->
      """SELECT o_custkey, rank, o_orderkey, price_cents
        |FROM (SELECT o_custkey, o_orderkey,
        |        CAST(ROUND(o_totalprice*100,0) AS BIGINT) AS price_cents,
        |        ROW_NUMBER() OVER (PARTITION BY o_custkey
        |          ORDER BY CAST(ROUND(o_totalprice*100,0) AS BIGINT) DESC,
        |            o_orderkey ASC) AS rank
        |      FROM orders)
        |WHERE rank <= 3""".stripMargin,
    "q10_facts_count" ->
      "SELECT user_id, event_type, COUNT(*) AS facts FROM events GROUP BY user_id, event_type",
    "q67_quantiles" ->
      """SELECT event_type,
        |  CAST(ROUND(quantile_cont(value, 0.5)*10000, 0) AS BIGINT) AS p50_bp,
        |  CAST(ROUND(quantile_cont(value, 0.9)*10000, 0) AS BIGINT) AS p90_bp
        |FROM events GROUP BY event_type""".stripMargin,
    "q68_pivot" -> {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val cols = types.map(t =>
        s"""COUNT(*) FILTER (WHERE event_type = '$t') AS "$t"""").mkString(",\n  ")
      s"""SELECT user_id % 100 AS ub,
         |  $cols
         |FROM events GROUP BY 1""".stripMargin
    },
    "q69_rollup" ->
      """SELECT COALESCE(event_type, 'ALL') AS event_type,
        |  COALESCE(ub, -1) AS ub,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(value*10000, 0) AS BIGINT)) AS BIGINT) AS v_bp
        |FROM (SELECT event_type, user_id % 10 AS ub, value FROM events)
        |GROUP BY ROLLUP(event_type, ub)""".stripMargin,
    "q108_moving_avg" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |spans AS (SELECT user_id, MIN(d) AS d0, MAX(d) AS d1 FROM daily GROUP BY 1),
        |grid AS (
        |  SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d
        |  FROM spans),
        |filled AS (
        |  SELECT g.user_id, g.d, COALESCE(daily.n, 0) AS n
        |  FROM grid g LEFT JOIN daily USING (user_id, d))
        |SELECT user_id, CAST(d AS VARCHAR) AS day, n AS n_events,
        |  CAST(SUM(n) OVER w * 1000 // COUNT(*) OVER w AS BIGINT) AS ma7_milli
        |FROM filled
        |WINDOW w AS (PARTITION BY user_id ORDER BY d
        |  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin,
    "q105_group_ols" ->
      """WITH e AS (
        |  SELECT event_type,
        |    epoch_us(ts) // 1000000 // 60 - 28401120 AS x,
        |    CAST(ROUND(value*10000, 0) AS BIGINT) AS y
        |  FROM events),
        |a AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x*x) AS BIGINT) AS sxx, CAST(SUM(x*y) AS BIGINT) AS sxy
        |  FROM e GROUP BY 1)
        |SELECT event_type, n,
        |  CAST(ROUND(1000000000.0 *
        |    ((n*sxy - sx*sy) / (n*sxx - sx*sx)), 0) AS BIGINT) AS slope_nano
        |FROM a""".stripMargin,
    "q106_mode" ->
      """SELECT user_id, event_type AS mode_type, n FROM (
        |  SELECT user_id, event_type, COUNT(*) AS n,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY COUNT(*) DESC, event_type ASC) AS rn
        |  FROM events GROUP BY 1, 2)
        |WHERE rn = 1""".stripMargin,
    "q111_intersect" ->
      """SELECT o_custkey AS id FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT c_custkey AS id FROM customer WHERE c_acctbal < 0""".stripMargin,
    "q111b_intersect_all" ->
      """SELECT o_custkey AS id FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT ALL
        |SELECT o_custkey AS id FROM orders WHERE o_totalprice > 100000""".stripMargin,
    "q112_except_all" ->
      """SELECT o_custkey AS id FROM orders
        |EXCEPT ALL
        |SELECT o_custkey AS id FROM orders WHERE o_orderstatus = 'F'""".stripMargin,
    "q104_kv_explode" ->
      """WITH kvs AS (
        |  SELECT unnest(string_split(
        |    'type=' || event_type || '&u=' || (user_id % 100)
        |      || '&geo=r' || (event_id % 5), '&')) AS kv
        |  FROM events)
        |SELECT string_split(kv, '=')[1] AS k,
        |  string_split(kv, '=')[2] AS v, COUNT(*) AS n
        |FROM kvs GROUP BY 1, 2""".stripMargin,
    "q69b_cube" ->
      """SELECT COALESCE(event_type, 'ALL') AS event_type,
        |  COALESCE(ub, -1) AS ub,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(value*10000, 0) AS BIGINT)) AS BIGINT) AS v_bp
        |FROM (SELECT event_type, user_id % 10 AS ub, value FROM events)
        |GROUP BY CUBE(event_type, ub)""".stripMargin,
    "q65_range_join" ->
      """WITH intervals AS (
        |  SELECT o_orderkey, o_totalprice % 450.0 AS lo,
        |    o_totalprice % 450.0 + 2.0 AS hi
        |  FROM orders WHERE o_orderkey % 8 = 0)
        |SELECT e.event_id, i.o_orderkey
        |FROM events e JOIN intervals i
        |  ON e.value BETWEEN i.lo AND i.hi""".stripMargin,
    "q256_seasonal_decompose" ->
      """WITH daily AS (
        |  SELECT event_type, event_id % 28 AS day,
        |    CAST(SUM(CAST(ROUND(value * 10000, 0) AS BIGINT)) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2),
        |tr AS (
        |  SELECT event_type, day, v,
        |    SUM(v) OVER w AS tsum, COUNT(*) OVER w AS tcnt,
        |    day % 7 AS wd
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |t2 AS (
        |  SELECT event_type, day, v, wd,
        |    CASE WHEN tcnt = 7
        |      THEN (tsum - ((tsum % 7) + 7) % 7) // 7 END AS trend
        |  FROM tr),
        |seas AS (
        |  SELECT event_type, wd,
        |    (SUM(v - trend) - ((SUM(v - trend) % COUNT(*)) + COUNT(*))
        |      % COUNT(*)) // COUNT(*) AS seasonal
        |  FROM t2 WHERE trend IS NOT NULL GROUP BY 1, 2)
        |SELECT t2.event_type, day, v, CAST(trend AS BIGINT) AS trend,
        |  CAST(seasonal AS BIGINT) AS seasonal,
        |  CAST(v - trend - seasonal AS BIGINT) AS remainder
        |FROM t2 JOIN seas ON t2.event_type = seas.event_type
        |  AND t2.wd = seas.wd
        |WHERE trend IS NOT NULL""".stripMargin,
    // same floor-quotient identity (num − pmod) // dd spelled with
    // DuckDB's C-style % (sign of dividend) made nonnegative
    "q242_theilsen_trend" ->
      """WITH daily AS (
        |  SELECT event_type, event_id % 30 AS day,
        |    CAST(SUM(CAST(ROUND(value * 10000, 0) AS BIGINT)) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2),
        |p AS (SELECT a.event_type, a.day AS d1, b.day AS d2,
        |    (b.v - a.v) * 1000000 AS num, b.day - a.day AS dd
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND b.day > a.day),
        |sl AS (SELECT event_type, d1, d2,
        |    CAST((num - ((num % dd) + dd) % dd) // dd AS BIGINT) AS slope_e6
        |  FROM p),
        |r AS (SELECT event_type, slope_e6,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY slope_e6, d1, d2) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM sl)
        |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_pairs,
        |  MIN(slope_e6) AS slope_lo_e6, MAX(slope_e6) AS slope_hi_e6
        |FROM r WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
        |GROUP BY event_type""".stripMargin,
    "q243_percentile_bands" ->
      """WITH r AS (
        |  SELECT source, doc_id, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY n_chars, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |SELECT source, CAST(MAX(n) AS BIGINT) AS n,
        |  MAX(CASE WHEN rn = (10*n + 99) // 100 THEN n_chars END) AS p10,
        |  MAX(CASE WHEN rn = (50*n + 99) // 100 THEN n_chars END) AS p50,
        |  MAX(CASE WHEN rn = (90*n + 99) // 100 THEN n_chars END) AS p90
        |FROM r
        |WHERE rn = (10*n + 99) // 100 OR rn = (50*n + 99) // 100
        |   OR rn = (90*n + 99) // 100
        |GROUP BY source""".stripMargin,
    "q133_group_median" ->
      """WITH v AS (
        |  SELECT event_type, event_id,
        |    CAST(ROUND(value * 10000, 0) AS BIGINT) AS v_bp
        |  FROM events),
        |r AS (SELECT event_type, v_bp,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY v_bp ASC, event_id ASC) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM v)
        |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
        |  MIN(v_bp) AS median_lo, MAX(v_bp) AS median_hi
        |FROM r WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
        |GROUP BY event_type""".stripMargin,
    // LEAST/GREATEST stay OUT of the join condition (DuckDB flat-vector
    // caveat) — overlap length computes in the outer projection
    "q129_interval_overlap" ->
      """WITH a AS (
        |  SELECT o_orderkey, o_totalprice % 450.0 AS alo,
        |    o_totalprice % 450.0 + 2.0 AS ahi
        |  FROM orders WHERE o_orderkey % 8 = 0),
        |b AS (
        |  SELECT event_id, value % 450.0 AS blo, value % 450.0 + 1.5 AS bhi
        |  FROM events)
        |SELECT o_orderkey, event_id,
        |  CAST(ROUND((LEAST(ahi, bhi) - GREATEST(alo, blo)) * 10000000.0, 0)
        |    AS BIGINT) AS olap_e7
        |FROM a JOIN b ON a.alo <= b.bhi AND b.blo <= a.ahi""".stripMargin,
    "q97_rank_suite" ->
      """SELECT event_id, event_type,
        |  CAST(NTILE(4) OVER w AS BIGINT) AS ntile4,
        |  CAST(ROUND(PERCENT_RANK() OVER w * 10000, 0) AS BIGINT) AS pr_bp,
        |  CAST(ROUND(CUME_DIST() OVER w * 10000, 0) AS BIGINT) AS cume_bp
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)""".stripMargin,
    "q94_table_profile" -> {
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "price_cents")
      val selects = cols.map { c =>
        s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
           |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_nulls,
           |  COUNT(DISTINCT $c) AS n_distinct,
           |  CAST(MIN($c) AS BIGINT) AS min_v,
           |  CAST(MAX($c) AS BIGINT) AS max_v
           |FROM li""".stripMargin
      }
      s"""WITH li AS (
         |  SELECT *, CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
         |    AS price_cents
         |  FROM lineitem)
         |${selects.mkString("\nUNION ALL\n")}""".stripMargin
    },
    "q66_kmv_sketch" ->
      """WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
        |h AS (SELECT event_type,
        |        CAST('0x' || substr(md5('u:' || user_id), 1, 15) AS BIGINT) AS h
        |      FROM du),
        |topk AS (
        |  SELECT * FROM (
        |    SELECT event_type, h,
        |      ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h ASC) AS rn
        |    FROM h)
        |  WHERE rn <= 64)
        |SELECT event_type, MAX(h) AS kth_min_hash,
        |  CAST(CASE WHEN COUNT(*) < 64 THEN COUNT(*)
        |       ELSE FLOOR(63.0 * 1152921504606846976.0 / MAX(h)) END AS BIGINT)
        |    AS est_distinct
        |FROM topk GROUP BY event_type""".stripMargin,
    // the oracle materializes the true k-minima per side relationally;
    // the estimator expressions mirror q66's double/floor form exactly
    "q165_kmv_setops" ->
      """WITH h AS (SELECT event_id,
        |    CAST('0x' || substr(md5('e:' || event_id), 1, 15) AS BIGINT) AS h
        |  FROM events),
        |a AS (SELECT DISTINCT h FROM h WHERE event_id % 2 = 0 ORDER BY h LIMIT 64),
        |b AS (SELECT DISTINCT h FROM h WHERE event_id % 3 = 0 ORDER BY h LIMIT 64),
        |u AS (SELECT h FROM (SELECT h FROM a UNION SELECT h FROM b) ORDER BY h LIMIT 64),
        |sa AS (SELECT COUNT(*) AS na, MAX(h) AS ka FROM a),
        |sb AS (SELECT COUNT(*) AS nb, MAX(h) AS kb FROM b),
        |su AS (SELECT COUNT(*) AS nu, MAX(h) AS ku FROM u),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS matches FROM u
        |      WHERE h IN (SELECT h FROM a) AND h IN (SELECT h FROM b)),
        |e AS (SELECT
        |    CAST(CASE WHEN na < 64 THEN na
        |         ELSE FLOOR(63.0 * 1152921504606846976.0 / ka) END AS BIGINT) AS est_a,
        |    CAST(CASE WHEN nb < 64 THEN nb
        |         ELSE FLOOR(63.0 * 1152921504606846976.0 / kb) END AS BIGINT) AS est_b,
        |    CAST(CASE WHEN nu < 64 THEN nu
        |         ELSE FLOOR(63.0 * 1152921504606846976.0 / ku) END AS BIGINT) AS est_union,
        |    nu, matches
        |  FROM sa, sb, su, m),
        |f AS (SELECT est_a, est_b, est_union, matches,
        |    CAST(CASE WHEN nu < 64 THEN matches
        |         ELSE (matches * est_union) // 64 END AS BIGINT) AS est_intersect
        |  FROM e)
        |SELECT est_a, est_b, est_union, matches, est_intersect,
        |  CAST(10000 * est_intersect // (est_a + est_b - est_intersect) AS BIGINT)
        |    AS jaccard_bp
        |FROM f""".stripMargin,
    "q166_attribution" ->
      """SELECT c.event_id AS click_id, i.event_id AS imp_id, c.user_id
        |FROM events c JOIN events i ON c.user_id = i.user_id
        | AND c.event_id % 5 = 0 AND i.event_id % 5 <> 0
        | AND i.ts <= c.ts AND c.ts <= i.ts + INTERVAL 30 MINUTE""".stripMargin,
    // stage minima chain relationally: each CTE conditions on the
    // previous stage's per-user minimum with ts >= prev (ties count)
    "q167_funnel" ->
      """WITH v AS (SELECT user_id, MIN(epoch_us(ts)) AS t1
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND epoch_us(e.ts) >= v.t1
        |  GROUP BY 1),
        |p AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS t3
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= c.t2
        |  GROUP BY 1),
        |users AS (SELECT DISTINCT user_id FROM events)
        |SELECT u.user_id,
        |  CAST(CASE WHEN p.t3 IS NOT NULL THEN 3
        |       WHEN c.t2 IS NOT NULL THEN 2
        |       WHEN v.t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage,
        |  v.t1 AS t1_us, c.t2 AS t2_us, p.t3 AS t3_us
        |FROM users u
        |LEFT JOIN v ON u.user_id = v.user_id
        |LEFT JOIN c ON u.user_id = c.user_id
        |LEFT JOIN p ON u.user_id = p.user_id""".stripMargin,
    "q64_asof_join" ->
      """WITH states AS (
        |  SELECT user_id, ts, MAX(CAST(ROUND(value*10000,0) AS BIGINT)) AS state_bp
        |  FROM events WHERE event_id % 10 = 0 GROUP BY user_id, ts),
        |evs AS (SELECT event_id, user_id, ts FROM events WHERE event_id % 10 <> 0)
        |SELECT e.event_id, e.user_id, s.state_bp
        |FROM evs e ASOF LEFT JOIN states s
        |  ON e.user_id = s.user_id AND e.ts >= s.ts""".stripMargin,
    // two ignore-nulls windows locate the neighboring present days;
    // the slope divide is sign-split so `//` (floor) == `div` (trunc)
    "q175_interpolate" ->
      """WITH p AS (SELECT user_id,
        |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
        |    CAST(SUM(CAST(ROUND(value*10000, 0) AS BIGINT)) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT user_id, MIN(day) AS lo, MAX(day) AS hi
        |  FROM p GROUP BY 1),
        |grid AS (SELECT user_id, unnest(generate_series(lo, hi)) AS day
        |  FROM span),
        |g AS (SELECT grid.user_id, grid.day, p.v
        |  FROM grid LEFT JOIN p ON grid.user_id = p.user_id
        |    AND grid.day = p.day),
        |w AS (SELECT user_id, day, v,
        |    LAST_VALUE(v IGNORE NULLS) OVER wp AS v0,
        |    LAST_VALUE(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
        |      OVER wp AS dd0,
        |    FIRST_VALUE(v IGNORE NULLS) OVER wn AS v1,
        |    FIRST_VALUE(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
        |      OVER wn AS dd1
        |  FROM g
        |  WINDOW wp AS (PARTITION BY user_id ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wn AS (PARTITION BY user_id ORDER BY day
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, day,
        |  CAST(CASE WHEN v IS NOT NULL THEN v
        |       WHEN v0 IS NULL THEN v1
        |       WHEN v1 IS NULL THEN v0
        |       ELSE v0 + (CASE WHEN v1 >= v0 THEN 1 ELSE -1 END)
        |         * ((abs(v1 - v0) * (day - dd0)) // (dd1 - dd0))
        |       END AS BIGINT) AS v_bp
        |FROM w""".stripMargin,
    // Page/Lindley identity: s_i = p_i - min(0, running-min of p)
    "q180_cusum" ->
      """WITH e AS (SELECT user_id, ts, event_id,
        |    CAST(ROUND(value*10000, 0) AS BIGINT) AS vb FROM events),
        |pre AS (SELECT user_id, ts, event_id,
        |    SUM(vb - 550000) OVER w AS pu,
        |    SUM(450000 - vb) OVER w AS pd
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |st AS (SELECT user_id,
        |    pu - LEAST(MIN(pu) OVER w, 0) AS su,
        |    pd - LEAST(MIN(pd) OVER w, 0) AS sd
        |  FROM pre WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT user_id,
        |  COUNT(CASE WHEN su >= 2000000 THEN 1 END) AS n_alarms_up,
        |  COUNT(CASE WHEN sd >= 2000000 THEN 1 END) AS n_alarms_dn,
        |  CAST(MAX(su) AS BIGINT) AS max_s_up,
        |  CAST(MAX(sd) AS BIGINT) AS max_s_dn
        |FROM st GROUP BY user_id""".stripMargin,
    "q181_retention" ->
      """WITH act AS (SELECT DISTINCT user_id,
        |    CAST(epoch_us(ts) // 604800000000 AS BIGINT) AS week
        |  FROM events),
        |firsts AS (SELECT user_id, MIN(week) AS cohort FROM act GROUP BY 1),
        |sizes AS (SELECT cohort, COUNT(*) AS cohort_n FROM firsts GROUP BY 1)
        |SELECT f.cohort, a.week - f.cohort AS "offset",
        |  COUNT(*) AS n_active, ANY_VALUE(s.cohort_n) AS cohort_n,
        |  CAST(COUNT(*) * 1000000 // ANY_VALUE(s.cohort_n) AS BIGINT)
        |    AS retention_ppm
        |FROM act a JOIN firsts f USING (user_id)
        |  JOIN sizes s ON s.cohort = f.cohort
        |GROUP BY 1, 2""".stripMargin,
    // scatter each activity to its 4 covered target weeks, then
    // count distinct users per observed target week
    "q186_rolling_active" ->
      """WITH act AS (SELECT DISTINCT user_id,
        |    CAST(epoch_us(ts) // 604800000000 AS BIGINT) AS week
        |  FROM events),
        |wk AS (SELECT DISTINCT week FROM act),
        |sc AS (SELECT a.user_id, a.week + g.g AS tw
        |  FROM act a, generate_series(0, 3) g(g))
        |SELECT sc.tw AS week, COUNT(DISTINCT sc.user_id) AS mau
        |FROM sc JOIN wk ON wk.week = sc.tw
        |GROUP BY 1""".stripMargin,
    "q188_acf" ->
      """WITH daily AS (SELECT user_id % 100 AS cohort,
        |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
        |    COUNT(*) AS y
        |  FROM events GROUP BY 1, 2),
        |lagged AS (SELECT cohort, day, y,
        |    CASE WHEN LAG(day, 1) OVER w = day - 1
        |         THEN LAG(y, 1) OVER w END AS x1,
        |    CASE WHEN LAG(day, 2) OVER w = day - 2
        |         THEN LAG(y, 2) OVER w END AS x2
        |  FROM daily WINDOW w AS (PARTITION BY cohort ORDER BY day)),
        |s1 AS (SELECT cohort, 1 AS lag, COUNT(*) AS m,
        |    CAST(SUM(x1) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x1*y) AS BIGINT) AS sxy,
        |    CAST(SUM(x1*x1) AS BIGINT) AS sxx,
        |    CAST(SUM(y*y) AS BIGINT) AS syy
        |  FROM lagged WHERE x1 IS NOT NULL GROUP BY 1),
        |s2 AS (SELECT cohort, 2 AS lag, COUNT(*) AS m,
        |    CAST(SUM(x2) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x2*y) AS BIGINT) AS sxy,
        |    CAST(SUM(x2*x2) AS BIGINT) AS sxx,
        |    CAST(SUM(y*y) AS BIGINT) AS syy
        |  FROM lagged WHERE x2 IS NOT NULL GROUP BY 1),
        |f AS (SELECT cohort, lag, m,
        |    m*sxy - sx*sy AS num, m*sxx - sx*sx AS den_x,
        |    m*syy - sy*sy AS den_y
        |  FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2))
        |SELECT cohort, CAST(lag AS BIGINT) AS lag, m, num,
        |  CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)
        |    * ((CAST(1000000 AS HUGEINT) * num * num)
        |       // (CAST(den_x AS HUGEINT) * den_y)) AS BIGINT)
        |    AS acf2_ppm_signed
        |FROM f WHERE den_x > 0 AND den_y > 0""".stripMargin,
    "q190_grouping_sets" ->
      """SELECT COALESCE(event_type, 'ALL') AS event_type,
        |  COALESCE(ub, -1) AS ub,
        |  CAST(GROUPING(event_type, ub) AS BIGINT) AS gid,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(value*10000, 0) AS BIGINT)) AS BIGINT) AS v_bp
        |FROM (SELECT event_type, user_id % 10 AS ub, value FROM events)
        |GROUP BY GROUPING SETS ((event_type, ub), (event_type), ())""".stripMargin,
    // same-weekday lower-median baseline; MAD = lower median of |resid|
    "q184_seasonal_anomaly" ->
      """WITH daily AS (SELECT user_id,
        |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
        |    CAST(SUM(CAST(ROUND(value*10000, 0) AS BIGINT)) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2),
        |d2 AS (SELECT *, day % 7 AS wd FROM daily),
        |base AS (SELECT user_id, wd, v AS med FROM (
        |  SELECT user_id, wd, v,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, wd
        |      ORDER BY v, day) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id, wd) AS nn
        |  FROM d2) WHERE rn = (nn + 1) // 2),
        |resid AS (SELECT d2.user_id, d2.day, ABS(d2.v - base.med) AS ar
        |  FROM d2 JOIN base USING (user_id, wd)),
        |mad AS (SELECT user_id, ar AS mad FROM (
        |  SELECT user_id, ar,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ar, day) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id) AS nn
        |  FROM resid) WHERE rn = (nn + 1) // 2)
        |SELECT r.user_id, COUNT(*) AS n_days,
        |  CAST(MAX(m.mad) AS BIGINT) AS mad,
        |  COUNT(CASE WHEN r.ar > m.mad * 3 THEN 1 END) AS n_anom,
        |  CAST(MAX(r.ar) AS BIGINT) AS max_abs_resid
        |FROM resid r JOIN mad m USING (user_id)
        |GROUP BY 1""".stripMargin,
    // q63's session recurrence + per-session first-5 path + top 20;
    // row_number caps the path at 5 events, ties break on path
    "q169_session_paths" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |sess AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    SUM(new_sess) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged),
        |capped AS (
        |  SELECT user_id, session_id, ts, event_id, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, session_id
        |      ORDER BY ts ASC, event_id ASC) AS rn
        |  FROM sess),
        |paths AS (
        |  SELECT user_id, session_id,
        |    string_agg(event_type, '>' ORDER BY ts ASC, event_id ASC) AS path
        |  FROM capped WHERE rn <= 5 GROUP BY 1, 2)
        |SELECT path, COUNT(*) AS n_sessions
        |FROM paths GROUP BY 1
        |ORDER BY n_sessions DESC, path ASC LIMIT 20""".stripMargin,
    "q63_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |sess AS (
        |  SELECT user_id, ts,
        |    SUM(new_sess) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC) AS session_id
        |  FROM flagged)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  COUNT(*) AS n_events,
        |  CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT) AS duration_s
        |FROM sess GROUP BY user_id, session_id""".stripMargin,
    "q205_longest_streak" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) - DATE '1970-01-01' AS day
        |  FROM events),
        |isl AS (
        |  SELECT user_id, day,
        |    day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
        |  FROM days),
        |st AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS len,
        |    MIN(day) AS start_day
        |  FROM isl GROUP BY user_id, grp)
        |SELECT user_id, len AS best_streak, CAST(start_day AS BIGINT) AS start_days
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |        ORDER BY len DESC, start_day ASC) AS rn FROM st)
        |WHERE rn = 1""".stripMargin,
    "q215_transitions" ->
      """WITH tr AS (
        |  SELECT event_type AS t_from,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC) AS t_to
        |  FROM events),
        |c AS (
        |  SELECT t_from, t_to, COUNT(*) AS cnt FROM tr
        |  WHERE t_to IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT t_from, SUM(cnt) AS tot FROM c GROUP BY 1)
        |SELECT c.t_from, c.t_to, CAST(cnt AS BIGINT) AS cnt,
        |  CAST(cnt * 1000000 // tot AS BIGINT) AS ppm
        |FROM c JOIN tot USING (t_from)""".stripMargin,
    // full q63 sessionization over the post-change event stream: the
    // IVM result must equal the one-shot recompute
    "q220_incremental_sessions" ->
      """WITH app AS (
        |  SELECT user_id, user_id + 1000000000 AS event_id,
        |    MAX(ts) + INTERVAL 45 MINUTE AS ts
        |  FROM events WHERE user_id % 7 = 3 GROUP BY user_id),
        |post AS (
        |  SELECT user_id, event_id, ts FROM events WHERE event_id % 13 <> 5
        |  UNION ALL SELECT user_id, event_id, ts FROM app),
        |flagged AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM post
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |sess AS (
        |  SELECT user_id, ts,
        |    SUM(new_sess) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC) AS session_id
        |  FROM flagged)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  COUNT(*) AS n_events,
        |  CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT) AS duration_s
        |FROM sess GROUP BY user_id, session_id""".stripMargin,
    "q227_scd2_intervals" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    CASE WHEN lag(event_type) OVER w IS NULL
        |           OR lag(event_type) OVER w <> event_type
        |         THEN 1 ELSE 0 END AS chg
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |seg AS (
        |  SELECT user_id, event_type, ts,
        |    SUM(chg) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC) AS seg_id
        |  FROM flagged),
        |iv AS (
        |  SELECT user_id, CAST(seg_id AS BIGINT) AS seg_id,
        |    MIN(event_type) AS event_type, MIN(ts) AS valid_from,
        |    COUNT(*) AS n_events
        |  FROM seg GROUP BY user_id, seg_id)
        |SELECT user_id, seg_id, event_type, valid_from,
        |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY seg_id)
        |    AS valid_to,
        |  n_events
        |FROM iv""".stripMargin,
    "q233_decay_score" ->
      """WITH k AS (
        |  SELECT user_id,
        |    GREATEST(LEAST(date_diff('day', CAST(ts AS DATE),
        |      DATE '2024-03-01') // 7, 30), 0) AS k
        |  FROM events),
        |w AS (SELECT user_id,
        |        1000000 // CAST(pow(2, k) AS BIGINT) AS w FROM k)
        |SELECT user_id, COUNT(*) AS n_events,
        |  CAST(SUM(w) AS BIGINT) AS score
        |FROM w GROUP BY user_id""".stripMargin,
  )
}
