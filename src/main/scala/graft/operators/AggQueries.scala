package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** M2 — aggregation layer (SURVEY.md §2.D).
  *
  * Scale notes: every query here is a single hash-aggregate shuffle with
  * map-side partial aggregation (Catalyst's HashAggregate pair); scalar
  * denominators (`agg_ratio_of_total`) are broadcast, never collected to
  * the driver. The lineitem ⋈ part joins are planner-chosen (part GROWS
  * with the corpus — the salesNested standard, Tables.scala): AQE
  * broadcasts at SFs where part fits and degrades to a shuffled join
  * instead of an OOM beyond that. Non-exact float aggregates (stddev/corr) are rounded to 6
  * decimals — well above the ~1e-10 cross-engine numeric noise, well
  * below anything semantically meaningful.
  */
object AggQueries {

  /** §2.A `agg_count_star` (dashboard.py:377): `count_documents` ≙ count(*). */
  val aggCountStar: Q = (spark, dir) =>
    Tables.lineitem(spark, dir).agg(count(lit(1)).as("n"))

  /** §2.D `agg_kpis` (dashboard.py:287-296): one-row global KPI panel —
    * total revenue, line count, distinct orders/suppliers, revenue per
    * order. All five in ONE aggregate pass (a dashboard that scans 100 TB
    * five times is five times too expensive). */
  val aggKpis: Q = (spark, dir) =>
    Tables.lineitem(spark, dir)
      .agg(
        Tables.revenueSum.as("total_revenue"),
        count(lit(1)).as("n_line_items"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_suppkey")).as("n_suppliers"))
      .withColumn("revenue_per_order", col("total_revenue") / col("n_orders"))

  /** §2.D `agg_count_by_key` (dashboard.py:380-383): item-line frequency
    * per product — deliberately counts *line items*, not distinct sales
    * (SURVEY.md §2.J.2: the reference's "probability" can exceed 1). */
  val aggCountByKey: Q = (spark, dir) => {
    val li = Tables.lineitem(spark, dir)
    val p  = Tables.part(spark, dir)
    li.join(p, li("l_partkey") === p("p_partkey"))
      .groupBy(col("p_name").as("product"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("product"))
  }

  /** §2.D `agg_ratio_of_total` (dashboard.py:216-218,388-390): per-product
    * line count over total sale count — the scalar total is computed once
    * and broadcast-joined (never `.collect()`ed; SURVEY.md §4). Keeps the
    * reference's lines/total-sales semantics, so values may exceed 1. */
  val aggRatioOfTotal: Q = (spark, dir) => {
    val counts = aggCountByKey(spark, dir)
    val total  = Tables.orders(spark, dir).agg(count(lit(1)).as("total_sales"))
    counts.crossJoin(broadcast(total))
      .withColumn("probability", col("n").cast("double") / col("total_sales"))
      .select("product", "n", "probability")
      .orderBy("product")
  }

  /** §2.D `agg_value_counts` (dashboard.py:546-572): `value_counts()` —
    * frequency table, most-common first (priority asc as tie-break). */
  val aggValueCounts: Q = (spark, dir) =>
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("o_orderpriority"))

  /** §2.D `agg_ngroups` (dashboard.py:290): distinct group count. At
    * 100 TB prefer `approx_count_distinct`; exact here for oracle parity. */
  val aggNgroups: Q = (spark, dir) =>
    Tables.lineitem(spark, dir)
      .agg(countDistinct(to_date(col("l_shipdate"))).as("n_dates"))

  /** Scale variant of `agg_ngroups`: HyperLogLog approximate distinct —
    * what actually runs at 100 TB (no exact-distinct shuffle). Rows-only
    * for the driver (sketch internals are engine-specific); PipelineSpec
    * bounds the relative error vs the exact count. */
  val aggApproxNgroups: Q = (spark, dir) =>
    Tables.lineitem(spark, dir)
      .agg(
        approx_count_distinct(to_date(col("l_shipdate")), rsd = 0.02)
          .as("approx_dates"),
        approx_count_distinct(col("l_partkey"), rsd = 0.02)
          .as("approx_parts"))

  /** Scale ext. `agg_hll_merge`: MERGEABLE distinct sketches — the
    * distributed-distinct algebra that actually runs at 100 TB.
    * Per-event-type DataSketches HLL sketches of the user set, then a
    * sketch UNION (not a re-scan) for the global distinct — the merged
    * estimate is computed from the per-group sketches alone, which is
    * exactly how a 1000-executor rollup (or an incremental daily
    * pipeline) composes: partial sketches are small, associative, and
    * re-aggregable at any grouping level without touching raw data
    * again. Rows-only (sketch internals are engine-specific);
    * PipelineSpec bounds every estimate against the exact count and
    * asserts union-vs-direct sketch equivalence. */
  val aggHllMerge: Q = (spark, dir) => {
    val sketches = Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val per = sketches.select(col("event_type"),
      hll_sketch_estimate(col("sk")).as("n_users_est"))
    val merged = sketches
      .agg(hll_union_agg(col("sk")).as("sk"))
      .select(lit("__all_merged").as("event_type"),
        hll_sketch_estimate(col("sk")).as("n_users_est"))
    per.unionAll(merged).orderBy(col("event_type"))
  }

  /** Oracled EXACT companion of [[aggApproxNgroups]] (round-9: each
    * sketch surface gets a hash-green companion anchoring its
    * deterministic projection — the DuckDB oracle can verify the exact
    * counts even though the HLL estimates are engine-internal; the
    * |estimate − exact| bound is spec-asserted at all three SFs in
    * SketchBoundSpec). */
  val aggApproxNgroupsExact: Q = (spark, dir) =>
    Tables.lineitem(spark, dir)
      .agg(
        countDistinct(to_date(col("l_shipdate"))).as("exact_dates"),
        countDistinct(col("l_partkey")).as("exact_parts"))

  /** Oracled EXACT companion of [[aggHllMerge]]: identical group keys
    * and row structure (per-event-type + the `__all_merged` rollup),
    * exact `count(DISTINCT user_id)` instead of sketch estimates — so
    * the oracle pins the group structure and SketchBoundSpec pins the
    * estimates to these values at every SF. */
  val aggHllMergeExact: Q = (spark, dir) => {
    val ev = Tables.events(spark, dir)
    val per = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"))
    val merged = ev
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(lit("__all_merged").as("event_type"), col("n_users"))
    per.unionAll(merged).orderBy(col("event_type"))
  }

  /** §2.D `agg_nunique` (dashboard.py:280,531): nunique over two
    * dimensions, one row. Two independent single-row aggs cross-joined —
    * both sides broadcast, no driver round-trip. */
  val aggNunique: Q = (spark, dir) =>
    Tables.orders(spark, dir)
      .agg(countDistinct(col("o_custkey")).as("n_customers"))
      .crossJoin(broadcast(
        Tables.part(spark, dir).agg(countDistinct(col("p_name")).as("n_products"))))

  /** §2.D `agg_group_size` (dashboard.py:310): tickets/day time series. */
  val aggGroupSize: Q = (spark, dir) =>
    Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("sale_date"))
      .agg(count(lit(1)).as("n_tickets"))
      .orderBy(col("sale_date"))

  /** §2.D `agg_named_multi` (dashboard.py:400-403): named multi-aggregate
    * per brand. */
  val aggNamedMulti: Q = (spark, dir) => {
    val li = Tables.lineitem(spark, dir)
    val p  = Tables.part(spark, dir)
    li.join(p, li("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        Tables.revenueSum.as("total_revenue"),
        sum(col("l_quantity")).as("total_units"))
      .orderBy(col("p_brand"))
  }

  /** §2.D `agg_mean_group` (EDA.ipynb:3319 (cell 39)): per-product means.
    * Exact: quantity sums are integer-valued doubles, revenue goes through
    * cents; the final divide-by-count is one deterministic IEEE op. */
  val aggMeanGroup: Q = (spark, dir) => {
    val li = Tables.lineitem(spark, dir)
    val p  = Tables.part(spark, dir)
    li.join(p, li("l_partkey") === p("p_partkey"))
      .groupBy(col("p_name").as("product"))
      .agg(
        (sum(col("l_quantity")) / count(lit(1))).as("avg_quantity"),
        (Tables.revenueSum / count(lit(1))).as("avg_revenue"))
      .orderBy(col("product"))
  }

  /** §2.D `agg_stats_cv` (EDA.ipynb:2897 (cell 32)): demand-volatility
    * ranking — per-product stddev/mean/cv of daily quantity. */
  /** `agg_higher_moments` (dist.-shape profiling ext.): per-type mean,
    * stddev, skewness, and excess kurtosis of the event value — the
    * distribution-shape panel of a data-quality profiler. Spark's
    * built-in `skewness`/`kurtosis` accumulate doubles and are
    * add-order-dependent (and DuckDB's disagree in ulps), so the
    * moments come from EXACT integer-cents power sums instead — the
    * [[graft.streaming.EventStreams.evtAnomaly]] doctrine extended to
    * 3rd/4th order: Σc³/Σc⁴ overflow a long (c⁴ ~ 1e20 per row), so
    * they accumulate as Decimal(38,0) — exact, associative, and still
    * an UnsafeRow-mutable HashAggregate buffer. Central moments and
    * the unitless shape ratios are then doubles from exactly-agreed
    * integers, identical expression trees in both engines (no pow();
    * skew/kurtosis are scale-invariant, so the cent scaling cancels).
    *
    * Scale: one HashAggregate pair, five-number output per type.
    * Decimal(38) headroom: Σc⁴ ≤ 10^38 holds through ~10^18 rows at
    * c ≤ 10^5 cents — past any single table. */
  val aggHigherMoments: Q = (spark, dir) =>
    momentsOn(Tables.events(spark, dir))

  /** [[aggHigherMoments]] over an explicit (event_type, value) frame —
    * the spec plants a hand-computable distribution and asserts
    * partition invariance of the exact-sum path. */
  private[graft] def momentsOn(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val cd = col("c").cast(dec)
    val nd = col("n").cast("double")
    val mc = col("s1").cast("double") / nd
    val q2 = col("s2").cast("double") / nd
    val q3 = col("s3").cast("double") / nd
    val q4 = col("s4").cast("double") / nd
    val m2 = q2 - mc * mc
    events
      .select(col("event_type"), Tables.cents(col("value")).cast("long").as("c"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s1"),
        sum(cd * cd).as("s2"), sum(cd * cd * cd).as("s3"),
        sum(cd * cd * cd * cd).as("s4"))
      .select(col("event_type"), col("n"),
        Tables.round6(mc / lit(100.0)).as("mean_value"),
        Tables.round6(sqrt(m2) / lit(100.0)).as("stddev_value"),
        // m2=0 guard: a constant group (all values equal) has zero
        // variance, making skew/kurtosis 0/0 — NULL by convention
        // (shape is undefined for a point mass), mirrored in the oracle
        when(m2 > lit(0.0),
          Tables.round6((q3 - lit(3.0) * mc * q2 + lit(2.0) * mc * mc * mc)
            / (m2 * sqrt(m2)))).as("skewness"),
        when(m2 > lit(0.0),
          Tables.round6((q4 - lit(4.0) * mc * q3 + lit(6.0) * mc * mc * q2
            - lit(3.0) * mc * mc * mc * mc) / (m2 * m2) - lit(3.0)))
          .as("kurtosis_excess"))
      .orderBy(col("event_type"))
  }

  /** `prof_cusum_drift`: SEQUENTIAL change-point detection on each
    * product's daily-quantity series — the one-sided CUSUM chart, the
    * monitoring dual of [[profDriftPsi]]/[[profKsTest]] (those compare
    * two finished eras; CUSUM flags the day a drift STARTS, which is
    * what a production pipeline pages on). Uses the closed form
    * S_t = C_t − min_{i≤t} C_i with C_t = Σ(dev_i − k): the
    * max(0, ·)-recursion becomes two stock windows (prefix sum +
    * running min), so the "sequential" statistic is fully relational —
    * no stateful fold, no driver loop.
    *
    * Exactness: deviations live in integer n-units (dev_t = n·x_t − Σx
    * — exact longs, no mean division), so the prefix sum is
    * partition-invariant; the slack k and alarm threshold come from
    * the exact `percentile` MAD (≙ quantile_cont — the evt_anomaly_mad
    * doctrine), making every float op an identical IEEE tree over
    * exactly-agreed numbers. Slack = 1 MAD bounds the null excursion
    * (a zero-slack CUSUM random-walks to ~σ√t and alarms on noise);
    * alarm at excursion > 5 MAD.
    *
    * Scale: one product-keyed shuffle; both windows ride the same
    * calendar-bounded (product, date) frame. */
  val profCusumDrift: Q = (spark, dir) =>
    cusumOn(CoreQueries.dailyBase(spark, dir))

  /** [[profCusumDrift]] over an explicit (product, sale_date,
    * total_quantity) frame — the spec plants a level shift mid-series
    * (detected at/after the shift day) and a stationary control
    * (no alarms), and asserts partition invariance. */
  /** Calibrated per-day CUSUM inputs (product, sale_date, x, n, s,
    * mad, dev) — the frame both the closed-form windows ([[cusumOn]])
    * and the O(1)-state streaming dual
    * ([[graft.streaming.EventStreams.cusumStateful]]) fold over. In
    * production the (n, s, mad) triple is the CALIBRATION snapshot a
    * monitoring stream joins statically (the ml_stream_score serve
    * shape); here both derive from the same frame so the duals are
    * comparable row-for-row. */
  private[graft] def cusumCalibratedOn(daily: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val base = daily.select(col("product"), col("sale_date"),
      col("total_quantity").cast("long").as("x"))
    val stats = base.groupBy(col("product"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
    val d = base.join(stats, Seq("product"))
      .withColumn("dev", col("n") * col("x") - col("s"))
    val mad = d.groupBy(col("product"))
      .agg(percentile(abs(col("dev")), lit(0.5)).as("mad"))
    d.join(mad, Seq("product"))
  }

  private[graft] def cusumOn(daily: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("product")).orderBy(col("sale_date"))
    val wc = w.rowsBetween(Window.unboundedPreceding, 0)
    val cum = cusumCalibratedOn(daily)
      .withColumn("t", row_number().over(w))
      .withColumn("cal", sum(col("dev")).over(wc))
      .withColumn("cadj", col("cal").cast("double") - col("t") * col("mad"))
      .withColumn("minp", min(col("cadj")).over(wc))
      .withColumn("exc", col("cadj") - col("minp"))
      .withColumn("alarm", col("exc") > lit(5.0) * col("mad"))
    cum.groupBy(col("product"))
      .agg(max(col("n")).as("n_days"),
        Tables.round6(max(col("mad")) / max(col("n"))).as("mad_qty"),
        sum(when(col("alarm"), 1L).otherwise(0L)).as("n_alarm_days"),
        Tables.round6(max(col("exc")) / max(col("n")))
          .as("max_excursion_qty"),
        min(when(col("alarm"), col("sale_date"))).as("first_alarm_date"))
      .orderBy(col("product"))
  }

  /** `agg_winsorized_mean`: 5%-winsorized daily-revenue mean per
    * product — the robust location estimate between the raw mean
    * (outlier-dragged) and the median (discards magnitude): values
    * below p05 / above p95 are CLAMPED to those bounds, then averaged.
    * Completes the robust panel (MAD spread, CUSUM sequence, winsorized
    * location).
    *
    * Determinism: summing clamped DOUBLES would be add-order-dependent;
    * instead the aggregate counts the clamped tails and sums only the
    * untouched middle as exact cents — mean = (Σmid + n_lo·p05 +
    * n_hi·p95)/n is one expression over exact longs and two replayable
    * percentile bounds (≙ quantile_cont), partition-invariant by
    * construction. One product-keyed aggregate pair + a |products|-row
    * broadcast join. */
  val aggWinsorizedMean: Q = (spark, dir) =>
    winsorizedOn(CoreQueries.dailyBase(spark, dir))

  /** [[aggWinsorizedMean]] over an explicit (product, total_revenue)
    * frame — the spec plants one extreme day among uniform ones and
    * hand-computes both means and the clamp counts. */
  private[graft] def winsorizedOn(daily: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val base = daily
      .select(col("product"), Tables.cents(col("total_revenue")).cast("long")
        .as("c"))
    val bounds = base.groupBy(col("product"))
      .agg(percentile(col("c"), lit(0.05)).as("p05"),
        percentile(col("c"), lit(0.95)).as("p95"))
    base.join(bounds, Seq("product"))
      .groupBy(col("product"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("c")).as("s_all"),
        sum(when(col("c") >= col("p05") && col("c") <= col("p95"), col("c"))
          .otherwise(0L)).as("s_mid"),
        sum(when(col("c") < col("p05"), 1L).otherwise(0L)).as("n_lo"),
        sum(when(col("c") > col("p95"), 1L).otherwise(0L)).as("n_hi"),
        max(col("p05")).as("p05"), max(col("p95")).as("p95"))
      .select(col("product"), col("n_days"), col("n_lo"), col("n_hi"),
        Tables.round6(col("s_all").cast("double") / col("n_days") / lit(100.0))
          .as("mean_raw"),
        Tables.round6((col("s_mid").cast("double")
          + col("n_lo") * col("p05") + col("n_hi") * col("p95"))
          / col("n_days") / lit(100.0)).as("mean_winsorized"))
      .orderBy(col("product"))
  }

  val aggStatsCv: Q = (spark, dir) =>
    statsCvOn(CoreQueries.dailyBase(spark, dir))

  /** [[aggStatsCv]] over an explicit (product, total_quantity) frame.
    * Degenerate-group guard: under ANSI mode Spark's built-in
    * `stddev_samp` THROWS DIVIDE_BY_ZERO on a single-row group (DuckDB
    * returns NULL), so the sample stddev is computed from exact integer
    * power sums with the n>1 branch explicit — NULL for n=1 like the
    * oracle, and partition-invariant (the Welford built-in is
    * accumulation-order-sensitive in the last ulp; round6 absorbed it,
    * exact sums don't need absorbing). NULL std propagates to cv in
    * both engines. */
  private[graft] def statsCvOn(daily: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val yd = col("total_quantity").cast(dec)
    val nd = col("n").cast(dec)
    val varSamp = ((nd * col("q") - col("s") * col("s")).cast("double")
      / (nd * (nd - lit(1).cast(dec))).cast("double"))
    daily
      .groupBy(col("product"))
      .agg(count(lit(1)).as("n"), sum(yd).as("s"), sum(yd * yd).as("q"))
      .select(col("product"),
        when(col("n") > lit(1L), Tables.round6(sqrt(varSamp)))
          .as("std_quantity"),
        (col("s").cast("double") / col("n").cast("double"))
          .as("mean_quantity"))
      .withColumn("cv", Tables.round6(col("std_quantity") / col("mean_quantity")))
      .orderBy(col("product"))
  }

  /** §2.D `agg_corr_group` (EDA.ipynb:450 (cell 10)): per-group Pearson
    * correlation — built-in `corr` aggregate, no UDAF (SURVEY.md §2.K). */
  val aggCorrGroup: Q = (spark, dir) =>
    corrGroupOn(Tables.lineitem(spark, dir))

  /** [[aggCorrGroup]] over an explicit (l_returnflag, l_quantity,
    * l_extendedprice) frame. Degenerate-group guard: under ANSI mode
    * Spark's built-in `corr` THROWS DIVIDE_BY_ZERO on a zero-variance
    * or single-row group (DuckDB returns NULL), so Pearson r is
    * computed from exact integer-cents power sums — the
    * [[profCorrMatrix]] pattern — with the vx>0 ∧ vy>0 branch
    * explicit: NULL for degenerate groups like the oracle,
    * partition-invariant sums, round6 absorbing the last-ulp
    * difference vs DuckDB's Welford corr (cent scaling cancels in r). */
  private[graft] def corrGroupOn(li: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def c(name: String) = Tables.cents(col(name)).cast("long").cast(dec)
    val nd = col("n").cast(dec)
    val cov = (nd * col("pq") - col("sq") * col("sp")).cast("double")
    val vx  = (nd * col("qq") - col("sq") * col("sq")).cast("double")
    val vy  = (nd * col("pp") - col("sp") * col("sp")).cast("double")
    li
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(c("l_quantity")).as("sq"), sum(c("l_extendedprice")).as("sp"),
        sum(c("l_quantity") * c("l_quantity")).as("qq"),
        sum(c("l_extendedprice") * c("l_extendedprice")).as("pp"),
        sum(c("l_quantity") * c("l_extendedprice")).as("pq"))
      .select(col("l_returnflag"),
        when(vx > lit(0.0) && vy > lit(0.0),
          Tables.round6(cov / (sqrt(vx) * sqrt(vy))))
          .as("corr_qty_price"))
      .orderBy(col("l_returnflag"))
  }

  /** §2.D `agg_mode` (dashboard.py:601-603): most frequent value per
    * group with the reference's deterministic tie-break (pandas mode
    * returns the lexicographically first — SURVEY.md §2.J.7; Spark's
    * built-in `mode` is nondeterministic on ties, so rank explicitly). */
  val aggMode: Q = (spark, dir) => {
    val counted = graft.Tables.salesHeader(spark, dir)
      .groupBy(col("c_mktsegment"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("n").desc, col("o_orderpriority"))
    counted
      .withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("c_mktsegment"), col("o_orderpriority").as("mode_priority"),
        col("n"))
      .orderBy(col("c_mktsegment"))
  }

  /** §2.D `agg_bucket_hist` (dashboard.py:564-566): `pd.cut`-style fixed
    * bucketing → histogram, with exact label parity via chained `when`. */
  val aggBucketHist: Q = (spark, dir) => {
    val b = col("c_acctbal")
    Tables.customer(spark, dir)
      .withColumn("balance_bin",
        when(b < 0, "negative")
          .when(b < 1000, "0-1k")
          .when(b < 5000, "1k-5k")
          .otherwise("5k+"))
      .groupBy(col("balance_bin"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("balance_bin"))
  }

  /** Extension: hierarchical ROLLUP (brand → subtotal → grand total) —
    * a capability the reference's pandas layer reaches only by running
    * separate groupbys; one pass here. `grouping_id` disambiguates
    * subtotal rows (null-sort order differs across engines, so it leads
    * the ORDER BY). */
  val aggRollup: Q = (spark, dir) => {
    val li = Tables.lineitem(spark, dir)
    val p  = Tables.part(spark, dir)
    li.join(p, li("l_partkey") === p("p_partkey"))
      .rollup(col("p_brand"))
      .agg(grouping_id().as("g"),
        Tables.revenueSum.as("total_revenue"),
        sum(col("l_quantity")).as("total_units"))
      .select(col("g"), coalesce(col("p_brand"), lit("ALL")).as("brand"),
        col("total_revenue"), col("total_units"))
      .orderBy(col("g"), col("brand"))
  }

  /** §2.D seasonality (EDA.ipynb:2444 (cell 27)): revenue by calendar
    * month across years. */
  val aggSeasonality: Q = (spark, dir) =>
    Tables.lineitem(spark, dir)
      .groupBy(month(col("l_shipdate")).as("month"))
      .agg(Tables.revenueSum.as("total_revenue"))
      .orderBy(col("month"))

  /** §2.D `agg_avg` (EDA.ipynb:244 (cell 6)): date×hour×type grain with
    * an average — event values are 2-decimal, so the cents path keeps the
    * mean exact. */
  val aggAvg: Q = (spark, dir) =>
    Tables.events(spark, dir)
      .groupBy(
        to_date(col("ts")).as("event_date"),
        hour(col("ts")).as("hour"),
        col("event_type"))
      .agg((sum(Tables.cents(col("value"))) / lit(100.0) / count(lit(1)))
        .as("avg_value"))
      .orderBy(col("event_date"), col("hour"), col("event_type"))

  /** Extension (§2.D): exact per-product demand percentiles
    * (p50/p90/p99) computed from the sorted per-group value list with
    * EXPLICIT index/interpolation arithmetic — engine-internal
    * percentile aggregates interpolate in engine-specific IEEE order
    * and cannot hash-match an oracle, whereas this expression tree
    * replays bit-for-bit in SQL. The per-group list is bounded by the
    * date grain (≤ |dates| elements), so collect_list is safe at any
    * corpus size; corpus-grain percentiles over unbounded groups would
    * use approx_percentile (sketch) instead. */
  val aggPercentiles: Q = (spark, dir) => {
    def pct(p: Double): org.apache.spark.sql.Column = {
      val pos = lit(p) * (col("n") - 1).cast("double")
      val idx = floor(pos)
      val frac = pos - idx
      val lo = element_at(col("v"), idx.cast("int") + 1)
      val hi = element_at(col("v"),
        least(idx.cast("int") + 2, col("n").cast("int")))
      Tables.round6(lo + (hi - lo) * frac)
    }
    CoreQueries.dailyBase(spark, dir)
      .groupBy(col("product"))
      .agg(sort_array(collect_list(col("total_quantity"))).as("v"),
        count(lit(1)).as("n"))
      .select(col("product"), col("n").as("n_days"),
        pct(0.5).as("p50"), pct(0.9).as("p90"), pct(0.99).as("p99"))
      .orderBy(col("product"))
  }

  /** Extension (§2.D): sketch-based percentiles — the form
    * [[aggPercentiles]]' scaladoc prescribes for unbounded groups at
    * corpus scale: `approx_percentile` (KLL-style sketch) is one pass,
    * mergeable map-side, O(accuracy) state per group — no per-group
    * list. Rows-only (sketch interpolation is engine-internal);
    * PipelineOpsSpec bounds it against the exact oracled percentiles. */
  val aggApproxPercentiles: Q = (spark, dir) =>
    graft.operators.CoreQueries.dailyBase(spark, dir)
      .groupBy(col("product"))
      .agg(
        count(lit(1)).as("n_days"),
        percentile_approx(col("total_quantity"),
          array(lit(0.5), lit(0.9), lit(0.99)), lit(10000)).as("pcts"))
      .select(col("product"), col("n_days"),
        element_at(col("pcts"), 1).as("p50"),
        element_at(col("pcts"), 2).as("p90"),
        element_at(col("pcts"), 3).as("p99"))
      .orderBy(col("product"))

  /** Extension (§2.D): multi-level CUBE over (market segment, order
    * priority) — all four grouping levels in one pass with map-side
    * partial aggregation. Aggregate-level nulls are projected to the
    * 'ALL' sentinel BEFORE ordering: Spark sorts nulls first, DuckDB
    * last, so sentinel labels are the only deterministic cross-engine
    * form. */
  val aggCube: Q = (spark, dir) =>
    Tables.salesHeader(spark, dir)
      .cube(col("c_mktsegment"), col("o_orderpriority"))
      .agg(
        (sum(Tables.cents(col("o_totalprice"))) / lit(100.0))
          .as("total_revenue"),
        count(lit(1)).as("n_orders"))
      .select(
        coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("total_revenue"), col("n_orders"))
      .orderBy(col("segment"), col("priority"))

  /** §2.D ext. `agg_grouping_sets`: the GENERAL multi-aggregate form —
    * two independent one-dimension aggregates (by segment, by
    * priority) in ONE pass over the join, a shape neither ROLLUP nor
    * CUBE expresses (cube would add the pair and grand-total sets).
    * One scan feeds both groupings via Spark's Expand; at 100 TB that
    * halves the fact-table reads vs running the two aggregates
    * separately. Sentinel labels as in agg_cube. */
  val aggGroupingSets: Q = (spark, dir) =>
    Tables.salesHeader(spark, dir)
      .groupingSets(
        Seq(Seq(col("c_mktsegment")), Seq(col("o_orderpriority"))),
        col("c_mktsegment"), col("o_orderpriority"))
      .agg(
        (sum(Tables.cents(col("o_totalprice"))) / lit(100.0))
          .as("total_revenue"),
        count(lit(1)).as("n_orders"))
      .select(
        coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("total_revenue"), col("n_orders"))
      .orderBy(col("segment"), col("priority"))

  /** `prof_numeric_summary`: one-scan column profiling — per numeric
    * lineitem column: row count, null count, exact distinct count, and
    * exact-cents min/max. The schema-audit every ingest pipeline runs
    * before trusting a new drop; the long (column, stats) shape is what
    * profilers emit.
    *
    * Scale: ONE scan. All sixteen statistics ride a single aggregate;
    * the multi-column DISTINCTs compile to Catalyst's Expand (4 rows
    * per input row carrying only the 4 profiled columns — a constant
    * multiplier on a pruned projection, not a per-column rescan of the
    * table). The 1-row result is then unpivoted driver-free with
    * `inline(array(struct(...)))`. The naive per-column loop scans the
    * table k times; at 100 TB that's k × the I/O for identical output. */
  val profNumericSummary: Q = (spark, dir) => {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val li = Tables.lineitem(spark, dir)
      .select(cols.map(col): _*)
    val aggs = cols.flatMap { c =>
      Seq(count(lit(1)).as(s"${c}_rows"),
        (count(lit(1)) - count(col(c))).as(s"${c}_nulls"),
        countDistinct(col(c)).as(s"${c}_distinct"),
        min(Tables.cents(col(c)).cast("long")).as(s"${c}_min_cents"),
        max(Tables.cents(col(c)).cast("long")).as(s"${c}_max_cents"))
    }
    val one = li.agg(aggs.head, aggs.tail: _*)
    val rows = cols.map { c =>
      struct(lit(c).as("column"), col(s"${c}_rows").as("n_rows"),
        col(s"${c}_nulls").as("n_null"),
        col(s"${c}_distinct").as("n_distinct"),
        col(s"${c}_min_cents").as("min_cents"),
        col(s"${c}_max_cents").as("max_cents"))
    }
    one.select(inline(array(rows: _*))).orderBy(col("column"))
  }

  /** `prof_categorical_summary`: the string-column half of the
    * profiler — per categorical lineitem column: exact distinct count,
    * the modal value (ties to the lexicographically lowest, the §J.7
    * mode rule) and its count. ONE scan: `stack` unpivots both columns
    * in the same Expand pass the numeric profiler uses, the
    * (column, value) counts are a single hash aggregate, and the
    * per-column winner + distinct count ride one window partitioning.
    * A per-column loop would re-scan the table k times for identical
    * output. */
  val profCategoricalSummary: Q = (spark, dir) => {
    val counts = Tables.lineitem(spark, dir)
      .select(expr("stack(2, 'l_returnflag', l_returnflag, " +
        "'l_linestatus', l_linestatus) AS (column, value)"))
      .groupBy(col("column"), col("value"))
      .agg(count(lit(1)).as("n"))
    val byCol = Window.partitionBy(col("column"))
    counts
      .withColumn("rn", row_number().over(
        byCol.orderBy(col("n").desc, col("value"))))
      .withColumn("n_distinct", count(lit(1)).over(byCol))
      .where(col("rn") === 1)
      .select(col("column"), col("n_distinct"),
        col("value").as("mode_value"), col("n").as("mode_count"))
      .orderBy(col("column"))
  }

  /** `agg_trend_ols` (trend-line ext. of the dashboard's daily series,
    * dashboard.py:54-106): per-product demand trend — closed-form OLS
    * of daily quantity against the day index, the slope/intercept a
    * dashboard draws over its time series (and the 1-feature version
    * of the forecaster's linear baseline).
    *
    * Determinism: x is the day offset from a FIXED epoch (1992-01-01,
    * before every ship date in the corpus) and y the integer daily
    * quantity, so n, Σx, Σy, Σxy, Σx² are all exact longs; slope and
    * intercept are then two IEEE divisions over exactly-agreed
    * integers — the oracle replays the identical expression tree
    * (never `regr_slope`, whose double accumulation is add-order-
    * dependent and engine-specific).
    *
    * Scale: rides [[CoreQueries.dailyBase]] (one fact shuffle), then a
    * second hash aggregate on a 7-key space; the five power sums are
    * mergeable longs, so map-side partials stay exact at any
    * partitioning. Long headroom: Σxy ≤ days·x_max·y_max ≈ 10^4·10^4·
    * y — holds to ~10^10 daily units. */
  val aggTrendOls: Q = (spark, dir) =>
    trendOlsOn(CoreQueries.dailyBase(spark, dir))

  /** [[aggTrendOls]] over an explicit (product, sale_date,
    * total_quantity) frame — the spec plants an exact line (slope/
    * intercept recover perfectly) and asserts partition invariance of
    * the integer power sums. */
  private[graft] def trendOlsOn(daily: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val den = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val slope = num / den
    daily
      .select(col("product"),
        datediff(col("sale_date"), to_date(lit("1992-01-01")))
          .cast("long").as("x"),
        col("total_quantity").cast("long").as("y"))
      .groupBy(col("product"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      // OLS needs ≥2 distinct x; also keeps ANSI divide-by-zero off the
      // degenerate single-day denominator at tiny SFs
      .where(col("n") >= lit(2L))
      .select(col("product"), col("n").as("n_days"),
        Tables.round6(slope).as("slope"),
        Tables.round6((col("sy").cast("double")
          - slope * col("sx").cast("double"))
          / col("n").cast("double")).as("intercept"))
      .orderBy(col("product"))
  }

  /** `agg_welch_ttest` (experimentation ext.): Welch's unequal-variance
    * t-test of per-line quantity, early era (ship < 1998) vs late, per
    * product — the A/B significance panel every metrics pipeline
    * computes ("did demand shift?"). Emits the t statistic and the
    * Welch–Satterthwaite degrees of freedom.
    *
    * Determinism: both arms' n, Σy, Σy² are exact longs from ONE
    * conditional aggregate; means/variances/t/df are then a fixed
    * IEEE expression tree over exactly-agreed integers (sqrt is
    * correctly-rounded by IEEE 754, so both engines agree bit-for-bit
    * before the final round6).
    *
    * Scale: one scan, one hash aggregate on the product key — the
    * CASE-gated power sums put both eras in the same partial, so no
    * second scan, no join of two filtered aggregates. */
  val aggWelchTtest: Q = (spark, dir) => {
    val li = Tables.lineitem(spark, dir)
    val p  = Tables.part(spark, dir)
    welchOn(li.join(p, li("l_partkey") === p("p_partkey"))
      .select(col("p_name").as("product"),
        (to_date(col("l_shipdate")) < to_date(lit("1998-01-01")))
          .as("early"),
        col("l_quantity").cast("long").as("y")))
  }

  /** [[aggWelchTtest]] over an explicit (product, early, y) frame —
    * the spec plants identical arms (t = 0), a hand-derived shift, and
    * asserts partition invariance of the exact arm sums. */
  private[graft] def welchOn(obs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val early = col("early")
    def armSums(cond: org.apache.spark.sql.Column, tag: String) = Seq(
      sum(when(cond, lit(1L)).otherwise(lit(0L))).as(s"n$tag"),
      sum(when(cond, col("y")).otherwise(lit(0L))).as(s"s$tag"),
      sum(when(cond, col("y") * col("y")).otherwise(lit(0L))).as(s"ss$tag"))
    def m(tag: String) =
      col(s"s$tag").cast("double") / col(s"n$tag").cast("double")
    def v(tag: String) =
      (col(s"ss$tag").cast("double") -
        col(s"s$tag").cast("double") * col(s"s$tag").cast("double") /
          col(s"n$tag").cast("double")) /
        (col(s"n$tag").cast("double") - lit(1.0))
    val se1 = v("1") / col("n1").cast("double")
    val se2 = v("2") / col("n2").cast("double")
    val se  = se1 + se2
    val sums = armSums(early, "1") ++ armSums(!early, "2")
    obs
      .groupBy(col("product"))
      .agg(sums.head, sums.tail: _*)
      // a t-test needs ≥2 samples per arm; also keeps ANSI mode's
      // divide-by-zero off the n−1 / empty-arm denominators at tiny SFs
      .where(col("n1") >= lit(2L) && col("n2") >= lit(2L))
      // zero-variance guard: if BOTH arms are constant, se=0 and the
      // t-stat/df are 0/0 — drop the group (no test is defined), in
      // exact integer math (n·Σy² − (Σy)² ≥ 0 per arm, decimal headroom
      // against long overflow at scale); mirrored in the oracle HAVING
      .where({
        val dec = org.apache.spark.sql.types.DecimalType(38, 0)
        (col("ss1").cast(dec) * col("n1") - col("s1").cast(dec) * col("s1") +
          col("ss2").cast(dec) * col("n2") - col("s2").cast(dec) * col("s2")
          ) > lit(0)
      })
      .select(col("product"),
        col("n1").as("n_early"), col("n2").as("n_late"),
        m("1").as("mean_early"), m("2").as("mean_late"),
        Tables.round6((m("1") - m("2")) / sqrt(se)).as("t_stat"),
        Tables.round6(se * se
          / (se1 * se1 / (col("n1").cast("double") - lit(1.0))
            + se2 * se2 / (col("n2").cast("double") - lit(1.0))))
          .as("welch_df"))
      .orderBy(col("product"))
  }

  /** `prof_drift_psi` (drift-monitoring ext.): Population Stability
    * Index of the order-value distribution, early era (order < 1998)
    * vs late — THE standard "did my feature distribution move"
    * monitor a training pipeline runs between data drops. Fixed
    * $60k-wide value buckets (top-coded at bucket 9), Laplace-smoothed
    * shares, per-bucket PSI contribution (p−q)·ln(p/q).
    *
    * Determinism: buckets come from exact integer cents (floor over a
    * sub-2^53 double quotient), counts are exact, and the smoothed
    * shares are a fixed IEEE tree; only ln() is libm — round6 absorbs
    * its cross-engine ulp like the corr/stddev family.
    *
    * Scale: ONE scan, one hash aggregate on a ≤10-key space (both
    * eras via CASE-gated counts in the same partial); the era totals
    * are a windowed sum over that bucket-grain aggregate, never a
    * second fact scan and never a driver collect. */
  val profDriftPsi: Q = (spark, dir) =>
    driftPsiOn(Tables.orders(spark, dir)
      .select(col("o_totalprice").as("value"),
        (to_date(col("o_orderdate")) < to_date(lit("1998-01-01")))
          .as("early")))

  /** [[profDriftPsi]] over an explicit (value, early) frame — the spec
    * plants an identical pair of eras (every psi_term collapses to the
    * smoothing floor) and a single-bucket mass shift with a
    * hand-derived PSI contribution. */
  private[graft] def driftPsiOn(obs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val counts = obs
      .select(
        greatest(lit(0.0), least(floor(Tables.cents(col("value")).cast("long")
          / lit(6000000.0)), lit(9.0))).cast("int").as("bucket"),
        col("early"))
      .groupBy(col("bucket"))
      .agg(sum(when(col("early"), lit(1L)).otherwise(lit(0L))).as("n_early"),
        sum(when(!col("early"), lit(1L)).otherwise(lit(0L))).as("n_late"))
    // bounded-global-window: era totals = Σ bucket counts — a windowed
    // sum over the ≤10-row aggregate, so the fact table is scanned
    // exactly ONCE (a second totals aggregate would re-read it; the
    // single-partition window is over bucket-grain rows, never
    // data-sized). The identity limit stamps the structural bound into
    // the plan (r17 item 6): `bucket` is greatest(0, least(·, 9)) —
    // domain {0..9}, negative values included (least/greatest skip
    // nulls, so a null value lands in bucket 9) — so the limit never
    // drops a row and the unpartitioned-window census can prove the
    // bound.
    val all = Window.partitionBy()
    val pS = (col("n_early").cast("double") + lit(1.0)) /
      (col("tot_early").cast("double") + lit(10.0))
    val qS = (col("n_late").cast("double") + lit(1.0)) /
      (col("tot_late").cast("double") + lit(10.0))
    counts
      .limit(16)
      .withColumn("tot_early", sum(col("n_early")).over(all))
      .withColumn("tot_late", sum(col("n_late")).over(all))
      .select(col("bucket"), col("n_early"), col("n_late"),
        Tables.round6((pS - qS) * log(pS / qS)).as("psi_term"))
      .orderBy(col("bucket"))
  }

  /** `prof_ks_test` (drift-monitoring ext.): two-sample Kolmogorov–
    * Smirnov D statistic between the early (< 1998) and late order-
    * value distributions — the sharper companion to [[profDriftPsi]]:
    * D = max |F̂_early − F̂_late| over the bucketed empirical CDFs
    * ($6k bins, top-coded at 99).
    *
    * Determinism: bucket counts and the cumulative/total sums are
    * exact longs; each CDF value is ONE IEEE division, and D is built
    * from subtraction/abs/max — comparisons only, no libm at all, so
    * no rounding is even needed.
    *
    * Scale: ONE scan → hash aggregate on ≤100 buckets → two window
    * passes over that bounded frame → a 1-row result. */
  val profKsTest: Q = (spark, dir) =>
    ksTestOn(Tables.orders(spark, dir)
      .select(col("o_totalprice").as("value"),
        (to_date(col("o_orderdate")) < to_date(lit("1998-01-01")))
          .as("early")))

  /** [[profKsTest]] over an explicit (value, early) frame — the spec
    * plants identical eras (D = 0) and a known one-bucket shift. */
  private[graft] def ksTestOn(obs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val counts = obs
      .select(
        greatest(lit(0.0), least(floor(Tables.cents(col("value")).cast("long")
          / lit(600000.0)), lit(99.0))).cast("int").as("bucket"),
        col("early"))
      .groupBy(col("bucket"))
      .agg(sum(when(col("early"), lit(1L)).otherwise(lit(0L))).as("n_early"),
        sum(when(!col("early"), lit(1L)).otherwise(lit(0L))).as("n_late"))
    // bounded-global-window: both windows run over the ≤100-row bucket
    // aggregate (the KS statistic's CDF grid), never the observations.
    // Identity limit (r17 item 6): `bucket` is greatest(0, least(·, 99))
    // — domain {0..99}, negative values included — a plan-provable
    // maxRows for the unpartitioned-window census, never a dropped row.
    val cum = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy()
    counts
      .limit(128)
      .withColumn("cum_early", sum(col("n_early")).over(cum))
      .withColumn("cum_late", sum(col("n_late")).over(cum))
      .withColumn("tot_early", sum(col("n_early")).over(all))
      .withColumn("tot_late", sum(col("n_late")).over(all))
      .agg(
        max(col("tot_early")).as("n_early"),
        max(col("tot_late")).as("n_late"),
        max(abs(col("cum_early").cast("double") /
            col("tot_early").cast("double") -
          col("cum_late").cast("double") /
            col("tot_late").cast("double"))).as("ks_d"))
  }

  /** `agg_entropy` (label-balance monitoring ext.): per-day Shannon
    * entropy of the event-type mix — the "did my class distribution
    * collapse today" monitor a labeling/ingest pipeline alarms on
    * (0 = one type only; ln|types| = perfectly balanced).
    *
    * Determinism: each type's contribution p·ln(1/p) is quantized to
    * integer micro-nats (the [[graft.operators.TextQueries]] unigram
    * doctrine) so the per-day sum is an exact long — a double Σ over
    * types would be add-order-dependent. The final /10⁶ is one exact
    * division.
    *
    * Scale: ONE scan → hash aggregate on the (day, type) grain → a
    * per-day window over ≤|event_type| rows → per-day re-aggregate.
    * Nothing event-sized survives the first exchange. */
  val aggEntropy: Q = (spark, dir) =>
    entropyOn(Tables.events(spark, dir)
      .select(to_date(col("ts")).as("event_date"), col("event_type")))

  /** [[aggEntropy]] over an explicit (event_date, event_type) frame —
    * the spec plants uniform (ln k) and degenerate (0) days. */
  private[graft] def entropyOn(ev: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val byDay = Window.partitionBy(col("event_date"))
    ev.groupBy(col("event_date"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("n_day", sum(col("n")).over(byDay))
      .select(col("event_date"), col("n_day"),
        floor(col("n").cast("double") / col("n_day").cast("double") *
          log(col("n_day").cast("double") / col("n").cast("double")) *
          lit(1000000.0) + lit(0.5)).cast("long").as("t"))
      .groupBy(col("event_date"))
      .agg(max(col("n_day")).as("n_events"),
        count(lit(1)).as("n_types"),
        (sum(col("t")).cast("double") / lit(1000000.0)).as("entropy_nats"))
      .orderBy(col("event_date"))
  }

  /** `prof_corr_matrix` (profiler ext.): the full pairwise Pearson
    * correlation matrix of the four numeric lineitem columns in ONE
    * scan — the feature-redundancy panel a training pipeline checks
    * before fitting. All six pairs' power sums (n, Σx, Σx², Σxy) ride
    * a single aggregate; a per-pair `corr()` loop would re-scan the
    * fact table six times for identical output, and Spark's built-in
    * `corr` accumulates add-order-dependent doubles besides.
    *
    * Determinism: values are exact integer cents, power sums
    * accumulate as Decimal(38,0) (Σcents² overflows a long at this
    * scale — the higher-moments doctrine), and each correlation is a
    * fixed IEEE tree over exactly-agreed integers, round6'd. The
    * 1-row result unpivots driver-free via inline(array(struct)). */
  val profCorrMatrix: Q = (spark, dir) => {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def c(name: String) = Tables.cents(col(name)).cast("long").cast(dec)
    val sums =
      Seq(count(lit(1)).as("n")) ++
      cols.map(x => sum(c(x)).as(s"s_$x")) ++
      cols.map(x => sum(c(x) * c(x)).as(s"q_$x")) ++
      cols.combinations(2).map { case Seq(x, y) =>
        sum(c(x) * c(y)).as(s"p_${x}_$y")
      }.toSeq
    val nd = col("n").cast(dec)
    def corrOf(x: String, y: String) = {
      val cov = (nd * col(s"p_${x}_$y") - col(s"s_$x") * col(s"s_$y"))
        .cast("double")
      val vx = (nd * col(s"q_$x") - col(s"s_$x") * col(s"s_$x"))
        .cast("double")
      val vy = (nd * col(s"q_$y") - col(s"s_$y") * col(s"s_$y"))
        .cast("double")
      Tables.round6(cov / (sqrt(vx) * sqrt(vy)))
    }
    val rows = cols.combinations(2).map { case Seq(x, y) =>
      struct(lit(x).as("col_x"), lit(y).as("col_y"),
        corrOf(x, y).as("corr"))
    }.toSeq
    Tables.lineitem(spark, dir)
      .select(cols.map(col): _*)
      .agg(sums.head, sums.tail: _*)
      .select(inline(array(rows: _*)))
      .orderBy(col("col_x"), col("col_y"))
  }

  def queries: Map[String, Q] = Map(
    "prof_corr_matrix"   -> profCorrMatrix,
    "prof_ks_test"       -> profKsTest,
    "agg_entropy"        -> aggEntropy,
    "prof_numeric_summary" -> profNumericSummary,
    "prof_categorical_summary" -> profCategoricalSummary,
    "agg_cube"           -> aggCube,
    "agg_grouping_sets"  -> aggGroupingSets,
    "agg_percentiles"    -> aggPercentiles,
    "agg_approx_percentiles" -> aggApproxPercentiles,
    "agg_count_star"     -> aggCountStar,
    "agg_kpis"           -> aggKpis,
    "agg_count_by_key"   -> aggCountByKey,
    "agg_ratio_of_total" -> aggRatioOfTotal,
    "agg_value_counts"   -> aggValueCounts,
    "agg_ngroups"        -> aggNgroups,
    "agg_approx_ngroups" -> aggApproxNgroups,
    "agg_hll_merge"      -> aggHllMerge,
    "agg_nunique"        -> aggNunique,
    "agg_group_size"     -> aggGroupSize,
    "agg_named_multi"    -> aggNamedMulti,
    "agg_mean_group"     -> aggMeanGroup,
    "agg_stats_cv"       -> aggStatsCv,
    "agg_higher_moments" -> aggHigherMoments,
    "agg_corr_group"     -> aggCorrGroup,
    "agg_mode"           -> aggMode,
    "agg_bucket_hist"    -> aggBucketHist,
    "agg_seasonality"    -> aggSeasonality,
    "agg_rollup"         -> aggRollup,
    "agg_avg"            -> aggAvg,
    "agg_trend_ols"      -> aggTrendOls,
    "agg_welch_ttest"    -> aggWelchTtest,
    "prof_drift_psi"     -> profDriftPsi,
    "prof_cusum_drift"   -> profCusumDrift,
    "agg_winsorized_mean" -> aggWinsorizedMean,
    "agg_approx_ngroups_exact" -> aggApproxNgroupsExact,
    "agg_hll_merge_exact"      -> aggHllMergeExact,
  )

  private val R = Tables.revenueSumSql // exact money-sum fragment

  /** Oracle fragment replaying [[aggPercentiles]]' interpolation for
    * probability `p` over sorted list `v` of length `n` — identical
    * expression tree, so IEEE results match bit-for-bit. (DuckDB CAST
    * double→INT rounds, but floor() is already integral, so it equals
    * Spark's truncating cast here.) */
  private def pctSql(p: String): String = {
    val idx = s"CAST(floor($p * (n - 1)) AS INT)"
    val lo = s"v[$idx + 1]"
    val hi = s"v[least($idx + 2, CAST(n AS INT))]"
    s"floor(($lo + ($hi - $lo) * ($p * (n - 1) - floor($p * (n - 1)))) " +
      "* 1000000.0 + 0.5) / 1000000.0"
  }

  def oracles: Map[String, String] = Map(
    "agg_approx_ngroups_exact" ->
      """SELECT CAST(count(DISTINCT CAST(l_shipdate AS DATE)) AS BIGINT)
        |    AS exact_dates,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts
        |FROM lineitem""".stripMargin,
    "agg_hll_merge_exact" ->
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT)
        |    AS n_users
        |  FROM events GROUP BY 1
        |UNION ALL
        |SELECT '__all_merged' AS event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM events
        |ORDER BY event_type""".stripMargin,
    "prof_categorical_summary" ->
      Seq("l_returnflag", "l_linestatus").map { c =>
        s"""SELECT '$c' AS "column",
           |  (SELECT count(DISTINCT $c) FROM lineitem) AS n_distinct,
           |  $c AS mode_value, count(*) AS mode_count
           |FROM lineitem GROUP BY $c
           |ORDER BY count(*) DESC, $c LIMIT 1""".stripMargin
      }.map(q => s"SELECT * FROM ($q)")
        .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\""),
    "prof_numeric_summary" ->
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").map { c =>
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
           |  count(*) - count($c) AS n_null,
           |  count(DISTINCT $c) AS n_distinct,
           |  CAST(min(floor($c * 100.0 + 0.5)) AS BIGINT) AS min_cents,
           |  CAST(max(floor($c * 100.0 + 0.5)) AS BIGINT) AS max_cents
           |FROM lineitem""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\""),
    "agg_grouping_sets" ->
      """SELECT COALESCE(c_mktsegment, 'ALL') AS segment,
        |  COALESCE(o_orderpriority, 'ALL') AS priority,
        |  SUM(floor(o_totalprice * 100.0 + 0.5)) / 100.0 AS total_revenue,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY GROUPING SETS ((c_mktsegment), (o_orderpriority))
        |ORDER BY 1, 2""".stripMargin,
    "agg_cube" ->
      """SELECT COALESCE(c_mktsegment, 'ALL') AS segment,
        |  COALESCE(o_orderpriority, 'ALL') AS priority,
        |  SUM(floor(o_totalprice * 100.0 + 0.5)) / 100.0 AS total_revenue,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY CUBE (c_mktsegment, o_orderpriority)
        |ORDER BY 1, 2""".stripMargin,
    "agg_percentiles" ->
      (s"""SELECT product, n AS n_days,
          |  ${pctSql("0.5")} AS p50,
          |  ${pctSql("0.9")} AS p90,
          |  ${pctSql("0.99")} AS p99
          |FROM (
          |  SELECT product, list_sort(list(total_quantity)) AS v,
          |         count(*) AS n
          |  FROM (""".stripMargin + CoreQueries.aggDailyProductSql +
        ") d GROUP BY 1) g ORDER BY product"),
    "agg_count_star" -> "SELECT count(*) AS n FROM lineitem",
    "agg_kpis" ->
      s"""SELECT *, total_revenue / n_orders AS revenue_per_order FROM (
         |  SELECT $R AS total_revenue,
         |         count(*) AS n_line_items,
         |         count(DISTINCT l_orderkey) AS n_orders,
         |         count(DISTINCT l_suppkey) AS n_suppliers
         |  FROM lineitem) t""".stripMargin,
    "agg_count_by_key" ->
      """SELECT p_name AS product, count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "agg_ratio_of_total" ->
      """SELECT p_name AS product, count(*) AS n,
        |  CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM orders) AS probability
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "agg_value_counts" ->
      """SELECT o_orderpriority, count(*) AS n FROM orders
        |GROUP BY 1 ORDER BY 2 DESC, 1""".stripMargin,
    "agg_ngroups" ->
      "SELECT count(DISTINCT CAST(l_shipdate AS DATE)) AS n_dates FROM lineitem",
    "agg_nunique" ->
      """SELECT (SELECT count(DISTINCT o_custkey) FROM orders) AS n_customers,
        |       (SELECT count(DISTINCT p_name) FROM part) AS n_products""".stripMargin,
    "agg_group_size" ->
      """SELECT CAST(o_orderdate AS DATE) AS sale_date, count(*) AS n_tickets
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "agg_named_multi" ->
      s"""SELECT p_brand, $R AS total_revenue, SUM(l_quantity) AS total_units
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "agg_mean_group" ->
      s"""SELECT p_name AS product,
         |  SUM(l_quantity) / count(*) AS avg_quantity,
         |  $R / count(*) AS avg_revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "agg_higher_moments" ->
      """WITH c AS (
        |  SELECT event_type,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c
        |  FROM events),
        |st AS (
        |  SELECT event_type, count(*) AS n,
        |    SUM(CAST(c AS HUGEINT)) AS s1,
        |    SUM(CAST(c AS HUGEINT) * c) AS s2,
        |    SUM(CAST(c AS HUGEINT) * c * c) AS s3,
        |    SUM(CAST(c AS HUGEINT) * c * c * c) AS s4
        |  FROM c GROUP BY 1),
        |m AS (
        |  SELECT event_type, n,
        |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mc,
        |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS q2,
        |    CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS q3,
        |    CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS q4
        |  FROM st)
        |SELECT event_type, n,
        |  floor(mc / 100.0 * 1000000.0 + 0.5) / 1000000.0 AS mean_value,
        |  floor(sqrt(q2 - mc * mc) / 100.0 * 1000000.0 + 0.5) / 1000000.0
        |    AS stddev_value,
        |  CASE WHEN q2 - mc * mc > 0.0 THEN
        |    floor((q3 - 3.0 * mc * q2 + 2.0 * mc * mc * mc)
        |          / ((q2 - mc * mc) * sqrt(q2 - mc * mc))
        |          * 1000000.0 + 0.5) / 1000000.0 END AS skewness,
        |  CASE WHEN q2 - mc * mc > 0.0 THEN
        |    floor(((q4 - 4.0 * mc * q3 + 6.0 * mc * mc * q2
        |            - 3.0 * mc * mc * mc * mc)
        |           / ((q2 - mc * mc) * (q2 - mc * mc)) - 3.0)
        |          * 1000000.0 + 0.5) / 1000000.0 END AS kurtosis_excess
        |FROM m ORDER BY 1""".stripMargin,
    "agg_stats_cv" ->
      ("""SELECT product,
        |  floor(stddev_samp(total_quantity) * 1000000.0 + 0.5) / 1000000.0 AS std_quantity,
        |  SUM(total_quantity) / count(*) AS mean_quantity,
        |  floor(floor(stddev_samp(total_quantity) * 1000000.0 + 0.5) / 1000000.0
        |        / (SUM(total_quantity) / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS cv
        |FROM (""".stripMargin + CoreQueries.aggDailyProductSql +
        ") t GROUP BY 1 ORDER BY 1"),
    "agg_corr_group" ->
      """SELECT l_returnflag, floor(corr(l_quantity, l_extendedprice) * 1000000.0 + 0.5) / 1000000.0 AS corr_qty_price
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "agg_mode" ->
      """SELECT c_mktsegment, o_orderpriority AS mode_priority, n FROM (
        |  SELECT c_mktsegment, o_orderpriority, count(*) AS n,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |                       ORDER BY count(*) DESC, o_orderpriority) AS rk
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2) t
        |WHERE rk = 1 ORDER BY 1""".stripMargin,
    "agg_bucket_hist" ->
      """SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
        |            WHEN c_acctbal < 1000 THEN '0-1k'
        |            WHEN c_acctbal < 5000 THEN '1k-5k'
        |            ELSE '5k+' END AS balance_bin,
        |  count(*) AS n
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin,
    "agg_rollup" ->
      s"""SELECT grouping(p_brand) AS g,
         |  coalesce(p_brand, 'ALL') AS brand,
         |  $R AS total_revenue, SUM(l_quantity) AS total_units
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY ROLLUP(p_brand) ORDER BY 1, 2""".stripMargin,
    "agg_seasonality" ->
      s"""SELECT month(l_shipdate) AS month, $R AS total_revenue
         |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "agg_avg" ->
      """SELECT CAST(ts AS DATE) AS event_date, hour(ts) AS hour, event_type,
        |  SUM(floor(value * 100.0 + 0.5)) / 100.0 / count(*) AS avg_value
        |FROM events GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "agg_trend_ols" ->
      ("""WITH s AS (
         |  SELECT product, count(*) AS n,
         |    SUM(datediff('day', DATE '1992-01-01', sale_date)) AS sx,
         |    SUM(CAST(total_quantity AS BIGINT)) AS sy,
         |    SUM(datediff('day', DATE '1992-01-01', sale_date)
         |        * CAST(total_quantity AS BIGINT)) AS sxy,
         |    SUM(datediff('day', DATE '1992-01-01', sale_date)
         |        * datediff('day', DATE '1992-01-01', sale_date)) AS sxx
         |  FROM (""".stripMargin + CoreQueries.aggDailyProductSql +
        """) d GROUP BY 1 HAVING count(*) >= 2)
          |SELECT product, n AS n_days,
          |  floor(CAST(n * sxy - sx * sy AS DOUBLE)
          |        / CAST(n * sxx - sx * sx AS DOUBLE)
          |        * 1000000.0 + 0.5) / 1000000.0 AS slope,
          |  floor((CAST(sy AS DOUBLE)
          |         - CAST(n * sxy - sx * sy AS DOUBLE)
          |           / CAST(n * sxx - sx * sx AS DOUBLE)
          |           * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
          |        * 1000000.0 + 0.5) / 1000000.0 AS intercept
          |FROM s ORDER BY product""".stripMargin),
    "agg_welch_ttest" ->
      """WITH s AS (
        |  SELECT p_name AS product,
        |    SUM(CASE WHEN CAST(l_shipdate AS DATE) < DATE '1998-01-01'
        |             THEN 1 ELSE 0 END) AS n1,
        |    SUM(CASE WHEN CAST(l_shipdate AS DATE) < DATE '1998-01-01'
        |             THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS s1,
        |    SUM(CASE WHEN CAST(l_shipdate AS DATE) < DATE '1998-01-01'
        |             THEN CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
        |             ELSE 0 END) AS ss1,
        |    SUM(CASE WHEN NOT (CAST(l_shipdate AS DATE) < DATE '1998-01-01')
        |             THEN 1 ELSE 0 END) AS n2,
        |    SUM(CASE WHEN NOT (CAST(l_shipdate AS DATE) < DATE '1998-01-01')
        |             THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS s2,
        |    SUM(CASE WHEN NOT (CAST(l_shipdate AS DATE) < DATE '1998-01-01')
        |             THEN CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
        |             ELSE 0 END) AS ss2
        |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1
        |  HAVING n1 >= 2 AND n2 >= 2
        |    AND CAST(ss1 AS HUGEINT) * n1 - CAST(s1 AS HUGEINT) * s1
        |      + CAST(ss2 AS HUGEINT) * n2 - CAST(s2 AS HUGEINT) * s2 > 0),
        |m AS (
        |  SELECT product,
        |    CAST(n1 AS BIGINT) AS n1b, CAST(n2 AS BIGINT) AS n2b,
        |    CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
        |    CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
        |    (CAST(ss1 AS DOUBLE)
        |     - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
        |      / (CAST(n1 AS DOUBLE) - 1.0) / CAST(n1 AS DOUBLE) AS se1,
        |    (CAST(ss2 AS DOUBLE)
        |     - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
        |      / (CAST(n2 AS DOUBLE) - 1.0) / CAST(n2 AS DOUBLE) AS se2
        |  FROM s)
        |SELECT product, n1b AS n_early, n2b AS n_late,
        |  m1 AS mean_early, m2 AS mean_late,
        |  floor((m1 - m2) / sqrt(se1 + se2) * 1000000.0 + 0.5) / 1000000.0
        |    AS t_stat,
        |  floor((se1 + se2) * (se1 + se2)
        |        / (se1 * se1 / (CAST(n1b AS DOUBLE) - 1.0)
        |           + se2 * se2 / (CAST(n2b AS DOUBLE) - 1.0))
        |        * 1000000.0 + 0.5) / 1000000.0 AS welch_df
        |FROM m ORDER BY product""".stripMargin,
    "prof_corr_matrix" -> {
      val cs = Seq("l_quantity" -> "q", "l_extendedprice" -> "ep",
        "l_discount" -> "di", "l_tax" -> "tx")
      val centDefs = cs.map { case (full, a) =>
        s"CAST(floor($full * 100.0 + 0.5) AS BIGINT) AS $a"
      }.mkString(",\n         ")
      val sumDefs = (
        cs.map { case (_, a) => s"SUM(CAST($a AS HUGEINT)) AS s_$a" } ++
        cs.map { case (_, a) => s"SUM(CAST($a AS HUGEINT) * $a) AS q_$a" } ++
        cs.combinations(2).map { case Seq((_, x), (_, y)) =>
          s"SUM(CAST($x AS HUGEINT) * $y) AS p_${x}_$y"
        }).mkString(",\n    ")
      val selects = cs.combinations(2).map { case Seq((fx, x), (fy, y)) =>
        s"""SELECT '$fx' AS col_x, '$fy' AS col_y,
           |  floor(CAST(n * p_${x}_$y - s_$x * s_$y AS DOUBLE)
           |        / (sqrt(CAST(n * q_$x - s_$x * s_$x AS DOUBLE))
           |           * sqrt(CAST(n * q_$y - s_$y * s_$y AS DOUBLE)))
           |        * 1000000.0 + 0.5) / 1000000.0 AS corr
           |FROM s""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH c AS (
         |  SELECT $centDefs
         |  FROM lineitem),
         |s AS (
         |  SELECT count(*) AS n,
         |    $sumDefs
         |  FROM c)
         |$selects
         |ORDER BY col_x, col_y""".stripMargin
    },
    "prof_ks_test" ->
      """WITH c AS (
        |  SELECT CAST(greatest(0.0, least(floor(floor(o_totalprice * 100.0 + 0.5)
        |                          / 600000.0), 99.0)) AS INT) AS bucket,
        |    SUM(CASE WHEN CAST(o_orderdate AS DATE) < DATE '1998-01-01'
        |             THEN 1 ELSE 0 END) AS n_early,
        |    SUM(CASE WHEN NOT (CAST(o_orderdate AS DATE) < DATE '1998-01-01')
        |             THEN 1 ELSE 0 END) AS n_late
        |  FROM orders GROUP BY 1),
        |w AS (
        |  SELECT SUM(n_early) OVER (ORDER BY bucket) AS cum_early,
        |         SUM(n_late) OVER (ORDER BY bucket) AS cum_late,
        |         SUM(n_early) OVER () AS tot_early,
        |         SUM(n_late) OVER () AS tot_late
        |  FROM c)
        |SELECT CAST(max(tot_early) AS BIGINT) AS n_early,
        |  CAST(max(tot_late) AS BIGINT) AS n_late,
        |  max(abs(CAST(cum_early AS DOUBLE) / CAST(tot_early AS DOUBLE)
        |        - CAST(cum_late AS DOUBLE) / CAST(tot_late AS DOUBLE)))
        |    AS ks_d
        |FROM w""".stripMargin,
    "agg_entropy" ->
      """WITH c AS (
        |  SELECT CAST(ts AS DATE) AS event_date, event_type,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT event_date, n,
        |    CAST(SUM(n) OVER (PARTITION BY event_date) AS BIGINT) AS n_day
        |  FROM c),
        |m AS (
        |  SELECT event_date, n_day,
        |    CAST(floor(CAST(n AS DOUBLE) / CAST(n_day AS DOUBLE)
        |          * ln(CAST(n_day AS DOUBLE) / CAST(n AS DOUBLE))
        |          * 1000000.0 + 0.5) AS BIGINT) AS t
        |  FROM w)
        |SELECT event_date, max(n_day) AS n_events, count(*) AS n_types,
        |  CAST(SUM(t) AS DOUBLE) / 1000000.0 AS entropy_nats
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
    "agg_winsorized_mean" ->
      ("""WITH b AS (
        |  SELECT product,
        |    CAST(floor(total_revenue * 100.0 + 0.5) AS BIGINT) AS c
        |  FROM (""".stripMargin + CoreQueries.aggDailyProductSql + """) daily),
        |bd AS (
        |  SELECT product, quantile_cont(c, 0.05) AS p05,
        |    quantile_cont(c, 0.95) AS p95
        |  FROM b GROUP BY 1),
        |a AS (
        |  SELECT b.product, count(*) AS n_days,
        |    CAST(SUM(c) AS BIGINT) AS s_all,
        |    CAST(SUM(CASE WHEN c >= p05 AND c <= p95 THEN c ELSE 0 END)
        |         AS BIGINT) AS s_mid,
        |    CAST(SUM(CASE WHEN c < p05 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_lo,
        |    CAST(SUM(CASE WHEN c > p95 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_hi,
        |    max(p05) AS p05, max(p95) AS p95
        |  FROM b JOIN bd USING (product) GROUP BY 1)
        |SELECT product, n_days, n_lo, n_hi,
        |  floor(CAST(s_all AS DOUBLE) / n_days / 100.0 * 1000000.0 + 0.5)
        |    / 1000000.0 AS mean_raw,
        |  floor((CAST(s_mid AS DOUBLE) + n_lo * p05 + n_hi * p95)
        |        / n_days / 100.0 * 1000000.0 + 0.5) / 1000000.0
        |    AS mean_winsorized
        |FROM a ORDER BY 1""".stripMargin),
    "prof_cusum_drift" ->
      ("""WITH b AS (
        |  SELECT product, sale_date, CAST(total_quantity AS BIGINT) AS x
        |  FROM (""".stripMargin + CoreQueries.aggDailyProductSql + """) daily),
        |st AS (SELECT product, count(*) AS n, SUM(x) AS s
        |       FROM b GROUP BY 1),
        |d AS (
        |  SELECT b.product, sale_date, n,
        |    CAST(n * x - s AS BIGINT) AS dev
        |  FROM b JOIN st USING (product)),
        |md AS (SELECT product, quantile_cont(abs(dev), 0.5) AS mad
        |       FROM d GROUP BY 1),
        |c AS (
        |  SELECT d.product, sale_date, n, mad,
        |    row_number() OVER (PARTITION BY d.product
        |      ORDER BY sale_date) AS t,
        |    CAST(SUM(dev) OVER (PARTITION BY d.product ORDER BY sale_date
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cal
        |  FROM d JOIN md USING (product)),
        |e AS (
        |  SELECT product, sale_date, n, mad,
        |    CAST(cal AS DOUBLE) - t * mad AS cadj,
        |    min(CAST(cal AS DOUBLE) - t * mad) OVER (
        |      PARTITION BY product ORDER BY sale_date
        |      ROWS UNBOUNDED PRECEDING) AS minp
        |  FROM c),
        |f AS (SELECT product, sale_date, n, mad, cadj - minp AS exc FROM e)
        |SELECT product, max(n) AS n_days,
        |  floor(max(mad) / max(n) * 1000000.0 + 0.5) / 1000000.0 AS mad_qty,
        |  CAST(SUM(CASE WHEN exc > 5.0 * mad THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_alarm_days,
        |  floor(max(exc) / max(n) * 1000000.0 + 0.5) / 1000000.0
        |    AS max_excursion_qty,
        |  min(CASE WHEN exc > 5.0 * mad THEN sale_date END)
        |    AS first_alarm_date
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin),
    "prof_drift_psi" ->
      """WITH c AS (
        |  SELECT CAST(greatest(0.0, least(floor(floor(o_totalprice * 100.0 + 0.5)
        |                          / 6000000.0), 9.0)) AS INT) AS bucket,
        |    SUM(CASE WHEN CAST(o_orderdate AS DATE) < DATE '1998-01-01'
        |             THEN 1 ELSE 0 END) AS n_early,
        |    SUM(CASE WHEN NOT (CAST(o_orderdate AS DATE) < DATE '1998-01-01')
        |             THEN 1 ELSE 0 END) AS n_late
        |  FROM orders GROUP BY 1),
        |t AS (
        |  SELECT SUM(CASE WHEN CAST(o_orderdate AS DATE) < DATE '1998-01-01'
        |                  THEN 1 ELSE 0 END) AS tot_early,
        |         SUM(CASE WHEN NOT (CAST(o_orderdate AS DATE) < DATE '1998-01-01')
        |                  THEN 1 ELSE 0 END) AS tot_late
        |  FROM orders)
        |SELECT bucket,
        |  CAST(n_early AS BIGINT) AS n_early, CAST(n_late AS BIGINT) AS n_late,
        |  floor(((CAST(n_early AS DOUBLE) + 1.0) / (CAST(tot_early AS DOUBLE) + 10.0)
        |         - (CAST(n_late AS DOUBLE) + 1.0) / (CAST(tot_late AS DOUBLE) + 10.0))
        |        * ln(((CAST(n_early AS DOUBLE) + 1.0) / (CAST(tot_early AS DOUBLE) + 10.0))
        |             / ((CAST(n_late AS DOUBLE) + 1.0) / (CAST(tot_late AS DOUBLE) + 10.0)))
        |        * 1000000.0 + 0.5) / 1000000.0 AS psi_term
        |FROM c, t ORDER BY bucket""".stripMargin,
  )
}
