package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Determinism._
import graft.io.Readers.table

/** Aggregation surface beyond the basic group-by (SURVEY §2.4):
  * distinct (exact + HLL), grouping sets / rollup / cube, conditional
  * aggregation, sorted collect, pivot, exact percentiles.
  *
  * Scale posture: every aggregate here is partial+final hash agg (map-
  * side combine comes free with `groupBy().agg`); `countDistinct` uses
  * Catalyst's expand rewrite (two-phase, no driver collect); pivot uses
  * an explicit value list so the planner never runs a distinct job to
  * discover columns (at 100 TB that discovery scan would be a full pass).
  */
object Aggregations {

  import Relational.Q

  /** Exact distinct users per event type (expand + two-phase agg). */
  val aggCountDistinct: Q = (s, dir) =>
    table(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
           count(lit(1)).as("n_events"))
      .orderBy("event_type")

  /** HLL distinct per type — approximate, so never oracle'd (SURVEY
    * §7.4); bounds vs exact are asserted in the unit spec.
    */
  val aggApproxDistinct: Q = (s, dir) =>
    table(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.05).as("n_users_approx"))
      .orderBy("event_type")

  /** Approximate percentiles (t-digest style sketch under Spark's
    * `approx_percentile`): p50/p90/p99 of order totals per priority.
    * Approximate, so never oracle'd; the unit spec bounds the rank
    * error against exact `percentile`. The sketch is mergeable —
    * partial aggregation combines per-partition digests, which is why
    * this is THE quantile shape at 100 TB (exact percentile needs a
    * full sort per group).
    */
  val aggApproxPercentile: Q = (s, dir) =>
    table(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        percentile_approx(col("o_totalprice"), lit(0.5), lit(1000)).as("p50_approx"),
        percentile_approx(col("o_totalprice"), lit(0.9), lit(1000)).as("p90_approx"),
        percentile_approx(col("o_totalprice"), lit(0.99), lit(1000)).as("p99_approx"))
      .orderBy("o_orderpriority")

  /** Mergeable HLL sketches as first-class values (Apache DataSketches
    * via Spark's hll_sketch_agg family): per-type user sketches are
    * built once, then UNIONED — without touching raw data again — into
    * an all-types estimate. Sketch mergeability is the core of
    * incremental/distributed distinct counting at 100 TB: per-day or
    * per-partition sketches combine associatively, so re-aggregation
    * never rescans history. Approximate → no oracle; the unit spec
    * bounds estimates against exact counts.
    */
  val aggHllSketchMerge: Q = (s, dir) => {
    val sk = table(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"),
        countDistinct(col("user_id")).as("n_exact"))
    sk.select(
        col("event_type"),
        round(hll_sketch_estimate(col("sk")), 2).as("n_users_est"),
        col("n_exact"))
      .unionByName(
        sk.agg(hll_union_agg(col("sk"), lit(true)).as("u"))
          .select(lit("__all__").as("event_type"),
            round(hll_sketch_estimate(col("u")), 2).as("n_users_est"),
            lit(null).cast("long").as("n_exact")))
      .orderBy("event_type")
  }

  /** Windowed funnel (round 7): signup → first click within 7 days →
    * first purchase within 7 days OF THAT CLICK — the funnel
    * [[eventsFunnel]] runs, upgraded with per-step conversion
    * windows (the semantics every product-analytics funnel actually
    * uses; the unwindowed form credits a purchase years later).
    * NOT a per-user event-sequence scan: each step is one filtered
    * partial aggregation re-anchored by an equi-join on user_id to
    * the previous step's chosen timestamp — the
    * [[Analytics.eventsTimeToConvert]] shape, chained. "First
    * qualifying" = min(ts) in the window, so each step's anchor is
    * deterministic and the next window measures from it. Step
    * relations only ever shrink; no event-pair set forms anywhere.
    */
  val eventsFunnelWindowed: Q = (s, dir) => {
    // the module's materialize-before-multi-consumer discipline: the
    // narrow scan feeds three step branches, and each per-user step
    // relation feeds both its successor and its own count
    val ev = Checkpoints.pin(table(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_type")))
    val s1 = Checkpoints.pin(ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_signup")))
    val s2 = Checkpoints.pin(ev.filter(col("event_type") === "click")
      .join(s1, "user_id")
      .filter(col("ts") >= col("t_signup") &&
        col("ts") <= col("t_signup") + expr("INTERVAL 7 DAYS"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_click")))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2, "user_id")
      .filter(col("ts") >= col("t_click") &&
        col("ts") <= col("t_click") + expr("INTERVAL 7 DAYS"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
    s1.agg(count(lit(1)).as("n_signup"))
      .crossJoin(s2.agg(count(lit(1)).as("n_click_7d")))
      .crossJoin(s3.agg(count(lit(1)).as("n_purchase_7d")))
  }

  /** DAU / trailing-7-day WAU (round 7) — the daily/weekly
    * active-user board metric. A trailing DISTINCT count cannot be a
    * running window (distinct doesn't decompose over frames) and a
    * naive per-day range self-join of the event log is |events|×7;
    * instead the relation is first collapsed to distinct
    * (day, user) pairs (one partial-agg shuffle — the big win, since
    * a user's repeat events within a day vanish here), each pair is
    * exploded to the ≤7 window days it can serve, deduped again on
    * (window-day, user) — a user active on several days of one
    * window still counts once — and counted per existing day. All
    * hash-partitioned equi-joins and aggs; no global window, no
    * range join ([[graft.ops.Windows.winMovingRange]]'s contribution
    * shape, lifted to distinct counting).
    */
  val eventsDauWau: Q = (s, dir) => {
    val du = table(s, dir, "events")
      .select(to_date(col("ts")).as("d"), col("user_id"))
      .distinct()
      .withColumn("day", unix_date(col("d")))
    val days = du.select(col("d"), col("day")).distinct()
    val contrib = du
      .select(explode(sequence(col("day"), col("day") + 6)).as("wday"), col("user_id"))
      .distinct()
    val wau = days.join(contrib, col("wday") === col("day"))
      .groupBy(col("d")).agg(count(lit(1)).as("wau_7d"))
    val dau = du.groupBy(col("d")).agg(count(lit(1)).as("dau"))
    dau.join(wau, "d")
      .select(col("d"), col("dau"), col("wau_7d"))
      .orderBy("d")
  }

  /** EXACT distinct counting through bitmap aggregation (round 7 —
    * the roaring-bitmap-index pattern Spark ships as the `bitmap_*`
    * family): user ids land in fixed 32k-bit buckets
    * (`bitmap_bucket_number`/`bitmap_bit_position`), per-(type,
    * bucket) bitmaps build map-side, and the per-type count is the
    * sum of per-bucket popcounts. Unlike HLL this is exact — and
    * unlike `countDistinct`'s Expand, the partial state is a dense
    * bitmap that UNIONS (`bitmap_or_agg` is associative and
    * idempotent), so per-day/per-partition bitmaps merge into
    * rollups without rescanning history — the incremental-distinct
    * posture at 100 TB. Oracle'd against plain COUNT(DISTINCT).
    */
  val aggBitmapDistinct: Q = (s, dir) => {
    val ev = table(s, dir, "events")
      .select(col("event_type"), col("user_id"))
    ev.groupBy(col("event_type"),
        expr("bitmap_bucket_number(user_id)").as("bkt"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))").as("bm"))
      .groupBy(col("event_type"))
      .agg(sum(expr("bitmap_count(bm)")).as("n_users"))
      .orderBy("event_type")
  }

  /** Sketch-based set-intersection estimates (round 7 — the
    * theta-sketch use case expressed over the HLL family Spark
    * ships): per-event-type user sketches are built in ONE pass, then
    * every type pair's audience overlap is estimated by
    * inclusion–exclusion — |A∩B| ≈ |A| + |B| − |A∪B| — entirely on
    * the sketch relation (|event_type| rows; the raw data is never
    * rescanned). This is the cross-segment overlap query every
    * audience/dedup dashboard runs; at 100 TB the pairing is a tiny
    * sketch×sketch self-join, and the only full-data cost is the one
    * sketch-building aggregation. Union of HLLs is exact over the
    * register space, so the estimate's error is the HLL error of the
    * three terms (prop-tested against exact intersections).
    * Approximate → no oracle (SURVEY §7.4).
    */
  val aggHllIntersect: Q = (s, dir) => {
    val sk = table(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
    val a = sk.select(col("event_type").as("type_a"), col("sk").as("ska"))
    val b = sk.select(col("event_type").as("type_b"), col("sk").as("skb"))
    a.join(b, col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"),
        hll_sketch_estimate(col("ska")).as("est_a"),
        hll_sketch_estimate(col("skb")).as("est_b"),
        hll_sketch_estimate(hll_union(col("ska"), col("skb"))).as("est_union"))
      .withColumn("est_intersect",
        col("est_a") + col("est_b") - col("est_union"))
      .orderBy("type_a", "type_b")
  }

  /** Exact skewness + excess kurtosis per event type (round 7 — the
    * distribution-shape companions of [[aggCorrExact]]): built-in
    * `skewness`/`kurtosis` accumulate doubles in partition order, so
    * the four power sums are aggregated EXACTLY instead — value is
    * 2-dec, so `v·100` is an exact integer whose 4th power (≤ ~6e18)
    * and corpus-wide sums (≤ ~1e23) fit decimal(38,0) losslessly
    * (HUGEINT on the DuckDB side). Each Sₖ casts to double once;
    * the central-moment and shape formulas then run the IDENTICAL
    * IEEE op sequence in both engines (√ via `sqrt`, never `pow` —
    * libm pow is not correctly rounded), and skew/kurtosis are
    * scale-invariant so the ·100 quantization cancels by itself.
    */
  val aggSkewKurtosis: Q = (s, dir) => {
    val v = (dec(col("value")) * 100).cast("decimal(38,0)")
    table(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(v).cast("double").as("s1"),
        sum(v * v).cast("double").as("s2"),
        sum(v * v * v).cast("double").as("s3"),
        sum(v * v * v * v).cast("double").as("s4"))
      .withColumn("mean", col("s1") / col("n"))
      .withColumn("m2", (col("s2") - col("s1") * col("s1") / col("n")) / col("n"))
      .withColumn("m3", (col("s3") - lit(3.0) * col("mean") * col("s2")
        + lit(2.0) * col("mean") * col("mean") * col("s1")) / col("n"))
      .withColumn("m4", (col("s4") - lit(4.0) * col("mean") * col("s3")
        + lit(6.0) * col("mean") * col("mean") * col("s2")
        - lit(3.0) * col("mean") * col("mean") * col("mean") * col("s1")) / col("n"))
      // degenerate groups (singleton or constant-valued): m2 = 0 and
      // both shapes are 0/0 = NaN — excluded, mirroring
      // [[Analytics.anomalyZscore]]'s guard for the identical case
      .filter(!isnan(col("m2")) && col("m2") > 0)
      .select(col("event_type"), col("n"),
        round(col("m3") / (col("m2") * sqrt(col("m2"))), 6).as("skewness"),
        round(col("m4") / (col("m2") * col("m2")) - lit(3.0), 6).as("kurtosis_excess"))
      .orderBy("event_type")
  }

  /** Exact Pearson correlation per group, from decimal-exact moment
    * sums. Built-in `corr()` accumulates doubles in partition order —
    * nondeterministic across engines AND across partitionings — so the
    * five moments (Σx, Σy, Σx², Σy², Σxy) are aggregated as exact
    * decimals (inputs are scale-2; products are scale-4, still exact),
    * each cast once to double (correctly rounded), and the textbook
    * formula runs in IEEE double arithmetic identically on both
    * engines. round(6) guards the final libm sqrt ULP.
    */
  val aggCorrExact: Q = (s, dir) => {
    val q = dec(col("l_quantity"))
    val p = dec(col("l_extendedprice"))
    table(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(q).cast("double").as("sx"), sum(p).cast("double").as("sy"),
        sum(q * q).cast("double").as("sxx"), sum(p * p).cast("double").as("syy"),
        sum(q * p).cast("double").as("sxy"))
      .withColumn("corr_qty_price", round(
        (col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6))
      .select("l_returnflag", "n", "corr_qty_price")
      .orderBy("l_returnflag")
  }

  /** Calendar gap-fill: daily revenue over a contiguous date spine,
    * missing days emitted as exact zeros with a `filled` flag — the
    * time-series regularization every downstream window/model step
    * assumes. The spine is generated from the data's own [min, max]
    * bounds (`sequence` + explode — calendar-bounded cardinality, so
    * the generated side stays tiny at any data scale) and left-joins
    * the daily aggregate.
    */
  val timeSeriesGapFill: Q = (s, dir) => {
    val daily = table(s, dir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(dsum(col("o_totalprice")).as("rev"))
    val spine = daily
      .agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"),
        expr("interval 1 day"))).as("d"))
    spine.join(daily, Seq("d"), "left")
      .select(col("d"),
        coalesce(col("rev"), lit(0.0)).as("day_rev"),
        col("rev").isNull.as("filled"))
      .orderBy("d")
  }

  /** Funnel analysis over the event stream: per user, the FIRST
    * timestamp of each stage (conditional min — one hash aggregation,
    * no self-joins), then one global roll-up counting strictly-ordered
    * stage completion (signup → click → purchase). The per-user stage
    * pivot is the standard funnel shape at any scale: one shuffle on
    * user_id, constant state per user.
    */
  val eventsFunnel: Q = (s, dir) => {
    val firsts = table(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "signup", col("ts"))).as("t_signup"),
        min(when(col("event_type") === "click", col("ts"))).as("t_click"),
        min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
    firsts.agg(
      count(lit(1)).as("n_users"),
      count(col("t_signup")).as("n_signup"),
      count(when(col("t_click") > col("t_signup"), 1)).as("n_signup_then_click"),
      count(when(col("t_click") > col("t_signup") &&
        col("t_purchase") > col("t_click"), 1)).as("n_full_funnel"))
  }

  /** Weekly cohort retention: cohort = the user's first active ISO
    * week; for each (cohort, week-offset) count distinct active users.
    * Two hash aggregations and one equi-join on user_id — the join
    * side carrying one row per user, broadcastable when the user dim
    * fits, shuffled otherwise.
    */
  val eventsRetentionCohort: Q = (s, dir) => {
    val e = table(s, dir, "events")
      .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("wk"))
    val first = e.groupBy("user_id").agg(min(col("wk")).as("cohort_week"))
    e.join(first, "user_id")
      .withColumn("week_offset",
        (datediff(col("wk"), col("cohort_week")) / 7).cast("int"))
      .groupBy("cohort_week", "week_offset")
      .agg(countDistinct(col("user_id")).as("n_active"))
      .orderBy("cohort_week", "week_offset")
  }

  /** Daily new-vs-returning users (round 6): an event is "new" iff it
    * is its user's first ever (by (ts, event_id) total order). The
    * first-seen flag is one partitioned window — never a join back to
    * a min-ts relation per event — and the daily rollup is a plain
    * aggregate. The standard growth-analytics split, and the window
    * formulation is the one that scales: per-user state, single
    * shuffle on user_id, then a map-side-combinable date aggregation.
    */
  val eventsNewVsReturning: Q = (s, dir) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    table(s, dir, "events")
      .withColumn("is_first", (row_number().over(w) === 1).cast("int"))
      .groupBy(col("ts").cast("date").as("d"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_active_users"),
        sum(col("is_first")).as("n_new_users"))
      .orderBy("d")
  }

  /** Hourly OHLC resample per event type (round 6): open/close are the
    * first/last value under the (ts, event_id) total order inside each
    * (type, hour) bucket — expressed with min_by/max_by over a struct
    * ordering key, so the whole bar is ONE map-side-combinable
    * aggregation (no window, no self-join; the struct key makes
    * first/last deterministic under any partitioning). The classic
    * time-series downsample at 100 TB: output cardinality is
    * types × hours, independent of row count.
    */
  val timeSeriesOhlc: Q = (s, dir) => {
    val key = struct(col("ts"), col("event_id"))
    table(s, dir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).cast("timestamp").as("h"))
      .agg(min_by(col("value"), key).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), key).as("close"),
        count(lit(1)).as("n"))
      .orderBy("event_type", "h")
  }

  /** Revenue by (nation), (mktsegment), (nation,mktsegment), () —
    * GROUPING SETS with grouping flags to disambiguate NULL-as-ALL.
    */
  val aggGroupingSets: Q = (s, dir) => {
    val base = table(s, dir, "orders")
      .join(table(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(table(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
    base.groupingSets(
        Seq(Seq(col("n_name")), Seq(col("c_mktsegment")),
            Seq(col("n_name"), col("c_mktsegment")), Seq()),
        col("n_name"), col("c_mktsegment"))
      .agg(
        grouping(col("n_name")).cast("int").as("g_n"),
        grouping(col("c_mktsegment")).cast("int").as("g_m"),
        dsum(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n_orders"))
      .transform(orderedByAll)
  }

  /** Year → year+month rollup of order totals. */
  val aggRollup: Q = (s, dir) =>
    table(s, dir, "orders")
      .select(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"),
        col("o_totalprice"))
      .rollup("y", "m")
      .agg(
        grouping(col("y")).cast("int").as("g_y"),
        grouping(col("m")).cast("int").as("g_m"),
        dsum(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n_orders"))
      .transform(orderedByAll)

  /** Cube over returnflag × linestatus. */
  val aggCube: Q = (s, dir) =>
    table(s, dir, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(
        grouping(col("l_returnflag")).cast("int").as("g_f"),
        grouping(col("l_linestatus")).cast("int").as("g_s"),
        dsum(col("l_extendedprice")).as("sum_price"),
        count(lit(1)).as("n_items"))
      .transform(orderedByAll)

  /** Conditional aggregation — `sum/count(CASE WHEN …)` per group
    * (pivot-by-hand; the 211 category-count idiom).
    */
  val aggFiltered: Q = (s, dir) =>
    table(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        count(when(col("o_orderstatus") === "F", lit(1))).as("n_finished"),
        count(when(col("o_orderstatus") === "O", lit(1))).as("n_open"),
        sum(when(col("o_totalprice") > 200000, dec(col("o_totalprice"))))
          .cast("double").as("rev_big"),
        count(lit(1)).as("n_total"))
      .orderBy("o_orderpriority")

  /** Per-customer sorted list of order keys — collect_list is
    * partition-order-nondeterministic, sort_array restores determinism.
    */
  val aggCollectSorted: Q = (s, dir) =>
    table(s, dir, "orders")
      .groupBy(col("o_custkey").as("custkey"))
      .agg(array_join(transform(sort_array(collect_list(col("o_orderkey"))),
             _.cast("string")), ",").as("orderkeys"),
           count(lit(1)).as("n_orders"))
      .orderBy("custkey")

  /** Event counts per month pivoted by event_type. The value list is
    * explicit (FIXTURES.md: 5 types) so no discovery-distinct job runs;
    * nulls from empty cells coalesce to 0 to match COUNT FILTER.
    */
  val aggPivot: Q = (s, dir) => {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val p = table(s, dir, "events")
      .select(date_trunc("month", col("ts")).cast("date").as("month"), col("event_type"))
      .groupBy("month")
      .pivot("event_type", types)
      .agg(count(lit(1)))
    p.select(col("month") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
      .orderBy("month")
  }

  /** Exact percentiles (sort-based, interpolated) of order totals per
    * priority. Interpolation arithmetic is engine-specific in the last
    * ULP, so values are rounded to 4 decimals before output (SURVEY
    * §7.4 float discipline).
    */
  val aggPercentileExact: Q = (s, dir) =>
    table(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")

  /** INTERPOLATED percentile (PERCENTILE_CONT semantics) per
    * priority — the continuous sibling of [[aggPercentileExact]]
    * (type-1 picks a data point; CONT interpolates between the two
    * bracketing points), closing the last percentile-surface hole —
    * WITH ZERO FLOATS: at rank h = (n−1)·p the bracketing offsets
    * are lo = ⌊h⌋ and lo+1 and the fraction is exact in ppm
    * (f = ((n−1)·p_ppm) mod 10⁶), so the interpolated value is the
    * exact integer `v_lo·(10⁶−f) + v_hi·f` in MICRO-CENTS — the
    * rounding the built-in `percentile()`'s double arithmetic leaves
    * engine-dependent never happens (this is why the exact key
    * rounds to 4 places and this one doesn't have to). v_hi for the
    * n−1-th row interpolates with itself (f = 0 there by
    * construction).
    *
    * Scale: one rank window per priority (winsorize-family caveat,
    * same documented KLL swap) + lead(1); the two bracketing rows
    * per (group, p) survive a filter computed from broadcast group
    * sizes.
    */
  val aggPercentileCont: Q = (s, dir) => {
    val pPpm = Seq(500000L, 900000L, 990000L)
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("cents"), col("o_orderkey"))
    val ranked = table(s, dir, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .withColumn("rn", row_number().over(w).cast("long") - 1)
      .withColumn("nxt", lead(col("cents"), 1).over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("o_orderpriority"))))
    ranked
      .select(col("o_orderpriority"), col("rn"), col("cents"),
        coalesce(col("nxt"), col("cents")).as("hi"), col("n"),
        explode(array(pPpm.map(lit): _*)).as("p_ppm"))
      .withColumn("h_ppm", (col("n") - 1) * col("p_ppm"))
      .filter(col("rn") === expr("h_ppm div 1000000"))
      .withColumn("f", col("h_ppm") % 1000000L)
      .select(col("o_orderpriority"), col("p_ppm"),
        (col("cents") * (lit(1000000L) - col("f")) + col("hi") * col("f"))
          .as("value_micro_cents"), col("n"))
      .orderBy("o_orderpriority", "p_ppm")
  }

  /** Fixed-width histogram of order totals (round 6): bin id is an
    * integer floor-division of the value — a pure map expression, so
    * the whole histogram is one map-side-combined aggregation (the
    * sketch-free way to draw a distribution at 100 TB; bins are
    * bounded by value range, not row count). Bin edges are exact
    * (double / exact power-of-two-free constant then floor — both
    * engines perform the identical IEEE divide).
    */
  val aggHistogramBins: Q = (s, dir) =>
    table(s, dir, "orders")
      .select(floor(col("o_totalprice") / 50000.0).cast("int").as("bin"),
        col("o_totalprice"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        dsum(col("o_totalprice")).as("sum_total"))
      .withColumn("bin_lo", (col("bin") * 50000.0).cast("double"))
      .select("bin", "bin_lo", "n", "sum_total")
      .orderBy("bin")

  /** Mode and median per group (round 6). The built-in `mode` is
    * tie-nondeterministic in BOTH engines, so the mode here is the
    * explicit deterministic form: value-count relation → pick the
    * max-count value with a smallest-value tiebreak (one partial-agg
    * shuffle + one tiny window over the distinct-value relation —
    * never the raw rows). Median is the exact interpolated 0.5
    * percentile; quantities are integers so the midpoint is exactly
    * representable and engine-identical.
    */
  val aggModeMedian: Q = (s, dir) => {
    val li = table(s, dir, "lineitem")
    val counts = li.groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_returnflag"))
      .orderBy(col("c").desc, col("l_quantity").asc)
    val mode = counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"), col("l_quantity").as("mode_qty"), col("c").as("mode_n"))
    val med = li.groupBy(col("l_returnflag"))
      .agg(round(median(col("l_quantity")), 6).as("median_qty"),
        count(lit(1)).as("n"))
    med.join(mode, "l_returnflag")
      .select("l_returnflag", "median_qty", "mode_qty", "mode_n", "n")
      .orderBy("l_returnflag")
  }

  val queries: Map[String, Q] = Map(
    "agg_percentile_cont" -> aggPercentileCont,
    "agg_count_distinct" -> aggCountDistinct,
    "agg_approx_distinct" -> aggApproxDistinct,
    "agg_approx_percentile" -> aggApproxPercentile,
    "agg_hll_sketch_merge" -> aggHllSketchMerge,
    "agg_hll_intersect" -> aggHllIntersect,
    "agg_bitmap_distinct" -> aggBitmapDistinct,
    "events_dau_wau" -> eventsDauWau,
    "agg_skew_kurtosis" -> aggSkewKurtosis,
    "events_funnel_windowed" -> eventsFunnelWindowed,
    "time_series_gap_fill" -> timeSeriesGapFill,
    "agg_corr_exact" -> aggCorrExact,
    "events_funnel" -> eventsFunnel,
    "events_retention_cohort" -> eventsRetentionCohort,
    "agg_grouping_sets" -> aggGroupingSets,
    "agg_rollup" -> aggRollup,
    "agg_cube" -> aggCube,
    "agg_filtered" -> aggFiltered,
    "agg_collect_sorted" -> aggCollectSorted,
    "agg_pivot" -> aggPivot,
    "agg_percentile_exact" -> aggPercentileExact,
    "agg_histogram_bins" -> aggHistogramBins,
    "agg_mode_median" -> aggModeMedian,
    "events_new_vs_returning" -> eventsNewVsReturning,
    "time_series_ohlc" -> timeSeriesOhlc,
  )
}
