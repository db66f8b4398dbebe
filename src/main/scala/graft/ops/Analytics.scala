package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Determinism.dec
import graft.io.Readers.table

/** Round-6 analytics operators: marketing attribution, weighted
  * median + exact quantiles (via [[SpineRank.exactQuantiles]]),
  * statistical anomaly flags, linear gap interpolation (keyed and
  * oracle'd forms), point-in-time (bitemporal) dimension lookup,
  * event-path mining, Markov transitions, per-user EWMA, activation
  * latency, RFM segmentation, and tie-aware group top-k.
  *
  * Contract as everywhere else: every key here is oracle'd against
  * DuckDB with identical column names and a total ORDER BY, and every
  * number that crosses an aggregation or rounding boundary uses an
  * engine-exact discipline — decimal sums (graft.Determinism),
  * integer div (ppm, epoch diffs), floor quantization, or
  * order-pinned IEEE folds — so neither association order nor a
  * rounding mode can move a bit.
  */
object Analytics {

  import Relational.Q

  // -------------------------------------------- last-touch attribution

  /** Last-touch marketing attribution: each purchase is credited to
    * the user's most recent click at-or-before it, provided the click
    * is within a 7-day lookback. The classic formulation is a
    * correlated "latest row before" subquery — quadratic per user.
    * Here it is ONE pass: union the two event kinds on the user
    * timeline and carry the last click forward with an
    * ignore-nulls window, so each purchase reads its answer from the
    * running state. Same shape as [[Relational.joinAsof]] — at 100 TB
    * this shuffles each side once on user_id and never forms a
    * click×purchase pair set.
    *
    * Tie order is pinned: at an equal timestamp a click sorts before a
    * purchase (kind 0 < 1), so a same-instant click is attributable;
    * event_id breaks any remaining tie deterministically.
    */
  val eventsAttribution: Q = (s, dir) => {
    val e = table(s, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("ts"), col("event_id"),
        when(col("event_type") === "purchase", 1).otherwise(0).as("kind"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("kind"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("click_id",
        last(when(col("kind") === 0, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("click_ts",
        last(when(col("kind") === 0, col("ts")), ignoreNulls = true).over(w))
      .filter(col("kind") === 1 && col("click_ts").isNotNull &&
        col("click_ts") >= col("ts") - expr("INTERVAL 7 DAYS"))
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"), col("click_id"), col("click_ts"))
      .orderBy("purchase_id")
  }

  // ------------------------------------------------- weighted median

  /** Quantity-weighted median price per return flag: the smallest
    * price whose cumulative weight reaches half the group total.
    * All weights are exact decimal sums, so the pivot test (`2·cum ≥
    * tot`, which [[SpineRank.exactQuantiles]] states as `100·cum ≥
    * 50·tot`) is exact in both engines; ties share one cumulative
    * value (a tie can never straddle the pivot).
    *
    * Scale: [[SpineRank.exactQuantiles]] with weight `qty` — the
    * naive cumulative window partitioned by the group key would put
    * an ENTIRE group's rows through one task (l_returnflag has 3
    * values; at 100 TB that is three straggler tasks doing all the
    * work). Measured at sf0.1: 1.9 s vs the naive window's 1.36 s —
    * the extra phases cost ~0.5 s at toy scale and remove an unbounded
    * single-task serial pass at real scale (the same
    * in-suite-slower-by-design tradeoff as the `_lsh` pairwise keys,
    * BASELINE.md r5 row).
    */
  val aggWeightedMedian: Q = (s, dir) => {
    // narrow relation, scanned by every kernel phase
    val t = Checkpoints.pin(table(s, dir, "lineitem")
      .select(col("l_returnflag"), dec(col("l_extendedprice")).as("price"),
        dec(col("l_quantity")).as("qty")))
    SpineRank.exactQuantiles(t, Seq("l_returnflag"), "price", col("qty"), Seq(50))
      .select(col("l_returnflag"), col("qv").cast("double").as("weighted_median"))
      .orderBy("l_returnflag")
  }

  // --------------------------------------- bucketed exact quantiles

  /** Exact p25/p50/p75/p90 (type-1, "smallest value at-or-above the
    * rank") of price per return flag — WITHOUT a holistic aggregate
    * ([[Udx.aggCustomAggregator]]-style `percentile()` buffers every
    * value per group in one task's memory, which is exactly what
    * cannot happen at 100 TB): [[SpineRank.exactQuantiles]] with unit
    * weight over the whole quantile vector, so every quantile finds
    * its pivot bucket from one running count.
    */
  val aggQuantilesBucketed: Q = (s, dir) => {
    // narrow relation, scanned by every kernel phase
    val t = Checkpoints.pin(table(s, dir, "lineitem")
      .select(col("l_returnflag"), dec(col("l_extendedprice")).as("price")))
    SpineRank.exactQuantiles(t, Seq("l_returnflag"), "price", lit(1L),
        Seq(25, 50, 75, 90))
      .select(col("l_returnflag"), col("q"),
        col("qv").cast("double").as("quantile_val"))
      .orderBy("l_returnflag", "q")
  }

  /** Robust MAD outliers per event type (round 7 — the robust
    * counterpart of [[anomalyZscore]], which a single extreme value
    * can mask by inflating the stddev): flag events whose absolute
    * deviation from the type MEDIAN exceeds 3·1.4826·MAD (the
    * normal-consistency constant). Both medians are EXACT type-1
    * quantiles from [[SpineRank.exactQuantiles]] (unit weight, q 50),
    * composed twice — the deviations stay exact decimals (value is
    * 2-dec, the median is a data value, |v−med| is exact), so the
    * only IEEE arithmetic is the final threshold compare and ratio,
    * identical in both engines. mad = 0 (≥half the type tied at the
    * median) is guarded out like the zscore's degenerate std.
    *
    * Scale: two quantile passes (each the bucketed kernel) + two
    * broadcast joins of |event_type|-row relations; the wide
    * relation is only ever scanned, never windowed globally.
    */
  val eventsAnomalyMad: Q = (s, dir) => {
    // ONE checkpoint of the narrow relation; the med pass and the flag
    // pass derive from it with map-only work (projection / broadcast
    // join)
    val ev = Checkpoints.pin(table(s, dir, "events")
      .select(col("event_id"), col("event_type"), dec(col("value")).as("v")))
    // med is a |event_type|-row relation: checkpointing it is free
    // and stops every scan of `dev` from re-running the whole first
    // quantile pipeline. The mad pass materializes `dev`'s two columns
    // once — rebuilding dev per kernel scan trades one narrow
    // materialization for three more scheduled jobs, and the job
    // floor costs more (A/B'd: 4.7 s vs 2.4 s at sf0.1).
    val med = Checkpoints.pin(
      SpineRank.exactQuantiles(ev, Seq("event_type"), "v", lit(1L), Seq(50))
        .select(col("event_type"), col("qv").as("med")))
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("v") - col("med")))
    val mad = Checkpoints.pin(SpineRank.exactQuantiles(
        Checkpoints.pin(dev.select(col("event_type"), col("dev"))),
        Seq("event_type"), "dev", lit(1L), Seq(50))
      .select(col("event_type"), col("qv").as("mad")))
    dev.join(broadcast(mad), "event_type")
      .filter(col("mad") > 0 &&
        col("dev").cast("double") > lit(4.4478) * col("mad").cast("double"))
      .select(col("event_id"), col("event_type"),
        col("v").cast("double").as("value"),
        round(col("dev").cast("double") / col("mad").cast("double"), 4).as("dev_ratio"))
      .orderBy("event_id")
  }

  // ------------------------------------------------ z-score anomalies

  /** Per-event-type z-score outliers: events whose value sits more
    * than 3 sample standard deviations from the type mean. Built-in
    * `stddev_samp` sums raw doubles (association-order-dependent), so
    * the moments come from exact decimal Σv and Σv² instead —
    * value is 2-decimal (FIXTURES.md), so v² is exactly 4-decimal and
    * both sums are exact integers in scaled form; the variance,
    * threshold compare, and rounded z are then pure functions of
    * identical doubles in both engines.
    *
    * Scale: the stats relation is one partial-aggregated pass and has
    * |event_type| rows — it broadcasts; the flag pass is a second
    * scan with a map-side-only join. Two scans, zero wide shuffles.
    */
  val anomalyZscore: Q = (s, dir) => {
    val ev = table(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    val stats = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("double").as("sv"),
        sum(dec(col("value")) * dec(col("value"))).cast("double").as("sv2"))
      .withColumn("mean", col("sv") / col("n"))
      .withColumn("std",
        sqrt((col("sv2") - col("sv") * col("sv") / col("n")) / (col("n") - 1)))
      .select("event_type", "mean", "std")
    ev.join(broadcast(stats), "event_type")
      .withColumn("z", (col("value") - col("mean")) / col("std"))
      // std is NaN for a singleton type (0/0) and 0 for a constant
      // one; z = NaN in both cases, and both engines order NaN ABOVE
      // all numbers (including in `>`), so every degenerate-type
      // event would be flagged — guard with an explicit NaN check,
      // since `std > 0` alone is TRUE for NaN under that ordering
      .filter(!isnan(col("std")) && col("std") > 0 && abs(col("z")) > 3.0)
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("z"), 4).as("z"))
      .orderBy("event_id")
  }

  // --------------------------------------- linear gap interpolation

  /** Hourly per-type value series with missing hours LINEARLY
    * interpolated between the nearest observed neighbors (the
    * telemetry/sensor counterpart of [[Aggregations.timeSeriesGapFill]]'s
    * zero-fill). The spine is bounded by each type's own first/last
    * observed hour, so prev/next anchors always exist and the edge
    * cases (lead-in, tail-out) are defined away.
    *
    * Interpolation weight is a ratio of epoch-second differences
    * (exact longs → one IEEE division, identical in both engines);
    * the hourly means behind it are decimal-exact. The carry
    * windows cluster on event_type — constant cardinality HERE, but
    * the operator is keyed, so a real deployment partitions by
    * (series_id) and each window stays narrow.
    */
  val timeSeriesInterpolate: Q = (s, dir) => {
    val hourly = table(s, dir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg((sum(dec(col("value"))).cast("double") / count(lit(1))).as("v"))
    val spine = hourly.groupBy(col("event_type"))
      .agg(min(col("hr")).as("lo"), max(col("hr")).as("hi"))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR"))).as("hr"))
    val wPrev = Window.partitionBy(col("event_type")).orderBy(col("hr"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(col("event_type")).orderBy(col("hr"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    spine.join(hourly, Seq("event_type", "hr"), "left")
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(wPrev))
      .withColumn("pt",
        last(when(col("v").isNotNull, col("hr")), ignoreNulls = true).over(wPrev))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(wNext))
      .withColumn("nt",
        first(when(col("v").isNotNull, col("hr")), ignoreNulls = true).over(wNext))
      .withColumn("filled", col("v").isNull)
      // round at 9 dp, NOT at the display scale: interpolation midpoints
      // of 2-decimal means land on exact half-values at 3-5 dp, where
      // Spark's HALF_UP (decimal expansion of the double) and DuckDB's
      // float-multiply rounding disagree. Every true value here either
      // terminates well above 9 dp or repeats (non-2·5 denominator), so
      // 9 dp is never a half boundary — observed FAIL at 4 dp, green at 9.
      .withColumn("val", round(
        when(col("v").isNotNull, col("v")).otherwise(
          col("pv") + (col("nv") - col("pv")) *
            (unix_timestamp(col("hr")) - unix_timestamp(col("pt"))).cast("double") /
            (unix_timestamp(col("nt")) - unix_timestamp(col("pt"))).cast("double")), 9))
      .select(col("event_type"), col("hr"), col("val"), col("filled"))
      .orderBy("event_type", "hr")
  }

  /** Generic keyed linear interpolation — the unbounded-cardinality
    * form of [[timeSeriesInterpolate]] (whose oracle'd key runs over
    * event_type, a constant-cardinality column with a
    * calendar-bounded spine). Input: one row per OBSERVED point,
    * columns (series_id, hr timestamp, v double). Output: each
    * series' full hourly spine with gaps linearly interpolated, same
    * semantics as the key.
    *
    * Every window here partitions by series_id — at 100 TB the unit
    * of serial work is one series' spine, and series count is the
    * parallelism. One shuffle on series_id; the spine explode is
    * row-local.
    */
  def interpolateSeries(series: DataFrame): DataFrame = {
    val spine = series.groupBy(col("series_id"))
      .agg(min(col("hr")).as("lo"), max(col("hr")).as("hi"))
      .select(col("series_id"),
        explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR"))).as("hr"))
    val wPrev = Window.partitionBy(col("series_id")).orderBy(col("hr"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(col("series_id")).orderBy(col("hr"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    spine.join(series, Seq("series_id", "hr"), "left")
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(wPrev))
      .withColumn("pt",
        last(when(col("v").isNotNull, col("hr")), ignoreNulls = true).over(wPrev))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(wNext))
      .withColumn("nt",
        first(when(col("v").isNotNull, col("hr")), ignoreNulls = true).over(wNext))
      .withColumn("filled", col("v").isNull)
      .withColumn("val",
        when(col("v").isNotNull, col("v")).otherwise(
          col("pv") + (col("nv") - col("pv")) *
            (unix_timestamp(col("hr")) - unix_timestamp(col("pt"))).cast("double") /
            (unix_timestamp(col("nt")) - unix_timestamp(col("pt"))).cast("double")))
      .select(col("series_id"), col("hr"), col("val"), col("filled"))
  }

  // ------------------------------------- point-in-time (SCD2) lookup

  /** Point-in-time dimension lookup against the SCD2 history that
    * [[Curation.dimScd2History]] builds: every probe event reads the
    * version whose `[valid_from, valid_to)` interval covers its
    * timestamp. The naive formulation is an interval theta-join (the
    * oracle runs exactly that — DuckDB is fine with it at sf0.01);
    * the Spark plan is the as-of shape instead: versions and probes
    * union onto one per-user timeline and each probe reads the last
    * version at-or-before it from a carry-forward window. The carried
    * version is by construction the latest with `valid_from ≤ ts`, so
    * `ts < valid_to` holds automatically — interval semantics without
    * ever materializing intervals or pairs.
    *
    * The update stream is events with `event_id % 10 ≠ 0`; probes are
    * the held-out `% 10 = 0` slice, so both sides come from one scan.
    */
  val joinScd2Pointintime: Q = (s, dir) => {
    val ev = table(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val wv = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val vers = ev.filter(col("event_id") % 10 =!= 0)
      .withColumn("version", row_number().over(wv))
      .select(col("user_id"), col("ts"), col("event_id"), lit(0).as("kind"),
        col("version"), col("value"))
    val probes = ev.filter(col("event_id") % 10 === 0)
      .select(col("user_id"), col("ts"), col("event_id"), lit(1).as("kind"),
        lit(null).cast("int").as("version"), lit(null).cast("double").as("value"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("kind"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    vers.unionByName(probes)
      .withColumn("cur_version",
        last(when(col("kind") === 0, col("version")), ignoreNulls = true).over(w))
      .withColumn("cur_value",
        last(when(col("kind") === 0, col("value")), ignoreNulls = true).over(w))
      .filter(col("kind") === 1 && col("cur_version").isNotNull)
      .select(col("event_id").as("probe_id"), col("user_id"),
        col("ts").as("probe_ts"), col("cur_version").as("version"),
        col("cur_value").as("dim_value"))
      .orderBy("probe_id")
  }

  // ------------------------------------------------- path analysis

  /** Top-20 three-step event paths across user timelines — the
    * path-mining counterpart of [[Aggregations.eventsFunnel]] (which
    * checks ONE fixed sequence; this discovers which sequences
    * dominate). Two `lead`s over the user window build the triples in
    * one shuffle; the count is a partial-aggregated groupBy on a key
    * space bounded by |event_type|³, so the second exchange is
    * constant-size at any corpus scale. Top-20 under (count, path)
    * total order.
    */
  val eventsPathAnalysis: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    table(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("step1"))
      .withColumn("step2", lead(col("step1"), 1).over(w))
      .withColumn("step3", lead(col("step1"), 2).over(w))
      .filter(col("step3").isNotNull)
      .groupBy(col("step1"), col("step2"), col("step3"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("step1"), col("step2"), col("step3"))
      .limit(20)
  }

  // -------------------------------------------- Markov transitions

  /** First-order Markov transition table over event types: for each
    * (current → next) pair on a user timeline, the transition count
    * and probability. The probability is emitted in PARTS PER
    * MILLION as `(cnt · 10⁶) div total` — pure integer division.
    * `round(cnt/total, 6)` is a trap: totals with a large power-of-2
    * factor (e.g. 128) put `cnt/total` on an exact decimal half at
    * 6 dp for every odd cnt, where the engines' rounding modes split.
    * Integer div has no mode.
    *
    * Scale: one user-window shuffle, then a |types|²-bounded
    * aggregate; the per-row total rides a tiny window over the
    * aggregated relation, not the raw events.
    */
  val eventsMarkovTransition: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wt = Window.partitionBy(col("cur_type"))
    table(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("cur_type"))
      .withColumn("next_type", lead(col("cur_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("cur_type"), col("next_type"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("total", sum(col("cnt")).over(wt))
      .select(col("cur_type"), col("next_type"), col("cnt"),
        expr("(cnt * 1000000) div total").as("p_ppm"))
      .orderBy("cur_type", "next_type")
  }

  // ------------------------------------------------- EWMA per user

  /** Per-user exponentially weighted moving average of event values
    * (α = 0.25) — the sequential recurrence `e ← α·v + (1−α)·e` that
    * windowed sums cannot express order-safely across engines
    * (cumulative float sums associate differently under segment-tree
    * vs streaming evaluation). Instead the per-user sequence is
    * collected, totally ordered by `sort_array` on (ts, event_id,
    * value) structs, and folded left-to-right with `aggregate` —
    * DuckDB's `list_reduce` folds in the same order, so both engines
    * execute the IDENTICAL sequence of IEEE ops and the unrounded
    * doubles match bitwise.
    *
    * Scale: one shuffle on user_id; the array is bounded by a user's
    * own event count (retention-bounded in any real deployment —
    * this is the same bounded-collect posture as
    * [[Aggregations.aggCollectSorted]]), and the fold is row-local.
    */
  val winEwmaUser: Q = (s, dir) => {
    table(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(
        struct(col("ts"), col("event_id"), col("value")))).as("seq"))
      .select(col("user_id"), size(col("seq")).as("n_events"),
        aggregate(
          slice(col("seq"), lit(2), size(col("seq"))),
          element_at(col("seq"), 1).getField("value"),
          (e, s2) => lit(0.25) * s2.getField("value") + lit(0.75) * e).as("ewma"))
      .orderBy("user_id")
  }

  /** Signup → first-purchase conversion latency per user — the
    * activation-funnel metric. Each side is one filtered partial
    * aggregation; the purchase side joins the (small) signup relation
    * on user_id and keeps only purchases at-or-after the signup, so
    * no event-pair set ever forms. The latency is an exact integer
    * difference of epoch seconds (`unix_timestamp` truncates to
    * seconds identically in both engines).
    */
  val eventsTimeToConvert: Q = (s, dir) => {
    val ev = table(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_type"))
    val signups = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("signup_ts"))
    ev.filter(col("event_type") === "purchase")
      .join(signups, "user_id")
      .filter(col("ts") >= col("signup_ts"))
      .groupBy(col("user_id"), col("signup_ts"))
      .agg(min(col("ts")).as("first_purchase_ts"))
      .select(col("user_id"), col("signup_ts"), col("first_purchase_ts"),
        (unix_timestamp(col("first_purchase_ts")) -
          unix_timestamp(col("signup_ts"))).as("secs_to_convert"))
      .orderBy("user_id")
  }

  /** RFM (recency / frequency / monetary) segmentation per purchasing
    * user, with quintile scores — the standard marketing-analytics
    * segmentation. Recency is an exact integer day difference from
    * the corpus's own max purchase date (no wall clock — results are
    * a pure function of the data); monetary is a decimal-exact sum;
    * quintiles reproduce `ntile(5)` under a TOTAL order
    * (metric, user_id) so tie placement is pinned in both engines.
    *
    * Scale: NO global ntile window (a `Window.orderBy` with no
    * partition sorts the whole population in one task — the one
    * scale-killer flagged in round 6). Because user_id makes each
    * order tie-free, ntile(5) is a pure function of the four
    * boundary-rank keys: row quintile = 1 + #{boundaries with key
    * strictly below the row's key}, where boundary b sits at rank
    * b·⌊N/5⌋ + min(b, N mod 5) — ntile's exact cumulative bucket
    * size. The boundaries come from the same bucketed-pivot rank
    * shape as [[aggQuantilesBucketed]]: per-(metric, value-bucket)
    * counts (map-side combined, bucket count bounded by the value
    * span, not the row count), a running sum over that tiny bucket
    * relation partitioned by metric tag, and an exact in-bucket scan
    * of pivot buckets only. Descending metrics are negated so one
    * ascending shape serves all three. Assignment is then a
    * broadcast of twelve boundary keys and a map-side array scan —
    * the wide per-user relation is never globally sorted.
    */
  val eventsRfm: Q = (s, dir) => {
    val p = table(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
    val perUser = p.groupBy(col("user_id"))
      .agg(max(col("ts")).as("last_ts"), count(lit(1)).as("freq"),
        sum(dec(col("value"))).cast("double").as("monetary"))
    val maxd = p.agg(max(col("ts")).as("corpus_max")).select(to_date(col("corpus_max")).as("corpus_max"))
    // narrow per-user relation, scanned by the boundary phases AND the final assignment
    val base = Checkpoints.pin(perUser.crossJoin(broadcast(maxd))
      .select(col("user_id"),
        datediff(col("corpus_max"), to_date(col("last_ts"))).as("r_days"),
        col("freq"), col("monetary")))
    // asc-aligned order keys; desc metrics negate so bucket order is
    // uniform, and floor() gives per-value buckets for the integer
    // metrics and unit-width range buckets for monetary
    val keyed = base.select(lit("r").as("tag"),
        col("r_days").cast("double").as("ord"), col("user_id"))
      .unionAll(base.select(lit("f").as("tag"),
        (-col("freq")).cast("double").as("ord"), col("user_id")))
      .unionAll(base.select(lit("m").as("tag"),
        (-col("monetary")).as("ord"), col("user_id")))
      .withColumn("bucket", floor(col("ord")).cast("long"))
    val parts = keyed.groupBy(col("tag"), col("bucket")).agg(count(lit(1)).as("bn"))
    val wRun = Window.partitionBy(col("tag")).orderBy(col("bucket"))
    val wTot = Window.partitionBy(col("tag"))
    val ranked = parts
      .withColumn("cumb", sum(col("bn")).over(wRun))
      .withColumn("tot", sum(col("bn")).over(wTot))
    // boundary b's global rank = ntile's cumulative size of buckets
    // 1..b; its pivot bucket is the first with cumb reaching it
    val wB = Window.partitionBy(col("tag"), col("b")).orderBy(col("bucket"))
    val pivots = ranked
      .select(col("tag"), col("bucket"), col("bn"), col("cumb"), col("tot"),
        explode(array((1 to 4).map(lit): _*)).as("b"))
      .withColumn("brank",
        col("b") * floor(col("tot") / 5).cast("long") +
          least(col("b").cast("long"), col("tot") % 5))
      .filter(col("brank") >= 1 && col("cumb") >= col("brank"))
      .withColumn("rn", row_number().over(wB))
      .filter(col("rn") === 1)
      .select(col("tag"), col("b"), col("bucket").as("pbucket"),
        (col("cumb") - col("bn")).as("off"), col("brank"))
    // exact scan of pivot buckets only: the in-bucket window is
    // bounded by the bucket's value width, never the population
    val wIn = Window.partitionBy(col("tag"), col("b")).orderBy(col("ord"), col("user_id"))
    val bounds = keyed.join(broadcast(pivots), Seq("tag"))
      .filter(col("bucket") === col("pbucket"))
      .withColumn("grn", col("off") + row_number().over(wIn))
      .filter(col("grn") === col("brank"))
      .select(col("tag"), col("ord").as("bord"), col("user_id").as("buid"))
    // ≤4 boundary keys per metric folded into one broadcastable row
    val bArr = bounds
      .groupBy(col("tag"))
      .agg(sort_array(collect_list(struct(col("bord"), col("buid")))).as("arr"))
      .groupBy()
      .agg(
        first(when(col("tag") === "r", col("arr")), ignoreNulls = true).as("rb"),
        first(when(col("tag") === "f", col("arr")), ignoreNulls = true).as("fb"),
        first(when(col("tag") === "m", col("arr")), ignoreNulls = true).as("mb"))
    def quint(arr: Column, ord: Column): Column =
      lit(1) + size(filter(arr, x =>
        (ord > x.getField("bord")) ||
          (ord === x.getField("bord") && col("user_id") > x.getField("buid"))))
    base.crossJoin(broadcast(bArr))
      .select(col("user_id"), col("r_days"), col("freq"), col("monetary"),
        quint(col("rb"), col("r_days").cast("double")).as("r_quintile"),
        quint(col("fb"), (-col("freq")).cast("double")).as("f_quintile"),
        quint(col("mb"), -col("monetary")).as("m_quintile"))
      .orderBy("user_id")
  }

  /** Per-group top prices WITH ties — `rank() ≤ k` rather than
    * `row_number() ≤ k`: every row tied with the k-th survives, which
    * is what "top 3 prices" actually means when duplicates exist.
    * Catalyst pushes a WindowGroupLimit below the shuffle for rank
    * exactly as for row_number (asserted in PlanSpec), so the
    * map-side prune survives the semantic upgrade.
    */
  val winTopkWithTies: Q = (s, dir) => {
    val w = Window.partitionBy(col("l_returnflag")).orderBy(col("price").desc)
    table(s, dir, "lineitem")
      .select(col("l_returnflag"), dec(col("l_extendedprice")).as("price"))
      .withColumn("rnk", rank().over(w))
      .filter(col("rnk") <= 3)
      .select(col("l_returnflag"), col("rnk"), col("price").cast("double").as("price"))
      .orderBy("l_returnflag", "rnk", "price")
  }

  /** Event-sequence pattern matching (MATCH_RECOGNIZE-lite, the
    * Flink-CEP / Trino MATCH_RECOGNIZE surface expressed as window
    * leads): find every CONSECUTIVE view → click → purchase run in a
    * user's time-ordered stream and emit the match with its span.
    * A fixed consecutive pattern compiles to `lead(event_type, i)`
    * comparisons — one window shuffle on user_id, no joins, no state
    * machine; patterns with gaps ("view then LATER purchase") are the
    * funnel family ([[graft.ops.Aggregations]]); this key is the
    * strict-adjacency complement.
    *
    * Scale: one partitioned window (user_id, ordered by the unique
    * (ts, event_id)), row-local predicates after it — the plan is a
    * single exchange at any corpus size, and the match predicate is
    * codegen'd (no UDF). (user_id, ts) is unique in this corpus, the
    * event_id tiebreak makes the order total regardless.
    */
  val eventsPatternMatch: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    table(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .withColumn("end_ts", lead(col("ts"), 2).over(w))
      .filter(col("event_type") === "view" && col("e2") === "click" &&
        col("e3") === "purchase")
      .select(col("user_id"), col("event_id").as("start_event_id"),
        col("ts").as("start_ts"), col("end_ts"))
      .orderBy(col("user_id"), col("start_event_id"))
  }

  /** Market-basket pair mining over order baskets (the retail
    * co-occurrence classic): for every part pair bought together in
    * ≥ 3 orders, support count and LIFT =
    * P(a,b) / (P(a)·P(b)) = pair_cnt·n_orders / (cnt_a·cnt_b),
    * top-20 by (lift, a, b). All inputs are exact integers (products
    * ≤ 2⁵³ by corpus arithmetic), lift is one correctly-rounded IEEE
    * division — identical both engines, total order ⇒ deterministic
    * limit.
    *
    * Scale: pair generation is the basket self-join on l_orderkey —
    * one co-keyed exchange, Σ basket² with baskets ≤ 7 lines, so the
    * blowup is a small constant × |lineitem| (nothing like the
    * unconstrained wedge join the jaccard A/B rejected); the ≥ 3
    * support filter cuts the near-unique pair tail before the
    * degree/scalar attaches (broadcast; n_orders rides as a
    * broadcast scalar like the rfm corpus-max pattern); top-20 is a
    * partial TakeOrdered. Round 19 (guide §2.4, the association-rules
    * treatment): the deduped basket repartitions on okey and
    * MATERIALIZES once — before, its four consumers (two self-join
    * sides, supp, n_orders) re-derived it from lineitem per reference;
    * the checkpoint's okey clustering serves the distinct and the
    * self-join exchange-free, and supp/n_orders read |basket| rows
    * instead of re-scanning lineitem.
    */
  val ordersMarketBasket: Q = (s, dir) => {
    val basket = Checkpoints.pin(table(s, dir, "lineitem")
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("item"))
      .repartition(col("okey"))
      .distinct())
    val nOrders = basket.select(countDistinct(col("okey")).as("n_orders"))
    val supp = basket.groupBy(col("item")).agg(count(lit(1)).as("cnt"))
    basket.select(col("okey"), col("item").as("a"))
      .join(basket.select(col("okey"), col("item").as("b")), Seq("okey"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("pair_cnt"))
      .filter(col("pair_cnt") >= 3)
      .join(broadcast(supp.select(col("item").as("a"), col("cnt").as("cnt_a"))), Seq("a"))
      .join(broadcast(supp.select(col("item").as("b"), col("cnt").as("cnt_b"))), Seq("b"))
      .crossJoin(broadcast(nOrders))
      .withColumn("lift", (col("pair_cnt") * col("n_orders")).cast("double") /
        (col("cnt_a") * col("cnt_b")))
      .select(col("a"), col("b"), col("pair_cnt"), col("lift"))
      .orderBy(col("lift").desc, col("a"), col("b"))
      .limit(20)
  }

  /** Association rules at the BRAND level — the classic
    * support / confidence / lift table over co-purchased part brands
    * ([[ordersMarketBasket]] ranks raw partkey pairs by lift; this key
    * emits the full RULE table a recommender or assortment planner
    * consumes, at catalog-attribute granularity where counts are dense
    * enough for the ratios to mean something).
    *
    * All ratios are INTEGER ppm at documented truncation points
    * (support = pair·10⁶ div n, confidence a→b = pair·10⁶ div cnt_a,
    * both directions) so the oracle hash-matches exactly. Lift is the
    * one double — computed as CAST(pair AS DOUBLE)·n ÷ cnt_a ÷ cnt_b
    * in that exact operation order in both engines (each step is a
    * single correctly-rounded IEEE op, so the bits agree), and
    * deliberately NOT as an int64 product first: pair·n overflows
    * 64-bit long before 10¹⁰ baskets, the double form never does.
    *
    * Scale: the brand dim broadcasts into the lineitem scan; the
    * basket relation repartitions by orderkey once, that clustering
    * serves the distinct and both sides of the self-join, and — round
    * 19 (r18 verdict item 1, guide §2.4) — the deduped basket is
    * MATERIALIZED once (`localCheckpoint`): before, the plan derived
    * it four times (two self-join sides + two supp branches — 5
    * lineitem scans total), with runtime ReuseExchange recovering only
    * the self-join side and the supp re-shuffle documented as the
    * suite's one accepted-cost exchange. The checkpoint serves all
    * four consumers (lineitem scans 5 → 1 in the returned plan, okey
    * exchanges 2+reuse → 0 — the LogicalRDD carries the okey
    * clustering), which at 100 TB is the difference between one
    * basket build and two. The per-order pair fan-out stays bounded
    * (≤ C(|brands|,2) per order); n_baskets counts distinct orderkeys
    * straight off lineitem — no join, partial dedup per partition.
    */
  val ordersAssociationRules: Q = (s, dir) => {
    val MinSupportPpm = 1000L // rules below 0.1% support are noise
    val basket = Checkpoints.pin(table(s, dir, "lineitem")
      .select(col("l_orderkey").as("okey"), col("l_partkey"))
      .join(broadcast(table(s, dir, "part")
        .select(col("p_partkey"), col("p_brand").as("brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("okey"), col("brand"))
      .repartition(col("okey"))
      .distinct())
    // basket count straight off lineitem: every line has a brand (FK),
    // so distinct orderkeys of lineitem = distinct baskets — no join,
    // no (okey,brand) distinct, just a partial-deduped count
    val n = table(s, dir, "lineitem")
      .agg(countDistinct(col("l_orderkey")).as("n_baskets"))
    val supp = basket.groupBy(col("brand")).agg(count(lit(1)).as("cnt"))
    basket.select(col("okey"), col("brand").as("a"))
      .join(basket.select(col("okey"), col("brand").as("b")), Seq("okey"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("pair_cnt"))
      .join(broadcast(supp.select(col("brand").as("a"), col("cnt").as("cnt_a"))), Seq("a"))
      .join(broadcast(supp.select(col("brand").as("b"), col("cnt").as("cnt_b"))), Seq("b"))
      .crossJoin(broadcast(n))
      .withColumn("support_ppm", expr("pair_cnt * 1000000 div n_baskets"))
      .filter(col("support_ppm") >= MinSupportPpm)
      .withColumn("conf_ab_ppm", expr("pair_cnt * 1000000 div cnt_a"))
      .withColumn("conf_ba_ppm", expr("pair_cnt * 1000000 div cnt_b"))
      .withColumn("lift", col("pair_cnt").cast("double") * col("n_baskets")
        / col("cnt_a") / col("cnt_b"))
      .select(col("a"), col("b"), col("pair_cnt"), col("cnt_a"), col("cnt_b"),
        col("support_ppm"), col("conf_ab_ppm"), col("conf_ba_ppm"), col("lift"))
      .orderBy(col("a"), col("b"))
  }

  /** Lag-k autocorrelation of the daily event-count series per event
    * type (k ∈ {1, 2, 3, 7}) — the seasonality detector: r₇ ≈ 1 means
    * weekly periodicity, r₁ near 0 means white noise. The number a
    * forecasting/anomaly pipeline inspects before choosing its model.
    *
    * Engine-exact discipline: the series is integer COUNTS, the six
    * sufficient statistics (n', Σx, Σy, Σxy, Σx², Σy² over the lag-k
    * aligned pairs) are exact int64 sums, and the Pearson finish is a
    * pinned IEEE op sequence — num = DOUBLE(n'·Σxy − Σx·Σy), den =
    * sqrt(DOUBLE(n'·Σx²−Σx²)) · sqrt(DOUBLE(n'·Σy²−Σy²)), r = num/den
    * (sqrt, ·, / are each correctly rounded, so both engines emit
    * identical bits; the two sqrts multiply BEFORE dividing — an int64
    * product of the variance terms would overflow first). Degenerate
    * zero-variance slices are filtered in both engines (the r9
    * zipf-slope lesson: 0/0 is NaN in Spark but version-dependent in
    * DuckDB). Overflow headroom: n'·Σxy < 2⁶³ up to ~3·10⁹ events per
    * (type, day) at 10³ days; beyond, widen the products to
    * DECIMAL(38,0) — same plan shape.
    *
    * Scale: one map-side-combined (type, day) count, one lag window
    * over the |types|·|days| DAILY relation (tiny — the raw stream
    * never enters a window), a 4-arm stack, and one more combined
    * aggregate. The zipf parallelism caveat applies to the window's
    * 5-value key, but on the daily rollup it is irrelevant at any
    * scale.
    *
    * GAPLESS-SERIES ASSUMPTION (r11 advice): `lead(cnt, k)` pairs by
    * ROW position in day order, i.e. lag-k means "k OBSERVED days
    * later" — on a series with calendar gaps the pairs misalign and
    * the r₇-weekly reading weakens (contrast [[graft.ops.Insights]]'
    * events_burst_days, which uses a calendar RANGE frame for exactly
    * this reason). The events corpus is day-dense per type, and the
    * oracle replays the SAME row-lag semantics, so cross-engine
    * equality is unaffected; for gappy series, join on day = day + k
    * (calendar lag) in both engines instead.
    */
  val timeSeriesAutocorr: Q = (s, dir) => {
    val daily = table(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val lags = Seq(1, 2, 3, 7)
    val wide = lags.foldLeft(daily) { (df, k) =>
      df.withColumn(s"y$k", lead(col("cnt"), k).over(w))
    }
    val arms = lags.map(k => s"${k}L, y$k").mkString(", ")
    wide
      .select(col("event_type"), col("cnt"),
        expr(s"stack(${lags.size}, $arms) as (k, y)"))
      .filter(col("y").isNotNull)
      .groupBy(col("event_type"), col("k"))
      .agg(count(lit(1)).as("n"),
        sum(col("cnt")).as("sx"), sum(col("y")).as("sy"),
        sum(col("cnt") * col("y")).as("sxy"),
        sum(col("cnt") * col("cnt")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .withColumn("vx", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("vy", col("n") * col("syy") - col("sy") * col("sy"))
      .filter(col("vx") > 0 && col("vy") > 0)
      .withColumn("autocorr",
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (sqrt(col("vx").cast("double")) * sqrt(col("vy").cast("double"))))
      .select(col("event_type"), col("k"), col("n"), col("autocorr"))
      .orderBy(col("event_type"), col("k"))
  }

  /** Hour-of-week activity profile per event type — the seasonality
    * BASELINE behind [[timeSeriesAutocorr]]'s detector: 7×24 cells of
    * (count, ppm share of the type's total), the relation an anomaly
    * monitor compares live traffic against and a capacity planner
    * reads peak/trough ratios from.
    *
    * Day-of-week is computed as (epoch_day + 4) mod 7 (0 = Sunday;
    * 1970-01-01 was a Thursday) — pure integer arithmetic instead of
    * the engines' dayofweek() builtins, whose 0-vs-1 base differs
    * across engines and locales. Hours are UTC in both engines
    * (session-pinned). Shares are integer ppm.
    *
    * Scale: one map-side-combined aggregate to ≤ |types|·168 rows;
    * the share window runs on that tiny relation, never the stream.
    */
  val eventsSeasonalityHourly: Q = (s, dir) => {
    val agg = table(s, dir, "events")
      .select(col("event_type"),
        ((unix_date(to_date(col("ts"))) + 4) % 7).cast("long").as("dow"),
        hour(col("ts")).cast("long").as("hr"))
      .groupBy(col("event_type"), col("dow"), col("hr"))
      .agg(count(lit(1)).as("cnt"))
    agg
      .withColumn("type_total",
        sum(col("cnt")).over(Window.partitionBy(col("event_type"))))
      .withColumn("share_ppm", expr("cnt * 1000000 div type_total"))
      .select(col("event_type"), col("dow"), col("hr"), col("cnt"), col("share_ppm"))
      .orderBy(col("event_type"), col("dow"), col("hr"))
  }

  /** Classical additive seasonal decomposition CELLS per event type —
    * trend / seasonal / residual over the daily series, every
    * component an EXACT integer rational (the engine never divides):
    *
    *   trend(d)    = tsum/7          (centered 7-day calendar sum;
    *                                  interior days only — frame must
    *                                  hold exactly 7 observed days)
    *   seasonal(w) = S_w/(7·n_w)     (S_w = Σ over dow-group of
    *                                  7c − tsum; n_w = group size)
    *   residual(d) = r_num/(7·n_w),  r_num = n_w·(7c − tsum) − S_w
    *
    * Emitted per interior (type, day): cnt, tsum, dow, s_num = S_w,
    * n_dow = n_w, r_num — denominators reconstruct as 7 and 7·n_w;
    * the decomposition identity c = tsum/7 + S_w/(7n_w) + r_num/(7n_w)
    * holds EXACTLY in rationals (spec replays it over a common
    * denominator, and Σ r_num within each dow-group is provably 0 —
    * both asserted). The trend window is a calendar RANGE frame
    * (±3 days on epoch_day — the `events_burst_days` gap discipline:
    * missing days shrink the frame and the interior filter drops the
    * day rather than silently stretching the window).
    *
    * Scale: raw stream → |types|·|days| rollup (one map-side agg);
    * the RANGE window partitioned by type; the dow rollup
    * |types|·7 cells map-side; everything downstream of the first
    * agg is calendar-bounded.
    */
  val timeSeriesStlCells: Q = (s, dir) => {
    val daily = EventsBase.dailyCounts(s, dir)
    val wTrend = Window.partitionBy(col("event_type")).orderBy(col("epoch_day"))
      .rangeBetween(-3, 3)
    val interior = daily
      .withColumn("tsum", sum(col("cnt")).over(wTrend))
      .withColumn("fdays", count(lit(1)).over(wTrend))
      .filter(col("fdays") === 7)
      .withColumn("dow", pmod(col("epoch_day"), lit(7L)))
      .withColumn("det7", lit(7) * col("cnt") - col("tsum"))
    val seasonal = interior.groupBy(col("event_type"), col("dow"))
      .agg(sum(col("det7")).as("s_num"), count(lit(1)).as("n_dow"))
    interior.join(seasonal, Seq("event_type", "dow"))
      .select(col("event_type"), col("epoch_day"), col("cnt"), col("tsum"),
        col("dow"), col("s_num"), col("n_dow"),
        (col("n_dow") * col("det7") - col("s_num")).as("r_num"))
      .orderBy("event_type", "epoch_day")
  }

  /** Seasonal-adjusted anomaly days per event type — the composition
    * that completes the anomaly family (z-score and MAD flag raw
    * outliers; burst flags level shifts vs a trailing window; CUSUM
    * flags rate changes; THIS flags days that are anomalous AFTER
    * trend and day-of-week are removed — the Monday-is-always-big
    * false positive the raw detectors can't avoid): a day is
    * anomalous when its [[timeSeriesStlCells]] residual exceeds
    * 5× the type's residual MAD.
    *
    * EXACT where it decides: residuals are the rationals
    * r_num/(7·n_dow) and dow-group sizes DIFFER (24 interior days
    * over 7 dows → sizes 3 and 4), so |r| values are ranked by the
    * deterministic-IEEE double |r_num|/n_dow with an integer
    * tiebreak (the Theil–Sen sort-key discipline — collisions in
    * double fall to the tiebreak identically in both engines), the
    * median row's EXACT rational (mad_num, mad_den) is carried, and
    * the anomaly gate is the pure-integer cross-multiplication
    * |r_num|·mad_den > 5·mad_num·n_dow (the 7s cancel). Output keeps
    * every interior (type, day) with its flag — the monitor
    * relation, not just hits (the burst-key discipline).
    *
    * Scale: everything downstream of the |types|·|days| rollup; the
    * MAD rank window is per type over ≤|days| rows.
    */
  val eventsAnomalyStl: Q = (s, dir) => {
    val cells = timeSeriesStlCells(s, dir)
      .select(col("event_type"), col("epoch_day"), col("cnt"),
        col("r_num"), col("n_dow"))
    val wRank = Window.partitionBy(col("event_type"))
      .orderBy((abs(col("r_num")).cast("double") / col("n_dow").cast("double")).asc,
        col("epoch_day"))
    val wN = Window.partitionBy(col("event_type"))
    val mad = cells
      .withColumn("rn", row_number().over(wRank).cast("long"))
      .withColumn("n", count(lit(1)).over(wN))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("event_type"), abs(col("r_num")).as("mad_num"),
        col("n_dow").as("mad_den"))
    cells.join(broadcast(mad), "event_type")
      .select(col("event_type"), col("epoch_day"), col("cnt"), col("r_num"),
        col("n_dow"), col("mad_num"), col("mad_den"),
        when(abs(col("r_num")) * col("mad_den") >
          lit(5) * col("mad_num") * col("n_dow"), 1L).otherwise(0L)
          .as("is_anomaly"))
      .orderBy("event_type", "epoch_day")
  }

  /** Trailing 7-day ROLLING MEDIAN of the daily count per event type —
    * the robust smoother beside the mean-based trailing baselines
    * (`events_burst_days` averages the trailing week, so one spike
    * day poisons the next week's baseline; the median shrugs it
    * off). Median is not frame-decomposable, but the frame is
    * CALENDAR-BOUNDED (≤7 values), so the exact form is the sorted
    * in-frame list indexed at the lower median — element_at(
    * sort_array(collect_list(cnt) over frame), (n+1) div 2) — pure
    * integers, deterministic in both engines regardless of frame
    * arrival order. Calendar RANGE frame (gaps SHRINK the frame —
    * the burst-key discipline), n carried as the audit cell.
    *
    * Scale: the list state is bounded by the FRAME (7), not data —
    * this is exactly when collect_list-over-window is legitimate;
    * the window partitions by type over the |types|·|days| rollup.
    */
  val timeSeriesRollingMedian: Q = (s, dir) => {
    val daily = EventsBase.dailyCounts(s, dir)
    val w = Window.partitionBy(col("event_type")).orderBy(col("epoch_day"))
      .rangeBetween(-6, 0)
    daily
      .withColumn("frame", sort_array(collect_list(col("cnt")).over(w)))
      .withColumn("n_frame", size(col("frame")).cast("long"))
      .select(col("event_type"), col("epoch_day"), col("cnt"), col("n_frame"),
        element_at(col("frame"), expr("CAST((n_frame + 1) div 2 AS INT)")).as("med7"))
      .orderBy("event_type", "epoch_day")
  }

  val queries: Map[String, Q] = Map(
    "time_series_rolling_median" -> timeSeriesRollingMedian,
    "events_anomaly_stl" -> eventsAnomalyStl,
    "time_series_stl_cells" -> timeSeriesStlCells,
    "orders_market_basket" -> ordersMarketBasket,
    "orders_association_rules" -> ordersAssociationRules,
    "time_series_autocorr" -> timeSeriesAutocorr,
    "events_seasonality_hourly" -> eventsSeasonalityHourly,
    "events_pattern_match" -> eventsPatternMatch,
    "events_attribution" -> eventsAttribution,
    "agg_weighted_median" -> aggWeightedMedian,
    "anomaly_zscore" -> anomalyZscore,
    "anomaly_mad" -> eventsAnomalyMad,
    "time_series_interpolate" -> timeSeriesInterpolate,
    "join_scd2_pointintime" -> joinScd2Pointintime,
    "events_path_analysis" -> eventsPathAnalysis,
    "events_markov_transition" -> eventsMarkovTransition,
    "win_ewma_user" -> winEwmaUser,
    "agg_quantiles_bucketed" -> aggQuantilesBucketed,
    "events_time_to_convert" -> eventsTimeToConvert,
    "events_rfm" -> eventsRfm,
    "win_topk_with_ties" -> winTopkWithTies,
  )
}
