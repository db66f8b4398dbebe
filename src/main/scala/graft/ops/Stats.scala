package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Determinism.{Money, dec}
import graft.io.Readers.table

/** Catalog statistics (round 6): the ANALYZE-style per-column profile
  * a planner feeds on — row count, null count, distinct count, min and
  * max per column, one output row per column.
  *
  * Why it's first-class at 100 TB: broadcast decisions, bucket counts,
  * skew salting factors and file-compaction targets all start from
  * exactly these numbers (the repo's own `joinBloomSemi` doc comment
  * defers its sizing count "to table stats" — this is that table).
  *
  * Scale shape: ONE pass over the table; every statistic is an
  * algebraic aggregate with map-side partials except the exact
  * distinct counts, which Catalyst plans as a single Expand (one row
  * per column per input row) feeding one hash aggregate — linear, no
  * joins, no per-column re-scans. At warehouse scale you'd swap the
  * exact NDVs for `approx_count_distinct` (the HLL variant is
  * demonstrated by `agg_approx_distinct`); the oracle'd key keeps them
  * exact so the result is hash-checkable.
  */
object Stats {

  import Relational.Q

  /** Per-column (non-null count, exact NDV, min, max) in TWO
    * aggregation passes whose single-row results cross-join: one for
    * the algebraic aggregates (count/min/max), one for the exact
    * NDVs. Mixing them in a single `agg` is a measured trap — Catalyst
    * plans N distincts + algebraic aggs together as one Expand whose
    * generated aggregate is big enough to fall out of efficient
    * codegen: 5.9 s warm / 17 s cold at sf0.1, vs 0.3 s for EACH half
    * run separately (A/B of 2026-08-12). Two cheap scans
    * beat one pathological one; the cross join is 1×1 rows.
    *
    * Min/max aggregate on the NATIVE type (string-casting first would
    * order "9" > "10") and render to string only in the final
    * projection.
    */
  def columnStats(df: DataFrame, cols: Seq[(String, Column)]): DataFrame = {
    val algebraic = cols.flatMap { case (n, c) =>
      Seq(count(c).as(s"cnt_$n"), min(c).as(s"min_$n"), max(c).as(s"max_$n"))
    }
    val one = df.agg(count(lit(1)).as("n_rows"), algebraic: _*)
    val ndvs = df.agg(
      countDistinct(cols.head._2).as(s"ndv_${cols.head._1}"),
      cols.tail.map { case (n, c) => countDistinct(c).as(s"ndv_$n") }: _*)
    // stack() fans the single joined row out to one row per column —
    // each aggregate still runs exactly once
    val arms = cols.map { case (n, _) =>
      s"'$n', n_rows, cnt_$n, ndv_$n, cast(min_$n as string), cast(max_$n as string)"
    }
    one.crossJoin(ndvs).select(expr(
      s"stack(${cols.size}, ${arms.mkString(", ")}) as " +
        "(column_name, n_rows, n_nonnull, n_distinct, min_val, max_val)"))
      .orderBy("column_name")
  }

  /** The oracle'd key: a six-column profile of `orders`. Doubles go
    * through the Money decimal so min/max render identically in both
    * engines; timestamps render as DATE (SURVEY §7.4 discipline).
    */
  val catalogColumnStats: Q = (s, dir) =>
    columnStats(table(s, dir, "orders"), Seq(
      ("o_orderkey", col("o_orderkey")),
      ("o_custkey", col("o_custkey")),
      ("o_orderstatus", col("o_orderstatus")),
      ("o_orderpriority", col("o_orderpriority")),
      ("o_totalprice", col("o_totalprice").cast(Money)),
      ("o_orderdate", col("o_orderdate").cast("date"))))

  /** Per-group OLS regression (slope + intercept of
    * l_extendedprice ~ l_quantity per return flag) with the
    * decimal-exact-sums discipline that makes a FLOAT statistic
    * oracle-able: `covar_samp`/`regr_slope` accumulate doubles in
    * partition order (never cross-engine stable), so instead the
    * FIVE base aggregates (n, Σx, Σy, Σxy, Σx²) are exact decimal
    * sums — x at scale 0 (quantities are integral), y at scale 2,
    * so every scaled-int sum stays below 2⁵³ at bench SF and the
    * DECIMAL→DOUBLE casts are exactly rounded — and the closed-form
    *   slope = (n·Σxy − Σx·Σy) / (n·Σx² − Σx²ᵗᵒᵗ)
    * is evaluated in IEEE doubles with the IDENTICAL expression tree
    * in both engines: correctly-rounded ops on identical operands are
    * bit-identical, no libm involved.
    *
    * Scale: one pass, all five aggregates algebraic with map-side
    * partials — the textbook two-phase agg; at 100 TB group sums
    * approach 2⁵³ and the decimal sums stay EXACT (38 digits), only
    * the final double cast would need widening to int128-safe
    * rationals — noted, not needed at any tested SF.
    */
  val statLinregGroup: Q = (s, dir) => {
    val xd = col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 0))
    val yd = col("l_extendedprice").cast(Money)
    table(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(xd).cast("double").as("sx"),
        sum(yd).cast("double").as("sy"),
        sum(xd * yd).cast("double").as("sxy"),
        sum(xd * xd).cast("double").as("sxx"))
      .withColumn("slope",
        (col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")))
      .withColumn("intercept", (col("sy") - col("slope") * col("sx")) / col("n"))
      .select(col("l_returnflag"), col("n"), col("slope"), col("intercept"))
      .orderBy("l_returnflag")
  }

  /** Per-group WINSORIZED mean — the robust-statistics companion to
    * `anomaly_mad`/`anomaly_zscore`: clip account balances to the
    * [p5, p95] order statistics of their market segment, then average.
    * The outlier-resistant central tendency a fraud/credit model
    * feeds on where a plain mean is dragged by whale accounts.
    *
    * Percentiles are NEAREST-RANK order statistics with an explicit
    * integer index — lo = value at row_number (n−1)·5 div 100 + 1
    * ordered by (bal, custkey) — not an interpolating `percentile()`
    * call, because interpolation semantics differ across engines while
    * the value AT an integer rank is engine-independent (ties don't
    * matter: whatever tiebreak order, the bal at position k is the
    * k-th order statistic). All money math on DECIMAL(18,2) with one
    * final correctly-rounded double cast (graft.Determinism).
    *
    * Scale (round 13, r12 verdict item 4 — the family archetype
    * rewritten): the order statistics come off the DISTINCT-VALUE
    * SPINE, never a raw-row rank window. One map-side-combined
    * rollup to per-(segment, bal) counts, a cumulative over the spine
    * (≤ |distinct balances| rows per segment), and the value at
    * integer rank k is the unique spine row with cum − cnt < k ≤ cum
    * (ties share a value, so the k-th order statistic is
    * tiebreak-independent by construction — the same value the old
    * (bal, custkey) row_number landed on). Bounds broadcast back
    * (≤ |segments| rows); the clamp+mean pass is algebraic with no
    * window at all. Round 16: the spine cumulative runs through
    * [[SpineRank.cumSum]]'s volume-gated dispatch — the per-segment
    * window below [[SpineRank.WindowSpineRows]] (all oracle-gate
    * corpora), the count-balanced bucketed two-level form above it
    * (exact either way), so even an unbounded value domain no longer
    * caps parallelism at |segments|. The KLL form
    * ([[SketchVariants.winsorizeSketch]]) remains the certified
    * approximate path where even the bucketed spine is too wide.
    */
  val statWinsorize: Q = (s, dir) => {
    val c = table(s, dir, "customer")
      .select(col("c_mktsegment").as("segment"), dec(col("c_acctbal")).as("bal"))
    val spine = SpineRank.cumSum(
      c.groupBy(col("segment"), col("bal")).agg(count(lit(1)).as("cnt")),
      Seq("segment"), "bal", col("cnt"), "cum", withTotals = true)
      .withColumnRenamed("cum_tot", "n")
    val bounds = spine.groupBy(col("segment")).agg(
      max(col("n")).as("n"),
      max(when(expr("cum - cnt < (n - 1) * 5 div 100 + 1")
        && expr("(n - 1) * 5 div 100 + 1 <= cum"), col("bal"))).as("lo"),
      max(when(expr("cum - cnt < (n - 1) * 95 div 100 + 1")
        && expr("(n - 1) * 95 div 100 + 1 <= cum"), col("bal"))).as("hi"))
    c.join(broadcast(bounds.select(col("segment"), col("lo"), col("hi"))), "segment")
      .withColumn("clamped", greatest(col("lo"), least(col("hi"), col("bal"))))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n"),
        sum(col("clamped")).as("wsum"),
        max(col("lo")).as("lo_d"),
        max(col("hi")).as("hi_d"),
        count(when(col("bal") < col("lo"), 1)).as("n_clip_lo"),
        count(when(col("bal") > col("hi"), 1)).as("n_clip_hi"))
      .select(col("segment"), col("n"),
        col("lo_d").cast("double").as("lo"),
        col("hi_d").cast("double").as("hi"),
        (col("wsum").cast("double") / col("n")).as("winsor_mean"),
        col("n_clip_lo"), col("n_clip_hi"))
      .orderBy(col("segment"))
  }

  val queries: Map[String, Q] = Map(
    "catalog_column_stats" -> catalogColumnStats,
    "stat_linreg_group" -> statLinregGroup,
    "stat_winsorize" -> statWinsorize,
  )
}
