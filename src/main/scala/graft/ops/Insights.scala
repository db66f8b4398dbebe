package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Determinism._
import graft.io.Readers.table

/** Concentration / burst / independence profiling (round 11, second
  * session): the monitoring-and-planning relations a data platform
  * derives from the same star schema the pipelines run on — revenue
  * concentration (who funds the business), burst detection (what
  * misbehaved today), categorical independence (is a dimension
  * informative), and exact-k uniform sampling (the audit draw).
  *
  * Determinism discipline per SURVEY §7.4 throughout: money in exact
  * decimal cents, shares/rates in integer ppm, the one chi-square
  * float computed in a pinned single-expression IEEE order identical
  * in both engines.
  */
object Insights {

  import Relational.Q

  /** Revenue-concentration (Pareto/Lorenz) profile per market segment:
    * customers ranked by exact order-revenue cents within their
    * segment, split into 10 exact-rank deciles (decile 1 = top
    * spenders; `(rn-1)*10 div n + 1` — pure integer, no boundary-value
    * ambiguity), then per decile the customer count, revenue mass and
    * the CUMULATIVE top-down share in integer ppm. Decile 1's
    * cum_share_ppm is the "top-10 %-of-customers" number a revenue
    * planner quotes.
    *
    * Exactness: o_totalprice has ≤2 decimals, so per-customer revenue
    * is an exact BIGINT in cents (decimal sum × 100); every derived
    * number is integer arithmetic (cum·10⁶ div total stays under 2⁶³
    * while a segment's total revenue < ~9·10¹² dollars — beyond that,
    * widen to DECIMAL(38,0) before the ppm multiply).
    *
    * Scale: one shuffle to per-customer aggregates, then the rank
    * window runs PARTITIONED by segment (the winsorize shape). At
    * 100 TB a single segment's customer list is still huge — the
    * documented swap is KLL-sketch decile boundaries (agg_kll_quantiles
    * machinery) + a broadcast boundary join, keeping the cum rollup on
    * the 10-row-per-segment relation unchanged.
    */
  val ordersParetoShare: Q = (s, dir) => {
    val rev = table(s, dir, "orders")
      .join(broadcast(table(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("segment"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("segment"), col("o_custkey"))
      .agg((sum(dec(col("o_totalprice"))) * 100).cast("long").as("rev_cents"))
    val byDecile = rev
      .withColumn("rn", row_number().over(Window.partitionBy(col("segment"))
        .orderBy(col("rev_cents").desc, col("o_custkey"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("segment"))))
      .withColumn("decile", expr("(rn - 1) * 10 div n + 1"))
      .groupBy(col("segment"), col("decile"))
      .agg(count(lit(1)).as("n_customers"), sum(col("rev_cents")).as("rev_cents"))
    byDecile
      .withColumn("cum_cents", sum(col("rev_cents")).over(
        Window.partitionBy(col("segment")).orderBy(col("decile"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total_cents",
        sum(col("rev_cents")).over(Window.partitionBy(col("segment"))))
      .select(col("segment"), col("decile"), col("n_customers"),
        col("rev_cents"),
        expr("cum_cents * 1000000 div total_cents").as("cum_share_ppm"))
      .orderBy(col("segment"), col("decile"))
  }

  /** Daily burst detection per event type: a day is a burst when its
    * count exceeds 2× the trailing-week average — cnt·days7 > 2·prev7
    * in pure integers (avg = prev7/days7 never materializes as a
    * float), with ≥4 prior active days required so the baseline is
    * meaningful. The trailing window is a calendar RANGE frame over
    * epoch_day (7 PRECEDING .. 1 PRECEDING), not a ROWS frame — gaps
    * in the day sequence must shrink the baseline, not stretch it.
    *
    * Output keeps EVERY (type, day) row with its baseline and flag —
    * the monitor's input relation — rather than only bursts (which on
    * a uniform corpus is empty and asserts nothing).
    *
    * Scale: one map-side-combined aggregate to |types|·|days| rows;
    * the range window runs on that rollup partitioned by type, never
    * on the raw stream.
    */
  val eventsBurstDays: Q = (s, dir) => {
    val daily = EventsBase.dailyCounts(s, dir)
    val w = Window.partitionBy(col("event_type")).orderBy(col("epoch_day"))
      .rangeBetween(-7, -1)
    daily
      .withColumn("prev7", coalesce(sum(col("cnt")).over(w), lit(0L)))
      .withColumn("days7", count(lit(1)).over(w))
      .withColumn("is_burst",
        when(col("days7") >= 4 && col("cnt") * col("days7") > lit(2) * col("prev7"), 1L)
          .otherwise(0L))
      .select("event_type", "epoch_day", "cnt", "prev7", "days7", "is_burst")
      .orderBy("event_type", "epoch_day")
  }

  /** Theil–Sen robust trend per event type — the MEDIAN of all
    * pairwise slopes of the daily-count series: the slope estimator
    * that shrugs off the outlier days `events_burst_days` flags
    * (breakdown point 29 %, vs 0 for the least-squares slope
    * `stat_linreg_group` carries) — the pair answers "is usage
    * really trending or did two spike days tilt the fit?".
    *
    * Exactness discipline: slopes are rationals dy/dx of integer
    * cells; the selection ORDER is (slope_double, dy, dx, d1, d2) —
    * the double division of two exact longs is deterministic IEEE in
    * both engines, and the integer tail makes the key total (a
    * (d1, d2) pair is unique), so the lower-median ROW is
    * cross-engine identical even where two distinct rationals
    * collide in double. Emitted: the median pair's dy/dx integers
    * (the exact rational) + the double, with n_days/n_pairs audit
    * cells.
    *
    * Scale: the pair fan-out is |days|²/2 per type — bounded by the
    * CORPUS TIME SPAN, not corpus size (a decade is 6.6 M pairs per
    * type; the raw stream collapses to the |types|·|days| rollup
    * first, one map-side agg). The per-type rank window carries the
    * winsorize-family caveat; past ~10⁴ days swap in the
    * repeated-median variant or a KLL sketch over slopes
    * ([[SketchVariants]] pattern).
    */
  val eventsTheilsenTrend: Q = (s, dir) => {
    val daily = EventsBase.dailyCounts(s, dir)
    val nd = daily.groupBy(col("event_type")).agg(count(lit(1)).as("n_days"))
    val a = daily.select(col("event_type"), col("epoch_day").as("d1"), col("cnt").as("c1"))
    val b = daily.select(col("event_type"), col("epoch_day").as("d2"), col("cnt").as("c2"))
    val pairs = a.join(b, Seq("event_type"))
      .filter(col("d1") < col("d2"))
      .select(col("event_type"),
        (col("c2") - col("c1")).as("dy"),
        (col("d2") - col("d1")).as("dx"),
        col("d1"), col("d2"))
      .withColumn("slope", col("dy").cast("double") / col("dx").cast("double"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("slope"), col("dy"), col("dx"), col("d1"), col("d2"))
    pairs
      .withColumn("rn", row_number().over(w))
      .withColumn("np", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .filter(col("rn") === expr("(np + 1) div 2"))
      .join(broadcast(nd), "event_type")
      .select(col("event_type"), col("n_days"), col("np").as("n_pairs"),
        col("dy"), col("dx"), col("slope"))
      .orderBy("event_type")
  }

  /** Mann–Kendall trend test cells per event type — the SIGNIFICANCE
    * companion of [[eventsTheilsenTrend]] (Theil–Sen answers "how
    * steep is the robust trend?", Mann–Kendall answers "is there a
    * monotone trend at all?" — the two are the standard pairing, the
    * slope estimator and its nonparametric test, over the same daily
    * series):
    *
    *   S = Σ_{i<j} sgn(cnt_j − cnt_i)  (day order)
    *   18·Var(S) = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)  (tie-corrected)
    *
    * INTEGER throughout: S, the tie term (over count-value tie
    * groups), and the 18-scaled variance numerator all stay int64 —
    * the consumer forms Z = (S − sgn(S)) / √(var18/18) in its own
    * float regime. Overflow is structurally impossible:
    * n(n−1)(2n+5) < 2⁶³ until n ≈ 2·10⁶ DAYS (≈ 5,500 years of
    * series).
    *
    * Scale: the raw stream collapses to the |types|·|days| rollup
    * first (one map-side agg — the burst/Theil–Sen discipline); the
    * pair fan-out is |days|²/2 per type, bounded by the corpus TIME
    * SPAN, not corpus size, and aggregates map-side to one row per
    * type; the tie rollup re-aggregates the daily relation. Past
    * ~10⁴ days, S decomposes over a merge-rank pass (inversion
    * counting) — documented swap, same cells.
    */
  val statMannKendall: Q = (s, dir) => {
    val daily = EventsBase.dailyCounts(s, dir)
    val a = daily.select(col("event_type"), col("epoch_day").as("d1"), col("cnt").as("c1"))
    val b = daily.select(col("event_type"), col("epoch_day").as("d2"), col("cnt").as("c2"))
    val sStat = a.join(b, Seq("event_type"))
      .filter(col("d1") < col("d2"))
      .select(col("event_type"),
        when(col("c2") > col("c1"), 1L).when(col("c2") < col("c1"), -1L)
          .otherwise(0L).as("sgn"))
      .groupBy(col("event_type"))
      .agg(sum(col("sgn")).as("s_stat"), count(lit(1)).as("n_pairs"))
    val ties = daily.groupBy(col("event_type"), col("cnt"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("event_type"))
      .agg(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)).as("tie_num"),
        sum(col("t")).as("n_days"))
    sStat.join(ties, "event_type")
      .select(col("event_type"), col("n_days"), col("n_pairs"), col("s_stat"),
        col("tie_num"),
        (col("n_days") * (col("n_days") - 1) * (lit(2) * col("n_days") + 5)
          - col("tie_num")).as("var18_num"))
      .orderBy("event_type")
  }

  /** Weekly growth accounting per event type — the user-lifecycle
    * state machine every product-analytics stack runs (new /
    * retained / resurrected / churned; quick ratio = (new+res)/churn
    * reads off): a user-week is NEW in the user's first active week,
    * RETAINED when the previous week was active too, RESURRECTED
    * when active after a gap; CHURN is attributed to the week AFTER
    * an active week with an inactive successor (bounded to weeks
    * before the corpus horizon — the last week cannot churn yet).
    *
    * Weeks are `epoch_day div 7` — a pure integer bucketing both
    * engines evaluate identically (calendar ISO weeks differ in
    * engine/locale edge rules; the analysis needs equal-width
    * buckets, not calendar labels). All counts integer.
    *
    * Scale: the raw stream collapses to the distinct (type, user,
    * week) presence relation (one map-side agg); states come from
    * ONE lag/lead window partitioned by (type, user); the weekly
    * rollup is |types|·|weeks| cells. Nothing touches the corpus
    * twice.
    */
  val eventsLifecycleStates: Q = (s, dir) => {
    val presence = table(s, dir, "events")
      .select(col("event_type"),
        col("user_id"),
        expr("CAST(unix_date(to_date(ts)) AS BIGINT) div 7").as("wk"))
      .distinct()
    val wUser = Window.partitionBy(col("event_type"), col("user_id")).orderBy(col("wk"))
    val maxWk = presence.agg(max(col("wk")).as("max_wk"))
    val st = presence
      .withColumn("prev", lag(col("wk"), 1).over(wUser))
      .withColumn("nxt", lead(col("wk"), 1).over(wUser))
    val active = st.select(col("event_type"), col("wk"),
      when(col("prev").isNull, "new")
        .when(col("prev") === col("wk") - 1, "retained")
        .otherwise("resurrected").as("state"))
    val churn = st
      .crossJoin(broadcast(maxWk))
      .filter(col("wk") < col("max_wk") &&
        (col("nxt").isNull || col("nxt") > col("wk") + 1))
      .select(col("event_type"), (col("wk") + 1).as("wk"),
        lit("churned").as("state"))
    active.unionByName(churn)
      .groupBy(col("event_type"), col("wk"))
      .agg(sum(when(col("state") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("state") === "retained", 1L).otherwise(0L)).as("n_retained"),
        sum(when(col("state") === "resurrected", 1L).otherwise(0L)).as("n_resurrected"),
        sum(when(col("state") === "churned", 1L).otherwise(0L)).as("n_churned"))
      .orderBy("event_type", "wk")
  }

  /** ABC/XYZ inventory classification matrix — the two-axis
    * assortment screen every supply/catalog pipeline runs: parts
    * classed by cumulative revenue share (A ≤ 80 %, B ≤ 95 %, C
    * beyond — Pareto cuts on the part dimension) × demand
    * variability of the monthly quantity series (X steady, Y
    * variable, Z erratic). Emits the ≤9-cell matrix with part counts
    * and exact revenue mass.
    *
    * BOTH classifications decide on INTEGERS — no float boundary can
    * flip cross-engine:
    *  - ABC: rank parts by (rev_e4 DESC, partkey), cumulative share
    *    in ppm = cum·10⁶ div total (the `orders_pareto_share`
    *    idiom); cuts at 800 000 / 950 000 ppm.
    *  - XYZ: CV² = (n·Σq² − S²)/S² over the monthly-quantity series
    *    with n = the part's OBSERVED month count (S = Σq, Σq² over
    *    those months). Cross-multiplied cuts: X iff
    *    4·(n·Σq² − S²) ≤ S² (CV ≤ ½), Y iff n·Σq² − S² ≤ S²
    *    (CV ≤ 1), else Z. Basis choice MEASURED, not assumed: on
    *    the corpus-span basis (n = all 82 months, zero months
    *    counted) this fixture's intermittent part demand — parts
    *    sell in ~25 of 82 months — puts the CV² median at 3.6 and
    *    EVERY part in Z, a degenerate axis (the
    *    `graph_modularity_cells` precedent); the observed-month
    *    basis measures variability among demand months (X/Y/Z =
    *    2329/17632/39 at sf0.1) and leaves intermittency to its own
    *    standard dimension (ADI — the emitted per-part month count
    *    is its numerator). Int64-safe while n·Σq² < 2⁶³; DECIMAL
    *    swap documented beyond.
    *
    * Only parts with ≥1 lineitem classify (a zero-demand part has
    * S = 0 and the CV² cuts degenerate to 0 ≤ 0 — "steady at zero"
    * — which is the wrong business answer; the unsold tail is its
    * own audit, not an XYZ class).
    *
    * Scale: revenue + monthly rollups cluster on partkey; the ABC
    * cumulative is IMPLEMENTED two-level (count-balanced revenue
    * buckets + within-bucket windows + a ≤32-row broadcast prefix —
    * no unpartitioned window at ANY catalog size, PlanSpec's global
    * gate enforces it); the final matrix is a ≤9-cell map-side
    * rollup.
    */
  val ordersAbcXyz: Q = (s, dir) => {
    val li = table(s, dir, "lineitem")
    // round 19 (guide §2.4): the per-part revenue rollup is consumed
    // FOUR times (balancedBuckets' sample seeding, the bucketed
    // assignment, the grand total, and — via bucketed — the cumulative
    // join), and each consumer re-derived the full lineitem scan +
    // partkey shuffle; one |parts|-row checkpoint serves them all
    // (lineitem scans 5 → 2: this rollup + the monthly rollup)
    val rev = li.groupBy(col("l_partkey"))
      .agg(sum((col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long") *
        (lit(100) - (col("l_discount").cast("decimal(18,2)") * 100).cast("long")))
        .as("rev_e4"))
      .localCheckpoint()
    val monthly = li
      .select(col("l_partkey"), trunc(col("l_shipdate"), "month").as("m"),
        col("l_quantity").cast("long").as("q"))
      .groupBy(col("l_partkey"), col("m"))
      .agg(sum(col("q")).as("mq"))
    val xyz = monthly.groupBy(col("l_partkey"))
      .agg(sum(col("mq")).as("s"), sum(col("mq") * col("mq")).as("q2"),
        count(lit(1)).as("n_months"))
      .withColumn("vnum", col("n_months") * col("q2") - col("s") * col("s"))
      .withColumn("xyz_class",
        when(lit(4) * col("vnum") <= col("s") * col("s"), "X")
          .when(col("vnum") <= col("s") * col("s"), "Y")
          .otherwise("Z"))
    // the Pareto cumulative runs as the BUCKETED TWO-LEVEL form (the
    // global-sort gate vetoes an unpartitioned window even over a
    // dimension — caught by PlanSpec at gate time): count-balanced
    // revenue buckets via the quantile-family seeding
    // ([[SpineRank.balancedBuckets]]; boundaries only ROUTE rows, so
    // sketch error shifts load, never results — equal revenues land in
    // one bucket by construction), within-bucket running sums, and a
    // ≤32-row triangular broadcast prefix of higher-revenue buckets
    val bucketed = SpineRank.balancedBuckets(
      rev.withColumn("g", lit("g")), Seq("g"), "rev_e4", 32)
    val wIn = Window.partitionBy(col("bucket"))
      .orderBy(col("rev_e4").desc, col("l_partkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val btot = bucketed.groupBy(col("bucket")).agg(sum(col("rev_e4")).as("bt"))
    val prefix = btot.select(col("bucket"), col("bt"))
      .join(broadcast(btot.select(col("bucket").as("hb"), col("bt").as("hbt"))),
        col("hb") > col("bucket"), "left")
      .groupBy(col("bucket"))
      .agg(coalesce(sum(col("hbt")), lit(0L)).as("pre"))
    val abc = bucketed
      .withColumn("cum_in", sum(col("rev_e4")).over(wIn))
      .join(broadcast(prefix), "bucket")
      .withColumn("cum", col("pre") + col("cum_in"))
      .crossJoin(broadcast(rev.agg(sum(col("rev_e4")).as("total"))))
      // cum·10⁶ exceeds int64 once Σrev_e4 > 9.2·10¹² (already at
      // sf0.01) — the ppm product runs in DECIMAL(38,0) (HUGEINT on
      // the oracle side), floor-div back to a long share
      .withColumn("cum_ppm",
        expr("CAST(CAST(cum AS DECIMAL(38,0)) * 1000000 div total AS BIGINT)"))
      .withColumn("abc_class",
        when(col("cum_ppm") <= 800000L, "A")
          .when(col("cum_ppm") <= 950000L, "B")
          .otherwise("C"))
    abc.join(xyz, "l_partkey")
      .groupBy(col("abc_class"), col("xyz_class"))
      .agg(count(lit(1)).as("n_parts"), sum(col("rev_e4")).as("rev_e4"))
      .orderBy("abc_class", "xyz_class")
  }

  /** Chi-square independence cells for segment × nation: the FULL
    * contingency grid — observed segments × observed nations, with
    * o = 0 where a combination never occurs — carrying observed count,
    * expected count and the cell's χ² contribution. The zero cells
    * are load-bearing: dropping them under-counts the statistic
    * (Σe = n only holds over the complete grid) and is exactly the
    * mistake an "aggregate only what exists" plan makes silently.
    *
    * The ONLY floats are computed in a pinned three-step IEEE order
    * identical in both engines: e = double(r·c)/double(n) (r·c exact
    * in int64 — overflow at r·c > 9·10¹⁸ means ~3·10⁹ rows per
    * marginal; widen to DECIMAL beyond), d = double(o) − e, contrib =
    * d·d/e. No float is ever SUMMED (the χ² statistic itself is the
    * consumer's fold over these ~125 rows in whatever order it
    * chooses); every per-row value is a deterministic composition of
    * correctly-rounded ops on exactly-representable integers.
    *
    * Scale: one combined aggregate to |segments|·|nations| cells, two
    * marginal rollups of that, and a dimension-cardinality-bounded
    * cross join (5×25 here; a grid over two genuinely high-cardinality
    * dimensions is a different statistic — bucket first). The grand
    * total rides the house 1-row broadcast-scalar pattern.
    */
  val statChi2Cells: Q = (s, dir) => {
    val cells = table(s, dir, "customer")
      .groupBy(col("c_mktsegment").as("segment"), col("c_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("o"))
    val segs = cells.groupBy(col("segment")).agg(sum(col("o")).as("row_tot"))
    val nats = cells.groupBy(col("nationkey")).agg(sum(col("o")).as("col_tot"))
    segs.crossJoin(broadcast(nats))
      .join(cells, Seq("segment", "nationkey"), "left_outer")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(cells.agg(sum(col("o")).as("n"))))
      .withColumn("e",
        (col("row_tot") * col("col_tot")).cast("double") / col("n").cast("double"))
      .withColumn("d", col("o").cast("double") - col("e"))
      .select(col("segment"), col("nationkey"), col("o"),
        col("e"), (col("d") * col("d") / col("e")).as("chi2_contrib"))
      .orderBy(col("segment"), col("nationkey"))
  }

  /** Exact-k uniform sample per stratum (bottom-k by the house hash) —
    * the audit draw: k=20 customers per market segment, chosen as the
    * k smallest `md5(salt|custkey)` values (salt `graft-bottomk`, own
    * salt for the usual independence-of-gates argument). Bottom-k by a
    * fixed hash is a KMV synopsis: the draw is uniform, exactly k, and
    * STABLE under corpus growth — an arriving customer evicts at most
    * one incumbent (rate-based gates like sample_stratified_hash can't
    * pin an exact k; a random ORDER BY can't replay).
    *
    * Hash ties are broken by custkey, so membership is a total order
    * prefix — deterministic in both engines.
    *
    * Scale: the rank window sorts within each segment partition. The
    * 100 TB path keeps a k-sized min-heap per (stratum, partition) via
    * mapPartitions — bottom-k is mergeable, so per-partition bottom-k
    * then re-rank over |strata|·k·|partitions| survivors is exact and
    * shuffle-light; the window form here IS that plan's final re-rank.
    */
  val sampleBottomkStratified: Q = (s, dir) => {
    val h = md5(concat_ws("|", lit("graft-bottomk"), col("c_custkey").cast("string")))
    table(s, dir, "customer")
      .select(col("c_mktsegment").as("segment"), col("c_custkey"), h.as("h"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("segment")).orderBy(col("h"), col("c_custkey"))))
      .filter(col("rk") <= 20)
      .select("segment", "c_custkey", "h", "rk")
      .orderBy("segment", "rk")
  }

  /** Mann–Whitney rank-sum cells for every unordered segment pair
    * (round 12) — the nonparametric two-sample location test beside
    * [[statChi2Cells]]' independence test: "does segment A's balance
    * distribution sit above segment B's?", asked without normality
    * assumptions. Emits per pair the tie-adjusted doubled rank sum
    * R2_a = Σ 2·avgrank (avg rank of a tie group spanning positions
    * lo..hi is (lo+hi)/2, so 2·avgrank = 2·lo + cnt − 1 — INTEGER,
    * the whole key stays on the exact frontier) and both doubled U
    * statistics 2U_a = R2_a − n_a(n_a+1), 2U_b = 2n_a·n_b − 2U_a.
    * The consumer divides by 2 and normalizes; no float ever forms
    * here.
    *
    * Scale: the pair join fans each VALUE out ×(|segments|−1) —
    * bounded by DIMENSION cardinality, not data. Round 13 (r12
    * verdict item 4) moved the rank math off raw rows onto the
    * DISTINCT-VALUE SPINE — the [[statKsTest]] shape: one map-side-
    * combined rollup to per-(pair, value) counts (ca, cb), then the
    * tie group at value v contributes ca·(2·cumt − cnt + 1) to R2_a
    * (cumt = inclusive cumulative pair count, cnt = ca + cb: the
    * group spans ranks [cumt−cnt+1, cumt], so each member's doubled
    * midrank is 2·(cumt−cnt+1) + cnt − 1). The only window runs on
    * the spine — ≤ |distinct values| rows per pair (value-domain-
    * bounded: cents in a fixed range), never a data-sized partition.
    * The KLL sketch swap ([[SketchVariants]]) remains the certified-
    * error path where even the value domain is unbounded. Overflow:
    * R2 ≤ 2·(n_a+n_b)² < 2⁶³ below ~2·10⁹ rows per pair; widen to
    * DECIMAL(38,0) beyond.
    */
  val statMannWhitney: Q = (s, dir) => {
    val c = table(s, dir, "customer")
      .select(col("c_mktsegment").as("segment"),
        (dec(col("c_acctbal")) * 100).cast("long").as("bal_cents"))
    val segs = c.select(col("segment")).distinct()
    val pairs = segs.select(col("segment").as("seg_a"))
      .crossJoin(segs.select(col("segment").as("seg_b")))
      .filter(col("seg_a") < col("seg_b"))
    mannWhitneyCells(c, pairs)
      .select("seg_a", "seg_b", "n_a", "n_b", "r2_a", "u2_a", "u2_b")
      .orderBy("seg_a", "seg_b")
  }

  /** The shared Mann–Whitney cell relation on the distinct-value
    * spine (see [[statMannWhitney]] for the algebra; also feeds
    * [[statKruskalWallis]]' pairwise decomposition): per unordered
    * pair the sizes, the tie-adjusted doubled rank sum of side a,
    * and both doubled U statistics.
    */
  private def mannWhitneyCells(c: org.apache.spark.sql.DataFrame,
      pairs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val perVal = c.join(broadcast(pairs),
        col("segment") === col("seg_a") || col("segment") === col("seg_b"))
      .groupBy(col("seg_a"), col("seg_b"), col("bal_cents"))
      .agg(count(when(col("segment") === col("seg_a"), 1)).as("ca"),
        count(when(col("segment") === col("seg_b"), 1)).as("cb"))
      .withColumn("cnt", col("ca") + col("cb"))
    // pooled cumulative over the pair's value spine — volume-gated
    // (round 16, SpineRank): per-pair window at gate SFs, the exact
    // bucketed two-level form above SpineRank.WindowSpineRows
    SpineRank.cumSum(perVal, Seq("seg_a", "seg_b"), "bal_cents",
        col("cnt"), "cumt")
      .groupBy(col("seg_a"), col("seg_b"))
      .agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"),
        sum(col("ca") * (lit(2L) * col("cumt") - col("cnt") + 1)).as("r2_a"))
      .withColumn("u2_a", col("r2_a") - col("n_a") * (col("n_a") + 1))
      .withColumn("u2_b", lit(2L) * col("n_a") * col("n_b") - col("u2_a"))
  }

  /** Two-sample Kolmogorov–Smirnov cells for every unordered segment
    * pair (round 12) — the distribution-EQUALITY test completing the
    * nonparametric bench beside [[statMannWhitney]] (location) and
    * [[statChi2Cells]] (independence): D = max_v |F̂_a(v) − F̂_b(v)|,
    * reported as the exact integer numerator d_num =
    * max |n_b·cumA(v) − n_a·cumB(v)| over the pair's distinct-value
    * spine with denominator d_den = n_a·n_b, plus the location ks_at
    * where the gap peaks (ties → smallest value: rank window ordered
    * (d_num DESC, value ASC), deterministic in both engines). The
    * ECDF step function attains its extrema exactly at observed
    * values, so scanning the distinct spine is complete — no float
    * ever forms.
    *
    * Scale: pair fan-out bounded by dimension cardinality (like the
    * sibling tests); the per-value rollup is one map-side-combined
    * aggregate, the cumulatives run on the DISTINCT-VALUE spine
    * (≤ |values| rows per pair) through [[SpineRank.cumSums]]'s
    * volume-gated dispatch (round 16 — per-pair window at gate SFs,
    * the exact bucketed two-level form above the switch), and the
    * argmax is a min_by AGGREGATE over the unique (−d_num, value)
    * order — two-phase with map-side partials, so no rank window
    * survives anywhere in the key. Overflow:
    * n_b·cumA < n_a·n_b < 2⁶³ below ~3·10⁹ rows per
    * side; widen to DECIMAL(38,0) beyond. 100 TB swap shared with
    * the family: two KLL sketches per segment bound D within the
    * certified rank error ([[SketchVariants]]).
    */
  val statKsTest: Q = (s, dir) => {
    val c = table(s, dir, "customer")
      .select(col("c_mktsegment").as("segment"),
        (dec(col("c_acctbal")) * 100).cast("long").as("bal_cents"))
    val segs = c.select(col("segment")).distinct()
    val pairs = segs.select(col("segment").as("seg_a"))
      .crossJoin(segs.select(col("segment").as("seg_b")))
      .filter(col("seg_a") < col("seg_b"))
    val perVal = c.join(broadcast(pairs),
        col("segment") === col("seg_a") || col("segment") === col("seg_b"))
      .groupBy(col("seg_a"), col("seg_b"), col("bal_cents"))
      .agg(count(when(col("segment") === col("seg_a"), 1)).as("ca"),
        count(when(col("segment") === col("seg_b"), 1)).as("cb"))
    // both ECDF cumulatives + pair totals in ONE volume-gated pass
    // (round 16, SpineRank); the argmax is a min_by aggregate over
    // the unique-per-pair (−d_num, value) order — two-phase agg with
    // map-side partials, no rank window at all
    SpineRank.cumSums(perVal, Seq("seg_a", "seg_b"), "bal_cents",
        Seq((col("ca"), "cum_a"), (col("cb"), "cum_b")), withTotals = true)
      .withColumnRenamed("cum_a_tot", "n_a")
      .withColumnRenamed("cum_b_tot", "n_b")
      .withColumn("d_num",
        abs(col("n_b") * col("cum_a") - col("n_a") * col("cum_b")))
      .groupBy(col("seg_a"), col("seg_b"))
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        max(col("d_num")).as("d_num"),
        min_by(col("bal_cents"),
          struct((col("d_num") * -1).as("nd"), col("bal_cents"))).as("ks_at"))
      .select(col("seg_a"), col("seg_b"), col("n_a"), col("n_b"),
        col("d_num"), (col("n_a") * col("n_b")).as("d_den"), col("ks_at"))
      .orderBy("seg_a", "seg_b")
  }

  /** CUSUM changepoint per event type (round 12) — "where did the
    * rate shift?": against the uniform-rate null over the type's
    * observed span [d0, d1], the cumulative count's maximal deviation
    * from the straight line, dev(d) = |span·cum(d) − total·(d−d0+1)|,
    * evaluated in pure integers at every observed day (between
    * observed days both terms move linearly, so maxima over a gap
    * occur at its endpoints; the statistic is evaluated on observed
    * days, matching the oracle row-for-row — documented, like the
    * burst key's calendar-frame choice). Emits per type the span,
    * total, the argmax day cp_day (ties → earliest), the cumulative
    * count there, and the integer deviation numerator dev_num (the
    * consumer normalizes by span·total). A uniform corpus yields
    * small dev_num; a planted rate shift puts cp_day at the shift.
    *
    * Scale: one map-side-combined aggregate to |types|·|days| rows;
    * every window (cumulative, span bounds, argmax rank) runs on that
    * rollup partitioned by type — never the raw stream. Overflow:
    * span·cum < 2⁶³ until span·total ≈ 9·10¹⁸ (≈ 10⁵ days × 10¹⁴
    * events/type); widen to DECIMAL(38,0) beyond.
    */
  val eventsCusumChangepoint: Q = (s, dir) => {
    val daily = EventsBase.dailyCounts(s, dir)
    val wAll = Window.partitionBy(col("event_type"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("epoch_day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("total", sum(col("cnt")).over(wAll))
      .withColumn("d0", min(col("epoch_day")).over(wAll))
      .withColumn("d1", max(col("epoch_day")).over(wAll))
      .withColumn("span", col("d1") - col("d0") + 1)
      .withColumn("dev_num", abs(col("span") * col("cum")
        - col("total") * (col("epoch_day") - col("d0") + 1)))
      .withColumn("rk", row_number().over(Window.partitionBy(col("event_type"))
        .orderBy(col("dev_num").desc, col("epoch_day"))))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("d0"), col("d1"), col("span"),
        col("total"), col("epoch_day").as("cp_day"),
        col("cum").as("cum_at_cp"), col("dev_num"))
      .orderBy("event_type")
  }

  /** Kaplan–Meier survival table per market-segment cohort
    * (round 12) — the survival-analysis family (time-to-churn with
    * censoring) the bench lacked. A customer's LIFETIME is
    * last − first order date (days); customers whose last order falls
    * within 90 days of the corpus horizon are RIGHT-CENSORED: their
    * lifetime is a lower bound, so they leave the risk set without
    * counting as churn. (The events table cannot host this key: its
    * 30-day uniform corpus puts every user inside any sane censor
    * window — 100 % censored, zero death times, a vacuous gate.)
    * Emits the estimator's SUFFICIENT STATISTICS, all integers — per
    * (cohort, distinct lifetime t): n_risk (cohort customers with
    * lifetime ≥ t), d_event (uncensored = t), c_censor (censored
    * = t) — the exact-frontier discipline: the consumer forms
    * S(t) = Π (1 − dᵢ/nᵢ) in whatever float regime it wants; no
    * cumulative float product crosses the engine boundary, and
    * cohort curves are directly comparable ([[statLogrankCells]]
    * does exactly that).
    *
    * Scale: one combined agg to per-customer date bounds (the only
    * pass over orders), a broadcast dim join for the segment, a
    * rollup to |cohorts|·|lifetimes| rows, and the reverse
    * cumulative risk window PARTITIONED by cohort on that spine.
    */
  /** The KM spine shared by [[ordersSurvivalKm]] and
    * [[statLogrankCells]]: (cohort, t, d_event, c_censor, n_risk).
    */
  private[graft] def survivalSpine(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val perCust = table(s, dir, "orders")
      .select(col("o_custkey"),
        unix_date(to_date(col("o_orderdate"))).cast("long").as("d"))
      .groupBy(col("o_custkey"))
      .agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
    val seg = table(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment").as("cohort"))
    val horizon = perCust.agg(max(col("d1")).as("dmax"))
    val life = perCust
      .join(broadcast(seg), col("o_custkey") === col("c_custkey"))
      .crossJoin(broadcast(horizon))
      .select(col("cohort"), (col("d1") - col("d0")).as("t"),
        when(col("d1") > col("dmax") - 90, 1L).otherwise(0L).as("censored"))
    val spine = life.groupBy(col("cohort"), col("t"))
      .agg(sum(lit(1) - col("censored")).as("d_event"),
        sum(col("censored")).as("c_censor"))
    // reverse cumulative risk set over the lifetime spine —
    // volume-gated (round 16): per-cohort window at gate SFs, the
    // exact bucketed two-level form above SpineRank.WindowSpineRows
    SpineRank.cumSum(spine, Seq("cohort"), "t",
      col("d_event") + col("c_censor"), "n_risk", desc = true)
  }

  val ordersSurvivalKm: Q = (s, dir) =>
    survivalSpine(s, dir)
      .select("cohort", "t", "n_risk", "d_event", "c_censor")
      .orderBy("cohort", "t")

  /** Log-rank test cells for every unordered cohort pair (round 12) —
    * the comparison consumer of [[ordersSurvivalKm]]'s curves: "is
    * segment A's churn hazard different from B's?", answered by the
    * standard log-rank decomposition at each DEATH time t of the
    * merged pair: with nₐ, n_b at risk and d = dₐ + d_b deaths,
    * Oₐ = dₐ, E[Oₐ] = nₐ·d/n and Var = d·nₐ·n_b·(n−d) / (n²·(n−1)).
    * Emitted as INTEGER numerators/denominators per (pair, t) —
    * o_a, e_num = nₐ·d, e_den = n, v_num = d·nₐ·n_b·(n−d),
    * v_den = n²·(n−1) — so the consumer forms Z = Σ(Oₐ−E)/√ΣV in its
    * own float regime; nothing float crosses the engine boundary.
    *
    * The subtle step is evaluating each cohort's risk set at the
    * OTHER cohort's death times: n_risk is a right-continuous
    * decreasing step function defined on a cohort's own spine, so on
    * the merged spine the value at t is the nearest own-spine value
    * at time ≥ t — a `last(ignoreNulls)` carry over a t-DESC window
    * per pair (identical `IGNORE NULLS` semantics in DuckDB); past a
    * cohort's largest lifetime the carry is null → 0 at risk.
    *
    * Scale: the spine is |cohorts|·|lifetimes| (calendar-bounded);
    * the pair fan-out is dimension-bounded; every window runs on the
    * merged pair spine, never raw rows. Overflow: v_num ≤ n⁴ < 2⁶³
    * below ~55k users per pair — beyond, widen the two products to
    * DECIMAL(38,0) (same plan shape).
    */
  val statLogrankCells: Q = (s, dir) => {
    // round 20 exchange-lens A/B, measured NEGATIVE and reverted
    // (guide §1.2): checkpointing the windowed spine for its three
    // consumers (cohorts + both pair sides) read 1.52/1.52 s vs 1.16 s
    // lazy, isolated 32c REPS=3. The spine's heavy lineage is already
    // checkpoint-bounded inside SpineRank.cumSums, the per-consumer
    // re-derivations (window + distinct over the tiny checkpointed
    // relation) canonicalize equal and AQE stage reuse recovers them
    // at runtime — the same ReuseExchange-covers-intra-action-aliases
    // rule as jaccardPairsOf/modularityCells (r19).
    val spine = survivalSpine(s, dir)
    val cohorts = spine.select(col("cohort")).distinct()
    val pairs = cohorts.select(col("cohort").as("ca"))
      .crossJoin(cohorts.select(col("cohort").as("cb")))
      .filter(col("ca") < col("cb"))
    val sa = spine.join(broadcast(pairs), col("cohort") === col("ca"))
      .select(col("ca"), col("cb"), col("t"),
        col("d_event").as("d_a0"), col("n_risk").as("n_a0"))
    val sb = spine.join(broadcast(pairs), col("cohort") === col("cb"))
      .select(col("ca"), col("cb"), col("t"),
        col("d_event").as("d_b0"), col("n_risk").as("n_b0"))
    val merged = sa.join(sb, Seq("ca", "cb", "t"), "full_outer")
    val wCarry = Window.partitionBy(col("ca"), col("cb"))
      .orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    merged
      .withColumn("n_a", coalesce(last(col("n_a0"), ignoreNulls = true).over(wCarry), lit(0L)))
      .withColumn("n_b", coalesce(last(col("n_b0"), ignoreNulls = true).over(wCarry), lit(0L)))
      .withColumn("d_a", coalesce(col("d_a0"), lit(0L)))
      .withColumn("d_b", coalesce(col("d_b0"), lit(0L)))
      .withColumn("d", col("d_a") + col("d_b"))
      .withColumn("n", col("n_a") + col("n_b"))
      .filter(col("d") > 0) // log-rank sums over death times only
      .select(col("ca"), col("cb"), col("t"),
        col("d_a").as("o_a"), col("n_a"), col("n_b"),
        (col("n_a") * col("d")).as("e_num"), col("n").as("e_den"),
        (col("d") * col("n_a") * col("n_b") * (col("n") - col("d"))).as("v_num"),
        (col("n") * col("n") * (col("n") - 1)).as("v_den"))
      .orderBy("ca", "cb", "t")
  }

  /** Kruskal–Wallis sufficient statistics per market segment
    * (round 12, second session) — the k-SAMPLE extension completing
    * the nonparametric bench: Mann–Whitney asks "do these TWO
    * segments differ in location?"; Kruskal–Wallis asks it of ALL
    * segments at once (the rank-based one-way ANOVA). Emits per
    * segment the group size n_g and the tie-adjusted DOUBLED global
    * rank sum r2_g = Σ 2·midrank (midranks over the pooled sample),
    * plus the pooled size n_total and the global tie-correction sum
    * tie3_sum = Σ_v (t_v³ − t_v) — everything INTEGER; the consumer
    * forms H = [12/(N(N+1)) Σ R_g²/n_g − 3(N+1)] / (1 − tie3/(N³−N))
    * in its own float regime.
    *
    * THE PLAN-SAFE DECOMPOSITION (the reason this key is not just
    * "rank the union"): pooled midranks need a GLOBAL rank window —
    * a single-task global sort, banned by the house plan gate and a
    * genuine scale-killer. Instead the pooled doubled rank sum
    * decomposes exactly over pairwise Mann–Whitney statistics:
    *
    *   2R_g = n_g(n_g+1) + Σ_{h≠g} 2U_{g over h}
    *
    * (each element's pooled cntBelow/cntEqual splits by the group the
    * other element lives in; the own-group term telescopes to
    * n_g(n_g+1) − n_g and the cross terms are exactly the doubled-U
    * cells [[statMannWhitney]] already computes — spec'd equal to a
    * brute-force pooled-midrank replay). The shared
    * `mannWhitneyCells` runs on the distinct-value spine (round 13),
    * so every window partition is ≤ |distinct values| rows — never
    * data-sized; the tie sum is one map-side-combined value rollup
    * with no window at all.
    *
    * Scale: pair fan-out bounded by dimension cardinality (k segments
    * → k(k−1)/2 pair partitions); the value spine is value-domain-
    * bounded, with the KLL swap ([[SketchVariants]]) where even that
    * is unbounded. Overflow: r2_g ≤ 2N² < 2⁶³ below ~2·10⁹
    * pooled rows; widen to DECIMAL(38,0) beyond.
    */
  val statKruskalWallis: Q = (s, dir) => {
    val c = table(s, dir, "customer")
      .select(col("c_mktsegment").as("segment"),
        (dec(col("c_acctbal")) * 100).cast("long").as("bal_cents"))
    val segs = c.select(col("segment")).distinct()
    val pairs = segs.select(col("segment").as("seg_a"))
      .crossJoin(segs.select(col("segment").as("seg_b")))
      .filter(col("seg_a") < col("seg_b"))
    val cells = mannWhitneyCells(c, pairs)
    val directed = cells
      .select(col("seg_a").as("segment"), col("u2_a").as("u2"))
      .union(cells.select(col("seg_b"), col("u2_b")))
      .groupBy(col("segment")).agg(sum(col("u2")).as("u2_sum"))
    val sizes = c.groupBy(col("segment")).agg(count(lit(1)).as("n_g"))
    val ties = c.groupBy(col("bal_cents")).agg(count(lit(1)).as("t"))
      .agg(sum(col("t") * col("t") * col("t") - col("t")).as("tie3_sum"),
        sum(col("t")).as("n_total"))
    sizes.join(directed, Seq("segment"))
      .withColumn("r2_g", col("n_g") * (col("n_g") + 1) + col("u2_sum"))
      .crossJoin(broadcast(ties))
      .select("segment", "n_g", "r2_g", "n_total", "tie3_sum")
      .orderBy("segment")
  }

  /** Spearman rank-correlation sufficient statistics per market
    * segment (round 12, second session) — the robust-association
    * member of the family: "does customer wealth (acctbal) track
    * customer spend (lifetime order revenue) within a segment?",
    * answered on RANKS so outliers and any monotone rescaling drop
    * out (Pearson over midranks ≡ Spearman with the standard tie
    * treatment). Customers with no orders participate with revenue 0
    * (a left join — dropping them would bias the association toward
    * actives).
    *
    * Exact frontier: both coordinates enter as DOUBLED midranks
    * (2·mr = 2·lo + cnt − 1, integer, the Mann–Whitney idiom); the
    * emitted cells are the integer sums n, s_xy = Σ r2x·r2y,
    * s_xx = Σ r2x², s_yy = Σ r2y². The consumer forms
    * ρ = (n·s_xy − n²(n+1)²) / √((n·s_xx − n²(n+1)²)(n·s_yy − n²(n+1)²))
    * — Σ r2x = Σ r2y = n(n+1) identically (tie-invariant), so the
    * marginal sums need not cross the boundary; the spec asserts the
    * identity anyway.
    *
    * Scale: one shuffle to per-customer revenue, a broadcast dim
    * join, then — round 13 (r12 verdict item 4) — each axis's
    * doubled midranks come from a DISTINCT-VALUE SPINE (per
    * (segment, value) counts, cumulative over the spine,
    * 2·mr(v) = 2·cumt − cnt + 1 for every row at v) joined back to
    * the rows on the fine-grained (segment, value) key. No window
    * ever sees raw rows: spine partitions are ≤ |distinct values|
    * per segment, the join-back shuffles on composite keys — and
    * since round 16 the spine cumulative itself is volume-gated
    * ([[SpineRank.cumSum]]): the per-segment window at gate SFs, the
    * exact bucketed two-level form once a spine outgrows
    * [[SpineRank.WindowSpineRows]], so even an unbounded value
    * domain never caps parallelism at |segments|. The KLL swap
    * ([[SketchVariants]]) remains the certified approximate path.
    * Overflow: s_xy ≤ 4n³ < 2⁶³ below
    * ~1.3·10⁶ rows per segment; widen to DECIMAL(38,0) beyond (same
    * plan shape).
    */
  val statSpearmanCells: Q = (s, dir) => {
    val rev = table(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg((sum(dec(col("o_totalprice"))) * 100).cast("long").as("rev_cents"))
    // round 19 (guide §2.4): the joined (segment, bal, rev) relation
    // is consumed THREE times (each axis's spine rollup + the
    // join-back), and each consumer re-derived the orders rollup +
    // customer join; one |customers|-row checkpoint serves all three
    val c = table(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment").as("segment"),
        (dec(col("c_acctbal")) * 100).cast("long").as("bal_cents"))
      .join(rev, col("o_custkey") === col("c_custkey"), "left_outer")
      .withColumn("rev_cents", coalesce(col("rev_cents"), lit(0L)))
      .localCheckpoint()
    // doubled-midrank spine for one axis: every row holding value v
    // in `segment` has 2·midrank = 2·cumt(v) − cnt(v) + 1. Round 16:
    // the spine cumulative dispatches through SpineRank (per-segment
    // window at gate SFs, the bucketed two-level form above the
    // volume switch — exact either way), so an unbounded value
    // domain no longer caps this key at |segments| tasks.
    def spineRanks(valueCol: String, out: String): org.apache.spark.sql.DataFrame =
      SpineRank.cumSum(
        c.groupBy(col("segment"), col(valueCol)).agg(count(lit(1)).as("cnt")),
        Seq("segment"), valueCol, col("cnt"), "cumt")
        .select(col("segment"), col(valueCol),
          (lit(2L) * col("cumt") - col("cnt") + 1).as(out))
    c.join(spineRanks("bal_cents", "r2x"), Seq("segment", "bal_cents"))
      .join(spineRanks("rev_cents", "r2y"), Seq("segment", "rev_cents"))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n"),
        sum(col("r2x") * col("r2y")).as("s_xy"),
        sum(col("r2x") * col("r2x")).as("s_xx"),
        sum(col("r2y") * col("r2y")).as("s_yy"))
      .orderBy("segment")
  }

  /** Gini coefficient of user engagement per event type (round 12,
    * second session) — the single-number inequality reading beside
    * [[ordersParetoShare]]'s decile curve: "is this event type's
    * volume spread across its audience or concentrated in a few
    * heavy users?". Emitted as the EXACT INTEGER rational per type:
    * with users sorted ascending by activity, rn = 1..n,
    * g_num = Σ (2·rn − n − 1)·cnt and g_den = n·total, so
    * G = g_num/g_den ∈ [0, 1) — the standard sorted-weights Gini
    * identity. The sort key (cnt, user_id) is a total order, and the
    * Σ over any tie block is permutation-invariant (equal cnt ×
    * consecutive weights), so both engines agree bit-exactly without
    * relying on tie luck.
    *
    * Scale (round 13 — the stat-spine discipline applied here too):
    * one map-side-combined rollup to (type, user) counts, then the
    * rank sum collapses EXACTLY onto the DISTINCT-COUNT spine — a
    * tie block at activity value v with m users spanning ranks
    * [cum−m+1, cum] contributes v·m·(2·cum−m+1)/2 to Σ rn·cnt
    * (always an integer: m or 2·cum−m+1 is even), and the sorted
    * partition is ≤ |distinct activity values| per type —
    * value-domain-bounded, never the old data-sized user list. The
    * KLL decile form ([[SketchVariants]]) remains the certified
    * path where even the value domain is unbounded. Overflow:
    * g_num < 2n·total — past n·total ≈ 4·10¹⁸ widen to
    * DECIMAL(38,0).
    */
  val eventsGiniActivity: Q = (s, dir) => {
    val perUser = table(s, dir, "events")
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
    val spine = perUser.groupBy(col("event_type"), col("cnt"))
      .agg(count(lit(1)).as("m"))
    // cumulative over the distinct-count spine — volume-gated
    // (round 16, SpineRank): per-type window at gate SFs, the exact
    // bucketed two-level form above SpineRank.WindowSpineRows
    SpineRank.cumSum(spine, Seq("event_type"), "cnt", col("m"), "cum")
      .groupBy(col("event_type"))
      .agg(sum(col("m")).as("n_users"),
        sum(col("m") * col("cnt")).as("total_events"),
        sum(col("cnt") * expr("(m * (2 * cum - m + 1)) div 2")).as("s_rc"))
      // Σ(2rn − n − 1)·cnt = 2·Σrn·cnt − (n+1)·Σcnt — the window never
      // nests inside the aggregate
      .withColumn("g_num",
        lit(2L) * col("s_rc") - (col("n_users") + 1) * col("total_events"))
      .withColumn("g_den", col("n_users") * col("total_events"))
      .select("event_type", "n_users", "total_events", "g_num", "g_den")
      .orderBy("event_type")
  }

  /** Audience-overlap matrix between event types (round 12, second
    * session) — exact set-intersection cells for every unordered type
    * pair: n_a, n_b (distinct users per type), n_inter (users doing
    * BOTH), n_union = n_a + n_b − n_inter. The consumer reads Jaccard
    * / containment / lift off the integer cells. ZERO-overlap pairs
    * are load-bearing and kept by the grid + left join (the
    * [[statChi2Cells]] full-grid discipline — an inner-join-only plan
    * silently drops exactly the disjoint pairs an audience planner
    * cares about).
    *
    * Scale: the intersection NEVER joins user sets pairwise —
    * per-user type sets fan out to type-pairs locally (≤ |types|²
    * rows per user, dimension-bounded) and one map-side-combined
    * count per pair does the rest; sizes are one rollup. The pair
    * grid is dimension-cardinality-bounded (T² cells).
    */
  val eventsTypeOverlap: Q = (s, dir) => {
    val ut = table(s, dir, "events")
      .select(col("user_id"), col("event_type")).distinct()
    val types = ut.select(col("event_type")).distinct()
    val grid = types.select(col("event_type").as("type_a"))
      .crossJoin(types.select(col("event_type").as("type_b")))
      .filter(col("type_a") < col("type_b"))
    val inter = ut.select(col("user_id"), col("event_type").as("type_a"))
      .join(ut.select(col("user_id"), col("event_type").as("type_b")), Seq("user_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_inter"))
    val sizes = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    grid
      .join(broadcast(sizes.select(col("event_type").as("type_a"), col("n").as("n_a"))), Seq("type_a"))
      .join(broadcast(sizes.select(col("event_type").as("type_b"), col("n").as("n_b"))), Seq("type_b"))
      .join(inter, Seq("type_a", "type_b"), "left_outer")
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_inter"), (col("n_a") + col("n_b") - col("n_inter")).as("n_union"))
      .orderBy("type_a", "type_b")
  }

  /** Cohort LTV curves (round 12, second session) — the
    * months-since-acquisition revenue ramp per signup cohort, the
    * relation under every "when does a cohort pay back?" planning
    * chart. Cohort = the customer's FIRST order month; age = whole
    * months since (computed as the integer
    * (year−year₀)·12 + (month−month₀) on month-truncated dates — no
    * months_between float). Emitted per (cohort, age): active
    * customer count, exact decimal-cent revenue, the cumulative
    * revenue ramp, and the cohort's size — all INTEGER; the consumer
    * divides cum_rev_cents by cohort_size for the LTV-per-head curve.
    *
    * Scale: one shuffle to per-(customer, month) revenue, a second
    * combined rollup to |cohorts|·|ages| cells (calendar-bounded);
    * the cumulative window runs PARTITIONED by cohort on that spine.
    * The cohort size rides the spine as a window max of the age-0
    * active count? No — sizes are a 1-rollup broadcast join (every
    * cohort member has an age-0 order BY CONSTRUCTION of the cohort,
    * so cohort_size = n_active at age 0; computed independently and
    * spec-asserted equal to the age-0 row).
    */
  val ordersCohortLtv: Q = (s, dir) => {
    val o = table(s, dir, "orders")
      .select(col("o_custkey"),
        date_trunc("month", to_date(col("o_orderdate"))).cast("date").as("m"),
        dec(col("o_totalprice")).as("price"))
    val first = o.groupBy(col("o_custkey")).agg(min(col("m")).as("m0"))
    val perAge = o.join(first, Seq("o_custkey"))
      .withColumn("age",
        (year(col("m")) - year(col("m0"))) * 12 + (month(col("m")) - month(col("m0"))))
      .groupBy(col("m0").cast("string").as("cohort"), col("age").cast("long").as("age"))
      .agg(countDistinct(col("o_custkey")).as("n_active"),
        (sum(col("price")) * 100).cast("long").as("rev_cents"))
    val sizes = first.groupBy(col("m0").cast("string").as("cohort"))
      .agg(count(lit(1)).as("cohort_size"))
    perAge
      .withColumn("cum_rev_cents", sum(col("rev_cents")).over(
        Window.partitionBy(col("cohort")).orderBy(col("age"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(sizes), Seq("cohort"))
      .select("cohort", "age", "n_active", "rev_cents", "cum_rev_cents",
        "cohort_size")
      .orderBy("cohort", "age")
  }

  /** Theil-T inequality decomposition of customer revenue by market
    * segment (round 12, second session) — the DECOMPOSABLE
    * counterpart of [[eventsGiniActivity]]: Gini gives one number,
    * Theil splits it exactly into between-segment and within-segment
    * components (the property planners use to ask "is revenue
    * inequality a segment-mix story or an inside-segment story?").
    *
    * On the exact frontier via the fixed-point log machinery
    * ([[graft.functions.NumericExpressions.Log2Fixed]], oracle
    * replayed by [[graft.oracle.Log2Sql]]): in log₂ units,
    * X·2²⁰·T = Σᵢ xᵢ·(L(xᵢ·N) − L(X)) — every L argument an
    * INTEGER (xᵢ·N, not xᵢ/μ), so the whole key is integer
    * arithmetic, bit-exact cross-engine. Emitted per segment: n_g,
    * x_g (cents), w_num = Σᵢ xᵢ·(L(xᵢ·N_g) − L(X_g)) (the
    * within-segment numerator) and b_num = X_g·(L(X_g·N) − L(X·N_g))
    * (the between term), plus the global (n_total, x_total) scalars;
    * the consumer forms T_within = Σw/(X·2²⁰), T_between =
    * Σb/(X·2²⁰), T ≈ T_within + T_between (exact up to the ±3·10⁻⁶
    * log tolerance — the spec bounds the residual at 10⁻⁴ against a
    * directly-computed pooled T).
    *
    * Scale: one shuffle to per-customer revenue, the log chain runs
    * on AGGREGATED rows (|customers| scalar evaluations of ~40 long
    * ops each), segment rollups are map-side-combined, globals ride
    * the 1-row broadcast pattern. Overflow: L's argument xᵢ·N < 2⁶³
    * needs xᵢ·N below 9·10¹⁸ — at 100 TB rescale x to whole dollars
    * (Theil is scale-invariant) before the multiply; documented, not
    * needed at bench SF.
    */
  val ordersTheilDecomposition: Q = (s, dir) => {
    import graft.functions.NumericExpressions.log2Fixed
    val rev = table(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg((sum(dec(col("o_totalprice"))) * 100).cast("long").as("x"))
    val cust = table(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment").as("segment"))
    val xi = rev.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("segment"), col("x"))
    val grp = xi.groupBy(col("segment"))
      .agg(count(lit(1)).as("n_g"), sum(col("x")).as("x_g"))
    val glob = grp.agg(sum(col("n_g")).as("n_total"), sum(col("x_g")).as("x_total"))
    val withinNum = xi
      .join(broadcast(grp), Seq("segment"))
      .groupBy(col("segment"))
      .agg(sum(col("x") * (log2Fixed(col("x") * col("n_g"))
        - log2Fixed(col("x_g")))).as("w_num"))
    grp.join(withinNum, Seq("segment"))
      .crossJoin(broadcast(glob))
      .withColumn("b_num", col("x_g") * (log2Fixed(col("x_g") * col("n_total"))
        - log2Fixed(col("x_total") * col("n_g"))))
      .select("segment", "n_g", "x_g", "w_num", "b_num", "n_total", "x_total")
      .orderBy("segment")
  }

  /** Wald–Wolfowitz runs test per market segment (round 12, second
    * session) — SEQUENCE randomness, the dimension none of the other
    * nonparametric keys touch (they all test distributions; this
    * tests ORDER): is the date-ordered sequence of a segment's order
    * values above/below its median a random alternation, or does
    * demand cluster in high/low streaks? Emits the integer
    * sufficient statistics per segment: n_plus (orders strictly
    * above the segment median value), n_minus (the rest — the
    * ties-to-below convention, documented and replayed identically
    * in the oracle), and runs = 1 + #{sign flips} along the
    * (o_orderdate, o_orderkey) total order. The consumer forms
    * Z = (R − μ)/σ with μ = 2n₊n₋/n + 1.
    *
    * The median is the EXACT lower median (the value at rank
    * ⌈n/2⌉ = (n+1) div 2 in value order — tiebreak-independent, so
    * since round 13 it comes off the DISTINCT-VALUE spine (cents are
    * value-domain-bounded; the spine row with cum−m < k ≤ cum holds
    * the k-th order statistic), joined back as a ≤|segments|-row
    * broadcast.
    *
    * Scale: the median spine window is value-domain-bounded; the lag
    * window is the sessionize shape (sort within segment by time) —
    * that one IS the key's semantics (runs are a property of the
    * sequence) and carries the sessionize family's posture. Nothing
    * global, nothing quadratic.
    */
  val ordersRunsTest: Q = (s, dir) => {
    val o = table(s, dir, "orders")
      .join(broadcast(table(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("segment"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("segment"), col("o_orderkey"),
        unix_date(to_date(col("o_orderdate"))).cast("long").as("d"),
        (dec(col("o_totalprice")) * 100).cast("long").as("v"))
    val wCum = Window.partitionBy(col("segment")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val medians = o.groupBy(col("segment"), col("v"))
      .agg(count(lit(1)).as("m"))
      .withColumn("cum", sum(col("m")).over(wCum))
      .withColumn("n", sum(col("m")).over(Window.partitionBy(col("segment"))))
      .filter(expr("cum - m < (n + 1) div 2") && expr("(n + 1) div 2 <= cum"))
      .select(col("segment"), col("v").as("med"))
    val wSeq = Window.partitionBy(col("segment")).orderBy(col("d"), col("o_orderkey"))
    o.join(broadcast(medians), Seq("segment"))
      .withColumn("sign", when(col("v") > col("med"), 1L).otherwise(0L))
      .withColumn("flip",
        when(lag(col("sign"), 1).over(wSeq).isNull, 0L)
          .when(lag(col("sign"), 1).over(wSeq) =!= col("sign"), 1L)
          .otherwise(0L))
      .groupBy(col("segment"))
      .agg(sum(col("sign")).as("n_plus"),
        sum(lit(1L) - col("sign")).as("n_minus"),
        (sum(col("flip")) + 1).as("runs"))
      .orderBy("segment")
  }

  /** Benford leading-digit profile of order values by priority class
    * (round 12, second session) — the data-forensics screen: natural
    * multi-scale money amounts follow Benford's law (P(d) =
    * log₁₀(1+1/d)); a priority class whose digit histogram deviates
    * hard is fabricated, capped, or administratively priced. Emits
    * the FULL priority × digit-1..9 grid (zero cells kept — the
    * [[statChi2Cells]] discipline) with observed count and the
    * class's row total, all INTEGER; the consumer compares against
    * the Benford expectation in its own float regime (log₁₀
    * constants never cross the engine boundary).
    *
    * The leading digit is extracted lexically — first character of
    * the cents value's decimal string — which is exact and identical
    * in both engines (no float log₁₀ near power-of-ten boundaries;
    * cents > 0 always, so no sign/zero edge).
    *
    * Scale: one map-side-combined rollup to ≤ 9·|priorities| cells;
    * the grid is dimension-bounded; row totals ride a tiny broadcast.
    */
  val ordersBenfordDigits: Q = (s, dir) => {
    val obs = table(s, dir, "orders")
      .select(col("o_orderpriority").as("priority"),
        (dec(col("o_totalprice")) * 100).cast("long").as("v"))
      .withColumn("digit", substring(col("v").cast("string"), 1, 1).cast("long"))
      .groupBy(col("priority"), col("digit"))
      .agg(count(lit(1)).as("o"))
    val prios = obs.select(col("priority")).distinct()
    val digits = s.range(1, 10).select(col("id").as("digit"))
    val tots = obs.groupBy(col("priority")).agg(sum(col("o")).as("prio_tot"))
    prios.crossJoin(broadcast(digits))
      .join(obs, Seq("priority", "digit"), "left_outer")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .join(broadcast(tots), Seq("priority"))
      .select("priority", "digit", "o", "prio_tot")
      .orderBy("priority", "digit")
  }

  /** One-way ANOVA sufficient statistics per market segment (round 12,
    * third session) — the PARAMETRIC twin of [[statKruskalWallis]]
    * (same grouping, same response; that key tests rank distributions,
    * this one mean levels): per segment the count, exact cents sum,
    * and exact cents sum-of-squares. The consumer forms
    * F = MSB/MSW from these cells alone (grand totals are sums of the
    * rows); Welch's heteroscedastic variant reads off the same cells
    * per group. All exact: v is integer cents, Σv² carried in
    * DECIMAL(38,0) (v² ≤ ~4·10¹⁵ and n ≤ ~10⁹ stays far under 10³⁸ —
    * the overflow headroom the runs/spearman keys lack at BIGINT) and
    * EMITTED as its exact decimal string: past int64 the engines'
    * wide-integer surface types diverge (Decimal vs HUGEINT float-ing
    * through pandas), but the digit string is portable and hashable.
    *
    * Scale: one broadcast dim join + one map-side-combined rollup to
    * ≤|segments| rows. Nothing else.
    */
  val statAnovaCells: Q = (s, dir) => {
    table(s, dir, "orders")
      .join(broadcast(table(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("segment"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("segment"), (dec(col("o_totalprice")) * 100).cast("long").as("v"))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n"),
        sum(col("v")).as("sum_cents"),
        sum(col("v").cast("decimal(38,0)") * col("v")).cast("decimal(38,0)")
          .cast("string").as("sumsq_cents"))
      .orderBy("segment")
  }

  /** Per-event-type interarrival profile (round 12, third session) —
    * the usage-cadence relation: how long between a user's consecutive
    * events of each type? Gaps in exact integer MICROSECONDS
    * (unix_micros both engines — no float epoch, no second-truncation
    * direction mismatch), per type: users with ≥2 events, gap count,
    * exact gap sum, the exact lower median gap (rank (n+1) div 2 in
    * (gap, event_id-of-the-later-event) order — the [[ordersRunsTest]]
    * convention), and the max. Types where no user repeats are absent
    * by construction (both engines inner-join the median relation).
    *
    * Scale: the lag window shuffles once on (type, user) — the
    * sessionize shape; the median rank window partitions by TYPE over
    * gap rows (≈ event count) — the winsorize caveat applies: at
    * 10⁹ gaps/type swap the median for the KLL service quantile
    * ([[SketchVariants]]). sum_gap_us overflows BIGINT only past
    * ~10⁵ user-years per type — widen to DECIMAL(38,0) there.
    */
  val eventsInterarrival: Q = (s, dir) => {
    val wSeq = Window.partitionBy(col("t"), col("u")).orderBy(col("us"), col("event_id"))
    val gaps = table(s, dir, "events")
      .select(col("event_type").as("t"), col("user_id").as("u"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(wSeq))
      .filter(col("gap").isNotNull)
    val wRank = Window.partitionBy(col("t")).orderBy(col("gap"), col("event_id"))
    val med = gaps
      .withColumn("rg", row_number().over(wRank).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("t"))))
      .filter(col("rg") === expr("(n + 1) div 2"))
      .select(col("t"), col("gap").as("med_gap_us"))
    gaps.groupBy(col("t"))
      .agg(countDistinct(col("u")).as("n_users"),
        count(lit(1)).as("n_gaps"),
        sum(col("gap")).as("sum_gap_us"),
        max(col("gap")).as("max_gap_us"))
      .join(broadcast(med), Seq("t"))
      .select(col("t").as("event_type"), col("n_users"), col("n_gaps"),
        col("sum_gap_us"), col("med_gap_us"), col("max_gap_us"))
      .orderBy("event_type")
  }

  /** Daily open-order backlog (round 12, third session) — the
    * operations curve: how many orders are in flight (ordered, not yet
    * fully shipped) on each calendar day? An order is open on
    * [o_orderdate, max(l_shipdate)] inclusive (close clamped to the
    * open day — greatest() in both engines). THE PLAN POINT: this is
    * the interval-count problem solved by EVENT DIFFERENCING, never an
    * interval×spine join (+1 at open, −1 the day after close, prefix
    * sum over the calendar spine) — and the prefix sum itself is the
    * documented TWO-LEVEL CUMULATIVE actually implemented: within
    * 512-day blocks a block-partitioned running sum, across blocks a
    * bounded triangular prefix join over the ≤|blocks| block totals
    * (broadcast) — NO unpartitioned window anywhere, at any spine
    * length. The oracle replays a straight cumulative; equality is the
    * algebraic proof the decomposition is exact.
    *
    * Emits per epoch-day d on the [min open, max close] spine:
    * opened, closed (orders closing that day), backlog. Invariants
    * spec'd: backlog ≥ 0, backlog(hi) = closed(hi), conservation
    * against a brute-force interval count.
    *
    * Scale: close dates are one map-side rollup of lineitem; deltas
    * aggregate to ≤2 rows/day; the spine is calendar-bounded. The
    * orders⋈lineitem-rollup join shuffles on orderkey — the one real
    * exchange.
    */
  val ordersOpenBacklog: Q = (s, dir) => {
    val li = table(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(max(unix_date(to_date(col("l_shipdate")))).cast("long").as("close0"))
    val o = table(s, dir, "orders")
      .select(col("o_orderkey"), unix_date(to_date(col("o_orderdate"))).cast("long").as("open_d"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .select(col("open_d"), greatest(col("close0"), col("open_d")).as("close_d"))
    val opened = o.groupBy(col("open_d").as("d")).agg(count(lit(1)).as("opened"))
    val closed = o.groupBy(col("close_d").as("d")).agg(count(lit(1)).as("closed"))
    val deltas = opened.select(col("d"), col("opened").as("delta"))
      .unionByName(closed.select((col("d") + 1).as("d"), (-col("closed")).as("delta")))
      .groupBy(col("d")).agg(sum(col("delta")).as("delta"))
    val spine = o.agg(min(col("open_d")).as("lo"), max(col("close_d")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("d"))
    val withDelta = spine.join(deltas, Seq("d"), "left_outer")
      .join(opened, Seq("d"), "left_outer")
      .join(closed, Seq("d"), "left_outer")
      .select(col("d"), coalesce(col("delta"), lit(0L)).as("delta"),
        coalesce(col("opened"), lit(0L)).as("opened"),
        coalesce(col("closed"), lit(0L)).as("closed"))
      .withColumn("y", expr("d div 512"))
    val wIn = Window.partitionBy(col("y")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perBlock = withDelta.groupBy(col("y")).agg(sum(col("delta")).as("block_tot"))
    val base = perBlock.as("a")
      .join(broadcast(perBlock.as("b")), col("b.y") < col("a.y"), "left_outer")
      .groupBy(col("a.y").as("y"))
      .agg(coalesce(sum(col("b.block_tot")), lit(0L)).as("base"))
    withDelta
      .withColumn("cum_in", sum(col("delta")).over(wIn))
      .join(broadcast(base), Seq("y"))
      .select(col("d"), col("opened"), col("closed"),
        (col("base") + col("cum_in")).as("backlog"))
      .orderBy("d")
  }

  /** Herfindahl–Hirschman engagement concentration per event type
    * (round 12, fourth session) — the market-concentration standard
    * applied to user activity: HHI = Σᵢ shareᵢ² over users, the
    * SQUARED-share complement of `events_gini_activity` (Gini ranks,
    * HHI squares — a few mega-users move HHI much harder; antitrust
    * thresholds 0.15/0.25 read directly). Emitted as exact integer
    * cells (n_users, total, sum_sq = Σcntᵢ²) plus the single double
    * division sum_sq/total² (deterministic IEEE of exact longs —
    * the fertility-key discipline; 1/n_users ≤ hhi ≤ 1 spec'd).
    * Overflow: sum_sq ≤ total·max_cnt < 2⁶³ up to ~10⁹ events/type
    * at 10⁹-event users; past that, DECIMAL(38,0) digit strings (the
    * ANOVA discipline).
    *
    * Scale: one map-side (type, user) rollup, one map-side Σcnt²
    * rollup to |types| cells. No window, no join.
    */
  val eventsHhiConcentration: Q = (s, dir) => {
    table(s, dir, "events")
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("cnt")).as("total"),
        sum(col("cnt") * col("cnt")).as("sum_sq"))
      .withColumn("hhi",
        col("sum_sq").cast("double") / (col("total") * col("total")).cast("double"))
      .orderBy("event_type")
  }

  /** Seasonal-naive forecast backtest (round 12, fourth session) —
    * the baseline every real forecaster must beat, backtested over
    * the corpus's own history: for each event type, the lag-7
    * CALENDAR forecast (ŷ(d) = y(d−7)) and the lag-1 persistence
    * forecast (ŷ(d) = y(d−1)) are scored on every day where both the
    * actual and the forecast source exist (calendar JOINS, not row
    * lags — the `time_series_autocorr` gap caveat engineered away:
    * a missing day simply contributes no evaluation row instead of
    * silently misaligning). Emitted per type: evaluation counts,
    * Σ|err|, Σerr (bias), max|err|, and Σactual — all exact integers;
    * the consumer forms MAE/WAPE/bias in its own float regime.
    * sae7 < sae1 is the "weekly structure is real" read, the
    * operational twin of `events_seasonality_hourly`.
    *
    * Scale: one map-side rollup to |types|·|days| cells, two
    * self-joins ON THE ROLLUP (calendar-key equi-joins), one final
    * |types|-cell agg. Nothing touches raw events twice.
    */
  val eventsSnaiveBacktest: Q = (s, dir) => {
    val daily = EventsBase.dailyCounts(s, dir)
      .withColumnRenamed("epoch_day", "d")
    def lagged(k: Int) = daily
      .select(col("event_type"), (col("d") + k).as("d"), col("cnt").as(s"prev$k"))
    daily
      .join(lagged(7), Seq("event_type", "d"), "left_outer")
      .join(lagged(1), Seq("event_type", "d"), "left_outer")
      .groupBy(col("event_type"))
      .agg(
        count(when(col("prev7").isNotNull, 1)).as("n7"),
        sum(when(col("prev7").isNotNull, abs(col("cnt") - col("prev7")))).as("sae7"),
        sum(when(col("prev7").isNotNull, col("cnt") - col("prev7"))).as("bias7"),
        max(when(col("prev7").isNotNull, abs(col("cnt") - col("prev7")))).as("maxae7"),
        count(when(col("prev1").isNotNull, 1)).as("n1"),
        sum(when(col("prev1").isNotNull, abs(col("cnt") - col("prev1")))).as("sae1"),
        sum(when(col("prev1").isNotNull, col("cnt") - col("prev1"))).as("bias1"),
        max(when(col("prev1").isNotNull, abs(col("cnt") - col("prev1")))).as("maxae1"),
        sum(when(col("prev7").isNotNull, col("cnt"))).as("sum_actual7"))
      .orderBy("event_type")
  }

  /** Daily peak session concurrency (round 12, fourth session) — the
    * capacity-planning curve: the maximum number of SIMULTANEOUSLY
    * open sessions each day, where sessions are the
    * [[Windows.eventsSessionize]] 30-minute-gap intervals
    * [first event, last event] (same definition, replayed by the
    * oracle). The interval-count discipline of [[ordersOpenBacklog]]
    * at MICROSECOND resolution: +1 at session start, −1 at end+1µs,
    * deltas pre-aggregated per distinct timestamp (simultaneous
    * boundaries are order-free by construction), then the two-level
    * cumulative with CALENDAR DAYS as the blocks — within-day running
    * sum partitioned by day, cross-day carry via the bounded
    * triangular prefix join over per-day totals (broadcast; days are
    * calendar-bounded) — NO unpartitioned window at any event volume.
    * The day peak compares the carry-in (day-start concurrency)
    * against every boundary prefix, so a day whose first move is a
    * session END still reports its true start-of-day peak. Days with
    * zero boundary events are absent by construction (their
    * concurrency is constant = the neighbor's carry).
    *
    * Oracle replays a straight per-day cumulative over the same
    * deltas — equality is the algebraic proof of the day-block
    * decomposition, as with the backlog key.
    */
  val eventsPeakConcurrency: Q = (s, dir) => {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val gapUs = unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(byUser))
    val sess = table(s, dir, "events")
      .withColumn("brk",
        when(gapUs.isNull.or(gapUs > lit(30L * 60L * 1000000L)), 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("brk")).over(byUser))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(min(unix_micros(col("ts"))).as("a"), max(unix_micros(col("ts"))).as("b"))
    val deltas = sess.select(col("a").as("us"), lit(1L).as("delta"))
      .unionByName(sess.select((col("b") + 1).as("us"), lit(-1L).as("delta")))
      .groupBy(col("us")).agg(sum(col("delta")).as("delta"))
      .withColumn("d", expr("us div 86400000000"))
    val perDay = deltas.groupBy(col("d")).agg(sum(col("delta")).as("day_tot"))
    val carry = perDay.as("a")
      .join(broadcast(perDay.as("b")), col("b.d") < col("a.d"), "left_outer")
      .groupBy(col("a.d").as("d"))
      .agg(coalesce(sum(col("b.day_tot")), lit(0L)).as("carry_in"))
    val wIn = Window.partitionBy(col("d")).orderBy(col("us"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas
      .withColumn("cum_in", sum(col("delta")).over(wIn))
      .join(broadcast(carry), Seq("d"))
      .groupBy(col("d"))
      .agg(count(lit(1)).as("n_bounds"),
        max(col("carry_in")).as("carry_in"),
        greatest(max(col("carry_in")),
          max(col("carry_in") + col("cum_in"))).as("peak"))
      .orderBy("d")
  }

  /** Categorical mix-drift monitor (round 12, third session) — the
    * distribution-shift screen a pipeline runs on its own dimensions:
    * per order-month, the KL divergence (bits) of that month's
    * order-priority mix from the all-time mix. KL ≈ 0 ⇒ the month is
    * distributionally ordinary; a spike marks a regime change
    * (campaign, backlog policy, data bug) — the temporal twin of
    * [[InfoTheory.textKlDivergence]]'s domain-purity screen, and the
    * same exact fixed-point machinery: every log argument is an
    * INTEGER count, terms go negative so nothing divides until the
    * single emitted double Σ/(n·2²⁰) (identical IEEE op both
    * engines).
    *
    * Scale: one (month, priority) rollup (map-side combined,
    * dimension-bounded cells); the marginals re-aggregate the cells
    * and broadcast back. Nothing corpus-sized past the first rollup.
    */
  val ordersMixDrift: Q = (s, dir) => {
    import graft.functions.NumericExpressions.log2Fixed
    val counts = table(s, dir, "orders")
      .select(date_format(to_date(col("o_orderdate")), "yyyy-MM").as("month"),
        col("o_orderpriority").as("priority"))
      .groupBy(col("month"), col("priority"))
      .agg(count(lit(1)).as("c"))
    val corpus = counts.groupBy(col("priority")).agg(sum(col("c")).as("ctot"))
    val monthTot = counts.groupBy(col("month")).agg(sum(col("c")).as("n"))
    val grand = monthTot.agg(sum(col("n")).as("ntot"))
    counts
      .join(broadcast(corpus), "priority")
      .join(broadcast(monthTot), "month")
      .join(broadcast(grand))
      .withColumn("term", col("c") *
        (log2Fixed(col("c")) + log2Fixed(col("ntot"))
          - log2Fixed(col("n")) - log2Fixed(col("ctot"))))
      .groupBy(col("month"))
      .agg(max(col("n")).as("n_orders"), sum(col("term")).as("num"))
      .select(col("month"), col("n_orders"),
        (col("num").cast("double") / (col("n_orders") * lit(1048576L)).cast("double"))
          .as("kl_bits"))
      .orderBy("month")
  }

  /** Log-log price elasticity of demand per brand (round 13) — the
    * retail-economics regression beside [[Stats.statLinregGroup]]'s
    * plain OLS: per (brand, ship-month) cell the realized unit price
    * is rev/qty and demand is qty, and the elasticity is the
    * least-squares slope of ln(qty) on ln(price) across the brand's
    * months. On the fixed-point chain the log of the RATIO is the
    * exact integer difference L(rev_cents) − L(q_units), so both
    * regression coordinates are integers:
    *
    *   x = (L(rev_cents) − L(q_units)) >> 10,  y = L(q_units) >> 10
    *
    * and the slope ships as the EXACT integer rational
    * slope_num = n·Σxy − Σx·Σy, slope_den = n·Σx² − (Σx)² — the
    * consumer divides (elasticity ≈ slope; a negative value is the
    * economically expected sign). The >>10 keeps all products far
    * inside int64 (x, y < 2⁶·2¹⁰; n ≤ months). Degenerate brands
    * (single month or constant price → den 0) are dropped like
    * `text_zipf_slope`'s one-token slices — both engines share the
    * predicate.
    *
    * Scale: one broadcast part-dim join on the fact scan, one
    * map-side-combined (brand, month) rollup (dimension×calendar-
    * bounded cells), logs evaluated once per CELL, then a |brands|
    * rollup. Nothing corpus-sized past the first aggregation.
    */
  val ordersPriceElasticity: Q = (s, dir) => {
    import graft.functions.NumericExpressions.log2Fixed
    val cells = table(s, dir, "lineitem")
      .join(broadcast(table(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"),
        date_format(to_date(col("l_shipdate")), "yyyy-MM").as("month"))
      .agg(sum(dec(col("l_quantity"))).cast("long").as("q_units"),
        (sum(dec(col("l_extendedprice"))) * 100).cast("long").as("rev_cents"))
      .filter(col("q_units") > 0 && col("rev_cents") > 0)
      .select(col("brand"),
        shiftright(log2Fixed(col("rev_cents")) - log2Fixed(col("q_units")), 10).as("x"),
        shiftright(log2Fixed(col("q_units")), 10).as("y"))
    cells.groupBy(col("brand"))
      .agg(count(lit(1)).as("n_months"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("slope_num", col("n_months") * col("sxy") - col("sx") * col("sy"))
      .withColumn("slope_den", col("n_months") * col("sxx") - col("sx") * col("sx"))
      .filter(col("slope_den") =!= 0)
      .select("brand", "n_months", "slope_num", "slope_den")
      .orderBy("brand")
  }

  /** Exact Shapley-value attribution over the event-type channels —
    * the game-theoretic answer to "which channels actually drive
    * purchases?" that last-touch (`events_attribution`) structurally
    * cannot give (it awards the whole conversion to whoever was
    * nearest the purchase):
    *
    *   v(S)  = converted users whose pre-conversion touchset ⊆ S
    *   φ_c   = Σ_{S ⊆ C∖{c}} |S|!·(|C|−1−|S|)!/|C|! · (v(S∪{c}) − v(S))
    *
    * with C the non-purchase channels and the touchset = the DISTINCT
    * channel set seen strictly before the user's FIRST purchase.
    * EXACT: φ is emitted ×|C|! (24 here) so every weight is an
    * integer; the efficiency axiom Σφ = v(C) − v(∅) (conversions no
    * channel can claim — users who bought untouched — stay
    * unattributed by design) is spec-asserted as the ×24 identity.
    *
    * Channel→bit mapping is the alphabetical rank (deterministic,
    * no hardcoded names; oracle replays the same rank). The shape:
    * ONE user-grain rollup (first purchase ts + pre-purchase type
    * bitmask via bit_or) collapses the corpus to ≤2^|C| mask counts;
    * everything after — v(S) via the mask⊆S containment join, the
    * marginal enumeration — is arithmetic on ≤16×16 literal-sized
    * relations. Practical bound documented: 2^|C| state caps the
    * method at ~20 channels (the method's own limit, not the
    * plan's).
    */
  val eventsShapleyAttribution: Q = (s, dir) => {
    val e = table(s, dir, "events")
    val chTypes = e.select(col("event_type").as("t")).distinct()
      .filter(col("t") =!= "purchase")
    // alphabetical bit rank WITHOUT a window (the global-sort gate
    // bans unpartitioned windows even over a ≤5-row dim): bit(t) =
    // count of channels strictly below t — a tiny theta self-join
    val nCh = 4 // |C| on this corpus; the ×24 = 4! scale is pinned to it
    // the lattice, factorial weights, and popS CASE below are all
    // pinned to nCh — a corpus with a different non-purchase type
    // count would be SILENTLY wrong (bits ≥ nCh fall outside the
    // subset range; fewer types skew the weights), so the pin is
    // asserted IN-PLAN (r12 ADVICE): assert_true returns null when
    // the count matches and raises before any wrong row can form
    val channels = chTypes
      .join(chTypes.select(col("t").as("t2")), col("t2") < col("t"), "left")
      .groupBy(col("t")).agg(count(col("t2")).as("bit"))
      .crossJoin(broadcast(chTypes.agg(count(lit(1)).as("n_ch"))))
      .filter(assert_true(col("n_ch") === nCh,
        concat(lit("eventsShapleyAttribution: subset lattice pinned to nCh=4 "),
          lit("but the corpus has "), col("n_ch"),
          lit(" non-purchase event types — re-derive nCh"))).isNull)
      .drop("n_ch")
    val firstBuy = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("ts")).as("buy_ts"))
    val masks = e
      .join(broadcast(channels), col("event_type") === col("t"))
      .join(firstBuy, "user_id")
      .filter(col("ts") < col("buy_ts"))
      .groupBy(col("user_id"))
      .agg(bit_or(expr("shiftleft(1L, CAST(bit AS INT))")).as("mask"))
    // converted users with EMPTY touchsets never reach `masks` —
    // re-attach them at mask 0 (they fund v(∅), the unattributable
    // baseline)
    val convMask = firstBuy.join(masks, Seq("user_id"), "left")
      .select(coalesce(col("mask"), lit(0L)).as("mask"))
      .groupBy(col("mask")).agg(count(lit(1)).as("m"))
    val subsets = s.range(1L << nCh).select(col("id").as("s"))
    // containment mask ⊆ S ⟺ mask & S = mask
    val v = subsets.join(broadcast(convMask),
        col("mask").bitwiseAND(col("s")) === col("mask"), "left")
      .groupBy(col("s")).agg(coalesce(sum(col("m")), lit(0L)).as("v"))
      .localCheckpoint() // ≤2^|C| rows, read twice below
    val fact = (0 to nCh).map(k => (1 to k).product.toLong)
    val wCase = (1 until nCh).foldLeft(
      when(col("popS") === 0, lit(fact(0) * fact(nCh - 1)))) { (acc, k) =>
      acc.when(col("popS") === k, lit(fact(k) * fact(nCh - 1 - k)))
    }
    channels
      .crossJoin(broadcast(v.select(col("s"), col("v").as("vS"))))
      .filter(col("s").bitwiseAND(expr("shiftleft(1L, CAST(bit AS INT))")) === 0L)
      .join(broadcast(v.select(col("s").as("sc"), col("v").as("vSc"))),
        col("sc") === col("s") + expr("shiftleft(1L, CAST(bit AS INT))"))
      .withColumn("popS", bit_count(col("s")).cast("long"))
      .withColumn("term", wCase * (col("vSc") - col("vS")))
      .groupBy(col("t").as("channel"), col("bit"))
      .agg(sum(col("term")).as("phi_x24"))
      .orderBy("channel")
  }

  /** SAMPLED-permutation Shapley attribution (round 13 — §8.r13
    * item 15 executed): the estimator that serves channel
    * vocabularies beyond [[eventsShapleyAttribution]]'s 2^|C|
    * power-set cap (~20 channels). φ_c = E_π[v(pred_π(c) ∪ {c}) −
    * v(pred_π(c))] over uniformly random permutations π; here the
    * permutations are HASH-SEEDED (channel order within permutation
    * p = md5 rank under a fixed salt) — deterministic, engine-
    * independent, and therefore ORACLE-ABLE even though the method
    * is Monte Carlo: both engines sample the identical permutation
    * set, so the integer cells hash-match (the sample_hash_split
    * discipline applied to permutation sampling; the STATISTICAL
    * error vs the true Shapley value is what the spec bounds against
    * the exact key).
    *
    * Emits per channel the bit rank, n_perms, and the INTEGER
    * marginal sum Σ_π (v(prefix_π(c)) − v(prefix_π(c)∖{c})) — the
    * consumer divides by n_perms. v(S) = converted users whose
    * pre-purchase touchset ⊆ S, computed on the ≤min(users, 2^|C|)
    * mask-count relation exactly as the exact key does.
    *
    * Scale: the mask rollup is the only corpus-sized pass. The
    * permutation lattice is P·|C| rows (windows partitioned per
    * permutation — |C|-row partitions); the containment evaluation
    * is masks × (P·|C|) via a broadcast nested loop — P is the
    * accuracy dial (stderr ∝ 1/√P), and at |C| where this key is
    * the only option the exact key's 2^|C| state does not exist at
    * all. No dimension pin: |C| is derived from the corpus, unlike
    * the exact key's asserted nCh = 4.
    */
  val eventsShapleySampled: Q = (s, dir) =>
    shapleySampledOver(table(s, dir, "events"), nPerms = 240)

  /** The sampled estimator over an arbitrary events relation —
    * exposed so consumers with wide channel vocabularies (the
    * exact key's 2^|C| wall) can dial P themselves;
    * BASELINE.md's r13 sampled-Shapley row runs it at 16 channels
    * where the power-set method would need 65k subset states.
    */
  def shapleySampledOver(e: org.apache.spark.sql.DataFrame,
      nPerms: Int): org.apache.spark.sql.DataFrame = {
    val s = e.sparkSession
    val chTypes = e.select(col("event_type").as("t")).distinct()
      .filter(col("t") =!= "purchase")
    val channels = chTypes
      .join(chTypes.select(col("t").as("t2")), col("t2") < col("t"), "left")
      .groupBy(col("t")).agg(count(col("t2")).as("bit"))
    val firstBuy = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("ts")).as("buy_ts"))
    val masks = e
      .join(broadcast(channels), col("event_type") === col("t"))
      .join(firstBuy, "user_id")
      .filter(col("ts") < col("buy_ts"))
      .groupBy(col("user_id"))
      .agg(bit_or(expr("shiftleft(1L, CAST(bit AS INT))")).as("mask"))
    val maskCounts = firstBuy.join(masks, Seq("user_id"), "left")
      .select(coalesce(col("mask"), lit(0L)).as("mask"))
      .groupBy(col("mask")).agg(count(lit(1)).as("m"))
    // hash-seeded permutation lattice: P·|C| rows, windows per perm
    val wPerm = Window.partitionBy(col("p")).orderBy(col("h"), col("t"))
    val prefixes = s.range(nPerms.toLong).select(col("id").as("p"))
      .crossJoin(broadcast(channels))
      .withColumn("h", md5(concat_ws("|", lit("graft-shapley-perm"),
        col("p").cast("string"), col("t"))))
      .withColumn("pmask", bit_or(expr("shiftleft(1L, CAST(bit AS INT))"))
        .over(wPerm.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("prevmask", col("pmask") - expr("shiftleft(1L, CAST(bit AS INT))"))
      .select(col("p"), col("t"), col("bit"), col("pmask"), col("prevmask"))
    maskCounts.crossJoin(broadcast(prefixes))
      .withColumn("marginal",
        when(col("mask").bitwiseAND(col("pmask")) === col("mask"), col("m"))
          .otherwise(lit(0L)) -
        when(col("mask").bitwiseAND(col("prevmask")) === col("mask"), col("m"))
          .otherwise(lit(0L)))
      .groupBy(col("t").as("channel"), col("bit"))
      .agg(sum(col("marginal")).as("phi_sum"))
      .withColumn("n_perms", lit(nPerms.toLong))
      .select("channel", "bit", "n_perms", "phi_sum")
      .orderBy("channel")
  }

  /** Mutual-information cells for segment × priority — the
    * INFORMATION-THEORETIC sibling of [[statChi2Cells]] on the same
    * kind of contingency grid (χ² asks "how far from independence in
    * squared-error units?"; MI asks "how many BITS does knowing the
    * segment tell you about the priority?"):
    *
    *   MI = Σ_xy p(xy)·log₂(p(xy)·N / (r_x·c_y))
    *
    * Each observed cell is emitted with its exact integer term
    * c_xy·(L(c_xy·N) − L(r_x·c_y)) on the fixed-point chain (the
    * `orders_mix_drift` idiom) — the consumer's MI is Σ term /
    * (N·2²⁰), and NEGATIVE terms (cells below independence) carry
    * real signal, so nothing clamps. Zero cells contribute exactly 0
    * to MI (lim p→0 p·log p = 0) and are omitted — unlike χ², where
    * dropping them under-counts (documented asymmetry with the chi2
    * key). Products c_xy·N, r_x·c_y int64-safe to N ≈ 3·10⁹.
    *
    * Scale: one map-side rollup to |segments|·|priorities| cells,
    * two marginal re-rollups, broadcast scalars, the log chain in
    * codegen on ≤25 rows.
    */
  val statMutualInfoCells: Q = (s, dir) => {
    import graft.functions.NumericExpressions.log2Fixed
    val cells = table(s, dir, "orders")
      .join(broadcast(table(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("segment"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("segment"), col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("c"))
    val rx = cells.groupBy(col("segment")).agg(sum(col("c")).as("r"))
    val cy = cells.groupBy(col("priority")).agg(sum(col("c")).as("cc"))
    val n = cells.agg(sum(col("c")).as("n"))
    cells
      .join(broadcast(rx), "segment")
      .join(broadcast(cy), "priority")
      .join(broadcast(n))
      .select(col("segment"), col("priority"), col("c"), col("r"),
        col("cc").as("c_col"), col("n"),
        (col("c") * (log2Fixed(col("c") * col("n"))
          - log2Fixed(col("r") * col("cc")))).as("term_num"))
      .orderBy("segment", "priority")
  }

  /** Brown–Forsythe (median-centered Levene) sufficient statistics
    * per market segment (round 12, third session) — the variance-
    * homogeneity gatekeeper for [[statAnovaCells]] (ANOVA's F assumes
    * equal group variances; this is the robust test OF that
    * assumption): per segment n, the exact lower median (the
    * [[ordersRunsTest]] convention), Σ|v−med| in exact cents, and
    * Σ(v−med)² emitted as the exact decimal string (the ANOVA-cells
    * overflow discipline). The consumer forms the BF statistic from
    * the cells; using medians (not means) is what makes it robust —
    * and what reuses the median machinery this family already
    * carries.
    *
    * Scale (round 16 — volume-gated like the SpineRank family): the
    * per-segment median dispatches on measured group volume between
    * the rank window (gate SFs — cheapest constant) and
    * [[SpineRank.exactQuantiles]]' count-balanced bucketed form
    * (count-bounded phases, parallelism |segments|·nB) above
    * [[SpineRank.WindowSpineRows]] — both exact: the value at rank
    * ⌈n/2⌉ is an order statistic, tiebreak-independent, and the
    * bucketed rank test `100·cum ≥ 50·tot` lands on the same rank.
    * Then a broadcast join back and one map-side rollup.
    */
  val statLeveneCells: Q = (s, dir) => {
    val o = table(s, dir, "orders")
      .join(broadcast(table(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("segment"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("segment"), col("o_orderkey"),
        (dec(col("o_totalprice")) * 100).cast("long").as("v"))
      .localCheckpoint() // probe + median + final rollup all read it
    val med =
      if (SpineRank.maxGroupRows(o, Seq("segment")) <= SpineRank.WindowSpineRows) {
        val wVal = Window.partitionBy(col("segment"))
          .orderBy(col("v"), col("o_orderkey"))
        o.withColumn("rv", row_number().over(wVal).cast("long"))
          .withColumn("n", count(lit(1)).over(Window.partitionBy(col("segment"))))
          .filter(col("rv") === expr("(n + 1) div 2"))
          .select(col("segment"), col("v").as("med"))
      } else {
        SpineRank.exactQuantiles(o, Seq("segment"), "v", lit(1L), Seq(50))
          .select(col("segment"), col("qv").as("med"))
      }
    o.join(broadcast(med), Seq("segment"))
      .withColumn("d", abs(col("v") - col("med")))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n"),
        max(col("med")).as("med_cents"),
        sum(col("d")).as("sum_dev_cents"),
        sum(col("d").cast("decimal(38,0)") * col("d")).cast("decimal(38,0)")
          .cast("string").as("sumsq_dev_cents"))
      .orderBy("segment")
  }

  /** Recency-decayed engagement leaderboard (round 12, third
    * session) — the feature-engineering staple no other key covers:
    * per event type, the top-10 users by EXPONENTIALLY TIME-DECAYED
    * event mass (half-life 7 days), the score a ranking/serving
    * pipeline wants instead of raw counts (which never forget). The
    * whole pipeline is exact integer fixed-point cross-engine:
    * "now" is the corpus max timestamp (deterministic, relative —
    * never wall clock), age in whole days, h = age·2²⁰ div 7 clamped
    * to the exp2 domain, and the decayed weight is
    * w₂₀ = 2⁴⁰ div exp2_fixed(h) — the RECIPROCAL of the grown
    * exponential, because [[graft.functions.NumericExpressions
    * .Exp2Fixed]]'s domain is nonnegative; identical floor division
    * in both engines, with w₂₀ hitting exact 0 past ~20 half-lives
    * (the natural cutoff — no shift-overflow edge anywhere).
    * score₂₀ = Σw₂₀ per (type, user); emitted per type: rank,
    * user, raw n_events, score₂₀ (consumer divides by 2²⁰).
    *
    * Scale: one (type, user) rollup (map-side combined) with the
    * scalar decay chain inside codegen; the top-10 runs through
    * [[SpineRank.topK]]'s volume-gated dispatch (round 16 — the
    * per-type rank window at gate SFs, the salted two-level top-k
    * above [[SpineRank.WindowSpineRows]]: per-(type, salt) top-10
    * first, then the final window over ≤ |types|·salts·10 survivors
    * — exact for any salt assignment, since each salt partition's
    * top-10 contains its members of the global top-10). The 1-row
    * "now" rides a broadcast.
    */
  val eventsDecayEngagement: Q = (s, dir) => {
    import graft.functions.NumericExpressions.exp2Fixed
    val e = table(s, dir, "events")
      .select(col("event_type").as("t"), col("user_id").as("u"),
        unix_micros(col("ts")).as("us"))
    val now = e.agg(max(col("us")).as("now_us"))
    val scored = e.crossJoin(broadcast(now))
      .withColumn("age_d", expr("(now_us - us) div 86400000000"))
      .withColumn("h", least(expr("age_d * 1048576 div 7"), lit(42L * 1048576L)))
      .withColumn("e2", exp2Fixed(col("h")))
      .withColumn("w20", expr("1099511627776 div e2"))
      .groupBy(col("t"), col("u"))
      .agg(count(lit(1)).as("n_events"), sum(col("w20")).as("score20"))
    SpineRank.topK(scored, Seq("t"),
        Seq(col("score20").desc, col("u")), 10, xxhash64(col("u")))
      .select(col("t").as("event_type"), col("rk").cast("long").as("rn"),
        col("u").as("user_id"), col("n_events"), col("score20"))
      .orderBy("event_type", "rn")
  }

  /** Poisson-bootstrap confidence interval for the segment mean order
    * value (round 12, third session) — THE distributed bootstrap: a
    * classical resample needs n draws WITH replacement from a corpus
    * no node holds, but Poisson(1) per-row replicate weights are
    * independent per row, so every replicate is one map-side weighted
    * partial — B× compute inside the scan, and the exchange carries
    * only |segments|·B weighted-sum cells, never a resampled corpus.
    * That economics is the whole point at 100 TB (B=200 here).
    *
    * Deterministic, seeded (NO-ORACLE KEY, §7.4 seeded family):
    * weights come from xxhash64(orderkey, replicate) inverse-CDF'd
    * through fixed ppm thresholds of the Poisson(1) CDF — bit-stable
    * across runs and partitionings (prop-tested: exact replay,
    * run-to-run equality, CI brackets the true mean, width shrinks
    * with √n).
    *
    * Emits per segment: n, the exact mean (cents, double), and the
    * 2.5 %/97.5 % replicate-mean percentiles (the 95 % CI). Replicate
    * means divide inside the row (double) — the one float step,
    * deterministic given the integer cells.
    */
  val statBootstrapCi: Q = (s, dir) => {
    val B = 200
    // cumulative ppm thresholds of Poisson(1): P(X<=k)
    val cdf = Seq(367879L, 735759L, 919699L, 981012L, 996340L, 999406L,
      999917L, 999990L)
    val o = table(s, dir, "orders")
      .join(broadcast(table(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("segment"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("segment"), col("o_orderkey"),
        (dec(col("o_totalprice")) * 100).cast("long").as("v"))
    val exact = o.groupBy(col("segment"))
      .agg(count(lit(1)).as("n"),
        (sum(col("v")).cast("double") / count(lit(1)).cast("double"))
          .as("mean_cents"))
    val u = pmod(xxhash64(col("o_orderkey"), col("r"), lit("graft-boot")),
      lit(1000000L))
    val w = cdf.zipWithIndex.foldRight(lit(cdf.length.toLong)) {
      case ((thr, k), rest) => when(u < thr, k.toLong).otherwise(rest)
    }
    val reps = o
      .withColumn("r", explode(sequence(lit(0), lit(B - 1))))
      .withColumn("w", w)
      .groupBy(col("segment"), col("r"))
      .agg((sum(col("w") * col("v")).cast("double") /
        sum(col("w")).cast("double")).as("mean_r"))
    val wRank = Window.partitionBy(col("segment")).orderBy(col("mean_r"))
    val ci = reps
      .withColumn("rk", row_number().over(wRank))
      .groupBy(col("segment"))
      .agg(min(when(col("rk") === (B * 25 / 1000).max(1), col("mean_r")))
        .as("ci_lo"),
        min(when(col("rk") === (B * 975 / 1000), col("mean_r"))).as("ci_hi"))
    exact.join(broadcast(ci), Seq("segment"))
      .select(col("segment"), col("n"), col("mean_cents"),
        col("ci_lo"), col("ci_hi"))
      .orderBy("segment")
  }

  /** Exact DAU / trailing-30-day MAU per day (round 12, third
    * session) — the stickiness denominator pair (`events_dau_wau`
    * fixes ONE window; this emits the full per-day curve): for every
    * active day, the exact distinct users that day and over
    * [d−29, d]. Distinct counts over overlapping windows are not
    * additive, so the exact form expands the DISTINCT (day, user)
    * relation through a bounded RANGE JOIN onto the day spine (≤30×
    * the deduped pair count — instances dedup FIRST, the fan-out
    * never touches raw event rows) and re-distincts per window.
    *
    * THE SCALE STORY IS THE SERVICE: this key is the exact
    * counterpart of [[CardinalityService.rollingDistinct]] (window=30)
    * — at 100 TB serve the curve from stored per-day HLL registers
    * (merge, never rescan; the r12 fixture measured ~90× for the
    * curve) and keep this exact form for backfills/audits. The same
    * exact↔sketched pairing as `events_type_overlap` ↔
    * `pairOverlapEstimates`.
    */
  val eventsStickiness: Q = (s, dir) => {
    val du = table(s, dir, "events")
      .select(unix_date(to_date(col("ts"))).cast("long").as("d"),
        col("user_id").as("u"))
      .distinct()
    val days = du.select(col("d")).distinct()
    val dau = du.groupBy(col("d")).agg(count(lit(1)).as("dau"))
    // fan each (day, user) pair out to the ≤30 spine days it serves
    // (explode + semi-join, never a theta join — a range-condition
    // nested loop would compare every pair against every day), then
    // re-distinct per window: a (d,u) pair active on several days of
    // one window must count once
    val mau = du
      .withColumn("spine_d", explode(sequence(col("d"), col("d") + 29)))
      .join(days.withColumnRenamed("d", "spine_d"), Seq("spine_d"), "left_semi")
      .select(col("spine_d"), col("u")).distinct()
      .groupBy(col("spine_d")).agg(count(lit(1)).as("mau30"))
    dau.join(mau, col("d") === col("spine_d"))
      .select(col("d"), col("dau"), col("mau30"))
      .orderBy("d")
  }

  /** Order-fulfillment SLA cells per priority class (round 12, third
    * session) — the operations twin of [[ordersOpenBacklog]] on the
    * same interval model (open = o_orderdate, close = max l_shipdate,
    * clamped): per priority the count, exact total lag days, the
    * exact lower-median lag, the lower-p90 lag (rank (9n+9) div 10 —
    * i.e. the value at ceil(0.9n), documented and replayed
    * identically), and the max. The p90-vs-median gap is the SLA
    * tail a fulfillment planner watches per priority class.
    *
    * Scale: the lineitem close-date rollup + one orderkey join (the
    * backlog exchange); the rank window partitions by priority
    * — and lag is measured in DAYS, so the rank math runs on the
    * DISTINCT-LAG spine (round 13, the stat-spine discipline: the
    * value at integer rank k is the spine row with cum−m < k ≤ cum;
    * ties share a value, so the order statistic is tiebreak-
    * independent), a calendar-bounded partition per priority rather
    * than the old order-count-sized sort; cells are map-side.
    */
  val ordersFulfillmentLag: Q = (s, dir) => {
    val li = table(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(max(unix_date(to_date(col("l_shipdate")))).cast("long").as("close0"))
    val o = table(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority").as("priority"),
        unix_date(to_date(col("o_orderdate"))).cast("long").as("open_d"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .select(col("priority"), col("o_orderkey"),
        (greatest(col("close0"), col("open_d")) - col("open_d")).as("lag_d"))
    val wCum = Window.partitionBy(col("priority")).orderBy(col("lag_d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val spine = o.groupBy(col("priority"), col("lag_d"))
      .agg(count(lit(1)).as("m"))
      .withColumn("cum", sum(col("m")).over(wCum))
      .withColumn("n", sum(col("m")).over(Window.partitionBy(col("priority"))))
    val bounds = spine.groupBy(col("priority")).agg(
      max(when(expr("cum - m < (n + 1) div 2")
        && expr("(n + 1) div 2 <= cum"), col("lag_d"))).as("med_lag_days"),
      max(when(expr("cum - m < (9 * n + 9) div 10")
        && expr("(9 * n + 9) div 10 <= cum"), col("lag_d"))).as("p90_lag_days"))
    o.groupBy(col("priority"))
      .agg(count(lit(1)).as("n"), sum(col("lag_d")).as("sum_lag_days"),
        max(col("lag_d")).as("max_lag_days"))
      .join(broadcast(bounds), Seq("priority"))
      .select(col("priority"), col("n"), col("sum_lag_days"),
        col("med_lag_days"), col("p90_lag_days"), col("max_lag_days"))
      .orderBy("priority")
  }

  val queries: Map[String, Q] = Map(
    "orders_fulfillment_lag" -> ordersFulfillmentLag,
    "events_stickiness" -> eventsStickiness,
    "stat_bootstrap_ci" -> statBootstrapCi,
    "events_decay_engagement" -> eventsDecayEngagement,
    "orders_mix_drift" -> ordersMixDrift,
    "stat_levene_cells" -> statLeveneCells,
    "stat_anova_cells" -> statAnovaCells,
    "events_interarrival" -> eventsInterarrival,
    "orders_open_backlog" -> ordersOpenBacklog,
    "orders_pareto_share" -> ordersParetoShare,
    "events_burst_days" -> eventsBurstDays,
    "events_theilsen_trend" -> eventsTheilsenTrend,
    "stat_mann_kendall" -> statMannKendall,
    "orders_abc_xyz" -> ordersAbcXyz,
    "events_lifecycle_states" -> eventsLifecycleStates,
    "stat_mutual_info_cells" -> statMutualInfoCells,
    "events_shapley_attribution" -> eventsShapleyAttribution,
    "events_shapley_sampled" -> eventsShapleySampled,
    "orders_price_elasticity" -> ordersPriceElasticity,
    "events_peak_concurrency" -> eventsPeakConcurrency,
    "events_snaive_backtest" -> eventsSnaiveBacktest,
    "events_hhi_concentration" -> eventsHhiConcentration,
    "stat_chi2_cells" -> statChi2Cells,
    "sample_bottomk_stratified" -> sampleBottomkStratified,
    "stat_mann_whitney" -> statMannWhitney,
    "stat_ks_test" -> statKsTest,
    "events_cusum_changepoint" -> eventsCusumChangepoint,
    "orders_survival_km" -> ordersSurvivalKm,
    "stat_logrank_cells" -> statLogrankCells,
    "stat_kruskal_wallis" -> statKruskalWallis,
    "stat_spearman_cells" -> statSpearmanCells,
    "events_gini_activity" -> eventsGiniActivity,
    "events_type_overlap" -> eventsTypeOverlap,
    "orders_cohort_ltv" -> ordersCohortLtv,
    "orders_theil_decomposition" -> ordersTheilDecomposition,
    "orders_runs_test" -> ordersRunsTest,
    "orders_benford_digits" -> ordersBenfordDigits,
  )
}
