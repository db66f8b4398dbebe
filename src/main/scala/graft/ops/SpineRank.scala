package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Volume-gated cumulative/rank machinery for the order-statistic
  * family (round 16 — the r15 verdict's top item): the stat keys'
  * distinct-value spines (`stat_winsorize`, `stat_spearman_cells`,
  * `events_gini_activity`, the survival/Mann–Whitney/KS spines) all
  * end in `sum(...) over (partition by group order by value)`, whose
  * physical plan sorts EVERY spine row of a group in ONE task —
  * parallelism capped at |groups| no matter the cluster. Fine while
  * a spine is value-domain-bounded (cents columns: ≤ ~10⁶ distinct
  * values), a straggler once the value domain grows with the data
  * (revenue sums, lifetimes at 100 TB).
  *
  * This module is the PairJoins precedent applied to that tier: an
  * eager one-row probe (max spine rows in any group — exactly the
  * single-task sort size the window branch would pay) dispatches
  * between
  *  - the WINDOW branch (the exact per-group cumulative window the
  *    keys always ran — cheapest constant, capped parallelism), and
  *  - the BUCKETED branch: count-balanced value buckets
  *    ([[Analytics.balancedBuckets]]'s shape generalized to composite
  *    groups), per-(group, bucket) partial sums, a cumulative window
  *    over the TINY bucket relation for per-bucket offsets, and
  *    in-bucket cumulative windows partitioned by (group, bucket) —
  *    parallelism |groups|·nB, every sort bounded by ~spine/nB rows.
  *
  * BOTH branches are EXACT — bucket boundaries come from a sampled
  * sketch, but they only route rows (the offsets are exact partial
  * sums), so the cumulative values are identical whichever branch
  * runs and whatever the sketch returned. The dispatch is purely a
  * constant-factor trade, which is what makes it safe to gate on a
  * measured threshold: the oracle gate corpora sit far below (their
  * largest spines are ≤ ~2·10⁵ rows) and stay on the window branch;
  * the bucketed branch is measured on planted big-group spines
  * (equality asserted vs the window branch on the same data; the
  * BASELINE.md r16 SpineRank crossover row pins the crossover).
  *
  * PRECONDITION shared by every caller: spine rows are DISTINCT per
  * (groups, orderCol) — they are group-by results, so the cumulative
  * at a value does not depend on tie order (a rows-frame over tied
  * order keys would).
  */
private[graft] object SpineRank {

  /** Dispatch point: above this many spine rows in one group, the
    * window branch's single-task sort dominates the bucketed form's
    * extra phases. Measured (BASELINE.md r16 SpineRank row): at
    * 2·10⁶-row groups the branches are within noise locally (the
    * local sort is cheap; the bucketed form pays its extra shuffle),
    * by 2·10⁷ the bucketed branch wins — and on a real cluster the
    * window branch's cap is |groups| TASKS, so the crossover only
    * moves down. Every oracle-gate spine is ≤ ~2·10⁵ rows per group
    * (bal/rev cents at sf0.1), two orders below.
    */
  val WindowSpineRows: Long = 4000000L

  /** Eager probe: max spine rows in any single group — the exact
    * size of the largest single-task sort the window branch would
    * run. 0 on an empty spine (either branch returns zero rows).
    */
  def maxGroupRows(spine: DataFrame, groups: Seq[String]): Long = {
    val r = spine.groupBy(groups.map(col): _*).count()
      .agg(max(col("count"))).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** [[Analytics.balancedBuckets]] generalized to composite group
    * keys: ~`nB` count-balanced interior boundaries per group from a
    * sampled `percentile_approx` (mergeable sketch — ordinary
    * partial+final agg), broadcast back, bucket id = boundaries
    * at-or-below the value (monotone, so cumulative bucket order is
    * rank-order-correct; ties share a bucket). Boundary placement
    * steers load only — consumers recompute exact sums inside the
    * chosen buckets. Left join + coalesce keeps groups the sample
    * missed (they collapse into bucket 0 — right for tiny groups).
    */
  private def bucketed(t: DataFrame, groups: Seq[String], value: String,
      nB: Int): DataFrame = {
    val fracs = array((1 until nB).map(i => lit(i.toDouble / nB)): _*)
    val bounds = t.sample(withReplacement = false, 0.1, seed = 42)
      .groupBy(groups.map(col): _*)
      .agg(percentile_approx(col(value).cast("double"), fracs, lit(100)).as("bnds"))
      .localCheckpoint()
    t.join(broadcast(bounds), groups, "left")
      .withColumn("_bkt",
        coalesce(
          graft.functions.TextExpressions
            .boundRank(col("bnds"), col(value).cast("double")).cast("long"),
          lit(0L)))
      .drop("bnds")
  }

  /** Exact running sums of `weights` over a (groups, orderCol) spine,
    * ordered by `orderCol` (ascending, or descending with `desc`),
    * volume-gated between the window and bucketed branches. Returns
    * the spine columns plus one output column per weight; with
    * `withTotals` also `{out}_tot` = the group's full sum per weight
    * (free on either branch: an unordered frame over the window
    * branch's existing sort; a broadcast of the tiny bucket rollup on
    * the bucketed branch — no caller needs a second pass over the
    * result). `orderCol` must be numeric (the descending form negates
    * it so one ascending bucket order serves both directions — every
    * caller's spine is cents/counts/day longs, with magnitudes far
    * below Long.MaxValue). The spine is localCheckpoint'd: the probe
    * and the chosen branch both read the materialized rows instead of
    * re-running the caller's rollup lineage.
    */
  def cumSums(spine0: DataFrame, groups: Seq[String], orderCol: String,
      weights: Seq[(Column, String)], desc: Boolean = false,
      withTotals: Boolean = false,
      thresholdRows: Long = WindowSpineRows, nB: Int = 32): DataFrame = {
    val wCols = weights.zipWithIndex.map { case ((c, _), i) => c.as(s"_w$i") }
    val spine = spine0.select(col("*") +: wCols: _*).localCheckpoint()
    val outs = weights.map(_._2)
    val result =
      if (maxGroupRows(spine, groups) <= thresholdRows) {
        val ord = if (desc) col(orderCol).desc else col(orderCol).asc
        val w = Window.partitionBy(groups.map(col): _*).orderBy(ord)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wTot = Window.partitionBy(groups.map(col): _*)
        val cum = outs.zipWithIndex.foldLeft(spine) { case (df, (out, i)) =>
          df.withColumn(out, sum(col(s"_w$i")).over(w))
        }
        if (!withTotals) cum
        else outs.zipWithIndex.foldLeft(cum) { case (df, (out, i)) =>
          df.withColumn(s"${out}_tot", sum(col(s"_w$i")).over(wTot))
        }
      } else {
        val withOrd = spine.withColumn("_ord",
          if (desc) col(orderCol) * lit(-1L) else col(orderCol))
        val b = bucketed(withOrd, groups, "_ord", nB)
        val gb = groups :+ "_bkt"
        // per-bucket partial sums → offsets over the TINY bucket
        // relation (≤ |groups|·nB rows)
        val per = b.groupBy(gb.map(col): _*)
          .agg(sum(col("_w0")).as("_bw0"),
            outs.indices.tail.map(i => sum(col(s"_w$i")).as(s"_bw$i")): _*)
          .localCheckpoint() // tiny; read by offsets and (opt) totals
        val wB = Window.partitionBy(groups.map(col): _*).orderBy(col("_bkt"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val offs = outs.indices.foldLeft(per) { case (df, i) =>
          df.withColumn(s"_off$i", sum(col(s"_bw$i")).over(wB) - col(s"_bw$i"))
        }.select((gb.map(col) ++ outs.indices.map(i => col(s"_off$i"))): _*)
        // in-bucket cumulative windows: |groups|·nB partitions, each
        // bounded by ~spine/nB rows
        val wIn = Window.partitionBy(gb.map(col): _*).orderBy(col("_ord"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = outs.zipWithIndex.foldLeft(b.join(broadcast(offs), gb)) {
          case (df, (out, i)) =>
            df.withColumn(out, col(s"_off$i") + sum(col(s"_w$i")).over(wIn))
        }.drop("_ord" :: "_bkt" :: outs.indices.map(i => s"_off$i").toList: _*)
        if (!withTotals) cum
        else {
          val tots = per.groupBy(groups.map(col): _*)
            .agg(sum(col("_bw0")).as(s"${outs.head}_tot"),
              outs.zipWithIndex.tail.map { case (out, i) =>
                sum(col(s"_bw$i")).as(s"${out}_tot")
              }: _*)
          cum.join(broadcast(tots), groups)
        }
      }
    result.drop(outs.indices.map(i => s"_w$i"): _*)
  }

  /** Single-weight convenience form of [[cumSums]]. */
  def cumSum(spine: DataFrame, groups: Seq[String], orderCol: String,
      weight: Column, out: String, desc: Boolean = false,
      withTotals: Boolean = false,
      thresholdRows: Long = WindowSpineRows): DataFrame =
    cumSums(spine, groups, orderCol, Seq((weight, out)), desc, withTotals,
      thresholdRows)

  /** Volume-gated top-k per group over pre-aggregated rows — the
    * `events_decay_engagement` leaderboard shape ("at 10⁹ users/type
    * swap for the two-level top-k", its scaladoc): below the
    * threshold, one rank window per group; above, a SALTED two-level
    * rank — per-(group, salt) top-k first (parallelism |groups|·P,
    * each partition ~rows/P), then the final window over the
    * ≤ |groups|·P·k survivors. Exact for any salt assignment: a
    * group's true top-k all survive their salt partitions (each salt
    * keeps ITS best k ⊇ its members of the global top k). `order`
    * must be a deterministic total order (callers tiebreak on an id
    * column). Emits the input columns plus `rk`.
    */
  def topK(df0: DataFrame, groups: Seq[String], order: Seq[Column], k: Int,
      saltCol: Column, thresholdRows: Long = WindowSpineRows,
      salts: Int = 32): DataFrame = {
    val df = df0.localCheckpoint()
    if (maxGroupRows(df, groups) <= thresholdRows) {
      val w = Window.partitionBy(groups.map(col): _*).orderBy(order: _*)
      df.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
    } else {
      val salted = df.withColumn("_salt", pmod(saltCol, lit(salts)))
      val wS = Window.partitionBy((groups.map(col) :+ col("_salt")): _*)
        .orderBy(order: _*)
      val survivors = salted.withColumn("_srk", row_number().over(wS))
        .filter(col("_srk") <= k).drop("_salt", "_srk")
      val w = Window.partitionBy(groups.map(col): _*).orderBy(order: _*)
      survivors.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
    }
  }
}
