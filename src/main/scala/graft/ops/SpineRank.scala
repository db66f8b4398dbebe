package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The order-statistic module: the count-balanced bucket seeding
  * ([[balancedBuckets]]), the exact bucketed-pivot quantile kernel
  * ([[exactQuantiles]]) on those buckets, and the volume-gated
  * cumulative/rank machinery ([[cumSums]], [[topK]]).
  *
  * The gated machinery (round 16 — the r15 verdict's top item): the
  * stat keys' distinct-value spines (`stat_winsorize`,
  * `stat_spearman_cells`, `events_gini_activity`, the
  * survival/Mann–Whitney/KS spines) all
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
  *    ([[balancedBuckets]]), per-(group, bucket) partial sums, a
  *    cumulative window over the TINY bucket relation for per-bucket
  *    offsets, and in-bucket cumulative windows partitioned by
  *    (group, bucket) — parallelism |groups|·nB, every sort bounded
  *    by ~spine/nB rows.
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

  /** Assign a count-balanced bucket id per row, in column `bucket`
    * (which `t` must not already carry): ~`nB` interior boundaries
    * per group are seeded by a cheap `percentile_approx` pass over a
    * 10 % sample at accuracy 100 (quantile-of-quantiles — the sketch
    * is mergeable, so the seeding pass is an ordinary partial+final
    * agg), checkpointed (tiny; consumers that scan the bucketed
    * relation twice don't rerun the sketch) and broadcast back. A
    * row's bucket is the number of boundaries at-or-below its value,
    * found by the codegen'd binary search `bound_rank` on a DOUBLE
    * view of the value — monotone in the value, so cumulative bucket
    * order is rank-order-correct and ties share a bucket. Unlike
    * fixed VALUE-width buckets (`floor(v / w)`), these stay ~n/nB rows
    * each under ARBITRARY value skew: a lognormal tail or a 90 %
    * point mass cannot concentrate more than its own tied value into
    * one bucket (balance asserted on a planted-skew fixture in
    * SkewSpec). Boundary placement only steers load — every consumer
    * recomputes exact answers inside the chosen buckets, so sketch
    * error, double-cast tie collapse and any partitioning
    * nondeterminism in the sample cannot reach a result. LEFT join +
    * coalesce: a group the sample missed entirely (a tiny group)
    * keeps its rows in bucket 0, right for a group too small to need
    * spreading.
    */
  def balancedBuckets(t: DataFrame, groups: Seq[String], value: String,
      nB: Int): DataFrame = {
    require(!t.columns.contains("bucket"), "balancedBuckets writes `bucket`")
    val fracs = array((1 until nB).map(i => lit(i.toDouble / nB)): _*)
    val bounds = t.sample(withReplacement = false, 0.1, seed = 42)
      .groupBy(groups.map(col): _*)
      .agg(percentile_approx(col(value).cast("double"), fracs, lit(100)).as("bnds"))
      .localCheckpoint()
    t.join(broadcast(bounds), groups, "left")
      .withColumn("bucket",
        coalesce(
          graft.functions.TextExpressions
            .boundRank(col("bnds"), col(value).cast("double")).cast("long"),
          lit(0L)))
      .drop("bnds")
  }

  /** Exact weighted type-1 quantiles of `value` per `groups`: for each
    * `q` in `qs` (percent), the smallest value whose cumulative weight
    * reaches q % of the group total, ties sharing one cumulative
    * value. Returns `(groups…, q, qv)`; `qv` keeps the value's type, so
    * decimal exactness survives composition. With `weight = lit(1L)`
    * this is the plain rank quantile (the value at rank ⌈q·n/100⌉).
    *
    * Scale: NO holistic aggregate — `percentile()` buffers every value
    * of a group in one task, and a cumulative window partitioned by
    * the group puts the whole group through one task; both are
    * stragglers at 100 TB when groups are few (three return flags,
    * five event types). Instead the wide data is touched only by
    * partial aggregation:
    *  1. [[balancedBuckets]] (16 per group) and per-(group, bucket)
    *     partial weights — map-side combined;
    *  2. running and total weights over the TINY bucket relation;
    *     every requested quantile finds its pivot bucket from the same
    *     running sum by exploding `qs` over that relation (no extra
    *     pass over the wide data);
    *  3. an exact scan of the pivot buckets only, collapsed to
    *     DISTINCT values first (map-side combinable) before the
    *     in-bucket window, so a point mass is one row there, the
    *     window's input is bounded by the bucket's distinct-value
    *     count (~n/nB even under skew), and the rows-frame running sum
    *     reproduces the ties-share-one-cumulative semantics exactly.
    * The sampled boundaries only decide WHICH bucket is scanned; the
    * offsets and the in-bucket sums are exact, so the sketch cannot
    * move a result. The rank test `100·cum ≥ q·tot` is integer (or
    * exact-decimal) arithmetic in both engines. The kernel never
    * checkpoints `t`: it is scanned by the seeding, phase 1 and
    * phase 3, so callers pass a materialized (or cheaply derived)
    * relation.
    */
  def exactQuantiles(t: DataFrame, groups: Seq[String], value: String,
      weight: Column, qs: Seq[Int]): DataFrame = {
    val g = groups.map(col)
    val b = balancedBuckets(t.select(g :+ col(value) :+ weight.as("_w"): _*),
      groups, value, 16)
    val wRun = Window.partitionBy(g: _*).orderBy(col("bucket"))
    val wTot = Window.partitionBy(g: _*)
    val wQ = Window.partitionBy(g :+ col("q"): _*).orderBy(col("bucket"))
    val pivots = b.groupBy(g :+ col("bucket"): _*).agg(sum(col("_w")).as("bw"))
      .withColumn("cumb", sum(col("bw")).over(wRun))
      .withColumn("tot", sum(col("bw")).over(wTot))
      .withColumn("q", explode(array(qs.map(lit): _*)))
      .filter(col("cumb") * 100 >= col("q") * col("tot"))
      .withColumn("rn", row_number().over(wQ))
      .filter(col("rn") === 1)
      .select(g ++ Seq(col("q"), col("bucket").as("pbucket"),
        (col("cumb") - col("bw")).as("off"), col("tot")): _*)
    val wIn = Window.partitionBy(g :+ col("q"): _*).orderBy(col(value))
    b.join(broadcast(pivots), groups)
      .filter(col("bucket") === col("pbucket"))
      .groupBy(g ++ Seq(col("q"), col("off"), col("tot"), col(value)): _*)
      .agg(sum(col("_w")).as("vw"))
      .withColumn("cum", col("off") + sum(col("vw")).over(wIn))
      .filter(col("cum") * 100 >= col("q") * col("tot"))
      .groupBy(g :+ col("q"): _*)
      .agg(min(col(value)).as("qv"))
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
        val b = balancedBuckets(withOrd, groups, "_ord", nB)
        val gb = groups :+ "bucket"
        // per-bucket partial sums → offsets over the TINY bucket
        // relation (≤ |groups|·nB rows)
        val per = b.groupBy(gb.map(col): _*)
          .agg(sum(col("_w0")).as("_bw0"),
            outs.indices.tail.map(i => sum(col(s"_w$i")).as(s"_bw$i")): _*)
          .localCheckpoint() // tiny; read by offsets and (opt) totals
        val wB = Window.partitionBy(groups.map(col): _*).orderBy(col("bucket"))
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
        }.drop("_ord" :: "bucket" :: outs.indices.map(i => s"_off$i").toList: _*)
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
