package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.SpineRank

/** The volume-gated order-statistic dispatch (round 16, the r15
  * verdict's top item): both branches of [[SpineRank.cumSums]] /
  * [[SpineRank.topK]] must be EXACTLY equal — the bucketed form is
  * an exact rewrite, not an approximation, so equality is asserted
  * bit-for-bit on real corpus spines, a planted-skew spine (point
  * mass + heavy tail — the shape that breaks fixed-width bucketing),
  * and the descending/totals variants. The dispatch threshold itself
  * is a measured constant (BASELINE.md r16 SpineRank row); these
  * specs force each branch via the threshold parameter.
  */
class SpineRankSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  /** Real spine: per-(segment, balance-cents) counts off customer. */
  private lazy val balSpine: DataFrame =
    graft.io.Readers.table(spark, dir, "customer")
      .select(col("c_mktsegment").as("segment"),
        (Determinism.dec(col("c_acctbal")) * 100).cast("long").as("bal"))
      .groupBy(col("segment"), col("bal"))
      .agg(count(lit(1)).as("cnt"))

  /** Planted skew: one group with a point mass at value 7 (40 % of
    * rows) plus a quadratic tail, one tiny group — the distribution
    * a fixed-width bucket scheme straggles on.
    */
  private lazy val skewSpine: DataFrame = {
    val tail = (1 to 3000).map(i => ("hot", i.toLong * i, 1L + i % 3))
    val mass = Seq(("hot", 7L, 2000L))
    val tiny = (1 to 4).map(i => ("tiny", i.toLong, 5L))
    (tail ++ mass ++ tiny).toDF("g", "v", "cnt")
  }

  private def assertSame(a: DataFrame, b: DataFrame): Unit = {
    assert(a.schema.fieldNames.sorted.sameElements(b.schema.fieldNames.sorted))
    val cols = a.schema.fieldNames.sorted.map(col).toSeq
    assert(a.select(cols: _*).exceptAll(b.select(cols: _*)).count() === 0)
    assert(b.select(cols: _*).exceptAll(a.select(cols: _*)).count() === 0)
    assert(a.count() === b.count())
  }

  test("cumSum: bucketed branch equals window branch on the real balance spine") {
    val win = SpineRank.cumSum(balSpine, Seq("segment"), "bal", col("cnt"),
      "cum", thresholdRows = Long.MaxValue)
    val bkt = SpineRank.cumSum(balSpine, Seq("segment"), "bal", col("cnt"),
      "cum", thresholdRows = 0L)
    assertSame(win, bkt)
  }

  test("cumSum: branches agree under planted point-mass skew, asc and desc") {
    for (desc <- Seq(false, true)) {
      val win = SpineRank.cumSum(skewSpine, Seq("g"), "v", col("cnt"), "cum",
        desc = desc, thresholdRows = Long.MaxValue)
      val bkt = SpineRank.cumSum(skewSpine, Seq("g"), "v", col("cnt"), "cum",
        desc = desc, thresholdRows = 0L)
      assertSame(win, bkt)
    }
  }

  test("cumSums: multi-weight + totals agree across branches (composite groups)") {
    // composite-group spine with two weights — the KS shape
    val spine = skewSpine
      .withColumn("g2", (col("v") % 2).cast("string"))
      .withColumn("cb", col("cnt") * 2 + 1)
    val args = Seq((col("cnt"), "cum_a"), (col("cb"), "cum_b"))
    val win = SpineRank.cumSums(spine, Seq("g", "g2"), "v", args,
      withTotals = true, thresholdRows = Long.MaxValue)
    val bkt = SpineRank.cumSums(spine, Seq("g", "g2"), "v", args,
      withTotals = true, thresholdRows = 0L)
    assertSame(win, bkt)
    // totals really are the group sums
    val bad = win.groupBy(col("g"), col("g2"))
      .agg(sum(col("cnt")).as("t"), max(col("cum_a_tot")).as("tt"),
        min(col("cum_a_tot")).as("tt2"))
      .filter(col("t") =!= col("tt") || col("t") =!= col("tt2"))
    assert(bad.count() === 0)
    // cumulative of the last spine row equals the total (asc order)
    val last = win.withColumn("rk", row_number().over(
        Window.partitionBy(col("g"), col("g2")).orderBy(col("v").desc)))
      .filter(col("rk") === 1)
      .filter(col("cum_a") =!= col("cum_a_tot") || col("cum_b") =!= col("cum_b_tot"))
    assert(last.count() === 0)
  }

  test("cumSum: empty spine returns empty on both branches") {
    val empty = skewSpine.filter(col("v") < 0)
    assert(SpineRank.cumSum(empty, Seq("g"), "v", col("cnt"), "cum",
      thresholdRows = Long.MaxValue).count() === 0)
    assert(SpineRank.cumSum(empty, Seq("g"), "v", col("cnt"), "cum",
      thresholdRows = 0L).count() === 0)
  }

  test("topK: salted two-level branch equals the window branch (ties broken)") {
    // scores with heavy ties so the id tiebreak is load-bearing
    val rows = (1 to 5000).map(i => ("t" + (i % 3), i.toLong, (i % 17).toLong))
    val df = rows.toDF("t", "u", "score")
    val order = Seq(col("score").desc, col("u"))
    val win = SpineRank.topK(df, Seq("t"), order, 10, xxhash64(col("u")),
      thresholdRows = Long.MaxValue)
    val two = SpineRank.topK(df, Seq("t"), order, 10, xxhash64(col("u")),
      thresholdRows = 0L, salts = 8)
    assertSame(win, two)
    assert(win.count() === 30)
  }

  test("topK: groups smaller than k emit all rows on both branches") {
    val df = Seq(("a", 1L, 5L), ("a", 2L, 3L), ("b", 3L, 1L)).toDF("t", "u", "score")
    val order = Seq(col("score").desc, col("u"))
    for (thr <- Seq(Long.MaxValue, 0L))
      assert(SpineRank.topK(df, Seq("t"), order, 10, xxhash64(col("u")),
        thresholdRows = thr).count() === 3)
  }

  test("stat_ks_test: the min_by argmax + SpineRank cumulatives replay the old rank-window form") {
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      // the pre-round-16 formulation, inlined: raw windows throughout
      val c = graft.io.Readers.table(spark, d, "customer")
        .select(col("c_mktsegment").as("segment"),
          (Determinism.dec(col("c_acctbal")) * 100).cast("long").as("bal_cents"))
      val segs = c.select(col("segment")).distinct()
      val pairs = segs.select(col("segment").as("seg_a"))
        .crossJoin(segs.select(col("segment").as("seg_b")))
        .filter(col("seg_a") < col("seg_b"))
      val perVal = c.join(broadcast(pairs),
          col("segment") === col("seg_a") || col("segment") === col("seg_b"))
        .groupBy(col("seg_a"), col("seg_b"), col("bal_cents"))
        .agg(count(when(col("segment") === col("seg_a"), 1)).as("ca"),
          count(when(col("segment") === col("seg_b"), 1)).as("cb"))
      val wCum = Window.partitionBy(col("seg_a"), col("seg_b"))
        .orderBy(col("bal_cents"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("seg_a"), col("seg_b"))
      val old = perVal
        .withColumn("cum_a", sum(col("ca")).over(wCum))
        .withColumn("cum_b", sum(col("cb")).over(wCum))
        .withColumn("n_a", sum(col("ca")).over(wAll))
        .withColumn("n_b", sum(col("cb")).over(wAll))
        .withColumn("d_num",
          abs(col("n_b") * col("cum_a") - col("n_a") * col("cum_b")))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("seg_a"), col("seg_b"))
            .orderBy(col("d_num").desc, col("bal_cents"))))
        .filter(col("rk") === 1)
        .select(col("seg_a"), col("seg_b"), col("n_a"), col("n_b"),
          col("d_num"), (col("n_a") * col("n_b")).as("d_den"),
          col("bal_cents").as("ks_at"))
      val now = graft.SparkEntry.queries("stat_ks_test")(spark, d)
      assertSame(old, now)
    }
  }

  test("levene median dispatch: bucketed exactQuantile(50) equals the rank-window median") {
    val o = graft.io.Readers.table(spark, dir, "orders")
      .join(broadcast(graft.io.Readers.table(spark, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("segment"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("segment"), col("o_orderkey"),
        (Determinism.dec(col("o_totalprice")) * 100).cast("long").as("v"))
    val wVal = Window.partitionBy(col("segment")).orderBy(col("v"), col("o_orderkey"))
    val win = o.withColumn("rv", row_number().over(wVal).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("segment"))))
      .filter(col("rv") === expr("(n + 1) div 2"))
      .select(col("segment"), col("v").as("med"))
    val bkt = SpineRank.exactQuantiles(o, Seq("segment"), "v", lit(1L), Seq(50))
      .select(col("segment"), col("qv").as("med"))
    assertSame(win, bkt)
  }
}
