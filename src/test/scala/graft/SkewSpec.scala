package graft

import org.apache.spark.sql.functions._

/** Salted-join / salted-agg equivalence: salting must change ONLY the
  * shuffle distribution, never the result set (SURVEY §7.5).
  */
class SkewSpec extends SparkSpec {
  import spark.implicits._

  // one pathologically hot key (90% of rows) + a long tail
  private lazy val skewed = ((1 to 900).map(i => (1L, i.toLong, i * 1.5)) ++
    (1 to 100).map(i => ((i % 7 + 2).toLong, i.toLong, i * 2.0)))
    .toDF("k", "row_id", "v")
  private lazy val dim = (1L to 10L).map(k => (k, s"name$k")).toDF("k", "name")

  test("saltedJoin returns exactly the rows of the plain join") {
    val plain = skewed.join(dim, Seq("k"), "inner")
      .select("k", "row_id", "v", "name")
    val salted = ops.Skew.saltedJoin(skewed, dim, "k", "row_id", salts = 8)
      .select("k", "row_id", "v", "name")
    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(salted).count() === 0)
  }

  test("salted two-phase aggregation equals direct aggregation (decimal-exact)") {
    val direct = skewed.groupBy("k")
      .agg(sum(col("v").cast(Determinism.Money)).as("sum_value"), count(lit(1)).as("n"))
    val salted = ops.Skew.saltedSumCount(
      skewed, "k", col("v").cast(Determinism.Money), "row_id", salts = 8)
    val diff = direct.join(salted.withColumnRenamed("sum_value", "s2")
        .withColumnRenamed("n", "n2"), "k")
      .filter(col("sum_value") =!= col("s2") || col("n") =!= col("n2"))
    assert(diff.count() === 0)
    assert(salted.count() === direct.count())
  }

  test("balancedBuckets bounds per-bucket load under planted value skew (fixed width straggles)") {
    // lognormal-ish heavy tail + a 40 % point mass at one value: the
    // two skew modes that break fixed value-width bucketing
    val rnd = new scala.util.Random(42)
    val heavy = (1 to 6000).map { _ =>
      ("G", math.exp(rnd.nextGaussian() * 2.0 + 3.0))
    } ++ (1 to 4000).map(_ => ("G", 7.77))
    val df = heavy.toDF("g", "v")
    val nB = 32
    val n = heavy.size
    // fixed width on this data: almost everything lands in bucket 0
    val fixedMax = df.withColumn("bucket", floor(col("v") / 1000).cast("long"))
      .groupBy("bucket").count().agg(max("count")).as[Long].collect().head
    assert(fixedMax > n * 9 / 10, "fixture must actually defeat fixed-width bucketing")
    // the same fixture keyed by one group column and by two (the
    // composite-key form SpineRank.cumSums buckets)
    for ((in, groups) <- Seq(df -> Seq("g"),
        df.withColumn("h", lit(7L)) -> Seq("g", "h"))) {
      val bucketed = ops.SpineRank.balancedBuckets(in, groups, "v", nB)
      val counts = bucketed.groupBy("bucket").count()
        .as[(Long, Long)].collect().toMap
      // balanced: no bucket beyond the point mass + sketch-error slack
      // (the 40 % tied value is irreducible — ties share one bucket)
      val cap = n * 40 / 100 + n / nB + n / 20
      assert(counts.values.max <= cap,
        s"$groups: max bucket ${counts.values.max} exceeds cap $cap (counts: $counts)")
      // and untied mass spreads: at least half the buckets materialize
      assert(counts.size >= nB / 2, s"$groups: only ${counts.size} buckets materialized")
      // exactness is untouched by bucketing: the full quantile query on
      // the real corpus is oracle'd; here assert the bucket ids are
      // monotone in v (rank-order correctness precondition)
      val rows = bucketed.select("v", "bucket").as[(Double, Long)].collect().sortBy(_._1)
      assert(rows.zip(rows.tail).forall { case ((_, b1), (_, b2)) => b1 <= b2 },
        s"$groups: bucket ids must be monotone in the value")
    }
  }

  test("salt is deterministic per discriminator value") {
    val s1 = skewed.select(ops.Skew.salt(col("row_id"), 8).as("s")).collect()
    val s2 = skewed.select(ops.Skew.salt(col("row_id"), 8).as("s")).collect()
    assert(s1.map(_.getInt(0)).toSeq === s2.map(_.getInt(0)).toSeq)
    val distinct = skewed.select(ops.Skew.salt(col("row_id"), 8).as("s")).distinct().count()
    assert(distinct === 8, "hot key must spread over all salt buckets")
  }
}
