package graft

/** Adversarial join semantics (SURVEY §5.2): NULL keys in every join
  * type, null-safe equality, as-of boundary/tie behavior.
  */
class JoinsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val left = Seq(
    (Some(1), "l1"), (Some(2), "l2"), (None: Option[Int], "lnull")
  ).toDF("k", "lv")
  private lazy val right = Seq(
    (Some(1), "r1"), (Some(3), "r3"), (None: Option[Int], "rnull")
  ).toDF("k", "rv")

  test("inner join drops NULL keys on both sides") {
    val j = left.join(right, left("k") === right("k"), "inner")
    assert(j.count() === 1)
    assert(j.select("lv", "rv").as[(String, String)].collect().toSet === Set(("l1", "r1")))
  }

  test("left outer keeps NULL-key row with null right side") {
    val j = left.join(right, left("k") === right("k"), "left")
    assert(j.count() === 3)
    assert(j.filter(left("k").isNull).select("rv").collect().head.isNullAt(0))
  }

  test("full outer yields both unmatched NULL-key rows separately") {
    val j = left.join(right, left("k") === right("k"), "full")
    assert(j.count() === 5) // match(1), l2, lnull, r3, rnull
  }

  test("null-safe equality <=> matches NULL to NULL") {
    val j = left.join(right, left("k") <=> right("k"), "inner")
    assert(j.count() === 2) // (1,1) and (null,null)
  }

  test("join_null_safe: the null bucket cross-matches, plain keys equi-match") {
    val dir = "/root/testdata/sf0.001"
    val out = ops.Relational.joinNullSafe(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val cs = io.Readers.table(spark, dir, "customer")
      .select("c_custkey", "c_nationkey").as[(Long, Long)].collect()
    val sups = io.Readers.table(spark, dir, "supplier")
      .select("s_suppkey", "s_nationkey").as[(Long, Long)].collect()
    val truth = (for {
      (ck, cn) <- cs
      (sk, sn) <- sups
      cnk = if (cn == 3L) None else Some(cn)
      snk = if (sn == 3L) None else Some(sn)
      if cnk == snk
    } yield (ck, sk, cnk.getOrElse(-1L))).sortBy(t => (t._1, t._2))
    assert(out.toSeq == truth.toSeq)
    // fixture must actually exercise the null bucket
    assert(out.exists(_._3 == -1L), "null-bucket matches must exist")
    assert(out.exists(_._3 != -1L), "plain equi matches must exist")
  }

  test("semi + anti partition the left relation exactly") {
    val semi = left.join(right, left("k") === right("k"), "left_semi")
    val anti = left.join(right, left("k") === right("k"), "left_anti")
    assert(semi.count() + anti.count() === left.count())
    assert(anti.select("lv").as[String].collect().toSet === Set("l2", "lnull"))
  }

  test("as-of join: <= boundary inclusive, latest wins, orderkey breaks date ties") {
    // exercises the SHIPPED union+carry-forward operator, not a local
    // reference formulation — fixtures written as a scale-factor dir
    val d = java.nio.file.Files.createTempDirectory("asof").toString
    // events.ts rides as raw nanos (the reader's TIMESTAMP(NANOS) path)
    def ns(t: String): Long = ts(t).getTime * 1000000L
    Seq(
      (100L, 7L, ns("2024-01-10 12:00:00")), // has ties + boundary order
      (101L, 8L, ns("2024-01-01 00:00:00")), // user with no prior order → dropped
      (102L, 7L, ns("2024-01-10 11:59:59"))  // just before the tied orders → earlier order wins
    ).toDF("event_id", "user_id", "ts").coalesce(1).write.parquet(s"$d/events.parquet")
    Seq(
      (7L, 1L, ts("2024-01-10 12:00:00")), // exactly at ts → eligible (<=)
      (7L, 2L, ts("2024-01-10 12:00:00")), // same date, higher key → wins tie
      (7L, 3L, ts("2024-01-11 00:00:00")), // after ts → excluded
      (7L, 4L, ts("2024-01-01 00:00:00")), // earlier → loses (but wins for event 102)
      (8L, 5L, ts("2024-02-01 00:00:00"))  // after user 8's event → user 8 unmatched
    ).toDF("o_custkey", "o_orderkey", "o_orderdate").coalesce(1)
      .write.parquet(s"$d/orders.parquet")
    val r = ops.Relational.joinAsof(spark, d)
      .select("event_id", "asof_orderkey").as[(Long, Long)].collect().toMap
    assert(r === Map(100L -> 2L, 102L -> 4L),
      "boundary inclusive, (date,key)-max tie-break, no-prior-order events dropped")
  }

  test("nearest as-of: forward picks, equidistant → backward, per-side tie rules, orphans dropped") {
    // the real corpus never exercises the FORWARD branch (all orders
    // precede all events), so the semantics are pinned here on a
    // constructed fixture covering every decision path
    val d = java.nio.file.Files.createTempDirectory("asofn").toString
    def ns(t: String): Long = ts(t).getTime * 1000000L
    Seq(
      (1L, 1L, ns("2024-01-05 00:00:00")), // before all → forward (ok 100)
      (2L, 1L, ns("2024-01-14 00:00:00")), // 4d back vs 6d fwd → backward 100
      (3L, 1L, ns("2024-01-16 00:00:00")), // 6d back vs 4d fwd → forward 200
      (4L, 1L, ns("2024-01-15 00:00:00")), // equidistant 5d/5d → backward 100
      (5L, 1L, ns("2024-01-20 00:00:00")), // exact hit → distance 0 backward 200
      (6L, 2L, ns("2024-01-01 00:00:00")), // only a future order → forward 300
      (7L, 3L, ns("2024-01-01 00:00:00")), // no orders at all → dropped
      (8L, 4L, ns("2024-01-12 00:00:00")), // backward into tied date → max ok 402
      (9L, 4L, ns("2024-01-08 00:00:00"))  // forward into tied date → min ok 401
    ).toDF("event_id", "user_id", "ts").coalesce(1).write.parquet(s"$d/events.parquet")
    Seq(
      (1L, 100L, ts("2024-01-10 00:00:00")),
      (1L, 200L, ts("2024-01-20 00:00:00")),
      (2L, 300L, ts("2024-02-01 00:00:00")),
      (4L, 401L, ts("2024-01-10 00:00:00")),
      (4L, 402L, ts("2024-01-10 00:00:00"))
    ).toDF("o_custkey", "o_orderkey", "o_orderdate").coalesce(1)
      .write.parquet(s"$d/orders.parquet")
    val r = ops.Relational.joinAsofNearest(spark, d)
      .select("event_id", "nearest_orderkey").as[(Long, Long)].collect().toMap
    assert(r === Map(1L -> 100L, 2L -> 100L, 3L -> 200L, 4L -> 100L,
      5L -> 200L, 6L -> 300L, 8L -> 402L, 9L -> 401L),
      s"got $r")
  }
}
