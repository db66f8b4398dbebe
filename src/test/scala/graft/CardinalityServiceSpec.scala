package graft

import org.apache.spark.sql.functions._

/** ops.CardinalityService: the persisted distinct-count service —
  * per-day HLL sketches under TableManifest's atomic pointer commit,
  * appended per day, range- and rolling-queried from the sketch rows
  * alone. The core claim is LOSSLESS mergeability: a union over
  * stored per-day sketches must estimate IDENTICALLY to one sketch
  * built over the concatenated raw stream (register-wise max), so
  * these specs assert estimate EQUALITY against one-shot sketches,
  * accuracy against exact distinct counts, append/replace semantics,
  * and crash atomicity on both sides of the commit.
  */
class CardinalityServiceSpec extends SparkSpec {
  import spark.implicits._

  private class InjectedCrash extends RuntimeException("injected crash")

  private val dir = "/root/testdata/sf0.001"

  private def events = io.Readers.table(spark, dir, "events")
    .select(col("ts"), col("user_id"))

  /** One-shot estimate over a raw relation — the merge-equality
    * reference (same lgK as the service).
    */
  private def oneShot(df: org.apache.spark.sql.DataFrame): Long =
    df.agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12))))
      .collect()(0).getLong(0)

  test("build + serve: whole-range estimate equals one-shot, within HLL error of exact") {
    ops.CardinalityService.build(spark, "csvc_all", events)
    try {
      val (est, nRows, days) = ops.CardinalityService.distinctOver(spark, "csvc_all")
      assert(nRows === events.count(), "row conservation")
      assert(days === events.select(to_date(col("ts"))).distinct().count())
      // lossless merge: union-of-days == one sketch over everything
      assert(est === oneShot(events), "per-day union must equal the one-shot sketch")
      // and the estimate is actually accurate (lgK=12 → ~0.8 % RSE; 5σ gate)
      val exact = events.select("user_id").distinct().count()
      assert(math.abs(est - exact).toDouble / exact < 0.04,
        s"estimate $est vs exact $exact")
    } finally io.TableManifest.drop(spark, "csvc_all")
  }

  test("day-range query merges exactly the requested days") {
    ops.CardinalityService.build(spark, "csvc_rng", events)
    try {
      val days = events.select(to_date(col("ts")).cast("string").as("d"))
        .groupBy("d").count().orderBy("d").as[(String, Long)].collect()
      assert(days.length >= 3, "fixture needs multiple days")
      val (fromD, toD) = (days(1)._1, days(days.length - 2)._1)
      val (est, nRows, nDays) =
        ops.CardinalityService.distinctOver(spark, "csvc_rng", Some(fromD), Some(toD))
      val inRange = days.filter(d => d._1 >= fromD && d._1 <= toD)
      assert(nDays === inRange.length.toLong && nRows === inRange.map(_._2).sum)
      val raw = events.filter(to_date(col("ts")).cast("string").between(fromD, toD))
      assert(est === oneShot(raw), "range union must equal one-shot over the range")
    } finally io.TableManifest.drop(spark, "csvc_rng")
  }

  test("appendDays: carried days verbatim, overlap replaced, state equals full rebuild") {
    val days = events.select(to_date(col("ts")).cast("string").as("d"))
      .distinct().orderBy("d").as[String].collect()
    val cut = days(days.length / 2)
    ops.CardinalityService.build(spark, "csvc_app",
      events.filter(to_date(col("ts")).cast("string") <= cut))
    try {
      // re-ingest includes the cut day (late data) + all later days
      ops.CardinalityService.appendDays(spark, "csvc_app",
        events.filter(to_date(col("ts")).cast("string") >= cut))
      ops.CardinalityService.build(spark, "csvc_ref", events)
      try {
        val a = ops.CardinalityService.distinctOver(spark, "csvc_app")
        val b = ops.CardinalityService.distinctOver(spark, "csvc_ref")
        assert(a === b, "append path must converge to the from-scratch build")
        // per-day states identical too, not just the grand total
        for (d <- days) {
          val ra = ops.CardinalityService.distinctOver(spark, "csvc_app", Some(d), Some(d))
          val rb = ops.CardinalityService.distinctOver(spark, "csvc_ref", Some(d), Some(d))
          assert(ra === rb, s"day $d")
        }
      } finally io.TableManifest.drop(spark, "csvc_ref")
    } finally io.TableManifest.drop(spark, "csvc_app")
  }

  test("rollingDistinct: every trailing-window estimate equals one-shot over the raw window") {
    ops.CardinalityService.build(spark, "csvc_roll", events)
    try {
      val rows = ops.CardinalityService.rollingDistinct(spark, "csvc_roll", 7)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(rows.nonEmpty)
      val epoch = rows.map(_._1).map(d =>
        d -> java.time.LocalDate.parse(d).toEpochDay).toMap
      rows.foreach { case (day, inWin, est) =>
        val d1 = epoch(day)
        val winDays = rows.map(_._1).filter(d => epoch(d) > d1 - 7 && epoch(d) <= d1)
        assert(inWin === winDays.length.toLong, s"window size at $day")
        val raw = events.filter(
          unix_date(to_date(col("ts"))).cast("long").between(d1 - 6, d1))
        assert(est === oneShot(raw), s"rolling estimate at $day")
      }
    } finally io.TableManifest.drop(spark, "csvc_roll")
  }

  test("streaming ingest: open-day batches union, replayed batch is a no-op, converges to batch build") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val name = "csvc_stream"
    val ckpt = java.nio.file.Files.createTempDirectory("csvc_ckpt").toString
    val stream = MemoryStream[(java.sql.Timestamp, Long)]
    val q = ops.Streaming.sink(
      stream.toDF().toDF("ts", "user_id"), ckpt)(ops.Streaming.applyCardinalityBatch(name))
    try {
      // batches 0 and 1 both feed day 1 (open-day micro-batches MERGE,
      // not replace — user 7 recurs across batches and must count once)
      stream.addData(Seq((ts("2024-03-01 10:00:00"), 7L),
        (ts("2024-03-01 11:00:00"), 8L)))
      q.processAllAvailable()
      stream.addData(Seq((ts("2024-03-01 12:00:00"), 7L),
        (ts("2024-03-02 09:00:00"), 9L)))
      q.processAllAvailable()
      assert(ops.CardinalityService.distinctOver(spark, name) === ((3L, 4L, 2L)),
        "3 distinct users over 4 rows in 2 days")
      // post-commit replay (crash before the checkpoint advanced)
      val replay = Seq((ts("2024-03-01 12:00:00"), 7L),
        (ts("2024-03-02 09:00:00"), 9L)).toDF("ts", "user_id")
      ops.Streaming.applyCardinalityBatch(name)(replay, 1L)
      assert(ops.CardinalityService.distinctOver(spark, name)._2 === 4L,
        "replayed batch must not re-count its rows")
      // streamed state == one-shot batch build over the union of batches
      val all = Seq((ts("2024-03-01 10:00:00"), 7L), (ts("2024-03-01 11:00:00"), 8L),
        (ts("2024-03-01 12:00:00"), 7L), (ts("2024-03-02 09:00:00"), 9L))
        .toDF("ts", "user_id")
      ops.CardinalityService.build(spark, "csvc_stream_ref", all)
      try {
        for (d <- Seq("2024-03-01", "2024-03-02")) {
          assert(ops.CardinalityService.distinctOver(spark, name, Some(d), Some(d))
            === ops.CardinalityService.distinctOver(spark, "csvc_stream_ref", Some(d), Some(d)),
            s"day $d")
        }
      } finally io.TableManifest.drop(spark, "csvc_stream_ref")
    } finally {
      q.stop()
      io.TableManifest.drop(spark, name)
    }
  }

  test("crash before commit leaves the old version serving; replay completes") {
    val firstHalf = events.filter(dayofmonth(col("ts")) <= 15)
    ops.CardinalityService.build(spark, "csvc_crash", firstHalf)
    try {
      val before = ops.CardinalityService.distinctOver(spark, "csvc_crash")
      intercept[InjectedCrash] {
        ops.CardinalityService.appendDays(spark, "csvc_crash", events,
          beforeCommit = () => throw new InjectedCrash)
      }
      // the pointer never moved: readers still see the pre-append state
      assert(ops.CardinalityService.distinctOver(spark, "csvc_crash") === before)
      // replay the same append to completion; crash AFTER commit must
      // also leave a fully-served new state (commit already happened)
      intercept[InjectedCrash] {
        ops.CardinalityService.appendDays(spark, "csvc_crash", events,
          afterCommit = () => throw new InjectedCrash)
      }
      ops.CardinalityService.build(spark, "csvc_crash_ref", events)
      try {
        assert(ops.CardinalityService.distinctOver(spark, "csvc_crash")
          === ops.CardinalityService.distinctOver(spark, "csvc_crash_ref"))
      } finally io.TableManifest.drop(spark, "csvc_crash_ref")
    } finally io.TableManifest.drop(spark, "csvc_crash")
  }

  // ─────────────────────── keyed variant ───────────────────────

  private def typedEvents = io.Readers.table(spark, dir, "events")
    .select(col("ts"), col("event_type"), col("user_id"))

  private def oneShotWhere(cond: org.apache.spark.sql.Column): Long =
    oneShot(typedEvents.filter(cond))

  test("keyed build: per-dim estimates equal one-shot sketches; rolling window partitioned by dim") {
    ops.CardinalityService.buildKeyed(spark, "csvc_k", typedEvents)
    try {
      val byDim = ops.CardinalityService.distinctByDim(spark, "csvc_k")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(byDim.length > 1, "fixture needs multiple event types")
      byDim.foreach { case (dim, est, nRows) =>
        assert(est === oneShotWhere(col("event_type") === dim), s"dim $dim")
        assert(nRows === typedEvents.filter(col("event_type") === dim).count())
      }
      // rolling curve: merge-equality per (dim, trailing window)
      val roll = ops.CardinalityService.rollingDistinctKeyed(spark, "csvc_k", 7)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(3)))
      assert(roll.nonEmpty)
      // spot-check a handful (full cross-product replay is slow)
      roll.sortBy(t => (t._1, t._2)).grouped(7).map(_.head).foreach {
        case (dim, day, est) =>
          val d1 = java.time.LocalDate.parse(day).toEpochDay
          assert(est === oneShotWhere(col("event_type") === dim &&
            unix_date(to_date(col("ts"))).cast("long").between(d1 - 6, d1)),
            s"rolling $dim/$day")
      }
      // the keyed day-table window is PARTITIONED (removes the unkeyed
      // form's documented unpartitioned-window exception)
      val plan = ops.CardinalityService.rollingDistinctKeyed(spark, "csvc_k", 7)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Window [") || plan.contains("windowspecdefinition(dim"),
        "rolling window must partition by dim")
    } finally io.TableManifest.drop(spark, "csvc_k")
  }

  test("keyed merge: half-streams converge to the one-shot build, per (dim, day)") {
    val half1 = typedEvents.filter(col("user_id") % 2 === 0)
    val half2 = typedEvents.filter(col("user_id") % 2 =!= 0)
    ops.CardinalityService.buildKeyed(spark, "csvc_km", half1)
    try {
      ops.CardinalityService.mergeDaysKeyed(spark, "csvc_km", half2)
      ops.CardinalityService.buildKeyed(spark, "csvc_km_ref", typedEvents)
      try {
        val a = ops.CardinalityService.distinctByDim(spark, "csvc_km").collect()
        val b = ops.CardinalityService.distinctByDim(spark, "csvc_km_ref").collect()
        assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq,
          "merged halves must be state-identical to the full build")
      } finally io.TableManifest.drop(spark, "csvc_km_ref")
    } finally io.TableManifest.drop(spark, "csvc_km")
  }

  test("pair overlap estimates track the exact type-overlap matrix") {
    ops.CardinalityService.buildKeyed(spark, "csvc_ov", typedEvents)
    try {
      val est = ops.CardinalityService.pairOverlapEstimates(spark, "csvc_ov")
        .collect()
        .map(r => ((r.getString(0), r.getString(1)),
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
      val exact = ops.Insights.eventsTypeOverlap(spark, dir).collect()
        .map(r => ((r.getString(0), r.getString(1)),
          (r.getLong(2), r.getLong(3), r.getLong(5), r.getLong(4)))).toMap
      assert(est.keySet === exact.keySet, "same pair grid")
      est.foreach { case (pair, (eA, eB, eU, eI)) =>
        val (nA, nB, nU, nI) = exact(pair)
        // lgK=12 → ~0.8 % RSE per sketch; 5σ gates on each estimate,
        // inclusion–exclusion error on the intersection is bounded by
        // the union-scale gate (three estimates' errors sum)
        assert(math.abs(eA - nA).toDouble <= math.max(4.0, 0.04 * nA), s"est_a $pair")
        assert(math.abs(eB - nB).toDouble <= math.max(4.0, 0.04 * nB), s"est_b $pair")
        assert(math.abs(eU - nU).toDouble <= math.max(4.0, 0.04 * nU), s"est_union $pair")
        assert(math.abs(eI - nI).toDouble <= math.max(8.0, 0.12 * nU), s"est_inter $pair")
      }
    } finally io.TableManifest.drop(spark, "csvc_ov")
  }

  test("keyed streaming ingest: open-day batches merge per dim, replay is a no-op, converges to batch build") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val name = "csvc_kstream"
    val ckpt = java.nio.file.Files.createTempDirectory("csvc_kckpt").toString
    val stream = MemoryStream[(java.sql.Timestamp, String, Long)]
    val q = ops.Streaming.sink(
      stream.toDF().toDF("ts", "event_type", "user_id"), ckpt)(ops.Streaming.applyCardinalityKeyedBatch(name))
    try {
      // user 7 recurs in 'click' across batches: must count once there,
      // and independently in 'view' (dims keep separate registers)
      stream.addData(Seq((ts("2024-03-01 10:00:00"), "click", 7L),
        (ts("2024-03-01 11:00:00"), "click", 8L),
        (ts("2024-03-01 11:30:00"), "view", 7L)))
      q.processAllAvailable()
      stream.addData(Seq((ts("2024-03-01 12:00:00"), "click", 7L),
        (ts("2024-03-02 09:00:00"), "view", 9L)))
      q.processAllAvailable()
      val byDim = ops.CardinalityService.distinctByDim(spark, name)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(byDim === Map("click" -> (2L, 3L), "view" -> (2L, 2L)),
        s"per-dim estimates after two batches: $byDim")
      // post-commit replay (crash before the checkpoint advanced)
      val replay = Seq((ts("2024-03-01 12:00:00"), "click", 7L),
        (ts("2024-03-02 09:00:00"), "view", 9L))
        .toDF("ts", "event_type", "user_id")
      ops.Streaming.applyCardinalityKeyedBatch(name)(replay, 1L)
      val afterReplay = ops.CardinalityService.distinctByDim(spark, name)
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      assert(afterReplay === Map("click" -> 3L, "view" -> 2L),
        "replayed batch must not re-count its rows")
      // streamed state == one-shot keyed build over the batch union
      val all = Seq((ts("2024-03-01 10:00:00"), "click", 7L),
        (ts("2024-03-01 11:00:00"), "click", 8L),
        (ts("2024-03-01 11:30:00"), "view", 7L),
        (ts("2024-03-01 12:00:00"), "click", 7L),
        (ts("2024-03-02 09:00:00"), "view", 9L))
        .toDF("ts", "event_type", "user_id")
      ops.CardinalityService.buildKeyed(spark, "csvc_kstream_ref", all)
      try {
        val a = ops.CardinalityService.distinctByDim(spark, name).collect()
        val b = ops.CardinalityService.distinctByDim(spark, "csvc_kstream_ref").collect()
        assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq,
          "streamed state must equal the batch build")
      } finally io.TableManifest.drop(spark, "csvc_kstream_ref")
    } finally {
      q.stop()
      io.TableManifest.drop(spark, name)
    }
  }

  test("rollingDistinct(30) tracks the exact events_stickiness curve within sketch error") {
    // the documented scale path of the exact key (§2 events_stickiness):
    // serve the DAU/MAU curve from stored per-day registers — this is
    // the exact↔sketched certificate pairOverlapEstimates carries for
    // the overlap key, closed here for the stickiness pair
    val dir = "/root/testdata/sf0.001"
    val events = io.Readers.table(spark, dir, "events")
    ops.CardinalityService.build(spark, "csvc_stick", events)
    try {
      val exact = ops.Insights.eventsStickiness(spark, dir).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val mauByDay = ops.CardinalityService.rollingDistinct(spark, "csvc_stick", 30)
        .collect().map(r => (java.time.LocalDate.parse(r.getString(0)).toEpochDay,
          r.getLong(2))).toMap
      val dauByDay = ops.CardinalityService.rollingDistinct(spark, "csvc_stick", 1)
        .collect().map(r => (java.time.LocalDate.parse(r.getString(0)).toEpochDay,
          r.getLong(2))).toMap
      assert(mauByDay.keySet === exact.keySet)
      // lgK=12 → rse ≈ 1.04/√2¹² ≈ 1.6 %; accept 5σ ≈ 8 %
      exact.foreach { case (d, (dauX, mauX)) =>
        val dauS = dauByDay(d); val mauS = mauByDay(d)
        assert(math.abs(dauS - dauX).toDouble <= math.max(3.0, 0.08 * dauX),
          s"DAU day $d: sketch $dauS vs exact $dauX")
        assert(math.abs(mauS - mauX).toDouble <= math.max(3.0, 0.08 * mauX),
          s"MAU30 day $d: sketch $mauS vs exact $mauX")
      }
    } finally io.TableManifest.drop(spark, "csvc_stick")
  }

  test("keyed and unkeyed layouts cannot silently mix") {
    ops.CardinalityService.buildKeyed(spark, "csvc_mix", typedEvents)
    try {
      intercept[Exception] {
        ops.CardinalityService.distinctOver(spark, "csvc_mix")
      }
    } finally io.TableManifest.drop(spark, "csvc_mix")
  }
}
