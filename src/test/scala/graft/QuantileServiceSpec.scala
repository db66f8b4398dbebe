package graft

import org.apache.spark.sql.functions._

/** ops.QuantileService: the persisted percentile service — per-day
  * KLL sketches stored under TableManifest's atomic pointer commit,
  * appended per day, queried by day range from the sketch rows alone.
  * The sketch itself carries its correctness certificate (errBound,
  * KllSpec), so these specs pin the SERVICE contract: codec
  * round-trip, conservation of n, certificate validity of served
  * answers against the raw data, append/replace semantics, day-range
  * pruning, and crash atomicity on both sides of the commit.
  */
class QuantileServiceSpec extends SparkSpec {
  import spark.implicits._

  private class InjectedCrash extends RuntimeException("injected crash")

  private val dir = "/root/testdata/sf0.001"

  private def events = io.Readers.table(spark, dir, "events")
    .select(col("ts"), col("value"))

  /** Exact rank of x in values (count strictly below). */
  private def exactRank(values: Array[Double], x: Double): Long =
    values.count(_ < x).toLong

  test("codec round-trip: decoded sketch answers identically and keeps merging") {
    val vals = events.select(col("value"))
    val sk = ops.Udx.kllSketch(vals)
    val rt = ops.Udx.kllFromBytes(sk.toBytes)
    assert(rt.n == sk.n && rt.errBound == sk.errBound)
    Seq(0.01, 0.25, 0.5, 0.75, 0.99).foreach { q =>
      assert(rt.quantile(q) == sk.quantile(q))
    }
    // the decoded sketch must keep ACCUMULATING, not just answering:
    // merging the same tail into original and round-trip gives the
    // same state (same compaction decisions — flips survived the codec)
    val tail = ops.Udx.kllSketch(vals.limit(500))
    val a = sk.mergeWith(ops.Udx.kllFromBytes(tail.toBytes))
    val b = rt.mergeWith(ops.Udx.kllFromBytes(tail.toBytes))
    assert(a.n == b.n && a.errBound == b.errBound)
    Seq(0.1, 0.5, 0.9).foreach(q => assert(a.quantile(q) == b.quantile(q)))
  }

  test("build + serve: n conserved exactly, every answer within the sketch's own certificate") {
    ops.QuantileService.build(spark, "qsvc_all", events)
    try {
      val all = events.select(col("value")).as[Double].collect()
      val qs = Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
      val served = ops.QuantileService.quantiles(spark, "qsvc_all", qs)
      val eps = ops.QuantileService.mergedSketch(spark, "qsvc_all").errBound
      served.foreach { case (q, est, n, epsFrac) =>
        assert(n == all.length.toLong, "merged n must equal the event count")
        assert(math.abs(epsFrac - eps.toDouble / n) < 1e-12)
        val target = math.max(1L, math.ceil(q * n).toLong)
        val r = exactRank(all, est)
        // est's exact rank must be within errBound of the target rank
        // (the KLL guarantee, served through storage + merge)
        assert(math.abs(r - target) <= eps + all.count(_ == est),
          s"q=$q est=$est rank=$r target=$target eps=$eps")
      }
      // day-range query reads only those days' rows: n matches the range
      val days = events.select(to_date(col("ts")).cast("string").as("d"))
        .groupBy("d").count().orderBy("d")
        .as[(String, Long)].collect()
      assert(days.length >= 3, "fixture needs multiple days")
      val (fromD, toD) = (days(1)._1, days(days.length - 2)._1)
      val inRange = days.filter(d => d._1 >= fromD && d._1 <= toD).map(_._2).sum
      val ranged = ops.QuantileService.quantiles(spark, "qsvc_all", Seq(0.5),
        Some(fromD), Some(toD))
      assert(ranged.head._3 == inRange,
        "day-range merge must cover exactly the requested days")
    } finally io.TableManifest.drop(spark, "qsvc_all")
  }

  test("appendDays: carried days verbatim, overlapping day replaced, totals match full rebuild") {
    val days = events.select(to_date(col("ts")).cast("string").as("d"))
      .distinct().orderBy("d").as[String].collect()
    val cut = days(days.length / 2)
    val early = events.filter(to_date(col("ts")).cast("string") <= cut)
    val late = events.filter(to_date(col("ts")).cast("string") >= cut)
    ops.QuantileService.build(spark, "qsvc_app", early)
    try {
      val beforeRows = spark.table(
        io.TableManifest.resolve(spark, "qsvc_app", ops.QuantileService.SchemaVersion))
        .select("day", "n").as[(String, Long)].collect().toMap
      // `late` overlaps `early` on the cut day — append must REPLACE it
      ops.QuantileService.appendDays(spark, "qsvc_app", late)
      val afterRows = spark.table(
        io.TableManifest.resolve(spark, "qsvc_app", ops.QuantileService.SchemaVersion))
        .select("day", "n").as[(String, Long)].collect().toMap
      assert(afterRows.keySet == days.toSet, "every day present after append")
      // pre-cut days carried verbatim
      beforeRows.filter(_._1 < cut).foreach { case (d, n) =>
        assert(afterRows(d) == n, s"day $d must carry over unchanged")
      }
      // total n equals the corpus (cut day counted once — replaced)
      assert(afterRows.values.sum == events.count())
      // and the served answer matches a from-scratch build's certificate
      val merged = ops.QuantileService.mergedSketch(spark, "qsvc_app")
      assert(merged.n == events.count())
    } finally io.TableManifest.drop(spark, "qsvc_app")
  }

  test("crash BEFORE the pointer rename: readers keep the old snapshot; recovery lands") {
    val days = events.select(to_date(col("ts")).cast("string").as("d"))
      .distinct().orderBy("d").as[String].collect()
    val cut = days(days.length / 2)
    val early = events.filter(to_date(col("ts")).cast("string") <= cut)
    val late = events.filter(to_date(col("ts")).cast("string") > cut)
    ops.QuantileService.build(spark, "qsvc_pre", early)
    try {
      val v0 = io.TableManifest.resolve(spark, "qsvc_pre", ops.QuantileService.SchemaVersion)
      val served0 = ops.QuantileService.quantiles(spark, "qsvc_pre", Seq(0.5))
      intercept[InjectedCrash] {
        ops.QuantileService.appendDays(spark, "qsvc_pre", late,
          beforeCommit = () => throw new InjectedCrash)
      }
      assert(io.TableManifest.resolve(spark, "qsvc_pre",
        ops.QuantileService.SchemaVersion) == v0,
        "uncommitted append leaves the pointer on the old version")
      assert(ops.QuantileService.quantiles(spark, "qsvc_pre", Seq(0.5)) == served0,
        "readers racing the crashed append serve the old snapshot")
      // recovery: the same append re-stages over the leftover and lands
      ops.QuantileService.appendDays(spark, "qsvc_pre", late)
      assert(ops.QuantileService.mergedSketch(spark, "qsvc_pre").n == events.count())
    } finally io.TableManifest.drop(spark, "qsvc_pre")
  }

  test("streaming ingest: batches merge into the day sketches; replayed batch is a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val name = "qsvc_stream"
    val ckpt = java.nio.file.Files.createTempDirectory("qsvc_ckpt").toString
    val stream = MemoryStream[(java.sql.Timestamp, Double)]
    val blocks = new RddBlocks
    spark.sparkContext.addSparkListener(blocks)
    val q = ops.Streaming.sink(
      stream.toDF().toDF("ts", "value"), ckpt)(ops.Streaming.applyQuantileBatch(name))
    try {
      // batch 0 and batch 1 both feed day 1 (open-day micro-batches
      // MERGE, not replace); batch 1 also opens day 2
      stream.addData(Seq((ts("2024-03-01 10:00:00"), 1.0),
        (ts("2024-03-01 11:00:00"), 2.0)))
      q.processAllAvailable()
      assert(ops.QuantileService.mergedSketch(spark, name).n == 2)
      stream.addData(Seq((ts("2024-03-01 12:00:00"), 3.0),
        (ts("2024-03-02 09:00:00"), 4.0)))
      q.processAllAvailable()
      q.stop()
      // the sink pins each batch and frees the pin when the batch ends
      blocks.assertNoneLive()
      val t = spark.table(io.TableManifest.resolve(spark, name,
        ops.QuantileService.SchemaVersion))
        .select("day", "n").as[(String, Long)].collect().toMap
      assert(t == Map("2024-03-01" -> 3L, "2024-03-02" -> 1L),
        "day 1 sketches from both batches merged; day 2 opened")
      // post-commit replay (crash before the checkpoint advanced):
      // re-applying the last batch must not double-count
      val replay = Seq((ts("2024-03-01 12:00:00"), 3.0),
        (ts("2024-03-02 09:00:00"), 4.0)).toDF("ts", "value")
      ops.Streaming.applyQuantileBatch(name)(replay, 1L)
      assert(ops.QuantileService.mergedSketch(spark, name).n == 4,
        "replayed batch is a no-op")
      // served answer covers all four values exactly (tiny n: the
      // sketch is exact below k, so quantiles are the true ones)
      assert(ops.QuantileService.quantiles(spark, name, Seq(0.5)).head._2 == 2.0)
    } finally {
      q.stop()
      spark.sparkContext.removeSparkListener(blocks)
      io.TableManifest.drop(spark, name)
    }
  }

  test("keyed build: per-dim quantiles within certificate; layouts cannot silently mix") {
    val ev = io.Readers.table(spark, dir, "events")
      .select(col("event_type"), col("ts"), col("value"))
    ops.QuantileService.buildKeyed(spark, "qsvc_k", ev)
    try {
      val byDim = ev.select(col("event_type"), col("value"))
        .as[(String, Double)].collect().groupBy(_._1)
        .view.mapValues(_.map(_._2)).toMap
      val served = ops.QuantileService.quantilesByDim(spark, "qsvc_k",
        Seq(0.1, 0.5, 0.9, 0.99))
      assert(served.map(_._1).distinct.sorted === byDim.keySet.toSeq.sorted)
      served.foreach { case (dim, q, est, n, errFrac) =>
        val vals = byDim(dim)
        assert(n === vals.length.toLong, s"$dim: n conserved")
        // certificate: est's exact rank within errBound of q·n
        val r = exactRank(vals, est)
        val target = q * n
        val slack = errFrac * n + 1.0 // +1: rank vs strict-below convention
        assert(math.abs(r - target) <= slack + vals.count(_ == est),
          s"$dim q=$q: rank $r target $target slack $slack")
      }
      // an unkeyed reader against the keyed table must fail fast
      val ex = intercept[IllegalStateException] {
        ops.QuantileService.quantiles(spark, "qsvc_k", Seq(0.5))
      }
      assert(ex.getMessage.contains("schema"), ex.getMessage)
    } finally io.TableManifest.drop(spark, "qsvc_k")
  }

  test("keyed merge: half-streams conserve n per (dim, day); served answers stay certified") {
    val ev = io.Readers.table(spark, dir, "events")
      .select(col("event_type"), col("ts"), col("value"), col("event_id"))
    val h1 = ev.filter(col("event_id") % 2 === 0)
    val h2 = ev.filter(col("event_id") % 2 === 1)
    ops.QuantileService.buildKeyed(spark, "qsvc_km", h1)
    try {
      ops.QuantileService.mergeDaysKeyed(spark, "qsvc_km", h2)
      val byDim = ev.select(col("event_type"), col("value"))
        .as[(String, Double)].collect().groupBy(_._1)
        .view.mapValues(_.map(_._2)).toMap
      ops.QuantileService.quantilesByDim(spark, "qsvc_km", Seq(0.5, 0.9))
        .foreach { case (dim, q, est, n, errFrac) =>
          val vals = byDim(dim)
          assert(n === vals.length.toLong, s"$dim: merged n == corpus n")
          val r = exactRank(vals, est)
          assert(math.abs(r - q * n) <= errFrac * n + 1.0 + vals.count(_ == est),
            s"$dim q=$q after merge")
        }
    } finally io.TableManifest.drop(spark, "qsvc_km")
  }

  test("keyed streaming ingest: batches merge per dim; replay and manual-merge interleave stay exactly-once") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val name = "qsvc_kstream"
    def batchDf(rows: (String, String, Double)*) =
      rows.map { case (t, s, v) => (t, ts(s), v) }.toDF("event_type", "ts", "value")
    try {
      ops.Streaming.applyQuantileKeyedBatch(name)(
        batchDf(("a", "2024-03-01 10:00:00", 1.0), ("b", "2024-03-01 10:01:00", 5.0)), 0L)
      ops.Streaming.applyQuantileKeyedBatch(name)(
        batchDf(("a", "2024-03-01 12:00:00", 3.0)), 1L)
      // replay of batch 1 is a no-op
      ops.Streaming.applyQuantileKeyedBatch(name)(
        batchDf(("a", "2024-03-01 12:00:00", 3.0)), 1L)
      val served = ops.QuantileService.quantilesByDim(spark, name, Seq(0.5))
        .map(t => t._1 -> t._4).toMap
      assert(served === Map("a" -> 2L, "b" -> 1L),
        "per-dim n exact under replay")
      // a manual keyed merge inflates the version; the next live batch
      // must still apply (the explicit appliedBatch ledger)
      ops.QuantileService.mergeDaysKeyed(spark, name,
        batchDf(("b", "2024-03-02 09:00:00", 6.0)))
      ops.Streaming.applyQuantileKeyedBatch(name)(
        batchDf(("a", "2024-03-02 10:00:00", 9.0)), 2L)
      val after = ops.QuantileService.quantilesByDim(spark, name, Seq(0.5))
        .map(t => t._1 -> t._4).toMap
      assert(after === Map("a" -> 3L, "b" -> 2L),
        "live batch after manual merge folds in")
    } finally io.TableManifest.drop(spark, name)
  }

  test("manual merge between stream batches must not mask the next live batch (r12 ADVICE)") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // two seedings: the stream's batch 0 builds the table, or the table
    // is built and merged by hand before the stream's first batch
    Seq(true, false).foreach { streamFirst =>
      val name = s"qsvc_manual_mix_$streamFirst"
      val firstLive = if (streamFirst) 1L else 0L
      try {
        val seed = Seq((ts("2024-03-01 10:00:00"), 1.0)).toDF("ts", "value")
        if (streamFirst) ops.Streaming.applyQuantileBatch(name)(seed, 0L)
        else ops.QuantileService.build(spark, name, seed)
        assert(ops.QuantileService.mergedSketch(spark, name).n == 1)
        // a MANUAL merge lands between stream batches: the version
        // inflates past batchId+1 — the old version-inference guard
        // would then read every later live batch as a phantom replay
        ops.QuantileService.mergeDays(spark, name,
          Seq((ts("2024-03-01 11:00:00"), 2.0)).toDF("ts", "value"))
        val p = io.TableManifest.readPointer(spark, name).get
        assert(p.appliedBatch === (if (streamFirst) Some(0L) else None),
          "manual commits must carry the applied marker forward")
        ops.Streaming.applyQuantileBatch(name)(
          Seq((ts("2024-03-02 09:00:00"), 3.0)).toDF("ts", "value"), firstLive)
        assert(ops.QuantileService.mergedSketch(spark, name).n == 3,
          s"live batch $firstLive after a manual merge must still fold in")
        // and the live batch's replay is still a no-op
        ops.Streaming.applyQuantileBatch(name)(
          Seq((ts("2024-03-02 09:00:00"), 3.0)).toDF("ts", "value"), firstLive)
        assert(ops.QuantileService.mergedSketch(spark, name).n == 3,
          "replay stays a no-op under the explicit marker")
      } finally io.TableManifest.drop(spark, name)
    }
  }

  test("per-key streaming KLL state accumulates across batches with a valid certificate") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[Ev]
    val q = ops.Streaming.streamQuantilesPerKey(stream.toDF())
      .writeStream.format("memory").queryName("kllkeys")
      .outputMode("update").start()
    try {
      def evv(id: Long, typ: String, v: Double) =
        Ev(id, ts("2024-03-01 10:00:00"), 1L, typ, v, "{}")
      val b1 = (1 to 400).map(i => evv(i, "click", i.toDouble))
      val b2 = (1 to 400).map(i => evv(400 + i, "click", 400 + i.toDouble)) :+
        evv(900, "view", 5.0)
      stream.addData(b1); q.processAllAvailable()
      stream.addData(b2); q.processAllAvailable()
      // latest emitted row per key (update mode re-emits per batch)
      val rows = spark.table("kllkeys")
        .select("event_type", "n", "err_bound", "p50", "p99")
        .as[(String, Long, Long, Double, Double)].collect()
      val click = rows.filter(_._1 == "click").maxBy(_._2)
      assert(click._2 == 800L, "state must accumulate across batches")
      // certificate: exact rank of the p50 estimate within errBound
      val target = math.ceil(0.5 * 800).toLong
      val rank = (1 to 800).count(_ < click._4).toLong
      assert(math.abs(rank - target) <= click._3 + 1,
        s"p50=${click._4} rank=$rank target=$target eps=${click._3}")
      val view = rows.filter(_._1 == "view").maxBy(_._2)
      assert(view._2 == 1L && view._4 == 5.0 && view._5 == 5.0,
        "tiny key: sketch is exact below k")
    } finally q.stop()
  }

  test("crash AFTER the commit: new version live, superseded version retained one cycle") {
    ops.QuantileService.build(spark, "qsvc_post", events.limit(2000))
    try {
      val v0 = io.TableManifest.resolve(spark, "qsvc_post", ops.QuantileService.SchemaVersion)
      intercept[InjectedCrash] {
        ops.QuantileService.build(spark, "qsvc_post", events,
          afterCommit = () => throw new InjectedCrash)
      }
      val v1 = io.TableManifest.resolve(spark, "qsvc_post", ops.QuantileService.SchemaVersion)
      assert(v1 != v0, "post-rename state must be visible")
      assert(ops.QuantileService.mergedSketch(spark, "qsvc_post").n == events.count())
      assert(spark.catalog.tableExists(v0),
        "retain=1 keeps the superseded version one cycle for in-flight readers")
    } finally io.TableManifest.drop(spark, "qsvc_post")
  }
}
