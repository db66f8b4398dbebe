package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming runtime semantics via MemoryStream (SURVEY §5.3):
  * batch-vs-stream agreement, watermark late-drop, stateful dedup,
  * stream-static join, foreachBatch upsert. These behaviors only exist
  * in the streaming runtime — no batch oracle can observe them.
  */
case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
  event_type: String, value: Double, props: String)

class StreamingSpec extends SparkSpec {
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ev(id: Long, t: String, u: Long = 1L, typ: String = "click",
      v: Double = 1.0) = Ev(id, ts(t), u, typ, v, "{}")

  test("tumbling counts: streaming accumulation equals batch twin") {
    val rows = Seq(
      ev(1, "2024-01-01 10:05:00", 1), ev(2, "2024-01-01 10:55:00", 2),
      ev(3, "2024-01-01 11:05:00", 1, "view"), ev(4, "2024-01-01 11:20:00", 2),
      ev(5, "2024-01-01 13:00:00", 3, "view", 2.5))
    val stream = MemoryStream[Ev]
    val q = ops.Streaming.tumblingCounts(stream.toDF())
      .writeStream.format("memory").queryName("tumb").outputMode("complete").start()
    try {
      stream.addData(rows.take(2)); q.processAllAvailable()
      stream.addData(rows.drop(2)); q.processAllAvailable()
      val streamed = spark.table("tumb").orderBy("ws", "event_type").collect().toSeq
      val batch = ops.Streaming.tumblingCounts(rows.toDF())
        .orderBy("ws", "event_type").collect().toSeq
      assert(streamed === batch)
    } finally q.stop()
  }

  test("session windows: streaming equals batch twin (30-min gap)") {
    val rows = Seq(
      ev(1, "2024-01-01 10:00:00", 1), ev(2, "2024-01-01 10:20:00", 1), // same session
      ev(3, "2024-01-01 11:30:00", 1),                                  // gap > 30m → new
      ev(4, "2024-01-01 10:00:00", 2))
    val stream = MemoryStream[Ev]
    val q = ops.Streaming.sessionWindows(stream.toDF())
      .writeStream.format("memory").queryName("sess").outputMode("complete").start()
    try {
      stream.addData(rows); q.processAllAvailable()
      val streamed = spark.table("sess").orderBy("user_id", "session_start").collect().toSeq
      val batch = ops.Streaming.sessionWindows(rows.toDF())
        .orderBy("user_id", "session_start").collect().toSeq
      assert(streamed === batch)
      assert(batch.length === 3)
    } finally q.stop()
  }

  test("watermark drops late events from closed windows (append mode)") {
    val stream = MemoryStream[Ev]
    val q = ops.Streaming.watermarkedTumbling(stream.toDF())
      .writeStream.format("memory").queryName("wm").outputMode("append").start()
    try {
      // batch 1: one event in the 10:00 window; max ts 11:25 → watermark 11:15
      stream.addData(Seq(ev(1, "2024-01-01 10:05:00"), ev(2, "2024-01-01 11:25:00")))
      q.processAllAvailable()
      // batch 2: a late event for the (now closed) 10:00 window — must be dropped —
      // plus an event advancing the watermark past 12:00
      stream.addData(Seq(ev(3, "2024-01-01 10:10:00"), ev(4, "2024-01-01 12:30:00")))
      q.processAllAvailable()
      // batch 3: advance watermark past 13:00 so the 11:00/12:00 windows emit
      stream.addData(Seq(ev(5, "2024-01-01 14:00:00")))
      q.processAllAvailable()
      val out = spark.table("wm")
        .select(col("ws").cast("string"), col("n_events")).as[(String, Long)]
        .collect().toMap
      assert(out("2024-01-01 10:00:00") === 1L, "late event must not be counted")
      assert(out("2024-01-01 11:00:00") === 1L)
      assert(out("2024-01-01 12:00:00") === 1L)
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedupes by event_id across batches") {
    val stream = MemoryStream[Ev]
    val q = ops.Streaming.dedupWithinWatermark(stream.toDF())
      .writeStream.format("memory").queryName("dd").outputMode("append").start()
    try {
      stream.addData(Seq(ev(1, "2024-01-01 10:00:00"), ev(1, "2024-01-01 10:00:30")))
      q.processAllAvailable()
      stream.addData(Seq(ev(1, "2024-01-01 10:01:00"), ev(2, "2024-01-01 10:02:00")))
      q.processAllAvailable()
      assert(spark.table("dd").select("event_id").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    } finally q.stop()
  }

  test("stream-static join enriches events with customer dim") {
    val customers = Seq((1L, "Alice", "BUILDING"), (2L, "Bob", "MACHINERY"))
      .toDF("c_custkey", "c_name", "c_mktsegment")
    val stream = MemoryStream[Ev]
    val q = ops.Streaming.enrichWithCustomers(stream.toDF(), customers)
      .writeStream.format("memory").queryName("enr").outputMode("append").start()
    try {
      stream.addData(Seq(ev(1, "2024-01-01 10:00:00", 1), ev(2, "2024-01-01 10:01:00", 99)))
      q.processAllAvailable()
      val r = spark.table("enr").select("user_id", "c_name").as[(Long, Option[String])]
        .collect().toMap
      assert(r(1L) === Some("Alice"))
      assert(r(99L) === None, "unmatched stream rows survive the left join")
    } finally q.stop()
  }

  test("stateful aggregation runs on the RocksDB state store provider") {
    // The production state backend at 100 TB of streaming state: spill
    // to local RocksDB instead of JVM-heap HDFSBackedStateStore. Same
    // query semantics must hold under it.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[Ev]
      val q = ops.Streaming.tumblingCounts(stream.toDF())
        .writeStream.format("memory").queryName("rocks").outputMode("complete").start()
      try {
        stream.addData(Seq(ev(1, "2024-01-01 10:05:00"), ev(2, "2024-01-01 10:20:00"),
          ev(3, "2024-01-01 11:05:00")))
        q.processAllAvailable()
        val counts = spark.table("rocks").select("n_events").as[Long].collect().sorted
        assert(counts.toSeq === Seq(1L, 2L))
      } finally q.stop()
    } finally {
      prev match { case Some(v) => spark.conf.set(key, v); case None => spark.conf.unset(key) }
    }
  }

  test("stream-stream interval join matches across batches, excludes out-of-window") {
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val q = ops.Streaming.streamStreamAttribution(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("attr").outputMode("append").start()
    try {
      // click in batch 1; matching purchase arrives in a LATER batch
      clicks.addData(Seq(ev(1, "2024-01-01 10:00:00", u = 1, typ = "click")))
      q.processAllAvailable()
      purchases.addData(Seq(
        ev(100, "2024-01-01 10:20:00", u = 1, typ = "purchase", v = 9.5),
        ev(101, "2024-01-01 11:30:00", u = 1, typ = "purchase", v = 3.0), // out of window
        ev(102, "2024-01-01 10:10:00", u = 2, typ = "purchase", v = 7.0))) // other user
      q.processAllAvailable()
      val r = spark.table("attr")
        .select("click_id", "purchase_id").as[(Long, Long)].collect().toSet
      assert(r === Set((1L, 100L)),
        "only the same-user purchase within 30 minutes may join")
    } finally q.stop()
  }

  test("flatMapGroupsWithState accumulates per-user state across batches") {
    val stream = MemoryStream[Ev]
    val q = ops.Streaming.customStateStats(stream.toDF())
      .writeStream.format("memory").queryName("cst").outputMode("append").start()
    try {
      stream.addData(Seq(ev(1, "2024-01-01 10:00:00", 1, "click", 1.5),
        ev(2, "2024-01-01 10:01:00", 1, "click", 2.25)))
      q.processAllAvailable()
      stream.addData(Seq(ev(3, "2024-01-01 11:00:00", 1, "click", 4.0)))
      q.processAllAvailable()
      // append emits one snapshot row per (user, batch); the LAST row for
      // user 1 must carry the cumulative state: 3 events, 7.75 total
      val rows = spark.table("cst")
        .select("user_id", "n_events", "sum_value").as[(Long, Long, Double)].collect()
      assert(rows.filter(_._1 == 1L).map(r => (r._2, r._3)).toSet ===
        Set((2L, 3.75), (3L, 7.75)), "state must carry across micro-batches")
    } finally q.stop()
  }

  test("streaming entropy state is bit-identical to the batch operator for any batch split") {
    val rows = Seq(
      ev(1, "2024-01-01 10:00:00", 1, "click"), ev(2, "2024-01-01 10:01:00", 1, "view"),
      ev(3, "2024-01-01 10:02:00", 1, "click"), ev(4, "2024-01-01 10:03:00", 2, "view"),
      ev(5, "2024-01-01 10:04:00", 2, "view"), ev(6, "2024-01-01 10:05:00", 1, "purchase"),
      ev(7, "2024-01-01 10:06:00", 3, "click"), ev(8, "2024-01-01 10:07:00", 1, "click"))
    val stream = MemoryStream[Ev]
    val q = ops.Streaming.streamEntropyPerKey(stream.toDF())
      .writeStream.format("memory").queryName("entst").outputMode("update").start()
    try {
      // a deliberately uneven 3-way split: the state is the sufficient
      // statistic, so the final per-user rows must not depend on it
      stream.addData(rows.take(3)); q.processAllAvailable()
      stream.addData(rows.slice(3, 4)); q.processAllAvailable()
      stream.addData(rows.drop(4)); q.processAllAvailable()
      // update mode re-emits a user's row each batch it appears in;
      // keep the LAST row per user (max n_events — counts only grow)
      val streamed = spark.table("entst")
        .as[(Long, Long, Int, Double)].collect()
        .groupBy(_._1).view.mapValues(_.maxBy(_._2)).values.toSeq
        .map(r => (r._1, r._2, r._3.toLong, r._4)).sortBy(_._1)
      val batch = ops.InfoTheory.entropyByUser(rows.toDF())
        .as[(Long, Long, Long, Double)].collect().toSeq.sortBy(_._1)
      // BIT-identical doubles, not approximately-equal: both sides run
      // the same integer kernel over the same final counts
      assert(streamed === batch)
    } finally q.stop()
  }

  test("transformWithState (Spark 4 API): RocksDB-backed state converges to the batch groupBy for any split") {
    // the new arbitrary-state surface requires the RocksDB provider
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val rows = Seq(
      ev(1, "2024-01-01 10:00:00", 1, "click", 1.50), ev(2, "2024-01-01 10:01:00", 1, "view", 2.25),
      ev(3, "2024-01-01 10:02:00", 2, "click", 10.00), ev(4, "2024-01-01 10:03:00", 1, "view", 0.25),
      ev(5, "2024-01-01 10:04:00", 3, "view", 7.75), ev(6, "2024-01-01 10:05:00", 2, "click", 0.01))
    val stream = MemoryStream[Ev]
    val q = ops.Streaming.twsUserSpend(stream.toDF())
      .writeStream.format("memory").queryName("tws").outputMode("update").start()
    try {
      stream.addData(rows.take(2)); q.processAllAvailable()
      stream.addData(rows.slice(2, 5)); q.processAllAvailable()
      stream.addData(rows.drop(5)); q.processAllAvailable()
      val streamed = spark.table("tws").as[(Long, Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.maxBy(_._2)).values.toSeq.sortBy(_._1)
      // batch reference: the same exact-cents groupBy over everything
      import org.apache.spark.sql.functions._
      val batch = rows.toDF()
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          (sum(graft.Determinism.dec(col("value"))) * 100).cast("long").as("cents"))
        .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
      assert(streamed === batch,
        "final per-user transformWithState rows == batch groupBy, exact cents")
      // and the batch-mode run of the SAME pipeline agrees (empty
      // initial state — the stream/batch duality the API guarantees)
      val asBatch = ops.Streaming.twsUserSpend(rows.toDF())
        .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
      assert(asBatch === batch)
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState timers: sessions close when the watermark passes last-event + gap") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val stream = MemoryStream[Ev]
    val q = ops.Streaming.twsSessions(stream.toDF(), gap = "10 minutes")
      .writeStream.format("memory").queryName("twssess").outputMode("append").start()
    try {
      // user 1: a two-event burst; user 2: one event much later keeps
      // the stream alive and pushes the watermark past 1's gap
      stream.addData(Seq(ev(1, "2024-01-01 10:00:00", 1, "click"),
        ev(2, "2024-01-01 10:05:00", 1, "view")))
      q.processAllAvailable()
      stream.addData(Seq(ev(3, "2024-01-01 11:00:00", 2, "click")))
      q.processAllAvailable()
      // one more batch so the engine evaluates timers against the
      // advanced watermark
      stream.addData(Seq(ev(4, "2024-01-01 12:00:00", 2, "view")))
      q.processAllAvailable()
      val sessions = spark.table("twssess")
        .select("user_id", "session_start_ms", "session_end_ms", "n_events")
        .as[(Long, Long, Long, Long)].collect().toSet
      def ms(s: String) = java.sql.Timestamp.valueOf(s).getTime
      assert(sessions.contains(
        (1L, ms("2024-01-01 10:00:00"), ms("2024-01-01 10:05:00"), 2L)),
        s"user 1's idle session must close via the timer: $sessions")
      // user 2's latest session is still open (no watermark past it)
      assert(!sessions.exists(s => s._1 == 2L && s._3 == ms("2024-01-01 12:00:00")),
        "an active session must not close early")
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("foreachBatch upsert: snapshot holds latest row per key across batches") {
    val dir = java.nio.file.Files.createTempDirectory("upsert").toString
    val snap = s"$dir/snapshot"
    val stream = MemoryStream[Ev]
    val blocks = new RddBlocks
    spark.sparkContext.addSparkListener(blocks)
    val q = ops.Streaming.foreachBatchUpsert(stream.toDF(), snap, s"$dir/ckpt")
    try {
      stream.addData(Seq(ev(1, "2024-01-01 10:00:00", 1, "click", 1.0),
        ev(2, "2024-01-01 10:00:00", 2, "click", 2.0)))
      q.processAllAvailable()
      stream.addData(Seq(ev(3, "2024-01-01 11:00:00", 1, "click", 9.0))) // supersedes ev1
      q.processAllAvailable()
      q.stop()
      // the sink pins each batch and frees the pin when the batch ends
      blocks.assertNoneLive()
      val r = io.Manifest.readSnapshot(spark, snap)
        .select("user_id", "event_id", "value").as[(Long, Long, Double)].collect()
        .map(t => t._1 -> (t._2, t._3)).toMap
      assert(r(1L) === (3L, 9.0), "second batch must supersede first for user 1")
      assert(r(2L) === (2L, 2.0))
    } finally {
      q.stop()
      spark.sparkContext.removeSparkListener(blocks)
    }
  }

  test("bucketed upsert leaves untouched buckets byte-identical (files AND manifest entries)") {
    val dir = java.nio.file.Files.createTempDirectory("upsertb").toString
    val snap = s"$dir/snapshot"
    val stream = MemoryStream[Ev]
    val q = ops.Streaming.foreachBatchUpsert(stream.toDF(), snap, s"$dir/ckpt", nBuckets = 8)
    try {
      stream.addData((1 to 12).map(u => ev(u, "2024-01-01 10:00:00", u)))
      q.processAllAvailable()
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      val root = new org.apache.hadoop.fs.Path(snap)
      // batch 2 will only touch user 1's bucket; capture every OTHER
      // bucket's manifest entry and files (path → bytes) before it runs
      val touchedB = Seq((1L, "click")).toDF("user_id", "event_type")
        .select(ops.Streaming.upsertBucket(8)).head.getInt(0)
      val untouched = io.Manifest.read(fs, root).filter(_._1 != touchedB)
      assert(untouched.nonEmpty, "fixture must spread keys over several buckets")
      def state(): Map[String, Seq[Byte]] = untouched.values.flatMap { rel =>
        new java.io.File(s"$snap/$rel").listFiles()
          .filter(_.getName.endsWith(".parquet"))
          .map(f => f.getPath -> java.nio.file.Files.readAllBytes(f.toPath).toSeq)
      }.toMap
      val before = state()
      stream.addData(Seq(ev(99, "2024-01-01 11:00:00", 1, v = 9.0)))
      q.processAllAvailable()
      val m2 = io.Manifest.read(fs, root)
      assert(untouched.forall { case (b, rel) => m2(b) == rel },
        "untouched buckets' manifest entries must carry over verbatim")
      assert(state() === before,
        "buckets without batch keys must not be rewritten")
      // and the merge is still a correct latest-wins over ALL keys
      val r = io.Manifest.readSnapshot(spark, snap)
        .select("user_id", "event_id", "value").as[(Long, Long, Double)].collect()
        .map(t => t._1 -> (t._2, t._3)).toMap
      assert(r(1L) === (99L, 9.0))
      assert(r(2L) === (2L, 1.0))
      assert(r.size === 12)
    } finally q.stop()
  }

  test("upsert reads every touched bucket through one scan of the snapshot") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("upserts").toString
    val snap = s"$dir/snapshot"
    val snapRoot = new org.apache.hadoop.fs.Path(snap).toUri.getPath
    // per staging write under the snapshot: the number of file scans
    // below the snapshot root in its executed plan
    val scans = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener
        with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
      import org.apache.spark.sql.execution.command.DataWritingCommandExec
      import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        collect(qe.executedPlan) { case w: DataWritingCommandExec => w }.foreach { w =>
          w.cmd match {
            case c: InsertIntoHadoopFsRelationCommand
                if c.outputPath.toUri.getPath.startsWith(snapRoot) =>
              val n = collect(w.child) {
                case f: org.apache.spark.sql.execution.FileSourceScanExec
                    if f.relation.location.rootPaths.forall(_.toUri.getPath.startsWith(snapRoot)) => f
              }.size
              scans.add(c.outputPath.getName -> n)
            case _ =>
          }
        }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    // registered before the query starts: the stream's session copies
    // the listeners it finds at start
    spark.listenerManager.register(listener)
    val stream = MemoryStream[Ev]
    val q = ops.Streaming.foreachBatchUpsert(stream.toDF(), snap, s"$dir/ckpt", nBuckets = 8)
    try {
      stream.addData((1 to 24).map(u => ev(u, "2024-01-01 10:00:00", u)))
      q.processAllAvailable()
      val updates = (1 to 8).map(u => ev(100 + u, "2024-01-01 11:00:00", u, v = 9.0))
      val committed = io.Manifest.read(
        org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration),
        new org.apache.hadoop.fs.Path(snap)).keySet
      val touched = updates.toDF().select(ops.Streaming.upsertBucket(8))
        .as[Int].collect().toSet.intersect(committed)
      assert(touched.size >= 4, s"fixture must touch several committed buckets: $touched")
      stream.addData(updates)
      q.processAllAvailable()
      org.scalatest.concurrent.Eventually.eventually(
          org.scalatest.concurrent.Eventually.timeout(
            org.scalatest.time.Span(30, org.scalatest.time.Seconds))) {
        assert(scans.asScala.exists(_._1 == "v1"), "batch 1's staging write seen")
      }
      assert(scans.asScala.forall { case (v, n) => v == "v0" || n == 1 },
        s"each staging write must scan the snapshot once: ${scans.asScala.toSeq}")
      val r = io.Manifest.readSnapshot(spark, snap)
        .select("user_id", "event_id").as[(Long, Long)].collect().toMap
      assert(r.size === 24 && (1L to 8L).forall(u => r(u) == 100L + u))
    } finally {
      q.stop()
      spark.listenerManager.unregister(listener)
    }
  }

  test("post-commit crash + replay: committed data survives (attempt-unique staging never deletes live dirs)") {
    // foreachBatch is at-least-once: a crash in the window BETWEEN the
    // manifest rename and the streaming checkpoint commit replays a
    // batch whose data is already live. The replay's merge lazily
    // READS the manifest-referenced version dir — deleting it for
    // re-staging (the naive v{batchId} overwrite) would destroy the
    // only committed copy; staging must go to an attempt-unique dir.
    val dir = java.nio.file.Files.createTempDirectory("upsertd").toString
    val snap = s"$dir/snapshot"
    val ckpt = s"$dir/ckpt"
    val stream = MemoryStream[Ev]
    val q1 = ops.Streaming.foreachBatchUpsert(stream.toDF(), snap, ckpt, nBuckets = 8)
    try {
      stream.addData((1 to 6).map(u => ev(u, "2024-01-01 10:00:00", u)))
      q1.processAllAvailable()
    } finally q1.stop()
    def rows(): Map[Long, (Long, Double)] = io.Manifest.readSnapshot(spark, snap)
      .select("user_id", "event_id", "value").as[(Long, Long, Double)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    val q2 = ops.Streaming.foreachBatchUpsert(stream.toDF(), snap, ckpt, nBuckets = 8,
      afterCommit = () => throw new RuntimeException("injected crash after commit"))
    stream.addData(Seq(ev(99, "2024-01-01 11:00:00", 1, v = 9.0)))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    q2.stop()
    // the batch IS committed — its manifest rename happened
    assert(rows()(1L) === (99L, 9.0), "post-rename state must be visible")
    // replay re-merges idempotently on top of its own earlier commit
    val q3 = ops.Streaming.foreachBatchUpsert(stream.toDF(), snap, ckpt, nBuckets = 8)
    try q3.processAllAvailable() finally q3.stop()
    val rec = rows()
    assert(rec(1L) === (99L, 9.0) && rec.size === 6,
      "replay must converge to the same snapshot")
    // `bucket` is restored from each file's directory, also under the
    // replay's attempt-suffixed `v1r1/bucket=N`
    val misplaced = io.Manifest.readSnapshot(spark, snap)
      .filter(col("bucket").isNull || col("bucket") =!= ops.Streaming.upsertBucket(8))
    assert(misplaced.isEmpty, "every row's bucket must be its key's bucket")
    // every manifest-referenced dir still exists (nothing live deleted)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(snap)
    io.Manifest.read(fs, root).values.foreach { rel =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(root, rel)), s"missing $rel")
    }
  }

  test("manifest commit is atomic: crash before the rename leaves the old snapshot intact, replay lands once") {
    val dir = java.nio.file.Files.createTempDirectory("upsertc").toString
    val snap = s"$dir/snapshot"
    val ckpt = s"$dir/ckpt"
    val stream = MemoryStream[Ev]
    val q1 = ops.Streaming.foreachBatchUpsert(stream.toDF(), snap, ckpt, nBuckets = 8)
    try {
      stream.addData((1 to 6).map(u => ev(u, "2024-01-01 10:00:00", u)))
      q1.processAllAvailable()
    } finally q1.stop()
    def rows(): Map[Long, (Long, Double)] = io.Manifest.readSnapshot(spark, snap)
      .select("user_id", "event_id", "value").as[(Long, Long, Double)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    val before = rows()
    // kill the writer AFTER the new version dirs are fully staged,
    // BEFORE the manifest rename — the uncommitted window
    val q2 = ops.Streaming.foreachBatchUpsert(stream.toDF(), snap, ckpt, nBuckets = 8,
      beforeCommit = () => throw new RuntimeException("injected crash before commit"))
    stream.addData(Seq(ev(99, "2024-01-01 11:00:00", 1, v = 9.0)))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    q2.stop()
    assert(rows() === before,
      "a crash before the manifest rename must leave readers on the old snapshot in full")
    // recovery: a fresh query over the SAME checkpoint replays the
    // failed batch; its staging dir is rebuilt and the commit lands once
    val q3 = ops.Streaming.foreachBatchUpsert(stream.toDF(), snap, ckpt, nBuckets = 8)
    try q3.processAllAvailable() finally q3.stop()
    val rec = rows()
    assert(rec(1L) === (99L, 9.0), "replayed batch must land after recovery")
    assert(rec.size === 6)
  }
}
