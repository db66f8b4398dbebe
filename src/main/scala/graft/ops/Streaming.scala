package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Determinism._
import graft.io.Readers.table

/** Streaming surface (SURVEY §2.9), Structured-Streaming-first.
  *
  * Each windowed aggregation is a pure `DataFrame => DataFrame` plan
  * builder applied to EITHER a batch events table (the oracle'd path
  * below — Spark guarantees `window()`/`session_window()` batch
  * results equal their streaming accumulation) OR a `readStream`/
  * `MemoryStream` source (unit specs + `streamingGraph` here). The
  * runtime-only semantics — watermark late-drop, stateful dedup,
  * stream-static join, foreachBatch upsert — live in builders below
  * and are asserted in `StreamingSpec` with MemoryStream injections
  * (no batch oracle can see them; SURVEY §5.3).
  *
  * Scale posture: every stateful op keys its state by (window,
  * event_type) or (user, session) — state is hash-partitioned across
  * executors; watermarks bound state size (without one, a 100 TB
  * stream accretes unbounded window state).
  */
object Streaming {

  import Relational.Q

  // ------------------------------------------------ shared plan builders

  /** Per-hour tumbling counts/sums by event type. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("ws"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** 1-hour windows sliding every 15 minutes: count + exact avg. */
  def slidingAvg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"),
        davg(col("value")).as("avg_value"))
      .select(col("window.start").as("ws"), col("n_events"),
        col("sum_value"), col("avg_value"))

  /** Per-user sessions with a 30-minute inactivity gap. Spark's
    * session end = last event ts + gap; the oracle mirrors that
    * explicitly (gaps-and-islands — SURVEY §2.9).
    */
  def sessionWindows(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_value"))

  /** 10-minute watermark + tumbling agg: in streaming mode, events
    * later than (max seen ts − 10 min) past a finalized window are
    * dropped. Pure runtime semantics — asserted via MemoryStream.
    */
  def watermarkedTumbling(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("ws"), col("event_type"), col("n_events"))

  /** Stateful dedup on event_id bounded by the watermark. */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Enrich a stream with a static dimension (broadcast-able). */
  def enrichWithCustomers(events: DataFrame, customers: DataFrame): DataFrame =
    events.join(broadcast(customers),
      events("user_id") === customers("c_custkey"), "left")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("c_name"), col("c_mktsegment"))

  /** Latest-wins merge of updates into a snapshot keyed by
    * (user_id, event_type) — the CKAN-DataStore-upsert analogue.
    */
  def upsertLatest(snapshot: DataFrame, updates: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").desc, col("event_id").desc)
    snapshot.unionByName(updates)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Deterministic bucket of the upsert key — a pure function of
    * (user_id, event_type), so a key's bucket never moves as the
    * snapshot grows or reorders.
    */
  private[graft] def upsertBucket(nBuckets: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(col("user_id"), col("event_type")), lit(nBuckets.toLong)).cast("int")

  /** Micro-batch upsert sink over a key-hash-BUCKETED snapshot with a
    * MANIFEST-POINTER commit ([[graft.io.Manifest]] — the minimal
    * Delta/Iceberg transaction shape): each batch merges only the
    * buckets its keys hash into — per-batch I/O is
    * O(snapshot/nBuckets × touched buckets + batch), not O(snapshot)
    * — writes the merged buckets into a FRESH immutable
    * `v{batchId}/bucket=N` directory, and then publishes the whole
    * batch with ONE atomic manifest rename. A writer killed at any
    * point before that rename leaves readers on the previous
    * snapshot in full (spec'd: StreamingSpec injects a crash between
    * write and commit and proves the old snapshot stays readable and
    * the replayed batch then lands exactly once). Untouched buckets
    * are never read or rewritten; their files AND their manifest
    * entries carry over verbatim (byte-identity asserted in
    * StreamingSpec). Raise `nBuckets` so a single bucket fits
    * executor memory at the target scale. Version directories are
    * keyed by batchId — and a replayed batch whose PREVIOUS attempt
    * already committed (crash in the window between the manifest
    * rename and the streaming checkpoint commit — foreachBatch is
    * at-least-once) stages into an attempt-suffixed dir instead: a
    * directory the CURRENT
    * manifest references is never deleted or overwritten, so the
    * merge's lazy read of the committed snapshot stays intact and
    * the replay re-merges idempotently (latest-wins is idempotent —
    * PropertySpec) on top of its own earlier result. Both crash
    * windows are spec'd: before the rename (old snapshot intact) and
    * after it (committed snapshot intact, replay converges).
    * `beforeCommit`/`afterCommit` are the crash-injection seams for
    * the spec (no-ops in production use).
    *
    * SINGLE-WRITER contract: exactly one upsert query per snapshot
    * root (the natural shape — one streaming query owns its sink).
    * Two concurrent committers would lose updates in the manifest
    * read-modify-write no matter how the staging is named; a
    * multi-writer deployment needs a conditional/CAS commit, which is
    * precisely what real table-format committers add at this point.
    * Readers need no coordination: they resolve the manifest and the
    * vacuum's one-generation retention window keeps a just-superseded
    * snapshot's files intact while they finish scanning it.
    */
  def foreachBatchUpsert(stream: DataFrame, snapshotPath: String,
      checkpointDir: String, nBuckets: Int = 16,
      beforeCommit: () => Unit = () => (),
      afterCommit: () => Unit = () => ()): org.apache.spark.sql.streaming.StreamingQuery =
    sink(stream, checkpointDir) { (batch, batchId) =>
      upsertBatchInto(snapshotPath, batch.withColumn("bucket", upsertBucket(nBuckets)),
        batchId, upsertLatest, beforeCommit, afterCommit)
    }

  /** Start `stream` as a checkpointed foreachBatch query running
    * `f(batch, batchId)` per micro-batch — the one sink builder of
    * every streaming writer here. foreachBatch is AT-LEAST-ONCE: the
    * checkpoint advances only after `f` returns, so a restart replays
    * the last batch under the same `batchId`, and each `f` carries its
    * own replay guard.
    *
    * `f` runs in a [[Checkpoints.scoped]] per batch and receives the
    * batch PINNED: every sink reads its batch at least twice (an
    * emptiness check, then the work), and the pin makes those one read
    * of the source. The batch pin and every pin `f`'s callees make are
    * freed when `f` returns or throws; a replay re-reads the source.
    */
  def sink(stream: DataFrame, checkpointDir: String)(
      f: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        Checkpoints.scoped(f(Checkpoints.pin(batch.toDF()), batchId))
      }
      .start()

  /** One crash-safe bucketed-upsert batch against a
    * [[graft.io.Manifest]] snapshot — the shared core of
    * [[foreachBatchUpsert]] and [[ClusterMaintenance]]'s profile
    * store. `batchB` must carry an int `bucket` column that is a pure
    * function of the upsert key; `merge(current, batchB)` combines
    * the touched buckets' committed rows (bucket column restored)
    * with the batch. The touched buckets are read as ONE relation
    * ([[graft.io.Manifest.readBuckets]]: one listing, one schema read,
    * one scan in the merge plan); `bucket` comes from each file's
    * `bucket=N` directory, a read root that partition discovery does
    * not see. Staging, touched-bucket verification, the
    * manifest-pointer commit and the retention-grace vacuum are
    * crash-spec'd in StreamingSpec.
    */
  private[graft] def upsertBatchInto(snapshotPath: String, batchB: DataFrame,
      batchId: Long, merge: (DataFrame, DataFrame) => DataFrame,
      beforeCommit: () => Unit = () => (),
      afterCommit: () => Unit = () => ()): Unit = {
    val spark = batchB.sparkSession
    val root = new org.apache.hadoop.fs.Path(snapshotPath)
    // resolve the FS from the snapshot path, not the session
    // default — the snapshot may live on a different scheme
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the batch's bucket set: ≤ nBuckets small ints — the only
    // driver-visible data
    val touched = batchB.select("bucket").distinct()
      .collect().map(_.getInt(0)).sorted
    if (touched.nonEmpty) {
      val manifest = graft.io.Manifest.read(fs, root)
      val currentDirs = touched.toSeq.flatMap(manifest.get)
      val current = if (currentDirs.isEmpty) batchB.limit(0)
        else graft.io.Manifest.readBuckets(spark, root, currentDirs)
      val merged = merge(current, batchB)
      // staging dir: attempt-unique w.r.t. the LIVE manifest — a
      // dir the current manifest references must never be deleted
      // (the merge above lazily READS it, and it may be the only
      // committed copy after a post-commit crash + replay)
      val referenced = manifest.values.map(_.split("/", 2)(0)).toSet
      var vdir = s"v$batchId"
      var attempt = 0
      while (referenced(vdir)) {
        attempt += 1
        vdir = s"v${batchId}r$attempt"
      }
      val vpath = new org.apache.hadoop.fs.Path(root, vdir)
      fs.delete(vpath, true) // unreferenced leftover staging only
      merged.write.partitionBy("bucket").mode("overwrite").parquet(vpath.toString)
      // every touched bucket holds ≥1 batch row post-merge, so its
      // staged dir must exist — verify BEFORE publishing anything
      touched.foreach { b =>
        if (!fs.exists(new org.apache.hadoop.fs.Path(vpath, s"bucket=$b")))
          throw new IllegalStateException(
            s"upsertBatchInto: merged output missing touched bucket $b under $vpath; " +
              "aborting commit (current snapshot left intact)")
      }
      val newManifest = manifest ++ touched.map(b => b -> s"$vdir/bucket=$b")
      beforeCommit()
      graft.io.Manifest.write(fs, root, newManifest) // THE commit point
      // retention grace: the PREVIOUS manifest's dirs stay one more
      // batch, for readers that resolved it before this commit
      graft.io.Manifest.vacuum(fs, root, newManifest, referenced)
      afterCommit()
    }
  }

  /** True iff engine batch `batchId` is already folded into `name`:
    * the pointer's EXPLICIT appliedBatch marker, written in the same
    * atomic rename as the data version, is at or above it. A pointer
    * with no marker (a table only ever built or merged by hand) has
    * applied no engine batch — version-number inference would read
    * a live batch as a phantom replay once a manual build/merge/
    * compact has moved the version. Tables a stream fed before the
    * marker existed are not supported: rebuild them.
    */
  private def batchApplied(spark: org.apache.spark.sql.SparkSession,
      name: String, batchId: Long): Boolean =
    graft.io.TableManifest.readPointer(spark, name)
      .exists(_.appliedBatch.exists(_ >= batchId))

  /** One micro-batch of a POINTER-MARKER service (Quantile,
    * Cardinality, their keyed twins, Adjacency): a batch already
    * folded in ([[batchApplied]]) is a REPLAY (crash after commit,
    * before the checkpoint advanced) and a no-op, as is an empty
    * batch; otherwise the first-ever batch builds the table and later
    * ones merge into it, each commit carrying `Some(batchId)` as the
    * table's applied marker.
    */
  private def applyMarked(name: String, batch: DataFrame, batchId: Long)(
      build: Option[Long] => Unit, merge: Option[Long] => Unit): Unit = {
    val spark = batch.sparkSession
    if (!batchApplied(spark, name, batchId) && !batch.isEmpty) {
      if (graft.io.TableManifest.readPointer(spark, name).isEmpty) build(Some(batchId))
      else merge(Some(batchId))
    }
  }

  /** One micro-batch of a LEDGERED service (Vocab, Bigram, Gram,
    * Centroid): the first non-empty batch bootstraps an EMPTY table
    * (its data goes through `append` so the exactly-once ledger
    * covers it — a build carrying batch 0 under manual id −1 would
    * replay-double it); `append` is the service's ledger-guarded
    * appendBatch ([[graft.io.LedgerTable.appendBatch]]).
    */
  private def applyLedgered(name: String, batch: DataFrame)(
      bootstrap: DataFrame => Unit, append: => Boolean): Unit =
    if (!batch.isEmpty) {
      if (graft.io.TableManifest.readPointer(batch.sparkSession, name).isEmpty)
        bootstrap(batch.limit(0))
      append
    }

  /** One micro-batch of the streaming [[QuantileService]] — run it
    * through [[sink]] for streaming ingest: each micro-batch's (ts,
    * value) rows are sketched once at arrival and folded into the
    * persisted per-day sketch table under the same atomic manifest
    * commit the batch paths use; after any batch, a quantile query
    * over any day range is served from the stored sketches alone.
    * Later batches MERGE day sketches ([[QuantileService.mergeDays]]:
    * micro-batches keep arriving for an open day, so replace
    * semantics would drop the day's earlier batches). The sketch
    * merge is not idempotent, so the replay guard is what keeps a
    * replayed batch from double-counting.
    */
  def applyQuantileBatch(name: String)(batch: DataFrame, batchId: Long): Unit =
    applyMarked(name, batch, batchId)(
      a => QuantileService.build(batch.sparkSession, name, batch, appliedBatch = a),
      a => QuantileService.mergeDays(batch.sparkSession, name, batch, appliedBatch = a))

  /** [[applyQuantileBatch]]'s cardinality twin: (ts, user_id) rows
    * union into the per-day HLL table ([[CardinalityService.mergeDays]]).
    * The replay guard matters even though the HLL union is
    * idempotent: n_rows would double-count.
    */
  def applyCardinalityBatch(name: String)(batch: DataFrame, batchId: Long): Unit =
    applyMarked(name, batch, batchId)(
      a => CardinalityService.build(batch.sparkSession, name, batch, appliedBatch = a),
      a => CardinalityService.mergeDays(batch.sparkSession, name, batch, appliedBatch = a))

  /** Keyed twin of [[applyCardinalityBatch]] — per-(dim, day) sketch
    * maintenance fed straight from the event stream: after any batch,
    * per-type distinct curves and the sketched type-overlap matrix are
    * served from stored registers alone
    * ([[CardinalityService.pairOverlapEstimates]]).
    */
  def applyCardinalityKeyedBatch(name: String)(batch: DataFrame, batchId: Long): Unit =
    applyMarked(name, batch, batchId)(
      a => CardinalityService.buildKeyed(batch.sparkSession, name, batch, appliedBatch = a),
      a => CardinalityService.mergeDaysKeyed(batch.sparkSession, name, batch, appliedBatch = a))

  /** Keyed twin of [[applyQuantileBatch]] — per-(dim, day) KLL
    * sketches (the latency-SLO curve per type): after any batch,
    * per-dim quantile queries over any day range serve from stored
    * sketches alone.
    */
  def applyQuantileKeyedBatch(name: String)(batch: DataFrame, batchId: Long): Unit =
    applyMarked(name, batch, batchId)(
      a => QuantileService.buildKeyed(batch.sparkSession, name, batch, appliedBatch = a),
      a => QuantileService.mergeDaysKeyed(batch.sparkSession, name, batch, appliedBatch = a))

  /** The [[VocabService]] micro-batch: documents tokenize ONCE into
    * additive partials under the service's exactly-once ledger. Unlike
    * the sketch services the folded state is EXACT — after any batch,
    * served curves equal a from-scratch build over everything ingested
    * (spec-asserted).
    */
  def applyVocabBatch(name: String)(batch: DataFrame, batchId: Long): Unit =
    applyLedgered(name, batch)(VocabService.build(batch.sparkSession, name, _),
      VocabService.appendBatch(batch, batchId, name))

  /** The [[BigramService]] micro-batch — the IDEMPOTENT ledgered
    * service: pair types union into the stored set, so replay is
    * harmless by construction (the ledger check only skips a
    * pointless rewrite).
    */
  def applyBigramBatch(name: String)(batch: DataFrame, batchId: Long): Unit =
    applyLedgered(name, batch)(BigramService.build(batch.sparkSession, name, _),
      BigramService.appendBatch(batch, batchId, name))

  /** The [[GramService]] micro-batch: embeddings fold ONCE through the
    * Gram accumulator into additive integer partials; after any
    * batch, served cells equal a from-scratch build over everything
    * ingested (spec-asserted).
    */
  def applyGramBatch(name: String)(batch: DataFrame, batchId: Long): Unit =
    applyLedgered(name, batch)(GramService.build(batch.sparkSession, name, _),
      GramService.appendBatch(batch, batchId, name))

  /** The [[CentroidService]] micro-batch — the keyed (per-label)
    * member of the embedding pair: after any batch the served
    * centroid cells AND the affinity matrix equal a from-scratch
    * build over everything ingested (spec-asserted).
    */
  def applyCentroidBatch(name: String)(batch: DataFrame, batchId: Long): Unit =
    applyLedgered(name, batch)(CentroidService.build(batch.sparkSession, name, _),
      CentroidService.appendBatch(batch, batchId, name))

  /** The [[AdjacencyIndex]] micro-batch: (src, dst) edges set-union
    * into the persisted bucketed adjacency; after any batch, BFS/
    * degree/neighbor probes serve the graph-so-far from the stored
    * layout. The set-union itself is idempotent — the replay guard
    * makes a replay a NO-OP rather than a harmless-but-full table
    * rewrite (append re-buckets the whole relation; the class
    * scaladoc's large-batch economics apply doubly under streaming).
    */
  def applyAdjacencyBatch(name: String)(batch: DataFrame, batchId: Long): Unit =
    applyMarked(name, batch, batchId)(
      a => AdjacencyIndex.build(batch.sparkSession, name, batch, appliedBatch = a),
      a => AdjacencyIndex.appendEdges(batch.sparkSession, name, batch, appliedBatch = a))

  /** Per-KEY streaming quantiles — the state-store half of the
    * percentile-service story ([[QuantileService]] persists per-DAY
    * sketches in a manifest table; this keeps a live KLL sketch per
    * GROUP inside the streaming state store, RocksDB-spillable like
    * any mapGroupsWithState state): each micro-batch folds its rows
    * into the group's sketch and re-emits the group's current
    * (n, err_bound, p50, p99). State is the STABLE binary codec
    * ([[Udx.KllBuf.toBytes]]) — O(k log(n/k)) bytes per key, bounded
    * at any stream length, and a state-store restore keeps compacting
    * exactly where it stopped (the codec round-trips compaction
    * flips). The sketch's errBound certificate travels with every
    * emitted row, so a consumer can bound staleness-free rank error
    * without seeing the raw stream.
    */
  def streamQuantilesPerKey(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    events.select(col("event_type"), col("value")).as[(String, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[Array[Byte], (String, Long, Long, Double, Double)](
        GroupStateTimeout.NoTimeout) { (key, rows, state) =>
        val sk = state.getOption.map(Udx.kllFromBytes)
          .getOrElse(new Udx.KllBuf(256))
        rows.foreach { case (_, v) => sk.update(v) }
        state.update(sk.toBytes)
        (key, sk.n, sk.errBound, sk.quantile(0.5), sk.quantile(0.99))
      }
      .toDF("event_type", "n", "err_bound", "p50", "p99")
  }

  /** Streaming twin of [[InfoTheory.eventsEntropyUser]]: per-user
    * event-type counts live in the state store (a small map — one
    * entry per distinct type the user has produced), and each
    * micro-batch emits the user's refreshed EXACT entropy through
    * the same integer kernel
    * ([[graft.functions.NumericExpressions.log2FixedJ]]) the batch
    * key uses. Because the state is the sufficient statistic (counts
    * are associative), the emitted row after the LAST batch is
    * bit-identical to the batch operator over the concatenated
    * input, for ANY batch split — StreamingSpec asserts that
    * invariant across a 3-way split. State size is O(users ×
    * distinct types per user); with an event-type universe this is
    * bounded and needs no timeout, an unbounded key domain would
    * add TTL eviction exactly like the KLL twin above.
    */
  def streamEntropyPerKey(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import graft.functions.NumericExpressions.log2FixedJ
    events.select(col("user_id"), col("event_type")).as[(Long, String)]
      .groupByKey(_._1)
      .mapGroupsWithState[Map[String, Long], (Long, Long, Int, Double)](
        GroupStateTimeout.NoTimeout) { (user, rows, state) =>
        var m = state.getOption.getOrElse(Map.empty[String, Long])
        rows.foreach { case (_, t) => m = m.updated(t, m.getOrElse(t, 0L) + 1L) }
        state.update(m)
        val n = m.values.sum
        val scl = m.foldLeft(0L) { case (a, (_, c)) => a + c * log2FixedJ(c) }
        val h20 = log2FixedJ(n) - scl / n
        (user, n, m.size, h20.toDouble / 1048576.0)
      }
      .toDF("user_id", "n_events", "n_types", "entropy_bits")
  }

  case class UserAgg(n: Long, sum: BigDecimal)

  /** Per-user cumulative stats carried in CUSTOM state via
    * `flatMapGroupsWithState` — the arbitrary-stateful-processing
    * surface (beyond built-in windows). State is one small record per
    * user, hash-partitioned by the group key and exact (BigDecimal
    * sum, so partition/batch order cannot change the emitted double).
    * In batch mode the same code runs with empty initial state, which
    * makes the result equal to a plain group-by — that equivalence is
    * the oracle; cross-batch state accumulation is asserted in
    * `StreamingSpec`.
    */
  def customStateStats(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events.select(col("user_id"), col("value")).as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[UserAgg, (Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (user, rows, state) =>
        var st = state.getOption.getOrElse(UserAgg(0L, BigDecimal(0)))
        rows.foreach { case (_, v) =>
          st = UserAgg(st.n + 1,
            st.sum + BigDecimal(java.math.BigDecimal.valueOf(v)))
        }
        state.update(st)
        Iterator((user, st.n, st.sum.toDouble))
      }
      .toDF("user_id", "n_events", "sum_value")
  }

  /** Stream-stream interval join: click → purchase attribution. Each
    * click joins the same user's purchases that land within the next
    * 30 minutes. In streaming mode the watermarks on BOTH sides plus
    * the event-time range condition let the engine bound join state:
    * a click's state is evictable once the watermark passes
    * click_ts + 30 min, a purchase's once it passes purchase_ts
    * (standard Structured Streaming interval-join state pruning, so
    * state is O(window × rate), not O(stream)). The batch twin runs
    * the identical plan and carries the oracle; streaming semantics
    * (cross-batch matching, out-of-window exclusion) run under
    * MemoryStream in StreamingSpec.
    */
  def streamStreamAttribution(clicks: DataFrame, purchases: DataFrame,
      streaming: Boolean = true): DataFrame = {
    def wm(df: DataFrame): DataFrame =
      if (streaming) df.withWatermark("ts", "10 minutes") else df
    val c = wm(clicks.filter(col("event_type") === "click"))
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val p = wm(purchases.filter(col("event_type") === "purchase"))
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"), col("value").as("purchase_value"))
    c.join(p,
      col("user_id") === col("p_user") &&
      col("purchase_ts") >= col("click_ts") &&
      col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("click_id"), col("user_id"), col("click_ts"),
        col("purchase_id"), col("purchase_ts"), col("purchase_value"))
  }

  // ------------------------------------------------------ oracle'd twins

  val streamTumblingCounts: Q = (s, dir) =>
    tumblingCounts(table(s, dir, "events")).orderBy("ws", "event_type")

  val streamSlidingAvg: Q = (s, dir) =>
    slidingAvg(table(s, dir, "events")).orderBy("ws")

  val streamSessionWindows: Q = (s, dir) =>
    sessionWindows(table(s, dir, "events")).orderBy("user_id", "session_start")

  val streamCustomState: Q = (s, dir) =>
    customStateStats(table(s, dir, "events")).orderBy("user_id")

  val streamStreamJoin: Q = (s, dir) => {
    val e = table(s, dir, "events")
    streamStreamAttribution(e, e, streaming = false)
      .orderBy("click_id", "purchase_id")
  }

  /** `transformWithState` per-user running spend (round 13) — the
    * SPARK 4 arbitrary-state API (StatefulProcessor + typed state
    * handles + timers; the successor surface to
    * `mapGroupsWithState`, RocksDB-backed by contract): a
    * ValueState[(n, cents)] per user folds each micro-batch and
    * re-emits the user's refreshed exact totals. Money stays integer
    * cents end to end, so the state is the sufficient statistic and
    * the final emitted row after ANY batch split is bit-identical to
    * the batch groupBy over the concatenated input — the equivalence
    * StreamingSpec asserts (the `stream_custom_state` discipline on
    * the new API). Unit-only by contract (streaming-runtime-only,
    * like the rest of the §2 streaming-unit family).
    *
    * Scale: state is O(users) fixed-width rows in the RocksDB store
    * (spillable, TTL-evictable via TTLConfig where the key domain is
    * unbounded); each batch touches only its own keys.
    */
  class UserSpendProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long), (Long, Long, Long)] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[(Long, Long)] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long)]("spend",
        org.apache.spark.sql.Encoders.product[(Long, Long)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[(Long, Long)],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[(Long, Long, Long)] = {
      var (n, s) = if (st.exists()) st.get() else (0L, 0L)
      rows.foreach { case (_, cents) => n += 1; s += cents }
      st.update((n, s))
      Iterator.single((user, n, s))
    }
  }

  /** The transformWithState pipeline over an (event) relation —
    * works identically on a stream and on a batch Dataset (empty
    * initial state), which is the spec's equivalence lever.
    */
  def twsUserSpend(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.select(col("user_id"),
        (dec(col("value")) * 100).cast("long").as("cents"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new UserSpendProcessor,
        TimeMode.None(), OutputMode.Update())
      .toDF("user_id", "n_events", "spend_cents")
  }

  /** `transformWithState` TIMER surface (round 13, completing the
    * Spark 4 state API adoption beside [[UserSpendProcessor]]'s
    * value-state fold): event-time session tracking where the
    * SESSION CLOSE is detected by a registered timer rather than by
    * the next event — the idle-user case the built-in session window
    * also handles, but with arbitrary per-session state and an
    * arbitrary close action available (the API's distinguishing
    * power). Per user the state is (start, last, n); each batch
    * extends it and re-arms a timer at last + gap; when the
    * WATERMARK passes the timer the session emits (user, start,
    * last, n) and the state clears. Unit-only by contract.
    *
    * Scale: O(active users) fixed-width state + one timer each in
    * the RocksDB store; expired sessions leave the store — the
    * bounded-state discipline watermarks give every streaming op.
    */
  class SessionGapProcessor(gapMs: Long) extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long), (Long, Long, Long, Long)] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[(Long, Long, Long)] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long, Long)]("session",
        org.apache.spark.sql.Encoders.product[(Long, Long, Long)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[(Long, Long)],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[(Long, Long, Long, Long)] = {
      var (start, last, n) =
        if (st.exists()) st.get() else (Long.MaxValue, Long.MinValue, 0L)
      rows.foreach { case (_, ts) =>
        start = math.min(start, ts); last = math.max(last, ts); n += 1
      }
      // re-arm: drop any earlier-armed close and push it past the
      // newest event (timers are keyed per user in the store)
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      getHandle.registerTimer(last + gapMs)
      st.update((start, last, n))
      Iterator.empty
    }
    override def handleExpiredTimer(user: Long,
        tv: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[(Long, Long, Long, Long)] = {
      val out =
        if (st.exists()) { val (s0, l0, n0) = st.get(); Iterator.single((user, s0, l0, n0)) }
        else Iterator.empty
      st.clear()
      out
    }
  }

  /** Event-time sessionization via the timer surface: sessions close
    * when the WATERMARK passes last-event + gap.
    */
  def twsSessions(events: DataFrame, gap: String = "10 minutes"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val gapMs = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(gap))
    val ms = gapMs.days * 86400000L + gapMs.months * 2592000000L +
      gapMs.microseconds / 1000L
    events.withWatermark("ts", "0 seconds")
      .select(col("user_id"), (col("ts").cast("double") * 1000).cast("long").as("tms"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new SessionGapProcessor(ms),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF("user_id", "session_start_ms", "session_end_ms", "n_events")
  }

  val queries: Map[String, Q] = Map(
    "stream_tumbling_counts" -> streamTumblingCounts,
    "stream_sliding_avg" -> streamSlidingAvg,
    "stream_session_windows" -> streamSessionWindows,
    "stream_custom_state" -> streamCustomState,
    "stream_stream_join" -> streamStreamJoin,
  )
}
