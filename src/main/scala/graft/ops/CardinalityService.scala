package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.TableManifest

/** Persisted distinct-count SERVICE — the cardinality sibling of
  * [[QuantileService]]: per-day HLL sketches of a key stream are
  * persisted as a tiny manifest-committed table (day, n_rows, sk),
  * new days append through the same atomic pointer swap, and any
  * later "how many distinct users in [d1, d2]?" is answered from the
  * stored sketch rows alone — merge, never rescan history. This is
  * the query `events_dau_wau` answers in-plan for ONE fixed window;
  * the service answers it for EVERY window forever, which is the
  * 100 TB deployment shape: sketch each day once at ingest (one
  * distributed agg over that day only), then serve any-range
  * cardinality from O(days · 2^lgK) bytes.
  *
  * Sketches are Spark's own DataSketches HLL binaries
  * (`hll_sketch_agg`, lgConfigK pinned) — mergeable losslessly via
  * register-wise max, so a union over stored per-day sketches is
  * state-identical to one sketch over the concatenated raw stream
  * (spec-asserted: merged estimates EQUAL one-shot estimates, not
  * just approximate them). Storage is [[graft.io.TableManifest]]'s
  * pointer contract (immutable `name__vN` tables + one atomic
  * rename; crash-injected on both commit seams in the spec), with
  * [[SchemaVersion]] carried so a stale layout fails fast.
  *
  * Scale: the day table has one row per day — thousands of rows for
  * years, each ≤ ~2^lgK bytes dense. Appending day D sketches that
  * day's rows only; range queries read |days| sketch rows
  * (partition-prunable by day at real scale) through ONE
  * `hll_union_agg` — no driver-side merge loop. The rolling-window
  * variant runs an UNPARTITIONED window, deliberately: its input is
  * the calendar-bounded day table, never raw history (the documented
  * exception class to the no-unpartitioned-windows gate).
  */
object CardinalityService {

  /** Bump when the stored row layout or sketch config changes. */
  val SchemaVersion = 1

  /** The KEYED layout (dim, day, n_rows, sk) is a different schema —
    * its own version so a keyed table read through the unkeyed API
    * (or vice versa) fails fast at resolve instead of mis-parsing.
    */
  val KeyedSchemaVersion = 2

  /** lgConfigK: 2^12 registers → ~0.8 % relative standard error. */
  private val LgK = 12

  /** Per-(`keys`, day) sketch rows: one distributed agg over the
    * incoming rows. `keys` is Nil for the day layout and the dim for
    * the keyed one; build, append and merge share it so all store
    * identical layouts.
    */
  private def daySketches(events: DataFrame, keys: Seq[Column],
      keyCol: String): DataFrame =
    events
      .groupBy(keys :+ to_date(col("ts")).cast("string").as("day"): _*)
      .agg(count(lit(1)).as("n_rows"),
        hll_sketch_agg(col(keyCol), lit(LgK)).as("sk"))

  private def dimKey(dimCol: String): Seq[Column] = Seq(col(dimCol).as("dim"))

  private def publish(spark: SparkSession, name: String, rows: DataFrame,
      beforeCommit: () => Unit,
      afterCommit: () => Unit, schemaVersion: Int = SchemaVersion,
      appliedBatch: Option[Long] = None): Unit =
    TableManifest.publish(spark, name, schemaVersion, appliedBatch,
      beforeCommit, afterCommit)(rows.write.mode("overwrite").format("parquet").saveAsTable(_))

  /** Build (or rebuild) the service table from scratch. */
  def build(spark: SparkSession, name: String, events: DataFrame,
      keyCol: String = "user_id",
      beforeCommit: () => Unit = () => (),
      afterCommit: () => Unit = () => (),
      appliedBatch: Option[Long] = None): Unit =
    publish(spark, name, daySketches(events, Nil, keyCol),
      beforeCommit, afterCommit, appliedBatch = appliedBatch)

  /** Append newly-arrived days: existing rows carry over verbatim
    * (immutable facts about closed days); a day present on BOTH sides
    * is REPLACED by the incoming build — the late-data re-ingest
    * semantics of [[QuantileService.appendDays]].
    */
  def appendDays(spark: SparkSession, name: String, events: DataFrame,
      keyCol: String = "user_id",
      beforeCommit: () => Unit = () => (),
      afterCommit: () => Unit = () => ()): Unit = {
    val cur = TableManifest.resolve(spark, name, SchemaVersion)
    val incoming = daySketches(events, Nil, keyCol)
    val kept = spark.table(cur)
      .join(incoming.select(col("day")), Seq("day"), "left_anti")
    publish(spark, name, kept.unionByName(incoming),
      beforeCommit, afterCommit)
  }

  /** Incremental MERGE of possibly-partial day data — the streaming
    * ingest semantics ([[Streaming.applyCardinalityBatch]]): where
    * [[appendDays]] REPLACES an overlapping day (batch re-ingest of a
    * closed day), mergeDays COMBINES the stored sketch with the
    * incoming one (micro-batches keep arriving for an open day).
    * Unlike the KLL sibling this needs NO UDF: `hll_union` is the
    * codegen'd binary register-max over the full-outer day join —
    * and because the union is lossless, merge order never affects
    * served estimates.
    */
  def mergeDays(spark: SparkSession, name: String, events: DataFrame,
      keyCol: String = "user_id",
      beforeCommit: () => Unit = () => (),
      afterCommit: () => Unit = () => (),
      appliedBatch: Option[Long] = None): Unit =
    mergeInto(spark, name, SchemaVersion, Nil, daySketches(events, Nil, keyCol),
      beforeCommit, afterCommit, appliedBatch)

  /** [[mergeDays]] and [[mergeDaysKeyed]]: the register-max union of
    * stored and incoming sketches over a full-outer join on
    * (`keys`, day).
    */
  private def mergeInto(spark: SparkSession, name: String, schemaVersion: Int,
      keys: Seq[String], incoming: DataFrame, beforeCommit: () => Unit,
      afterCommit: () => Unit, appliedBatch: Option[Long]): Unit = {
    val cur = TableManifest.resolve(spark, name, schemaVersion)
    val on = keys :+ "day"
    val merged = spark.table(cur)
      .select(on.map(col) ++ Seq(col("n_rows").as("n_old"), col("sk").as("sk_old")): _*)
      .join(incoming.select(on.map(col) ++ Seq(col("n_rows").as("n_new"),
        col("sk").as("sk_new")): _*), on, "full_outer")
      .select(on.map(col) ++ Seq(
        (coalesce(col("n_old"), lit(0L)) + coalesce(col("n_new"), lit(0L)))
          .as("n_rows"),
        when(col("sk_old").isNull, col("sk_new"))
          .when(col("sk_new").isNull, col("sk_old"))
          .otherwise(hll_union(col("sk_old"), col("sk_new"))).as("sk")): _*)
    publish(spark, name, merged, beforeCommit, afterCommit, schemaVersion,
      appliedBatch)
  }

  /** Stored sketch rows of the `schemaVersion` layout restricted to
    * an inclusive day range.
    */
  private def rangeRows(spark: SparkSession, name: String, schemaVersion: Int,
      fromDay: Option[String], toDay: Option[String]): DataFrame = {
    val cur = TableManifest.resolve(spark, name, schemaVersion)
    Seq(fromDay.map(d => col("day") >= d), toDay.map(d => col("day") <= d))
      .flatten.foldLeft(spark.table(cur))(_ filter _)
  }

  /** Distinct-key estimate over an inclusive day range (None =
    * unbounded): (estimate, total rows, days merged). Reads ONLY the
    * stored sketch rows; the union is one distributed agg.
    */
  def distinctOver(spark: SparkSession, name: String,
      fromDay: Option[String] = None, toDay: Option[String] = None): (Long, Long, Long) = {
    val r = rangeRows(spark, name, SchemaVersion, fromDay, toDay)
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("est"),
        sum(col("n_rows")).as("n_rows"), count(lit(1)).as("days"))
      .collect()(0)
    require(r.getLong(2) > 0, s"no sketch rows in [$fromDay, $toDay] at '$name'")
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  // ───────────────────────── keyed variant ─────────────────────────
  // Per-(dimension, day) sketches — e.g. per-event-type DAU. Decided
  // (not carried) in round 12: the consumer is the sketched
  // audience-overlap matrix below, the at-scale path of the EXACT
  // `events_type_overlap` key (whose per-user fan-out re-reads raw
  // history for every query window; the keyed service answers any
  // window from stored registers). Layout (dim, day, n_rows, sk)
  // under KeyedSchemaVersion so layouts can't silently mix.

  /** Build (or rebuild) a keyed service table from scratch. */
  def buildKeyed(spark: SparkSession, name: String, events: DataFrame,
      dimCol: String = "event_type", keyCol: String = "user_id",
      beforeCommit: () => Unit = () => (),
      afterCommit: () => Unit = () => (),
      appliedBatch: Option[Long] = None): Unit =
    publish(spark, name, daySketches(events, dimKey(dimCol), keyCol),
      beforeCommit, afterCommit, KeyedSchemaVersion, appliedBatch)

  /** Incremental merge of possibly-partial (dim, day) data — the
    * keyed [[mergeDays]]: stored and incoming sketches combine via
    * the codegen'd register-max `hll_union` over a full-outer join on
    * (dim, day); lossless, so merge order never affects estimates.
    */
  def mergeDaysKeyed(spark: SparkSession, name: String, events: DataFrame,
      dimCol: String = "event_type", keyCol: String = "user_id",
      beforeCommit: () => Unit = () => (),
      afterCommit: () => Unit = () => (),
      appliedBatch: Option[Long] = None): Unit =
    mergeInto(spark, name, KeyedSchemaVersion, Seq("dim"),
      daySketches(events, dimKey(dimCol), keyCol), beforeCommit, afterCommit,
      appliedBatch)

  /** Per-dimension distinct estimate over an inclusive day range:
    * (dim, est, n_rows, days) — one `hll_union_agg` partitioned by
    * dim over the stored rows only.
    */
  def distinctByDim(spark: SparkSession, name: String,
      fromDay: Option[String] = None, toDay: Option[String] = None): DataFrame =
    rangeRows(spark, name, KeyedSchemaVersion, fromDay, toDay)
      .groupBy(col("dim"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("est"),
        sum(col("n_rows")).as("n_rows"), count(lit(1)).as("days"))
      .orderBy(col("dim"))

  /** The trailing-window distinct curve per dimension — the keyed
    * [[rollingDistinct]], and the shape that REMOVES its documented
    * unpartitioned-window exception: here the RANGE frame is
    * partitioned by dim over the |dims|·|days| day table.
    */
  def rollingDistinctKeyed(spark: SparkSession, name: String,
      windowDays: Int): DataFrame =
    rolling(spark, name, KeyedSchemaVersion, Seq("dim"), windowDays)

  /** Sketched audience-overlap matrix over a day range — the keyed
    * service's consumer and the at-scale form of the exact
    * `events_type_overlap` key: per unordered dim pair, est_a, est_b,
    * est_union (one register-max union of the two merged sketches)
    * and est_inter = max(0, est_a + est_b − est_union)
    * (inclusion–exclusion; clamped because the subtraction can go
    * slightly negative at sketch error for near-disjoint pairs —
    * exactly the regime where the EXACT key is cheap, so the two
    * forms cover each other). Everything stays in-plan: per-dim
    * unions are one partitioned agg over stored rows, the pair join
    * is dimension-bounded.
    */
  def pairOverlapEstimates(spark: SparkSession, name: String,
      fromDay: Option[String] = None, toDay: Option[String] = None): DataFrame = {
    val perDim = rangeRows(spark, name, KeyedSchemaVersion, fromDay, toDay)
      .groupBy(col("dim"))
      .agg(hll_union_agg(col("sk"), lit(false)).as("sk"))
    val a = perDim.select(col("dim").as("dim_a"), col("sk").as("sk_a"))
    val b = perDim.select(col("dim").as("dim_b"), col("sk").as("sk_b"))
    a.join(b, col("dim_a") < col("dim_b"))
      .select(col("dim_a"), col("dim_b"),
        hll_sketch_estimate(col("sk_a")).as("est_a"),
        hll_sketch_estimate(col("sk_b")).as("est_b"),
        hll_sketch_estimate(hll_union(col("sk_a"), col("sk_b"))).as("est_union"))
      .withColumn("est_inter",
        greatest(lit(0L), col("est_a") + col("est_b") - col("est_union")))
      .orderBy(col("dim_a"), col("dim_b"))
  }

  /** The trailing-window distinct curve (e.g. windowDays = 7 → WAU
    * per day), served from stored sketches only: for every stored
    * day, the union of the sketches in its trailing calendar window.
    * The RANGE frame runs on epoch-day, so calendar gaps shrink the
    * window rather than stretching it (the burst-key discipline).
    * Output: (day, days_in_window, est) — one row per stored day.
    */
  def rollingDistinct(spark: SparkSession, name: String,
      windowDays: Int): DataFrame =
    rolling(spark, name, SchemaVersion, Nil, windowDays)

  /** [[rollingDistinct]] and [[rollingDistinctKeyed]]: the RANGE
    * frame partitioned by `keys` (Nil = the one unpartitioned spec).
    */
  private def rolling(spark: SparkSession, name: String, schemaVersion: Int,
      keys: Seq[String], windowDays: Int): DataFrame = {
    val cur = TableManifest.resolve(spark, name, schemaVersion)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("epoch_day"))
      .rangeBetween(-(windowDays.toLong - 1), 0)
    val on = keys :+ "day"
    spark.table(cur)
      .withColumn("epoch_day", unix_date(to_date(col("day"))).cast("long"))
      .withColumn("days_in_window", count(lit(1)).over(w))
      .withColumn("est", hll_sketch_estimate(
        hll_union_agg(col("sk"), lit(false)).over(w)))
      .select(on.map(col) ++ Seq(col("days_in_window"), col("est")): _*)
      .orderBy(on.map(col): _*)
  }
}
