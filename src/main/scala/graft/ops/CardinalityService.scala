package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
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

  /** Per-day sketch rows: one distributed agg over the incoming rows.
    * Shared by build and append so both store identical layouts.
    */
  private def daySketches(events: DataFrame, keyCol: String): DataFrame =
    events
      .groupBy(to_date(col("ts")).cast("string").as("day"))
      .agg(count(lit(1)).as("n_rows"),
        hll_sketch_agg(col(keyCol), lit(LgK)).as("sk"))

  private def publish(spark: SparkSession, name: String, rows: DataFrame,
      beforeCommit: () => Unit,
      afterCommit: () => Unit, schemaVersion: Int = SchemaVersion,
      appliedBatch: Option[Long] = None): Unit = {
    val v = TableManifest.nextVersion(spark, name)
    val t = TableManifest.physicalName(name, v)
    spark.sql(s"DROP TABLE IF EXISTS $t") // unreferenced leftover staging only
    rows.write.mode("overwrite").format("parquet").saveAsTable(t)
    beforeCommit()
    TableManifest.commit(spark, name, v, schemaVersion, appliedBatch) // THE commit point
    afterCommit()
    TableManifest.vacuum(spark, name)
  }

  /** Build (or rebuild) the service table from scratch. */
  def build(spark: SparkSession, name: String, events: DataFrame,
      keyCol: String = "user_id",
      beforeCommit: () => Unit = () => (),
      afterCommit: () => Unit = () => (),
      appliedBatch: Option[Long] = None): Unit =
    publish(spark, name, daySketches(events, keyCol),
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
    val incoming = daySketches(events, keyCol)
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
      appliedBatch: Option[Long] = None): Unit = {
    val cur = TableManifest.resolve(spark, name, SchemaVersion)
    val incoming = daySketches(events, keyCol)
    val merged = spark.table(cur)
      .select(col("day"), col("n_rows").as("n_old"), col("sk").as("sk_old"))
      .join(incoming.select(col("day"), col("n_rows").as("n_new"),
        col("sk").as("sk_new")), Seq("day"), "full_outer")
      .select(col("day"),
        (coalesce(col("n_old"), lit(0L)) + coalesce(col("n_new"), lit(0L)))
          .as("n_rows"),
        when(col("sk_old").isNull, col("sk_new"))
          .when(col("sk_new").isNull, col("sk_old"))
          .otherwise(hll_union(col("sk_old"), col("sk_new"))).as("sk"))
    publish(spark, name, merged, beforeCommit, afterCommit,
      appliedBatch = appliedBatch)
  }

  /** Stored sketch rows restricted to an inclusive day range. */
  private def rangeRows(spark: SparkSession, name: String,
      fromDay: Option[String], toDay: Option[String]): DataFrame = {
    val cur = TableManifest.resolve(spark, name, SchemaVersion)
    Seq(fromDay.map(d => col("day") >= d), toDay.map(d => col("day") <= d))
      .flatten.foldLeft(spark.table(cur))(_ filter _)
  }

  /** Distinct-key estimate over an inclusive day range (None =
    * unbounded): (estimate, total rows, days merged). Reads ONLY the
    * stored sketch rows; the union is one distributed agg.
    */
  def distinctOver(spark: SparkSession, name: String,
      fromDay: Option[String] = None, toDay: Option[String] = None): (Long, Long, Long) = {
    val r = rangeRows(spark, name, fromDay, toDay)
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

  private def keyedDaySketches(events: DataFrame, dimCol: String,
      keyCol: String): DataFrame =
    events
      .groupBy(col(dimCol).as("dim"),
        to_date(col("ts")).cast("string").as("day"))
      .agg(count(lit(1)).as("n_rows"),
        hll_sketch_agg(col(keyCol), lit(LgK)).as("sk"))

  /** Build (or rebuild) a keyed service table from scratch. */
  def buildKeyed(spark: SparkSession, name: String, events: DataFrame,
      dimCol: String = "event_type", keyCol: String = "user_id",
      beforeCommit: () => Unit = () => (),
      afterCommit: () => Unit = () => (),
      appliedBatch: Option[Long] = None): Unit =
    publish(spark, name, keyedDaySketches(events, dimCol, keyCol),
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
      appliedBatch: Option[Long] = None): Unit = {
    val cur = TableManifest.resolve(spark, name, KeyedSchemaVersion)
    val incoming = keyedDaySketches(events, dimCol, keyCol)
    val merged = spark.table(cur)
      .select(col("dim"), col("day"), col("n_rows").as("n_old"),
        col("sk").as("sk_old"))
      .join(incoming.select(col("dim"), col("day"), col("n_rows").as("n_new"),
        col("sk").as("sk_new")), Seq("dim", "day"), "full_outer")
      .select(col("dim"), col("day"),
        (coalesce(col("n_old"), lit(0L)) + coalesce(col("n_new"), lit(0L)))
          .as("n_rows"),
        when(col("sk_old").isNull, col("sk_new"))
          .when(col("sk_new").isNull, col("sk_old"))
          .otherwise(hll_union(col("sk_old"), col("sk_new"))).as("sk"))
    publish(spark, name, merged, beforeCommit, afterCommit,
      KeyedSchemaVersion, appliedBatch)
  }

  /** Stored keyed sketch rows restricted to an inclusive day range. */
  private def keyedRangeRows(spark: SparkSession, name: String,
      fromDay: Option[String], toDay: Option[String]): DataFrame = {
    val cur = TableManifest.resolve(spark, name, KeyedSchemaVersion)
    Seq(fromDay.map(d => col("day") >= d), toDay.map(d => col("day") <= d))
      .flatten.foldLeft(spark.table(cur))(_ filter _)
  }

  /** Per-dimension distinct estimate over an inclusive day range:
    * (dim, est, n_rows, days) — one `hll_union_agg` partitioned by
    * dim over the stored rows only.
    */
  def distinctByDim(spark: SparkSession, name: String,
      fromDay: Option[String] = None, toDay: Option[String] = None): DataFrame =
    keyedRangeRows(spark, name, fromDay, toDay)
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
      windowDays: Int): DataFrame = {
    val cur = TableManifest.resolve(spark, name, KeyedSchemaVersion)
    val w = Window.partitionBy(col("dim")).orderBy(col("epoch_day"))
      .rangeBetween(-(windowDays.toLong - 1), 0)
    spark.table(cur)
      .withColumn("epoch_day", unix_date(to_date(col("day"))).cast("long"))
      .withColumn("days_in_window", count(lit(1)).over(w))
      .withColumn("est", hll_sketch_estimate(
        hll_union_agg(col("sk"), lit(false)).over(w)))
      .select(col("dim"), col("day"), col("days_in_window"), col("est"))
      .orderBy(col("dim"), col("day"))
  }

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
    val perDim = keyedRangeRows(spark, name, fromDay, toDay)
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
      windowDays: Int): DataFrame = {
    val cur = TableManifest.resolve(spark, name, SchemaVersion)
    val w = Window.orderBy(col("epoch_day"))
      .rangeBetween(-(windowDays.toLong - 1), 0)
    spark.table(cur)
      .withColumn("epoch_day", unix_date(to_date(col("day"))).cast("long"))
      .withColumn("days_in_window", count(lit(1)).over(w))
      .withColumn("est", hll_sketch_estimate(
        hll_union_agg(col("sk"), lit(false)).over(w)))
      .select(col("day"), col("days_in_window"), col("est"))
      .orderBy(col("day"))
  }
}
