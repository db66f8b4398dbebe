package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.TableManifest

/** Persisted percentile SERVICE — the piece the r7 verdict named as
  * the missing consumer of the mergeable KLL sketch: per-day sketches
  * of a value stream are persisted as a tiny manifest-committed table
  * (day, n, err_bound, sk), new days append through the same atomic
  * pointer swap the persisted indexes use, and any later quantile
  * query is answered from the stored sketch rows alone — merge, never
  * rescan history. `percentile_approx` is single-shot in-query; THIS
  * is the shape a 100 TB pipeline actually runs: sketch each day once
  * at ingest (one distributed agg over that day only), then serve
  * p50/p99-over-any-day-range forever from O(days · k log(n/k))
  * bytes.
  *
  * Storage is [[graft.io.TableManifest]]'s manifest-pointer contract
  * (immutable `name__vN` tables + one atomic pointer rename = the
  * commit; readers resolve a complete snapshot on either side of a
  * crash — QuantileServiceSpec injects crashes at both seams). The
  * sketch payload uses [[Udx.KllBuf.toBytes]], a STABLE binary codec
  * (kryo is a shuffle format, not a storage contract), and the
  * pointer carries [[SchemaVersion]] so a stale layout fails fast
  * instead of mis-decoding.
  *
  * Scale: the day table has one row per (day) — thousands of rows for
  * years of history, each O(k log(n/k)) bytes. Appending day D
  * rewrites only those rows plus a scan of the (tiny) existing table;
  * the day's sketch itself is built by ONE distributed aggregation
  * over that day's values (partials compact per-partition, merge is
  * the sketch merge — no driver-side reduce). A quantile query reads
  * the sketch rows for the requested day range (partition-prunable by
  * the day column at real scale), merges them driver-side — bounded:
  * |days| sketches — and answers every requested q from the merged
  * sketch with its accumulated worst-case rank-error certificate.
  */
object QuantileService {

  /** Bump when the stored row layout or sketch codec changes. */
  val SchemaVersion = 1

  private val K = 256

  /** Per-day sketch rows of `events` (ts, value): one distributed agg.
    * Kept as a DataFrame builder so build and append share it.
    */
  private def daySketches(spark: SparkSession, events: DataFrame): DataFrame = {
    import org.apache.spark.sql.Encoders
    val udafKll = udaf(new Udx.KllQuantiles(K), Encoders.scalaDouble)
    val pairEnc = Encoders.tuple(Encoders.STRING, Encoders.kryo[Udx.KllBuf])
    val rowEnc = Encoders.tuple(Encoders.STRING, Encoders.scalaLong,
      Encoders.scalaLong, Encoders.BINARY)
    events
      .groupBy(to_date(col("ts")).cast("string").as("day"))
      .agg(udafKll(col("value")).as("sk"))
      .select(col("day"), col("sk")).as[(String, Udx.KllBuf)](pairEnc)
      .map { case (d, buf) => (d, buf.n, buf.errBound, buf.toBytes) }(rowEnc)
      .toDF("day", "n", "err_bound", "sk")
  }

  /** Build (or rebuild) the service table from scratch: stage an
    * immutable version table at the next free version, publish with
    * one atomic pointer rename. The streaming sink passes
    * `appliedBatch` so the same rename records the engine batch it
    * folded in (the replay guard of [[Streaming.applyQuantileBatch]]).
    */
  def build(spark: SparkSession, name: String, events: DataFrame,
      beforeCommit: () => Unit = () => (),
      afterCommit: () => Unit = () => (),
      appliedBatch: Option[Long] = None): Unit =
    publish(spark, name, SchemaVersion, daySketches(spark, events),
      beforeCommit, afterCommit, appliedBatch)

  /** Append newly-arrived days: existing sketch rows carry over
    * verbatim (they are immutable facts about closed days), incoming
    * days are sketched by the same one-pass agg, and the union
    * becomes the next version under the same atomic commit. Days
    * present on BOTH sides are replaced by the incoming build (the
    * late-data re-ingest semantics a daily pipeline wants).
    */
  def appendDays(spark: SparkSession, name: String, events: DataFrame,
      beforeCommit: () => Unit = () => (),
      afterCommit: () => Unit = () => ()): Unit = {
    val cur = TableManifest.resolve(spark, name, SchemaVersion)
    val incoming = daySketches(spark, events)
    val kept = spark.table(cur)
      .join(incoming.select(col("day")), Seq("day"), "left_anti")
    publish(spark, name, SchemaVersion, kept.unionByName(incoming),
      beforeCommit, afterCommit, None)
  }

  /** Incremental MERGE of possibly-partial day data — the streaming
    * ingest semantics ([[Streaming.applyQuantileBatch]]): where
    * [[appendDays]] REPLACES an overlapping day (batch re-ingest of a
    * closed day), mergeDays COMBINES the stored sketch with the
    * incoming one (micro-batches keep arriving for an open day).
    */
  def mergeDays(spark: SparkSession, name: String, events: DataFrame,
      beforeCommit: () => Unit = () => (),
      afterCommit: () => Unit = () => (),
      appliedBatch: Option[Long] = None): Unit =
    mergeInto(spark, name, SchemaVersion, Nil, daySketches(spark, events),
      beforeCommit, afterCommit, appliedBatch)

  /** Publish `rows` as the next version of `name` (plain parquet). */
  private def publish(spark: SparkSession, name: String, schemaVersion: Int,
      rows: DataFrame, beforeCommit: () => Unit, afterCommit: () => Unit,
      appliedBatch: Option[Long]): Unit =
    TableManifest.publish(spark, name, schemaVersion, appliedBatch,
      beforeCommit, afterCommit)(rows.write.mode("overwrite").format("parquet").saveAsTable(_))

  /** The row-local sketch merge of a full-outer join's two sides:
    * (n, err_bound, sk) of the merged sketch.
    */
  private val mergeSketches = udf { (a: Array[Byte], b: Array[Byte]) =>
    val m = (Option(a), Option(b)) match {
      case (Some(x), Some(y)) => Udx.kllFromBytes(x).mergeWith(Udx.kllFromBytes(y))
      case (Some(x), None) => Udx.kllFromBytes(x)
      case (None, Some(y)) => Udx.kllFromBytes(y)
      case _ => throw new IllegalStateException("full-outer join emitted a null pair")
    }
    (m.n, m.errBound, m.toBytes)
  }

  /** [[mergeDays]] and [[mergeDaysKeyed]]: stored and incoming
    * sketches combine row-locally over a full-outer join on
    * (`keys`, day). A UDF is fine here: the relation is the day
    * table (calendar-bounded), never the raw history, and
    * n/errBound are re-read from the merged sketch because
    * compaction during merge can push errBound beyond the sum of the
    * parts.
    */
  private def mergeInto(spark: SparkSession, name: String, schemaVersion: Int,
      keys: Seq[String], incoming: DataFrame, beforeCommit: () => Unit,
      afterCommit: () => Unit, appliedBatch: Option[Long]): Unit = {
    val cur = TableManifest.resolve(spark, name, schemaVersion)
    val on = keys :+ "day"
    val merged = spark.table(cur)
      .select(on.map(col) :+ col("sk").as("sk_old"): _*)
      .join(incoming.select(on.map(col) :+ col("sk").as("sk_new"): _*), on, "full_outer")
      .withColumn("m", mergeSketches(col("sk_old"), col("sk_new")))
      .select(on.map(col) ++ Seq(col("m._1").as("n"), col("m._2").as("err_bound"),
        col("m._3").as("sk")): _*)
    publish(spark, name, schemaVersion, merged, beforeCommit, afterCommit,
      appliedBatch)
  }

  /** Merged sketch over an inclusive day range (None = unbounded).
    * Reads ONLY the stored sketch rows — never the history.
    */
  def mergedSketch(spark: SparkSession, name: String,
      fromDay: Option[String] = None, toDay: Option[String] = None): Udx.KllBuf = {
    val cur = TableManifest.resolve(spark, name, SchemaVersion)
    val rows = Seq(
      fromDay.map(d => col("day") >= d), toDay.map(d => col("day") <= d)
    ).flatten.foldLeft(spark.table(cur))(_ filter _)
    val payloads = rows.select(col("sk")).collect().map(_.getAs[Array[Byte]](0))
    require(payloads.nonEmpty, s"no sketch rows in [$fromDay, $toDay] at '$name'")
    payloads.map(Udx.kllFromBytes).reduce(_ mergeWith _)
  }

  /** Answer quantile queries from the stored sketches alone:
    * (q, estimate, n, worst-case rank-error bound as a fraction).
    */
  def quantiles(spark: SparkSession, name: String, qs: Seq[Double],
      fromDay: Option[String] = None, toDay: Option[String] = None): Seq[(Double, Double, Long, Double)] = {
    val sk = mergedSketch(spark, name, fromDay, toDay)
    qs.map(q => (q, sk.quantile(q), sk.n, sk.errBound.toDouble / sk.n))
  }

  // ------------------------------------------------ keyed layout (r13)

  /** KEYED layout (round 13): one sketch per (dim, day) — the
    * per-event-type percentile service (p50/p99 per endpoint is THE
    * latency-SLO shape) mirroring [[CardinalityService]]'s keyed
    * precedent, under its OWN schema version so keyed and unkeyed
    * layouts fail fast instead of silently mixing (spec-asserted).
    * Serving stays sketch-only: a per-dim day-range query merges that
    * dim's stored day sketches (bounded: |dims|·|days| rows) and
    * answers with the accumulated worst-case certificate.
    */
  val KeyedSchemaVersion = 2

  private def keyedDaySketches(spark: SparkSession, events: DataFrame,
      dimCol: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    val udafKll = udaf(new Udx.KllQuantiles(K), Encoders.scalaDouble)
    val pairEnc = Encoders.tuple(Encoders.STRING, Encoders.STRING,
      Encoders.kryo[Udx.KllBuf])
    val rowEnc = Encoders.tuple(Encoders.STRING, Encoders.STRING,
      Encoders.scalaLong, Encoders.scalaLong, Encoders.BINARY)
    events
      .groupBy(col(dimCol).cast("string").as("dim"),
        to_date(col("ts")).cast("string").as("day"))
      .agg(udafKll(col("value")).as("sk"))
      .select(col("dim"), col("day"), col("sk"))
      .as[(String, String, Udx.KllBuf)](pairEnc)
      .map { case (dim, d, buf) => (dim, d, buf.n, buf.errBound, buf.toBytes) }(rowEnc)
      .toDF("dim", "day", "n", "err_bound", "sk")
  }

  /** Build (or rebuild) a keyed service table from scratch. */
  def buildKeyed(spark: SparkSession, name: String, events: DataFrame,
      dimCol: String = "event_type",
      beforeCommit: () => Unit = () => (),
      afterCommit: () => Unit = () => (),
      appliedBatch: Option[Long] = None): Unit =
    publish(spark, name, KeyedSchemaVersion, keyedDaySketches(spark, events, dimCol),
      beforeCommit, afterCommit, appliedBatch)

  /** Incremental MERGE of possibly-partial (dim, day) data — the
    * keyed [[mergeDays]]: stored and incoming sketches combine
    * row-locally over a full-outer (dim, day) join.
    */
  def mergeDaysKeyed(spark: SparkSession, name: String, events: DataFrame,
      dimCol: String = "event_type",
      beforeCommit: () => Unit = () => (),
      afterCommit: () => Unit = () => (),
      appliedBatch: Option[Long] = None): Unit =
    mergeInto(spark, name, KeyedSchemaVersion, Seq("dim"),
      keyedDaySketches(spark, events, dimCol), beforeCommit, afterCommit, appliedBatch)

  /** Per-dim merged sketch over an inclusive day range; answers
    * every requested q per dim with the accumulated certificate:
    * (dim, q, estimate, n, err fraction). Driver-side merge is
    * bounded by |dims|·|days| stored rows — the same discipline as
    * [[mergedSketch]].
    */
  def quantilesByDim(spark: SparkSession, name: String, qs: Seq[Double],
      fromDay: Option[String] = None,
      toDay: Option[String] = None): Seq[(String, Double, Double, Long, Double)] = {
    val cur = TableManifest.resolve(spark, name, KeyedSchemaVersion)
    val rows = Seq(
      fromDay.map(d => col("day") >= d), toDay.map(d => col("day") <= d)
    ).flatten.foldLeft(spark.table(cur))(_ filter _)
    rows.select(col("dim"), col("sk")).collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .flatMap { case (dim, payloads) =>
        val sk = payloads.map(p => Udx.kllFromBytes(p._2)).reduce(_ mergeWith _)
        qs.map(q => (dim, q, sk.quantile(q), sk.n, sk.errBound.toDouble / sk.n))
      }
  }
}
