package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exactly-once batch ledger for the incremental services
  * ([[graft.ops.PostingIndex]], [[graft.ops.VocabService]],
  * [[graft.ops.BigramService]], [[graft.ops.GramService]],
  * [[graft.ops.CentroidService]]) — the one implementation of the
  * protocol they share. A service supplies only what is its own: its
  * partial rows, its ledger-row columns, its keys, its bucket layout
  * and the relations it serves.
  *
  * Storage: a [[TableManifest]]-versioned data table plus a `_stats`
  * ledger sidecar, one row per committed batch (`batch_id` plus the
  * service's own totals). Both publish under one atomic pointer
  * ([[publish]]: [[TableManifest.publish]] with the ledger written
  * beside the data), and
  * [[TableManifest.vacuum]] reclaims the sidecars with their version
  * (the `(_.+)?` version pattern).
  *
  * Ingest ([[append]]): partial rows FIRST, in the table's own layout,
  * and the ledger row LAST — the ledger row IS the batch's commit. A
  * crash between the two leaves orphan rows under a batch id the
  * ledger never names. A service whose partials collapse by batch
  * ([[effective]]) hides them; a dedup'ing one (the posting probe,
  * the bigram distinct) absorbs them.
  *
  * Replay guard ([[committed]]): an engine batch is skipped when ANY
  * ledger row is at or above its id. Engine ids are monotone and
  * applied in order, so a row at-or-above the replayed id proves it
  * committed — including the single high-water row [[compact]]
  * collapses the ledger to (an equality guard would forget compacted
  * batches and re-apply them). Manual ids are negative and can never
  * satisfy the guard for an engine id (those start at 0).
  *
  * HARD CONTRACT — single-stream ownership: exactly ONE streaming
  * query may feed a ledgered table, and a rebased checkpoint
  * (restarting from an id below the recorded high water) is out of
  * contract — the monotone `>=` guard is sound only when engine ids
  * arrive in order from one writer. Two concurrent streams, or a
  * re-based restart, can have a later-id commit mask an earlier
  * UNCOMMITTED batch, which is then skipped as a replay. Multi-writer
  * ingest would need per-batch exact-id ledger rows with compaction
  * keeping the full committed-id set.
  *
  * Manual appends ([[appendManual]]) take DESCENDING ids −2, −3, …
  * below a build's −1, so two same-content manual appends stay
  * distinct batches. The id is RESERVED DURABLY, one row in a `_resv`
  * sidecar, before any partial row exists: without it, a crash after
  * the partials but before the ledger row would let the NEXT manual
  * append — possibly of different input — recompute the same id from
  * the unchanged ledger, commit it, and the max-collapse in
  * [[effective]] would merge the two unrelated partials. With it, a
  * crashed append's id stays burned: its orphans are invisible (never
  * in the ledger) and unreachable (never reassigned), and
  * [[compact]] reclaims them. Writers are single-writer by contract,
  * so reserve-then-write needs no locking.
  *
  * Compaction ([[compact]]) republishes the committed state as a
  * fresh version whose collapsed rows and single ledger row carry the
  * ledger's HIGH-WATER batch id — NOT a constant, which would erase
  * the replay ledger: a stream that crashed after batch N committed
  * but before the engine checkpointed would, after a compaction,
  * replay N against a guard that no longer remembers it.
  */
object LedgerTable {

  private val StatsSuffix = "_stats"
  private val ResvSuffix = "_resv"

  /** The ledger sidecar of a physical version table. */
  def statsTable(physical: String): String = physical + StatsSuffix

  /** The committed ledger rows of a physical version table. */
  def ledger(spark: SparkSession, physical: String): DataFrame =
    spark.table(statsTable(physical))

  /** The current physical table of `name`, with it and its ledger
    * re-listed: appends may come from OTHER sessions (a streaming
    * query's cloned session), whose writes invalidate only their own
    * relation cache — a stale listing would serve the pre-append
    * state, and the replay guard would miss the latest commit. A
    * refresh is a metadata re-list, not a data read.
    */
  def current(spark: SparkSession, name: String, schemaVersion: Int): String = {
    val t = TableManifest.resolve(spark, name, schemaVersion)
    spark.catalog.refreshTable(t)
    spark.catalog.refreshTable(statsTable(t))
    t
  }

  /** Publish `rows` as a fresh version of `name` — bucketed by
    * `bucketBy` when given — with the ledger `ledgerOf(physical)`
    * computes (it may read the written table back). A crash before
    * the pointer rename leaves every reader on the previous version.
    */
  def publish(spark: SparkSession, name: String, schemaVersion: Int,
      rows: DataFrame, bucketBy: Option[(String, Int)])(
      ledgerOf: String => DataFrame): Unit =
    TableManifest.publish(spark, name, schemaVersion) { t =>
      bucketBy match {
        case Some((key, buckets)) => Sinks.writeBucketed(rows, t, key, buckets)
        case None => rows.write.mode("overwrite").format("parquet").saveAsTable(t)
      }
      ledgerOf(t).write.mode("overwrite").format("parquet").saveAsTable(statsTable(t))
    }

  /** True iff engine batch `batchId` is already committed in
    * `physical` (the high-water guard — object scaladoc).
    */
  def committed(spark: SparkSession, physical: String, batchId: Long): Boolean =
    ledger(spark, physical).filter(col("batch_id") >= batchId).limit(1).count() > 0

  /** Append one batch to `physical`: the partial rows FIRST, in the
    * table's committed layout ([[TableManifest.append]]), then the
    * ledger row `ledgerRow(rows)` LAST. The rows are
    * materialized once ([[graft.ops.Checkpoints.scoped]]), so the
    * ledger row never recomputes them.
    * `afterRowsAppend` is the specs' crash-injection seam.
    */
  def append(spark: SparkSession, physical: String, rows: DataFrame,
      ledgerRow: DataFrame => DataFrame, afterRowsAppend: () => Unit): Unit =
    graft.ops.Checkpoints.scoped { pin =>
      val pinned = pin(rows)
      TableManifest.append(spark, physical, pinned)
      afterRowsAppend()
      ledgerRow(pinned).write.mode("append").format("parquet")
        .saveAsTable(statsTable(physical))
    }

  /** Guarded streaming append of engine batch `batchId`: skipped when
    * [[committed]], else [[append]] of `rows(batchId)` with the ledger
    * row `ledgerRow(rows, batchId)`. Returns true if applied.
    */
  def appendBatch(spark: SparkSession, name: String, schemaVersion: Int,
      batchId: Long, afterRowsAppend: () => Unit)(rows: Long => DataFrame)(
      ledgerRow: (DataFrame, Long) => DataFrame): Boolean = {
    val t = current(spark, name, schemaVersion)
    if (committed(spark, t, batchId)) false
    else {
      append(spark, t, rows(batchId), ledgerRow(_, batchId), afterRowsAppend)
      true
    }
  }

  /** Manual append under a freshly reserved descending id (object
    * scaladoc): reserve, then [[append]].
    */
  def appendManual(spark: SparkSession, name: String, schemaVersion: Int,
      afterRowsAppend: () => Unit)(rows: Long => DataFrame)(
      ledgerRow: (DataFrame, Long) => DataFrame): Unit = {
    val t = current(spark, name, schemaVersion)
    val id = reserveManualId(spark, t)
    append(spark, t, rows(id), ledgerRow(_, id), afterRowsAppend)
  }

  /** Reserve and return the next manual (negative) batch id of
    * `physical`, below both the ledger and every prior reservation.
    * The reservation row is durable before return.
    */
  private def reserveManualId(spark: SparkSession, physical: String): Long = {
    val resv = physical + ResvSuffix
    def minId(df: DataFrame): Long =
      df.agg(least(coalesce(min(col("batch_id")), lit(-1L)), lit(-1L))).head().getLong(0)
    val reservedMin =
      if (!spark.catalog.tableExists(resv)) -1L
      else {
        spark.catalog.refreshTable(resv)
        minId(spark.table(resv))
      }
    val id = math.min(minId(ledger(spark, physical)), reservedMin) - 1L
    spark.range(1).select(lit(id).as("batch_id"))
      .write.mode("append").format("parquet").saveAsTable(resv)
    id
  }

  /** Republish `name` at its ledger's high water: `rows(physical, hw)`
    * and `ledgerRow(physical, hw)` read the current version and carry
    * `hw` as their batch id (object scaladoc). A `rows` that carries
    * a bucketed table's rows through reads them with
    * [[TableManifest.rewriteSource]]. Atomic; readers keep serving
    * the old version until the pointer rename.
    */
  def compact(spark: SparkSession, name: String, schemaVersion: Int)(
      rows: (String, Long) => DataFrame,
      ledgerRow: (String, Long) => DataFrame): Unit = {
    val t = current(spark, name, schemaVersion)
    val hw = ledger(spark, t).agg(max(col("batch_id"))).head().getLong(0)
    publish(spark, name, schemaVersion, rows(t, hw),
      TableManifest.bucketSpecOf(spark, t))(_ => ledgerRow(t, hw))
  }

  /** The exact served relation of an ADDITIVE service: its partial
    * `rows` (possibly pre-filtered by a probe) with orphans of
    * uncommitted batches dropped by the ledger semi-join, replay
    * duplicates collapsed by max over (keys, batch_id) — a batch's
    * partial is deterministic, so max IS the true value — and the
    * batches summed. The ledger rides a broadcast; the two groupBys
    * share the `keys` prefix.
    */
  def effective(rows: DataFrame, physical: String, keys: Seq[String],
      value: String): DataFrame = {
    val ids = ledger(rows.sparkSession, physical).select(col("batch_id"))
    rows.join(broadcast(ids), Seq("batch_id"), "left_semi")
      .groupBy((keys :+ "batch_id").map(col): _*)
      .agg(max(col(value)).as(value))
      .groupBy(keys.map(col): _*)
      .agg(sum(col(value)).as(value))
  }
}
