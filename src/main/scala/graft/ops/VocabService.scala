package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{LedgerTable, TableManifest}

/** Persisted vocabulary-statistics SERVICE — the token-count sibling
  * of [[CardinalityService]] (distinct keys) and [[QuantileService]]
  * (quantiles), and the incremental backend for the count-based text
  * keys: the corpus is tokenized ONCE per ingest batch into a
  * (lang, tok, cnt) partial, partials append under the manifest
  * pointer, and every served statistic — coverage curve, Zipf slope,
  * top-k, per-term counts — reads the stored VOCABULARY (types), never
  * raw history (instances). Token counts are ADDITIVE, so unlike the
  * sketch services the merge is EXACT: served curves are
  * row-identical to [[InfoTheory.textVocabCoverage]] /
  * [[InfoTheory.textZipfSlope]] recomputed from the concatenated
  * corpus (spec-asserted equality, and by construction — the
  * consumers call the same `*FromCounts` pipelines on
  * [[countsOver]]).
  *
  * Exactly-once under streaming replay WITHOUT a dedup key the
  * posting index has: counts are additive, so a replayed batch's rows
  * must not double-sum. The [[graft.io.LedgerTable]] protocol gives
  * it: every partial row carries its `batch_id`; the `_stats` ledger
  * (one row per committed batch: batch_id, n_docs, n_types,
  * n_tokens) is written LAST; the replay guard skips a batch at or
  * under the ledger's high water; and serving collapses replay
  * duplicates by max over (lang, tok, batch_id) — a batch's partial
  * is DETERMINISTIC — after dropping orphans of batches that never
  * committed. Manual ingests take DESCENDING negative ids, so two
  * same-content manual appends stay distinct batches (max() must
  * never collapse them) while never colliding with engine ids (≥ 0).
  *
  * Storage is bucketed+sorted by `tok` ([[graft.io.Sinks
  * .writeBucketed]]) so a per-term probe ([[termCounts]]) prunes to
  * the buckets its terms hash to — the [[PostingIndex]] economics,
  * but over the vocabulary relation (tiny next to postings).
  *
  * 100 TB: build/append tokenize only the incoming docs (one
  * map-side-combined rollup); the stored table is O(vocabulary ·
  * batches-since-compaction) rows — Heaps-law sublinear in corpus
  * size; [[compact]] collapses batch growth. Served statistics rank
  * the vocabulary (per-lang windows — the zipf caveat: at 10⁹-type
  * vocabularies swap the rank for the bucketed two-level form).
  * Serving NEVER re-reads a document.
  */
object VocabService {

  /** Bump when the stored row layout changes. */
  val SchemaVersion = 1

  def resolveTable(spark: SparkSession, name: String): String =
    TableManifest.resolve(spark, name, SchemaVersion)

  /** One batch's partial: the [[InfoTheory.vocabCounts]] rollup tagged
    * with its batch id.
    */
  private def partial(docs: DataFrame, batchId: Long): DataFrame =
    InfoTheory.vocabCounts(docs).withColumn("batch_id", lit(batchId))

  /** Ledger row from an already-materialized partial (never
    * re-tokenizes — the [[PostingIndex]] read-back lesson).
    */
  private def ledgerRow(partialRows: DataFrame, nDocs: Long,
      batchId: Long): DataFrame =
    partialRows
      .agg(coalesce(sum(lit(1L)), lit(0L)).as("n_types"),
        coalesce(sum(col("cnt")), lit(0L)).as("n_tokens"))
      .withColumn("n_docs", lit(nDocs))
      .withColumn("batch_id", lit(batchId))
      .select(col("batch_id"), col("n_docs"), col("n_types"), col("n_tokens"))

  /** Tokenize + persist a documents table as a fresh manifest
    * version (batch id −1).
    */
  def build(spark: SparkSession, name: String, docs: DataFrame,
      buckets: Int = 8): Unit =
    LedgerTable.publish(spark, name, SchemaVersion, partial(docs, -1L),
      Some("tok" -> buckets))(t => ledgerRow(spark.table(t), docs.count(), -1L))

  /** Manual append of new documents (additive — the same doc appended
    * twice counts twice, as a corpus concatenation would) under the
    * next DESCENDING manual id, reserved durably before any partial
    * row exists ([[graft.io.LedgerTable.appendManual]]): repeated
    * same-content appends stay distinct batches, and a crashed
    * append's orphan rows stay invisible and are never merged into a
    * later append's batch. `afterPartialsAppend` is the spec's
    * crash-injection seam.
    */
  def appendDocs(docs: DataFrame, name: String,
      afterPartialsAppend: () => Unit = () => ()): Unit =
    LedgerTable.appendManual(docs.sparkSession, name, SchemaVersion,
      afterPartialsAppend)(partial(docs, _))(ledgerRow(_, docs.count(), _))

  /** Exactly-once-guarded streaming ingest of one engine batch
    * ([[graft.io.LedgerTable.appendBatch]]): SKIP if the sidecar high
    * water is at-or-above this id; else partials FIRST, ledger row
    * LAST (crash between the two → orphan partial rows a restart
    * re-appends, collapsed exactly at serve time — scaladoc top).
    * Returns true if applied.
    */
  private[graft] def appendBatch(docs: DataFrame, batchId: Long,
      name: String,
      afterPartialsAppend: () => Unit = () => ()): Boolean =
    LedgerTable.appendBatch(docs.sparkSession, name, SchemaVersion, batchId,
      afterPartialsAppend)(partial(docs, _))(ledgerRow(_, docs.count(), _))

  /** Collapse batch growth into one row per (lang, tok) under a fresh
    * version (atomic publish; probes keep serving the old one). The
    * collapsed rows and the single collapsed ledger row carry the
    * HIGH-WATER committed batch_id ([[graft.io.LedgerTable.compact]]).
    */
  def compact(spark: SparkSession, name: String): Unit =
    LedgerTable.compact(spark, name, SchemaVersion)(
      (t, hw) => effective(spark, t).withColumn("batch_id", lit(hw)),
      (t, hw) => LedgerTable.ledger(spark, t)
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"))
        .crossJoin(broadcast(effective(spark, t)
          .agg(count(lit(1)).as("n_types"))))
        .withColumn("batch_id", lit(hw))
        .select(col("batch_id"), col("n_docs"), col("n_types"), col("n_tokens")))

  /** The exact (lang, tok, cnt) relation the service serves — the
    * ledger's max → semi-join → sum collapse
    * ([[graft.io.LedgerTable.effective]]). One exchange: the two
    * groupBys share the (lang, tok) prefix.
    */
  private def effective(spark: SparkSession, physical: String): DataFrame =
    LedgerTable.effective(spark.table(physical), physical, Seq("lang", "tok"), "cnt")

  /** The served vocabulary relation (exact, replay-safe). */
  def countsOver(spark: SparkSession, name: String): DataFrame =
    effective(spark, LedgerTable.current(spark, name, SchemaVersion))

  /** [[InfoTheory.textVocabCoverage]] served from stored partials —
    * row-identical to the batch key over the same corpus.
    */
  def coverageOver(spark: SparkSession, name: String): DataFrame =
    InfoTheory.coverageFromCounts(countsOver(spark, name))
      .orderBy("lang", "k")

  /** [[InfoTheory.textZipfSlope]] served from stored partials. */
  def zipfOver(spark: SparkSession, name: String): DataFrame =
    InfoTheory.zipfFromCounts(countsOver(spark, name))

  /** Exact counts for a literal term set — the bucket-pruned probe:
    * the isin pushes to the bucketed scan, so only the buckets the
    * terms hash to are read (spec-asserted).
    */
  def termCounts(spark: SparkSession, name: String,
      terms: Seq[String]): DataFrame = {
    val t = LedgerTable.current(spark, name, SchemaVersion)
    LedgerTable.effective(spark.table(t).filter(col("tok").isin(terms.distinct: _*)),
      t, Seq("lang", "tok"), "cnt")
      .orderBy("lang", "tok")
  }

  /** Corpus totals from the ledger alone: (batches, docs, tokens). */
  def stats(spark: SparkSession, name: String): (Long, Long, Long) = {
    val r = LedgerTable.ledger(spark, LedgerTable.current(spark, name, SchemaVersion))
      .agg(count(lit(1)), sum(col("n_docs")), sum(col("n_tokens")))
      .head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }
}
