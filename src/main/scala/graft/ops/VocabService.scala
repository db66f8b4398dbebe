package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.TableManifest

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
  * must not double-sum. Three mechanisms compose:
  *  1. every partial row carries its `batch_id`; the `_stats` sidecar
  *     (one row per committed batch: batch_id, n_docs, n_tokens) is
  *     the ledger, written LAST ([[appendBatch]]);
  *  2. the replay guard skips a batch whose id is at-or-under the
  *     sidecar's high water ([[PostingIndex]]'s `>=` argument:
  *     engine ids are monotone, and compaction preserves the high
  *     water);
  *  3. a crash AFTER partials landed but BEFORE the sidecar row
  *     leaves orphan rows that a restart re-appends — but a batch's
  *     partial is DETERMINISTIC (same rows, same counts), so serving
  *     first collapses duplicates exactly via
  *     groupBy(lang, tok, batch_id).max(cnt), then semi-joins the
  *     batch ids against the sidecar (orphans of batches that never
  *     committed are invisible).
  * Manual (non-streaming) ingests get DESCENDING ids −1, −2, … from
  * the sidecar, so two same-content manual appends stay distinct
  * batches (max() must never collapse them) while never colliding
  * with engine ids (≥ 0).
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

  private val StatsSuffix = "_stats"

  private def statsTable(physical: String): String = physical + StatsSuffix

  def resolveTable(spark: SparkSession, name: String): String =
    TableManifest.resolve(spark, name, SchemaVersion)

  /** One batch's partial: the [[InfoTheory.vocabCounts]] rollup tagged
    * with its batch id, plus the sidecar ledger row.
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
      buckets: Int = 8): Unit = {
    val v = TableManifest.nextVersion(spark, name)
    val t = TableManifest.physicalName(name, v)
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS ${statsTable(t)}")
    graft.io.Sinks.writeBucketed(partial(docs, -1L), t, "tok", buckets)
    ledgerRow(spark.table(t), docs.count(), -1L).write.mode("overwrite")
      .format("parquet").saveAsTable(statsTable(t))
    TableManifest.commit(spark, name, v, SchemaVersion)
    TableManifest.vacuum(spark, name)
  }

  private def bucketLayout(spark: SparkSession, physical: String): (String, Int) = {
    val spec = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(physical))
      .bucketSpec.getOrElse(throw new IllegalStateException(
        s"$physical has no bucket spec — appending would mix layouts; rebuild"))
    (spec.bucketColumnNames.head, spec.numBuckets)
  }

  /** Manual append of new documents (additive — the same doc appended
    * twice counts twice, as a corpus concatenation would). Gets the
    * next DESCENDING manual id so repeated same-content appends stay
    * distinct batches.
    *
    * The id is RESERVED DURABLY (one row in the `_resv` sidecar)
    * before any partial row exists (r12 ADVICE): without the
    * reservation, a crash after the partial write but before the
    * ledger row would let the NEXT manual append — possibly of
    * DIFFERENT docs — recompute the same id from the unchanged
    * ledger, commit it, and the max-collapse in [[effective]] would
    * silently merge the two unrelated partials. With it, orphan
    * rows of a crashed append sit under an id that is reserved but
    * never committed: invisible to every reader (the ledger
    * semi-join), never reused, reclaimed by [[compact]]. The `_resv`
    * sidecar rides the version-table lifecycle ([[TableManifest
    * .vacuum]] drops `_`-suffixed sidecars with their version).
    * `afterPartialsAppend` is the spec's crash-injection seam.
    */
  def appendDocs(docs: DataFrame, name: String,
      afterPartialsAppend: () => Unit = () => ()): Unit = {
    val spark = docs.sparkSession
    val t = resolveTable(spark, name)
    spark.catalog.refreshTable(statsTable(t))
    val manualId = ManualIds.reserve(spark, t, statsTable(t))
    val (key, buckets) = bucketLayout(spark, t)
    val rows = partial(docs, manualId).localCheckpoint()
    rows.write.mode("append")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(t)
    afterPartialsAppend()
    ledgerRow(rows, docs.count(), manualId).write.mode("append")
      .format("parquet").saveAsTable(statsTable(t))
  }

  /** Exactly-once-guarded streaming ingest of one engine batch:
    * SKIP if the sidecar high water is at-or-above this id; else
    * partials FIRST, ledger row LAST (crash between the two → orphan
    * partial rows a restart re-appends, collapsed exactly at serve
    * time — scaladoc top). Returns true if applied.
    */
  private[graft] def appendBatch(docs: DataFrame, batchId: Long,
      name: String,
      afterPartialsAppend: () => Unit = () => ()): Boolean = {
    val spark = docs.sparkSession
    val t = resolveTable(spark, name)
    spark.catalog.refreshTable(statsTable(t))
    val committed = spark.table(statsTable(t))
      .filter(col("batch_id") >= batchId).limit(1).count() > 0
    if (committed) false
    else {
      val (key, buckets) = bucketLayout(spark, t)
      val rows = partial(docs, batchId).localCheckpoint()
      rows.write.mode("append")
        .bucketBy(buckets, key).sortBy(key)
        .format("parquet").saveAsTable(t)
      afterPartialsAppend() // crash-injection seam (spec)
      ledgerRow(rows, docs.count(), batchId).write.mode("append")
        .format("parquet").saveAsTable(statsTable(t))
      true
    }
  }

  /** Collapse batch growth into one row per (lang, tok) under a fresh
    * version (atomic publish; probes keep serving the old one). The
    * collapsed rows and the single collapsed ledger row carry the
    * HIGH-WATER committed batch_id — the [[PostingIndex.compact]]
    * discipline: a constant would erase the replay ledger and a
    * post-compaction replay would double-count.
    */
  def compact(spark: SparkSession, name: String): Unit = {
    val t = resolveTable(spark, name)
    spark.catalog.refreshTable(t)
    spark.catalog.refreshTable(statsTable(t))
    val (key, buckets) = bucketLayout(spark, t)
    val ledger = spark.table(statsTable(t))
    val hw = ledger.agg(max(col("batch_id"))).head().getLong(0)
    val collapsed = effective(spark, t).withColumn("batch_id", lit(hw))
    val ledgerCollapsed = ledger
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"))
      .crossJoin(broadcast(effective(spark, t)
        .agg(count(lit(1)).as("n_types"))))
      .withColumn("batch_id", lit(hw))
      .select(col("batch_id"), col("n_docs"), col("n_types"), col("n_tokens"))
    val v = TableManifest.nextVersion(spark, name)
    val t2 = TableManifest.physicalName(name, v)
    spark.sql(s"DROP TABLE IF EXISTS $t2")
    spark.sql(s"DROP TABLE IF EXISTS ${statsTable(t2)}")
    graft.io.Sinks.writeBucketed(collapsed, t2, key, buckets)
    ledgerCollapsed.write.mode("overwrite").format("parquet")
      .saveAsTable(statsTable(t2))
    TableManifest.commit(spark, name, v, SchemaVersion)
    TableManifest.vacuum(spark, name)
  }

  /** The exact (lang, tok, cnt) relation the service serves: replay
    * duplicates collapse via max over (lang, tok, batch_id) — a
    * batch's partial is deterministic, so max IS the true value —
    * then uncommitted orphans drop via the sidecar semi-join, then
    * batches sum. One exchange: the two groupBys share the (lang,
    * tok) prefix and the ledger rides a broadcast.
    */
  private def effective(spark: SparkSession, physical: String): DataFrame = {
    val committed = spark.table(statsTable(physical)).select(col("batch_id"))
    spark.table(physical)
      .join(broadcast(committed), Seq("batch_id"), "left_semi")
      .groupBy(col("lang"), col("tok"), col("batch_id"))
      .agg(max(col("cnt")).as("cnt"))
      .groupBy(col("lang"), col("tok"))
      .agg(sum(col("cnt")).as("cnt"))
  }

  /** The served vocabulary relation (exact, replay-safe). */
  def countsOver(spark: SparkSession, name: String): DataFrame = {
    val t = resolveTable(spark, name)
    spark.catalog.refreshTable(t)
    spark.catalog.refreshTable(statsTable(t))
    effective(spark, t)
  }

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
    val t = resolveTable(spark, name)
    spark.catalog.refreshTable(t)
    spark.catalog.refreshTable(statsTable(t))
    val committed = spark.table(statsTable(t)).select(col("batch_id"))
    spark.table(t)
      .filter(col("tok").isin(terms.distinct: _*))
      .join(broadcast(committed), Seq("batch_id"), "left_semi")
      .groupBy(col("lang"), col("tok"), col("batch_id"))
      .agg(max(col("cnt")).as("cnt"))
      .groupBy(col("lang"), col("tok"))
      .agg(sum(col("cnt")).as("cnt"))
      .orderBy("lang", "tok")
  }

  /** Corpus totals from the ledger alone: (batches, docs, tokens). */
  def stats(spark: SparkSession, name: String): (Long, Long, Long) = {
    val t = resolveTable(spark, name)
    spark.catalog.refreshTable(statsTable(t))
    val r = spark.table(statsTable(t))
      .agg(count(lit(1)), sum(col("n_docs")), sum(col("n_tokens")))
      .head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }
}
