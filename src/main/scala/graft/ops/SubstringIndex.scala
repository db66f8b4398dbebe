package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental shared-substring detection against a PERSISTED
  * positional-gram index — the [[Curation2.dedupSubstringSpan]]
  * counterpart of [[IncrementalDedup]] (third member of the
  * persisted-index family, after the MinHash band index and
  * [[IvfIndex]]). The batch operator self-joins the whole corpus per
  * run; continuous ingestion instead probes each new batch against an
  * append-only index of (gram-hash, gram, doc, pos) rows.
  *
  * Index layout: one row per position-tagged word 3-gram, BUCKETED and
  * sorted by the 8-byte `gh` = xxhash64(lang, gram)
  * ([[graft.io.Sinks.writeBucketed]]) so the probe join leaves the
  * index side exactly as the files lie on disk — no shuffle, no sort;
  * only the new-batch side exchanges, into the index's bucket count
  * (asserted in SubstringIndexSpec). The gram STRING and lang are
  * both stored alongside the hash and re-checked in the join
  * residual — BOTH hash inputs, so a 64-bit collision can never
  * fabricate a match (not even a cross-lang one where the colliding
  * grams happen to be equal) and the reported spans are exact — no
  * doc-store lookup needed on the probe path.
  *
  * Run-finding is the same diagonal gaps-and-islands shape as the
  * batch operator: matching (new_pos, idx_pos) hits collapse onto
  * diagonals; a run of k consecutive 3-gram hits IS a shared span of
  * k+2 tokens. The window clusters on (pair, diagonal) — match-row
  * volume only, never corpus volume.
  *
  * Round 8: versioned through [[graft.io.TableManifest]] — rebuilds
  * and compactions publish atomically; the pointer's schema version
  * (2: the round-7 layout that added `lang` to the stored residual)
  * makes a probe against a pre-round-7 index fail fast instead of
  * silently mismatching columns (r7 ADVICE).
  */
object SubstringIndex {

  /** 2 = round-7 layout (gh, gram, lang, doc_id, pos): `lang` joined
    * into the residual. A version-1 index (no lang column) must be
    * rebuilt — [[graft.io.TableManifest.resolve]] enforces it.
    */
  val SchemaVersion = 2

  private val n = 3 // word-gram width

  /** Current physical table of a logical index name. */
  def resolveTable(spark: SparkSession, tableName: String): String =
    graft.io.TableManifest.resolve(spark, tableName, SchemaVersion)

  /** Position-tagged gram rows of a (doc_id, lang, text, …) relation —
    * map-only (tokenize + slice; no exchange).
    */
  private[graft] def gramRows(docs: DataFrame): DataFrame = {
    val toks = split(trim(col("text")), "\\s+")
    docs.filter(trim(col("text")) =!= "")
      .select(col("doc_id"), col("lang"), toks.as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), col("lang"),
        explode(transform(sequence(lit(0), size(col("toks")) - n),
          i => struct(i.as("pos"),
            concat_ws(" ", slice(col("toks"), i + 1, lit(n))).as("gram")))).as("pg"))
      .select(xxhash64(col("lang"), col("pg.gram")).as("gh"),
        col("pg.gram").as("gram"), col("lang"), col("doc_id"),
        col("pg.pos").as("pos"))
  }

  /** Create the positional-gram index for a corpus as a fresh
    * manifest version (atomic publish).
    */
  def buildIndex(docs: DataFrame, tableName: String, buckets: Int = 8): Unit =
    graft.io.TableManifest.publish(docs.sparkSession, tableName, SchemaVersion) {
      graft.io.Sinks.writeBucketed(
        gramRows(docs).select("gh", "gram", "lang", "doc_id", "pos"),
        _, "gh", buckets)
    }

  /** Append a new batch's grams to the current version (bucket spec
    * from the catalog — parquet append adds files per bucket, never
    * rewrites).
    */
  def appendToIndex(docs: DataFrame, tableName: String): Unit = {
    val spark = docs.sparkSession
    val t = resolveTable(spark, tableName)
    if (graft.io.TableManifest.bucketSpecOf(spark, t).isEmpty)
      throw new IllegalStateException(
        s"$t has no bucket spec — appending would mix layouts; rebuild the index")
    graft.io.TableManifest.append(spark, t,
      gramRows(docs).select("gh", "gram", "lang", "doc_id", "pos"))
  }

  /** Collapse append growth into a fresh manifest version — atomic
    * publish ([[graft.io.TableManifest.compact]]).
    */
  def compact(spark: SparkSession, tableName: String,
      beforeCommit: () => Unit = () => (),
      afterCommit: () => Unit = () => ()): Unit =
    graft.io.TableManifest.compact(
      spark, tableName, SchemaVersion, beforeCommit, afterCommit)

  /** Shared spans of a new batch against the index: one row per
    * (new_id, indexed_id, new_start, idx_start) maximal run of
    * ≥ `minRun` consecutive matching 3-grams — a shared token span of
    * `run + 2` tokens. Exact (gram-string residual on the hash join).
    */
  def probeSpans(spark: SparkSession, newDocs: DataFrame, tableName: String,
      minRun: Int = 2): DataFrame = {
    val nb = gramRows(newDocs)
      .select(col("gh").as("n_gh"), col("gram").as("n_gram"),
        col("lang").as("n_lang"), col("doc_id").as("new_id"),
        col("pos").as("new_pos"))
    val idx = spark.table(resolveTable(spark, tableName))
    // The gram/lang rechecks are written as RANGE PAIRS, not
    // equalities: `gram === n_gram` would be extracted as a second
    // equi-join key, the required partitioning would become
    // (gh, gram, lang), and the planner would disable the bucketed
    // scan and shuffle BOTH sides (observed). The range predicates
    // stay join residuals, so the equi-key is gh alone — exactly the
    // index's bucket key — while hash collisions are still rejected
    // on both of the hash's inputs.
    val hits = idx.join(nb,
        col("gh") === col("n_gh") &&
          col("gram") >= col("n_gram") && col("gram") <= col("n_gram") &&
          col("lang") >= col("n_lang") && col("lang") <= col("n_lang") &&
          col("doc_id") =!= col("new_id"))
      .select(col("new_id"), col("doc_id").as("indexed_id"),
        col("new_pos"), (col("new_pos") - col("pos")).as("diag"))
    val wi = Window.partitionBy(col("new_id"), col("indexed_id"), col("diag"))
      .orderBy(col("new_pos"))
    hits.withColumn("isl", col("new_pos") - row_number().over(wi))
      .groupBy(col("new_id"), col("indexed_id"), col("diag"), col("isl"))
      .agg(min(col("new_pos")).as("new_start"), count(lit(1)).as("run"))
      .filter(col("run") >= minRun)
      .select(col("new_id"), col("indexed_id"), col("new_start"),
        (col("new_start") - col("diag")).as("idx_start"),
        (col("run") + (n - 1)).as("span_toks"))
      .orderBy("new_id", "indexed_id", "new_start", "idx_start", "span_toks")
  }
}
