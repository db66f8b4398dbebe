package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.NumericExpressions.log2Fixed
import graft.io.{LedgerTable, TableManifest}

/** Persisted inverted index with BM25 probe — the AD-HOC half of the
  * retrieval story: [[InfoTheory.textBm25Topk]] handles a literal
  * query-term set with zero shuffles, but an ad-hoc query (terms known
  * only at probe time) would re-scan and re-tokenize the whole corpus
  * per query. This index pays the tokenize ONCE: the (term, doc_id,
  * tf, dl) posting relation persists BUCKETED AND SORTED BY TERM
  * ([[graft.io.Sinks.writeBucketed]]), so a probe reads only the
  * buckets its terms hash to (bucket pruning, asserted in spec) and
  * joins nothing corpus-sized.
  *
  * `dl` is denormalized into the posting row — the BM25 length
  * normalization needs it per (doc, term) hit, and storing 8 bytes per
  * posting beats a corpus-wide (doc → dl) join at probe time.
  *
  * Corpus statistics (N, Σdl) live in an APPEND-ONLY `_stats` sidecar:
  * one row per build/append batch, probes SUM them — so appends never
  * rewrite anything (the crash-window-free discipline of the
  * [[ProfileIndex]] family; the batch contract is the usual
  * append-new-docs-only). The probe recomputes df from the probed
  * postings themselves — df is a per-term count over exactly the rows
  * already read, never a second corpus pass.
  *
  * Versioning: [[graft.io.LedgerTable]] — the postings table and its
  * stats sidecar publish under one atomic pointer, and streaming
  * appends use its replay guard; depth of the layout is the row
  * schema itself ([[SchemaVersion]]).
  *
  * 100 TB: the index is one tokenize + one (doc,term) aggregate at
  * build (linear, map-side combined); probe cost is
  * O(Σ_t |postings(t)|) — the classic search-engine economics —
  * with the per-doc score rollup shuffling only probed hits.
  * MEASURED boundary (BASELINE.md r11 BM25 row: 10⁷ docs / 3.7·10⁸
  * postings): rare-term probes 3.5 s vs 21–33 s for
  * the indexless full scan — but STOP-WORD-hot terms (~70 % df) on an
  * UNSHARDED index probe SLOWER than the full scan (87–127 s),
  * because bucket pruning collapses read parallelism to the probed
  * buckets while the posting lists are corpus-sized. The fix is BUILT
  * (round 12): `buildIndex(..., shards = S)` doc-shards the posting
  * lists — the bucketing key becomes the composite `ts = term#shard`
  * (shard = xxhash64(doc_id) mod S) and the probe enumerates the S
  * (term, shard) literals, so a hot term's list spreads across up to
  * S buckets/tasks while a rare term still prunes to ≤ S bucket
  * values. S rides the stats sidecar (probes/appends self-configure);
  * choose S ≈ the per-bucket task parallelism you want on the hottest
  * term, and buckets ≥ S so shards don't re-collide. Re-measured @
  * 10⁷ docs: see BASELINE.md r12. The alternative remains routing
  * ~zero-idf high-df terms to the scan path at the caller.
  */
object PostingIndex {

  /** Bump when the posting row layout changes. v2: optional doc-shard
    * composite key `ts` in the posting row + `shards` in the stats
    * sidecar (the hot-term fix).
    */
  val SchemaVersion = 2

  def resolveTable(spark: SparkSession, tableName: String): String =
    TableManifest.resolve(spark, tableName, SchemaVersion)

  private def toks(c: org.apache.spark.sql.Column) =
    split(lower(regexp_replace(trim(c), "\\s+", " ")), " ")

  /** The posting relation of a documents table: (term, doc_id, tf, dl
    * [, ts]), one exchange (the doc_id clustering serves the tf
    * aggregate and the dl window — the entropy-family argument).
    * With `shards` > 1 each row also carries the composite bucketing
    * key `ts = term#shard`, `shard = xxhash64(doc_id) mod shards` —
    * doc-sharded posting lists, so one term's postings spread over up
    * to `shards` buckets instead of collapsing into one.
    */
  private[graft] def postingRows(docs: DataFrame, shards: Int = 1): DataFrame = {
    val base = docs
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .repartition(col("doc_id"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("dl", sum(col("tf")).over(Window.partitionBy(col("doc_id"))))
      .select(col("term"), col("doc_id"), col("tf"), col("dl"))
    if (shards <= 1) base
    else base.withColumn("ts",
      concat_ws("#", col("term"), pmod(xxhash64(col("doc_id")), lit(shards))))
  }

  /** One stats row per ingest; `batch_id` = −1 for build/manual
    * appends, the engine's batchId for streaming ingest (the
    * exactly-once guard key). `shards` records the index's doc-shard
    * fan-out (constant per index — layout metadata riding the sidecar
    * so probes and appends self-configure; collapse takes max).
    */
  private def batchStats(rows: DataFrame, batchId: Long, shards: Int): DataFrame =
    rows.agg(countDistinct(col("doc_id")).as("n_docs"),
      sum(col("tf")).as("total_tok"))
      .withColumn("batch_id", lit(batchId))
      .withColumn("shards", lit(shards.toLong))

  /** The index's doc-shard fan-out, read from the stats sidecar. */
  private def shardsOf(spark: SparkSession, physical: String): Int =
    LedgerTable.ledger(spark, physical)
      .agg(coalesce(max(col("shards")), lit(1L))).head().getLong(0).toInt

  /** Tokenize + index a documents table as a fresh manifest version.
    * Stats come from reading the WRITTEN table back (a column-pruned
    * (doc_id, tf) scan of what was just laid down) — NOT from a
    * localCheckpoint of the posting relation: materializing ~40
    * postings/doc through the block manager measured 10× the cost of
    * the read-back at 10⁷ docs (BASELINE.md r11 BM25 row).
    */
  def buildIndex(docs: DataFrame, tableName: String, buckets: Int = 8,
      shards: Int = 1): Unit = {
    val key = if (shards > 1) "ts" else "term"
    LedgerTable.publish(docs.sparkSession, tableName, SchemaVersion,
      postingRows(docs, shards), Some(key -> buckets))(
      t => batchStats(docs.sparkSession.table(t), -1L, shards))
  }

  /** Append a NEW batch of documents (caller contract: doc_ids not
    * already indexed). Postings append per bucket; the stats sidecar
    * gains one row — nothing rewrites, so a concurrent probe never
    * errors, but its view is MIXED, not snapshot-stale: postings land
    * first and stats last, so a probe racing the window may count the
    * new docs in df while N/avgdl still exclude them (a transient idf
    * skew on the probed terms, bounded by the batch size; the crash
    * window of [[appendBatch]] persists the same mix until replay).
    * Snapshot isolation, where needed, is what [[compact]]'s atomic
    * pointer flip provides — run probes against a compacted version.
    */
  def appendToIndex(docs: DataFrame, tableName: String): Unit = {
    val spark = docs.sparkSession
    appendPostings(docs, LedgerTable.current(spark, tableName, SchemaVersion),
      -1L, () => ())
  }

  /** Postings then stats row ([[graft.io.LedgerTable.append]]), at the
    * index's recorded doc-shard fan-out.
    */
  private def appendPostings(docs: DataFrame, physical: String, batchId: Long,
      afterPostingsAppend: () => Unit): Unit = {
    val shards = shardsOf(docs.sparkSession, physical)
    LedgerTable.append(docs.sparkSession, physical, postingRows(docs, shards),
      batchStats(_, batchId, shards), afterPostingsAppend)
  }

  /** Collapse append growth into a fresh version (atomic publish,
    * [[graft.io.LedgerTable.compact]]): the postings are rewritten
    * under their bucket spec and the stats sidecar's per-batch rows
    * collapse to one summed row (a resolved version is always
    * self-contained). A crash before the commit leaves unreferenced
    * staging, dropped by the next publish — probes keep serving the
    * old version either way.
    *
    * The collapsed row's batch_id is the HIGH-WATER committed
    * streaming batch_id (max over the collapsed rows; −1 if only
    * build/manual batches exist) — NOT a constant −1, which would
    * erase the exactly-once ledger: a stream that crashed after
    * [[appendBatch]] fully committed batch N but before the engine
    * checkpointed would, after a compaction, replay batch N against a
    * guard that no longer remembers it, double-counting N/Σdl. The
    * `>=` guard in [[appendBatch]] reads the high-water row correctly
    * because engine batch ids are monotone.
    */
  def compact(spark: SparkSession, tableName: String): Unit =
    compactWith(spark, tableName, identity)

  /** Ad-hoc BM25 top-k probe: reads ONLY the buckets the query terms
    * hash to; df comes from the probed postings, N/avgdl from the
    * summed stats sidecar; the integer score pipeline is bit-identical
    * to [[InfoTheory.bm25RowLocal]] (spec'd equal on arbitrary term
    * sets). Output: (doc_id, n_hit, bm25_u, bm25).
    */
  def bm25Topk(spark: SparkSession, tableName: String, terms0: Seq[String],
      k: Int = 10): DataFrame = {
    // distinct terms: the posting relation holds one row per (term,
    // doc), so a duplicated query term would score once here but
    // per-position in the row-local reference — both paths normalize
    val terms = terms0.distinct
    val t = LedgerTable.current(spark, tableName, SchemaVersion)
    val hits = probeHits(spark, t, terms)
    val corp = LedgerTable.ledger(spark, t)
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("total_tok")).as("total_tok"))
      .withColumn("avgdl_u", expr("total_tok * 1000000 div n_docs"))
    val idf = hits.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(corp))
      .withColumn("idf20",
        log2Fixed(lit(2) * col("n_docs") + lit(2)) -
          log2Fixed(lit(2) * col("df") + lit(1)))
      .select(col("term"), col("idf20"), col("avgdl_u"))
    hits.join(broadcast(idf), "term")
      .withColumn("norm_ppm",
        expr(s"${InfoTheory.Bm25OneMinusBPpm} + ${InfoTheory.Bm25BPpm} * " +
          "(dl * 1000000000000 div avgdl_u) div 1000000"))
      .withColumn("sat_ppm",
        expr(s"tf * ${InfoTheory.Bm25K1p1Ppm} * 1000000 div " +
          s"(tf * 1000000 + ${InfoTheory.Bm25K1Ppm} * norm_ppm div 1000000)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit"),
        sum(col("idf20") * col("sat_ppm")).as("bm25_u"))
      .orderBy(col("bm25_u").desc, col("doc_id"))
      .limit(k)
      .withColumn("bm25",
        col("bm25_u").cast("double") / lit(1048576.0) / lit(1000000.0)
          * lit(0.6931471805599453))
      .select(col("doc_id"), col("n_hit"), col("bm25_u"), col("bm25"))
  }

  /** The probed posting rows for a distinct term list: (term, doc_id,
    * tf, dl), bucket-pruned and replay-dedup'd — the shared front end
    * of every probe ([[bm25Topk]], [[lmTopk]]).
    *
    * Probe-time freshness: the probes resolve `t` through
    * [[graft.io.LedgerTable.current]], which re-lists the postings and
    * the stats sidecar — appends from OTHER sessions (the streaming
    * microbatch clone) invalidate only their own relation cache, so a
    * cached listing would silently serve the pre-append corpus.
    *
    * Doc-sharded index: enumerate the (term, shard) composite keys so
    * the isin stays a literal list and bucket pruning still applies —
    * a hot term's postings spread over up to `shards` buckets (and
    * that many scan tasks) instead of one corpus-sized list. ONE isin
    * PER TERM, OR'd — not a single flattened list: the flattened
    * |terms|·shards-value In exceeds
    * spark.sql.parquet.pushdown.inFilterThreshold (10) and gets
    * pushed to parquet as a min/max RANGE across all terms' composite
    * keys, which straddles the vocabulary and skips no row group
    * (measured at 10⁷ docs: 5.6M records/task — the whole bucket — vs
    * the unsharded layout's exact-In skipping). A per-term In, even in
    * range form, spans only that term's `term#` prefix, so sortBy(ts)
    * row groups outside it skip; bucket pruning unions the disjuncts.
    *
    * dropDuplicates on the probe key: streaming-replay appends are
    * at-least-once (verbatim row duplicates) — the dedup costs only
    * the probed rows and is the identity on a clean index. On the
    * sharded layout the dedup keys on (ts, doc_id) — equivalent
    * (shard is a function of doc_id) AND it keeps the scan's
    * ts-clustering "interesting" to the planner: keyed on
    * (term, doc_id) alone, DisableUnnecessaryBucketedScan drops the
    * bucketed scan and bucket pruning with it (observed in spec).
    */
  private def probeHits(spark: SparkSession, t: String,
      terms: Seq[String]): DataFrame = {
    val shards = shardsOf(spark, t)
    if (shards <= 1)
      spark.table(t).filter(col("term").isin(terms: _*))
        .dropDuplicates("term", "doc_id")
    else {
      val perTerm = terms.map { t0 =>
        val keys = (0 until shards).map(s => s"$t0#$s")
        col("ts").isin(keys: _*)
      }
      spark.table(t).filter(perTerm.reduce(_ || _))
        .dropDuplicates("ts", "doc_id")
        .select("term", "doc_id", "tf", "dl")
    }
  }

  /** Ad-hoc Dirichlet query-likelihood top-k probe — the
    * [[InfoTheory.lmDirichletRowLocal]] score served from the index
    * (spec'd bit-identical). The absent-term decomposition keeps the
    * probe at posting-list cost: a term the doc does NOT contain
    * contributes the doc-independent L₂₀(μ·cf_t), so
    *
    *   lm20(d) = Σ_hits [L₂₀(tf·C + μ·cf) − L₂₀(μ·cf)]
    *           + Σ_t L₂₀(μ·cf_t)  −  |q|·L₂₀(C·(dl+μ))
    *
    * — one pass over the probed hits plus a broadcast scalar; no
    * doc×term grid is ever materialized (the row-local form pays wide
    * tf columns instead; both sum identical L₂₀ integers, which is
    * the exact-equality argument). cf_t comes from the probed
    * postings themselves (a term's posting list is complete), C from
    * the stats sidecar. Same contract as BM25: query terms must occur
    * in the corpus (cf ≥ 1; |q| counts present terms).
    */
  def lmTopk(spark: SparkSession, tableName: String, terms0: Seq[String],
      k: Int = 10, mu: Long = InfoTheory.LmMu): DataFrame = {
    val terms = terms0.distinct
    val t = LedgerTable.current(spark, tableName, SchemaVersion)
    val hits = probeHits(spark, t, terms)
    val corp = LedgerTable.ledger(spark, t)
      .agg(sum(col("total_tok")).as("c_tok"))
    val cf = hits.groupBy(col("term")).agg(sum(col("tf")).as("cf"))
    val scal = cf.crossJoin(broadcast(corp))
      .agg(sum(log2Fixed(lit(mu) * col("cf"))).as("base20"),
        count(lit(1)).as("n_terms"),
        first(col("c_tok")).as("c_tok"))
    hits.join(broadcast(cf), "term")
      .crossJoin(broadcast(scal))
      .withColumn("adj",
        log2Fixed(col("tf") * col("c_tok") + lit(mu) * col("cf")) -
          log2Fixed(lit(mu) * col("cf")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit"),
        sum(col("adj")).as("adjsum"),
        first(col("dl")).as("dl"),
        first(col("base20")).as("base20"),
        first(col("n_terms")).as("n_terms"),
        first(col("c_tok")).as("c_tok"))
      .withColumn("lm20",
        col("adjsum") + col("base20") -
          col("n_terms") * log2Fixed(col("c_tok") * (col("dl") + lit(mu))))
      .orderBy(col("lm20").desc, col("doc_id"))
      .limit(k)
      .withColumn("lm_bits", col("lm20").cast("double") / lit(1048576.0))
      .select(col("doc_id"), col("n_hit"), col("lm20"), col("lm_bits"))
  }

  /** Exactly-once-guarded streaming ingest of one engine batch:
    * SKIP if the stats sidecar is at or above this batch_id
    * ([[graft.io.LedgerTable.committed]] — the high-water guard, sound
    * across [[compact]]; manual batches' −1 rows never satisfy it);
    * otherwise append postings FIRST, stats row LAST. Crash windows,
    * by order: after postings / before stats → replay re-appends the
    * postings (verbatim duplicates — neutral: the probe dedups on
    * (term, doc_id) and [[compactDedup]] reclaims) and writes the
    * stats row once, so N and Σdl are EXACTLY-once — scores never
    * drift under replay. Returns true if the batch was applied.
    * Single-stream ownership is a hard contract
    * ([[graft.io.LedgerTable]]).
    */
  private[graft] def appendBatch(docs: DataFrame, batchId: Long,
      tableName: String,
      afterPostingsAppend: () => Unit = () => ()): Boolean = {
    val t = LedgerTable.current(docs.sparkSession, tableName, SchemaVersion)
    if (LedgerTable.committed(docs.sparkSession, t, batchId)) false
    else {
      appendPostings(docs, t, batchId, afterPostingsAppend)
      true
    }
  }

  /** Streaming wiring: continuous index maintenance as a foreachBatch
    * sink — the engine's monotone batchId drives [[appendBatch]]'s
    * replay guard, so a checkpoint restart is clean. Batch contract
    * as everywhere in the family: new doc_ids only.
    */
  def maintenanceSink(stream: DataFrame, checkpointDir: String,
      tableName: String): org.apache.spark.sql.streaming.StreamingQuery =
    Streaming.sink(stream, checkpointDir) { (b, batchId) =>
      if (!b.isEmpty) appendBatch(b, batchId, tableName)
    }

  /** [[compact]] that also reclaims replay-duplicated posting rows:
    * duplicates are VERBATIM row copies (same (term, doc_id, tf, dl)
    * — a doc's postings are deterministic), so a full-row distinct
    * restores the clean index; probe semantics unchanged (it was
    * already dedup-guarded). Stats rows are exactly-once by
    * construction and collapse to the high-water row (see [[compact]]).
    */
  def compactDedup(spark: SparkSession, tableName: String): Unit =
    compactWith(spark, tableName, _.distinct())

  private def compactWith(spark: SparkSession, tableName: String,
      transform: DataFrame => DataFrame): Unit =
    LedgerTable.compact(spark, tableName, SchemaVersion)(
      (t, _) => transform(TableManifest.rewriteSource(spark, t)),
      (t, hw) => LedgerTable.ledger(spark, t)
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("total_tok")).as("total_tok"),
          lit(hw).as("batch_id"),
          coalesce(max(col("shards")), lit(1L)).as("shards")))
}
