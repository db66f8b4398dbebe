package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental curation — the OPERATIONAL twin of the batch composite:
  * [[CurationPipeline]] curates a corpus in one pass; a production
  * corpus instead receives a DELTA batch per day, and re-running
  * O(corpus) dedup per batch is exactly what a 100 TB pipeline cannot
  * afford. This module admits a delta against two PERSISTED indexes in
  * O(batch) work:
  *
  *   quality gate ([[Curation2.gopherScored]], row-local)
  *   → exact-dedup probe of the (text_hash, keep_id) hash index
  *   → within-batch exact dedup (min doc_id per hash)
  *   → near-dedup probe of the MinHash band index
  *     ([[IncrementalDedup.matchAgainstIndex]])
  *   → within-batch near dedup (band self-join at batch size +
  *     connected-components closure, min id per cluster)
  *   → ADMISSION: append the survivors' band rows to the band index,
  *     and ONE hash row per fresh normalized text to the hash index —
  *     admitted docs map to themselves, near-DROPPED docs map to
  *     their cluster keeper (TOMBSTONES: the smallest verified index
  *     match, or the within-batch component root — an admitted doc
  *     either way). Without tombstones an exact duplicate of a
  *     near-dropped doc re-enters in a later batch: its canonical's
  *     hash was never indexed, and its bands need not reach the keeper
  *     when the near chain ran THROUGH the dropped doc. The trade is
  *     append volume: hash rows grow per fresh quality-passing text,
  *     not per admitted doc.
  *
  * Both indexes are partitioned on a leading byte of their uniform
  * hash key — `bp` for the band index ([[IncrementalDedup]]), `hp`
  * (the first hex byte of the sha2 text hash, 256 directories) for the
  * hash index — so each probe collects the batch's partition set and
  * reads only those directories: O(touched) I/O per delta, where a
  * whole-index read would be O(corpus). Uniform keys defeat parquet
  * row-group pruning (the IN filter collapses to a full-range
  * min/max), which is why the pruning is by directory. Both are
  * versioned through [[graft.io.TableManifest]]; an index committed
  * under an older schema version fails fast in [[curateBatch]] before
  * anything is read or appended, and needs a rebuild.
  *
  * IDEMPOTENT ADMISSION is the crash/replay contract: the hash index
  * stores (text_hash, keep_id), so a re-presented doc whose indexed
  * keep_id IS its own doc_id reads back as `readmitted` — a no-op
  * success that bypasses the near stage entirely (it is already in
  * the corpus; being matched by docs admitted AFTER it must not evict
  * it) and appends nothing. A doc whose hash maps to a DIFFERENT
  * keep_id is an exact duplicate of CANONICALIZED content — corpus
  * content, or a tombstoned near-drop — and drops as
  * `drop_exact_index`. Re-presented near-dropped docs therefore
  * CONVERGE to `drop_exact_index` (they hit their own tombstone):
  * drop ATTRIBUTION may shift class across re-presentation, the
  * admitted/dropped partition never does, and a consumer reading
  * admitted states as {admitted, readmitted} is unaffected.
  *
  * APPEND ORDER is load-bearing: band rows append BEFORE hash rows, so
  * a crash between the two appends leaves band-present/hash-absent,
  * which replays as FRESH — the near probe filters self-matches
  * (`indexed_id =!= new_id`), the doc re-admits, and both appends
  * re-run; its duplicate band rows are harmless (the probe aggregates
  * per pair; [[IncrementalDedup.compact]] collapses the growth). The
  * opposite order would leave the fatal window: hash-present/band-absent
  * reads back as `readmitted` and appends nothing, so the doc's bands
  * would be PERMANENTLY absent and its future near-dups undetectable
  * (spec'd in both directions).
  *
  * The admission ledger (doc_id, status) is localCheckpoint'd BEFORE
  * any append (and so is the admitted slice): the appends mutate the
  * very tables the ledger's lineage reads, so an unmaterialized plan
  * re-evaluated after the first append would see the batch's own
  * rows and drop everything — the read-your-own-writes trap the
  * checkpoint exists to close (spec'd by re-presentation).
  *
  * Reads and writes ride the DELTA's session, and [[curateBatch]]
  * refreshes both index tables before it reads them: inside a
  * streaming foreachBatch the delta belongs to the query's CLONED
  * session, and a write through one session invalidates only that
  * session's relation cache, so a table read earlier in another session
  * would otherwise serve a stale file list.
  *
  * Near-dup semantics match [[IncrementalDedup]]: the MinHash
  * signature-agreement estimator (E[agreement] = J), seeded and
  * corpus-access-free — the default path never touches the corpus
  * store (the standard production trade). A policy that needs the
  * batch composite's PRECISION passes `verifyCorpus`: every estimator
  * match then joins back to the admitted document store and must
  * survive the exact word-bigram Jaccard at `tau` within its language
  * block ([[Llm2.jaccardPairsOf]]'s verify semantics, lang re-check
  * included) before it may drop a doc — still O(candidates), never a
  * corpus-sized pass, because only the probe's few matches join. An
  * estimator false positive (band agreement ≥ `minAgree`, true
  * jaccard < `tau` — or a cross-lang text collision, which the
  * lang-free band index cannot see) is silent data loss on the
  * default path and admitted on the verified path (planted-case and
  * reconciliation spec'd).
  *
  * POLICY STABILITY is part of the replay contract: the same
  * `verifyCorpus` policy (verified or default) must be used when a
  * crashed batch replays. The crash-window convergence above assumes
  * it — a VERIFIED run that co-admits a band-colliding rescued pair,
  * crashes inside the band-before-hash window, and is replayed
  * UNVERIFIED reads the pair's mutual stranded bands as
  * `drop_near_index` and permanently drops both docs (the verified
  * replay instead discards the store-missing candidates and
  * re-admits). A streaming deployment pins the policy for the life of
  * the checkpoint directory, exactly as it pins the indexes.
  * Tombstones make the pin bite in the other direction too: a
  * DEFAULT-path near drop — estimator verdict, false positives
  * included — tombstones its hash, so a later verified run cannot
  * rescue the doc on the same indexes (it reads `drop_exact_index`
  * before the verify stage is reached; spec'd). That is not new
  * loss — the estimator re-drops the same doc deterministically on
  * every unverified presentation anyway — but it makes the recovery
  * path explicit: switching policy means rebuilding the indexes under
  * the new policy, not flipping the knob mid-stream.
  */
object IncrementalCuration {

  /** Bump when the hash-index row layout changes ([[graft.io
    * .TableManifest]] fails fast on mismatch).
    */
  val HashSchemaVersion = 2

  private def hashOf(c: org.apache.spark.sql.Column) =
    sha2(Llm.normText(c), 256)

  private def withHp(rows: DataFrame): DataFrame =
    rows.withColumn("hp", substring(col("text_hash"), 1, 2))

  /** Current physical table of the logical hash-index name. */
  def resolveHashTable(spark: SparkSession, tableName: String): String =
    graft.io.TableManifest.resolve(spark, tableName, HashSchemaVersion)

  /** Create the exact-dedup hash index from an already-curated corpus
    * as a fresh manifest version: one (text_hash, keep_id) row per
    * distinct normalized text, partitioned on `hp` (see the object
    * scaladoc).
    */
  def buildHashIndex(docs: DataFrame, tableName: String): Unit = {
    val rows = docs.filter(trim(col("text")) =!= "")
      .select(hashOf(col("text")).as("text_hash"), col("doc_id"))
      .groupBy(col("text_hash")).agg(min(col("doc_id")).as("keep_id"))
    graft.io.TableManifest.publish(docs.sparkSession, tableName, HashSchemaVersion) {
      withHp(rows)
        .repartition(col("hp"))
        .write.mode("overwrite").format("parquet").partitionBy("hp")
        .saveAsTable(_)
    }
  }

  /** Append prepared (text_hash, keep_id) rows to the current index
    * version — parquet append adds files under the touched `hp=`
    * directories only, never rewrites (the
    * [[IncrementalDedup.appendToIndex]] discipline). [[curateBatch]]
    * feeds this BOTH admitted docs' self-rows and near-drop
    * TOMBSTONES (see the object scaladoc).
    */
  private[graft] def appendHashRows(rows: DataFrame, tableName: String): Unit = {
    val spark = rows.sparkSession
    graft.io.TableManifest.append(spark, resolveHashTable(spark, tableName),
      withHp(rows.select(col("text_hash"), col("keep_id"))))
  }

  /** Append admitted docs' self-mapped hash rows to the current index
    * version (the direct-caller surface; [[curateBatch]] goes through
    * [[appendHashRows]] with keepers resolved).
    */
  def appendToHashIndex(admitted: DataFrame, tableName: String): Unit =
    appendHashRows(admitted
      .select(hashOf(col("text")).as("text_hash"), col("doc_id").as("keep_id")),
      tableName)

  /** Collapse hash-index append growth into a fresh manifest version
    * — atomic publish; probes racing it serve the old snapshot (the
    * [[IncrementalDedup.compact]] discipline via
    * [[graft.io.TableManifest.compact]]).
    */
  def compactHashIndex(spark: SparkSession, tableName: String,
      beforeCommit: () => Unit = () => (),
      afterCommit: () => Unit = () => ()): Unit =
    graft.io.TableManifest.compact(
      spark, tableName, HashSchemaVersion, beforeCommit, afterCommit)

  /** Left-probe a hashed delta against the index: collect the delta's
    * `hp` byte set (≤ 256 values, driver-bounded) and prune the index
    * scan to the touched directories before the join. The delta is
    * pinned HERE (a no-op when the caller already did): an
    * unmaterialized nondeterministic frame would collect one `hp` set
    * and join another, silently missing partitions and re-admitting
    * duplicates.
    */
  private[graft] def hashProbe(withHash0: DataFrame, hashIndex: String): DataFrame = {
    val sess = withHash0.sparkSession
    val withHash = Checkpoints.pin(withHash0)
    val hps = withHp(withHash).select(col("hp"))
      .distinct().collect().map(_.getString(0)).toSeq
    val idx = sess.table(resolveHashTable(sess, hashIndex))
      .filter(col("hp").isin(hps: _*))
      .select(col("text_hash"), col("keep_id"))
    withHash.join(idx, Seq("text_hash"), "left")
  }

  /** The CONTINUOUS front-end (round 16): a real file-source stream
    * watches `watchDir` for CSV document drops (declared `schema`,
    * header row, one doc per line) and every micro-batch runs
    * [[curateBatch]] against the standing indexes, writing the
    * admission ledger to the batch-keyed partition
    * `ledgerPath/batch=<id>` — overwrite of the batch partition makes
    * the ledger exactly-once under the source's at-least-once replay
    * with zero coordination (the [[IngestPipeline]] quarantine
    * discipline). Replay safety COMPOSES: the ledger overwrite is
    * idempotent by layout, and re-running [[curateBatch]] itself is
    * idempotent by the readmission contract — a crash anywhere inside
    * the batch window converges on restart (an admitted doc replays
    * as `readmitted`, which the re-written ledger then records; a
    * consumer that must see the ORIGINAL status reads the admitted
    * states as the union {admitted, readmitted}, exactly what the
    * idempotence contract means).
    *
    * `verifyCorpus` (round 17) is a THUNK, re-evaluated per
    * micro-batch: a verified streaming policy maintains a document
    * store that grows as batches admit (e.g. the parquet table it
    * appends admitted docs to), and a frame captured once at stream
    * start would verify batch N against the store as of batch 0.
    * The thunk must read the store BY PATH (`spark.read.parquet`) or
    * call `refreshTable` itself before reading (r18, the r17 ADVICE):
    * a thunk that reads a catalog table through the OUTER session
    * (`spark.table`) serves that session's relation cache, which
    * writes through the stream's cloned session do not invalidate —
    * the same staleness class [[curateBatch]]'s own index refreshes
    * close. Re-evaluation alone does not re-list files.
    */
  def curateStream(spark: SparkSession, watchDir: String,
      schema: org.apache.spark.sql.types.StructType,
      hashIndex: String, bandIndex: String,
      ledgerPath: String, checkpointDir: String,
      maxFilesPerTrigger: Int = 1,
      verifyCorpus: Option[() => DataFrame] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val stream = spark.readStream
      .schema(schema)
      .option("header", "true")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .csv(watchDir)
    Streaming.sink(stream, checkpointDir) { (batch, batchId) =>
      curateBatch(batch, hashIndex, bandIndex, verifyCorpus = verifyCorpus.map(_()))
        .write.mode("overwrite").parquet(s"$ledgerPath/batch=$batchId")
    }
  }

  /** Read the accumulated admission ledger (all batches). Before the
    * first micro-batch commits the root does not exist — an early
    * poll gets an EMPTY relation with the ledger schema instead of an
    * AnalysisException, and `batch` is LongType on both branches
    * (the [[IngestPipeline.readQuarantine]] contract).
    */
  def readLedger(spark: SparkSession, ledgerPath: String): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(ledgerPath)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(path))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq())
          .add("doc_id", "long").add("status", "string").add("batch", "long"))
    else
      spark.read.parquet(ledgerPath)
        .withColumn("batch", col("batch").cast("long"))
  }

  /** Retention/GC for the admission ledger (round 18, the r17
    * verdict's item 3): [[curateStream]] writes one `batch=<id>`
    * partition per micro-batch FOREVER — drop all but the `retain`
    * HIGHEST batch partitions. Retention is by RANK, not numeric
    * distance (the [[graft.io.TableManifest.vacuum]] rule): batch ids
    * are the engine's and a restarted stream may skip numbers, so
    * `id < max − retain` could empty a sparse ledger.
    *
    * The retention CONTRACT: the ledger is an audit surface, not
    * admission state — the indexes alone decide every future verdict,
    * so vacuuming a batch loses its attribution rows and nothing
    * else. A replay of an expired batch still converges (admitted
    * docs read back `readmitted`, drops re-derive, appends no-op) and
    * the overwrite recreates the expired partition (spec'd). Vacuum
    * is a MAINTENANCE writer: safe beside the live stream (which only
    * writes the current batch's partition) but not beside a replay of
    * a batch old enough to be vacuumed — single maintenance writer,
    * the index vacuum's contract. Default retain = 30: a month of
    * daily batches, far past any replay window the streaming
    * checkpoint can reach (the source replays only uncommitted
    * batches).
    */
  def vacuumLedger(spark: SparkSession, ledgerPath: String,
      retain: Int = 30): Unit = {
    require(retain >= 1, s"retain must keep at least the live batch: $retain")
    val root = new org.apache.hadoop.fs.Path(ledgerPath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return
    val parts = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .flatMap(st => scala.util.Try(
        st.getPath.getName.stripPrefix("batch=").toLong).toOption
        .map(_ -> st.getPath))
    val keep = parts.map(_._1).distinct
      .sorted(Ordering[Long].reverse).take(retain).toSet
    parts.foreach { case (b, p) => if (!keep(b)) fs.delete(p, true) }
  }

  /** Exact verdict over candidate pairs — the batch composite's
    * precision ([[Llm2.jaccardPairsOf]]'s verify tail: same
    * `word_shingles(text, 2)` sets, same `jaccard >= tau` gate, same
    * LANG BLOCKING — near-dedup is defined within a language, so a
    * cross-lang estimator collision must not drop a doc) applied to
    * the probe's FEW candidates. A candidate whose indexed doc is
    * MISSING from the supplied store is DISCARDED, not trusted: under
    * the verified contract the store covers the durably-admitted
    * corpus, so a band row without a store row is a HALF-WRITTEN
    * admission (the band-before-hash crash window — its doc was never
    * recorded admitted) and must not drop anything. This is what
    * makes the verified path's replay CONVERGE: a within-batch
    * rescued pair whose bands landed before the crash would otherwise
    * read back as mutual index matches with no store text and both
    * docs would silently drop. The cost of a caller supplying a
    * LAGGING store is over-keep — the same direction as the
    * composite's own documented divergence — never data loss.
    *
    * Scale shape: the candidate pairs are pinned (tiny by
    * the banding design) and each text side is first REDUCED to the
    * candidate ids by a broadcast semi join — the corpus store is
    * scanned map-only (partition-/file-prunable when the caller's
    * store is keyed on doc_id) and NOTHING corpus-sized shuffles or
    * computes shingles; the shingle work and the verify join are
    * O(candidates). Plan-audited in IncrementalCurationSpec.
    */
  private[graft] def verifiedPairs(cand0: DataFrame, aId: String,
      aDocs: DataFrame, bId: String, bDocs: DataFrame,
      tau: Double): DataFrame = {
    val cand = Checkpoints.pin(cand0.select(col(aId), col(bId)))
    def side(d: DataFrame, id: String, pre: String) = d
      .join(broadcast(cand.select(col(id).as("doc_id")).distinct()),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id").as(id), col("lang").as(s"${pre}_lang"),
        graft.functions.TextExpressions.wordShingles(col("text"), 2).as(s"${pre}_g"))
    cand
      .join(side(aDocs, aId, "a"), Seq(aId), "left")
      .join(side(bDocs, bId, "b"), Seq(bId), "left")
      .withColumn("shared", size(array_intersect(col("a_g"), col("b_g"))))
      // the size > 0 guards mirror jaccardPairsOf's shingle filter
      // (r17 ADVICE): two empty bigram sets read shared = 0 ≥ τ·0 and
      // would verify as a match — unreachable from the band probe
      // (candidates carry ≥ 2 bigrams) but a latent over-drop for any
      // future caller feeding short docs
      .filter(col("a_g").isNotNull && col("b_g").isNotNull &&
        size(col("a_g")) > 0 && size(col("b_g")) > 0 &&
        col("a_lang") === col("b_lang") &&
        col("shared").cast("double") >= lit(tau) *
          (size(col("a_g")) + size(col("b_g")) - col("shared")).cast("double"))
      .select(col(aId), col(bId))
  }

  /** Admit one delta batch against the standing indexes. Returns the
    * admission ledger — one row per non-empty delta doc:
    * (doc_id, status) with status ∈ {admitted, readmitted,
    * drop_quality, drop_exact_index, drop_exact_batch,
    * drop_near_index, drop_near_batch} — materialized before the
    * index appends run. Statuses are a pure function of (index state,
    * batch): deterministic, and stable under re-presentation up to
    * the documented attribution shift (a near-dropped doc's tombstone
    * makes its re-presentation read `drop_exact_index`; a replay
    * after a partial band append may likewise resolve a keeper from
    * the index instead of the batch closure — a DIFFERENT admitted
    * keeper, never a different admitted/dropped verdict).
    *
    * `verifyCorpus` (round 17): when supplied — a (doc_id, lang,
    * text) frame covering the admitted document store — every
    * near-stage estimator match is exact-verified at `tau` within its
    * language block before it may drop a doc (scaladoc above; both
    * the index probe and the within-batch pairs verify, so the two
    * near tiers keep one semantics).
    *
    * The returned ledger and every frame this call materializes are
    * pinned into the caller's owner ([[Checkpoints]]): callers run it
    * inside a [[Checkpoints.scoped]] (a [[Streaming.sink]] batch is
    * one) and read the ledger there.
    */
  def curateBatch(delta: DataFrame,
      hashIndex: String, bandIndex: String,
      minAgree: Double = 0.5,
      verifyCorpus: Option[DataFrame] = None,
      tau: Double = 0.5): DataFrame = {
    import Checkpoints.pin
    // reads and writes ride the delta's session, refreshed first (the
    // staleness guard in the object scaladoc); resolve fails fast on a
    // missing index or an older schema version
    val sess = delta.sparkSession
    sess.catalog.refreshTable(resolveHashTable(sess, hashIndex))
    sess.catalog.refreshTable(IncrementalDedup.resolveTable(sess, bandIndex))
    val d0 = delta.filter(trim(col("text")) =!= "")
      .select(col("doc_id"), col("lang"), col("text"))
    val withQ = d0.join(
      Curation2.gopherScored(d0).select(col("doc_id"), col("pass")), "doc_id")
    val q = withQ.filter(col("pass")).drop("pass")

    // exact probe, directory-pruned O(touched) read. The probe result
    // is materialized ONCE: the ledger's branches, the near stage's
    // inputs, and the hash-row keeper join all read `probed` — lazy,
    // each consumer would re-run the index join.
    val withHash = pin(q.withColumn("text_hash", hashOf(col("text"))))
    val probed = pin(hashProbe(withHash, hashIndex))
    val fresh = probed.filter(col("keep_id").isNull)
    val keepB = fresh.groupBy(col("text_hash")).agg(min(col("doc_id")).as("kid"))
    val exactSurv = fresh.join(keepB, "text_hash")
      .filter(col("doc_id") === col("kid"))
      .select(col("doc_id"), col("lang"), col("text"))

    // near probe against the band index, then within-batch closure
    val idxCand =
      IncrementalDedup.matchAgainstIndex(sess, exactSurv, bandIndex, minAgree)
    // read by the near filter AND the keeper join — on the verified
    // path the exact-verify joins must not run twice
    val idxPairs = pin(verifyCorpus.fold(idxCand)(corpus =>
        verifiedPairs(idxCand, "new_id", exactSurv, "indexed_id", corpus, tau))
      .select(col("new_id"), col("indexed_id")))
    val idxMatched = idxPairs.select(col("new_id").as("doc_id")).distinct()
    val nearSurv = exactSurv.join(idxMatched, Seq("doc_id"), "left_anti")
    val nb = IncrementalDedup.bandRows(nearSurv)
      .select(col("bk"), col("doc_id"), col("sig"))
    val batchPairs0 = nb.as("a").join(nb.as("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .withColumn("agree",
        aggregate(zip_with(col("a.sig"), col("b.sig"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, x) => acc + x)
          .cast("double") / size(col("a.sig")))
      .filter(col("agree") >= minAgree)
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    val batchPairs = verifyCorpus.fold(batchPairs0)(_ =>
      verifiedPairs(batchPairs0, "a_id", nearSurv, "b_id", nearSurv, tau))
    val cc = Llm.connectedComponents(batchPairs)
    val batchLosers = cc.filter(col("id") =!= col("comp"))
      .select(col("id").as("doc_id"))

    def tag(df: DataFrame, status: String): DataFrame =
      df.select(col("doc_id"), lit(status).as("status"))
    // BEFORE appends — see the scaladoc contract
    val ledger = pin(tag(withQ.filter(!col("pass")), "drop_quality")
      .unionAll(tag(probed.filter(col("keep_id") === col("doc_id")), "readmitted"))
      .unionAll(tag(probed.filter(col("keep_id").isNotNull &&
        col("keep_id") =!= col("doc_id")), "drop_exact_index"))
      .unionAll(tag(fresh.join(keepB, "text_hash")
        .filter(col("doc_id") =!= col("kid")), "drop_exact_batch"))
      .unionAll(tag(exactSurv.join(idxMatched, Seq("doc_id"), "left_semi"),
        "drop_near_index"))
      .unionAll(tag(nearSurv.join(batchLosers, Seq("doc_id"), "left_semi"),
        "drop_near_batch"))
      .unionAll(tag(nearSurv.join(batchLosers, Seq("doc_id"), "left_anti"),
        "admitted")))

    // NEAR-DROP HASH TOMBSTONES: every FRESH text_hash appends one
    // row mapped to its resolved cluster keeper — not just the
    // admitted docs' self-rows. A near-dropped doc's keeper is the
    // smallest verified index match (an admitted doc by construction:
    // only admitted docs band-index) or its within-batch component
    // root (admitted: id = comp survives the closure). Without the
    // tombstone, an exact duplicate of a near-dropped doc re-enters in
    // a later batch — its canonical's hash was never indexed and its
    // own bands need not reach the keeper (the chain ran THROUGH the
    // dropped doc, whose bands are not indexed). With it, the dup
    // reads back as drop_exact_index against the keeper.
    val keeper = nearSurv.join(batchLosers, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("keep_id"))
      .unionAll(idxPairs.groupBy(col("new_id"))
        .agg(min(col("indexed_id")).as("keep_id"))
        .select(col("new_id").as("doc_id"), col("keep_id")))
      .unionAll(cc.filter(col("id") =!= col("comp"))
        .select(col("id").as("doc_id"), col("comp").as("keep_id")))
    val hashRows = pin(keepB.select(col("text_hash"), col("kid").as("doc_id"))
      .join(keeper, "doc_id")
      .select(col("text_hash"), col("keep_id"))) // BEFORE appends, like the ledger

    // lineage must not re-read the indexes post-append
    val admitted = pin(q
      .join(ledger.filter(col("status") === "admitted").select("doc_id"),
        Seq("doc_id"), "left_semi"))
    // band rows FIRST — the crash-window direction the replay
    // contract relies on (see the object scaladoc): a crash between
    // the appends leaves band-present/hash-absent, which replays as
    // fresh and converges; hash-first would leave a `readmitted`
    // read with permanently missing bands.
    if (!admitted.isEmpty) IncrementalDedup.appendToIndex(admitted, bandIndex)
    if (!hashRows.isEmpty) appendHashRows(hashRows, hashIndex)
    ledger
  }
}
