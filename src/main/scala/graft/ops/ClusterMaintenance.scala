package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental connected-component label maintenance (§8.r11.2) —
  * the streaming-CC counterpart of [[ProfileIndex]]: keep a
  * near-duplicate cluster assignment current as batches arrive,
  * without re-running global CC over the corpus per batch.
  *
  * Correctness rests on one identity: a label relation (id, comp)
  * produced by [[Llm.connectedComponents]] is CLOSURE-EQUIVALENT to
  * the edge set it was computed from — the star edges comp→id encode
  * exactly the same connectivity. Therefore
  *
  *   CC(oldEdges ∪ newEdges) = CC(labelStars ∪ newEdges)
  *
  * and, further, any component no new edge touches cannot change
  * (new edges cannot split components, only merge them), so the CC
  * re-run can be RESTRICTED to the touched components' stars plus the
  * new edges — O(batch + touched members), not O(corpus). Untouched
  * labels pass through untouched. Label semantics are preserved
  * (comp = min reachable id): a merge relabels the merged set to its
  * global min because every member of every touched component enters
  * the local closure via its star.
  *
  * 100 TB: `touched` is two semi-joins against the label relation
  * (both on its natural keys — bucket the persisted labels by `comp`
  * and the member lookup is layout-aligned); the local CC's cost
  * scales with the batch's blast radius, which for near-dup graphs is
  * the point — most arrivals touch nothing or one small segment. The
  * label relation itself persists like any versioned table
  * ([[graft.io.TableManifest]]); this module keeps the algebra pure
  * and leaves the pointer commit to the caller's pipeline (see
  * [[ingest]] for the ProfileIndex wiring).
  */
object ClusterMaintenance {

  /** Updated label relation for CC(originalEdges ∪ newEdges), given
    * `labels` = CC(originalEdges) — see the object scaladoc for why
    * the restriction to touched components is exact. `newEdges` may
    * reference both labeled and never-seen ids; isolated new ids
    * (appearing in no edge) stay absent, per the CC contract.
    */
  def updateLabels(labels: DataFrame, newEdges: DataFrame): DataFrame = {
    // the closure pins its input eagerly, so `local` never reads `edges`
    val local = Checkpoints.scoped { pin =>
      val edges = pin(newEdges
        .select(col("a_id").cast("long").as("a_id"),
          col("b_id").cast("long").as("b_id"))
        .filter(col("a_id") =!= col("b_id")))
      val endpoints = edges.select(col("a_id").as("id"))
        .union(edges.select(col("b_id").as("id"))).distinct()
      val touchedComps = labels
        .join(endpoints, "id", "left_semi")
        .select(col("comp")).distinct()
      val touchedLabels = labels
        .join(touchedComps, Seq("comp"), "left_semi")
      val stars = touchedLabels.filter(col("id") =!= col("comp"))
        .select(col("comp").as("a_id"), col("id").as("b_id"))
      Llm.connectedComponents(stars.unionAll(edges))
    }
    labels.join(local, Seq("id"), "left_anti").unionAll(local)
  }

  /** One ingestion step against a [[ProfileIndex]]: find the batch's
    * qualifying pairs (batch↔indexed via probe + exact verify,
    * batch-internal via the collapsed join over the batch itself),
    * append the batch's signatures to the index, and return the
    * updated label relation. `indexedProfiles` is the corpus the
    * index currently covers (stage-2 verification needs the arrays —
    * the same caller-side relation [[ProfileIndex.verifyExact]]
    * documents). Returns labels equal to from-scratch CC over the
    * union corpus's pair relation (spec'd in ClusterMaintenanceSpec).
    */
  /** Contract notes: `labels` is an (id, comp) relation as
    * [[Llm.connectedComponents]] emits; `newProfiles` must be ids the
    * index has NOT seen (re-ingesting an id appends duplicate
    * signatures — harmless for correctness, since the probe drops
    * self-matches and duplicate collisions dedupe in stage 1's
    * groupBy, but it grows the index; dedupe arrivals upstream, as
    * with [[IncrementalDedup]]). A `newProfiles` that is a checkpoint
    * handle is read in place and freed on return with the batch's
    * edges: the caller must not read it afterwards.
    */
  def ingest(spark: SparkSession, labels: DataFrame, newProfiles: DataFrame,
      indexedProfiles: DataFrame, tableName: String, p: Int, q: Int): DataFrame = {
    val (cross, intra) = batchEdges(spark, newProfiles, indexedProfiles, tableName, p, q)
    val updated = updateLabels(labels, cross.unionAll(intra))
      .localCheckpoint() // pin before the index mutates under the lazy plan
    ProfileIndex.appendToIndex(newProfiles, tableName)
    Checkpoints.free(intra) // after the batch's last read: it may free its pin
    updated
  }

  /** The batch's qualifying-pair edge set, as (cross, intra):
    * batch↔indexed via the index probe + exact verify, batch-internal
    * via the collapsed join. Duplicate edges across the two paths
    * (possible when the index already holds part of the batch, e.g. a
    * crash replay) are harmless — [[updateLabels]] consumes their
    * union as a connectivity relation. The checkpoints under `intra`
    * are the collapsed join's own plus, when `newProfiles` is a
    * checkpoint handle, that handle (read in place): callers free
    * `intra` only after their last read of `newProfiles`; `cross`
    * reads the caller's frames and is never freed here.
    */
  private def batchEdges(spark: SparkSession, newProfiles: DataFrame,
      indexedProfiles: DataFrame, tableName: String, p: Int,
      q: Int): (DataFrame, DataFrame) = {
    val cross = ProfileIndex.verifyExact(
      ProfileIndex.probe(spark, newProfiles, tableName, p, q),
      newProfiles, indexedProfiles, p, q)
      .select(col("new_id").as("a_id"), col("indexed_id").as("b_id"))
    val intra = Bipartite.deletionPairsCollapsed(newProfiles, p, q,
      ProfileIndex.Depth).select("a_id", "b_id")
    (cross, intra)
  }

  // ---- committed label state (the §8.r11 item-1/2 design) ----------

  /** Bump when the persisted label layout changes. */
  val LabelSchemaVersion = 1

  /** Persist the initial label relation as manifest version 0 —
    * BEFORE any [[ingestCommitted]] stream starts (stream batch b
    * commits version b+1, so the bootstrap's 0 keeps the version
    * axis = the batch high-water mark; re-bootstrapping mid-stream
    * requires a fresh streaming checkpoint for the same reason).
    * Bucketed by `comp`: [[updateLabels]]' member lookup joins on it.
    */
  def bootstrapLabels(labels: DataFrame, labelsName: String,
      buckets: Int = 8): Unit = {
    val spark = labels.sparkSession
    val t = graft.io.TableManifest.physicalName(labelsName, 0L)
    spark.sql(s"DROP TABLE IF EXISTS $t") // unreferenced leftover staging only
    graft.io.Sinks.writeBucketed(labels.select("id", "comp"), t, "comp", buckets)
    graft.io.TableManifest.commit(spark, labelsName, 0L, LabelSchemaVersion)
  }

  /** The committed label relation. */
  def loadLabels(spark: SparkSession, labelsName: String): DataFrame =
    spark.table(graft.io.TableManifest.resolve(spark, labelsName,
      LabelSchemaVersion))

  /** EXACTLY-ONCE label maintenance under batch replay (the
    * foreachBatch contract): the label manifest's version IS the
    * batch high-water mark — batch b commits label version b+1, so a
    * replayed batch (pointer already ≥ b+1) is skipped wholesale and
    * the call returns false.
    *
    * Mutation order inside a live batch, and why each crash window
    * replays safely:
    *  1. write the updated labels as the (unreferenced) physical
    *     table v(b+1) — a crash here leaves only staging the next
    *     attempt overwrites;
    *  2. append the batch's signatures to the index — a crash AFTER
    *     this but before (3) means the replay recomputes labels
    *     against an index that already holds the batch: self-matches
    *     drop in the probe, batch-internal collisions duplicate the
    *     intra edges (harmless, see [[batchEdges]]), and the
    *     re-append leaves duplicate signature rows — at-least-once,
    *     correctness-neutral (stage-1 groupBy dedupes collisions),
    *     reclaimed by [[ProfileIndex.compact]];
    *  3. commit the label pointer to b+1 — the atomic rename that
    *     makes the batch visible; only after it does the skip guard
    *     engage. Index-append-BEFORE-commit is load-bearing: the
    *     reverse order could commit labels whose profiles never
    *     reached the index, silently blinding every future probe.
    * `beforeCommit` is the crash-injection hook (spec'd in
    * ClusterMaintenanceSpec), mirroring [[graft.io.TableManifest.publish]].
    */
  def ingestCommitted(spark: SparkSession, batchId: Long,
      newProfiles: DataFrame, indexedProfiles: DataFrame,
      indexName: String, labelsName: String, buckets: Int = 8,
      p: Int = 19, q: Int = 20,
      beforeCommit: () => Unit = () => ()): Boolean = {
    val ptr = graft.io.TableManifest.readPointer(spark, labelsName)
      .getOrElse(throw new IllegalStateException(
        s"no committed labels at '$labelsName' — run bootstrapLabels first"))
    if (ptr.version >= batchId + 1) false // replayed batch: fully committed
    else {
      val labels = loadLabels(spark, labelsName)
      val (cross, intra) = batchEdges(spark, newProfiles, indexedProfiles, indexName, p, q)
      val updated = updateLabels(labels, cross.unionAll(intra))
      val t = graft.io.TableManifest.physicalName(labelsName, batchId + 1)
      spark.sql(s"DROP TABLE IF EXISTS $t") // unreferenced leftover staging only
      graft.io.Sinks.writeBucketed(updated.select("id", "comp"), t, "comp", buckets)
      // the closure's state, when it is not driver-side; `labels` is a
      // table scan
      Checkpoints.free(updated)
      ProfileIndex.appendToIndex(newProfiles, indexName)
      Checkpoints.free(intra) // after the batch's last read (batchEdges)
      beforeCommit()
      graft.io.TableManifest.commit(spark, labelsName, batchId + 1,
        LabelSchemaVersion)
      graft.io.TableManifest.vacuum(spark, labelsName)
      true
    }
  }

  /** Streaming wiring: [[ingestCommitted]] as a foreachBatch sink —
    * the engine's monotone batchId drives the exactly-once guard, so
    * a restart from the checkpoint replays cleanly (skipped if
    * committed, recomputed if the crash hit mid-window).
    * `indexedProfilesOf` supplies the CURRENT indexed-profile
    * relation per batch (typically
    * [[graft.io.Manifest.readSnapshot]] over a profile store the
    * same pipeline upserts via [[Streaming.foreachBatchUpsert]] —
    * the store must be maintained AHEAD of this sink in the batch
    * lifecycle, i.e. upsert first, then ingest, mirroring how the
    * spec drives it).
    */
  def labelMaintenanceSink(stream: DataFrame, checkpointDir: String,
      indexName: String, labelsName: String,
      indexedProfilesOf: SparkSession => DataFrame,
      p: Int = 19, q: Int = 20): org.apache.spark.sql.streaming.StreamingQuery =
    Streaming.sink(stream, checkpointDir) { (batch, batchId) =>
      val s = batch.sparkSession
      if (!batch.isEmpty)
        ingestCommitted(s, batchId, batch, indexedProfilesOf(s),
          indexName, labelsName, p = p, q = q)
    }

  // ---- the self-contained tri-store pipeline (§8.r11 item 2) -------

  /** Pure bucket of a profile's owner id — stable as the store grows. */
  private def profileBucket(nBuckets: Int) =
    pmod(xxhash64(col("c")), lit(nBuckets.toLong)).cast("int")

  /** Profile-store merge: one row per `c`, batch supersedes snapshot
    * (profiles are full replacements, not versioned events — within a
    * batch, `c` must be unique).
    */
  private def mergeProfiles(current: DataFrame, batchB: DataFrame): DataFrame =
    current.join(batchB.select("c"), Seq("c"), "left_anti").unionByName(batchB)

  /** Seed all three stores from an initial corpus, BEFORE
    * [[profilePipeline]] starts: the bucketed profile snapshot (the
    * future verify relation), the signature index, and label version
    * 0. The snapshot seed uses staging dir `v-1`, below any stream
    * batch id, so batch 0's own `v0` never collides.
    */
  def bootstrap(profiles: DataFrame, snapshotPath: String, indexName: String,
      labelsName: String, nBuckets: Int = 16, buckets: Int = 8,
      p: Int = 19, q: Int = 20): Unit = {
    Checkpoints.scoped { pin =>
      val prof = pin(profiles)
      // the collapsed join reads `prof` in place: freeing `pairs` frees
      // it too, so that free waits for the last read
      val pairs = Bipartite.deletionPairsCollapsed(prof, p, q, ProfileIndex.Depth)
        .select("a_id", "b_id")
      try {
        Streaming.upsertBatchInto(snapshotPath,
          prof.withColumn("bucket", profileBucket(nBuckets)), -1L, mergeProfiles)
        ProfileIndex.buildIndex(prof, indexName, buckets)
        bootstrapLabels(Llm.connectedComponents(pairs), labelsName, buckets)
      } finally Checkpoints.free(pairs) // the collapsed join's own pins
    }
  }

  /** The self-contained streaming near-dup pipeline: ONE foreachBatch
    * maintains all three stores in replay-safe order — (1) bucketed
    * profile-snapshot upsert ([[Streaming.upsertBatchInto]]'s staged
    * + manifest-pointer discipline; content-idempotent on replay),
    * then (2) the committed label/index ingest (exactly-once via the
    * label-pointer guard). Upsert-BEFORE-ingest is load-bearing: the
    * snapshot must cover every profile the index holds by the time a
    * future batch reads it as the stage-2 verify relation; probing
    * against a snapshot that already includes the current batch is
    * harmless (self-matches drop in the probe, duplicate intra edges
    * are connectivity no-ops). Crash between (1) and (2): replay
    * re-merges the same content into a fresh staging dir and the
    * ingest guard decides — committed → skip, crashed → recompute.
    */
  def profilePipeline(stream: DataFrame, snapshotPath: String,
      checkpointDir: String, indexName: String, labelsName: String,
      nBuckets: Int = 16, p: Int = 19,
      q: Int = 20): org.apache.spark.sql.streaming.StreamingQuery =
    Streaming.sink(stream, checkpointDir) { (batch, batchId) =>
      if (!batch.isEmpty)
        pipelineBatch(batchId, batch, snapshotPath, indexName, labelsName,
          nBuckets, p, q)
    }

  /** One [[profilePipeline]] batch — split out so the crash-matrix
    * spec can drive every seam directly: `crashAt` injects a failure
    * at the named seam ("upsert-commit" = inside the snapshot
    * commit's critical section, "between" = after the snapshot
    * committed but before any ingest work, "ingest-commit" = after
    * the index append, before the label pointer). Replaying the same
    * batchId after any crash converges: the upsert re-merge is
    * content-idempotent and the ingest guard skips-or-recomputes.
    */
  private[graft] def pipelineBatch(batchId: Long, b: DataFrame,
      snapshotPath: String, indexName: String, labelsName: String,
      nBuckets: Int = 16, p: Int = 19, q: Int = 20,
      crashAt: String => Unit = _ => ()): Unit = {
    val s = b.sparkSession
    Streaming.upsertBatchInto(snapshotPath,
      b.withColumn("bucket", profileBucket(nBuckets)), batchId,
      mergeProfiles, beforeCommit = () => crashAt("upsert-commit"))
    crashAt("between")
    val snap = graft.io.Manifest.readSnapshot(s, snapshotPath).drop("bucket")
    ingestCommitted(s, batchId, b, snap, indexName, labelsName,
      p = p, q = q, beforeCommit = () => crashAt("ingest-commit"))
  }
}
