package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted deletion-signature index for profile similarity — the
  * continuous-ingestion counterpart of [[Bipartite.deletionPairs]],
  * on the [[IncrementalDedup]]/[[IvfIndex]] manifest pattern
  * (§8.r11.4): the corpus side persists once as a bucketed signature
  * table, and each new batch of profiles probes it with
  * O(batch signatures) work instead of re-running the all-pairs join
  * over the whole corpus per arrival.
  *
  * Index layout: one row per (sig, c, sz, sl) — the 64-bit signature
  * hash, owner id, owner profile size, and signature length — i.e.
  * exactly the fixed-width relation [[Bipartite.deletionPairs]]'
  * stage 1 shuffles, laid on disk instead. The table is BUCKETED and
  * sorted by `sig` ([[graft.io.Sinks.writeBucketed]]), so the probe
  * join leaves the index side as the files lie — no shuffle, no sort;
  * only the new-batch side exchanges into the index's bucket count
  * (asserted against the executed plan in ProfileIndexSpec).
  *
  * The probe returns STAGE-1 survivors: pairs passing the threshold
  * on the collision-derived intersection bound max|S| — exact for
  * every pair inside the depth's completeness envelope
  * ((1−τ)·u_max < Depth+1), an underestimate otherwise, so no
  * qualifying pair is missed and the only possible extras are 64-bit
  * hash collisions. [[verifyExact]] completes stage 2 on the
  * ~truth-sized survivor set from the caller's profile relations —
  * the same two-stage economics the batch join measured at 2–3×
  * (BASELINE.md r10-resume), with the added property that the index
  * side never stores variable-width arrays.
  *
  * Versioning: [[graft.io.TableManifest]] — rebuilds and compactions
  * publish a fresh physical table under one atomic pointer rename;
  * probes racing a [[compact]] serve a complete snapshot. Depth is
  * fixed per layout (a depth-2 index is a different row population —
  * bump [[SchemaVersion]] and rebuild, never mix depths in one
  * table).
  */
object ProfileIndex {

  /** Bump when the row layout OR signature depth changes —
    * [[graft.io.TableManifest.resolve]] fails fast on a mismatch.
    */
  val SchemaVersion = 1

  /** Deletion depth of this layout: d = 1 covers τ > 1/2 corpora with
    * (1−τ)·u_max < 2 — the shipped τ = 0.95 envelope.
    */
  val Depth = 1

  def resolveTable(spark: SparkSession, tableName: String): String =
    graft.io.TableManifest.resolve(spark, tableName, SchemaVersion)

  /** Create the signature index for a (c, brands sorted array) profile
    * relation as a fresh manifest version.
    */
  def buildIndex(profiles: DataFrame, tableName: String, buckets: Int = 8): Unit =
    graft.io.TableManifest.publish(profiles.sparkSession, tableName, SchemaVersion) {
      graft.io.Sinks.writeBucketed(
        Bipartite.signatureRows(profiles, Depth).select("sig", "c", "sz", "sl"),
        _, "sig", buckets)
    }

  /** Append a new batch's signatures to the current version — parquet
    * append adds files per bucket, never rewrites; the bucket spec
    * comes from the catalog.
    */
  def appendToIndex(profiles: DataFrame, tableName: String): Unit = {
    val spark = profiles.sparkSession
    val t = resolveTable(spark, tableName)
    if (graft.io.TableManifest.bucketSpecOf(spark, t).isEmpty)
      throw new IllegalStateException(
        s"$t has no bucket spec — appending would mix layouts; rebuild the index")
    graft.io.TableManifest.append(spark, t,
      Bipartite.signatureRows(profiles, Depth).select("sig", "c", "sz", "sl"))
  }

  /** Collapse append growth into a fresh manifest version — atomic
    * publish ([[graft.io.TableManifest.compact]]).
    */
  def compact(spark: SparkSession, tableName: String,
      beforeCommit: () => Unit = () => (),
      afterCommit: () => Unit = () => ()): Unit =
    graft.io.TableManifest.compact(
      spark, tableName, SchemaVersion, beforeCommit, afterCommit)

  /** [[compact]] that also reclaims replay-duplicated signature rows
    * (§8.r11 item 3): [[ClusterMaintenance.ingestCommitted]]'s
    * crash-replay appends are at-least-once, leaving exact duplicate
    * (sig, c, sz, sl) rows — correctness-neutral (the probe's stage-1
    * groupBy dedupes collisions) but dead weight on every scan. A
    * DISTINCT inside the compaction rewrite removes them; probe
    * results are unchanged by construction.
    */
  def compactDedup(spark: SparkSession, tableName: String,
      beforeCommit: () => Unit = () => (),
      afterCommit: () => Unit = () => ()): Unit =
    graft.io.TableManifest.compact(
      spark, tableName, SchemaVersion, beforeCommit, afterCommit,
      transform = _.distinct())

  /** Stage-1 candidates of a new profile batch against the index at
    * τ = p/q: every (new_id, indexed_id) whose intersection BOUND
    * max|S| passes q·i ≥ p·(sz_n + sz_x − i). Complete (no qualifying
    * pair missed) while (1−τ)·u_max < [[Depth]]+1; extras are only
    * 64-bit hash collisions — feed the output to [[verifyExact]].
    * Self-matches (same id both sides) are dropped, so a batch of
    * already-indexed profiles probes cleanly.
    */
  def probe(spark: SparkSession, newProfiles: DataFrame, tableName: String,
      p: Int, q: Int): DataFrame = {
    require(2 * p > q, s"probe requires tau > 1/2 (got $p/$q)")
    val nb = Bipartite.signatureRows(newProfiles, Depth)
      .select(col("sig"), col("c").as("new_id"), col("sz").as("szn"),
        col("sl").as("sln"))
    val idx = spark.table(resolveTable(spark, tableName))
      .select(col("sig"), col("c").as("indexed_id"), col("sz").as("szx"),
        col("sl").as("slx"))
    idx.join(nb, "sig")
      .filter(col("indexed_id") =!= col("new_id"))
      .groupBy(col("new_id"), col("indexed_id"))
      .agg(max(least(col("sln"), col("slx"))).as("inter_lb"),
        max(col("szn")).as("szn"), max(col("szx")).as("szx"))
      .filter(col("inter_lb") * q >= (col("szn") + col("szx") - col("inter_lb")) * p)
      .select(col("new_id"), col("indexed_id"), col("inter_lb"),
        (col("szn") + col("szx") - col("inter_lb")).as("uni_ub"))
      .orderBy("new_id", "indexed_id")
  }

  /** Stage 2: exact verification of [[probe]] survivors against the
    * caller's profile relations (the new batch and the corpus the
    * index was built from). Re-applies the exact integer predicate
    * q·i ≥ p·u — killing any hash-collision extras — and emits the
    * exact (inter, uni, jaccard).
    */
  def verifyExact(candidates: DataFrame, newProfiles: DataFrame,
      indexedProfiles: DataFrame, p: Int, q: Int): DataFrame =
    candidates.select("new_id", "indexed_id")
      .join(newProfiles.select(col("c").as("new_id"), col("brands").as("n_br")),
        "new_id")
      .join(indexedProfiles.select(col("c").as("indexed_id"),
        col("brands").as("x_br")), "indexed_id")
      .select(col("new_id"), col("indexed_id"),
        size(array_intersect(col("n_br"), col("x_br"))).cast("long").as("inter"),
        (size(col("n_br")) + size(col("x_br")) -
          size(array_intersect(col("n_br"), col("x_br")))).cast("long").as("uni"))
      .filter(col("inter") * q >= col("uni") * p)
      .withColumn("jaccard",
        col("inter").cast("double") / col("uni").cast("double"))
      .orderBy("new_id", "indexed_id")
}
