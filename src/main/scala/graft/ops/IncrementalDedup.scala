package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextExpressions

/** Incremental near-dedup against a PERSISTED MinHash band index — the
  * continuous-ingestion counterpart of [[Llm.dedupMinhashLsh]]. The
  * batch operator self-joins the whole corpus per run; a pipeline that
  * ingests continuously cannot afford O(corpus) work per batch, so the
  * corpus side must persist as an index and each new batch must probe
  * it incrementally — the same O(touched-work-only) posture as the
  * bucketed [[Streaming.foreachBatchUpsert]] snapshot.
  *
  * Index layout: one row per (bk, doc_id, sig), where `bk` =
  * xxhash64(band, band minhash rows) is the single-long band key and
  * `sig` the full nPerm MinHash signature. The table is PARTITIONED
  * on the band key's top byte (`bp` = bk >>> 56: 256 directories,
  * uniform under the hash), so a batch's band keys — 4 per doc,
  * batch-bounded — touch a bounded partition set that the probe
  * prunes EXACTLY via partition filters; only the pruned slice is read
  * and shuffled for the join, so probe I/O is O(touched), not
  * O(corpus). Row-group pruning could not do this: band keys are
  * uniform xxhash64 values, and past parquet's IN-filter threshold the
  * pushed predicate collapses to a min/max range spanning the whole
  * key space. Asserted in IncrementalDedupSpec against the executed
  * plan.
  *
  * Candidate verification uses the signature agreement fraction
  * (matching MinHash positions / nPerm) — the standard
  * corpus-access-free Jaccard estimator (E[agreement] = J, nPerm
  * trials). Exact verification composes downstream by joining the few
  * survivors to the document store, exactly as in dedupMinhashLsh's
  * final pass; the estimator keeps the incremental path free of any
  * corpus-sized input.
  *
  * Scale: new-batch work is O(batch bands) + candidates; index growth
  * is append-only ([[appendToIndex]]), never rewritten, and collapsed
  * by [[compact]]. Band parameters are shared with dedupMinhashLsh
  * (16 perms, 4 bands of 4 — P(band collision) = J⁴ per band, the LSH
  * S-curve knee at ~0.5).
  *
  * The index is versioned through [[graft.io.TableManifest]] —
  * `tableName` is a LOGICAL name whose current physical table the
  * manifest pointer resolves; rebuilds and compactions publish a fresh
  * version with one atomic pointer rename, so probes racing a
  * [[compact]] always serve a complete snapshot (crash-injection
  * spec'd in IndexManifestSpec). An index committed under an older
  * [[SchemaVersion]] fails fast on resolve and needs a rebuild.
  */
object IncrementalDedup {

  /** Bump when the index row layout changes — [[graft.io.TableManifest
    * .resolve]] fails fast on a version mismatch instead of letting
    * probes silently mis-join against an old layout.
    */
  val SchemaVersion = 2

  private val nPerm = 16
  private val bands = 4
  private val rowsPerBand = nPerm / bands

  /** Current physical table of a logical index name (spec/diagnostic
    * surface — operators below resolve internally).
    */
  def resolveTable(spark: SparkSession, tableName: String): String =
    graft.io.TableManifest.resolve(spark, tableName, SchemaVersion)

  private def withBp(rows: DataFrame): DataFrame =
    rows.withColumn("bp", shiftrightunsigned(col("bk"), 56).cast("int"))

  /** (bk, doc_id, sig) band rows of a (doc_id, text, …) relation —
    * map-only: native shingles + one-pass signatures, bands folded
    * into one long key.
    */
  private[graft] def bandRows(docs: DataFrame): DataFrame = {
    val sigs = docs
      .select(col("doc_id"), TextExpressions.wordShingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), TextExpressions.minHashSigs(col("sh"), nPerm).as("sig"))
    val bandKeys = (0 until bands).map { b =>
      xxhash64(lit(b) +: (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => element_at(col("sig"), i + 1)): _*)
    }
    sigs.select(col("doc_id"), col("sig"),
      explode(array(bandKeys: _*)).as("bk"))
  }

  /** Create the band index for a corpus as a fresh manifest version
    * (the previous version, if any, stays readable until vacuum's
    * retention window passes).
    */
  def buildIndex(docs: DataFrame, tableName: String): Unit =
    graft.io.TableManifest.publish(docs.sparkSession, tableName, SchemaVersion) {
      withBp(bandRows(docs).select("bk", "doc_id", "sig"))
        .repartition(col("bp"))
        .write.mode("overwrite").format("parquet").partitionBy("bp")
        .saveAsTable(_)
    }

  /** Append a new batch's bands to the current index version — parquet
    * append adds files under the touched `bp=` directories only, never
    * rewrites.
    */
  def appendToIndex(docs: DataFrame, tableName: String): Unit = {
    val spark = docs.sparkSession
    graft.io.TableManifest.append(spark, resolveTable(spark, tableName),
      withBp(bandRows(docs).select("bk", "doc_id", "sig")))
  }

  /** Collapse append growth into a fresh manifest version — atomic
    * publish, probes racing it serve the old snapshot
    * ([[graft.io.TableManifest.compact]]).
    */
  def compact(spark: SparkSession, tableName: String,
      beforeCommit: () => Unit = () => (),
      afterCommit: () => Unit = () => ()): Unit =
    graft.io.TableManifest.compact(
      spark, tableName, SchemaVersion, beforeCommit, afterCommit)

  /** The estimator tail of the probe: band-key join, signature-agreement
    * Jaccard estimate (E[agreement] = J, nPerm trials), per-pair rollup.
    */
  private def matchTail(idx: DataFrame, nb: DataFrame,
      minAgree: Double): DataFrame =
    idx.join(nb, "bk")
      .filter(col("indexed_id") =!= col("new_id"))
      .withColumn("agree",
        aggregate(zip_with(col("new_sig"), col("idx_sig"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, x) => acc + x)
          .cast("double") / nPerm)
      .filter(col("agree") >= minAgree)
      // a pair can collide in several bands — one row per pair
      .groupBy("new_id", "indexed_id")
      .agg(max("agree").as("est_jaccard"))
      .orderBy("new_id", "indexed_id")

  /** Near-dup matches of a new batch against the index: one row per
    * (new_id, indexed_id) candidate pair whose estimated Jaccard
    * (signature agreement) reaches `minAgree`. The batch's partition
    * set (≤ 256 values, driver-bounded by construction) prunes the
    * index scan to the touched directories before the join.
    */
  def matchAgainstIndex(spark: SparkSession, newDocs: DataFrame,
      tableName: String, minAgree: Double = 0.5): DataFrame = {
    // read twice: the partition probe + the join
    val nb = Checkpoints.pin(bandRows(newDocs)
      .select(col("bk"), col("doc_id").as("new_id"), col("sig").as("new_sig")))
    val bps = withBp(nb).select(col("bp")).distinct().collect().map(_.getInt(0))
    val idx = spark.table(resolveTable(spark, tableName))
      .filter(col("bp").isin(bps.map(Int.box): _*))
      .select(col("bk"), col("doc_id").as("indexed_id"), col("sig").as("idx_sig"))
    matchTail(idx, nb, minAgree)
  }
}
