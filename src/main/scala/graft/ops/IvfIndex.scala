package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextExpressions.{centroidRanks, cosineSim}

/** Persisted IVF ANN index — the vector-search counterpart of
  * [[IncrementalDedup]] (r4 verdict #3): [[Llm2.annIvf]] recomputes
  * centroids and cell assignments on every run, which a continuously
  * serving / continuously ingesting pipeline cannot afford. Here the
  * trained quantizer and the cell-assigned corpus persist once;
  * probing and appending touch O(probed cells) and O(batch) work
  * respectively, never O(corpus).
  *
  * Layout: the index table is `(vec_id, v)` PARTITIONED BY `cell`
  * (the assigned centroid index). Partitioning — not bucketing — is
  * the right physical key for IVF: `cell` has only `nlist` distinct
  * values and the probe path's whole point is to READ only the
  * `nprobe` cells each probe ranks highest. With directory
  * partitioning that pruning is a scan property: the probed cell set
  * (⊆ {0..nlist−1} — tiny no matter how many probes) is collected
  * once and pushed as a STATIC partition filter, so a 1000-executor
  * probe of a 100 TB corpus lists and reads only the probed cell
  * directories (deterministic, unlike DPP heuristics, which decline
  * this join — no selective build-side filter). Asserted against
  * PartitionFilters in IvfIndexSpec. The index side of the probe join
  * never exchanges: probes broadcast, vectors stream from their cell
  * directories (also asserted against the executed plan).
  *
  * The trained centroids persist in a `<table>_centroids` sidecar
  * (nlist tiny rows — the only driver-materialized state, same bound
  * as annIvf's literal). Append assigns NEW vectors with the STORED
  * quantizer — cells stay stable as the corpus grows (an existing
  * vector never moves), which is what makes append O(batch): new
  * parquet files land inside the touched cell directories, nothing
  * rewrites. Retrain-and-rebuild is the explicit [[buildIndex]] call,
  * exactly as in production IVF systems (FAISS-style: quantizer fixed
  * between rebuilds).
  */
object IvfIndex {

  /** Bump when the index row layout changes ([[graft.io.TableManifest
    * .resolve]] fails fast on mismatch).
    */
  val SchemaVersion = 1

  private val CentroidSuffix = "_centroids"

  /** Current physical table of a logical index name (the centroid
    * sidecar is the physical name + `_centroids`).
    */
  def resolveTable(spark: SparkSession, tableName: String): String =
    graft.io.TableManifest.resolve(spark, tableName, SchemaVersion)

  private def centsTable(physical: String): String = physical + CentroidSuffix

  /** Load the persisted quantizer of a PHYSICAL version table:
    * ≤ nlist rows — bounded collect.
    */
  private def loadCentroids(spark: SparkSession, physical: String): Array[Array[Double]] =
    spark.table(centsTable(physical))
      .orderBy("cell").collect()
      .map(r => r.getSeq[Double](1).toArray)

  private def centsLit(cents: Array[Array[Double]]) =
    typedlit(cents.map(_.toSeq).toSeq)

  /** Cell of each vector under a fixed quantizer (map-only: literal
    * centroids ride the scan projection, as in annIvf).
    */
  private def assign(vecs: DataFrame, cents: Array[Array[Double]]): DataFrame =
    vecs.select(col("vec_id"), col("v"),
      element_at(centroidRanks(col("v"), centsLit(cents)), 1).as("cell"))

  /** Train the quantizer on `emb` ((vec_id, v) rows; hash-sampled at
    * `trainSampleMod` — the 100 TB training knob shared with annIvf)
    * and write the cell-partitioned index + centroid sidecar.
    * `repartition(cell)` keeps one writer per cell — no small-file
    * explosion ([[graft.io.Sinks]] discipline).
    */
  def buildIndex(spark: SparkSession, emb: DataFrame, tableName: String,
      nlist: Int = 8, trainSampleMod: Long = 1L): Unit = {
    val cents = Llm2.trainCentroids(emb, nlist, trainSampleMod)
    require(cents.nonEmpty, s"cannot train an IVF quantizer on an empty relation ($tableName)")
    graft.io.TableManifest.publish(spark, tableName, SchemaVersion) { t =>
      assign(emb, cents)
        .repartition(col("cell"))
        .write.mode("overwrite").format("parquet").partitionBy("cell")
        .saveAsTable(t)
      import spark.implicits._
      cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cell", "centroid")
        .write.mode("overwrite").format("parquet")
        .saveAsTable(centsTable(t))
    }
  }

  /** Append a batch of new vectors, assigned with the STORED
    * quantizer — O(batch) work, touched cell directories gain files,
    * existing files never rewrite.
    */
  def appendToIndex(spark: SparkSession, newVecs: DataFrame, tableName: String): Unit = {
    val t = resolveTable(spark, tableName)
    graft.io.TableManifest.append(spark, t,
      assign(newVecs, loadCentroids(spark, t)).repartition(col("cell")))
    spark.catalog.refreshTable(t)
  }

  /** Collapse append growth into a fresh manifest version (index +
    * centroid sidecar together — a resolved version is always
    * self-contained); atomic publish, probes racing it serve the old
    * snapshot ([[graft.io.TableManifest.compact]]).
    */
  def compact(spark: SparkSession, tableName: String,
      beforeCommit: () => Unit = () => (),
      afterCommit: () => Unit = () => ()): Unit =
    graft.io.TableManifest.compact(
      spark, tableName, SchemaVersion, beforeCommit, afterCommit)

  /** One micro-batch of [[streamAppend]], idempotent per `batchId`.
    * foreachBatch is AT-LEAST-ONCE: the checkpoint offset commit
    * happens after this function returns, so a restart replays the
    * last batch even when its append already landed — without a guard
    * every recovery duplicates those vectors in the index (and an
    * append-only table has no key to dedup against). A per-batch
    * marker file under the checkpoint dir, written only AFTER the
    * append succeeds, makes the replay a no-op. Residual window: a
    * crash between append and marker duplicates exactly one batch —
    * the window every non-transactional file sink has; at 100 TB the
    * marker becomes the table format's transactional commit.
    * Package-visible so the spec can replay a batchId directly.
    */
  private[graft] def appendBatch(batch: DataFrame, batchId: Long,
      tableName: String, checkpointDir: String): Unit = {
    val spark = batch.sparkSession
    val commits = new org.apache.hadoop.fs.Path(checkpointDir, "graft-appended")
    val fs = commits.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(commits, batchId.toString)
    if (!fs.exists(marker)) {
      if (!batch.isEmpty) appendToIndex(spark, batch, tableName)
      fs.mkdirs(commits)
      fs.create(marker, true).close()
    }
  }

  /** Continuous vector ingestion: append each micro-batch of
    * `(vec_id, v)` rows to the index under the stored quantizer — the
    * streaming face of [[appendToIndex]], same O(batch) bound per
    * trigger (the same composition [[Streaming.foreachBatchUpsert]]
    * uses for the tabular snapshot). Probes between triggers see every
    * vector ingested so far; at scale the swap-free append means a
    * reader never blocks on ingestion. Restart-safe: [[appendBatch]]'s
    * batchId commit log makes replayed batches no-ops.
    */
  def streamAppend(stream: DataFrame, tableName: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    Streaming.sink(stream, checkpointDir)(appendBatch(_, _, tableName, checkpointDir))

  /** Top-k cosine neighbors of each probe `(p_id, pv)` against the
    * index: probes rank the stored centroids map-side, explode their
    * `nprobe` best cells, and broadcast; the corpus streams from the
    * probed cell DIRECTORIES only (static partition filter from the
    * bounded probed-cell set) with no exchange until the per-probe
    * top-k window. Same output contract as [[Llm2.annIvf]]:
    * (p_id, rank, vec_id, sim), self-matches excluded.
    */
  def probe(spark: SparkSession, probes: DataFrame, tableName: String,
      nprobe: Int, k: Int): DataFrame = {
    val t = resolveTable(spark, tableName)
    // a probe against a continuously-appended index must see the files
    // appended by OTHER sessions (a streaming micro-batch clone's
    // append does not invalidate this session's cached file listing)
    spark.catalog.refreshTable(t)
    val cents = centsLit(loadCentroids(spark, t))
    // materialized once: the probe relation is consumed TWICE (cell
    // collect below + the broadcast join) — without this the
    // centroid-ranking subtree re-executes per consumer, and a
    // nondeterministic probe source (sample/limit) could rank into a
    // cell the collected filter set missed, silently dropping
    // candidates
    val p = Checkpoints.pin(probes.select(col("p_id"), col("pv"),
        explode(slice(centroidRanks(col("pv"), cents), 1, nprobe)).as("p_cell")))
    // the union of probed cells is ⊆ {0..nlist−1} — a bounded collect
    // (same discipline as the centroid sidecar) that turns cell
    // pruning into a static PartitionFilter on the scan; DPP's
    // benefit heuristic declines this join shape, and a listing-time
    // filter is stronger anyway
    val probedCells = p.select("p_cell").distinct()
      .collect().map(_.getInt(0)).sorted
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("p_id")).orderBy(col("sim").desc, col("vec_id").asc)
    spark.table(t)
      .filter(col("cell").isin(probedCells.toIndexedSeq.map(Integer.valueOf): _*))
      .join(broadcast(p), col("cell") === col("p_cell") && col("vec_id") =!= col("p_id"))
      .withColumn("sim", cosineSim(col("v"), col("pv")))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select("p_id", "rank", "vec_id", "sim")
      .orderBy("p_id", "rank")
  }
}
