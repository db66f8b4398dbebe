package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The live directory-watching ingest composite, the reference-class
  * core loop of SURVEY §0.1 END TO END: new CSV or JSON-lines files
  * appear under a watched directory, rows validate against a DECLARED
  * schema, malformed rows quarantine with their raw line + source
  * file, and good rows upsert into the manifest-committed bucketed
  * snapshot ([[Streaming.upsertBatchInto]]) — one streaming query.
  *
  * Pipeline, per micro-batch (all inside ONE foreachBatch, so the
  * file-source checkpoint advances only after both sides landed):
  *
  *   1. The file source lists newly arrived files (late files are
  *      simply later batches — asserted in IngestPipelineSpec) and
  *      parses them PERMISSIVE against `schema`: a row that fails
  *      type conversion or shape lands with its raw line in
  *      `_corrupt_record` and NULLed data columns.
  *   2. [[Streaming.sink]] hands the batch over pinned — both splits
  *      read the materialized rows (a CSV relation whose only
  *      referenced column is the corrupt-record column is disallowed
  *      by Spark, and re-parsing per split would double the scan).
  *   3. Bad rows (raw line, source file, batch id) OVERWRITE the
  *      batch-keyed quarantine partition `batch=<id>` — overwrite
  *      makes the quarantine exactly-once under replay without any
  *      coordination with the snapshot commit.
  *   4. Good rows drop the quarantine column, bucket on the upsert
  *      key, and run the [[Streaming.upsertBatchInto]] discipline:
  *      staged immutable version dir, touched-bucket verification,
  *      atomic manifest-pointer rename, retention-grace vacuum.
  *
  * Crash anatomy (spec'd both sides, same as the bare upsert sink):
  * quarantine lands BEFORE the snapshot commit, so a crash in the
  * window between them replays the batch — the quarantine overwrite
  * is idempotent, the upsert merge is idempotent (latest-wins), and
  * the staged-but-uncommitted version dir is rebuilt. A crash AFTER
  * the manifest rename but before the streaming checkpoint commit
  * replays onto the already-committed snapshot — attempt-unique
  * staging + idempotent merge converge (StreamingSpec's two crash
  * specs cover the shared core; IngestPipelineSpec re-drives both
  * through the REAL file source).
  *
  * Scale: the file source's listing state is O(files seen) on the
  * driver (bounded by `maxFileAge` / compaction in a deployment);
  * parse + split are row-local over the batch; quarantine writes are
  * batch-sized; the upsert reads only the touched buckets, as one
  * relation (one listing and one schema read per batch, not per
  * bucket). Nothing scans the accumulated snapshot or quarantine
  * history. At 100 TB the same query runs unchanged — the knobs are
  * `maxFilesPerTrigger` (batch sizing) and `nBuckets`
  * (bucket-fits-in-executor-memory).
  */
object IngestPipeline {

  /** Schema of the quarantine table: the raw offending line, where it
    * came from, and (as the `batch=<id>` partition column, surfaced
    * by discovery when reading the root) which batch carried it.
    */
  val QuarantineColumns: Seq[String] = Seq("raw", "src_file", "batch")

  /** Start the watcher. `schema` is the DECLARED data schema (no
    * quarantine column); the snapshot upsert keys on
    * (user_id, event_type) latest-wins by (ts, event_id) — the
    * [[Streaming.upsertLatest]] contract — so `schema` must carry
    * those columns. `format` is "csv" (header files) or "json"
    * (JSON-lines) — the two arrival formats the reference-class
    * pipeline ingests, identical quarantine/upsert semantics.
    * `beforeCommit`/`afterCommit` are the spec's crash-injection
    * seams (no-ops in production).
    */
  def start(spark: SparkSession, watchDir: String, schema: StructType,
      snapshotPath: String, quarantinePath: String, checkpointDir: String,
      nBuckets: Int = 16, maxFilesPerTrigger: Int = 16,
      format: String = "csv",
      beforeCommit: () => Unit = () => (),
      afterCommit: () => Unit = () => ()): org.apache.spark.sql.streaming.StreamingQuery = {
    require(format == "csv" || format == "json", s"format $format")
    val withCorrupt = schema.add("_corrupt_record", "string")
    val reader = spark.readStream
      .schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
    val parsed =
      if (format == "csv") reader.option("header", "true").csv(watchDir)
      else reader.json(watchDir)
    val stream = parsed
      // provenance must be captured ON the source relation — the
      // _metadata struct does not survive into foreachBatch
      .select(col("*"), col("_metadata.file_path").as("_src_file"))
    Streaming.sink(stream, checkpointDir) { (batch, batchId) =>
      ingestBatch(batch, batchId, snapshotPath, quarantinePath,
        nBuckets, beforeCommit, afterCommit)
    }
  }

  /** One micro-batch of the composite — factored out so the spec can
    * also drive edge cases directly. `batch` is read twice (one read
    * per split), so it should be materialized, as [[Streaming.sink]]
    * hands it over. See the object scaladoc for the
    * ordering/idempotence argument.
    */
  private[graft] def ingestBatch(batch: DataFrame, batchId: Long,
      snapshotPath: String, quarantinePath: String, nBuckets: Int,
      beforeCommit: () => Unit, afterCommit: () => Unit): Unit = {
    val bad = batch.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw"),
        col("_src_file").as("src_file"))
    // overwrite of the batch-keyed partition = exactly-once quarantine
    // under at-least-once replay
    bad.write.mode("overwrite").parquet(s"$quarantinePath/batch=$batchId")
    val good = batch.filter(col("_corrupt_record").isNull)
      .drop("_corrupt_record", "_src_file")
    Streaming.upsertBatchInto(snapshotPath,
      good.withColumn("bucket", Streaming.upsertBucket(nBuckets)),
      batchId, Streaming.upsertLatest, beforeCommit, afterCommit)
  }

  /** Read the accumulated quarantine (all batches). Before the first
    * micro-batch commits, the root path does not exist yet — a
    * monitoring caller polling early gets an EMPTY relation with the
    * [[QuarantineColumns]] schema instead of an AnalysisException.
    * `batch` is LongType on BOTH branches: ingestBatch's batchId is a
    * Long, partition discovery infers Int for small ids and Long past
    * 2³¹, so the read path casts the discovered column.
    */
  def readQuarantine(spark: SparkSession, quarantinePath: String): DataFrame = {
    // Hadoop FS API, not java.io: the quarantine root is wherever the
    // pipeline writes (HDFS/object store at scale, local in tests)
    val root = new org.apache.hadoop.fs.Path(quarantinePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasBatches = fs.exists(root) &&
      fs.listStatus(root).exists(_.getPath.getName.startsWith("batch="))
    if (hasBatches)
      spark.read.parquet(quarantinePath)
        .withColumn("batch", col("batch").cast("long"))
    else {
      import org.apache.spark.sql.types._
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("raw", StringType), StructField("src_file", StringType),
          StructField("batch", LongType))))
    }
  }
}
