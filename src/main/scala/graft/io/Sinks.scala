package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sinks (SURVEY §2.1 `sink_parquet_partitioned`).
  *
  * Date-partitioned parquet is the 100 TB default layout: partition
  * pruning turns time-range scans into directory listings, and
  * downstream dynamic partition pruning applies on join keys. Writers
  * must repartition by the partition column first, or every task
  * writes a file into every date directory (small-file explosion at
  * scale).
  */
object Sinks {

  /** Write `df` partitioned by the date of `tsCol` and return the
    * partition column name added.
    */
  def writePartitionedByDate(df: DataFrame, tsCol: String, path: String): String = {
    df.withColumn("dt", to_date(col(tsCol)))
      .repartition(col("dt"))
      .write.mode("overwrite").partitionBy("dt").parquet(path)
    "dt"
  }

  /** Read a date-partitioned dataset back, optionally pruned to one day
    * (the filter lands in PartitionFilters, not a data scan).
    */
  def readPartitioned(spark: SparkSession, path: String, day: Option[String]): DataFrame = {
    val base = spark.read.parquet(path)
    day.map(d => base.filter(col("dt") === lit(d))).getOrElse(base)
  }

  /** Tabular CSV export (the reference class's output surface —
    * SURVEY §0.1 "tabular export"). Quotes/escapes RFC-4180-style,
    * explicit null marker, UTC timestamps; one file per partition —
    * `coalesce` upstream if a single file is required (driver-side
    * single-file writes don't scale; at 100 TB exports stay sharded).
    */
  def exportCsv(df: DataFrame, path: String, header: Boolean = true): Unit =
    df.write.mode("overwrite")
      .option("header", header.toString)
      .option("nullValue", "")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
      .csv(path)

  /** JSON-lines export (one object per row, schema-carrying). */
  def exportJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
      .json(path)

  /** ORC export — the second columnar interchange format (Spark's ORC
    * datasource is built in). Same predicate-pushdown/column-pruning
    * contract as the parquet scans (asserted in IngestSinkSpec), so a
    * downstream that standardizes on ORC loses nothing. zstd to match
    * the parquet sink's compression posture.
    */
  def exportOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("compression", "zstd")
      .orc(path)

  /** ORC ingest, schema-on-read (ORC files are self-describing, like
    * parquet — no declared-schema path needed).
    */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Write a table bucketed (and sorted) by its join key. Two tables
    * bucketed the same way join with NO shuffle exchange on either
    * side — at 100 TB this converts every recurring fact⋈fact join on
    * the bucket key from a full-network shuffle into a local merge.
    * Bucketing metadata lives in the session catalog, hence
    * `saveAsTable` rather than a path write.
    *
    * The `repartition(buckets, key)` uses the SAME hash family
    * (murmur3 `pmod`) as the bucket-id assignment, so each write task
    * holds exactly one bucket id → one file per bucket. Without it,
    * every task writes a file into every bucket it touches — up to
    * tasks×buckets files, the small-file explosion bucketing is
    * supposed to prevent. `buckets` is the write-parallelism knob.
    */
  def writeBucketed(df: DataFrame, tableName: String, key: String, buckets: Int): Unit =
    df.repartition(buckets, col(key))
      .write.mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(tableName)

  // Compaction of append-grown index tables lives in
  // [[TableManifest.compact]] (round 8): the round-7 stage-then-swap variants that used to live
  // here rewrote the live table in place, so a reader racing the swap
  // could list a half-written table — the manifest-pointer commit
  // removes that window (atomic pointer rename, old version retained
  // one cycle for in-flight readers).
}
