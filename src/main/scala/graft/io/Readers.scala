package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Table readers (SURVEY §2.1, §7.1).
  *
  * All warehouse tables are parquet at `{sfDir}/{name}.parquet`
  * (TESTDATA.md). Parquet is self-describing; Catalyst pushes
  * predicates and prunes columns at the scan, so readers stay thin —
  * no schema declaration needed on this path.
  *
  * CSV/JSON ingest with declared schema + malformed-row quarantine is
  * the reference-class ETL's core competency (SURVEY §0.1): implemented
  * here as PERMISSIVE-mode reads capturing corrupt records in a
  * dedicated column so downstream can split good/bad rows.
  */
object Readers {

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts has shipped as BOTH parquet TIMESTAMP(NANOS) (rounds
      // 1–8) and TIMESTAMP(MICROS) (round-9 regeneration) — dispatch on
      // the schema the file actually carries, not on an assumption.
      // NANOS cannot map to TimestampType in Spark 4.1
      // (PARQUET_TYPE_ILLEGAL): read it as raw nanos (legacy long
      // mapping, set at SESSION construction — Bench / Verify /
      // SparkSpec; a reader must not mutate shared session state) and
      // truncate to microseconds, the same precision DuckDB lands on
      // (SURVEY §1.2). MICROS maps directly; no conversion.
      val df = spark.read.parquet(s"$sfDir/events.parquet")
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          require(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "true",
            "events.parquet needs spark.sql.legacy.parquet.nanosAsLong=true at session build")
          df.withColumn("ts",
            org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
        case org.apache.spark.sql.types.TimestampNTZType =>
          // Normalize to TimestampType (LTZ) so `ts` has ONE type across
          // file encodings — consumers use unix_micros etc., which
          // rejects NTZ. Sessions pin spark.sql.session.timeZone=UTC, so
          // the NTZ→LTZ cast maps the naive value to the same instant
          // the NANOS path produced in rounds 1–8: bit-identical keys.
          df.withColumn("ts",
            org.apache.spark.sql.functions.col("ts")
              .cast(org.apache.spark.sql.types.TimestampType))
        case _ => df
      }
    } else {
      spark.read.parquet(s"$sfDir/$name.parquet")
    }

  /** Schema-enforced CSV ingest with quarantine column. Malformed rows
    * land with all data columns NULL and the raw line preserved in
    * `_corrupt_record`; callers split on `_corrupt_record IS NULL`.
    */
  /** Schema-evolution parquet read: union the file schemas
    * (`mergeSchema` — columns added by later writers surface as NULL
    * on older files) and pin the id column type so downstream joins
    * never see a widening surprise. The batch-ingest contract for a
    * dataset whose producers add columns over time — the 211-class
    * pipeline's "the agency added a field" case: old files keep
    * serving, new columns are nullable, nothing rewrites.
    *
    * Scale note: `mergeSchema` reads every file's FOOTER at planning
    * time — O(files) driver metadata work, fine for day-partitioned
    * datasets (10³–10⁵ files), wrong for 10⁷ tiny files (compact
    * first, or carry the unioned schema explicitly). Data pages are
    * untouched; column pruning and pushdown work as usual against
    * the merged schema.
    */
  def parquetMerged(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  def csvWithQuarantine(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val withCorrupt = schema.add("_corrupt_record", "string")
    spark.read
      .schema(withCorrupt)
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(path)
  }

  /** Schema-enforced JSON-lines ingest with the same quarantine contract. */
  def jsonWithQuarantine(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val withCorrupt = schema.add("_corrupt_record", "string")
    spark.read
      .schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
  }
}
