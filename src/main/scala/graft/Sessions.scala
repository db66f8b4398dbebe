package graft

import org.apache.spark.sql.SparkSession

/** The one local-session builder: [[Bench]], [[Verify]], [[Explain]]
  * and the spec session share these settings, so a plan captured by
  * one runs the same way in the others.
  */
object Sessions {

  /** `SPARK_GRAFT_CPUS` (default 32): the drivers' core count and
    * shuffle-partition count.
    */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** `local[cpus]` with `cpus` shuffle partitions, no UI, UTC sessions
    * and the graft extensions. Callers add their own settings and call
    * `getOrCreate()`.
    */
  def local(cpus: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toLong)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    // events.parquet carries TIMESTAMP(NANOS) — see Readers.table
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
}
