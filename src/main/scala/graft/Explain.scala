package graft


/** Plan-dump tool for the optimization rounds: writes
  * `explain("formatted")` of each named registry query to
  * `<outDir>/<key>_<suffix>.txt` (the `plans/rNN/` evidence files the
  * judge checks plan claims against — it cannot run Spark itself).
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.Explain <outDir> <suffix> <key>[,<key>...]
  *
  * Same session config as [[Bench]] so the captured plans are the
  * bench's plans. Keys whose registry fn collects eagerly (the
  * hyperball LocalRelation, the release-mode composite) still produce
  * a plan for the RETURNED frame; their loop-internal shapes are
  * documented in scaladocs + BASELINE rows instead.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: Explain <outDir> <suffix> <key,key,...>")
    val Array(outDir, suffix, keysCsv) = args
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.envCpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    keysCsv.split(",").map(_.trim).filter(_.nonEmpty).foreach { key =>
      val fn = SparkEntry.queries(key)
      val df = fn(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val p = java.nio.file.Paths.get(outDir, s"${key}_$suffix.txt")
      java.nio.file.Files.write(p, txt.getBytes("UTF-8"))
      println(s"[explain] wrote $p (${txt.length} chars)")
    }
    spark.stop()
  }
}
