package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

/** The benchmark's JVM entry point. `run.py` generates the inputs, then
  * starts this with the workload, its input and work directories and
  * where to write the result (and, traced, the span file).
  *
  * {{{
  *   perfbench.Main --workload etl_batch --seed N --inputs DIR --work DIR --seconds 5
  *     --trace 0|1 --result FILE --spans FILE [--registry DIR --expected FILE]
  *   perfbench.Main --record FILE --registry DIR --work DIR
  *   perfbench.Main --archive 1 --work DIR
  * }}}
  */
object Main {
  /** Whole `etl_batch` jobs run before the timed ones: job times keep
    * falling over the first few as the JIT warms up.
    */
  val EtlWarmJobs = 5

  def main(argv: Array[String]): Unit = {
    val bootS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def path(k: String): Path = Paths.get(args(k)).toAbsolutePath
    val work = path("work")
    Files.createDirectories(work)

    if (args.contains("archive")) {
      // the run that lists the classes for the class-data archive
      val spark = Sessions.build(work)
      spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
      spark.stop()
      return
    }
    if (args.contains("record")) {
      val spark = Sessions.build(work)
      RegistryHot.record(spark, path("registry").toString, path("record"))
      spark.stop()
      return
    }

    val workload = args("workload")
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val seed = args("seed").toLong
    val tracer = new Tracer(traced, s"$workload-$seed")
    val r = new Result(workload)

    val t0 = System.nanoTime()
    val spark = Sessions.build(work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val measure: Option[TaskCounters] => Unit = workload match {
      case "etl_batch" =>
        EtlBatch.warm(spark, path("inputs"), work.resolve("warm"), EtlWarmJobs, tracer, r)
        counters => EtlBatch.run(spark, path("inputs"), work, seconds, tracer, counters, r)
      case "ingest_stream" =>
        val stream = new IngestStream(spark, path("inputs"), work.resolve("stream"), tracer)
        stream.start() // the warm-up batches
        _ => stream.measure(r)
      case "registry_hot" =>
        val expected = RegistryHot.readResults(path("expected"))
        if (traced) RegistryHot.warm(spark, path("registry").toString, expected, r)
        _ => RegistryHot.run(spark, path("registry").toString, seconds, expected, tracer, r)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val warmS = (System.nanoTime() - t0) / 1e9 - sessionS
    log(f"set up in ${bootS + sessionS + warmS}%.2f s")
    // task counters cover the measured region only, and only when traced
    val counters = if (traced) Some(register(spark)) else None
    measure(counters)
    counters.foreach(_.report(r))
    log("measured")

    r.endToEnd("setup_s") = (bootS + sessionS + warmS, "s")
    r.env("setup_boot_s") = Json.num(bootS)
    r.env("setup_session_s") = Json.num(sessionS)
    r.env("setup_warm_s") = Json.num(warmS)
    Host.report(r)
    r.endToEnd("peak_rss_mb") = (Host.peakRssMb(), "MB")
    r.write(path("result"))
    if (traced) tracer.write(path("spans"))
    spark.stop()
    log("stopped")
  }

  private def log(msg: String): Unit =
    System.err.println(s"[perfbench] ${java.time.LocalTime.now()} $msg")

  private def register(spark: org.apache.spark.sql.SparkSession): TaskCounters = {
    val c = new TaskCounters
    spark.sparkContext.addSparkListener(c)
    c
  }
}
