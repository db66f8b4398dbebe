package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.io.Readers
import graft.ops.Pipeline

/** `etl_batch`: the 211 batch flow, `Pipeline.run` + `Pipeline.export`,
  * over the seeded request extract, repeated on fresh output paths for
  * the measured seconds. Each job's export is checked against the
  * rollup the generator computed; the last job's quarantine and
  * snapshot are checked against the planted counts.
  *
  * Traced runs alternate an untraced job with one that calls the same
  * layers one at a time, materializing each layer's output inside its
  * span, so each layer's time is its own.
  */
final class EtlBatch(spark: SparkSession, inputs: Path, tracer: Tracer, counters: Option[TaskCounters]) {

  private val csv = inputs.resolve("requests.csv").toString
  private val expected: JsonNode = new ObjectMapper().readTree(inputs.resolve("expected.json").toFile)
  private val taxonomySchema = new StructType().add("category_code", "string").add("category_group", "string")

  private def taxonomy(): DataFrame =
    spark.read.schema(taxonomySchema).option("header", "true").csv(inputs.resolve("taxonomy.csv").toString)

  def inputRows: Long = expected.get("input_rows").asLong

  /** One untraced job: the flow exactly as a user runs it. */
  def job(out: Path): DataFrame = {
    val (snapshot, rollup) = Pipeline.run(spark, csv, taxonomy())
    Pipeline.export(rollup, out.toString)
    snapshot
  }

  /** Materialize a layer's output so its cost lands in its own span. */
  private def done(df: DataFrame): DataFrame = df.localCheckpoint()

  private def shuffleDelta[T](key: String, layer: collection.mutable.Map[String, Double])(body: => T): T =
    counters match {
      case None => body
      case Some(c) =>
        Sessions.drainListeners(spark)
        val b0 = c.shuffleMb
        val v = body
        Sessions.drainListeners(spark)
        layer(key) = c.shuffleMb - b0
        v
    }

  /** One traced job: the layers `Pipeline.run` composes, called one at a
    * time. Returns the layer counts it observed.
    */
  def tracedJob(out: Path): Map[String, Double] = {
    val layer = collection.mutable.Map.empty[String, Double]
    tracer.span("etl.job") {
      val parsed = tracer.span("readers.csv_parse") {
        done(Readers.csvWithQuarantine(spark, csv, Pipeline.requestSchema))
      }
      layer("readers.rows_in") = parsed.count().toDouble
      layer("readers.quarantined_rows") = parsed.filter(col("_corrupt_record").isNotNull).count().toDouble
      val cleaned = tracer.span("pipeline.ingest_and_clean") { done(Pipeline.ingestAndClean(spark, csv)) }
      val snapshot = shuffleDelta("pipeline.latest_wins.shuffle_mb", layer) {
        tracer.span("pipeline.latest_wins") { done(Pipeline.latestWins(cleaned)) }
      }
      layer("pipeline.latest_wins.rows_out") = snapshot.count().toDouble
      val categorized = tracer.span("pipeline.categorize") { done(Pipeline.categorize(snapshot, taxonomy())) }
      val rollup = shuffleDelta("pipeline.rollup.shuffle_mb", layer) {
        tracer.span("pipeline.rollup") { done(Pipeline.monthlyRollup(categorized)) }
      }
      tracer.span("sinks.export") { Pipeline.export(rollup, out.toString) }
      layer("sinks.files_out") = Files.list(out).iterator().asScala
        .count(_.getFileName.toString.startsWith("part-")).toDouble
    }
    layer.toMap
  }

  private def exportedRows(out: Path): Seq[String] =
    Files.list(out).iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.startsWith("part-") && p.toString.endsWith(".csv"))
      .flatMap(p => Files.readAllLines(p, UTF_8).asScala.drop(1))
      .filter(_.nonEmpty)

  /** The export equals the generator's rollup, row for row. */
  def checkExport(out: Path, r: Result): Boolean = {
    val want = expected.get("rollup").elements().asScala
      .map(_.elements().asScala.map(_.asText).mkString(",")).toSeq.sorted
    val got = exportedRows(out).sorted
    val ok = got == want
    if (!ok) r.problem(s"etl export: ${got.size} rows, expected ${want.size}; first diff " +
      got.zipAll(want, "", "").find(p => p._1 != p._2).getOrElse(("", "")))
    val sumN = got.map(_.split(",", -1)(3).toLong).sum
    if (sumN != expected.get("distinct_ids").asLong) {
      r.problem(s"etl rollup: sum(n_requests) = $sumN, expected ${expected.get("distinct_ids").asLong}")
      false
    } else ok
  }

  /** Quarantine equals the planted count; the snapshot has one row per
    * valid request_id.
    */
  def checkSnapshot(snapshot: DataFrame, r: Result): Boolean = {
    // Spark refuses a raw-CSV query that reads only the corrupt-record
    // column, so count over the materialized parse
    val quarantined = Readers.csvWithQuarantine(spark, csv, Pipeline.requestSchema).localCheckpoint()
      .filter(col("_corrupt_record").isNotNull).count()
    val row = snapshot.agg(count(lit(1)), countDistinct(col("request_id"))).head()
    val (rows, ids) = (row.getLong(0), row.getLong(1))
    val planted = expected.get("malformed_rows").asLong
    val distinct = expected.get("distinct_ids").asLong
    var ok = true
    if (quarantined != planted) { r.problem(s"etl quarantine: $quarantined rows, planted $planted"); ok = false }
    if (rows != distinct || ids != distinct) {
      r.problem(s"etl snapshot: $rows rows / $ids ids, expected $distinct"); ok = false
    }
    ok
  }
}

object EtlBatch {
  def run(spark: SparkSession, inputs: Path, work: Path, seconds: Double, tracer: Tracer,
      counters: Option[TaskCounters], r: Result): Unit = {
    val etl = new EtlBatch(spark, inputs, tracer, counters)
    val walls = collection.mutable.ArrayBuffer.empty[Double]
    val tracedWalls = collection.mutable.ArrayBuffer.empty[Double]
    val layers = collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    var lastSnapshot: DataFrame = null
    var lastOk = true
    var i = 0
    val t0 = System.nanoTime()
    Host.startRegion()
    while (i == 0 || (System.nanoTime() - t0) / 1e9 < seconds || (tracer.enabled && tracedWalls.isEmpty)) {
      val out = work.resolve(s"export-$i")
      Host.harnessGc()
      r.attempted += 1
      val ok =
        if (tracer.enabled && i % 2 == 1) {
          tracer.operation(s"job-$i")
          val (layer, s) = Host.timed(etl.tracedJob(out))
          tracedWalls += s
          layers += layer
          etl.checkExport(out, r)
        } else {
          val (snapshot, s) = Host.timed(etl.job(out))
          walls += s
          lastSnapshot = snapshot
          etl.checkExport(out, r)
        }
      if (!ok) r.failed += 1
      lastOk = ok
      Dirs.deleteRecursively(out)
      i += 1
    }
    if (!etl.checkSnapshot(lastSnapshot, r) && lastOk) r.failed += 1

    val wall = Stats.median(walls.toSeq)
    r.samples("wall_s") = walls.toSeq
    r.endToEnd("wall_s") = (wall, "s")
    r.endToEnd("rows_per_s") = (etl.inputRows / wall, "1/s")
    // a batch job publishes every record of its extract at once: a
    // record's freshness is the job's latency from extract to export
    r.endToEnd("freshness_p50_ms") = (wall * 1e3, "ms")
    r.endToEnd("freshness_p95_ms") = (Stats.quantile(walls.toSeq, 0.95) * 1e3, "ms")
    if (tracer.enabled) {
      r.samples("traced_wall_s") = tracedWalls.toSeq
      r.perLayer("trace.overhead_s") = (Stats.median(tracedWalls.toSeq) - wall, "s")
      layers.flatMap(_.keys).distinct.foreach { k =>
        val unit = if (k.endsWith("_mb")) "MB" else "count"
        r.perLayer(k) = (Stats.median(layers.map(_(k)).toSeq), unit)
      }
    }
  }

  /** Warm the flow's code paths with whole jobs over the same extract;
    * nothing a job computes is kept, so the timed jobs start from the
    * files alone, as a scheduled job does.
    */
  def warm(spark: SparkSession, inputs: Path, work: Path, jobs: Int, tracer: Tracer, r: Result): Unit = {
    val etl = new EtlBatch(spark, inputs, new Tracer(false, "warm"), None)
    val out = work.resolve("warm-export")
    r.samples("warm_job_s") = (1 to jobs).map { i =>
      val t0 = System.nanoTime()
      if (tracer.enabled && i % 2 == 0) etl.tracedJob(out) else etl.job(out)
      Dirs.deleteRecursively(out)
      (System.nanoTime() - t0) / 1e9
    }
  }
}
