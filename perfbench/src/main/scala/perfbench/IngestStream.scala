package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.io.{Manifest, Readers}
import graft.ops.{IngestPipeline, Streaming}

/** `ingest_stream`: `IngestPipeline.start(format = "json")` on a watched
  * directory, fed by one generator thread that moves the seeded
  * JSON-lines files into place (stage elsewhere, then one atomic
  * rename) on the generator's open-loop schedule, a fixed file rate. A file's
  * latency runs from its due time to the `afterCommit` seam of the
  * micro-batch that carried it; the file-to-batch map comes from the
  * file source's log in the checkpoint directory.
  */
final class IngestStream(spark: SparkSession, inputs: Path, work: Path, tracer: Tracer) {
  import IngestStream._

  private val expected: JsonNode = new ObjectMapper().readTree(inputs.resolve("expected.json").toFile)
  private val files = expected.get("files").elements().asScala.map(_.asText).toVector
  private val warmFiles = expected.get("warm_files").asInt
  private val pending = inputs.resolve("pending")
  private val watch = work.resolve("incoming")
  private val snapshot = work.resolve("snapshot")
  private val quarantine = work.resolve("quarantine")
  private val checkpoint = work.resolve("checkpoint")

  // one entry per committed micro-batch, in batch order
  private val commits = new ConcurrentLinkedQueue[Long]()
  @volatile private var commitStart = 0L
  // trace-only observations, one per batch: (buckets touched, staged bytes)
  private val staged = new ConcurrentLinkedQueue[(Int, Long)]()
  @volatile private var hookNs = 0L
  private var query: StreamingQuery = _

  private def afterCommit(): Unit = {
    val end = System.nanoTime()
    if (tracer.enabled) {
      tracer.record("manifest.commit", commitStart, end)
      // the version dir this batch staged, read back through the manifest
      val entries = Files.readAllLines(snapshot.resolve(Manifest.FileName), UTF_8).asScala
        .filter(_.nonEmpty).map(_.split("\t", 2)(1))
      val newest = entries.map(_.split("/", 2)(0)).maxBy(v => v.drop(1).takeWhile(_.isDigit).toLong)
      val touched = entries.count(_.startsWith(newest + "/"))
      staged.add((touched, Dirs.sizeBytes(snapshot.resolve(newest))))
      hookNs += System.nanoTime() - end
    }
    commits.add(end)
  }

  private def move(name: String): Unit =
    Files.move(pending.resolve(name), watch.resolve(name), StandardCopyOption.ATOMIC_MOVE)

  /** Start the query and push the warm-up files through it. */
  def start(): Unit = {
    Files.createDirectories(watch)
    query = IngestPipeline.start(spark, watch.toString, schema, snapshot.toString,
      quarantine.toString, checkpoint.toString, format = "json",
      beforeCommit = () => commitStart = System.nanoTime(),
      afterCommit = () => afterCommit())
    // one warm-up batch per file, so the timed batches run on warm code
    files.take(warmFiles).foreach { f => move(f); query.processAllAvailable() }
  }

  /** file name -> micro-batch id, from the file source's metadata log. */
  private def fileBatches(): Map[String, Long] = {
    val log = checkpoint.resolve("sources").resolve("0")
    val mapper = new ObjectMapper()
    Files.list(log).iterator().asScala.toSeq
      .filter(p => !p.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p, UTF_8).asScala.filter(_.startsWith("{")))
      .map { l =>
        val n = mapper.readTree(l)
        n.get("path").asText.split("/").last -> n.get("batchId").asLong
      }.toMap
  }

  /** Move the timed files in on their schedule, then check. */
  def measure(r: Result): Unit = {
    val timed = files.drop(warmFiles)
    val warmBatches = commits.size
    val dropped = new Array[Long](timed.size)
    val t0 = System.nanoTime() + 50000000L
    val due = expected.get("due_ms").elements().asScala.map(ms => t0 + ms.asLong * 1000000L).toArray
    val generator = new Thread(() => {
      timed.indices.foreach { i =>
        val wait = due(i) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        move(timed(i))
        dropped(i) = System.nanoTime()
      }
    }, "perfbench-generator")
    Host.startRegion()
    generator.start()
    generator.join()
    query.processAllAvailable()
    query.stop()

    val commitNs = commits.asScala.toVector
    val batchOf = fileBatches()
    r.attempted += timed.size
    val fresh = timed.indices.flatMap { i =>
      batchOf.get(timed(i)).filter(_ < commitNs.size).map(b => (commitNs(b.toInt) - due(i)) / 1e6)
    }
    if (fresh.size < timed.size) {
      r.problem(s"ingest: ${timed.size - fresh.size} of ${timed.size} files never committed")
      r.failed += timed.size - fresh.size
    }
    if (batchOf.values.max + 1 != commitNs.size)
      r.problem(s"ingest: ${batchOf.values.max + 1} batches in the source log, ${commitNs.size} commits")
    if (!check(r)) r.failed = r.attempted

    val progress = query.recentProgress.filter(_.batchId >= warmBatches).toSeq
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val trigger = progress.map(dur(_, "triggerExecution"))
    r.samples("freshness_ms") = fresh
    r.samples("batch_ms") = trigger
    // the batch that carried the most rows, the one that drains the
    // backlog: its time and its rows per second. The timed files make two
    // or three batches (a one-file batch from idle, the backlog, sometimes
    // a one- or two-file tail), so a median over all of them flips with
    // the batch count; and rows over all timed batch time would fall when
    // a faster query splits the same files into one more batch, since
    // every batch pays a fixed cost.
    val largest = progress.maxBy(_.numInputRows)
    val largestS = dur(largest, "triggerExecution") / 1e3
    r.endToEnd("wall_s") = (largestS, "s")
    r.endToEnd("rows_per_s") = (largest.numInputRows / largestS, "1/s")
    r.endToEnd("freshness_p50_ms") = (Stats.median(fresh), "ms")
    r.endToEnd("freshness_p95_ms") = (Stats.quantile(fresh, 0.95), "ms")

    if (tracer.enabled) {
      progress.foreach { p =>
        val start = tracer.nanoOfEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
        tracer.record("stream.batch", start, start + (dur(p, "triggerExecution") * 1e6).toLong)
      }
      val timedBatches = timed.flatMap(batchOf.get)
      val perBatch = timedBatches.groupBy(identity).values.map(_.size.toDouble).toSeq
      val obs = staged.asScala.toVector.drop(warmBatches)
      val goodBytes = expected.get("good_bytes").elements().asScala.drop(warmFiles).map(_.asLong).sum
      r.perLayer("stream.source_ms") = (Stats.median(progress.map(p => dur(p, "latestOffset") + dur(p, "getBatch"))), "ms")
      r.perLayer("stream.files_per_batch") = (Stats.median(perBatch), "count")
      r.perLayer("stream.add_batch_p50_ms") = (Stats.median(progress.map(dur(_, "addBatch"))), "ms")
      r.perLayer("stream.add_batch_p95_ms") = (Stats.quantile(progress.map(dur(_, "addBatch")), 0.95), "ms")
      r.perLayer("stream.commit_log_ms") = (Stats.median(progress.map(p => dur(p, "walCommit") + dur(p, "commitOffsets"))), "ms")
      r.perLayer("upsert.buckets_touched") = (Stats.median(obs.map(_._1.toDouble)), "count")
      r.perLayer("upsert.write_amp") = (obs.map(_._2).sum.toDouble / math.max(1L, goodBytes), "ratio")
      val live = Files.readAllLines(snapshot.resolve(Manifest.FileName), UTF_8).asScala
        .filter(_.nonEmpty).map(_.split("\t", 2)(1).split("/", 2)(0)).toSet
      val onDisk = Files.list(snapshot).iterator().asScala
        .count(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("v"))
      r.perLayer("manifest.live_dirs") = (live.size.toDouble, "count")
      r.perLayer("manifest.vacuumed_dirs") = ((commitNs.size - onDisk).toDouble, "count")
      r.perLayer("gen.lag_max_ms") = (timed.indices.map(i => (dropped(i) - due(i)) / 1e6).max, "ms")
      val commitOfFile = timed.flatMap(n => batchOf.get(n).filter(_ < commitNs.size).map(b => commitNs(b.toInt)))
      r.perLayer("stream.backlog_max_files") =
        (dropped.map(d => dropped.count(_ <= d) - commitOfFile.count(_ <= d)).max.toDouble, "count")
      r.perLayer("trace.overhead_s") = (hookNs / 1e9 / math.max(1, commitNs.size - warmBatches), "s")
    }
  }

  /** The final snapshot equals every good row upserted at once; the
    * quarantine holds exactly the planted malformed lines.
    */
  private def check(r: Result): Boolean = {
    val all = Readers.jsonWithQuarantine(spark, watch.toString, schema)
    val good = all.filter(col("_corrupt_record").isNull).drop("_corrupt_record")
    val want = Rows.of(Streaming.upsertLatest(good.limit(0), good))
    val got = Rows.of(Manifest.readSnapshot(spark, snapshot.toString).select(schema.fieldNames.map(col).toIndexedSeq: _*))
    val quarantined = IngestPipeline.readQuarantine(spark, quarantine.toString).count()
    val planted = expected.get("malformed_lines").asLong
    val keys = expected.get("distinct_keys").asLong
    var ok = true
    Rows.mismatch(got, want).foreach { m =>
      r.problem(s"ingest snapshot differs from the upsert of all good rows at once: $m"); ok = false
    }
    if (want.size != keys) { r.problem(s"ingest snapshot: ${want.size} keys, planted $keys"); ok = false }
    if (quarantined != planted) { r.problem(s"ingest quarantine: $quarantined rows, planted $planted"); ok = false }
    if (tracer.enabled) r.perLayer("quarantine.rows") = (quarantined.toDouble, "count")
    ok
  }
}

object IngestStream {
  val schema: StructType = new StructType()
    .add("event_id", "long").add("ts", "timestamp")
    .add("user_id", "long").add("event_type", "string")
    .add("value", "double")
}
