package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Minimal JSON writing for the result and span files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(items: Iterable[String]): String = items.mkString("[", ",", "]")
  def nums(ds: Iterable[Double]): String = arr(ds.map(num))
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (the "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** One run's outputs: end-to-end and per-layer metrics, raw samples,
  * operation counts, check failures and the environment fingerprint.
  */
final class Result(val workload: String) {
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val samples = mutable.LinkedHashMap.empty[String, Seq[Double]]
  val env = mutable.LinkedHashMap.empty[String, String]
  val problems = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def problem(msg: String): Unit = {
    System.err.println(s"[perfbench] CHECK FAILED: $msg")
    problems += msg
  }

  def write(path: Path): Unit = {
    def metrics(m: mutable.LinkedHashMap[String, (Double, String)]) =
      Json.obj(m.map { case (k, (v, u)) => k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
    val body = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "problems" -> Json.arr(problems.map(Json.str)),
      "end_to_end" -> metrics(endToEnd),
      "per_layer" -> metrics(perLayer),
      "samples" -> Json.obj(samples.map { case (k, v) => k -> Json.nums(v) }),
      "env" -> Json.obj(env)))
    Files.write(path, body.getBytes(UTF_8))
  }
}

/** Spans around the benchmark's calls into the program's layers: name,
  * start, end, parent and run id, kept in memory and written as JSONL
  * at the end. Spans of one operation (a job, a pass) share the run id
  * set by `operation`. Disabled, `span` just runs its body.
  */
final class Tracer(val enabled: Boolean, base: String) {
  private var runId = base
  def operation(name: String): Unit = runId = s"$base/$name"

  private final case class Span(id: Int, parent: Int, name: String, run: String, startNs: Long, endNs: Long)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 1
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans.synchronized { spans += Span(id, parent, name, runId, t0, System.nanoTime()) }
      }
    }

  /** A span observed rather than wrapped (a streaming batch, a commit
    * window), given on the `System.nanoTime` clock.
    */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) spans.synchronized {
      spans += Span(nextId, 0, name, runId, startNs, endNs)
      nextId += 1
    }

  /** Epoch milliseconds to the `System.nanoTime` clock the spans use. */
  def nanoOfEpochMs(ms: Long): Long = nano0 + (ms - epochMs0) * 1000000L

  def write(path: Path): Unit = {
    def ms(ns: Long) = Json.num(epochMs0 + (ns - nano0) / 1e6)
    val lines = spans.synchronized(spans.toList).sortBy(_.startNs).map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "run" -> Json.str(s.run), "start_ms" -> ms(s.startNs), "end_ms" -> ms(s.endNs)))
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

/** Task-level totals from a listener the benchmark registers itself. */
final class TaskCounters extends SparkListener {
  @volatile var cpuNs = 0L
  @volatile var runMs = 0L
  @volatile var shuffleWriteBytes = 0L
  @volatile var spillBytes = 0L
  @volatile var gcMs = 0L
  @volatile var tasks = 0L

  override def onTaskEnd(end: SparkListenerTaskEnd): Unit = synchronized {
    val m = end.taskMetrics
    tasks += 1
    if (m != null) {
      cpuNs += m.executorCpuTime
      runMs += m.executorRunTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      gcMs += m.jvmGCTime
    }
  }

  def shuffleMb: Double = shuffleWriteBytes / 1048576.0

  def report(r: Result): Unit = {
    r.perLayer("spark.task_cpu_s") = (cpuNs / 1e9, "s")
    r.perLayer("spark.task_run_s") = (runMs / 1e3, "s")
    r.perLayer("spark.shuffle_write_mb") = (shuffleWriteBytes / 1048576.0, "MB")
    r.perLayer("spark.spill_mb") = (spillBytes / 1048576.0, "MB")
    r.perLayer("spark.jvm_gc_s") = (gcMs / 1e3, "s")
    r.perLayer("spark.tasks") = (tasks.toDouble, "count")
  }
}

/** Host and JVM fingerprint: steal, load, cores, heap, CPU model, a
  * calibration loop's time, and collector time split into the harness's own `System.gc()` calls and
  * the time inside measured regions.
  */
object Host {
  private def gcMsNow(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  private var harnessGcMs = 0L
  private var regionGcMs = 0L

  /** Collect garbage outside a measured region, accounting its time. */
  def harnessGc(): Unit = {
    val g0 = gcMsNow()
    System.gc()
    harnessGcMs += gcMsNow() - g0
  }

  /** Time `body` in seconds, accounting the collector time inside it. */
  def timed[T](body: => T): (T, Double) = {
    val g0 = gcMsNow()
    val t0 = System.nanoTime()
    val v = body
    val s = (System.nanoTime() - t0) / 1e9
    regionGcMs += gcMsNow() - g0
    (v, s)
  }

  /** Cumulative steal over all CPUs, in seconds (USER_HZ = 100). */
  def stealS(): Double = try {
    val f = Files.readAllLines(Paths.get("/proc/stat")).asScala.head.trim.split("\\s+")
    if (f.length > 8) f(8).toLong / 100.0 else 0.0
  } catch { case _: Throwable => 0.0 }

  private def firstLine(path: String, prefix: String): Option[String] = try {
    Files.readAllLines(Paths.get(path)).asScala.find(_.startsWith(prefix))
  } catch { case _: Throwable => None }

  def peakRssMb(): Double =
    firstLine("/proc/self/status", "VmHWM:").map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  private var steal0 = 0.0
  def startRegion(): Unit = steal0 = stealS()

  /** A fixed single-thread integer loop, in ms (the second of two runs,
    * so the JIT is outside it): the host's speed at the time of the run,
    * which moves with its other tenants even when steal reads 0.
    */
  def calibrateMs(): Double = {
    def once(): Double = {
      var x = 0x9E3779B97F4A7C15L
      var acc = 0L
      val t0 = System.nanoTime()
      var i = 0
      while (i < 100000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; acc += x; i += 1 }
      if (acc == 42L) System.err.println() // keeps the loop live
      (System.nanoTime() - t0) / 1e6
    }
    once()
    once()
  }

  def report(r: Result): Unit = {
    r.perLayer("host.steal_s") = (stealS() - steal0, "s")
    r.perLayer("host.gc_harness_s") = (harnessGcMs / 1e3, "s")
    r.perLayer("host.gc_region_s") = (regionGcMs / 1e3, "s")
    val calMs = calibrateMs()
    r.perLayer("host.cal_ms") = (calMs, "ms")
    r.env("cal_ms") = Json.num(calMs)
    val load = try Files.readAllLines(Paths.get("/proc/loadavg")).asScala.head.split(" ").take(3).mkString(" ")
      catch { case _: Throwable => "" }
    r.env("steal_s") = Json.num(stealS() - steal0)
    r.env("loadavg") = Json.str(load)
    r.env("nproc") = Runtime.getRuntime.availableProcessors.toString
    r.env("xmx_mb") = (Runtime.getRuntime.maxMemory / 1048576).toString
    r.env("cpu_model") = Json.str(firstLine("/proc/cpuinfo", "model name").map(_.split(":", 2)(1).trim).getOrElse("unknown"))
    r.env("gc_harness_s") = Json.num(harnessGcMs / 1e3)
    r.env("gc_region_s") = Json.num(regionGcMs / 1e3)
    r.env("gc_total_s") = Json.num(gcMsNow() / 1e3)
    r.env("peak_rss_mb") = Json.num(peakRssMb())
  }
}

object Sessions {
  /** Spark's cores and shuffle partitions, the same on every host:
    * `graph_hyperball_reach`'s summed estimates depend on the
    * partitioning, and its recorded result was taken at 4.
    */
  val Cores = 4

  /** The session every workload runs on: `local[Cores]`, the same SQL
    * settings as the repository's bench harness, Spark's local and
    * warehouse directories inside `work`.
    */
  def build(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Block until every queued listener event has been delivered, so
    * counters read after an action include all of its tasks.
    */
  def drainListeners(spark: SparkSession): Unit =
    org.apache.spark.perfbench.ListenerBusAccess.drain(spark.sparkContext)
}

object Dirs {
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }

  def sizeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
    }
}

/** A result as canonical rows, for checks that tolerate the last digits
  * of floating-point values: a correct change that only reorders a
  * floating-point sum still passes. Values other than floating point
  * compare as strings. Rows sort by their other fields first, so their
  * order cannot turn on a floating-point rounding edge.
  */
object Rows {
  import org.apache.spark.sql.{DataFrame, Row}
  import com.fasterxml.jackson.databind.JsonNode

  val RelTol = 1e-6

  private def canon(v: Any): Any = v match {
    case null => null
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else d
    case f: Float => canon(f.toDouble)
    case r: Row => r.toSeq.map(canon)
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => Seq(canon(k), canon(x)) }.sortBy(_.toString)
    case s: scala.collection.Seq[_] => s.toSeq.map(canon)
    case x => x.toString
  }

  private def render(v: Any, double: Double => String): String = v match {
    case d: Double => double(d)
    case s: Seq[_] => s.map(render(_, double)).mkString("[", ",", "]")
    case x => String.valueOf(x)
  }

  /** The collected rows of `df`, sorted. */
  def of(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(r => canon(r).asInstanceOf[Seq[Any]])
      .sortBy(r => (render(r, _ => ""), render(r, d => f"$d%.5e")))

  private def close(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => x == y || math.abs(x - y) <= RelTol * math.max(math.abs(x), math.abs(y))
    case (x: Seq[_], y: Seq[_]) => x.size == y.size && x.zip(y).forall { case (p, q) => close(p, q) }
    case _ => a == b
  }

  /** Why `got` differs from `want`, if it does. */
  def mismatch(got: Seq[Seq[Any]], want: Seq[Seq[Any]]): Option[String] =
    if (got.size != want.size) Some(s"${got.size} rows, expected ${want.size}")
    else got.zip(want).find { case (g, w) => !close(g, w) }
      .map { case (g, w) => s"row ${render(g, _.toString)}, expected ${render(w, _.toString)}" }

  def toJson(rows: Seq[Seq[Any]]): String = {
    def json(v: Any): String = v match {
      case null => "null"
      case d: Double => Json.num(d)
      case s: Seq[_] => Json.arr(s.map(json))
      case x => Json.str(x.toString)
    }
    Json.arr(rows.map(json))
  }

  def fromJson(n: JsonNode): Seq[Seq[Any]] = {
    def value(v: JsonNode): Any =
      if (v.isNull) null
      else if (v.isArray) v.elements().asScala.map(value).toSeq
      else if (v.isNumber) v.asDouble
      else v.asText
    n.elements().asScala.map(value(_).asInstanceOf[Seq[Any]]).toSeq
  }
}
