package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.ops.{SessionCache, SharedBuilds}

/** `registry_hot`: nine analytic registry keys, each called through
  * `SparkEntry.queries(k)(spark, dir)` and collected. Every pass starts
  * from an empty `SessionCache`, so each pass pays its shared builds
  * inside the timed region and no result carries over between passes.
  *
  * An untraced run times one cold pass, right after the session is
  * built, as a fresh analytics job runs: a warm pass would first need a
  * cold one, and a cold pass takes longer than the measured seconds.
  * A traced run first warms the keys with one untimed pass, then
  * alternates passes that build each shared relation the keys consume,
  * in its own span, and then run the keys, each in its span, with
  * untraced passes, so both kinds compare like with like.
  */
object RegistryHot {
  /** In a fixed order: the untimed pass runs cold, and the order decides
    * which key pays the compile and build costs the keys share.
    */
  val keys: Seq[String] = Seq(
    "dedup_ngram_containment", "dedup_ngram_jaccard", "graph_hyperball_reach",
    "graph_pagerank", "orders_abc_xyz", "orders_association_rules",
    "sim_profile_allpairs", "text_bigram_lm_perplexity", "pipeline_curation_stages")

  /** The `SharedBuilds` entries the nine keys read, in dependency order. */
  val builds: Seq[String] = Seq(
    "tok-spine", "tok-bigram", "ngram-inv2", "ngram-df2",
    "graph-directed", "graph-canonical", "graph-both",
    "bpe-rules-k8", "bpe-state-k8", "brand-profiles")

  final case class Pass(wall: Double, keySeconds: Seq[(String, Double)],
      results: Map[String, Seq[Seq[Any]]], checkpointMb: Double)

  def pass(spark: SparkSession, dir: String, tracer: Tracer, prebuild: Boolean,
      onError: (String, Throwable) => Unit): Pass = {
    SessionCache.reset()
    Host.harnessGc()
    val (perKey, wall) = Host.timed {
      if (prebuild)
        SharedBuilds.all.filter(b => builds.contains(b._1)).foreach { case (kind, build) =>
          tracer.span(s"build.$kind") { build(spark, dir) }
        }
      keys.map { k =>
        val t0 = System.nanoTime()
        val rows = try Some(tracer.span(s"key.$k") { Rows.of(SparkEntry.queries(k)(spark, dir)) })
          catch { case e: Throwable => onError(k, e); None }
        (k, rows, (System.nanoTime() - t0) / 1e9)
      }
    }
    val residueMb = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
    Pass(wall, perKey.map(p => p._1 -> p._3), perKey.flatMap(p => p._2.map(p._1 -> _)).toMap, residueMb)
  }

  def readResults(path: Path): Map[String, Seq[Seq[Any]]] = {
    val n = new ObjectMapper().readTree(path.toFile)
    n.fieldNames().asScala.map(k => k -> Rows.fromJson(n.get(k))).toMap
  }

  /** Run one pass and check every key's result; returns the pass. */
  private def checkedPass(spark: SparkSession, dir: String,
      expected: Map[String, Seq[Seq[Any]]], tracer: Tracer, prebuild: Boolean, r: Result): Pass = {
    var failedKeys = Set.empty[String]
    val p = pass(spark, dir, tracer, prebuild, (k, e) => {
      r.problem(s"registry key $k failed: ${e.getMessage}")
      failedKeys += k
    })
    r.attempted += keys.size
    keys.filterNot(failedKeys).foreach { k =>
      Rows.mismatch(p.results(k), expected.getOrElse(k, Nil)).foreach { m =>
        r.problem(s"registry key $k: $m")
        failedKeys += k
      }
    }
    r.failed += failedKeys.size
    p
  }

  /** The untimed pass that warms a traced run (and is checked too). */
  def warm(spark: SparkSession, dir: String, expected: Map[String, Seq[Seq[Any]]], r: Result): Unit =
    checkedPass(spark, dir, expected, new Tracer(false, ""), prebuild = false, r)

  def run(spark: SparkSession, dir: String, seconds: Double,
      expected: Map[String, Seq[Seq[Any]]], tracer: Tracer, r: Result): Unit = {
    val untraced = collection.mutable.ArrayBuffer.empty[Pass]
    val traced = collection.mutable.ArrayBuffer.empty[Pass]
    val t0 = System.nanoTime()
    Host.startRegion()
    var i = 0
    // traced runs pair each traced pass with the untraced pass after it
    while (i == 0 || (System.nanoTime() - t0) / 1e9 < seconds || (tracer.enabled && i % 2 == 1)) {
      val tracedPass = tracer.enabled && i % 2 == 0
      tracer.operation(s"pass-$i")
      val p = checkedPass(spark, dir, expected,
        if (tracedPass) tracer else new Tracer(false, ""), tracedPass, r)
      (if (tracedPass) traced else untraced) += p
      i += 1
    }
    val walls = untraced.map(_.wall).toSeq
    val wall = Stats.median(walls)
    val latencies = untraced.flatMap(_.keySeconds.map(_._2 * 1e3)).toSeq
    r.samples("wall_s") = walls
    r.samples("key_ms") = latencies
    r.endToEnd("wall_s") = (wall, "s")
    r.endToEnd("rows_per_s") = (Stats.median(untraced.map(p => p.results.values.map(_.size).sum / p.wall).toSeq), "1/s")
    // a key's result is fresh once its call returns its checked rows
    r.endToEnd("freshness_p50_ms") = (Stats.median(latencies), "ms")
    r.endToEnd("freshness_p95_ms") = (Stats.quantile(latencies, 0.95), "ms")
    if (tracer.enabled) {
      r.samples("traced_wall_s") = traced.map(_.wall).toSeq
      r.perLayer("trace.overhead_s") = (Stats.median(traced.map(_.wall).toSeq) - wall, "s")
      r.perLayer("checkpoint.live_mb") = (Stats.median(traced.map(_.checkpointMb).toSeq), "MB")
    }
  }

  /** Record the results the checks compare against. */
  def record(spark: SparkSession, dir: String, out: Path): Unit = {
    val p = pass(spark, dir, new Tracer(false, ""), prebuild = false, (k, e) => throw e)
    Files.write(out, Json.obj(p.results.toSeq.sortBy(_._1).map { case (k, rows) =>
      k -> Rows.toJson(rows)
    }).getBytes(UTF_8))
  }
}
