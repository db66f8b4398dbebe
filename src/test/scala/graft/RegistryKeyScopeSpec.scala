package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The per-key driver scope ([[ops.Checkpoints]]): registry keys run
  * back to back, each inside the `Checkpoints.scoped` that Bench,
  * Verify and Explain open around a key, leave no block behind except
  * SessionCache entries — asserted right after each key, before the
  * next key's allocations can let a GC reclaim a leak. The sample
  * holds one key per `src/main` file with a pin site (SpineRank's are
  * reached through `agg_weighted_median`), and it starts from an
  * empty cache, so shared entries are first built inside a
  * consumer's own key scope and must outlive it for the next one.
  */
class RegistryKeyScopeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  // order matters: each "next consumer" follows the key that builds
  // its shared entry (cluster-labels, bpe-rules-k8, graph-canonical)
  private val keys = Seq(
    "events_funnel_windowed",   // Aggregations
    "agg_weighted_median",      // Analytics, SpineRank
    "dedup_cluster_histogram",  // Bipartite: builds brand-profiles, cluster-labels
    "sample_cluster_inverse",   // next consumer of cluster-labels
    "text_bpe_rules",           // Bpe: builds bpe-rules-k8
    "pipeline_curation_stages", // CurationPipeline: next consumer of bpe-rules-k8
    "graph_pagerank",           // Graph
    "graph_k_core",             // builds graph-canonical
    "graph_k_truss",            // next consumer of graph-canonical
    "orders_abc_xyz",           // Insights
    "dedup_minhash_lsh",        // Llm
    "dedup_simhash",            // Llm2
    "dedup_ngram_containment")  // PairJoins
  private val nextConsumers =
    Seq("sample_cluster_inverse", "pipeline_curation_stages", "graph_k_truss")

  private def runKey(name: String): Seq[String] = ops.Checkpoints.scoped {
    SparkEntry.queries(name)(spark, dir).collect().map(_.toString).sorted.toSeq
  }

  private def rddIds(entries: Iterable[DataFrame]): Set[Int] =
    entries.flatMap(_.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }).toSet

  /** The cached entries by kind, read through `SessionCache.of` with a
    * build that throws, so an absent kind stays absent. A kind missing
    * from `SharedBuilds.all` is not read here: its blocks show as a
    * leak.
    */
  private def entries(): Map[String, DataFrame] =
    ops.SharedBuilds.all.flatMap { case (kind, _) =>
      scala.util.Try(ops.SessionCache.of(spark, dir, kind)(
        throw new NoSuchElementException(kind))).toOption.map(kind -> _)
    }.toMap

  test("registry keys back to back: after each key's scope only SessionCache entries hold blocks") {
    ops.SessionCache.reset()
    val blocks = new RddBlocks
    spark.sparkContext.addSparkListener(blocks)
    try {
      var before = Map.empty[String, DataFrame]
      val rows = keys.map { k =>
        val r = runKey(k)
        val now = entries()
        assert(before.forall { case (kind, e) => now.get(kind).exists(_ eq e) },
          s"$k rebuilt or dropped an entry an earlier key's scope built")
        before = now
        withClue(s"after $k: ") { blocks.assertNoneLive(rddIds(now.values)) }
        k -> r
      }.toMap
      assert(Seq("brand-profiles", "cluster-labels", "bpe-rules-k8", "graph-canonical")
        .forall(before.contains), "the sample builds the shared entries it names")
      // an entry built inside another key's scope serves the same rows
      // as one the consumer builds itself
      nextConsumers.foreach { k =>
        ops.SessionCache.reset()
        assert(runKey(k) === rows(k), k)
      }
    } finally {
      spark.sparkContext.removeSparkListener(blocks)
      ops.SessionCache.reset()
    }
  }
}
