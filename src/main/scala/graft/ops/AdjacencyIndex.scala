package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.TableManifest

/** Persisted bucketed adjacency — the graph-family member of the
  * index shelf ([[PostingIndex]], [[ProfileIndex]], ...): the
  * undirected edge relation stored ONCE, bucketed+sorted by `src`,
  * so every iterative algorithm's per-round "frontier ⋈ edges" join
  * consumes the stored clustering instead of re-shuffling the edge
  * relation every round. This is the 100 TB escape documented in
  * [[Graph.graphBfsLayers]]' scaladoc, made concrete: in-plan keys
  * checkpoint edges per run (fine for one query), but a deployment
  * asking many reachability/degree questions of the same graph pays
  * the edge shuffle exactly once — at build.
  *
  * What the layout buys, spec-asserted ([[graft.AdjacencyIndexSpec]]):
  * the per-round neighbor join plans with ZERO exchanges above the
  * edge scan (the frontier side broadcasts or shuffles to match —
  * it is the only moving state), and degree aggregation plans with
  * ZERO exchanges at all (bucketing satisfies the agg's clustered
  * distribution). Both orientations of each edge are stored, so a
  * node's full neighborhood is one bucket-local range.
  *
  * Storage is [[TableManifest]]'s atomic pointer contract (immutable
  * `name__vN` + pointer rename = the commit; crash-injected in the
  * spec). `appendEdges` re-buckets the UNION — edges are facts, so
  * append is idempotent set-union, replay-safe by construction; the
  * version table is rewritten (edge tables re-cluster on append,
  * unlike the append-only posting sidecars) which at 100 TB argues
  * for large, infrequent edge batches — documented, not hidden.
  */
object AdjacencyIndex {

  /** Bump when the stored row layout changes. */
  val SchemaVersion = 1

  /** Undirected normalization: drop self-loops, dedupe, store BOTH
    * orientations (a node's neighborhood = one sorted bucket range).
    */
  private def normalized(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
    e.union(e.select(col("dst").as("src"), col("src").as("dst"))).distinct()
  }

  private def publish(spark: SparkSession, name: String, rows: DataFrame,
      buckets: Int, beforeCommit: () => Unit, afterCommit: () => Unit,
      appliedBatch: Option[Long]): Unit =
    TableManifest.publish(spark, name, SchemaVersion, appliedBatch,
      beforeCommit, afterCommit) {
      rows.write.mode("overwrite").format("parquet")
        .bucketBy(buckets, "src").sortBy("src")
        .saveAsTable(_)
    }

  /** Build (or rebuild) the adjacency from a (src, dst) relation. */
  def build(spark: SparkSession, name: String, edges: DataFrame,
      buckets: Int = 32,
      beforeCommit: () => Unit = () => (),
      afterCommit: () => Unit = () => (),
      appliedBatch: Option[Long] = None): Unit =
    publish(spark, name, normalized(edges), buckets,
      beforeCommit, afterCommit, appliedBatch)

  /** Append new edges: set-union with the stored relation, re-bucketed
    * under the SAME layout (the bucket count comes from the catalog,
    * [[TableManifest.bucketSpecOf]] — the table IS the layout record
    * here), next version, atomic swap. Idempotent (edges are facts);
    * a replayed append converges to the same set.
    */
  def appendEdges(spark: SparkSession, name: String, edges: DataFrame,
      beforeCommit: () => Unit = () => (),
      afterCommit: () => Unit = () => (),
      appliedBatch: Option[Long] = None): Unit = {
    val cur = TableManifest.resolve(spark, name, SchemaVersion)
    val (_, buckets) = TableManifest.bucketSpecOf(spark, cur).getOrElse(
      throw new IllegalStateException(s"$cur has no bucket spec — rebuild the adjacency"))
    val merged = spark.table(cur).unionByName(normalized(edges)).distinct()
    publish(spark, name, merged, buckets, beforeCommit, afterCommit, appliedBatch)
  }

  /** The stored undirected edge relation (both orientations). */
  def edges(spark: SparkSession, name: String): DataFrame =
    spark.table(TableManifest.resolve(spark, name, SchemaVersion))

  /** One frontier round: the distinct neighbors of `nodes`, joined
    * against the stored clustering — no exchange ever lands above
    * the edge scan (spec-asserted). Exposed so consumers beyond BFS
    * (ego-nets, k-hop samples) can drive their own iteration.
    */
  def neighborsOf(spark: SparkSession, name: String, nodes: DataFrame): DataFrame =
    nodes.select(col("node").as("src"))
      .join(edges(spark, name), "src")
      .select(col("dst").as("node")).distinct()

  /** Multi-source BFS layers over the persisted adjacency — identical
    * semantics (and spec-identical rows) to [[Graph.bfsLayers]], but
    * each round's edge side is the bucketed table: the only per-round
    * shuffles are frontier-sized.
    */
  def bfsOver(spark: SparkSession, name: String, seeds: DataFrame,
      maxHop: Int): DataFrame =
    Graph.bfsLayers(edges(spark, name), seeds, maxHop)

  /** Degree of every node — zero-exchange by layout (bucketing
    * satisfies the aggregation's clustered distribution).
    */
  def degrees(spark: SparkSession, name: String): DataFrame =
    edges(spark, name).groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("degree"))

  /** Modularity cells of the stored graph (round 12, third session) —
    * [[Graph.modularityCells]] driven off the persisted adjacency:
    * canonicalize the stored both-orientations relation back to u<v
    * once, then the same flood + cells, so a graph maintained by
    * streaming edge ingest serves community-quality screens without
    * re-deriving edges from raw facts (spec: row-identical to the
    * in-plan form over the same edge set).
    */
  def modularityOver(spark: SparkSession, name: String): DataFrame =
    Graph.modularityCells(Checkpoints.pin(
      edges(spark, name).filter(col("src") < col("dst"))
        .select(col("src").as("u"), col("dst").as("v"))))

  /** PageRank of the stored (undirected) graph (round 13) —
    * [[Graph]]'s scaled-integer Pregel loop driven off the persisted
    * adjacency: top-20 nodes by rank without re-deriving edges from
    * raw facts. The per-iteration degree join reads the bucketed
    * table's own clustering (the [[degrees]] zero-exchange
    * property), and the loop's only per-round exchange is the
    * contribution aggregate — the [[Graph.graphPagerank]] economics
    * over the service relation. Spec: row-identical to the in-plan
    * loop over the same normalized edge set.
    */
  def pagerankOver(spark: SparkSession, name: String): DataFrame = {
    val e = edges(spark, name)
    val nodes = Checkpoints.pin(e.select(col("src").as("node")).distinct())
    val n = nodes.count()
    if (n == 0) nodes.select(col("node"), lit(0.0).as("rank"))
    else Graph.pagerankLoop(nodes, e, n)
  }
}
