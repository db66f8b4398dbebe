package graft

import org.apache.spark.sql.functions._

/** ops.AdjacencyIndex: the persisted bucketed adjacency. The claims
  * under test: (1) BFS over the stored table is ROW-IDENTICAL to the
  * in-plan key's loop; (2) the layout actually removes the per-round
  * edge shuffle (no exchange above the edge scan; degree agg plans
  * zero exchanges); (3) append is idempotent set-union preserving
  * the bucket layout; (4) the commit is crash-atomic.
  */
class AdjacencyIndexSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def corpusEdges = ops.Graph.orderSequenceEdges(spark, dir)

  test("bfsOver == the in-plan key's layers, row-identical") {
    ops.AdjacencyIndex.build(spark, "adj_bfs", corpusEdges)
    try {
      val seeds = ops.AdjacencyIndex.edges(spark, "adj_bfs")
        .select(col("src").as("node")).distinct()
        .filter(col("node") % 97 === 0)
      val got = ops.AdjacencyIndex.bfsOver(spark, "adj_bfs", seeds, 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val ref = ops.Graph.graphBfsLayers(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === ref)
    } finally io.TableManifest.drop(spark, "adj_bfs")
  }

  test("layout: no exchange above the edge scan in a frontier join; degree agg zero-exchange") {
    ops.AdjacencyIndex.build(spark, "adj_plan", corpusEdges, buckets = 8)
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        val frontier = Seq(97L, 194L).toDF("node")
        val nbrs = ops.AdjacencyIndex.neighborsOf(spark, "adj_plan", frontier)
        val shuffles = nbrs.queryExecution.executedPlan.collect {
          case e: ShuffleExchangeExec => e
        }
        // any shuffle in the round moves FRONTIER/OUTPUT-sized data
        // (the result distinct on `node`): nothing may re-partition by
        // the edge key — the stored clustering IS the src partitioning
        assert(shuffles.forall(e => !e.outputPartitioning.toString.contains("src#")),
          nbrs.queryExecution.executedPlan.toString)
        assert(nbrs.queryExecution.executedPlan.toString.contains("Bucketed: true"),
          "edge side must read the bucketed layout")

        val deg = ops.AdjacencyIndex.degrees(spark, "adj_plan")
        val degShuffles = deg.queryExecution.executedPlan.collect {
          case e: ShuffleExchangeExec => e
        }
        assert(degShuffles.isEmpty,
          s"degree agg must reuse the bucket clustering:\n${deg.queryExecution.executedPlan}")
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    } finally io.TableManifest.drop(spark, "adj_plan")
  }

  test("appendEdges: idempotent set-union converging to from-scratch; layout preserved") {
    val half1 = corpusEdges.filter(col("src") % 2 === 0)
    val half2 = corpusEdges.filter(col("src") % 2 =!= 0)
    ops.AdjacencyIndex.build(spark, "adj_app", half1, buckets = 8)
    try {
      ops.AdjacencyIndex.appendEdges(spark, "adj_app", half2)
      // replayed append (crash after commit, before checkpoint): same set
      ops.AdjacencyIndex.appendEdges(spark, "adj_app", half2)
      ops.AdjacencyIndex.build(spark, "adj_ref", corpusEdges, buckets = 8)
      try {
        val a = ops.AdjacencyIndex.edges(spark, "adj_app")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val b = ops.AdjacencyIndex.edges(spark, "adj_ref")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(a === b)
      } finally io.TableManifest.drop(spark, "adj_ref")
      // appended versions keep the bucketed layout (the plan property
      // holds after growth, not just at build)
      val deg = ops.AdjacencyIndex.degrees(spark, "adj_app")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        assert(deg.queryExecution.executedPlan.collect {
          case e: ShuffleExchangeExec => e
        }.isEmpty, "bucket layout lost on append")
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    } finally io.TableManifest.drop(spark, "adj_app")
  }

  test("streaming edge ingest: batches union into the adjacency; replay is a version no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val name = "adj_stream"
    val ckpt = java.nio.file.Files.createTempDirectory("adj_ckpt").toString
    val stream = MemoryStream[(Long, Long)]
    val q = ops.Streaming.sink(
      stream.toDF().toDF("src", "dst"), ckpt)(ops.Streaming.applyAdjacencyBatch(name))
    try {
      stream.addData(Seq(1L -> 2L, 2L -> 3L))
      q.processAllAvailable()
      stream.addData(Seq(3L -> 4L, 1L -> 2L)) // duplicate edge re-arrives
      q.processAllAvailable()
      def edgeSet = ops.AdjacencyIndex.edges(spark, name)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val expect = Set(1L -> 2L, 2L -> 1L, 2L -> 3L, 3L -> 2L, 3L -> 4L, 4L -> 3L)
      assert(edgeSet === expect)
      // post-commit replay: the pointer's appliedBatch marker makes
      // it a no-op (pointer static)
      val vBefore = io.TableManifest.readPointer(spark, name).get.version
      ops.Streaming.applyAdjacencyBatch(name)(
        Seq(3L -> 4L).toDF("src", "dst"), 1L)
      assert(io.TableManifest.readPointer(spark, name).get.version === vBefore,
        "replayed batch must not publish a new version")
      assert(edgeSet === expect)
      // probes serve the streamed graph: BFS from 1 reaches everything
      val hops = ops.AdjacencyIndex.bfsOver(spark, name,
        Seq(1L).toDF("node"), 4).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(hops === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    } finally {
      q.stop()
      io.TableManifest.drop(spark, name)
    }
  }

  test("crash before commit leaves the old version serving") {
    class InjectedCrash extends RuntimeException("injected crash")
    ops.AdjacencyIndex.build(spark, "adj_crash", corpusEdges.limit(100))
    try {
      val before = ops.AdjacencyIndex.edges(spark, "adj_crash").count()
      intercept[InjectedCrash] {
        ops.AdjacencyIndex.appendEdges(spark, "adj_crash", corpusEdges,
          beforeCommit = () => throw new InjectedCrash)
      }
      assert(ops.AdjacencyIndex.edges(spark, "adj_crash").count() === before,
        "uncommitted append must stay invisible")
      ops.AdjacencyIndex.appendEdges(spark, "adj_crash", corpusEdges)
      assert(ops.AdjacencyIndex.edges(spark, "adj_crash").count() > before)
    } finally io.TableManifest.drop(spark, "adj_crash")
  }

  test("modularityOver == the in-plan cells over the same edge set") {
    ops.AdjacencyIndex.build(spark, "adj_mod", corpusEdges)
    try {
      val got = ops.AdjacencyIndex.modularityOver(spark, "adj_mod")
        .collect().map(_.toSeq)
      val und = corpusEdges
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .filter(col("u") =!= col("v")).distinct().localCheckpoint()
      val ref = ops.Graph.modularityCells(und).collect().map(_.toSeq)
      assert(got.toSeq === ref.toSeq,
        "stored-graph cells must equal the in-plan form")
    } finally io.TableManifest.drop(spark, "adj_mod")
  }

  test("pagerankOver == the in-plan loop over the same stored relation") {
    ops.AdjacencyIndex.build(spark, "adj_pr", corpusEdges)
    try {
      val got = ops.AdjacencyIndex.pagerankOver(spark, "adj_pr")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      // independent reference: the same Pregel loop over the
      // normalized both-orientation relation built straight from the
      // raw edges (never reading the index)
      val e0 = corpusEdges
        .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
        .filter(col("src") =!= col("dst"))
      val both = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
        .distinct().localCheckpoint()
      val nodes = both.select(col("src").as("node")).distinct().localCheckpoint()
      val ref = ops.Graph.pagerankLoop(nodes, both, nodes.count())
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got === ref, "service pagerank must equal the in-plan loop")
    } finally io.TableManifest.drop(spark, "adj_pr")
  }
}
