package graft

import org.apache.spark.sql.functions._

/** ops.ClusterMaintenance: incremental CC labels — equivalence to
  * from-scratch CC, merge relabeling, untouched-component stability,
  * and the full ProfileIndex ingestion loop.
  */
class ClusterMaintenanceSpec extends SparkSpec {
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def edgesDf(e: Seq[(Long, Long)]) = e.toDF("a_id", "b_id")

  private def ccSet(e: Seq[(Long, Long)]): Set[(Long, Long)] =
    ops.Llm.connectedComponents(edgesDf(e))
      .as[(Long, Long)].collect().toSet

  test("update equals from-scratch CC across randomized edge batches") {
    val rnd = new scala.util.Random(7)
    // 3 waves of random edges over a 200-node id space — plenty of
    // merges, chains, and untouched survivors between waves
    val waves = Seq.fill(3)(Seq.fill(60)(
      (rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter(p => p._1 != p._2))
    var labels = ops.Llm.connectedComponents(edgesDf(waves.head))
    var all = waves.head
    for (w <- waves.tail) {
      labels = ops.ClusterMaintenance.updateLabels(labels, edgesDf(w))
      all = all ++ w
      val got = labels.as[(Long, Long)].collect().toSet
      assert(got === ccSet(all))
    }
  }

  test("a bridging edge merges two components to the global min label") {
    val labels = ops.Llm.connectedComponents(
      edgesDf(Seq((1L, 2L), (2L, 3L), (10L, 11L), (50L, 51L))))
    val upd = ops.ClusterMaintenance.updateLabels(labels, edgesDf(Seq((3L, 10L))))
      .as[(Long, Long)].collect().toSet
    assert(upd === Set((1L, 1L), (2L, 1L), (3L, 1L), (10L, 1L), (11L, 1L),
      (50L, 50L), (51L, 50L)))
  }

  test("new nodes attach; untouched components keep identical labels") {
    val labels = ops.Llm.connectedComponents(
      edgesDf(Seq((5L, 6L), (100L, 101L))))
    val upd = ops.ClusterMaintenance.updateLabels(labels,
      edgesDf(Seq((6L, 7L), (8L, 9L)))) // extend comp 5; brand-new comp 8
      .as[(Long, Long)].collect().toSet
    assert(upd === Set((5L, 5L), (6L, 5L), (7L, 5L),
      (8L, 8L), (9L, 8L), (100L, 100L), (101L, 100L)))
  }

  test("ingest loop: three batches equal from-scratch clustering of the union corpus") {
    val u = ('a' to 'y').map(_.toString)
    def profDf(rows: Seq[(Long, Seq[String])]) =
      rows.toDF("c", "brands").select(col("c"), sort_array(col("brands")).as("brands"))
    val b1: Seq[(Long, Seq[String])] = Seq(
      1L -> u, 2L -> u.drop(1), 30L -> u.take(8))
    val b2: Seq[(Long, Seq[String])] = Seq(
      3L -> u,                          // joins {1,2}
      40L -> Seq("q"), 41L -> Seq("q")) // new identical pair
    val b3: Seq[(Long, Seq[String])] = Seq(
      42L -> Seq("q"),                  // joins {40,41}
      50L -> u.take(8))                 // joins 30 (identical)
    ops.ProfileIndex.buildIndex(profDf(b1), "pidx_cm")
    try {
      var labels = ops.Llm.connectedComponents(
        ops.Bipartite.deletionPairsCollapsed(profDf(b1), 19, 20, 1)
          .select("a_id", "b_id"))
      var corpus = b1
      for (b <- Seq(b2, b3)) {
        val blocks = new RddBlocks
        spark.sparkContext.addSparkListener(blocks)
        try {
          labels = ops.ClusterMaintenance.ingest(spark, labels, profDf(b),
            profDf(corpus), "pidx_cm", 19, 20)
          // the batch's own pins are freed once the labels materialized
          blocks.assertNoneLive(labels.queryExecution.analyzed.collect {
            case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
          }.toSet)
        } finally spark.sparkContext.removeSparkListener(blocks)
        corpus = corpus ++ b
        val scratch = ops.Llm.connectedComponents(
          ops.Bipartite.deletionPairsCollapsed(profDf(corpus), 19, 20, 1)
            .select("a_id", "b_id"))
          .as[(Long, Long)].collect().toSet
        assert(labels.as[(Long, Long)].collect().toSet === scratch,
          s"after batch of ${b.map(_._1)}")
      }
      assert(labels.as[(Long, Long)].collect().toSet ===
        Set((1L, 1L), (2L, 1L), (3L, 1L), (40L, 40L), (41L, 40L),
          (42L, 40L), (30L, 30L), (50L, 30L)))
    } finally io.TableManifest.drop(spark, "pidx_cm")
  }

  test("committed ingest: exactly-once labels under replay, crash-safe windows") {
    val u = ('a' to 'y').map(_.toString)
    def profDf(rows: Seq[(Long, Seq[String])]) =
      rows.toDF("c", "brands").select(col("c"), sort_array(col("brands")).as("brands"))
    def labelSet() = ops.ClusterMaintenance.loadLabels(spark, "clab_cm")
      .select("id", "comp").as[(Long, Long)].collect().toSet
    def indexFiles(): Int = {
      val loc = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(
          ops.ProfileIndex.resolveTable(spark, "cidx_cm"))).location
      new java.io.File(loc).listFiles().count(_.getName.endsWith(".parquet"))
    }
    val b0: Seq[(Long, Seq[String])] = Seq(1L -> u, 2L -> u.drop(1), 30L -> u.take(8))
    val b1: Seq[(Long, Seq[String])] = Seq(3L -> u, 40L -> Seq("q"), 41L -> Seq("q"))
    val b2: Seq[(Long, Seq[String])] = Seq(42L -> Seq("q"), 50L -> u.take(8))
    ops.ProfileIndex.buildIndex(profDf(b0), "cidx_cm")
    ops.ClusterMaintenance.bootstrapLabels(
      ops.Llm.connectedComponents(
        ops.Bipartite.deletionPairsCollapsed(profDf(b0), 19, 20, 1)
          .select("a_id", "b_id")), "clab_cm")
    try {
      // batch 0 applies once; replaying it is a committed no-op
      assert(ops.ClusterMaintenance.ingestCommitted(spark, 0L, profDf(b1),
        profDf(b0), "cidx_cm", "clab_cm"))
      val afterB0 = labelSet()
      assert(afterB0 === Set((1L, 1L), (2L, 1L), (3L, 1L), (40L, 40L), (41L, 40L)))
      val files = indexFiles()
      assert(!ops.ClusterMaintenance.ingestCommitted(spark, 0L, profDf(b1),
        profDf(b0), "cidx_cm", "clab_cm"), "replay must be skipped")
      assert(labelSet() === afterB0)
      assert(indexFiles() === files, "a skipped replay must not append")
      // batch 1 crashes AFTER the index append, BEFORE the pointer
      // commit — the worst window: labels must still read the old
      // version, and the re-run must converge to the right state
      // despite the index already holding the batch
      intercept[RuntimeException] {
        ops.ClusterMaintenance.ingestCommitted(spark, 1L, profDf(b2),
          profDf(b0 ++ b1), "cidx_cm", "clab_cm",
          beforeCommit = () => throw new RuntimeException("crash"))
      }
      assert(labelSet() === afterB0, "crashed batch must not be visible")
      assert(ops.ClusterMaintenance.ingestCommitted(spark, 1L, profDf(b2),
        profDf(b0 ++ b1), "cidx_cm", "clab_cm"), "replay of a crashed batch applies")
      assert(labelSet() === Set((1L, 1L), (2L, 1L), (3L, 1L),
        (40L, 40L), (41L, 40L), (42L, 40L), (30L, 30L), (50L, 30L)))
      // and the final state equals from-scratch clustering of everything
      val scratch = ops.Llm.connectedComponents(
        ops.Bipartite.deletionPairsCollapsed(profDf(b0 ++ b1 ++ b2), 19, 20, 1)
          .select("a_id", "b_id")).as[(Long, Long)].collect().toSet
      assert(labelSet() === scratch)
    } finally {
      io.TableManifest.drop(spark, "cidx_cm")
      io.TableManifest.drop(spark, "clab_cm")
    }
  }

  test("streaming sink: labels converge to from-scratch across MemoryStream batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val u = ('a' to 'y').map(_.toString)
    def profDf(rows: Seq[(Long, Seq[String])]) =
      rows.toDF("c", "brands").select(col("c"), sort_array(col("brands")).as("brands"))
    val b0: Seq[(Long, Seq[String])] = Seq(1L -> u, 30L -> u.take(8))
    ops.ProfileIndex.buildIndex(profDf(b0), "sidx_cm")
    ops.ClusterMaintenance.bootstrapLabels(
      ops.Llm.connectedComponents(
        ops.Bipartite.deletionPairsCollapsed(profDf(b0), 19, 20, 1)
          .select("a_id", "b_id")), "slab_cm")
    val dir = java.nio.file.Files.createTempDirectory("clsink").toString
    // the indexed-profile relation grows as batches commit; the spec
    // maintains it the way a real pipeline's profile store would
    @volatile var corpus = b0
    val stream = MemoryStream[(Long, Seq[String])]
    val blocks = new RddBlocks
    spark.sparkContext.addSparkListener(blocks)
    val q = ops.ClusterMaintenance.labelMaintenanceSink(
      stream.toDF().select(col("_1").as("c"), sort_array(col("_2")).as("brands")),
      s"$dir/ckpt", "sidx_cm", "slab_cm", s => profDf(corpus))
    try {
      val w1: Seq[(Long, Seq[String])] = Seq(2L -> u.drop(1), 40L -> Seq("q"))
      stream.addData(w1)
      q.processAllAvailable()
      corpus = corpus ++ w1
      val w2: Seq[(Long, Seq[String])] = Seq(3L -> u, 41L -> Seq("q"))
      stream.addData(w2)
      q.processAllAvailable()
      corpus = corpus ++ w2
      q.stop()
      // every batch's checkpoints are freed once its writes return
      blocks.assertNoneLive()
      val got = ops.ClusterMaintenance.loadLabels(spark, "slab_cm")
        .select("id", "comp").as[(Long, Long)].collect().toSet
      val scratch = ops.Llm.connectedComponents(
        ops.Bipartite.deletionPairsCollapsed(profDf(corpus), 19, 20, 1)
          .select("a_id", "b_id")).as[(Long, Long)].collect().toSet
      assert(got === scratch)
      assert(got === Set((1L, 1L), (2L, 1L), (3L, 1L), (40L, 40L), (41L, 40L)))
    } finally {
      q.stop()
      spark.sparkContext.removeSparkListener(blocks)
      io.TableManifest.drop(spark, "sidx_cm")
      io.TableManifest.drop(spark, "slab_cm")
    }
  }

  test("tri-store pipeline: snapshot, index, and labels stay mutually consistent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val u = ('a' to 'y').map(_.toString)
    def profDf(rows: Seq[(Long, Seq[String])]) =
      rows.toDF("c", "brands").select(col("c"), sort_array(col("brands")).as("brands"))
    val b0: Seq[(Long, Seq[String])] = Seq(1L -> u, 30L -> u.take(8))
    val dir = java.nio.file.Files.createTempDirectory("tristore").toString
    val snap = s"$dir/profiles"
    val blocks = new RddBlocks
    spark.sparkContext.addSparkListener(blocks)
    ops.ClusterMaintenance.bootstrap(profDf(b0), snap, "tidx_cm", "tlab_cm")
    val stream = MemoryStream[(Long, Seq[String])]
    val q = ops.ClusterMaintenance.profilePipeline(
      stream.toDF().select(col("_1").as("c"), sort_array(col("_2")).as("brands")),
      snap, s"$dir/ckpt", "tidx_cm", "tlab_cm")
    try {
      val w1: Seq[(Long, Seq[String])] = Seq(2L -> u.drop(1), 40L -> Seq("q"))
      val w2: Seq[(Long, Seq[String])] = Seq(3L -> u, 41L -> Seq("q"), 50L -> u.take(8))
      stream.addData(w1)
      q.processAllAvailable()
      stream.addData(w2)
      q.processAllAvailable()
      q.stop()
      // the bootstrap's and every batch's checkpoints are freed
      blocks.assertNoneLive()
      val corpus = b0 ++ w1 ++ w2
      // snapshot holds exactly the corpus
      val snapRows = io.Manifest.readSnapshot(spark, snap)
        .select(col("c"), concat_ws(",", col("brands")).as("p"))
        .as[(Long, String)].collect().toMap
      assert(snapRows === corpus.map { case (c, br) =>
        c -> br.sorted.mkString(",") }.toMap)
      // labels equal from-scratch clustering of the corpus
      val got = ops.ClusterMaintenance.loadLabels(spark, "tlab_cm")
        .select("id", "comp").as[(Long, Long)].collect().toSet
      val scratch = ops.Llm.connectedComponents(
        ops.Bipartite.deletionPairsCollapsed(profDf(corpus), 19, 20, 1)
          .select("a_id", "b_id")).as[(Long, Long)].collect().toSet
      assert(got === scratch)
      assert(got === Set((1L, 1L), (2L, 1L), (3L, 1L),
        (40L, 40L), (41L, 40L), (30L, 30L), (50L, 30L)))
      // index covers every profile: a fresh probe finds the expected partner
      val m = ops.ProfileIndex.probe(spark,
        profDf(Seq(900L -> u.take(8))), "tidx_cm", 19, 20)
        .select("new_id", "indexed_id").as[(Long, Long)].collect().toSet
      assert(m === Set((900L, 30L), (900L, 50L)))
    } finally {
      q.stop()
      spark.sparkContext.removeSparkListener(blocks)
      io.TableManifest.drop(spark, "tidx_cm")
      io.TableManifest.drop(spark, "tlab_cm")
    }
  }

  test("updateLabels is edge-source-agnostic: incremental DOCUMENT clusters over the MinHash index") {
    // the maintenance layer composed with IncrementalDedup instead of
    // ProfileIndex — same closure algebra, different similarity domain
    def doc(extra: String, stem: String): String =
      (1 to 40).map(i => s"${stem}a$i ${stem}b$i ${stem}c$i").mkString(" ") + " " + extra
    def pairsOf(batch: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      ops.IncrementalDedup.matchAgainstIndex(spark, batch, "midx_cm")
        .select(col("new_id").as("a_id"), col("indexed_id").as("b_id"))
    val b0 = Seq((1L, doc("", "alpha")), (2L, doc("tail", "alpha")),
      (30L, doc("", "beta"))).toDF("doc_id", "text")
    ops.IncrementalDedup.buildIndex(b0, "midx_cm")
    try {
      var labels = ops.Llm.connectedComponents(pairsOf(b0))
      val waves = Seq(
        Seq((3L, doc("other tail", "alpha"))),           // joins {1,2}
        Seq((31L, doc("small change", "beta")),          // joins {30}
          (50L, doc("", "gamma"))))                      // novel singleton
      var corpus = b0
      for (w <- waves) {
        val batch = w.toDF("doc_id", "text")
        labels = ops.ClusterMaintenance.updateLabels(labels, pairsOf(batch))
          .localCheckpoint()
        ops.IncrementalDedup.appendToIndex(batch, "midx_cm")
        corpus = corpus.unionByName(batch)
        val scratch = ops.Llm.connectedComponents(pairsOf(corpus))
          .as[(Long, Long)].collect().toSet
        assert(labels.as[(Long, Long)].collect().toSet === scratch)
      }
      assert(labels.as[(Long, Long)].collect().toSet ===
        Set((1L, 1L), (2L, 1L), (3L, 1L), (30L, 30L), (31L, 30L)))
    } finally io.TableManifest.drop(spark, "midx_cm")
  }

  test("crash matrix: a kill at every pipeline seam recovers to tri-store consistency") {
    val u = ('a' to 'y').map(_.toString)
    def profDf(rows: Seq[(Long, Seq[String])]) =
      rows.toDF("c", "brands").select(col("c"), sort_array(col("brands")).as("brands"))
    val b0: Seq[(Long, Seq[String])] = Seq(1L -> u, 30L -> u.take(8))
    // one batch per seam, each extending the cluster structure so a
    // lost batch would be visible in the label comparison
    val waves: Seq[(String, Seq[(Long, Seq[String])])] = Seq(
      "upsert-commit" -> Seq(2L -> u.drop(1)),
      "between" -> Seq(40L -> Seq("q"), 41L -> Seq("q")),
      "ingest-commit" -> Seq(3L -> u, 50L -> u.take(8)))
    val dir = java.nio.file.Files.createTempDirectory("crashmatrix").toString
    val snap = s"$dir/profiles"
    ops.ClusterMaintenance.bootstrap(profDf(b0), snap, "xidx_cm", "xlab_cm")
    try {
      var corpus = b0
      waves.zipWithIndex.foreach { case ((seam, w), i) =>
        val bid = i.toLong
        // first attempt dies at this wave's seam …
        intercept[RuntimeException] {
          ops.ClusterMaintenance.pipelineBatch(bid, profDf(w), snap,
            "xidx_cm", "xlab_cm",
            crashAt = at => if (at == seam) throw new RuntimeException(s"kill@$at"))
        }
        // … the replay (same batchId, no injection) must converge
        ops.ClusterMaintenance.pipelineBatch(bid, profDf(w), snap,
          "xidx_cm", "xlab_cm")
        corpus = corpus ++ w
        val got = ops.ClusterMaintenance.loadLabels(spark, "xlab_cm")
          .select("id", "comp").as[(Long, Long)].collect().toSet
        val scratch = ops.Llm.connectedComponents(
          ops.Bipartite.deletionPairsCollapsed(profDf(corpus), 19, 20, 1)
            .select("a_id", "b_id")).as[(Long, Long)].collect().toSet
        assert(got === scratch, s"labels diverged after crash at '$seam'")
        val snapRows = io.Manifest.readSnapshot(spark, snap)
          .select("c").as[Long].collect().toSet
        assert(snapRows === corpus.map(_._1).toSet,
          s"snapshot diverged after crash at '$seam'")
      }
      // the index, having survived three crash-replays (one of them
      // post-append), still probes correctly — and compactDedup
      // reclaims whatever the replays duplicated without changing it
      def probe() = ops.ProfileIndex.probe(spark,
        profDf(Seq(900L -> u.take(8))), "xidx_cm", 19, 20)
        .select("new_id", "indexed_id").as[(Long, Long)].collect().toSet
      assert(probe() === Set((900L, 30L), (900L, 50L)))
      ops.ProfileIndex.compactDedup(spark, "xidx_cm")
      assert(probe() === Set((900L, 30L), (900L, 50L)))
    } finally {
      io.TableManifest.drop(spark, "xidx_cm")
      io.TableManifest.drop(spark, "xlab_cm")
    }
  }
}
