package graft

import org.apache.spark.sql.functions._

/** ops.CentroidService: per-label first-moment partials — served
  * centroid cells and the composed affinity matrix are ROW-IDENTICAL
  * to the batch keys, appends compose like corpus concatenation, the
  * streaming ingest is exactly-once under crash replay, and
  * compaction preserves cells and the replay high water. Mirrors
  * GramServiceSpec (the unkeyed sibling) so a divergence between the
  * two services' contracts shows up as a spec asymmetry.
  */
class CentroidServiceSpec extends SparkSpec {

  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def emb = io.Readers.table(spark, dir, "embeddings")

  private def cells(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.get(0).toString, r.getLong(1), r.getLong(2), r.getLong(3))).toSeq

  private def aff(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.get(0).toString, r.get(1).toString, r.getLong(2),
      r.getLong(3), r.getString(4))).toSeq

  test("served centroid cells AND affinity equal the batch keys row-for-row") {
    ops.CentroidService.build(spark, "ctr_a", emb)
    try {
      assert(cells(ops.CentroidService.centroidOver(spark, "ctr_a"))
        === cells(ops.Embeddings.embedCentroidCells(spark, dir)))
      assert(aff(ops.CentroidService.affinityOver(spark, "ctr_a"))
        === aff(ops.Embeddings.embedLabelAffinity(spark, dir)))
      val (batches, nVecs, d) = ops.CentroidService.stats(spark, "ctr_a")
      assert(batches === 1L && nVecs === emb.count() && d === 64)
    } finally io.TableManifest.drop(spark, "ctr_a")
  }

  test("aggregator fold == declarative fold (the A/B control identity)") {
    assert(cells(ops.Embeddings.centroidCellsOf(emb))
      === cells(ops.Embeddings.centroidCellsDeclarative(emb)))
  }

  test("append composes like corpus concatenation; re-append double-counts") {
    val half1 = emb.filter(col("vec_id") % 2 === 0)
    val half2 = emb.filter(col("vec_id") % 2 === 1)
    ops.CentroidService.build(spark, "ctr_b", half1)
    try {
      ops.CentroidService.appendVecs(half2, "ctr_b")
      assert(cells(ops.CentroidService.centroidOver(spark, "ctr_b"))
        === cells(ops.Embeddings.embedCentroidCells(spark, dir)),
        "split-append == one corpus")
      ops.CentroidService.appendVecs(half2, "ctr_b")
      assert(cells(ops.CentroidService.centroidOver(spark, "ctr_b"))
        === cells(ops.Embeddings.centroidCellsOf(emb.unionByName(half2))),
        "re-append doubles, never dedups")
    } finally io.TableManifest.drop(spark, "ctr_b")
  }

  test("crashed MANUAL append never shares its id with the next append (r12 ADVICE)") {
    val t0 = emb.filter(col("vec_id") % 3 === 0)
    val tCrash = emb.filter(col("vec_id") % 3 === 1)
    val tNext = emb.filter(col("vec_id") % 3 === 2)
    ops.CentroidService.build(spark, "ctr_mc", t0)
    try {
      intercept[RuntimeException] {
        ops.CentroidService.appendVecs(tCrash, "ctr_mc",
          afterPartialsAppend = () => throw new RuntimeException("boom"))
      }
      ops.CentroidService.appendVecs(tNext, "ctr_mc")
      assert(cells(ops.CentroidService.centroidOver(spark, "ctr_mc"))
        === cells(ops.Embeddings.centroidCellsOf(t0.unionByName(tNext))),
        "crashed partials must stay invisible and unmerged")
      ops.CentroidService.appendVecs(tCrash, "ctr_mc")
      assert(cells(ops.CentroidService.centroidOver(spark, "ctr_mc"))
        === cells(ops.Embeddings.centroidCellsOf(emb)), "retry completes")
    } finally io.TableManifest.drop(spark, "ctr_mc")
  }

  test("crash between partials and ledger: replay converges exactly, orphans invisible") {
    val half1 = emb.filter(col("vec_id") % 2 === 0)
    val half2 = emb.filter(col("vec_id") % 2 === 1)
    ops.CentroidService.build(spark, "ctr_c", half1)
    try {
      intercept[RuntimeException] {
        ops.CentroidService.appendBatch(half2, 0L, "ctr_c",
          afterPartialsAppend = () => throw new RuntimeException("crash"))
      }
      assert(cells(ops.CentroidService.centroidOver(spark, "ctr_c"))
        === cells(ops.Embeddings.centroidCellsOf(half1)),
        "uncommitted orphans must be invisible")
      assert(ops.CentroidService.appendBatch(half2, 0L, "ctr_c"))
      assert(cells(ops.CentroidService.centroidOver(spark, "ctr_c"))
        === cells(ops.Embeddings.embedCentroidCells(spark, dir)),
        "replayed batch counts exactly once")
      assert(!ops.CentroidService.appendBatch(half2, 0L, "ctr_c"))
    } finally io.TableManifest.drop(spark, "ctr_c")
  }

  test("compact preserves cells, affinity, and the replay high water") {
    val half1 = emb.filter(col("vec_id") % 2 === 0)
    val half2 = emb.filter(col("vec_id") % 2 === 1)
    ops.CentroidService.build(spark, "ctr_d", half1)
    try {
      assert(ops.CentroidService.appendBatch(half2, 3L, "ctr_d"))
      val before = cells(ops.CentroidService.centroidOver(spark, "ctr_d"))
      val affBefore = aff(ops.CentroidService.affinityOver(spark, "ctr_d"))
      ops.CentroidService.compact(spark, "ctr_d")
      assert(cells(ops.CentroidService.centroidOver(spark, "ctr_d")) === before,
        "compaction is invisible to serving")
      assert(aff(ops.CentroidService.affinityOver(spark, "ctr_d")) === affBefore)
      val (batches, nVecs, _) = ops.CentroidService.stats(spark, "ctr_d")
      assert(batches === 1L && nVecs === emb.count())
      assert(!ops.CentroidService.appendBatch(half2, 3L, "ctr_d"),
        "post-compaction replay of a committed batch must be a no-op")
      assert(!ops.CentroidService.appendBatch(half2, 1L, "ctr_d"),
        "ids under the high water are covered by monotonicity")
    } finally io.TableManifest.drop(spark, "ctr_d")
  }

  test("streaming ingest: micro-batches fold exactly; post-commit replay is a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val name = "ctr_e"
    val ckpt = java.nio.file.Files.createTempDirectory("ctr_ckpt").toString
    def vec(seed: Int): Array[Float] =
      Array.tabulate(4)(i => ((seed * 31 + i * 7) % 13 - 6) / 10.0f)
    val b1 = Seq((1L, "a", vec(1)), (2L, "b", vec(2)))
    val b2 = Seq((3L, "a", vec(3)), (4L, "c", vec(4)))
    val stream = MemoryStream[(Long, String, Array[Float])]
    val q = ops.Streaming.sink(
      stream.toDF().toDF("vec_id", "label", "embedding"), ckpt)(ops.Streaming.applyCentroidBatch(name))
    try {
      stream.addData(b1)
      q.processAllAvailable()
      stream.addData(b2)
      q.processAllAvailable()
      val all = (b1 ++ b2).toDF("vec_id", "label", "embedding")
      val want = cells(ops.Embeddings.centroidCellsOf(all))
      assert(cells(ops.CentroidService.centroidOver(spark, name)) === want,
        "streamed state == one-shot fold")
      ops.Streaming.applyCentroidBatch(name)(
        b2.toDF("vec_id", "label", "embedding"), 1L)
      assert(cells(ops.CentroidService.centroidOver(spark, name)) === want,
        "replayed micro-batch must not re-count")
      val (_, nVecs, d) = ops.CentroidService.stats(spark, name)
      assert(nVecs === 4L && d === 4)
    } finally {
      q.stop()
      io.TableManifest.drop(spark, name)
    }
  }
}
