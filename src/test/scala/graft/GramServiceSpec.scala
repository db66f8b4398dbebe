package graft

import org.apache.spark.sql.functions._

/** ops.GramService: persisted additive Gram partials — served cells
  * are ROW-IDENTICAL to the batch key (integer cells are additive
  * across any corpus split), appends compose like corpus
  * concatenation, the streaming ingest is exactly-once under crash
  * replay, and compaction preserves both cells and the replay high
  * water.
  */
class GramServiceSpec extends SparkSpec {

  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def emb = io.Readers.table(spark, dir, "embeddings")

  private def cells(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq

  test("served cells equal the batch key row-for-row; ledger totals exact") {
    ops.GramService.build(spark, "gsvc_a", emb)
    try {
      val viaKey = cells(ops.Embeddings.embedGramCells(spark, dir))
      val viaSvc = cells(ops.GramService.cellsOver(spark, "gsvc_a"))
      assert(viaSvc === viaKey)
      val (batches, nVecs, d) = ops.GramService.stats(spark, "gsvc_a")
      assert(batches === 1L && nVecs === emb.count() && d === 64)
    } finally io.TableManifest.drop(spark, "gsvc_a")
  }

  test("append composes like corpus concatenation; same-content manual appends stay distinct") {
    val half1 = emb.filter(col("vec_id") % 2 === 0)
    val half2 = emb.filter(col("vec_id") % 2 === 1)
    ops.GramService.build(spark, "gsvc_b", half1)
    try {
      ops.GramService.appendVecs(half2, "gsvc_b")
      val got = cells(ops.GramService.cellsOver(spark, "gsvc_b"))
      val want = cells(ops.Embeddings.embedGramCells(spark, dir))
      assert(got === want, "split-append == one corpus")
      // re-appending the SAME half must double-count it (additive)
      ops.GramService.appendVecs(half2, "gsvc_b")
      val doubled = cells(ops.GramService.cellsOver(spark, "gsvc_b"))
      val wantDoubled = cells(ops.Embeddings.gramCellsDeclarative(
        emb.unionByName(half2)))
      assert(doubled === wantDoubled, "re-append doubles, never dedups")
    } finally io.TableManifest.drop(spark, "gsvc_b")
  }

  test("crashed MANUAL append never shares its id with the next append (r12 ADVICE)") {
    // without the LedgerTable id reservation, a crashed manual append's
    // orphan pos cells would collide with the NEXT manual id and the
    // max() collapse would merge unrelated partials' cells
    val t0 = emb.filter(col("vec_id") % 3 === 0)
    val tCrash = emb.filter(col("vec_id") % 3 === 1)
    val tNext = emb.filter(col("vec_id") % 3 === 2)
    ops.GramService.build(spark, "gsvc_mc", t0)
    try {
      intercept[RuntimeException] {
        ops.GramService.appendVecs(tCrash, "gsvc_mc",
          afterPartialsAppend = () => throw new RuntimeException("boom"))
      }
      ops.GramService.appendVecs(tNext, "gsvc_mc")
      assert(cells(ops.GramService.cellsOver(spark, "gsvc_mc"))
        === cells(ops.Embeddings.gramCellsDeclarative(t0.unionByName(tNext))),
        "crashed partials must stay invisible and unmerged")
      ops.GramService.appendVecs(tCrash, "gsvc_mc")
      assert(cells(ops.GramService.cellsOver(spark, "gsvc_mc"))
        === cells(ops.Embeddings.gramCellsDeclarative(emb)), "retry completes")
    } finally io.TableManifest.drop(spark, "gsvc_mc")
  }

  test("crash between partials and ledger: replay converges exactly, orphan rows invisible") {
    val half1 = emb.filter(col("vec_id") % 2 === 0)
    val half2 = emb.filter(col("vec_id") % 2 === 1)
    ops.GramService.build(spark, "gsvc_c", half1)
    try {
      intercept[RuntimeException] {
        ops.GramService.appendBatch(half2, 0L, "gsvc_c",
          afterPartialsAppend = () => throw new RuntimeException("crash"))
      }
      val afterCrash = cells(ops.GramService.cellsOver(spark, "gsvc_c"))
      assert(afterCrash === cells(ops.Embeddings.gramCellsDeclarative(half1)),
        "uncommitted orphans must be invisible")
      assert(ops.GramService.appendBatch(half2, 0L, "gsvc_c"))
      val afterReplay = cells(ops.GramService.cellsOver(spark, "gsvc_c"))
      assert(afterReplay === cells(ops.Embeddings.embedGramCells(spark, dir)),
        "replayed batch counts exactly once")
      assert(!ops.GramService.appendBatch(half2, 0L, "gsvc_c"))
    } finally io.TableManifest.drop(spark, "gsvc_c")
  }

  test("compact preserves cells and the replay high water") {
    val half1 = emb.filter(col("vec_id") % 2 === 0)
    val half2 = emb.filter(col("vec_id") % 2 === 1)
    ops.GramService.build(spark, "gsvc_d", half1)
    try {
      assert(ops.GramService.appendBatch(half2, 3L, "gsvc_d"))
      val before = cells(ops.GramService.cellsOver(spark, "gsvc_d"))
      ops.GramService.compact(spark, "gsvc_d")
      val after = cells(ops.GramService.cellsOver(spark, "gsvc_d"))
      assert(after === before, "compaction is invisible to serving")
      val (batches, nVecs, d) = ops.GramService.stats(spark, "gsvc_d")
      assert(batches === 1L && nVecs === emb.count() && d === 64)
      assert(!ops.GramService.appendBatch(half2, 3L, "gsvc_d"),
        "post-compaction replay of a committed batch must be a no-op")
      assert(!ops.GramService.appendBatch(half2, 1L, "gsvc_d"),
        "ids under the high water are covered by monotonicity")
    } finally io.TableManifest.drop(spark, "gsvc_d")
  }

  test("streaming ingest: micro-batches fold exactly; post-commit replay is a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val name = "gsvc_e"
    val ckpt = java.nio.file.Files.createTempDirectory("gsvc_ckpt").toString
    def vec(seed: Int): Array[Float] =
      Array.tabulate(4)(i => ((seed * 31 + i * 7) % 13 - 6) / 10.0f)
    val b1 = Seq((1L, vec(1)), (2L, vec(2)))
    val b2 = Seq((3L, vec(3)), (4L, vec(4)))
    val stream = MemoryStream[(Long, Array[Float])]
    val q = ops.Streaming.sink(
      stream.toDF().toDF("vec_id", "embedding"), ckpt)(ops.Streaming.applyGramBatch(name))
    try {
      stream.addData(b1)
      q.processAllAvailable()
      stream.addData(b2)
      q.processAllAvailable()
      val all = (b1 ++ b2).toDF("vec_id", "embedding")
      val want = cells(ops.Embeddings.gramCellsDeclarative(all))
      assert(cells(ops.GramService.cellsOver(spark, name)) === want,
        "streamed state == one-shot fold")
      // post-commit replay (crash before the engine checkpoint advanced)
      ops.Streaming.applyGramBatch(name)(b2.toDF("vec_id", "embedding"), 1L)
      assert(cells(ops.GramService.cellsOver(spark, name)) === want,
        "replayed micro-batch must not re-count")
      val (_, nVecs, d) = ops.GramService.stats(spark, name)
      assert(nVecs === 4L && d === 4)
    } finally {
      q.stop()
      io.TableManifest.drop(spark, name)
    }
  }
}
