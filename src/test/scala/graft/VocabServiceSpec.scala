package graft

import org.apache.spark.sql.functions._

/** ops.VocabService: persisted additive vocabulary partials — served
  * curves are ROW-IDENTICAL to the batch keys (exact merge, not
  * sketch-approximate), appends compose like corpus concatenation,
  * the streaming ingest is exactly-once under crash replay (the
  * deterministic-partial collapse + sidecar ledger), and compaction
  * preserves both counts and the replay high water.
  */
class VocabServiceSpec extends SparkSpec {

  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def docs = io.Readers.table(spark, dir, "documents")

  private def counts(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq

  test("served coverage and zipf equal the batch keys row-for-row") {
    ops.VocabService.build(spark, "vsvc_a", docs)
    try {
      val covKey = ops.InfoTheory.textVocabCoverage(spark, dir).collect().map(_.toSeq)
      val covSvc = ops.VocabService.coverageOver(spark, "vsvc_a").collect().map(_.toSeq)
      assert(covSvc.toSeq === covKey.toSeq, "coverage via service")
      val zipfKey = ops.InfoTheory.textZipfSlope(spark, dir).collect().map(_.toSeq)
      val zipfSvc = ops.VocabService.zipfOver(spark, "vsvc_a").collect().map(_.toSeq)
      assert(zipfSvc.toSeq === zipfKey.toSeq, "zipf via service")
      // ledger totals: docs and token instances
      val (batches, nDocs, nToks) = ops.VocabService.stats(spark, "vsvc_a")
      assert(batches === 1L)
      assert(nDocs === docs.count())
      val directToks = ops.InfoTheory.vocabCounts(docs)
        .agg(sum(col("cnt"))).head().getLong(0)
      assert(nToks === directToks)
    } finally io.TableManifest.drop(spark, "vsvc_a")
  }

  test("append composes like corpus concatenation; same-content manual appends stay distinct") {
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    ops.VocabService.build(spark, "vsvc_b", half1)
    try {
      ops.VocabService.appendDocs(half2, "vsvc_b")
      val got = counts(ops.VocabService.countsOver(spark, "vsvc_b"))
      val want = counts(ops.InfoTheory.vocabCounts(docs))
      assert(got === want, "split-append == one corpus")
      // appending the SAME half again must double its counts (distinct
      // manual batch ids — the max() collapse must not eat real re-appends)
      ops.VocabService.appendDocs(half2, "vsvc_b")
      val doubled = counts(ops.VocabService.countsOver(spark, "vsvc_b"))
      val wantDoubled = counts(ops.InfoTheory.vocabCounts(docs.unionByName(half2)))
      assert(doubled === wantDoubled, "re-append doubles, never dedups")
    } finally io.TableManifest.drop(spark, "vsvc_b")
  }

  test("crashed MANUAL append never shares its id with the next append (r12 ADVICE)") {
    // the corruption scenario the reservation sidecar closes: append A
    // crashes after partials, append B (DIFFERENT docs) runs next —
    // without the durable reservation B would recompute A's id and the
    // max-collapse would merge the two unrelated partials
    val half1 = docs.filter(col("doc_id") % 3 === 0)
    val crashDocs = docs.filter(col("doc_id") % 3 === 1)
    val nextDocs = docs.filter(col("doc_id") % 3 === 2)
    ops.VocabService.build(spark, "vsvc_mc", half1)
    val blocks = new RddBlocks
    spark.sparkContext.addSparkListener(blocks)
    try {
      intercept[RuntimeException] {
        ops.VocabService.appendDocs(crashDocs, "vsvc_mc",
          afterPartialsAppend = () => throw new RuntimeException("boom"))
      }
      // the crashed append's pin is freed at the throw, not left to GC
      blocks.assertNoneLive()
      ops.VocabService.appendDocs(nextDocs, "vsvc_mc")
      val got = counts(ops.VocabService.countsOver(spark, "vsvc_mc"))
      val want = counts(ops.InfoTheory.vocabCounts(half1.unionByName(nextDocs)))
      assert(got === want, "crashed partials must stay invisible and unmerged")
      // the crashed append retried lands under a FRESH id and completes
      ops.VocabService.appendDocs(crashDocs, "vsvc_mc")
      val all = counts(ops.VocabService.countsOver(spark, "vsvc_mc"))
      assert(all === counts(ops.InfoTheory.vocabCounts(docs)), "retry completes")
      blocks.assertNoneLive()
    } finally {
      spark.sparkContext.removeSparkListener(blocks)
      io.TableManifest.drop(spark, "vsvc_mc")
    }
  }

  test("crash between partials and ledger: replay converges exactly, orphan rows invisible") {
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    ops.VocabService.build(spark, "vsvc_c", half1)
    try {
      intercept[RuntimeException] {
        ops.VocabService.appendBatch(half2, 0L, "vsvc_c",
          afterPartialsAppend = () => throw new RuntimeException("crash"))
      }
      // orphan partial rows are on disk but the batch never committed:
      // serving must see ONLY the built half
      val afterCrash = counts(ops.VocabService.countsOver(spark, "vsvc_c"))
      assert(afterCrash === counts(ops.InfoTheory.vocabCounts(half1)),
        "uncommitted orphans must be invisible")
      // restart replays the batch: duplicates collapse deterministically
      assert(ops.VocabService.appendBatch(half2, 0L, "vsvc_c"))
      val afterReplay = counts(ops.VocabService.countsOver(spark, "vsvc_c"))
      assert(afterReplay === counts(ops.InfoTheory.vocabCounts(docs)),
        "replayed batch counts exactly once")
      // a second replay is a guard no-op
      assert(!ops.VocabService.appendBatch(half2, 0L, "vsvc_c"))
    } finally io.TableManifest.drop(spark, "vsvc_c")
  }

  test("compact preserves counts and the replay high water") {
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    ops.VocabService.build(spark, "vsvc_d", half1)
    try {
      assert(ops.VocabService.appendBatch(half2, 3L, "vsvc_d"))
      val before = counts(ops.VocabService.countsOver(spark, "vsvc_d"))
      val statsBefore = ops.VocabService.stats(spark, "vsvc_d")
      ops.VocabService.compact(spark, "vsvc_d")
      val after = counts(ops.VocabService.countsOver(spark, "vsvc_d"))
      assert(after === before, "compaction is invisible to serving")
      val (batches, nDocs, nToks) = ops.VocabService.stats(spark, "vsvc_d")
      assert(batches === 1L, "ledger collapses to one row")
      assert((nDocs, nToks) === (statsBefore._2, statsBefore._3))
      // the r12 PostingIndex discipline: committed ids survive compaction
      assert(!ops.VocabService.appendBatch(half2, 3L, "vsvc_d"),
        "post-compaction replay of a committed batch must be a no-op")
      assert(!ops.VocabService.appendBatch(half2, 1L, "vsvc_d"),
        "ids under the high water are covered by monotonicity")
    } finally io.TableManifest.drop(spark, "vsvc_d")
  }

  test("streaming ingest: micro-batches fold exactly; post-commit replay is a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val name = "vsvc_e"
    val ckpt = java.nio.file.Files.createTempDirectory("vsvc_ckpt").toString
    val stream = MemoryStream[(Long, String, String)]
    val q = ops.Streaming.sink(
      stream.toDF().toDF("doc_id", "lang", "text"), ckpt)(ops.Streaming.applyVocabBatch(name))
    try {
      stream.addData(Seq((1L, "en", "spark joins data"), (2L, "en", "data data")))
      q.processAllAvailable()
      stream.addData(Seq((3L, "fr", "data spark"), (4L, "en", "spark")))
      q.processAllAvailable()
      val all = Seq((1L, "en", "spark joins data"), (2L, "en", "data data"),
        (3L, "fr", "data spark"), (4L, "en", "spark"))
        .toDF("doc_id", "lang", "text")
      val want = counts(ops.InfoTheory.vocabCounts(all))
      assert(counts(ops.VocabService.countsOver(spark, name)) === want,
        "streamed state == one-shot tokenization")
      // post-commit replay (crash before the engine checkpoint advanced)
      ops.Streaming.applyVocabBatch(name)(
        Seq((3L, "fr", "data spark"), (4L, "en", "spark"))
          .toDF("doc_id", "lang", "text"), 1L)
      assert(counts(ops.VocabService.countsOver(spark, name)) === want,
        "replayed micro-batch must not re-count")
      // served curve from the streamed table equals the batch pipeline
      val covSvc = ops.VocabService.coverageOver(spark, name).collect().map(_.toSeq)
      val covDirect = ops.InfoTheory.coverageFromCounts(
        ops.InfoTheory.vocabCounts(all)).orderBy("lang", "k")
        .collect().map(_.toSeq)
      assert(covSvc.toSeq === covDirect.toSeq)
    } finally {
      q.stop()
      io.TableManifest.drop(spark, name)
    }
  }

  test("term probe is bucket-pruned; counts exact") {
    ops.VocabService.build(spark, "vsvc_f", docs, buckets = 8)
    try {
      val probe = ops.VocabService.termCounts(spark, "vsvc_f", Seq("data"))
      val p = probe.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of 8".r
        .findFirstMatchIn(p).map(_.group(1).toInt)
      assert(sel.exists(_ <= 1), s"probe must prune buckets: $sel\n${p.take(1500)}")
      val got = counts(probe)
      val want = counts(ops.InfoTheory.vocabCounts(docs)
        .filter(col("tok") === "data"))
      assert(got === want)
    } finally io.TableManifest.drop(spark, "vsvc_f")
  }
}
