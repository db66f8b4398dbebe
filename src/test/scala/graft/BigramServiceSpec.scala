package graft

import org.apache.spark.sql.functions._

/** ops.BigramService: persisted bigram-type sets — idempotent by
  * construction (set union; the ledger is a rewrite-skip, NOT the
  * correctness mechanism — proven by deleting it), overlap-absorbing
  * manual appends (the documented opposite of VocabService's additive
  * contract), and a served KN relation row-identical to the
  * text_kn_continuation batch key when composed with a VocabService
  * over the same corpus.
  */
class BigramServiceSpec extends SparkSpec {

  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def docs = io.Readers.table(spark, dir, "documents")

  private def types(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .sortBy(identity).toSeq

  test("served KN relation equals the batch key row-for-row (bigrams + vocab composed)") {
    ops.BigramService.build(spark, "bsvc_a", docs)
    ops.VocabService.build(spark, "bsvc_a_vocab", docs)
    try {
      val key = ops.InfoTheory.textKnContinuation(spark, dir).collect().map(_.toSeq)
      val svc = ops.BigramService.knOver(spark, "bsvc_a", "bsvc_a_vocab")
        .collect().map(_.toSeq)
      assert(svc.toSeq === key.toSeq)
    } finally {
      io.TableManifest.drop(spark, "bsvc_a")
      io.TableManifest.drop(spark, "bsvc_a_vocab")
    }
  }

  test("append absorbs overlap: re-appending the same docs changes nothing served") {
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    ops.BigramService.build(spark, "bsvc_b", half1)
    try {
      ops.BigramService.appendDocs(half2, "bsvc_b")
      val want = types(ops.BigramService.pairTypes(docs))
      assert(types(ops.BigramService.typesOver(spark, "bsvc_b")) === want,
        "split-append == one corpus")
      // the OPPOSITE of VocabService.appendDocs: same-content re-append
      // is a no-op for every served statistic
      ops.BigramService.appendDocs(half2, "bsvc_b")
      assert(types(ops.BigramService.typesOver(spark, "bsvc_b")) === want,
        "overlap absorbed by the set semantics")
    } finally io.TableManifest.drop(spark, "bsvc_b")
  }

  test("the ledger is an optimization, not the correctness mechanism") {
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    ops.BigramService.build(spark, "bsvc_c", half1)
    try {
      assert(ops.BigramService.appendBatch(half2, 0L, "bsvc_c"))
      val want = types(ops.BigramService.typesOver(spark, "bsvc_c"))
      // a committed replay is skipped (the rewrite-skip)...
      assert(!ops.BigramService.appendBatch(half2, 0L, "bsvc_c"))
      // ...but even FORCING the replay through (ledger erased, so the
      // guard can't see the commit) leaves every served row identical —
      // idempotence does the work, not the ledger
      val t = ops.BigramService.resolveTable(spark, "bsvc_c")
      spark.sql(s"DROP TABLE ${t}_stats")
      ops.BigramService.build(spark, "bsvc_c_dummy", docs.limit(0)) // unrelated; keeps warehouse sane
      io.TableManifest.drop(spark, "bsvc_c_dummy")
      // recreate an empty ledger so appendBatch can read it
      Seq((-1L, 0L)).toDF("batch_id", "n_docs")
        .write.format("parquet").saveAsTable(s"${t}_stats")
      assert(ops.BigramService.appendBatch(half2, 0L, "bsvc_c"),
        "guard blinded: the batch re-appends")
      assert(types(ops.BigramService.typesOver(spark, "bsvc_c")) === want,
        "forced replay is invisible to serving")
    } finally io.TableManifest.drop(spark, "bsvc_c")
  }

  test("compact dedups growth; serving unchanged; high water survives") {
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    ops.BigramService.build(spark, "bsvc_d", half1)
    try {
      assert(ops.BigramService.appendBatch(half2, 5L, "bsvc_d"))
      ops.BigramService.appendDocs(half2, "bsvc_d") // overlap rows on disk
      val before = types(ops.BigramService.typesOver(spark, "bsvc_d"))
      ops.BigramService.compact(spark, "bsvc_d")
      val t = ops.BigramService.resolveTable(spark, "bsvc_d")
      assert(types(ops.BigramService.typesOver(spark, "bsvc_d")) === before)
      // physically deduped: stored rows == distinct rows
      assert(spark.table(t).count() === before.length.toLong)
      assert(!ops.BigramService.appendBatch(half2, 5L, "bsvc_d"),
        "high water survives compaction")
    } finally io.TableManifest.drop(spark, "bsvc_d")
  }

  test("streaming ingest folds pair types exactly; probe is exact") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val name = "bsvc_e"
    val ckpt = java.nio.file.Files.createTempDirectory("bsvc_ckpt").toString
    val stream = MemoryStream[(Long, String, String)]
    val q = ops.Streaming.sink(
      stream.toDF().toDF("doc_id", "lang", "text"), ckpt)(ops.Streaming.applyBigramBatch(name))
    try {
      stream.addData(Seq((1L, "en", "a b a"), (2L, "en", "b c")))
      q.processAllAvailable()
      stream.addData(Seq((3L, "en", "a b"), (4L, "fr", "a b")))
      q.processAllAvailable()
      val all = Seq((1L, "en", "a b a"), (2L, "en", "b c"),
        (3L, "en", "a b"), (4L, "fr", "a b"))
        .toDF("doc_id", "lang", "text")
      assert(types(ops.BigramService.typesOver(spark, name)) ===
        types(ops.BigramService.pairTypes(all)))
      // replay (post-commit crash) — skipped AND harmless
      ops.Streaming.applyBigramBatch(name)(
        Seq((3L, "en", "a b"), (4L, "fr", "a b")).toDF("doc_id", "lang", "text"), 1L)
      assert(types(ops.BigramService.typesOver(spark, name)) ===
        types(ops.BigramService.pairTypes(all)))
      // continuation probe: 'b' is continued by 'a' in en (a b), fr (a b)
      val probe = ops.BigramService.continuationCounts(spark, name, Seq("b"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      assert(probe === Seq(("en", "b", 1L), ("fr", "b", 1L)))
    } finally {
      q.stop()
      io.TableManifest.drop(spark, name)
    }
  }
}
