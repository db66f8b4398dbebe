package graft

import scala.jdk.CollectionConverters._

/** ops.IncrementalDedup: persisted MinHash band index, probed per
  * batch — match correctness, partition pruning, append growth,
  * compaction.
  */
class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  // every token carries the stem, so docs with different stems share NO
  // trigrams (cross-stem Jaccard 0) while same-stem docs with a changed
  // tail stay near-identical
  private def doc(extra: String, stem: String = "alpha"): String =
    (1 to 40).map(i => s"${stem}a$i ${stem}b$i ${stem}c$i").mkString(" ") +
      " " + extra

  test("partitioned probe prunes to the batch's partitions, appends and compacts") {
    val corpus = (1L to 120L).map(i => (i, doc("", stem = s"s$i")))
      .toDF("doc_id", "text")
    ops.IncrementalDedup.buildIndex(corpus, "idx_bp")
    try {
      val batch = Seq(
        (500L, doc("tail change only", stem = "s7")),   // near-dup of doc 7
        (501L, doc("", stem = "novel")))
        .toDF("doc_id", "text")
      val q = ops.IncrementalDedup.matchAgainstIndex(spark, batch, "idx_bp")
      val m = q.as[(Long, Long, Double)].collect().toSet
      assert(m.map(r => (r._1, r._2)) === Set((500L, 7L)))
      // the probe prunes the index scan to the batch's bp directories
      val plan = q.queryExecution.executedPlan.toString
      val pf = plan.linesIterator.filter(_.contains("PartitionFilters")).mkString
      assert(pf.contains("bp"), s"probe must prune on bp:\n${plan.take(1500)}")
      // append lands under the touched partitions; later probes see it
      ops.IncrementalDedup.appendToIndex(
        Seq((600L, doc("", stem = "fresh"))).toDF("doc_id", "text"), "idx_bp")
      val m2 = ops.IncrementalDedup.matchAgainstIndex(spark,
          Seq((700L, doc("tail changed", stem = "fresh"))).toDF("doc_id", "text"),
          "idx_bp")
        .as[(Long, Long, Double)].collect().map(r => (r._1, r._2)).toSet
      assert(m2 === Set((700L, 600L)), m2.toString)
      // compaction publishes a fresh version with identical reads
      ops.IncrementalDedup.compact(spark, "idx_bp")
      val m3 = ops.IncrementalDedup.matchAgainstIndex(spark,
          batch, "idx_bp").as[(Long, Long, Double)].collect().toSet
      assert(m3 === m, "compaction must not change probe results")
    } finally io.TableManifest.drop(spark, "idx_bp")
  }

  test("new batch matches its indexed near-dup, novel docs pass clean") {
    val corpus = Seq(
      (1L, doc("")), (2L, doc("", stem = "beta")), (3L, doc("", stem = "gamma")))
      .toDF("doc_id", "text")
    ops.IncrementalDedup.buildIndex(corpus, "idx_md")
    try {
      val batch = Seq(
        (10L, doc("tail change only")),                 // near-dup of doc 1
        (11L, (1 to 40).map(i => s"completely different subject line number $i").mkString(" ")))
        .toDF("doc_id", "text")
      val m = ops.IncrementalDedup.matchAgainstIndex(spark, batch, "idx_md")
        .as[(Long, Long, Double)].collect()
      assert(m.map(r => (r._1, r._2)).toSet === Set((10L, 1L)),
        s"only the planted near-dup may match, got ${m.toSeq}")
      assert(m.head._3 >= 0.5 && m.head._3 <= 1.0)
    } finally io.TableManifest.drop(spark, "idx_md")
  }

  test("append grows the index without rewriting; later batches match appended docs") {
    val corpus = Seq((1L, doc(""))).toDF("doc_id", "text")
    ops.IncrementalDedup.buildIndex(corpus, "idx_app")
    try {
      def files(): Set[String] = {
        val loc = spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(
            ops.IncrementalDedup.resolveTable(spark, "idx_app"))).location
        val d = java.nio.file.Paths.get(loc)
        val w = java.nio.file.Files.walk(d)
        try w.iterator().asScala.filter(_.toString.endsWith(".parquet"))
          .map(p => d.relativize(p).toString).toSet
        finally w.close()
      }
      val before = files()
      val batch1 = Seq((20L, doc("", stem = "delta"))).toDF("doc_id", "text")
      ops.IncrementalDedup.appendToIndex(batch1, "idx_app")
      assert(before.subsetOf(files()), "append must keep the original files")
      assert(files().size > before.size, "append must add files")
      // a near-dup of the APPENDED doc now matches it
      val batch2 = Seq((30L, doc("small tail", stem = "delta"))).toDF("doc_id", "text")
      val m = ops.IncrementalDedup.matchAgainstIndex(spark, batch2, "idx_app")
        .as[(Long, Long, Double)].collect()
      assert(m.map(r => (r._1, r._2)).toSet === Set((30L, 20L)), s"got ${m.toSeq}")
    } finally io.TableManifest.drop(spark, "idx_app")
  }
}
