package graft

import org.apache.spark.sql.functions._

/** ops.SubstringIndex: persisted positional-gram index — exact span
  * recovery, shuffle-free index side, append growth.
  */
class SubstringIndexSpec extends SparkSpec {
  import spark.implicits._

  // deterministic word soup with a controllable shared span
  private def words(tag: String, n: Int): Seq[String] =
    (1 to n).map(i => s"$tag$i")

  test("probe recovers the exact planted span against the index") {
    // indexed doc: 30 unique words with a 10-word shared block at pos 12
    val shared = words("shared", 10)
    val idxDoc = (words("idxa", 12) ++ shared ++ words("idxb", 8)).mkString(" ")
    val newDoc = (words("newa", 5) ++ shared ++ words("newb", 15)).mkString(" ")
    val corpus = Seq((1L, "en", idxDoc), (2L, "en", words("other", 25).mkString(" ")))
      .toDF("doc_id", "lang", "text")
    ops.SubstringIndex.buildIndex(corpus, "ssi_basic")
    try {
      val batch = Seq((10L, "en", newDoc)).toDF("doc_id", "lang", "text")
      val out = ops.SubstringIndex.probeSpans(spark, batch, "ssi_basic").collect()
      assert(out.length == 1, s"exactly the planted span, got ${out.toSeq}")
      val r = out.head
      assert(r.getLong(0) == 10L && r.getLong(1) == 1L)
      assert(r.getInt(2) == 5 && r.getInt(3) == 12, s"span starts: $r")
      assert(r.getLong(4) == 10L, s"span length: $r")
      // lang blocking: same text under a different lang must NOT match
      val zh = Seq((11L, "zh", newDoc)).toDF("doc_id", "lang", "text")
      assert(ops.SubstringIndex.probeSpans(spark, zh, "ssi_basic").count() == 0)
    } finally io.TableManifest.drop(spark, "ssi_basic")
  }

  test("probe agrees with the batch operator on the real corpus") {
    val dir = "/root/testdata/sf0.001"
    val docs = io.Readers.table(spark, dir, "documents")
      .select("doc_id", "lang", "text")
    // index the even docs, probe the odd docs: every batch-operator
    // span between an odd and an even doc must be recovered
    ops.SubstringIndex.buildIndex(docs.filter(col("doc_id") % 2 === 0), "ssi_corpus")
    try {
      val probes = docs.filter(col("doc_id") % 2 === 1)
      val got = ops.SubstringIndex.probeSpans(spark, probes, "ssi_corpus").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4)))
        .toSet
      val batch = ops.Curation2.dedupSubstringSpan(spark, dir).collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getInt(3), r.getInt(4), r.getLong(5)))
      val expect = batch.flatMap { case (a, b, aStart, bStart, span) =>
        // batch emits a<b; the probe emits (odd probe, even indexed)
        if (a % 2 == 1 && b % 2 == 0) Some((a, b, aStart, bStart, span))
        else if (b % 2 == 1 && a % 2 == 0) Some((b, a, bStart, aStart, span))
        else None
      }.toSet
      assert(got == expect, s"probe vs batch mismatch: " +
        s"only-probe=${got.diff(expect).take(3)} only-batch=${expect.diff(got).take(3)}")
    } finally io.TableManifest.drop(spark, "ssi_corpus")
  }

  test("compactBucketed collapses ssi append growth, contents and probes intact") {
    val corpus = (1L to 40L).map(i =>
      (i, "en", words(s"k$i-", 15).mkString(" "))).toDF("doc_id", "lang", "text")
    ops.SubstringIndex.buildIndex(corpus, "ssi_cmp")
    try {
      for (i <- 0 until 3)
        ops.SubstringIndex.appendToIndex(
          Seq((100L + i, "en", words(s"a$i-", 15).mkString(" ")))
            .toDF("doc_id", "lang", "text"), "ssi_cmp")
      def current() = spark.table(
        ops.SubstringIndex.resolveTable(spark, "ssi_cmp"))
      val before = current().orderBy("gh", "doc_id", "pos").collect().toSeq
      ops.SubstringIndex.compact(spark, "ssi_cmp")
      val after = current().orderBy("gh", "doc_id", "pos").collect().toSeq
      assert(after === before, "compaction must not change the index contents")
      val meta = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(
          ops.SubstringIndex.resolveTable(spark, "ssi_cmp")))
      assert(meta.bucketSpec.exists(b =>
        b.numBuckets == 8 && b.bucketColumnNames == Seq("gh")))
      val dataFiles = new java.io.File(meta.location)
        .listFiles().filter(_.getName.endsWith(".parquet"))
      assert(dataFiles.length <= 8,
        s"at most one file per bucket after compaction, got ${dataFiles.length}")
      // probing an appended doc still works post-compaction, and the
      // bucketed-scan join property survives the rewrite
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val probe = ops.SubstringIndex.probeSpans(spark,
          Seq((900L, "en", words("a1-", 15).mkString(" "))).toDF("doc_id", "lang", "text"),
          "ssi_cmp")
        assert(probe.collect().exists(_.getLong(1) == 101L))
        val plan = probe.queryExecution.executedPlan.toString
        assert(plan.contains("Bucketed: true"), s"compacted index must stay bucketed:\n$plan")
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    } finally io.TableManifest.drop(spark, "ssi_cmp")
  }

  test("index side joins without a shuffle; append grows without rewriting") {
    val corpus = (1L to 200L).map(i =>
      (i, "en", words(s"c$i-", 20).mkString(" "))).toDF("doc_id", "lang", "text")
    ops.SubstringIndex.buildIndex(corpus, "ssi_plan")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val batch = Seq((900L, "en", words("c7-", 20).mkString(" ")))
        .toDF("doc_id", "lang", "text")
      val q = ops.SubstringIndex.probeSpans(spark, batch, "ssi_plan")
      q.collect()
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), s"index scan must be bucketed:\n$plan")
      val finalPlan = plan.split("== Initial Plan ==").head
      // index side (gh) must NOT exchange — it joins as the buckets
      // lie on disk; the probe side (n_gh) exchanges into the bucket
      // layout exactly once
      val idxExchanges = "Exchange hashpartitioning\\(gh".r.findAllIn(finalPlan).length
      val probeExchanges = "Exchange hashpartitioning\\(n_gh".r.findAllIn(finalPlan).length
      assert(idxExchanges == 0,
        s"index side must join without an exchange, got $idxExchanges:\n$plan")
      assert(probeExchanges == 1,
        s"probe side exchanges into the bucket layout once, got $probeExchanges:\n$plan")
      // append: original files untouched, new batch probeable
      def files(): Set[String] = new java.io.File(
        spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(
            ops.SubstringIndex.resolveTable(spark, "ssi_plan"))).location)
        .listFiles().filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
      val before = files()
      ops.SubstringIndex.appendToIndex(
        Seq((300L, "en", words("novel", 20).mkString(" "))).toDF("doc_id", "lang", "text"),
        "ssi_plan")
      assert(before.subsetOf(files()) && files().size > before.size)
      val probeNew = ops.SubstringIndex.probeSpans(spark,
        Seq((901L, "en", words("novel", 20).mkString(" "))).toDF("doc_id", "lang", "text"),
        "ssi_plan")
      assert(probeNew.collect().exists(_.getLong(1) == 300L),
        "appended doc must be probeable")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      io.TableManifest.drop(spark, "ssi_plan")
    }
  }
}
