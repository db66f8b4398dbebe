package graft

import org.apache.spark.sql.functions._

/** io.TableManifest: crash-atomic compaction for the persisted
  * indexes (r7 verdict "Next round" #1). A compaction killed on
  * EITHER side of the pointer rename must leave probes serving a
  * complete snapshot — the old one before the commit, the new one
  * after — and the retention window must keep the superseded version
  * alive one cycle for in-flight readers.
  */
class IndexManifestSpec extends SparkSpec {
  import spark.implicits._

  private class InjectedCrash extends RuntimeException("injected crash")

  private def doc(extra: String, stem: String): String =
    (1 to 40).map(i => s"${stem}a$i ${stem}b$i ${stem}c$i").mkString(" ") +
      " " + extra

  test("compaction crash BEFORE the pointer rename: probes keep serving the old snapshot byte-identically") {
    val corpus = (1L to 30L).map(i => (i, doc(s"v$i", s"s$i"))).toDF("doc_id", "text")
    ops.IncrementalDedup.buildIndex(corpus, "mf_pre")
    try {
      for (i <- 0 until 2)
        ops.IncrementalDedup.appendToIndex(
          Seq((100L + i, doc(s"n$i", s"ns$i"))).toDF("doc_id", "text"), "mf_pre")
      val batch = Seq((900L, doc("v7", "s7"))).toDF("doc_id", "text")
      def probe() = ops.IncrementalDedup.matchAgainstIndex(spark, batch, "mf_pre")
        .as[(Long, Long, Double)].collect().toSeq
      val resolvedBefore = ops.IncrementalDedup.resolveTable(spark, "mf_pre")
      def contents() = spark.table(ops.IncrementalDedup.resolveTable(spark, "mf_pre"))
        .orderBy("bk", "doc_id").collect().toSeq
      val baselineProbe = probe()
      val baselineRows = contents()
      assert(baselineProbe.nonEmpty, "fixture must produce a match")
      // kill the compaction AFTER the new version table is fully
      // staged, BEFORE the pointer rename — the uncommitted window
      intercept[InjectedCrash] {
        ops.IncrementalDedup.compact(spark, "mf_pre",
          beforeCommit = () => throw new InjectedCrash)
      }
      assert(ops.IncrementalDedup.resolveTable(spark, "mf_pre") === resolvedBefore,
        "an uncommitted compaction must leave the pointer on the old version")
      assert(contents() === baselineRows,
        "old snapshot must be intact after the crashed compaction")
      assert(probe() === baselineProbe,
        "probes racing a crashed compaction must serve the old snapshot unchanged")
      // recovery: a clean compaction re-stages over the leftover and
      // lands; results unchanged
      ops.IncrementalDedup.compact(spark, "mf_pre")
      assert(ops.IncrementalDedup.resolveTable(spark, "mf_pre") !== resolvedBefore)
      assert(probe() === baselineProbe, "compaction must not change probe results")
      assert(contents() === baselineRows)
    } finally io.TableManifest.drop(spark, "mf_pre")
  }

  test("compaction crash AFTER the commit: new version live, old version retained one cycle, then vacuumed") {
    val corpus = (1L to 20L).map(i => (i, doc(s"v$i", s"s$i"))).toDF("doc_id", "text")
    ops.IncrementalDedup.buildIndex(corpus, "mf_post")
    try {
      val v0 = ops.IncrementalDedup.resolveTable(spark, "mf_post")
      val rows0 = spark.table(v0).orderBy("bk", "doc_id").collect().toSeq
      intercept[InjectedCrash] {
        ops.IncrementalDedup.compact(spark, "mf_post",
          afterCommit = () => throw new InjectedCrash)
      }
      // the commit happened — the new version is live...
      val v1 = ops.IncrementalDedup.resolveTable(spark, "mf_post")
      assert(v1 !== v0, "post-rename state must be visible")
      assert(spark.table(v1).orderBy("bk", "doc_id").collect().toSeq === rows0)
      // ...and the SUPERSEDED version survives (retention window for a
      // reader that resolved the pointer just before the commit)
      assert(spark.catalog.tableExists(v0),
        "retain=1 must keep the previous version one cycle")
      // the next cycle ages it out
      ops.IncrementalDedup.compact(spark, "mf_post")
      assert(!spark.catalog.tableExists(v0),
        "two-generations-stale versions must be vacuumed")
      assert(spark.catalog.tableExists(v1), "previous version stays")
    } finally io.TableManifest.drop(spark, "mf_post")
  }

  test("IVF compaction carries the centroid sidecar; crash before commit leaves probes on the old version") {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 4).flatMap { c =>
      val base = Array.tabulate(16)(i => math.sin((i + 1) * (c + 1) * 0.9))
      (0 until 10).map(j => ((c * 10 + j).toLong, base.map(x => x + rnd.nextGaussian() * 0.05)))
    }
    ops.IvfIndex.buildIndex(spark, rows.toDF("vec_id", "v"), "mf_ivf", nlist = 4)
    try {
      val v0vec = rows.head._2
      for (i <- 0 until 2)
        ops.IvfIndex.appendToIndex(spark,
          Seq((3000L + i, v0vec.map(_ * (1.0 + 0.01 * (i + 1))))).toDF("vec_id", "v"), "mf_ivf")
      def probe() = ops.IvfIndex.probe(spark,
          Seq((0L, v0vec)).toDF("p_id", "pv"), "mf_ivf", nprobe = 2, k = 5)
        .collect().toSeq
      val baseline = probe()
      val resolvedBefore = ops.IvfIndex.resolveTable(spark, "mf_ivf")
      intercept[InjectedCrash] {
        ops.IvfIndex.compact(spark, "mf_ivf",
          beforeCommit = () => throw new InjectedCrash)
      }
      assert(ops.IvfIndex.resolveTable(spark, "mf_ivf") === resolvedBefore)
      assert(probe() === baseline,
        "probes racing a crashed IVF compaction must serve the old snapshot")
      ops.IvfIndex.compact(spark, "mf_ivf")
      val resolvedAfter = ops.IvfIndex.resolveTable(spark, "mf_ivf")
      assert(resolvedAfter !== resolvedBefore)
      // the new version is self-contained: sidecar travelled with it
      assert(spark.catalog.tableExists(resolvedAfter + "_centroids"),
        "compaction must carry the quantizer sidecar into the new version")
      assert(probe() === baseline, "compaction must not change probe results")
    } finally io.TableManifest.drop(spark, "mf_ivf")
  }

  test("schema-version mismatch fails fast instead of silently mis-joining") {
    val corpus = Seq((1L, "en", (1 to 15).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "lang", "text")
    ops.SubstringIndex.buildIndex(corpus, "mf_schema")
    try {
      // simulate an index persisted by an OLDER build: rewrite the
      // pointer with a stale schema version (the data itself is
      // irrelevant — resolve must refuse before touching it)
      val p = io.TableManifest.readPointer(spark, "mf_schema").get
      io.TableManifest.commit(spark, "mf_schema", p.version, schemaVersion = 1)
      val e = intercept[IllegalStateException] {
        ops.SubstringIndex.resolveTable(spark, "mf_schema")
      }
      assert(e.getMessage.contains("schema v1") &&
        e.getMessage.contains(s"v${ops.SubstringIndex.SchemaVersion}"),
        s"mismatch message must name both versions: ${e.getMessage}")
      // and an unbuilt index fails with a build hint, not a catalog error
      val e2 = intercept[IllegalStateException] {
        ops.SubstringIndex.resolveTable(spark, "mf_never_built")
      }
      assert(e2.getMessage.contains("buildIndex"))
    } finally io.TableManifest.drop(spark, "mf_schema")

    // incremental curation over band and hash indexes persisted at
    // schema v1 (the bucketed layout of an older build): curateBatch
    // must refuse before it reads or appends anything
    val seed = Seq((1L, "en", (Seq("the", "of") ++ (1 to 18).map(i => s"wsvx$i")).mkString(" ")))
      .toDF("doc_id", "lang", "text")
    val (band, hash) = ("mf_v1_band", "mf_v1_hash")
    val (bandT, hashT) = (io.TableManifest.physicalName(band, 0),
      io.TableManifest.physicalName(hash, 0))
    try {
      io.Sinks.writeBucketed(ops.IncrementalDedup.bandRows(seed)
        .select("bk", "doc_id", "sig"), bandT, "bk", 8)
      io.Sinks.writeBucketed(seed.select(
        sha2(lower(regexp_replace(trim(col("text")), "\\s+", " ")), 256).as("text_hash"),
        col("doc_id").as("keep_id")), hashT, "text_hash", 8)
      io.TableManifest.commit(spark, band, 0, schemaVersion = 1)
      io.TableManifest.commit(spark, hash, 0, schemaVersion = 1)
      val rows = Seq(bandT, hashT).map(spark.table(_).count())
      val fresh = Seq((2L, "en", (Seq("the", "of") ++ (1 to 18).map(i => s"wnewx$i")).mkString(" ")))
        .toDF("doc_id", "lang", "text")
      val e3 = intercept[IllegalStateException] {
        ops.Checkpoints.scoped(
          ops.IncrementalCuration.curateBatch(fresh, hash, band).collect())
      }
      assert(e3.getMessage.contains("schema v1"), e3.getMessage)
      assert(Seq(bandT, hashT).map(spark.table(_).count()) === rows,
        "a refused batch must admit nothing")
    } finally {
      io.TableManifest.drop(spark, band)
      io.TableManifest.drop(spark, hash)
    }
  }

  test("rebuild publishes a fresh version atomically; the superseded one is retained one cycle") {
    val c1 = Seq((1L, "en", (1 to 15).map(i => s"a$i").mkString(" ")))
      .toDF("doc_id", "lang", "text")
    val c2 = Seq((2L, "en", (1 to 15).map(i => s"b$i").mkString(" ")))
      .toDF("doc_id", "lang", "text")
    ops.SubstringIndex.buildIndex(c1, "mf_rebuild")
    def versionTables() = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("mf_rebuild__v")).toSet
    try {
      val v0 = ops.SubstringIndex.resolveTable(spark, "mf_rebuild")
      // a crashed earlier attempt left a data table and an `_x` sidecar
      // at the next version; nothing references them
      val leftover = io.TableManifest.physicalName("mf_rebuild", 1)
      for (t <- Seq(leftover, leftover + "_x"))
        spark.range(3).toDF("junk").write.format("parquet").saveAsTable(t)
      assert(ops.SubstringIndex.resolveTable(spark, "mf_rebuild") === v0,
        "leftover staging is never served")
      ops.SubstringIndex.buildIndex(c2, "mf_rebuild") // full re-index
      val v1 = ops.SubstringIndex.resolveTable(spark, "mf_rebuild")
      assert(v1 !== v0)
      assert(spark.catalog.tableExists(v0), "superseded build retained one cycle")
      // the publish replaced both leftovers: the data table is the new
      // build's, the sidecar it never wrote is gone
      assert(v1 === leftover)
      assert(!spark.table(v1).columns.contains("junk"))
      assert(versionTables() === Set(v0, v1))
      // probes see ONLY the new corpus
      val probe = ops.SubstringIndex.probeSpans(spark,
        Seq((10L, "en", (1 to 15).map(i => s"a$i").mkString(" ")))
          .toDF("doc_id", "lang", "text"), "mf_rebuild")
      assert(probe.count() === 0, "rebuilt index must not serve the old corpus")
      // vacuum keeps only the current version and one previous
      ops.SubstringIndex.buildIndex(c1, "mf_rebuild")
      val v2 = ops.SubstringIndex.resolveTable(spark, "mf_rebuild")
      assert(versionTables() === Set(v1, v2))
    } finally io.TableManifest.drop(spark, "mf_rebuild")
  }
}
