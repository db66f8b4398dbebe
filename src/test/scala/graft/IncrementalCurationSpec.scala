package graft

import org.apache.spark.sql.functions._

/** Round 16 — incremental curation against persisted indexes (the
  * operational twin of CurationPipelineSpec's batch chain): ledger
  * statuses per planted case, idempotent re-presentation, cross-batch
  * near-dedup, and the duplicate-band-append crash window.
  */
class IncrementalCurationSpec extends SparkSpec {
  import spark.implicits._

  /** A gopher-passing doc over a tag-disjoint vocabulary: 20 words,
    * 2 stopwords, alpha-heavy, mean word length in band.
    */
  private def text(tag: String): String =
    (Seq("the", "of") ++ (1 to 18).map(i => s"w${tag}x$i")).mkString(" ")

  /** The same doc with one content word swapped — shingle Jaccard
    * ≈ 0.85, far above the 0.5 agreement gate.
    */
  private def nearOf(tag: String): String =
    (Seq("the", "of") ++ (1 to 17).map(i => s"w${tag}x$i") :+ "changed")
      .mkString(" ")

  private def docs(rows: (Long, String)*): org.apache.spark.sql.DataFrame =
    rows.map { case (id, t) => (id, "en", t) }.toDF("doc_id", "lang", "text")

  private def ledgerMap(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
    df.select(col("doc_id").cast("long"), col("status"))
      .as[(Long, String)].collect().toMap

  /** A curateBatch ledger, read inside the scope that owns its pins. */
  private def curated(ledger: => org.apache.spark.sql.DataFrame): Map[Long, String] =
    ops.Checkpoints.scoped(ledgerMap(ledger))

  private def hashCount(name: String): Long =
    spark.table(ops.IncrementalCuration.resolveHashTable(spark, name)).count()

  test("admission ledger: quality / exact / near drops, fresh admits; re-presentation idempotent; cross-batch near-dedup") {
    val hashIdx = "ic1_hash"; val bandIdx = "ic1_band"
    val seed = docs(1L -> text("s1"), 2L -> text("s2"), 3L -> text("s3"))
    ops.IncrementalCuration.buildHashIndex(seed, hashIdx)
    ops.IncrementalDedup.buildIndex(seed, bandIdx)
    val h0 = hashCount(hashIdx)
    assert(h0 === 3L)

    val batch = docs(
      10L -> "too short",                  // fails the gopher gate
      11L -> ("  " + text("s1").replace(" ", "   ") + " "), // exact dup of seed 1 (normalization collapses whitespace)
      12L -> nearOf("s2"),                 // near dup of seed 2
      13L -> text("b13"),                  // fresh
      14L -> text("b13"),                  // exact dup of 13 WITHIN the batch
      15L -> nearOf("b13"),                // near dup of 13 WITHIN the batch
      16L -> text("b16"))                  // fresh
    val led = curated(ops.IncrementalCuration.curateBatch(
      batch, hashIdx, bandIdx))
    assert(led === Map(
      10L -> "drop_quality",
      11L -> "drop_exact_index",
      12L -> "drop_near_index",
      13L -> "admitted",
      14L -> "drop_exact_batch",
      15L -> "drop_near_batch",
      16L -> "admitted"), led.toString)
    // one hash row per FRESH text (round 18 tombstones): 13 and 16
    // map to themselves, near-dropped 12 maps to its index keeper
    // (seed 2), near-dropped 15 to its batch component root (13);
    // 14 shares 13's hash, 11's hash is already indexed
    assert(hashCount(hashIdx) === h0 + 4,
      "admitted self-rows plus near-drop tombstones append")

    // re-presentation: admitted docs read back as no-op successes,
    // every drop stays a drop, nothing appends. Near drops CONVERGE to
    // drop_exact_index — they hit their own tombstones (round 18; the
    // admitted/dropped partition is what re-presentation preserves,
    // attribution shifts to the exact tier by design)
    val led2 = curated(ops.IncrementalCuration.curateBatch(
      batch, hashIdx, bandIdx))
    assert(led2(13L) === "readmitted" && led2(16L) === "readmitted", led2.toString)
    assert(led2(10L) === "drop_quality")
    assert(led2(11L) === "drop_exact_index")
    assert(led2(12L) === "drop_exact_index", "12 hit its own tombstone")
    assert(led2(14L) === "drop_exact_index", "13 is in the corpus now")
    assert(led2(15L) === "drop_exact_index", "15 hit its own tombstone")
    assert(hashCount(hashIdx) === h0 + 4, "re-presentation must append nothing")

    // cross-batch: a near dup of batch-1's admission drops against the
    // index (and tombstones); genuinely new content admits
    val led3 = curated(ops.IncrementalCuration.curateBatch(
      docs(20L -> nearOf("b16"), 21L -> text("b21")),
      hashIdx, bandIdx))
    assert(led3 === Map(20L -> "drop_near_index", 21L -> "admitted"), led3.toString)
    assert(hashCount(hashIdx) === h0 + 6)

    // the re-entry class the tombstones close (BASELINE.md r18
    // reconciliation row): an EXACT duplicate of near-dropped 12
    // presented in a later batch must drop against 12's tombstone —
    // before tombstones its hash probe missed (12 never indexed) and
    // its admission depended on banding against the keeper
    val led4 = curated(ops.IncrementalCuration.curateBatch(
      docs(30L -> nearOf("s2")), hashIdx, bandIdx))
    assert(led4 === Map(30L -> "drop_exact_index"),
      s"an exact dup of a near-dropped doc must hit the tombstone: $led4")
    assert(hashCount(hashIdx) === h0 + 6, "a tombstone hit appends nothing")
  }

  test("hash index: probe prunes to the batch's hp directories, appends and compacts") {
    // the IncrementalDedupSpec partitioned-probe contract, hash-index
    // side: exact directory pruning, append under touched partitions,
    // compaction invisible to reads
    val seed = docs((1L to 200L).map(i => i -> text(s"hv$i")): _*)
    ops.IncrementalCuration.buildHashIndex(seed, "ic9_hash")
    try {
      def hashed(d: org.apache.spark.sql.DataFrame) = d
        .withColumn("text_hash",
          sha2(lower(regexp_replace(trim(col("text")), "\\s+", " ")), 256))
        .localCheckpoint()
      def probeSet(q: org.apache.spark.sql.DataFrame) =
        q.select(col("doc_id").cast("long"), col("keep_id").cast("long"))
          .as[(Long, Option[Long])].collect().toSet
      val delta = hashed(docs(900L -> text("hv7"), 901L -> text("hvNovel")))
      val q = ops.IncrementalCuration.hashProbe(delta, "ic9_hash")
      val m = probeSet(q)
      assert(m === Set((900L, Some(7L)), (901L, None)))
      // the probe prunes the index scan to the delta's hp directories
      val plan = q.queryExecution.executedPlan.toString
      val pf = plan.linesIterator.filter(_.contains("PartitionFilters")).mkString
      assert(pf.contains("hp"), s"probe must prune on hp:\n${plan.take(1500)}")
      // append lands under the touched partitions; later probes see it
      ops.IncrementalCuration.appendToHashIndex(
        docs(950L -> text("hvAppended")), "ic9_hash")
      val m2 = probeSet(ops.IncrementalCuration.hashProbe(
        hashed(docs(960L -> text("hvAppended"))), "ic9_hash"))
      assert(m2 === Set((960L, Some(950L))), m2.toString)
      // compaction publishes a fresh version with identical reads
      val before = hashCount("ic9_hash")
      ops.IncrementalCuration.compactHashIndex(spark, "ic9_hash")
      assert(hashCount("ic9_hash") === before)
      val m3 = probeSet(ops.IncrementalCuration.hashProbe(delta, "ic9_hash"))
      assert(m3 === m, "compaction must not change probe results")
    } finally io.TableManifest.drop(spark, "ic9_hash")
  }

  test("streaming front-end: file drops curate continuously, ledger batch-keyed; early poll is empty") {
    val dir = java.nio.file.Files.createTempDirectory("inccur").toString
    val watch = s"$dir/incoming"; val ledger = s"$dir/ledger"; val ckpt = s"$dir/ckpt"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(watch))
    val schema = org.apache.spark.sql.types.StructType(Seq())
      .add("doc_id", "long").add("lang", "string").add("text", "string")
    def drop(name: String, rows: (Long, String)*): Unit = {
      val stage = java.nio.file.Paths.get(watch, s".stage-$name")
      java.nio.file.Files.write(stage,
        ("doc_id,lang,text" +: rows.map { case (id, t) => s"$id,en,$t" })
          .mkString("\n").getBytes("UTF-8"))
      java.nio.file.Files.move(stage, java.nio.file.Paths.get(watch, name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    // early poll before anything exists: empty, with the full schema
    val early = ops.IncrementalCuration.readLedger(spark, ledger)
    assert(early.isEmpty && early.columns.toSet === Set("doc_id", "status", "batch"))

    val seed = docs(1L -> text("st1"), 2L -> text("st2"))
    ops.IncrementalCuration.buildHashIndex(seed, "ic4_hash")
    ops.IncrementalDedup.buildIndex(seed, "ic4_band")

    drop("f1.csv", 100L -> text("f100"), 101L -> text("st1"))
    val blocks = new RddBlocks
    spark.sparkContext.addSparkListener(blocks)
    val q = ops.IncrementalCuration.curateStream(spark, watch, schema,
      "ic4_hash", "ic4_band", ledger, ckpt)
    try {
      q.processAllAvailable()
      val l1 = ops.IncrementalCuration.readLedger(spark, ledger)
        .select(col("doc_id").cast("long"), col("status"), col("batch").cast("long"))
        .as[(Long, String, Long)].collect().toSet
      assert(l1 === Set((100L, "admitted", 0L), (101L, "drop_exact_index", 0L)), l1)
      // second drop: cross-batch near-dedup THROUGH the stream — the
      // batch-0 admission is in the indexes by the time batch 1 runs
      drop("f2.csv", 110L -> nearOf("f100"), 111L -> text("f111"))
      q.processAllAvailable()
      q.stop()
      // every pin of every batch — the sink's, curateBatch's, the
      // ledger's — is freed once its batch ends
      blocks.assertNoneLive()
      val l2 = ops.IncrementalCuration.readLedger(spark, ledger)
        .filter(col("batch") === 1)
        .select(col("doc_id").cast("long"), col("status"))
        .as[(Long, String)].collect().toSet
      assert(l2 === Set((110L, "drop_near_index"), (111L, "admitted")), l2)
    } finally {
      q.stop()
      spark.sparkContext.removeSparkListener(blocks)
    }
  }

  test("crash window: a duplicate band append cannot evict or re-admit") {
    val seed = docs(1L -> text("c1"))
    ops.IncrementalCuration.buildHashIndex(seed, "ic2_hash")
    ops.IncrementalDedup.buildIndex(seed, "ic2_band")
    val batch = docs(30L -> text("c30"))
    val led = curated(ops.IncrementalCuration.curateBatch(
      batch, "ic2_hash", "ic2_band"))
    assert(led === Map(30L -> "admitted"))
    // simulate the replayed half-write: the band append runs AGAIN for
    // the already-admitted doc (crash after hash append + band append,
    // replay re-appends bands)
    ops.IncrementalDedup.appendToIndex(batch, "ic2_band")
    val led2 = curated(ops.IncrementalCuration.curateBatch(
      batch, "ic2_hash", "ic2_band"))
    assert(led2 === Map(30L -> "readmitted"),
      "duplicate band rows must not change the admission read")
    // and a near dup still drops against the duplicated bands
    val led3 = curated(ops.IncrementalCuration.curateBatch(
      docs(31L -> nearOf("c30")), "ic2_hash", "ic2_band"))
    assert(led3 === Map(31L -> "drop_near_index"))

    // compaction collapses append growth into a fresh version; every
    // admission read is unchanged
    val before = hashCount("ic2_hash")
    ops.IncrementalCuration.compactHashIndex(spark, "ic2_hash")
    assert(hashCount("ic2_hash") === before, "compaction must not lose rows")
    val led4 = curated(ops.IncrementalCuration.curateBatch(
      batch, "ic2_hash", "ic2_band"))
    assert(led4 === Map(30L -> "readmitted"),
      "admission reads identically through the compacted version")
  }

  test("crash window: band-appended/hash-missing replays as FRESH and converges (the append-order contract)") {
    // round 17 (r16 ADVICE item 1): curateBatch appends band rows
    // BEFORE hash rows, so the only possible half-write is
    // band-present/hash-absent — which must replay as a fresh
    // admission (self-matches filtered on indexed_id =!= new_id), not
    // as the fatal `readmitted` no-op the old hash-first order
    // produced (that doc's bands would have been permanently absent)
    val seed = docs(1L -> text("d1"))
    ops.IncrementalCuration.buildHashIndex(seed, "ic5_hash")
    ops.IncrementalDedup.buildIndex(seed, "ic5_band")
    val batch = docs(40L -> text("d40"))
    // simulate the crash inside the admission window: bands landed,
    // the hash append never ran
    ops.IncrementalDedup.appendToIndex(batch, "ic5_band")
    val before = hashCount("ic5_hash")
    val led = curated(ops.IncrementalCuration.curateBatch(
      batch, "ic5_hash", "ic5_band"))
    assert(led === Map(40L -> "admitted"),
      s"stranded bands must not read back as already-admitted: $led")
    assert(hashCount("ic5_hash") === before + 1, "the replay completes the hash append")
    // converged: re-presentation is now the no-op, and the doc's
    // (duplicated) bands detect future near-dups
    val led2 = curated(ops.IncrementalCuration.curateBatch(
      batch, "ic5_hash", "ic5_band"))
    assert(led2 === Map(40L -> "readmitted"))
    val led3 = curated(ops.IncrementalCuration.curateBatch(
      docs(41L -> nearOf("d40")), "ic5_hash", "ic5_band"))
    assert(led3 === Map(41L -> "drop_near_index"))
  }

  test("aborted batch: a failing index append frees the ledger and every pin curateBatch made") {
    ops.IncrementalCuration.buildHashIndex(docs(1L -> text("ab1")), "ic9_hash")
    ops.IncrementalDedup.buildIndex(docs(1L -> text("ab1")), "ic9_band")
    val blocks = new RddBlocks
    spark.sparkContext.addSparkListener(blocks)
    // the appends are the batch's only parquet writes, and no LZO codec
    // ships with the engine: the band append throws after every pin,
    // the ledger's included, is materialized
    spark.conf.set("spark.sql.parquet.compression.codec", "lzo")
    try {
      intercept[Exception](curated(ops.IncrementalCuration.curateBatch(
        docs(10L -> text("ab10")), "ic9_hash", "ic9_band")))
      blocks.assertNoneLive()
    } finally {
      spark.conf.unset("spark.sql.parquet.compression.codec")
      spark.sparkContext.removeSparkListener(blocks)
    }
    assert(curated(ops.IncrementalCuration.curateBatch(
      docs(10L -> text("ab10")), "ic9_hash", "ic9_band")) === Map(10L -> "admitted"),
      "an aborted batch replays as fresh")
  }

  /** In-Scala word-bigram Jaccard mirroring `word_shingles(text, 2)`:
    * lowercase, whitespace split, distinct shingles.
    */
  private def bigramJ(a: String, b: String): Double = {
    def g(t: String) = t.trim.toLowerCase.split("\\s+").sliding(2)
      .filter(_.length == 2).map(_.mkString(" ")).toSet
    val (sa, sb) = (g(a), g(b))
    (sa & sb).size.toDouble / (sa | sb).size.toDouble
  }

  /** Collected (band keys, signature) per doc for planted-case
    * searches over the engine-seeded hash.
    */
  private def bandView(rows: (Long, String)*)
      : Map[Long, (Set[Long], Seq[Long])] = {
    val br = ops.IncrementalDedup.bandRows(docs(rows: _*))
      .select(col("doc_id").cast("long"), col("bk"), col("sig"))
      .as[(Long, Long, Seq[Long])].collect()
    br.groupBy(_._1).view.mapValues(rs =>
      (rs.map(_._2).toSet, rs.head._3)).toMap
  }

  private def agreeOf(v: Map[Long, (Set[Long], Seq[Long])],
      x: Long, y: Long): Double =
    v(x)._2.zip(v(y)._2).count { case (p, q) => p == q }.toDouble / 16

  private def collide(v: Map[Long, (Set[Long], Seq[Long])],
      x: Long, y: Long): Boolean = v(x)._1.intersect(v(y)._1).nonEmpty

  /** Planted estimator-false-positive geometry: 20-word docs whose
    * last 7 content words are swapped — true bigram jaccard 12/26
    * ≈ 0.46 (below the τ = 0.5 drop gate) and 3-gram minhash jaccard
    * ≈ 0.44, close enough to the 0.5 agreement gate that the 16-perm
    * estimator's per-pair variance pushes some tags over it.
    */
  private def fpA(k: Int) = (Seq("the", "of") ++ (1 to 18).map(i => s"fp${k}x$i"))
    .mkString(" ")
  private def fpB(k: Int) = (Seq("the", "of") ++ (1 to 11).map(i => s"fp${k}x$i") ++
    (12 to 18).map(i => s"fp${k}y$i")).mkString(" ")

  /** First tag whose (fpA, fpB) pair the estimator actually flags —
    * deterministic: the shingle hash is engine-seeded, so whichever
    * tag first reads (band collision ∧ agreement ≥ 0.5) does so on
    * every run.
    */
  private lazy val fpTag: Int = {
    val tags = 1 to 300
    val v = bandView(tags.flatMap(k =>
      Seq(k * 2L -> fpA(k), k * 2L + 1L -> fpB(k))): _*)
    val hit = tags.find(k =>
      collide(v, k * 2L, k * 2L + 1L) && agreeOf(v, k * 2L, k * 2L + 1L) >= 0.5)
    assert(hit.isDefined, "no estimator false positive found in 300 tags")
    hit.get
  }

  test("verifyCorpus knob: an estimator false positive drops unverified, admits verified") {
    // round 17 (r16 verdict item 2); geometry and tag search above
    val k = fpTag
    assert(bigramJ(fpA(k), fpB(k)) < 0.5, "planted pair must be a TRUE negative")

    ops.IncrementalCuration.buildHashIndex(docs(k * 2L -> fpA(k)), "ic6_hash")
    ops.IncrementalDedup.buildIndex(docs(k * 2L -> fpA(k)), "ic6_band")
    val unverified = curated(ops.IncrementalCuration.curateBatch(
      docs(k * 2L + 1L -> fpB(k)), "ic6_hash", "ic6_band"))
    assert(unverified === Map(k * 2L + 1L -> "drop_near_index"),
      s"the estimator false positive must drop on the default path: $unverified")
    // round 18: the default-path drop TOMBSTONED the doc's hash — its
    // re-presentation converges to drop_exact_index, and the verified
    // policy can no longer rescue it on THESE indexes (tombstones
    // encode the policy that wrote them — the policy-stability
    // contract in the object scaladoc; a verified deployment uses
    // verified indexes from the start)
    val represented = curated(ops.IncrementalCuration.curateBatch(
      docs(k * 2L + 1L -> fpB(k)), "ic6_hash", "ic6_band",
      verifyCorpus = Some(docs(k * 2L -> fpA(k)))))
    assert(represented === Map(k * 2L + 1L -> "drop_exact_index"),
      s"a default-path tombstone outlives the estimator decision: $represented")
    // fresh indexes under the verified policy: the exact τ = 0.5
    // bigram jaccard rescues the doc
    ops.IncrementalCuration.buildHashIndex(docs(k * 2L -> fpA(k)), "ic6v_hash")
    ops.IncrementalDedup.buildIndex(docs(k * 2L -> fpA(k)), "ic6v_band")
    val verified = curated(ops.IncrementalCuration.curateBatch(
      docs(k * 2L + 1L -> fpB(k)), "ic6v_hash", "ic6v_band",
      verifyCorpus = Some(docs(k * 2L -> fpA(k)))))
    assert(verified === Map(k * 2L + 1L -> "admitted"),
      s"exact verification must admit the estimator's false positive: $verified")
  }

  test("verified crash window: a rescued pair's stranded bands cannot drop the pair on replay") {
    // round 17 (found in this round's own adversarial review): two
    // batch docs that band-collide but verify apart (the fpTag
    // geometry) BOTH admit — so BOTH docs' bands land in the
    // band-before-hash append. A crash before the hash append leaves
    // their bands stranded with no store rows (the ledger never
    // reached the policy's store). On replay each doc reads the
    // OTHER's stranded bands as an index match; a match whose indexed
    // doc is missing from the verify store must be DISCARDED as the
    // half-written admission it is — trusting the estimator here
    // would silently drop both previously-admitted docs forever.
    val k = fpTag
    val (idA, idB) = (k * 2L, k * 2L + 1L)
    val seed = docs(1L -> text("vc1"))
    val store = seed // the policy's store: the durably-admitted corpus only
    val batch = docs(idA -> fpA(k), idB -> fpB(k))
    ops.IncrementalCuration.buildHashIndex(seed, "icA_hash")
    ops.IncrementalDedup.buildIndex(seed, "icA_band")
    val led = curated(ops.IncrementalCuration.curateBatch(
      batch, "icA_hash", "icA_band", verifyCorpus = Some(store)))
    assert(led === Map(idA -> "admitted", idB -> "admitted"),
      s"the rescued pair must co-admit: $led")

    // the half-write, replayed: fresh index pair, bands landed for
    // BOTH docs, hash append never ran
    ops.IncrementalCuration.buildHashIndex(seed, "icB_hash")
    ops.IncrementalDedup.buildIndex(seed, "icB_band")
    ops.IncrementalDedup.appendToIndex(batch, "icB_band")
    val led2 = curated(ops.IncrementalCuration.curateBatch(
      batch, "icB_hash", "icB_band", verifyCorpus = Some(store)))
    assert(led2 === Map(idA -> "admitted", idB -> "admitted"),
      s"stranded bands of a rescued pair must not become mutual drops: $led2")
  }

  test("exact verify reduces the store to candidate ids before shingle work: broadcast semi joins, zero shuffles") {
    // the O(candidates) claim as a machine check: with a 500-doc
    // store and two candidate pairs, the executed plan must reduce
    // BOTH text sides via broadcast LeftSemi joins on the
    // (checkpointed, tiny) candidate ids — no hash-partition exchange
    // anywhere, no sort-merge join, and in particular the store never
    // shuffles and never computes shingles outside the reduction
    val store = docs((1L to 500L).map(i => i -> text(s"vs$i")): _*)
    val probe = docs(900L -> nearOf("vs7"), 901L -> text("vsFresh"))
    // candidate pairs: a true near-dup (900, 7) and an estimator
    // false positive stand-in (901, 8) — disjoint vocab
    val cand = Seq((900L, 7L), (901L, 8L)).toDF("new_id", "indexed_id")
    val out = ops.IncrementalCuration.verifiedPairs(
      cand, "new_id", probe, "indexed_id", store, 0.5)
    val surviving = out.select(col("new_id").cast("long"),
        col("indexed_id").cast("long"))
      .as[(Long, Long)].collect().toSet
    assert(surviving === Set((900L, 7L)),
      s"only the true pair may survive the exact verify: $surviving")
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("LeftSemi".r.findAllIn(plan).length >= 2,
      s"both text sides must semi-reduce to candidate ids:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"), plan)
    // the only permitted exchanges are the candidate-id distincts'
    // own (candidates-sized) dedup before they broadcast — the store
    // itself must never hash-repartition
    assert("Exchange hashpartitioning".r.findAllIn(plan).length <= 2,
      s"only the tiny candidate-id dedups may exchange:\n$plan")
    // and every shingle projection sits ABOVE its semi reduction —
    // shingles compute on candidate rows only, never on the store
    val lines = plan.linesIterator.toVector
    lines.zipWithIndex.filter(_._1.contains("word_shingles")).foreach {
      case (_, i) =>
        assert(i + 1 < lines.length && lines(i + 1).contains("LeftSemi"),
          s"shingles must project directly over the semi reduction:\n$plan")
    }
  }

  test("single-link divergence: a near-dup chain through a dropped doc is the documented batch/incremental difference") {
    // round 17 (r16 verdict item 3's planted half): A–B and B–C are
    // true near pairs (bigram J = 46/72 ≈ 0.64) but A–C is not
    // (34/84 ≈ 0.40). The one-shot composite's transitive closure
    // keeps only A; the incremental path indexes ADMITTED docs only,
    // so C — whose sole true partner B was dropped — admits. With
    // verifyCorpus set, C's admission is deterministic even if A–C
    // happens to band-collide (the exact jaccard kills the match).
    def base(tag: Int) = (Seq("the", "of") ++ (1 to 58).map(i => s"ch${tag}x$i"))
    def swap(ws: Seq[String], tag: Int, from: Int, to: Int, m: String) =
      ws.zipWithIndex.map { case (w, i) =>
        if (i >= from && i <= to) s"ch$tag$m$i" else w }
    def chA(tag: Int) = base(tag).mkString(" ")
    def chB(tag: Int) = swap(base(tag), tag, 40, 51, "b").mkString(" ")
    def chC(tag: Int) = swap(swap(base(tag), tag, 40, 51, "b"), tag, 28, 39, "c")
      .mkString(" ")
    val tags = 1 to 300
    val v = bandView(tags.flatMap(k =>
      Seq(k * 4L -> chA(k), k * 4L + 1L -> chB(k), k * 4L + 2L -> chC(k))): _*)
    val hit = tags.find { k =>
      val (a, b, c) = (k * 4L, k * 4L + 1L, k * 4L + 2L)
      collide(v, a, b) && agreeOf(v, a, b) >= 0.5 &&
        collide(v, b, c) && agreeOf(v, b, c) >= 0.5
    }
    assert(hit.isDefined, "no chain with both true pairs estimator-visible in 300 tags")
    val k = hit.get
    val (idA, idB, idC) = (k * 4L, k * 4L + 1L, k * 4L + 2L)
    assert(bigramJ(chA(k), chB(k)) >= 0.5 && bigramJ(chB(k), chC(k)) >= 0.5 &&
      bigramJ(chA(k), chC(k)) < 0.5, "planted chain geometry")

    // the composite form: exact pairs + transitive closure keep A only
    val pairs = ops.Llm2.jaccardPairsOf(
        docs(idA -> chA(k), idB -> chB(k), idC -> chC(k)))
      .select(col("a_id").cast("long"), col("b_id").cast("long"))
      .as[(Long, Long)].collect().toSet
    assert(pairs === Set((idA, idB), (idB, idC)), s"exact pair set: $pairs")

    // the incremental form, batches in ascending id order
    val seed = docs(1L -> text("chseed"))
    ops.IncrementalCuration.buildHashIndex(seed, "ic7_hash")
    ops.IncrementalDedup.buildIndex(seed, "ic7_band")
    var store = seed
    def admitOne(id: Long, t: String): String = {
      val led = curated(ops.IncrementalCuration.curateBatch(
        docs(id -> t), "ic7_hash", "ic7_band", verifyCorpus = Some(store)))
      if (led(id) == "admitted")
        store = store.unionByName(docs(id -> t))
      led(id)
    }
    assert(admitOne(idA, chA(k)) === "admitted")
    assert(admitOne(idB, chB(k)) === "drop_near_index", "the true pair A-B must drop B")
    assert(admitOne(idC, chC(k)) === "admitted",
      "C's only true partner was dropped, so its bands were never indexed — " +
        "the incremental path admits C where the composite's closure drops it")
    // round 18 (tombstones): the NEAR divergence above is the
    // documented single-link residue, but the EXACT tier of the same
    // chain is closed — an exact duplicate of dropped B presented
    // later hits B's tombstone (keeper A) instead of re-entering
    assert(admitOne(idB + 1000L, chB(k)) === "drop_exact_index",
      "an exact dup of the dropped chain doc must hit the tombstone")
  }

  test("policy-switch recovery: rebuild from the admitted store under the new policy converges and releases default-path tombstones") {
    // round 19 (r18 verdict item 5): the object scaladoc's recovery
    // clause as a machine check — "switching policy means rebuilding
    // the indexes under the new policy, not flipping the knob
    // mid-stream". Protocol: run a default-policy stream that
    // over-drops an estimator false positive (tombstoning its hash),
    // then switch to the VERIFIED policy the documented way: rebuild
    // BOTH indexes from the admitted document store, and continue.
    val k = fpTag
    val (idA, idB) = (k * 2L, k * 2L + 1L)
    // default-policy stream: seed idA, then one batch with the FP doc
    // idB (near-drops + tombstones) and a fresh doc 5
    ops.IncrementalCuration.buildHashIndex(docs(idA -> fpA(k)), "ic8_hash")
    ops.IncrementalDedup.buildIndex(docs(idA -> fpA(k)), "ic8_band")
    val led1 = curated(ops.IncrementalCuration.curateBatch(
      docs(idB -> fpB(k), 5L -> text("ps5")), "ic8_hash", "ic8_band"))
    assert(led1 === Map(idB -> "drop_near_index", 5L -> "admitted"), led1.toString)

    // the admitted store after the stream: seed + admitted batch docs
    val store = docs(idA -> fpA(k), 5L -> text("ps5"))
    // THE SWITCH: rebuild both indexes from the store. The rebuilt
    // hash index carries one row per store doc and NO tombstones —
    // tombstones encode the policy that wrote them and die with the
    // index they annotated.
    ops.IncrementalCuration.buildHashIndex(store, "ic8v_hash")
    ops.IncrementalDedup.buildIndex(store, "ic8v_band")
    val h0 = hashCount("ic8v_hash")
    assert(h0 === 2L, "rebuilt hash index: one self-row per store doc")

    // CONVERGENCE: re-presenting the whole admitted store against the
    // rebuilt indexes is a no-op stream — every doc reads back
    // readmitted, nothing appends, no drop appears
    val led2 = curated(ops.IncrementalCuration.curateBatch(
      store, "ic8v_hash", "ic8v_band", verifyCorpus = Some(store)))
    assert(led2 === Map(idA -> "readmitted", 5L -> "readmitted"), led2.toString)
    assert(hashCount("ic8v_hash") === h0, "re-presentation must not append")

    // RECOVERY: the doc the default policy over-dropped re-enters —
    // its old tombstone is gone, the estimator match vs idA reaches
    // the verify stage, and the exact tau = 0.5 bigram jaccard admits
    val led3 = curated(ops.IncrementalCuration.curateBatch(
      docs(idB -> fpB(k)), "ic8v_hash", "ic8v_band",
      verifyCorpus = Some(store)))
    assert(led3 === Map(idB -> "admitted"),
      s"the rebuilt verified indexes must rescue the FP drop: $led3")
    // and the continued stream is stable: re-presenting the rescued
    // doc converges to readmitted on its own appended row
    val led4 = curated(ops.IncrementalCuration.curateBatch(
      docs(idB -> fpB(k)), "ic8v_hash", "ic8v_band",
      verifyCorpus = Some(store.unionByName(docs(idB -> fpB(k))))))
    assert(led4 === Map(idB -> "readmitted"), led4.toString)
  }

  test("verified streaming: the store thunk is re-read per micro-batch; FPs rescued, true positives still drop") {
    // round 17: curateStream's verifyCorpus is a THUNK because the
    // policy's document store GROWS as batches admit — this drives a
    // real stream where batch 1's verification depends on a store row
    // appended after batch 0 ran
    val k = fpTag
    val dir = java.nio.file.Files.createTempDirectory("inccurv").toString
    val watch = s"$dir/incoming"; val ledger = s"$dir/ledger"
    val ckpt = s"$dir/ckpt"; val storeDir = s"$dir/store"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(watch))
    val schema = org.apache.spark.sql.types.StructType(Seq())
      .add("doc_id", "long").add("lang", "string").add("text", "string")
    def drop(name: String, rows: (Long, String)*): Unit = {
      val stage = java.nio.file.Paths.get(watch, s".stage-$name")
      java.nio.file.Files.write(stage,
        ("doc_id,lang,text" +: rows.map { case (id, t) => s"$id,en,$t" })
          .mkString("\n").getBytes("UTF-8"))
      java.nio.file.Files.move(stage, java.nio.file.Paths.get(watch, name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    def appendStore(rows: (Long, String)*): Unit =
      docs(rows: _*).write.mode("append").parquet(storeDir)

    val seedRows = Seq(1L -> fpA(k), 2L -> text("sv2"))
    val seed = docs(seedRows: _*)
    ops.IncrementalCuration.buildHashIndex(seed, "ic8_hash")
    ops.IncrementalDedup.buildIndex(seed, "ic8_band")
    appendStore(seedRows: _*)

    // batch 0: the planted FP (vs seed 1) must be rescued by the
    // verified stream; a fresh doc admits alongside it
    drop("f1.csv", 100L -> fpB(k), 101L -> text("sv101"))
    val q = ops.IncrementalCuration.curateStream(spark, watch, schema,
      "ic8_hash", "ic8_band", ledger, ckpt,
      verifyCorpus = Some(() => spark.read.parquet(storeDir)))
    try {
      q.processAllAvailable()
      val l0 = ops.IncrementalCuration.readLedger(spark, ledger)
        .filter(col("batch") === 0)
        .select(col("doc_id").cast("long"), col("status"))
        .as[(Long, String)].collect().toMap
      assert(l0 === Map(100L -> "admitted", 101L -> "admitted"),
        s"the verified stream must rescue the estimator false positive: $l0")
      // the policy appends its admissions; batch 1's verification
      // reads THIS state of the store — a true near-dup of the
      // batch-0 admission must still drop (the verify confirms it
      // against text that did not exist at stream start)
      appendStore(100L -> fpB(k), 101L -> text("sv101"))
      drop("f2.csv", 110L -> nearOf("sv101"), 111L -> text("sv111"))
      q.processAllAvailable()
      val l1 = ops.IncrementalCuration.readLedger(spark, ledger)
        .filter(col("batch") === 1)
        .select(col("doc_id").cast("long"), col("status"))
        .as[(Long, String)].collect().toMap
      assert(l1 === Map(110L -> "drop_near_index", 111L -> "admitted"), l1.toString)
    } finally q.stop()
  }

  test("ledger vacuum: rank-based retention; an expired batch's replay converges and recreates its partition") {
    // round 18 (r17 verdict item 3): the admission ledger is an audit
    // surface — the indexes alone decide future verdicts — so
    // vacuuming loses attribution rows and nothing else
    val dir = java.nio.file.Files.createTempDirectory("incvac").toString
    val ledger = s"$dir/ledger"
    val seed = docs(1L -> text("lv"))
    ops.IncrementalCuration.buildHashIndex(seed, "icv_hash")
    ops.IncrementalDedup.buildIndex(seed, "icv_band")
    def runBatch(bid: Long, rows: (Long, String)*): Map[Long, String] =
      ops.Checkpoints.scoped {
        val led = ops.IncrementalCuration.curateBatch(
          docs(rows: _*), "icv_hash", "icv_band")
        led.write.mode("overwrite").parquet(s"$ledger/batch=$bid")
        ledgerMap(led)
      }
    def batches(): Set[Long] = ops.IncrementalCuration
      .readLedger(spark, ledger)
      .select(col("batch").cast("long")).distinct().as[Long].collect().toSet
    (0L to 4L).foreach(b => assert(
      runBatch(b, (100L + b) -> text(s"lv$b")) === Map((100L + b) -> "admitted")))
    assert(batches() === Set(0L, 1L, 2L, 3L, 4L))

    ops.IncrementalCuration.vacuumLedger(spark, ledger, retain = 2)
    assert(batches() === Set(3L, 4L), "only the 2 highest batches survive")

    // replay of an EXPIRED batch: admission state lives in the
    // indexes, so the verdict converges (readmitted) and the
    // partition overwrite recreates the expired attribution rows
    assert(runBatch(0L, 100L -> text("lv0")) === Map(100L -> "readmitted"))
    assert(batches() === Set(0L, 3L, 4L))

    // guard rails: retain must keep the live batch; a missing root is
    // a no-op, not an error
    intercept[IllegalArgumentException] {
      ops.IncrementalCuration.vacuumLedger(spark, ledger, retain = 0) }
    ops.IncrementalCuration.vacuumLedger(spark, s"$dir/nothere")
  }

  // the hash-index compaction↔append interleave (the band side's
  // crash/interleave coverage mirrored to the hash side): a compaction
  // crash before the pointer rename is invisible to admission; an
  // append RACING a compaction (landing between the stage read and the
  // commit) loses its hash rows to the version flip — the
  // single-maintenance-writer hazard — and must degrade to exactly the
  // band-present/hash-absent half-write, which replays as fresh and
  // converges
  test("hash compaction interleave: pre-commit crash invisible; racing append degrades to the half-write and converges") {
    val hashIdx = "ici_hash"; val bandIdx = "ici_band"
    val tg = "ici"
    val seed = docs(1L -> text(s"${tg}s"))
    ops.IncrementalCuration.buildHashIndex(seed, hashIdx)
    ops.IncrementalDedup.buildIndex(seed, bandIdx)
    def compact(beforeCommit: () => Unit = () => ()): Unit =
      ops.IncrementalCuration.compactHashIndex(spark, hashIdx, beforeCommit)
    def admit(rows: (Long, String)*): Map[Long, String] =
      curated(ops.IncrementalCuration.curateBatch(
        docs(rows: _*), hashIdx, bandIdx))

    assert(admit(10L -> text(s"${tg}a")) === Map(10L -> "admitted"))
    val h1 = hashCount(hashIdx)

    // 1. compaction crash BEFORE the pointer rename: admission keeps
    // reading the old snapshot — re-presentation is still the no-op
    intercept[RuntimeException] {
      compact(beforeCommit = () => throw new RuntimeException("injected")) }
    assert(admit(10L -> text(s"${tg}a")) === Map(10L -> "readmitted"),
      "a crashed compaction must be invisible to admission")
    assert(hashCount(hashIdx) === h1)
    compact() // clean recovery over the leftover staging
    assert(admit(10L -> text(s"${tg}a")) === Map(10L -> "readmitted"))
    assert(hashCount(hashIdx) === h1, "compaction must not change contents")

    // 2. an admission RACING the compaction: its appends land on the
    // version being superseded, so the flip LOSES its hash rows (and
    // keeps its band rows — the band index is a different table)
    compact(beforeCommit = () =>
      assert(admit(20L -> text(s"${tg}b")) === Map(20L -> "admitted")))
    assert(hashCount(hashIdx) === h1,
      "the racing append's hash rows lose to the version flip")
    // exactly the band-present/hash-absent half-write: the replay
    // reads its own stranded bands as self-matches (filtered),
    // re-admits, and completes the hash append
    assert(admit(20L -> text(s"${tg}b")) === Map(20L -> "admitted"),
      "the lost append must replay as FRESH, not readmitted")
    assert(hashCount(hashIdx) === h1 + 1)
    assert(admit(20L -> text(s"${tg}b")) === Map(20L -> "readmitted"),
      "converged after the replay")
    // and the recovered doc's bands still detect near-dups
    assert(admit(21L -> nearOf(s"${tg}b")) === Map(21L -> "drop_near_index"))
  }
}
