package graft

import org.apache.spark.sql.functions._

/** Round 16 — the end-to-end curation composite (r15 verdict item 6):
  * conservation invariants BETWEEN stages, which no per-key spec can
  * see. The chain is deterministic given the corpus, so every assert
  * is exact.
  */
class CurationPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.01"
  private val budget = 64

  // one chain for the whole suite (each stage is localCheckpoint'd)
  private lazy val st = ops.CurationPipeline.stages(spark, dir, budget)

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select(col("doc_id").cast("long")).as[Long].collect().toSet

  private def toksOf(df: org.apache.spark.sql.DataFrame): Map[Long, Array[String]] =
    df.select(col("doc_id").cast("long"), split(trim(col("text")), "\\s+"))
      .as[(Long, Array[String])].collect().toMap

  test("survivor sets are nested and every stage discriminates somewhere") {
    val chain = Seq("raw" -> st.raw, "quality" -> st.quality,
      "exact" -> st.exact, "neardup" -> st.neardup, "cleaned" -> st.cleaned,
      "decontam" -> st.decontam, "mixed" -> st.mixed)
    val sets = chain.map { case (n, df) => n -> ids(df) }
    sets.sliding(2).foreach { case Seq((na, a), (nb, b)) =>
      assert(b.subsetOf(a), s"$nb must be a subset of $na")
    }
    // the corpus exercises the gates: quality and temperature both cut
    assert(sets(1)._2.size < sets(0)._2.size, "quality gate must cut someone")
    assert(sets(6)._2.size < sets(5)._2.size, "temperature must cut someone")
    assert(sets(6)._2.nonEmpty, "the pipeline must not starve the corpus")
    assert(ids(st.curated) == sets(6)._2)
  }

  test("jaccardPairsOf equals the registry key on the unfiltered corpus") {
    // the anti-drift pin the frame-level form's scaladoc promises: on
    // the raw documents table both constructions must emit the same
    // verified pair set
    val reg = ops.Llm2.dedupNgramJaccard(spark, dir)
      .select(col("lang"), col("a_id").cast("long"), col("b_id").cast("long"),
        col("jaccard"))
      .as[(String, Long, Long, Double)].collect().toSet
    val frm = ops.Llm2.jaccardPairsOf(
        io.Readers.table(spark, dir, "documents"))
      .select(col("lang"), col("a_id").cast("long"), col("b_id").cast("long"),
        col("jaccard"))
      .as[(String, Long, Long, Double)].collect().toSet
    assert(frm == reg)
    assert(reg.nonEmpty)
  }

  test("quality stage keeps exactly the gopher passes") {
    val pass = ops.Curation2.gopherScored(st.raw).filter(col("pass"))
      .select(col("doc_id").cast("long")).as[Long].collect().toSet
    assert(ids(st.quality) == pass)
  }

  test("exact stage: no two survivors share normalized text, min id kept") {
    val norm = st.quality
      .select(col("doc_id").cast("long"),
        lower(regexp_replace(trim(col("text")), "\\s+", " ")).as("n"))
      .as[(Long, String)].collect()
    val byText = norm.groupBy(_._2)
    val expectKeep = byText.values.map(_.map(_._1).min).toSet
    assert(ids(st.exact) == expectKeep)
  }

  test("near-dedup stage: no surviving pair at jaccard >= 0.5 (brute force)") {
    val docs = st.neardup
      .select(col("doc_id").cast("long"), col("lang"), col("text"))
      .as[(Long, String, String)].collect()
    // mirror word_shingles: lowercase, whitespace split, distinct
    def bigrams(t: String): Set[String] = {
      val w = t.trim.toLowerCase.split("\\s+")
      if (w.length < 2) Set.empty else w.sliding(2).map(_.mkString(" ")).toSet
    }
    val sets = docs.map { case (id, lang, t) => (id, lang, bigrams(t)) }
      .filter(_._3.nonEmpty)
    for {
      (ia, la, sa) <- sets; (ib, lb, sb) <- sets
      if ia < ib && la == lb
    } {
      val j = (sa & sb).size.toDouble / (sa | sb).size.toDouble
      assert(j < 0.5, s"surviving near-dup pair ($ia, $ib) at jaccard $j")
    }
  }

  test("near-dedup closure keeps exactly one representative per transitive cluster") {
    // brute-force the jaccard >= 0.5 pairs among the exact-stage
    // survivors (same lang), close them transitively, and keep the min
    // id per cluster: per-pair "drop the higher id" would instead keep
    // every local min of a chain
    def bigrams(t: String): Set[String] = {
      val w = t.trim.toLowerCase.split("\\s+")
      if (w.length < 2) Set.empty else w.sliding(2).map(_.mkString(" ")).toSet
    }
    val docs = st.exact.select(col("doc_id").cast("long"), col("lang"), col("text"))
      .as[(Long, String, String)].collect()
      .map { case (id, lang, t) => (id, lang, bigrams(t)) }.filter(_._3.nonEmpty)
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for {
      (ia, la, sa) <- docs; (ib, lb, sb) <- docs
      if ia < ib && la == lb && 2 * (sa & sb).size >= (sa | sb).size
    } {
      val (ra, rb) = (find(ia), find(ib))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val dropped = parent.keySet.filter(id => find(id) != id)
    assert(dropped.nonEmpty, "the sf0.01 corpus must carry near-dup clusters")
    assert(ids(st.neardup) === ids(st.exact) -- dropped)
  }

  test("the split column is the sample_hash_split function of doc_id") {
    val rows = st.curated.select(col("doc_id").cast("long"), col("split"),
        ops.Llm.splitName(ops.Llm.splitBucket(col("doc_id"))).as("want"))
      .as[(Long, String, String)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, got, want) => assert(got === want, s"doc $id split") }
  }

  test("batch = incremental reconciliation: the operational twin agrees with the composite through the near stage") {
    // round 17 (r16 verdict item 3): the same corpus through the
    // one-shot chain (stages 1-3) and through curateBatch deltas must
    // agree EXACTLY on the quality and exact stages; the near stage —
    // run verified, i.e. at the composite's exact τ = 0.5 — may only
    // diverge in the documented direction: the incremental path can
    // over-KEEP (banding recall misses; chains through dropped docs,
    // whose bands are never indexed), never over-drop. Presented both
    // as ONE batch and as FIVE ascending-id deltas.
    val corpus = io.Readers.table(spark, dir, "documents")
      .filter(trim(col("text")) =!= "")
      .select(col("doc_id"), col("lang"), col("text"))
    val seed = Seq((-1L, "en",
        (Seq("the", "of") ++ (1 to 18).map(i => s"recseed$i")).mkString(" ")))
      .toDF("doc_id", "lang", "text")
    val allIds = corpus.select(col("doc_id").cast("long")).as[Long].collect().sorted
    def run(nBatches: Int, hashIdx: String, bandIdx: String): Map[Long, String] = {
      ops.IncrementalCuration.buildHashIndex(seed, hashIdx)
      ops.IncrementalDedup.buildIndex(seed, bandIdx)
      var store = seed.localCheckpoint()
      var ledger = Map.empty[Long, String]
      allIds.grouped(math.ceil(allIds.length.toDouble / nBatches).toInt)
        .foreach { chunk =>
          val batch = corpus.filter(col("doc_id").between(chunk.head, chunk.last))
          val led = ops.Checkpoints.scoped(ops.IncrementalCuration
            .curateBatch(batch, hashIdx, bandIdx, verifyCorpus = Some(store))
            .select(col("doc_id").cast("long"), col("status"))
            .as[(Long, String)].collect().toMap)
          ledger ++= led
          val adm = led.filter(_._2 == "admitted").keySet
          if (adm.nonEmpty)
            store = store.unionByName(
              batch.filter(col("doc_id").isInCollection(adm))).localCheckpoint()
        }
      ledger
    }
    // the contract, tightened in round 18 (near-drop hash
    // TOMBSTONES): quality agrees exactly; incremental exact-type
    // drops are CONTAINED in the composite's exact drops (ascending
    // batches — a tombstone hit's same-text canonical has a smaller
    // id, so the composite's exact stage already dropped the
    // hitter); never over-drop; and every remaining extra is
    // NEAR-type single-link residue (in exact \ neardup). The
    // exact-dup-of-near-dropped re-entry class the r17 scratch found
    // is CLOSED — dropped docs tombstone their hash to the cluster
    // keeper, so those extras must be gone.
    val keeperOf: Map[Long, Long] = {
      val norm = st.quality
        .select(col("doc_id").cast("long"),
          lower(regexp_replace(trim(col("text")), "\\s+", " ")).as("n"))
        .as[(Long, String)].collect()
      val mins = norm.groupBy(_._2).map { case (nm, rs) => nm -> rs.map(_._1).min }
      norm.map { case (id, nm) => id -> mins(nm) }.toMap
    }
    for ((n, tag) <- Seq(1 -> "one", 5 -> "five")) {
      val led = run(n, s"rec${tag}_hash", s"rec${tag}_band")
      assert(led.keySet === ids(st.raw), s"$n-batch ledger covers the corpus")
      val dq = led.filter(_._2 == "drop_quality").keySet
      assert(dq === ids(st.raw) -- ids(st.quality),
        s"$n-batch quality stage must agree exactly")
      val de = led.filter(kv =>
        kv._2 == "drop_exact_index" || kv._2 == "drop_exact_batch").keySet
      assert(de.subsetOf(ids(st.quality) -- ids(st.exact)),
        s"$n-batch incremental exact drops must be composite exact drops")
      val admitted = led.filter(_._2 == "admitted").keySet
      assert(ids(st.neardup).subsetOf(admitted),
        s"$n-batch near stage may never over-drop: missing ${ids(st.neardup) -- admitted}")
      val extras = admitted -- ids(st.neardup)
      assert(extras.subsetOf(ids(st.quality) -- ids(st.neardup)),
        s"$n-batch extras must be composite near/exact drops: $extras")
      assert((extras -- ids(st.exact)).isEmpty,
        s"$n-batch exact-dup-of-near-dropped re-entry must be tombstone-closed: " +
          s"${extras -- ids(st.exact)} (keepers ${
            (extras -- ids(st.exact)).map(keeperOf)})")
    }
  }

  test("span-cut token accounting is exact and cuts really happened") {
    val before = toksOf(st.neardup)
    val after = st.cleaned
      .select(col("doc_id").cast("long"), col("text"),
        col("n_spans_cut").cast("long"), col("toks_removed").cast("long"))
      .as[(Long, String, Long, Long)].collect()
    assert(after.nonEmpty)
    var cut = 0L
    after.foreach { case (id, text, nCut, removed) =>
      val n = text.trim.split("\\s+").length
      assert(n == before(id).length - removed, s"doc $id token accounting")
      if (nCut > 0) cut += 1
      else assert(removed == 0L)
    }
    assert(cut > 0, "the sf0.01 corpus carries shared spans — some doc must be cut")
  }

  test("decontamination: no survivor shares a 4-gram with the FULL raw eval set; eval docs gone") {
    // round 17 (the r16 ADVICE leak): the reference gram set comes
    // from st.raw — an eval doc dropped by the quality gate, dedup,
    // or span cuts must still contribute its grams, else training
    // docs sharing its content pass the gate
    def gramsOf(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.filter(col("doc_id") % 20 === 0)
        .select(explode(graft.functions.TextExpressions
          .wordShingles(col("text"), 4)).as("g"))
        .as[String].collect().toSet
    val evalGrams = gramsOf(st.raw)
    // the leak this gate closes is REAL on this corpus: some eval
    // docs die upstream, so the raw eval gram set strictly exceeds
    // what the survivor-only reference saw
    val upstreamOnly = ids(st.raw).filter(_ % 20 == 0) --
      ids(st.cleaned).filter(_ % 20 == 0)
    assert(upstreamOnly.nonEmpty,
      "corpus must exercise the upstream-dropped-eval-doc case")
    // and those dropped docs carry grams the survivor-only reference
    // never saw — the leak the raw reference closes. (The cleaned
    // reference is NOT a subset the other way either: span cuts mint
    // new 4-grams at cut boundaries — artifacts of curation, not
    // benchmark content, which is exactly why raw is the reference.)
    assert((evalGrams -- gramsOf(st.cleaned)).nonEmpty,
      "raw eval grams must exceed the survivor-only reference")
    val surv = st.decontam
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect()
    assert(surv.forall(_._1 % 20 != 0), "eval docs must not survive")
    surv.foreach { case (id, t) =>
      // mirror word_shingles: lowercase, whitespace split
      val g4 = t.trim.toLowerCase.split("\\s+").sliding(4).filter(_.length == 4)
        .map(_.mkString(" ")).toSet
      assert((g4 & evalGrams).isEmpty, s"doc $id still contaminated")
    }
  }

  test("temperature admission matches the registry gate's arithmetic") {
    val byLang = ids(st.decontam).size // non-trivial corpus reached this stage
    assert(byLang > 0)
    val n = st.decontam.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    val kept = st.mixed.select(col("doc_id").cast("long"), col("lang"))
      .as[(Long, String)].collect()
    def ppm(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"graft-temp|$id".getBytes("UTF-8"))
        .take(4).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex, 16) % 1000000
    }
    def thr(lang: String): Long =
      math.floor(math.min(1.0, 2.0 / math.sqrt(n(lang).toDouble)) * 1000000).toLong
    // every kept doc satisfies the gate; every dropped doc fails it
    val keptSet = kept.map(_._1).toSet
    st.decontam.select(col("doc_id").cast("long"), col("lang"))
      .as[(Long, String)].collect().foreach { case (id, lang) =>
        assert(keptSet(id) == (ppm(id) < thr(lang)), s"doc $id admission")
      }
  }

  test("train packs conserve the train split's tokens at the budget") {
    val trainToks = st.curated.filter(col("split") === "train")
      .select(sum(size(split(trim(col("text")), "\\s+")).cast("long")))
      .as[Long].collect().head
    val packs = st.packs
      .select(col("pack_id").cast("long"), col("n_toks").cast("long"))
      .as[(Long, Long)].collect()
    assert(packs.map(_._2).sum == trainToks, "manifest must conserve tokens")
    val perPack = packs.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val last = perPack.keys.max
    perPack.foreach { case (pid, tot) =>
      if (pid < last) assert(tot == budget, s"pack $pid must be full")
      else assert(tot <= budget && tot > 0)
    }
    assert(perPack.size > 1, "budget 64 must produce multiple packs here")
  }

  test("BPE accounting covers the curated vocabulary with no loss") {
    val curWords = st.curated
      .select(explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .agg(count(lit(1)).cast("long"), countDistinct(col("w")).cast("long"))
      .as[(Long, Long)].collect().head
    val bpe = st.bpe.select(sum(col("n_words")).cast("long"),
        sum(col("n_bpe_tokens")).cast("long"))
      .as[(Long, Long)].collect().head
    assert(bpe._1 == curWords._1,
      "every curated word occurrence must join the tokenizer model")
    assert(bpe._2 >= bpe._1, "BPE tokens per word are >= 1")
  }

  test("pipeline_curation_stages ledger matches the stage frames") {
    def docsToks(df: org.apache.spark.sql.DataFrame): (Long, Long) =
      df.select(count(lit(1)).cast("long"),
        sum(size(split(trim(col("text")), "\\s+")).cast("long")))
        .as[(Long, Long)].collect().head
    // ledger rows are (n_docs, n_tokens) — compare a representative set
    val l = ops.CurationPipeline.pipelineCurationStages(spark, dir)
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(l.size == 9)
    assert(l("0_raw") == docsToks(st.raw))
    assert(l("3_near_dedup") == docsToks(st.neardup))
    assert(l("6_temperature") == docsToks(st.mixed))
    // cross-mode parity (round 18): the release-mode key — eager
    // per-stage collection, superseded checkpoints freed — must equal
    // the retained frame form row-for-row (at the key's own default
    // pack budget; the suite chain `st` packs at 64), and its timing
    // surface names every stage in chain order
    val retained = ops.CurationPipeline.ledgerOf(
        ops.CurationPipeline.stages(spark, dir))
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(l == retained, s"release vs retained ledger:\n$l\n$retained")
    val stagesTimed = ops.CurationPipeline.lastStageSeconds.map(_._1)
    assert(stagesTimed == Seq("0_raw", "1_quality", "2_exact_dedup",
      "3_near_dedup", "4_substring_remove", "5_decontaminate",
      "6_temperature", "7_split", "7_pack_train", "8_bpe_tokens"),
      stagesTimed.toString)
    assert(ops.CurationPipeline.lastStageSeconds.forall(_._2 >= 0.0))
    // monotone token ledger through the corpus stages
    val stagesOrder = Seq("0_raw", "1_quality", "2_exact_dedup",
      "3_near_dedup", "4_substring_remove", "5_decontaminate", "6_temperature")
    stagesOrder.sliding(2).foreach { case Seq(a, b) =>
      assert(l(b)._1 <= l(a)._1 && l(b)._2 <= l(a)._2, s"$a -> $b must not grow")
    }
  }
}
