package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.io.Readers.table

/** Byte-pair-encoding merge training (Sennrich et al. 2016) — the
  * actual k-round tokenizer-training loop, not just the pair-count
  * step ([[Curation2.textBpePairs]] is round 1's counting half).
  *
  * Each round: (1) count adjacent symbol pairs over the vocabulary,
  * occurrence-weighted; (2) pick the argmax pair under the TOTAL
  * order (count DESC, pair lexicographic) so the learned rule is
  * deterministic across engines; (3) apply the rule LEFT-GREEDILY to
  * every word ("aaa" + rule (a,a) → [aa, a], never [a, aa]).
  *
  * State is the DISTINCT-word vocabulary with occurrence counts —
  * the classic BPE trick: all per-corpus weights collapse into `cnt`
  * once, so round cost scales with |vocab|, not corpus size. At
  * 100 TB that is the difference between iterating over ~10⁸ distinct
  * words and ~10¹³ running words.
  *
  * Left-greedy via fold: `aggregate` over the symbol array, merging
  * when (last-emitted, current) equals the rule. This IS the
  * left-to-right scan: after a merge the emitted symbol is a||b,
  * which can never equal a again (b is non-empty), so a just-merged
  * token is never the left half of an immediate re-merge — precisely
  * the "resume scanning after the consumed position" semantics.
  * Consecutive overlapping matches only arise for a = b runs
  * ((a,b) matching at i and i+1 forces sym(i+1) = b = a), where the
  * fold keeps even offsets from each run start — the same
  * gaps-and-islands formulation the DuckDB oracle
  * ([[graft.oracle.BpeSql]]) implements relationally, which is what
  * makes this key hash-exact cross-engine.
  *
  * Scale shape, per round: pair counting is one map-side-combinable
  * aggregation (key space bounded by live pair vocabulary); the
  * argmax is a TakeOrdered(1) whose 0-or-1 row is COLLECTED — the
  * rule is the model parameter itself, k-bounded driver data — and
  * inlined as literals into the row-local fold, so rule application
  * needs no join. The only non-codegen piece is the `aggregate` HOF,
  * paid once per vocab row per round. Each round's state is
  * localCheckpoint'd (it is read twice — pair counting and the next
  * fold — and the pin truncates the k-round lineage); the trained
  * vocabulary is the initial one with the collected rules replayed
  * ([[applyRules]]).
  */
object Bpe {

  import Relational.Q

  /** Rounds for the registered key: enough to exercise rule
    * interaction (round 2+ can merge a round-1 product with a raw
    * symbol) while staying a bounded bench cost.
    */
  private val MergeRounds = 3

  /** Left-greedy application of rule (a, b) to one symbol array via
    * fold — see the object scaladoc for the equivalence argument.
    * `syms` must be non-empty (vocabulary words are).
    */
  private def foldMerge(syms: Column, a: Column, b: Column): Column =
    aggregate(
      slice(syms, lit(2), size(syms) - 1),
      slice(syms, 1, 1),
      (acc, s) => when(element_at(acc, -1) === a && s === b,
        concat(slice(acc, lit(1), size(acc) - 1), array(concat(a, b))))
        .otherwise(concat(acc, array(s))))

  /** A round's rule: the state's occurrence-weighted adjacent pair
    * counts (pa, pb, pc), argmax under the total order; empty when no
    * pair reaches `minCount`.
    */
  private[graft] def bestRule(state: DataFrame, minCount: Long): DataFrame = state
    .filter(size(col("syms")) >= 2)
    .select(col("cnt"), explode(transform(
      sequence(lit(1), size(col("syms")) - 1),
      i => struct(element_at(col("syms"), i).as("pa"),
        element_at(col("syms"), i + 1).as("pb")))).as("p"))
    .groupBy(col("p.pa").as("pa"), col("p.pb").as("pb"))
    .agg(sum(col("cnt")).as("pc"))
    .filter(col("pc") >= minCount)
    .orderBy(col("pc").desc, col("pa"), col("pb"))
    .limit(1)

  /** Apply rule (pa, pb) to every word of a vocabulary state. */
  private def applyRule(state: DataFrame, pa: String, pb: String): DataFrame =
    state.select(col("w"), col("cnt"),
      when(size(col("syms")) < 2, col("syms"))
        .otherwise(foldMerge(col("syms"), lit(pa), lit(pb))).as("syms"))

  /** Initial state: distinct words with occurrence counts, each split
    * into single-character symbols. Same tokenizer as
    * [[Curation2.textBpePairs]] (split on whitespace runs).
    */
  private[graft] def vocab(docs: DataFrame): DataFrame =
    docs
      .filter(trim(col("text")) =!= "")
      .select(explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .withColumn("syms", split(col("w"), ""))

  /** k merge rounds over `docs` (optionally threshold-stopped);
    * output one row per distinct word: its merged segmentation
    * (space-joined), symbol count, and corpus occurrence count.
    */
  private[graft] def mergeRounds(docs: DataFrame, k: Int,
      minCount: Long = 1L): DataFrame =
    applyRules(vocab(docs),
        trainRules(docs, k, minCount).map { case (pa, pb, _) => (pa, pb) })
      .select(col("w"), concat_ws(" ", col("syms")).as("merged"),
        size(col("syms")).cast("long").as("n_syms"), col("cnt").as("n_occ"))
      .orderBy("w")

  val textBpeMerge: Q = (s, dir) =>
    mergeRounds(table(s, dir, "documents"), MergeRounds)

  /** Depth variant (§8.r11.1, pulled into round 10): up to 8 rounds,
    * stopping once no pair reaches `TrainMinCount` — how real
    * tokenizer training terminates (merge until the argmax count is
    * no longer worth a rule): the first sub-threshold round ends the
    * loop, since a round without a rule leaves every later round's
    * pair counts unchanged.
    */
  private val TrainRounds = 8
  private val TrainMinCount = 1500L

  val textBpeTrain: Q = (s, dir) =>
    trainedStateShared(s, dir)
      .select(col("w"), concat_ws(" ", col("syms")).as("merged"),
        size(col("syms")).cast("long").as("n_syms"), col("cnt").as("n_occ"))
      .orderBy("w")

  /** The INFERENCE half of tokenizer training: segment every
    * document with the [[textBpeTrain]] tokenizer and report
    * per-document token statistics — word count, BPE token count,
    * and chars-per-token (the compression ratio a token-budget
    * planner consumes; exact single division of two exact longs).
    *
    * Scale: the trained vocabulary is a |vocab|-row relation; the
    * document word stream joins it on the word key (broadcast when
    * the vocab fits, shuffle otherwise — AQE's call), then one
    * map-side-combinable per-doc rollup. Word occurrences, not
    * distinct words, drive the join cardinality — exactly a
    * tokenizer's runtime cost model.
    */
  val textBpeTokenize: Q = (s, dir) => {
    val docs = table(s, dir, "documents")
    val model = trainedStateShared(s, dir)
      .select(col("w"), size(col("syms")).cast("long").as("n_syms"))
    docs
      .filter(trim(col("text")) =!= "")
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .join(model, "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_syms")).as("n_bpe_tokens"),
        sum(length(col("w")).cast("long")).as("n_chars"))
      .withColumn("chars_per_token",
        col("n_chars").cast("double") / col("n_bpe_tokens").cast("double"))
      .orderBy("doc_id")
  }

  /** The training loop: the executed rounds' rules (pa, pb, pc) in
    * training order. Each round's 0-or-1-row argmax is COLLECTED
    * (k-bounded driver data — the rules ARE the model) and a
    * sub-threshold or exhausted round ends the loop, so dead rounds
    * cost nothing (2.7× at k = 32 where 22 rounds are dead —
    * BASELINE.md r10-resume).
    */
  private def trainRules(docs: DataFrame, k: Int,
      minCount: Long): Seq[(String, String, Long)] = {
    var st = vocab(docs).localCheckpoint()
    val rules = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var live = true
    while (rules.length < k && live) {
      val best = bestRule(st, minCount)
        .select(col("pa"), col("pb"), col("pc")).collect()
      if (best.isEmpty) live = false
      else {
        val (pa, pb) = (best(0).getString(0), best(0).getString(1))
        rules += ((pa, pb, best(0).getLong(2)))
        val prev = st
        st = applyRule(st, pa, pb).localCheckpoint()
        Checkpoints.free(prev) // superseded round state
      }
    }
    Checkpoints.free(st) // rules are driver data; the state feeds nothing
    rules.toSeq
  }

  /** The RULE TABLE itself — the tokenizer artifact a serving system
    * loads: one row per executed merge round (round index, the pair,
    * its count at selection time), under the training parameters.
    * The table's length IS the effective training depth.
    */
  private[graft] def rulesTable(docs: DataFrame, k: Int,
      minCount: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    spark.createDataset(trainRules(docs, k, minCount).zipWithIndex
        .map { case ((pa, pb, pc), round) => (round, pa, pb, pc) })
      .toDF("round", "pa", "pb", "pc")
      .orderBy("round")
  }

  /** Session-shared trained tokenizer (round 15): FIVE keys consume
    * the identical (TrainRounds, TrainMinCount) model — the rule
    * table ([[textBpeRules]], [[textBpeApply]]) and the trained
    * final state ([[textBpeTrain]], [[textBpeTokenize]],
    * [[textBpeFertility]]) — and before sharing each re-ran the
    * whole k-round training chain per key (~10.7 s for the family
    * at sf0.1, isolated). One [[SessionCache]] entry per artifact
    * now holds them, which is also the deployment truth: a
    * tokenizer is TRAINED ONCE and served everywhere; no consumer
    * retrains per query. The rules build runs [[trainRules]] once;
    * the state entry replays the collected rules over the initial
    * vocabulary with row-local folds ([[applyRules]] — no pair
    * counting, no per-round checkpoints), which is exactly the
    * trained state by the left-greedy replay argument
    * ([[textBpeApply]]'s serving path, spec-pinned against a
    * reference scan in BpeMergeSpec).
    */
  private[graft] def trainedRulesShared(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    SessionCache.of(s, dir, "bpe-rules-k8") {
      rulesTable(table(s, dir, "documents"), TrainRounds, TrainMinCount)
    }

  /** The collected (pa, pb) rule list of [[trainedRulesShared]] in
    * training order — k-bounded driver data (the model artifact).
    */
  private def trainedRuleList(s: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(String, String)] =
    trainedRulesShared(s, dir).orderBy("round")
      .select(col("pa"), col("pb")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq

  /** Session-shared trained vocabulary state (w, cnt, syms) under the
    * training parameters — see [[trainedRulesShared]].
    */
  private[graft] def trainedStateShared(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    SessionCache.of(s, dir, "bpe-state-k8") {
      applyRules(vocab(table(s, dir, "documents")), trainedRuleList(s, dir))
    }

  /** The collected per-round rule rows are the key's own k-bounded
    * output (the IVF-centroid class of permitted driver data).
    */
  val textBpeRules: Q = (s, dir) =>
    trainedRulesShared(s, dir).orderBy("round")

  /** Apply an ORDERED rule list (round, pa, pb) to an arbitrary word
    * relation — the serving-side half of tokenizer training: rules
    * are applied left-greedily in training order, never re-derived.
    * `ruleList` is driver-side (k-bounded — the model artifact), each
    * rule inlined as literals, so the whole application is one lazy
    * row-local plan over the target vocabulary.
    */
  private[graft] def applyRules(targetVocab: DataFrame,
      ruleList: Seq[(String, String)]): DataFrame =
    ruleList.foldLeft(targetVocab) { case (st, (pa, pb)) => applyRule(st, pa, pb) }

  /** Cross-corpus tokenizer application (train here, serve there):
    * learn the rule list on `documents` under the training
    * parameters, then segment the PART-NAME corpus with it — one row
    * per distinct part-name word, its merged segmentation, symbol
    * count, and occurrence count. The oracle replays the training
    * chain AND the application chain relationally
    * ([[graft.oracle.BpeSql.applyChain]]), so learned-rule transfer
    * is itself hash-exact cross-engine.
    *
    * Scale: the rule list is k rows of driver data (the model); the
    * application is row-local folds over the target vocabulary —
    * no join between the corpora at all.
    */
  val textBpeApply: Q = (s, dir) => {
    val rules = trainedRuleList(s, dir)
    val target = vocab(table(s, dir, "part").select(col("p_name").as("text")))
    applyRules(target, rules)
      .select(col("w"), concat_ws(" ", col("syms")).as("merged"),
        size(col("syms")).cast("long").as("n_syms"), col("cnt").as("n_occ"))
      .orderBy("w")
  }

  /** Tokenizer-efficiency planning relation (§8.r13.8): per language,
    * the corpus-wide FERTILITY (BPE tokens per word) and compression
    * (chars per token) of the [[textBpeTrain]] tokenizer — the two
    * numbers a multilingual token-budget planner actually consumes
    * (a language whose fertility runs high is under-served by the
    * merge rules; chars/token is the budget conversion rate). Exact
    * integer cells (n_words, n_tokens, n_chars) per lang; the two
    * ratios are single divisions of exact longs, bit-stable
    * cross-engine like [[textBpeTokenize]]'s.
    *
    * Scale shape — the deliberate difference from [[textBpeTokenize]]:
    * word OCCURRENCES collapse to per-(lang, word) counts FIRST (one
    * map-side-combinable rollup), and only the distinct (lang, word)
    * relation joins the |vocab|-row model, weighted by `cnt`. At
    * 100 TB that swaps a join driven by ~10¹³ running words for one
    * driven by ~10⁸·|langs| distinct pairs — the same
    * aggregate-before-join discipline as the vocabulary trick the
    * trainer itself rides. Output is |langs| rows; everything after
    * the rollup is bounded.
    */
  val textBpeFertility: Q = (s, dir) => {
    val docs = table(s, dir, "documents")
    val model = trainedStateShared(s, dir)
      .select(col("w"), size(col("syms")).cast("long").as("n_syms"))
    docs
      .filter(trim(col("text")) =!= "")
      .select(col("lang"), explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("lang"), col("w"))
      .agg(count(lit(1)).as("cnt"))
      .join(model, "w")
      .groupBy(col("lang"))
      .agg(sum(col("cnt")).as("n_words"),
        sum(col("cnt") * col("n_syms")).as("n_tokens"),
        sum(col("cnt") * length(col("w")).cast("long")).as("n_chars"))
      .withColumn("fertility",
        col("n_tokens").cast("double") / col("n_words").cast("double"))
      .withColumn("chars_per_token",
        col("n_chars").cast("double") / col("n_tokens").cast("double"))
      .orderBy("lang")
  }

  val queries: Map[String, Q] = Map(
    "text_bpe_merge" -> textBpeMerge,
    "text_bpe_train" -> textBpeTrain,
    "text_bpe_tokenize" -> textBpeTokenize,
    "text_bpe_rules" -> textBpeRules,
    "text_bpe_apply" -> textBpeApply,
    "text_bpe_fertility" -> textBpeFertility,
  )
}
