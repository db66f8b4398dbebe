package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Readers.table

/** Round-6 third-wave curation operators — the published-literature
  * corpus-hygiene steps beyond the n-gram/sketch dedup family:
  * exact shared-substring detection (Lee et al., "Deduplicating
  * Training Data Makes Language Models Better"), Gopher-style rule
  * filters (Rae et al. 2021, Appendix A), BPE pair statistics (the
  * inner loop of Sennrich et al. tokenizer training), and per-class
  * embedding centroids (the first step of centroid-based corpus
  * diagnostics / IVF seeding).
  */
object Curation2 {

  import Relational.Q

  // ------------------------------------------ shared-substring spans

  /** Maximal shared token spans (≥ 4 tokens) between document pairs
    * within a language block — the shared detector behind
    * [[dedupSubstringSpan]] and [[removeSpans]]. Input `d` is
    * (doc_id, lang, toks) with size(toks) ≥ 4; output is one row per
    * maximal span: (lang, a_id, b_id, a_start, b_start, span_toks)
    * with a_id < b_id.
    *
    * Shape: position-tagged word grams self-join within a language
    * block; matching (a_pos, b_pos) hits collapse onto diagonals
    * (a_pos − b_pos), where a maximal run of consecutive hits IS a
    * maximal shared span — the classic gaps-and-islands
    * (a_pos − row_number) trick turns run-finding into one window +
    * one aggregation, clustered on the (pair, diagonal) key.
    *
    * SPINE CHOICE (round 16 — the r15 verdict's item 2, measured):
    * the gram is a word 4-GRAM, not the 3-gram of rounds 6–15. A
    * maximal shared span of m ≥ 4 tokens is EXACTLY a maximal run of
    * m−3 consecutive shared 4-grams on one (pair, diagonal) — the
    * emitted (a_start, b_start, span_toks) set is IDENTICAL to the
    * 3-gram run-≥-2 form (the spec replays the old form and asserts
    * equality), while the pair join's Σ df² hit volume drops by
    * roughly another vocabulary factor (4-gram df ≈ 3-gram df /
    * |vocab| on word-soup text — measured at sf0.1/sf1 in
    * BASELINE.md's r16 row). The minimum reportable span is 4
    * tokens, so g = 4 is the largest — and therefore cheapest —
    * spine that loses nothing: chance hits between unrelated docs
    * (the run-1 rows the 3-gram form generated and discarded) are
    * real 4-token spans and still emit, exactly as before.
    *
    * JOIN-KEY DISPATCH: `hashed = false` (every gate corpus) joins
    * on the gram STRING + lang — exact by construction, fully
    * oracle-able. `hashed = true` (the callers dispatch above
    * [[PairJoins.BandedPairVolume]] on the [[PairJoins.quadgramProfile]]
    * Σ df² probe — same switch point as the bigram set-similarity
    * family, identical shuffle economics) joins on
    * xxhash64(lang, gram) — 8 bytes on every Σ df² pair row instead
    * of a ~25-byte string — and re-verifies every emitted span with
    * a token-slice compare against both docs, so PRECISION IS 1
    * EXACTLY in both branches. The hashed branch's residual is
    * recall-side only: a 2⁻⁶⁴ hash collision adjacent to a true run
    * extends its island and fails the whole-span verify, so recall
    * is 1 − O(pair hits · 2⁻⁶⁴) — the same residual class as the
    * jaccard family's banded branch, and astronomically under any
    * corpus's noise floor.
    */
  private[graft] def sharedSpans(d: org.apache.spark.sql.DataFrame,
      hashed: Boolean): org.apache.spark.sql.DataFrame = {
    val gramAt = (i: Column) => concat_ws(" ", slice(col("toks"), i + 1, lit(4)))
    val idx = sequence(lit(0), size(col("toks")) - 4)
    // round 19 exchange-lens A/B, measured NEGATIVE and reverted
    // (guide §1.2): checkpointing the positional-gram explode for the
    // two self-join sides read dedup_substring_remove at 1.09-1.25 s
    // vs 0.29 s lazy (span 1.27-1.54 vs 1.19) — ReuseExchange already
    // recovers the aliased b-side at zero cost, and the detection +
    // rebuild otherwise fuse into one DAG the checkpoint barrier
    // breaks.
    val runs = if (hashed) {
      val g = d.select(col("doc_id"),
          explode(transform(idx, i => struct(i.as("pos"),
            xxhash64(col("lang"), gramAt(i)).as("gh")))).as("pg"))
        .select(col("doc_id"), col("pg.pos").as("pos"), col("pg.gh").as("gh"))
      val b = g.select(col("gh").as("b_gh"), col("doc_id").as("b_id"),
        col("pos").as("b_pos")).hint("shuffle_hash")
      val pairs = g.join(b, col("gh") === col("b_gh") && col("doc_id") < col("b_id"))
        .select(col("doc_id").as("a_id"), col("b_id"),
          col("pos").as("a_pos"), (col("pos") - col("b_pos")).as("diag"))
      val wi = Window.partitionBy(col("a_id"), col("b_id"), col("diag"))
        .orderBy(col("a_pos"))
      // verify: re-attach both docs' token arrays (lang rides the
      // hash, so equality re-checks it too) and keep only islands
      // whose full token slice really matches — precision 1 exactly
      pairs.withColumn("isl", col("a_pos") - row_number().over(wi))
        .groupBy(col("a_id"), col("b_id"), col("diag"), col("isl"))
        .agg(min(col("a_pos")).as("a_start"), count(lit(1)).as("run"))
        .join(d.select(col("doc_id").as("a_id"), col("lang"),
          col("toks").as("a_toks")), "a_id")
        .join(d.select(col("doc_id").as("b_id"), col("lang").as("b_lang"),
          col("toks").as("b_toks")), "b_id")
        .filter(col("lang") === col("b_lang") &&
          slice(col("a_toks"), col("a_start") + 1, col("run") + 3) ===
            slice(col("b_toks"), col("a_start") - col("diag") + 1, col("run") + 3))
        .select(col("lang"), col("a_id"), col("b_id"), col("diag"),
          col("a_start"), col("run"))
    } else {
      val g = d.select(col("doc_id"), col("lang"),
          explode(transform(idx, i => struct(i.as("pos"),
            gramAt(i).as("gram")))).as("pg"))
        .select(col("doc_id"), col("lang"), col("pg.pos").as("pos"),
          col("pg.gram").as("gram"))
      val b = g.select(col("lang").as("b_lang"), col("gram").as("b_gram"),
        col("doc_id").as("b_id"), col("pos").as("b_pos")).hint("shuffle_hash")
      val pairs = g.join(b,
          col("lang") === col("b_lang") && col("gram") === col("b_gram") &&
            col("doc_id") < col("b_id"))
        .select(col("lang"), col("doc_id").as("a_id"), col("b_id"),
          col("pos").as("a_pos"), (col("pos") - col("b_pos")).as("diag"))
      val wi = Window.partitionBy(col("a_id"), col("b_id"), col("diag"))
        .orderBy(col("a_pos"))
      pairs.withColumn("isl", col("a_pos") - row_number().over(wi))
        .groupBy(col("lang"), col("a_id"), col("b_id"), col("diag"), col("isl"))
        .agg(min(col("a_pos")).as("a_start"), count(lit(1)).as("run"))
    }
    // every 4-gram run of k ≥ 1 is a shared span of k + 3 ≥ 4 tokens
    runs.select(col("lang"), col("a_id"), col("b_id"), col("a_start"),
      (col("a_start") - col("diag")).as("b_start"),
      (col("run") + 3).as("span_toks"))
  }

  /** Exact shared token-span detection between document pairs — the
    * substring-dedup signal: two docs sharing a run of ≥4 consecutive
    * tokens (quotes, boilerplate, copy-paste) that set-based Jaccard
    * and MinHash dilute away when the docs are otherwise different.
    * Detector shape, spine choice, and the volume-gated join-key
    * dispatch live in [[sharedSpans]] — exact string keys on every
    * gate corpus, hashed keys + slice re-verify above
    * [[PairJoins.BandedPairVolume]] (precision 1 in both branches;
    * the hashed recall residual is O(2⁻⁶⁴) per pair hit).
    */
  val dedupSubstringSpan: Q = (s, dir) => {
    val d = table(s, dir, "documents")
      .filter(trim(col("text")) =!= "")
      .select(col("doc_id"), col("lang"), split(trim(col("text")), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 4)
    val hashed = PairJoins.quadgramProfile(s, dir)._2 > PairJoins.BandedPairVolume
    sharedSpans(d, hashed)
      .orderBy("lang", "a_id", "b_id", "a_start", "b_start", "span_toks")
  }

  /** Substring-dedup REMOVAL (round 8 — the step a training-data
    * pipeline actually runs after [[dedupSubstringSpan]] detects, per
    * Lee et al.): emit the CLEANED corpus with every detected shared
    * span cut from the deterministically-chosen side — the LARGER
    * doc_id (the span pairs are emitted with a_id < b_id, so the cut
    * side is always b; the smaller id keeps the canonical copy).
    * Every doc appears in the output: untouched docs pass through
    * with their whitespace-normalized text, cut docs carry
    * provenance (`n_spans_cut`, `toks_removed`).
    *
    * A doc can be the larger side of MANY pairs with overlapping
    * spans, so the cut intervals are merged first (classic
    * interval-union islands: a new island starts where `lo` clears
    * the running max of `hi`), which makes `toks_removed` exact and
    * the rebuild single-pass. The rebuild itself is ROW-LOCAL — the
    * merged cut list joins to the doc row and a nested higher-order
    * filter keeps tokens outside every interval; the corpus is never
    * exploded to token rows (at 100 TB the exploded join would
    * shuffle ~100× the corpus; this ships one small array per cut
    * doc instead). Only the span-pair relation — already bounded by
    * the detector's Σ df² economics — and the per-doc cut lists move.
    *
    * Deterministic policy + exact spans → fully oracle-able, unlike
    * most of the dedup family. Idempotence (`remove ∘ remove =
    * remove` on this corpus and on planted fixtures) is spec'd in
    * Curation2Spec — after the cut the larger doc no longer carries
    * the span, so a second detect+remove pass finds nothing new
    * (token joins at cut boundaries can in principle mint a new
    * shared span; the spec pins that it does not silently change results
    * on the corpora we certify). A doc whose text was entirely
    * duplicated content leaves the corpus with empty `clean_text` —
    * the operator's domain is non-empty docs, so iterating the
    * pipeline drops it, exactly as a curation pass should.
    */
  private[graft] def removeSpans(docs: org.apache.spark.sql.DataFrame,
      hashed: Boolean = false): org.apache.spark.sql.DataFrame = {
    val toksOf = split(trim(col("text")), "\\s+")
    val base = docs.filter(trim(col("text")) =!= "")
      .select(col("doc_id"), col("lang"), toksOf.as("toks"))
    val d = base.filter(size(col("toks")) >= 4)
    val spans = sharedSpans(d, hashed)
      // cut side = larger id (b); interval in b's token positions.
      // DISTINCT is load-bearing for ORACLE determinism, not values:
      // different a-partners can contribute IDENTICAL (doc, lo, hi)
      // rows, and the island construction below runs TWO window
      // passes (prev_hi, then the running island sum) — in Spark both
      // land in ONE WindowExec sort so any tie order is consistent,
      // but DuckDB evaluates the two CTE windows with independent
      // arbitrary tie orders over duplicate rows, and a disagreement
      // splits one merged island into two (observed ~1/3 of runs on
      // the regenerated sf0.1 corpus, doc 4442: n_spans_cut 1 vs 2,
      // same clean_text). Deduping makes (lo, hi) a total order, so
      // both engines' windows see one canonical sequence.
      .select(col("b_id").as("doc_id"),
        col("b_start").cast("int").as("lo"),
        (col("b_start") + col("span_toks")).cast("int").as("hi"))
      .distinct()
    // merge overlapping/adjacent-overlap intervals per doc
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("lo"), col("hi"))
    val merged = spans
      .withColumn("prev_hi",
        max(col("hi")).over(wd.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_isl",
        when(col("prev_hi").isNull || col("lo") > col("prev_hi"), 1).otherwise(0))
      .withColumn("cut_isl",
        sum(col("new_isl")).over(wd.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("cut_isl"))
      .agg(min(col("lo")).as("lo"), max(col("hi")).as("hi"))
    val cuts = merged.groupBy(col("doc_id"))
      .agg(collect_list(struct(col("lo"), col("hi"))).as("cuts"),
        count(lit(1)).as("n_spans_cut"),
        sum(col("hi") - col("lo")).cast("long").as("toks_removed"))
    base.join(cuts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        when(col("cuts").isNull, concat_ws(" ", col("toks")))
          .otherwise(concat_ws(" ", filter(col("toks"), (_, i) =>
            !exists(col("cuts"), c =>
              i >= c.getField("lo") && i < c.getField("hi")))))
          .as("clean_text"),
        coalesce(col("n_spans_cut"), lit(0L)).as("n_spans_cut"),
        coalesce(col("toks_removed"), lit(0L)).as("toks_removed"))
  }

  val dedupSubstringRemove: Q = (s, dir) => {
    val hashed = PairJoins.quadgramProfile(s, dir)._2 > PairJoins.BandedPairVolume
    removeSpans(table(s, dir, "documents"), hashed).orderBy("doc_id")
  }

  // ------------------------------------------------ n-gram novelty

  /** Per-document n-gram NOVELTY against the already-ingested corpus
    * prefix (docs with smaller doc_id = earlier arrivals): the share
    * of a doc's distinct 3-grams never seen in any earlier doc — the
    * freshness signal a curation pipeline uses to down-weight
    * boilerplate-heavy late arrivals and to measure how fast a crawl
    * stops contributing new content (novelty decay). Exact and
    * order-deterministic (the prefix order is the doc_id total
    * order), so fully oracle-able.
    *
    * Shape: distinct (doc_id, gram) explode → global min(doc_id) per
    * gram (partial-agg shuffle) → equi-join back on gram → per-doc
    * counts. Σ df economics — LINEAR in corpus gram volume, one
    * degree cheaper than the Σ df² pair-join family; both shuffles
    * partial-aggregate map-side. JOIN-KEY DISPATCH (round 16): below
    * [[PairJoins.HashKeyGramVolume]] on the [[PairJoins.quadgramProfile]]
    * Σ df probe — every gate corpus — the key is the gram STRING,
    * exact by construction and fully oracle-able; above it the key is
    * xxhash64(gram) — 8 bytes on the distinct, the rollup, and the
    * join-back exchanges instead of a ~25-byte string (counts
    * tolerate the ~2⁻⁶⁴ collision rate; spans/verification would
    * not, which is why [[sharedSpans]]'s hashed branch re-verifies
    * and this one need not). The novelty ratio is one IEEE double
    * division of two exact integers — correctly rounded and
    * identical in both engines.
    */
  private[graft] def noveltyOf(docs: org.apache.spark.sql.DataFrame,
      hashKey: Boolean): org.apache.spark.sql.DataFrame = {
    val toks = split(trim(col("text")), "\\s+")
    val d = docs.filter(trim(col("text")) =!= "")
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= 3)
    val gramAt = (i: Column) => concat_ws(" ", slice(col("toks"), i + 1, lit(3)))
    val g = d.select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("toks")) - 3),
          i => if (hashKey) xxhash64(gramAt(i)) else gramAt(i))).as("gram"))
      .distinct()
    val first = g.groupBy(col("gram")).agg(min(col("doc_id")).as("first_doc"))
    g.join(first, "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") < col("doc_id"), 1L).otherwise(0L))
          .as("n_seen_before"))
      .withColumn("novelty",
        (col("n_grams") - col("n_seen_before")).cast("double") / col("n_grams"))
  }

  val textNgramNovelty: Q = (s, dir) => {
    val hashKey = PairJoins.quadgramProfile(s, dir)._1 > PairJoins.HashKeyGramVolume
    noveltyOf(table(s, dir, "documents"), hashKey).orderBy(col("doc_id"))
  }

  // -------------------------------------- content-defined chunk dedup

  /** Chunk-level dedup via CONTENT-DEFINED chunking — the
    * between-documents boilerplate catcher that sits between
    * doc-level exact hashing (misses shared paragraphs) and substring
    * span detection (pays a gram self-join): token t opens a new
    * chunk iff its own md5 bucket falls under the gate (the simplest
    * content-defined cut — a boundary depends only on local content,
    * so shared passages chunk IDENTICALLY regardless of what
    * surrounds them, the property fixed-width windows lack and the
    * reason CDC beats fixed-size splitting for dedup), then identical
    * chunks across the corpus group on their text: min (doc, chunk)
    * keeps, the rest count as duplicates.
    *
    * Scale: posexplode (linear) → per-doc running boundary count (one
    * doc-partitioned window) → (doc, chunk) agg rebuilding chunk text
    * order-deterministically (sort_array over (pos, tok) structs) →
    * corpus-wide group on chunk hash. Every stage is partitioned;
    * total work is Σ tokens — one degree cheaper than any pair join.
    * Expected chunk length is the gate's reciprocal (~8 tokens at
    * bucket < 12); at 100 TB the md5 gate stays a pure function of
    * the token, so incremental corpora chunk stably.
    */
  val dedupCdcChunks: Q = (s, dir) => {
    val gate = Llm.hashBucket("graft-cdc")(col("tok")) < 12
    val toks = table(s, dir, "documents")
      .filter(trim(col("text")) =!= "")
      .select(col("doc_id"),
        posexplode(split(trim(col("text")), "\\s+")).as(Seq("pos", "tok")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val chunks = toks
      .withColumn("boundary", when(gate, 1L).otherwise(0L))
      .withColumn("chunk_id", sum(col("boundary")).over(w))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("tok")))),
        s => s.getField("tok")), " ").as("chunk_text"))
    chunks
      .groupBy(md5(col("chunk_text")).as("chunk_hash"))
      // lexicographic (doc, chunk) min packed into one long: chunk_id
      // is bounded by tokens-per-doc (< 10⁶ at any corpus), so the
      // packing is order-isomorphic and oracle-identical
      .agg(count(lit(1)).as("n_copies"),
        min(col("doc_id") * 1000000L + col("chunk_id")).as("kk"))
      .filter(col("n_copies") >= 2)
      .select(col("chunk_hash"), col("n_copies"),
        expr("kk div 1000000").as("keep_doc"),
        (col("kk") % 1000000L).as("keep_chunk"))
      .orderBy(col("chunk_hash"))
  }

  // ------------------------------------------------ Gopher rule gate

  /** Gopher-style document quality rules (Rae et al. 2021, Appendix
    * A), thresholds adapted to this corpus's 10–99-token word-soup
    * docs so every rule actually discriminates: word count ≥ 15,
    * mean word length in [4, 10], ≥80 % of words contain an
    * alphabetic character (integer-form compare — no float
    * threshold), and ≥2 distinct stopwords present. All four rules
    * are row-local expressions — the filter is embarrassingly
    * parallel and belongs BEFORE any shuffle-bearing dedup step in a
    * pipeline (cheapest gate first, same ordering
    * [[CurationPipeline]] uses).
    */
  /** The Gopher rule relation over an arbitrary documents frame —
    * shared by the registry key and [[CurationPipeline]]'s quality
    * gate (round 16) so the rule definitions cannot drift.
    */
  private[graft] def gopherScored(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val stop = array(Seq("the", "a", "of", "and", "to", "in", "is", "that")
      .map(lit): _*)
    docs
      .filter(trim(col("text")) =!= "")
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"),
        length(regexp_replace(trim(col("text")), "\\s+", "")).as("charlen"))
      .select(col("doc_id"), size(col("toks")).as("n_words"),
        (col("charlen").cast("double") / size(col("toks"))).as("mean_word_len"),
        size(filter(col("toks"), w => w.rlike("[a-z]"))).as("n_alpha"),
        size(array_intersect(col("toks"), stop)).as("n_stop"))
      .select(col("doc_id"), col("n_words"), col("mean_word_len"),
        (col("n_words") >= 15).as("rule_wordcount"),
        (col("mean_word_len") >= 4.0 && col("mean_word_len") <= 10.0).as("rule_wordlen"),
        (col("n_alpha") * 5 >= col("n_words") * 4).as("rule_alpha"),
        (col("n_stop") >= 2).as("rule_stopwords"))
      .withColumn("pass",
        col("rule_wordcount") && col("rule_wordlen") &&
          col("rule_alpha") && col("rule_stopwords"))
  }

  val textGopherRules: Q = (s, dir) =>
    gopherScored(table(s, dir, "documents")).orderBy("doc_id")

  // ------------------------------------------------ BPE pair counts

  /** Adjacent character-pair frequencies within words — the counting
    * step of one BPE merge iteration (Sennrich et al. 2016): the
    * most frequent pair is the next merge rule. Top 50 by (count,
    * pair) so the cut is total-ordered. Pair generation is row-local
    * (explode words → explode in-word bigrams); the count is one
    * map-side-combinable aggregation over a bounded key space
    * (alphabet², not corpus-sized) — at 100 TB the partial aggregate
    * collapses each task to at most |alphabet|² rows before the
    * exchange, so the shuffle is constant-size regardless of corpus.
    */
  val textBpePairs: Q = (s, dir) => {
    table(s, dir, "documents")
      .filter(trim(col("text")) =!= "")
      .select(explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(transform(sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(50)
  }

  // ------------------------------------- per-label embedding centroid

  /** Per-label element-wise embedding centroid — class centroids for
    * corpus diagnostics (nearest-centroid audits, IVF seeding,
    * per-class drift tracking). Output is (label, pos, mean) rows
    * rather than a reassembled vector so the oracle compare stays
    * scalar.
    *
    * Float discipline: element values are quantized by
    * `floor(x·10⁶)` into exact longs BEFORE summing — floor of
    * identical doubles is engine-identical (no round-half semantics
    * in play at all, unlike `round`), the long sum is exact and
    * association-free, and one final double division yields the mean.
    *
    * Scale: posexplode is row-local fan-out (64× here); the aggregate
    * is map-side combinable on a (|labels|·dim)-sized key space, so
    * the exchange is tiny no matter the corpus size.
    */
  val simCentroidLabel: Q = (s, dir) => {
    table(s, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "e")))
      .select(col("label"), col("pos"),
        floor(col("e").cast("double") * 1000000).cast("long").as("q"))
      .groupBy(col("label"), col("pos"))
      .agg((sum(col("q")).cast("double") /
        (count(lit(1)) * 1000000).cast("double")).as("mean_val"))
      .orderBy("label", "pos")
  }

  // ------------------------------------- quality-weighted sampling

  /** Quality-weighted admission sampling (the DCLM/FineWeb-style
    * soft gate): a document's keep-probability is proportional to its
    * quality — here the fraction of [[textGopherRules]] rules it
    * passes (score ∈ {0,¼,½,¾,1}) — implemented as a DETERMINISTIC
    * hash admission: keep iff `hash_bucket(doc_id) < 25·rules_passed`.
    * Pure integers end to end (no float threshold), salted
    * independently of the split/sample buckets (`graft-quality`) so
    * composing with [[Llm.sampleHashSplit]] stays uncorrelated, and
    * stable under corpus growth (a new crawl never flips an old doc's
    * admission). Row-local — embarrassingly parallel, no shuffle at
    * all before the output sort.
    */
  val sampleQualityWeighted: Q = (s, dir) => {
    val stop = array(Seq("the", "a", "of", "and", "to", "in", "is", "that")
      .map(lit): _*)
    table(s, dir, "documents")
      .filter(trim(col("text")) =!= "")
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"),
        length(regexp_replace(trim(col("text")), "\\s+", "")).as("charlen"))
      .select(col("doc_id"), size(col("toks")).as("n"),
        (col("charlen").cast("double") / size(col("toks"))).as("mwl"),
        size(filter(col("toks"), w => w.rlike("[a-z]"))).as("n_alpha"),
        size(array_intersect(col("toks"), stop)).as("n_stop"))
      .select(col("doc_id"),
        ((col("n") >= 15).cast("int") +
          (col("mwl") >= 4.0 && col("mwl") <= 10.0).cast("int") +
          (col("n_alpha") * 5 >= col("n") * 4).cast("int") +
          (col("n_stop") >= 2).cast("int")).as("rules_passed"),
        Llm.hashBucket("graft-quality")(col("doc_id")).as("bucket"))
      .filter(col("bucket") < col("rules_passed") * 25)
      .orderBy("doc_id")
  }

  // ------------------------------------------------ readability score

  /** Flesch-reading-ease-style readability per document — the
    * readability band filter some curation pipelines run alongside
    * the Gopher rules. Word soup has no sentence punctuation, so
    * sentences ≡ 1 and the formula reduces to
    * `206.835 − 1.015·words − 84.6·(syllables/words)` with the
    * standard vowel-group syllable proxy. Emitted as
    * `floor(score·10⁴)` micro-points (LONG): the ratio's denominator
    * is the word count, and word counts with only 2·5 factors put the
    * true value on exact 4-dp halves — floor has no rounding mode, so
    * the cross-engine compare is safe by construction (same
    * discipline as [[simCentroidLabel]]). Entirely row-local.
    */
  val textReadability: Q = (s, dir) => {
    val toks = split(trim(col("text")), "\\s+")
    table(s, dir, "documents")
      .filter(trim(col("text")) =!= "")
      .select(col("doc_id"), size(toks).as("n_words"),
        // vowel groups = split parts − 1 (split keeps boundary empties
        // in BOTH engines — verified); every word counts ≥1 syllable
        aggregate(transform(toks,
            w => size(split(w, "[aeiou]+")) - 1),
          lit(0), (acc, x) => acc + greatest(x, lit(1))).as("n_syll"))
      .select(col("doc_id"), col("n_words"), col("n_syll"),
        floor((lit(206.835) - lit(1.015) * col("n_words") -
          lit(84.6) * (col("n_syll").cast("double") / col("n_words"))) * 10000)
          .cast("long").as("score_e4"))
      .orderBy("doc_id")
  }

  val queries: Map[String, Q] = Map(
    "dedup_substring_span" -> dedupSubstringSpan,
    "dedup_substring_remove" -> dedupSubstringRemove,
    "text_ngram_novelty" -> textNgramNovelty,
    "dedup_cdc_chunks" -> dedupCdcChunks,
    "text_gopher_rules" -> textGopherRules,
    "text_bpe_pairs" -> textBpePairs,
    "sim_centroid_label" -> simCentroidLabel,
    "sample_quality_weighted" -> sampleQualityWeighted,
    "text_readability" -> textReadability,
  )
}
