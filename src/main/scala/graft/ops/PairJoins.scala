package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The n-gram near-dup pair join — ONE pipeline behind
  * `dedup_ngram_jaccard`, `dedup_ngram_containment` and the curation
  * composite's near-dedup stage, parameterized by a [[Measure]]:
  *
  *   bigram sets ([[bigramDocs]]) → hashed inverted index
  *   ([[gramIndex]]) and its df rollup → eager df probe
  *   ([[dfProfile]]) → one of three candidate generators → exact
  *   verify on the true gram arrays ([[verified]]).
  *
  * Hashed gram key: the index carries `xxhash64(lang, gram)`, one
  * fixed-width long — the string-keyed join shuffled ~4× more bytes
  * and dominated the runtime. A 64-bit collision only MERGES grams,
  * i.e. only inflates a shared count or adds a candidate, so no
  * generator has false negatives and the verify restores exactness
  * (it also re-checks lang, which the hash carries).
  *
  * Candidate dispatch, from the (hot-gram share, Σ df²) probe:
  *  - hot-gram share `maxDf²/Σdf` > 1 → PPJoin prefix filter
  *    ([[prefixCandidates]]). Measured 0.04–0.09 on corpora where the
  *    shared-count join wins vs 24.4 on a Zipf corpus where the prefix
  *    filter wins 4–7× (BASELINE.md r6 prefix-filter row: uniform
  *    3.0 vs 5.4 s, Zipf 41–74 vs 10.3 s, identical outputs) — the
  *    1.0 switch sits three orders of magnitude from both sides.
  *  - Σ df² > [[BandedPairVolume]] → MinHash-banded front-end
  *    ([[bandedCandidates]]), plus the [[smallSideCandidates]]
  *    supplement for a measure that carries one. On a dense uniform
  *    vocabulary Σ df² is corpus-quadratic (1.5·10⁹ rows, disk-full
  *    DNF at 50 k docs — BASELINE.md r14 scaling row) and nothing is
  *    rare enough for a prefix.
  *  - otherwise → shared-count join ([[sharedCountCandidates]]).
  *
  * EXACTNESS CONTRACT: below [[BandedPairVolume]] (every oracle-gate
  * corpus: sf0.01 ≈ 2·10⁵, sf0.1 ≈ 2·10⁷) candidates come from a
  * lossless join and the output is EXACT. Above it the output is a
  * verified SUBSET (precision 1 by construction) whose recall is
  * seeded-probabilistic with the per-measure bound stated on
  * [[Jaccard]] and [[Containment]].
  *
  * Pair ids are the documents' int64 `doc_id`s end to end: pairs group
  * on `(a_id, b_id)` — no id is packed into 32 bits or narrowed.
  */
private[graft] object PairJoins {

  /** The constants that separate one near-dup measure from another.
    * `countBound(shared, aSz, bSz)` is the integer form of
    * `score ≥ tau` over a shared-gram count (a hash-inflated count
    * only loosens it); `scoreOf` is the exact score the verify keeps.
    * `prefixDivisor` is the pigeonhole prefix: a qualifying pair
    * leaves the smaller doc fewer than ⌊gsz/prefixDivisor⌋+1
    * unshared grams. `sizeRatio = Some(r)` prunes pairs with
    * r·min < max. `smallSideCap = Some(c)` adds the small-side
    * supplement to the banded branch for docs of ≤ c grams.
    */
  final case class Measure(
      score: String,
      tau: Double,
      prefixDivisor: Int,
      sizeRatio: Option[Int],
      nPerm: Int,
      bands: Int,
      smallSideCap: Option[Int],
      countBound: (Column, Column, Column) => Column,
      scoreOf: (Column, Column, Column) => Column)

  /** Jaccard ≥ 0.5. Integer bounds: J ≥ τ ⇒ τ·|B| ≤ |A|, i.e.
    * 2·min ≥ max; J ≥ τ ⟺ shared·(1+τ) ≥ τ·(|A|+|B|) ⟺
    * 3·shared ≥ |A|+|B|; the smaller doc's unshared grams number
    * ≤ gsz·(1−τ)/(1+τ) = gsz/3. Banding 16 bands × 2 rows:
    * P[candidate | J = τ] = 1 − (1 − 0.25)¹⁶ = 0.990, measured recall
    * 1.0000 at sf0.1/sf0.3/sf1 (BASELINE.md r15 promotion row).
    */
  val Jaccard: Measure = Measure("jaccard", 0.5, prefixDivisor = 3,
    sizeRatio = Some(2), nPerm = 32, bands = 16, smallSideCap = None,
    countBound = (sh, a, b) => lit(3) * sh >= a + b,
    scoreOf = (sh, a, b) => sh.cast("double") / (a + b - sh).cast("double"))

  /** Small-side cap (in grams) of [[Containment]]'s supplement:
    * 256 bigrams ≈ a 258-token document — past the quote/boilerplate
    * sizes the tiny-inside-huge signal targets, while the
    * supplement's volume Σ dfS·df stays small (small docs contribute
    * few grams each).
    */
  val SmallSideGrams: Int = 256

  /** Containment `|A∩B| / min(|A|,|B|)` ≥ 0.8 — catches a short doc
    * embedded in a long one, where Jaccard is ~|A|/|B| ≈ 0. NO size
    * ratio prune: tiny-inside-huge is the signal. Integer bound
    * 5·shared ≥ 4·min; prefix ⌊gsz/5⌋+1.
    *
    * Banding 64 bands × 2 rows: a 0.8-contained pair at size ratio k
    * has J = 0.8/(k + 0.2), so P = 1−(1−J²)⁶⁴ reads ≈ 1.0 at k ≤ 2,
    * 0.98 at k = 3, 0.87 at k = 4, 0.71 at k = 5. 1-row bands were
    * measured unusable: at the corpus's background J ≈ 0.006 they
    * admit ~13 % of all in-lang pairs (28.8 s vs 18.8 s exact at
    * sf0.3); 2-row bands admit ~0.2 %. The small-side supplement
    * ([[SmallSideGrams]]) finds every contained pair whose smaller
    * side is small EXACTLY at any ratio, so the one residual is a
    * pair with BOTH sides over the cap at a ratio high enough to
    * degrade banding (BASELINE.md r15 planted-ratio row); verbatim
    * quotes at any ratio are the substring family's job.
    */
  val Containment: Measure = Measure("containment", 0.8, prefixDivisor = 5,
    sizeRatio = None, nPerm = 128, bands = 64, smallSideCap = Some(SmallSideGrams),
    countBound = (sh, a, b) => lit(5) * sh >= lit(4) * least(a, b),
    scoreOf = (sh, a, b) => sh.cast("double") / least(a, b).cast("double"))

  /** (doc_id, lang, gsz, grams): the distinct token-bigram set of
    * each document of a (doc_id, lang, text) frame, empty sets
    * dropped. Not materialized: the gram arrays are wide, and
    * serializing them measured slower than re-running the map-only
    * tokenize per consumer (2.74 vs 2.58 s same-JVM A/B at sf0.1).
    */
  def bigramDocs(docs: DataFrame): DataFrame = {
    val grams = graft.functions.TextExpressions.wordShingles(col("text"), 2)
    docs.select(col("doc_id"), col("lang"), grams.as("grams"))
      .filter(size(col("grams")) > 0)
      .select(col("doc_id"), col("lang"), size(col("grams")).as("gsz"), col("grams"))
  }

  /** The narrow (doc_id, gsz, gh = xxhash64(lang, gram)) inverted
    * index over [[bigramDocs]] rows. */
  def gramIndex(d: DataFrame): DataFrame =
    d.select(col("doc_id"), col("gsz"), explode(col("grams")).as("gram"), col("lang"))
      .select(col("doc_id"), col("gsz"), xxhash64(col("lang"), col("gram")).as("gh"))

  /** The (gh, df) gram-frequency rollup of a [[gramIndex]]. */
  def gramDfreq(inv: DataFrame): DataFrame =
    inv.groupBy(col("gh")).agg(count(lit(1)).as("df"))

  /** [[gramIndex]] of `dir`'s documents table, one [[SessionCache]]
    * checkpoint shared by both registry keys and the eager probe —
    * one inverted index serves every dedup policy over it. */
  def bigramInv(s: SparkSession, dir: String): DataFrame =
    SessionCache.of(s, dir, "ngram-inv2") {
      gramIndex(bigramDocs(graft.io.Readers.table(s, dir, "documents")))
    }

  /** [[gramDfreq]] of [[bigramInv]], shared the same way. */
  def bigramDfreq(s: SparkSession, dir: String): DataFrame =
    SessionCache.of(s, dir, "ngram-df2") { gramDfreq(bigramInv(s, dir)) }

  /** Near-dup pairs (lang, a_id, b_id, score) of `dir`'s documents
    * table, on the session-cached index. */
  def nearDupPairs(s: SparkSession, dir: String, m: Measure): DataFrame =
    nearDupPairs(bigramDocs(graft.io.Readers.table(s, dir, "documents")),
      bigramInv(s, dir), bigramDfreq(s, dir), m)

  /** Near-dup pairs of an arbitrary (doc_id, lang, text) frame — the
    * composite's survivor set, where a near-dup whose canonical copy
    * died upstream must still pair with the surviving copies. The
    * index stays lazy: checkpointing it for its three consumers (the
    * probe and both join sides) measured slower (composite stages 4/5
    * 3.94/4.29 s vs 3.21/3.07 s lazy) — ReuseExchange already
    * recovers the aliased side within the main action. */
  def nearDupPairs(docs: DataFrame, m: Measure): DataFrame = {
    val d = bigramDocs(docs)
    val inv = gramIndex(d)
    nearDupPairs(d, inv, gramDfreq(inv), m)
  }

  private def nearDupPairs(d: DataFrame, inv: DataFrame, dfreq: DataFrame,
      m: Measure): DataFrame = {
    val (hotShare, predVolume) = dfProfile(dfreq)
    val candidates =
      if (hotShare > 1.0) prefixCandidates(inv, dfreq, m)
      else if (predVolume > BandedPairVolume) {
        val banded = bandedCandidates(d, m)
        m.smallSideCap match {
          // gated on its own predicted volume, so a mostly-small
          // corpus cannot reopen the Σ df² door banding closed
          case Some(cap) if smallSideVolume(inv, dfreq, cap) <= BandedPairVolume =>
            banded.union(smallSideCandidates(d, inv, cap, m)).distinct()
          case _ => banded
        }
      } else sharedCountCandidates(d, inv, m)
    verified(candidates, d, m)
  }

  /** Both dispatch scalars of a (gh, df) relation in ONE eager
    * aggregation: the hot-gram share `maxDf²/Σdf` (the pair rows the
    * hottest gram generates per gram row of input) and the predicted
    * shared-count volume Σ df². (0, 0) on an empty relation, where
    * both aggregates are NULL and every branch returns no pairs.
    * Double math: per-gram df² stays exact to df ≈ 9·10⁷ and the
    * switch needs one significant digit.
    */
  private def dfProfile(dfreq: DataFrame): (Double, Double) = {
    val r = dfreq.agg(sum(col("df")).as("n"), max(col("df")).as("maxdf"),
      sum(col("df").cast("double") * col("df").cast("double")).as("v")).head()
    if (r.isNullAt(0) || r.isNullAt(1)) (0.0, 0.0)
    else (r.getLong(1).toDouble * r.getLong(1).toDouble /
      r.getLong(0).max(1L).toDouble, r.getDouble(2))
  }

  /** Candidates of the shared-count join: self-join the index on the
    * gram hash (Σ df² narrow rows — the join's irreducible volume),
    * count shared hashes per pair, keep pairs passing the measure's
    * count bound. shuffle_hash, not broadcast: partitioning both
    * sides on the hash gives each task a small local map (1.8× faster
    * than probing one broadcast map at sf0.1), and a 100 TB index
    * could never broadcast anyway.
    */
  private def sharedCountCandidates(d: DataFrame, inv: DataFrame,
      m: Measure): DataFrame = {
    val a = inv.select(col("gh"), col("doc_id").as("a_id"), col("gsz").as("a_sz"))
    val b = inv.select(col("gh").as("b_gh"), col("doc_id").as("b_id"),
      col("gsz").as("b_sz")).hint("shuffle_hash")
    countBounded(
      a.join(b, col("gh") === col("b_gh") && col("a_id") < col("b_id") &&
          ratioCond(m, col("a_sz"), col("b_sz")))
        .select(col("a_id"), col("b_id")),
      d, m)
  }

  /** Count (a_id, b_id) rows — one per shared gram hash — and keep
    * the pairs passing the measure's count bound. The count carries
    * no sizes: a bare count keeps the partial-aggregation map, the
    * hottest structure of the family, narrow (measured 2.82/3.26 s
    * with count + two max sizes vs 2.21/2.06 s bare, isolated
    * jaccard at sf0.1). Sizes re-attach to the pair-distinct counted
    * relation from the (doc_id, gsz) dimension, with no join hint:
    * the planner broadcasts it while it is small and shuffles it once
    * it grows with the corpus.
    */
  private def countBounded(pairRows: DataFrame, d: DataFrame, m: Measure): DataFrame =
    pairRows.groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("shared_h"))
      .join(d.select(col("doc_id").as("a_id"), col("gsz").as("a_sz")), "a_id")
      .join(d.select(col("doc_id").as("b_id"), col("gsz").as("b_sz")), "b_id")
      .filter(m.countBound(col("shared_h"), col("a_sz"), col("b_sz")))
      .select(col("a_id"), col("b_id"))

  private def ratioCond(m: Measure, aSz: Column, bSz: Column): Column =
    m.sizeRatio.fold(lit(true))(r => lit(r) * aSz >= bSz && lit(r) * bSz >= aSz)

  /** Keep the candidate pairs (a_id < b_id) whose EXACT score over the
    * true gram arrays reaches the measure's threshold:
    * (lang, a_id, b_id, <score>). `array_intersect` is O(|A|+|B|) per
    * pair; lang is re-checked so even a 64-bit gram-hash collision
    * cannot admit a cross-lang pair.
    */
  private[graft] def verified(candidates: DataFrame, d: DataFrame, m: Measure): DataFrame =
    candidates
      .join(d.select(col("doc_id").as("a_id"), col("lang"),
        col("grams").as("a_grams"), col("gsz").as("a_sz")), "a_id")
      .join(d.select(col("doc_id").as("b_id"), col("lang").as("b_lang"),
        col("grams").as("b_grams"), col("gsz").as("b_sz")), "b_id")
      .filter(col("lang") === col("b_lang"))
      .withColumn("shared", size(array_intersect(col("a_grams"), col("b_grams"))))
      .withColumn(m.score, m.scoreOf(col("shared"), col("a_sz"), col("b_sz")))
      .filter(col(m.score) >= m.tau)
      .select(col("lang"), col("a_id"), col("b_id"), col(m.score))

  /** Positional word-4-gram frequency rollup of the documents table
    * — the span/novelty text families' probe relation (round 16, the
    * r15 verdict's item 2), shared via [[SessionCache]] across the
    * `dedup_substring_span` / `dedup_substring_remove` /
    * `text_ngram_novelty` dispatches. df counts OCCURRENCES
    * (positions), not docs: the span detector joins every position,
    * so Σ df² predicts its pair-hit volume exactly the way
    * [[bigramDfreq]]'s does for the set-similarity family.
    */
  def quadgramDfreq(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    SessionCache.of(s, dir, "ngram-df4pos") {
      val toks = split(trim(col("text")), "\\s+")
      graft.io.Readers.table(s, dir, "documents")
        .filter(trim(col("text")) =!= "")
        .select(col("lang"), toks.as("toks"))
        .filter(size(col("toks")) >= 4)
        .select(explode(transform(sequence(lit(0), size(col("toks")) - 4),
          i => xxhash64(col("lang"),
            concat_ws(" ", slice(col("toks"), i + 1, lit(4)))))).as("gh"))
        .groupBy(col("gh")).agg(count(lit(1)).as("df"))
    }

  /** (Σ df, Σ df²) of [[quadgramDfreq]] in ONE eager aggregation —
    * the two dispatch scalars of the positional text families: Σ df
    * (total gram positions) gates the LINEAR keys' hash-key swap
    * ([[HashKeyGramVolume]]), Σ df² the span detector's join-key
    * shape ([[BandedPairVolume]] — same switch point as the bigram
    * family; the shuffle economics are identical). (0, 0) on an
    * empty or all-short corpus, where every consumer emits nothing
    * on either branch anyway.
    */
  def quadgramProfile(s: org.apache.spark.sql.SparkSession, dir: String): (Double, Double) = {
    val r = quadgramDfreq(s, dir).agg(sum(col("df")).as("n"),
      sum(col("df").cast("double") * col("df").cast("double")).as("v")).head()
    if (r.isNullAt(0)) (0.0, 0.0)
    else (r.getLong(0).toDouble, r.getDouble(1))
  }

  /** [[quadgramProfile]] over an arbitrary documents frame (round 16
    * — the curation composite's survivor-set stages need the same
    * dispatch scalars as the registry keys, but their input is a
    * filtered frame, not `dir`'s table, so the SessionCache'd rollup
    * does not apply). One eager aggregation; (0, 0) on an empty or
    * all-short frame.
    */
  def quadgramProfileOf(docs: DataFrame): (Double, Double) = {
    val toks = split(trim(col("text")), "\\s+")
    val r = docs
      .filter(trim(col("text")) =!= "")
      .select(col("lang"), toks.as("toks"))
      .filter(size(col("toks")) >= 4)
      .select(explode(transform(sequence(lit(0), size(col("toks")) - 4),
        i => xxhash64(col("lang"),
          concat_ws(" ", slice(col("toks"), i + 1, lit(4)))))).as("gh"))
      .groupBy(col("gh")).agg(count(lit(1)).as("df"))
      .agg(sum(col("df")).as("n"),
        sum(col("df").cast("double") * col("df").cast("double")).as("v")).head()
    if (r.isNullAt(0)) (0.0, 0.0)
    else (r.getLong(0).toDouble, r.getDouble(1))
  }

  /** Switch point for the linear text keys' hash-key swap (round
    * 16): above ~10⁸ gram positions the distinct/aggregate/join
    * shuffles of the Σ df–linear keys move gigabytes of gram STRINGS
    * that an 8-byte xxhash64 key carries at roughly a third of the
    * width; below it the string key is exact-by-construction and
    * oracle-able. Counts above the switch tolerate the ~2⁻⁶⁴
    * collision rate (stated per key). The gate corpora sit 2–3
    * orders of magnitude below (sf0.01 ≈ 2·10⁴ positions,
    * sf0.1 ≈ 3·10⁵), so every oracle run stays on the exact branch.
    */
  val HashKeyGramVolume: Double = 1e8

  /** Switch point for the MinHash-banded front-end: above this
    * predicted volume the exact pair join's shuffle dominates and
    * the banded candidate generator feeds the same exact verify.
    * Placement is measured (BASELINE.md r14 MinHash-LSH front-end
    * and r15 promotion rows): the oracle-gate corpora sit 1–2 orders
    * below (sf0.01 ≈ 2·10⁵, sf0.1 ≈ 2·10⁷ — both keys stay on the
    * exact branches there, preserving the hash-exact contract),
    * while the corpora where banding measurably wins sit above
    * (sf0.3 ≈ 2·10⁸: banded 10.5 s vs exact 17.5 s; sf1 ≈ 1.9·10⁹:
    * 19.1 s vs 71.4 s / containment DNF), with recall 1.0000 at
    * every measured scale and the output a verified subset by
    * construction.
    */
  val BandedPairVolume: Double = 1e8

  /** MinHash-LSH candidate pairs (a_id < b_id) over [[bigramDocs]]
    * rows — the dense-vocabulary front-end: `m.nPerm` seeded minhashes
    * per gram set → `m.bands` hashed band keys → lang-blocked band
    * equi-join → distinct pairs, with the measure's size-ratio prune
    * inside the join. P[candidate | J] = 1−(1−J^(nPerm/bands))^bands;
    * candidate volume is Σ over (lang, band, bandHash) buckets of
    * C(bucket, 2), measured ~500× under Σ df² at sf1.
    */
  private[graft] def bandedCandidates(d: DataFrame, m: Measure): DataFrame = {
    val rpb = m.nPerm / m.bands
    require(rpb * m.bands == m.nPerm, s"bands=${m.bands} must divide nPerm=${m.nPerm}")
    val sigs = d.select(col("doc_id"), col("lang"), col("gsz"),
      graft.functions.TextExpressions.minHashSigs(col("grams"), m.nPerm).as("sig"))
    val bandCols = (0 until m.bands).map { b =>
      struct(lit(b).as("band"),
        hash((b * rpb until (b + 1) * rpb)
          .map(i => element_at(col("sig"), i + 1)): _*).as("bh")).as(s"b$b")
    }
    // both sides of the self-join read the banded relation;
    // the pin computes the signatures once
    val banded = Checkpoints.pin(sigs.select(col("doc_id"), col("lang"), col("gsz"),
        explode(array(bandCols: _*)).as("e"))
      .select(col("doc_id"), col("lang"), col("gsz"),
        col("e.band").as("band"), col("e.bh").as("bh")))
    banded.as("a").join(banded.as("b"),
        col("a.lang") === col("b.lang") && col("a.band") === col("b.band") &&
        col("a.bh") === col("b.bh") && col("a.doc_id") < col("b.doc_id") &&
        ratioCond(m, col("a.gsz"), col("b.gsz")))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
  }

  /** Predicted pair-row volume of [[smallSideCandidates]] —
    * Σ_g dfS(g)·df(g) where dfS counts only docs with
    * gsz ≤ `smallCap` — evaluated eagerly from the two small df
    * rollups (no corpus pass). 0.0 when no small docs exist.
    */
  private def smallSideVolume(inv: DataFrame, dfreq: DataFrame, smallCap: Int): Double = {
    val dfs = inv.filter(col("gsz") <= smallCap)
      .groupBy(col("gh")).agg(count(lit(1)).as("dfs"))
    val r = dfs.join(dfreq, "gh")
      .agg(sum(col("dfs").cast("double") * col("df").cast("double")).as("v"))
      .head()
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }

  /** Small-side exhaustive candidate pairs — the asymmetry complement
    * to [[bandedCandidates]], whose collision probability degrades
    * with size ratio while a high-ratio pair has a SMALL small side:
    * join the grams of docs with gsz ≤ `smallCap` against the whole
    * index and keep pairs passing the measure's count bound. Every
    * qualifying pair whose smaller side has ≤ `smallCap` grams is
    * found at ANY ratio. Cost is [[smallSideVolume]] rows.
    */
  private[graft] def smallSideCandidates(d: DataFrame, inv: DataFrame, smallCap: Int,
      m: Measure): DataFrame = {
    val sa = inv.filter(col("gsz") <= smallCap)
      .select(col("gh"), col("doc_id").as("s_id"), col("gsz").as("s_sz"))
    val fb = inv.select(col("gh").as("f_gh"), col("doc_id").as("f_id"),
      col("gsz").as("f_sz")).hint("shuffle_hash")
    // the indexed side is the strictly-smaller one (ties break on id),
    // so a both-small pair joins exactly once per shared gram
    countBounded(
      sa.join(fb, col("gh") === col("f_gh") &&
          (col("s_sz") < col("f_sz") ||
            (col("s_sz") === col("f_sz") && col("s_id") < col("f_id"))))
        .select(least(col("s_id"), col("f_id")).as("a_id"),
          greatest(col("s_id"), col("f_id")).as("b_id")),
      d, m)
  }

  /** PPJoin prefix-filter candidate pairs (a_id < b_id; AllPairs /
    * PPJoin — Bayardo WWW'07, Xiao WWW'08): index only
    * each doc's ⌊gsz/m.prefixDivisor⌋+1 RAREST grams (rarity from
    * `dfreq`, ties broken on the hash for determinism) — by the
    * measure's pigeonhole bound a qualifying pair MUST collide inside
    * a prefix. Candidate volume is Σ over prefix grams of df — immune
    * to the hot-gram df² explosion of the shared-count join.
    */
  private def prefixCandidates(inv: DataFrame, dfreq: DataFrame,
      m: Measure): DataFrame = {
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("gh"))
    val prefix = inv.join(dfreq, "gh")
      .withColumn("rn", row_number().over(wDoc))
      .filter(col("rn") <= floor(col("gsz") / m.prefixDivisor) + 1)
      .select(col("gh"), col("doc_id").as("p_id"), col("gsz").as("p_sz"))
    val full = inv.select(col("gh").as("f_gh"), col("doc_id").as("f_id"),
      col("gsz").as("f_sz")).hint("shuffle_hash")
    prefix.join(full, col("gh") === col("f_gh") && col("p_id") =!= col("f_id") &&
        ratioCond(m, col("p_sz"), col("f_sz")))
      .select(least(col("p_id"), col("f_id")).as("a_id"),
        greatest(col("p_id"), col("f_id")).as("b_id"))
      .distinct()
  }
}
