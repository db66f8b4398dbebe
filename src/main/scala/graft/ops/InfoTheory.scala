package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.NumericExpressions.{exp2Fixed, log2Fixed}
import graft.io.Readers.table

/** Information-theoretic corpus statistics on the oracle-able float
  * frontier (SURVEY §8.r9.5): entropy and Zipf-slope scoring whose
  * logarithms are the fixed-point integer
  * [[graft.functions.NumericExpressions.Log2Fixed]] rather than libm
  * `log` — so every key here is EXACTLY reproducible cross-engine
  * (the DuckDB oracle replays the identical integer recurrence via
  * [[graft.oracle.Log2Sql]]) while staying within 3·10⁻⁶ of the true
  * base-2 logarithm. The float keys that preceded this family
  * (`text_unigram_logprob`) had to round-and-pray at 1e-6; these
  * hash-match by construction.
  *
  * All three keys share one shape: a map-side-combinable counting
  * aggregate (the only full shuffle), a per-COUNT scalar log — a few
  * dozen codegen'd long ops, evaluated after aggregation so its cost
  * scales with DISTINCT counts, not rows — and a final single
  * correctly-rounded double conversion for presentation. No driver
  * state, no collect, no UDF.
  */
object InfoTheory {

  import Relational.Q

  /** Canonical tokenizer of the text family (same normalization as
    * `text_unigram_logprob` / the dedup oracles): trim → collapse
    * whitespace → lower → split on single space, drop empties.
    */
  private def tokens = split(
    lower(regexp_replace(trim(col("text")), "\\s+", " ")), " ")

  // ---------------------------------- session-shared token relations
  //
  // Round 15: TEN keys in this file re-tokenized the corpus per query
  // (posexplode + regex normalization each time), and four of them
  // additionally re-ran the identical per-doc lead() window to form
  // bigrams (~10 s for the family at sf0.1, isolated). The four
  // relations below are built once per (session, dir) and serve every
  // consumer — the [[SessionCache]] discipline the graph edges, the
  // events daily rollup, and the ngram inverted index already ride.
  // Deployment analogue: a tokenized corpus is materialized once
  // (the durable tier being [[VocabService]]'s persisted counts),
  // not re-derived per query. Each relation is EXACTLY the
  // subexpression the consumers previously inlined, so results are
  // unchanged (the oracle gate re-verifies every consumer).

  /** Exploded token spine (doc_id, lang, pos, tok), empties dropped —
    * the canonical-tokenizer stream every text key starts from.
    */
  private[graft] def tokSpine(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    SessionCache.of(s, dir, "tok-spine") {
      table(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          posexplode(tokens).as(Seq("pos", "tok")))
        .filter(col("tok") =!= "")
    }

  /** Adjacent-token bigrams (doc_id, lang, tok, nxt): the spine under
    * ONE per-doc lead() window, shared by the four bigram LM keys.
    */
  private[graft] def tokBigrams(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    SessionCache.of(s, dir, "tok-bigram") {
      val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      tokSpine(s, dir)
        .withColumn("nxt", lead(col("tok"), 1).over(wDoc))
        .filter(col("nxt").isNotNull)
        .select(col("doc_id"), col("lang"), col("tok"), col("nxt"))
    }

  /** Per-(lang, tok) occurrence counts — [[vocabCounts]]'s shape, the
    * relation the corpus-level divergence/curve keys share.
    */
  private[graft] def tokLangCounts(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    SessionCache.of(s, dir, "tok-unicnt") {
      tokSpine(s, dir).groupBy(col("lang"), col("tok"))
        .agg(count(lit(1)).as("cnt"))
    }

  /** Per-(doc, tok) occurrence counts — the entropy/perplexity keys'
    * first exchange, done once.
    */
  private[graft] def tokDocCounts(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    SessionCache.of(s, dir, "tok-doccnt") {
      tokSpine(s, dir).groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("cnt"))
    }

  /** Per-document Shannon entropy (bits/token) of the word-unigram
    * distribution — the vocabulary-diversity quality signal (low
    * entropy ⇒ boilerplate/repetition; pairs with
    * `text_repetition_stats` in a filtering pipeline).
    *
    * H = log2 n − (Σ cᵢ·log2 cᵢ)/n evaluated as fixed-point
    * integers: H₂₀ = L₂₀(n) − (Σ cᵢ·L₂₀(cᵢ)) div n, emitted as
    * H₂₀/2²⁰ (exact: H₂₀ < 2²⁶). Magnitudes: the worst case is one
    * dominant token (c₁ ≈ n), where Σ cᵢ·L₂₀(cᵢ) ≈ n·log2(n)·2²⁰ —
    * this stays under the signed-64 max while n·log2(n) < 2⁴³,
    * i.e. up to ≈ 2·10¹¹ tokens per document. Beyond that, widen
    * the sum to DECIMAL(38,0) (same plan shape, ~2× agg cost).
    *
    * Scale (round 16 rewrite — the r15 ADVICE stale-doc item; the
    * paragraph previously here described an explicit
    * repartition(doc_id) single-exchange plan that round 15's
    * sharing RETIRED): the key now reads the shared
    * [[tokDocCounts]] rollup — one (doc, tok) exchange with map-side
    * combine, built once per session and serving the whole
    * entropy/perplexity family — and adds only a second tiny
    * exchange of the per-(doc, tok) partials down to doc_id. The
    * old measured trade (one fat doc_id exchange, no combine:
    * 0.43 vs 0.51 s warm at sf0.1) was a per-key optimum; once the rollup is SHARED, its build
    * amortizes across every consumer and the combine-first shape
    * wins outright — the family's marginal cost per key is the
    * small second exchange. The old skew caveat inverts with it:
    * (doc, tok) hashing SPREADS a mega-doc across tasks
    * (the BASELINE.md r10 entropy-scale row's 10⁸-token straggler
    * applied to the retired repartition shape, not this one); the residual skew
    * unit is one (doc, tok) pair — a degenerate single-token
    * mega-doc — which the combine absorbs map-side.
    */
  val textEntropyExact: Q = (s, dir) => {
    tokDocCounts(s, dir)
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("cnt") * log2Fixed(col("cnt"))).as("scl"))
      .withColumn("h20",
        log2Fixed(col("n_tokens")) - expr("scl div n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        (col("h20").cast("double") / 1048576.0).as("entropy_bits"))
      .orderBy("doc_id")
  }

  /** Per-user behavioral entropy over the event-type distribution —
    * the engagement-diversity segmentation feature (entropy 0 ⇒
    * single-action users; log2 k ⇒ uniform across k types). Same
    * fixed-point pipeline as [[textEntropyExact]] on the events
    * stream table.
    */
  val eventsEntropyUser: Q = (s, dir) =>
    entropyByUser(table(s, dir, "events"))

  /** The batch pipeline behind [[eventsEntropyUser]], exposed on the
    * events relation so [[Streaming.streamEntropyPerKey]]'s
    * bit-identity invariant can be asserted against arbitrary inputs.
    */
  def entropyByUser(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    events
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("user_id"))
      .agg(sum(col("cnt")).as("n_events"),
        count(lit(1)).as("n_types"),
        sum(col("cnt") * log2Fixed(col("cnt"))).as("scl"))
      .withColumn("h20",
        log2Fixed(col("n_events")) - expr("scl div n_events"))
      .select(col("user_id"), col("n_events"), col("n_types"),
        (col("h20").cast("double") / 1048576.0).as("entropy_bits"))
      .orderBy("user_id")
  }

  /** Per-language Zipf exponent: OLS slope of log2(frequency) on
    * log2(rank) over the token frequency table — the classic
    * naturalness check for a text corpus (natural language ≈ −1;
    * templated/generated text drifts shallow). Rank is
    * `row_number` over (count DESC, token) — a total order, so the
    * regression input is deterministic.
    *
    * Fixed-point: x = L₂₀(rank) div 2¹⁰, y = L₂₀(cnt) div 2¹⁰
    * (10 fraction bits — quantization 2⁻¹⁰ contributes < 10⁻³ to a
    * slope over ≥ 2 decades). The four base sums stay BIGINT (exact
    * while per-lang vocab < 2⁵²/2³² rows); the two slope products
    * are widened to DECIMAL so n·Σxy is exact at ANY vocabulary
    * (12+19 and 16+16 digit operands — products ≤ 33 digits, no
    * precision-38 cap), and the final division is one
    * correctly-rounded double op on exactly-converted scale-0
    * decimals — identical in both engines.
    *
    * Scale: one count shuffle on (lang, tok); the rank window
    * repartitions by lang — at 100 TB vocabularies, swap
    * `row_number` for the sort-free rank surrogate (count of
    * strictly-greater counts via a self-aggregate) and the rest of
    * the plan is unchanged; the regression itself is algebraic
    * (map-side combinable sums).
    */
  val textZipfSlope: Q = (s, dir) =>
    zipfFromCounts(tokLangCounts(s, dir))

  /** The (lang, tok, cnt) vocabulary rollup of a documents table —
    * the relation the count-based text keys and [[VocabService]]
    * share (the service persists exactly this shape as additive
    * partials, so served curves are row-identical by construction).
    */
  private[graft] def vocabCounts(docs: DataFrame): DataFrame =
    docs.select(col("lang"), explode(tokens).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("lang"), col("tok"))
      .agg(count(lit(1)).as("cnt"))

  /** [[textZipfSlope]]'s pipeline from a (lang, tok, cnt) relation. */
  private[graft] def zipfFromCounts(counts: DataFrame): DataFrame = {
    val wRank = Window.partitionBy(col("lang"))
      .orderBy(col("cnt").desc, col("tok"))
    counts
      .withColumn("rank", row_number().over(wRank))
      .select(col("lang"),
        shiftright(log2Fixed(col("rank")), 10).as("x"),
        shiftright(log2Fixed(col("cnt")), 10).as("y"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      // A slope needs two points: a lang slice with one distinct token
      // has den = 0, where Spark emits NaN but DuckDB's 0/0 answer is
      // version-dependent (NULL vs NaN). Both engines drop the
      // degenerate slice instead (oracle has the same predicate).
      .filter(col("n_terms") >= 2)
      .withColumn("num",
        col("n_terms").cast(DecimalType(12, 0)) * col("sxy").cast(DecimalType(19, 0)) -
          col("sx").cast(DecimalType(16, 0)) * col("sy").cast(DecimalType(16, 0)))
      .withColumn("den",
        col("n_terms").cast(DecimalType(12, 0)) * col("sxx").cast(DecimalType(19, 0)) -
          col("sx").cast(DecimalType(16, 0)) * col("sx").cast(DecimalType(16, 0)))
      .select(col("lang"), col("n_terms"),
        (col("num").cast("double") / col("den").cast("double")).as("zipf_slope"))
      .orderBy("lang")
  }

  /** Per-language KL divergence from the whole-corpus unigram
    * distribution, in bits/token — the domain-shift / language-purity
    * signal a mixture pipeline monitors (KL ≈ 0 ⇒ the slice is
    * distributionally indistinguishable from the pool; large KL ⇒
    * resampling weight needed):
    *
    *   KL(p‖q) = Σᵢ pᵢ·log2(pᵢ/qᵢ),  p = slice, q = corpus
    *           = (Σᵢ cᵢ·[L(cᵢ) + L(N) − L(n) − L(Cᵢ)]) / n
    *
    * with c/n the slice counts, C/N the corpus counts. The bracket is
    * a long of exact fixed-point logs; individual terms go NEGATIVE
    * (tokens overrepresented in the pool), so no intermediate integer
    * division happens anywhere — truncation direction on negatives
    * differs between engines (Spark `div` truncates, DuckDB `//`
    * floors). The SUM is exact long arithmetic; the single emitted
    * double is `Σ / (n·2²⁰)` — one exact conversion (|Σ| < 2⁵³ until
    * ~10¹⁵ token·bits) and one correctly-rounded division, identical
    * in both engines.
    *
    * Scale: the slice count is the only wide shuffle; the corpus
    * totals re-aggregate it on tok (map-side combined), the per-lang
    * totals and the single grand total broadcast back. No driver
    * scalars — the grand total rides a 1-row broadcast join.
    */
  val textKlDivergence: Q = (s, dir) => {
    val counts = tokLangCounts(s, dir).select(
      col("lang"), col("tok"), col("cnt").as("c"))
    val corpus = counts.groupBy(col("tok")).agg(sum(col("c")).as("ctot"))
    val langTot = counts.groupBy(col("lang")).agg(sum(col("c")).as("n"))
    val grand = langTot.agg(sum(col("n")).as("ntot"))
    counts
      .join(corpus, "tok")
      .join(broadcast(langTot), "lang")
      .join(broadcast(grand))
      .withColumn("term", col("c") *
        (log2Fixed(col("c")) + log2Fixed(col("ntot"))
          - log2Fixed(col("n")) - log2Fixed(col("ctot"))))
      .groupBy(col("lang"))
      .agg(max(col("n")).as("n_tokens"), sum(col("term")).as("num"))
      .select(col("lang"), col("n_tokens"),
        (col("num").cast("double") / (col("n_tokens") * lit(1048576L)).cast("double"))
          .as("kl_bits"))
      .orderBy("lang")
  }

  /** Per-language conditional next-token entropy H(next | prev) over
    * word bigrams, in bits — the text-predictability /
    * templatedness signal (natural prose sits well above generated
    * boilerplate, whose next-token distributions collapse):
    *
    *   H(next|prev) = Σ_{uv} c₂(uv)·[L(c₁(u)) − L(c₂(uv))] / N₂
    *
    * with c₂ the bigram counts, c₁(u) = Σ_v c₂(uv) the context
    * totals and N₂ = Σ c₂. Every term is ≥ 0 (c₁ ≥ c₂), but the
    * division still happens ONCE in double (same engine-portability
    * rationale as [[textKlDivergence]]). Bigrams come from
    * `lead(tok) over (doc, pos)` — document-local adjacency; the
    * collapsed-whitespace tokenizer guarantees no interior empty
    * tokens, so position adjacency equals text adjacency.
    *
    * Scale: the posexplode+lead window shuffles on doc_id (narrow
    * rows); the bigram count is the wide shuffle (map-side
    * combined); context totals re-aggregate the counted relation —
    * strictly smaller — and the per-lang rollups are trivial.
    */
  val textCondEntropyBigram: Q = (s, dir) => {
    val big = tokBigrams(s, dir)
    val c2 = big.groupBy(col("lang"), col("tok").as("prev"), col("nxt"))
      .agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy(col("lang"), col("prev")).agg(sum(col("c2")).as("c1"))
    val contexts = c1.groupBy(col("lang")).agg(count(lit(1)).as("n_contexts"))
    c2.join(c1, Seq("lang", "prev"))
      .withColumn("term",
        col("c2") * (log2Fixed(col("c1")) - log2Fixed(col("c2"))))
      .groupBy(col("lang"))
      .agg(sum(col("c2")).as("n_bigrams"), sum(col("term")).as("num"))
      .join(broadcast(contexts), "lang")
      .select(col("lang"), col("n_bigrams"), col("n_contexts"),
        (col("num").cast("double") / (col("n_bigrams") * lit(1048576L)).cast("double"))
          .as("cond_entropy_bits"))
      .orderBy("lang")
  }

  /** Gini impurity of the order-priority distribution per customer
    * market segment — entropy's rational sibling (1 − Σ pᵢ²), the
    * split-quality / concentration measure that needs NO logarithm:
    * with exact counts, impurity = (n² − Σ cᵢ²)/n² is one integer
    * subtraction and one correctly-rounded double division —
    * oracle-exact with no fixed-point machinery at all. Emitted next
    * to the entropy family as the cheap first-line concentration
    * screen (same ordering as entropy for two-class distributions,
    * no log cost).
    *
    * Scale: the customer dim broadcasts into the orders scan (swap
    * to a shuffle join past executor memory — same plan shape); both
    * aggs are algebraic with map-side partials. The long arithmetic
    * is exact while n < 3·10⁹ per segment (n² < 2⁶³); beyond that,
    * widen n² and Σc² to DECIMAL(38,0) — same expressions, DuckDB's
    * hugeint sums already behave that way.
    */
  val aggGiniImpurity: Q = (s, dir) => {
    table(s, dir, "orders")
      .join(broadcast(table(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("o_orderpriority"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("c_mktsegment"))
      .agg(sum(col("c")).as("n_orders"),
        count(lit(1)).as("n_priorities"),
        sum(col("c") * col("c")).as("sq"))
      .select(col("c_mktsegment"), col("n_orders"), col("n_priorities"),
        ((col("n_orders") * col("n_orders") - col("sq")).cast("double") /
          (col("n_orders") * col("n_orders")).cast("double")).as("gini_impurity"))
      .orderBy("c_mktsegment")
  }

  /** Per-document unigram PERPLEXITY, 2^H — the entropy key's
    * consumer-facing form: "effective vocabulary size" of the doc's
    * token distribution (1 for pure repetition, n_distinct for
    * uniform), directly comparable across docs of different length —
    * the number a curation pipeline thresholds where entropy-in-bits
    * needs a log-scale mental model. H₂₀ comes from the
    * [[textEntropyExact]] integer pipeline; ppl₂₀ = exp2_fixed(H₂₀)
    * ([[graft.functions.NumericExpressions.Exp2Fixed]]) keeps the
    * whole chain integer-exact cross-engine — log AND exp both
    * replayed bit-for-bit by the DuckDB oracle (Log2Sql + Exp2Sql).
    * Domain: H ≤ log2(n_distinct) < 43 always, so exp2_fixed never
    * hits its overflow null. Same plan shape as the entropy key:
    * the shared [[tokDocCounts]] rollup plus one tiny per-doc
    * exchange (the round-16 doc rewrite there explains the retired
    * repartition trade).
    */
  val textPerplexityExact: Q = (s, dir) => {
    tokDocCounts(s, dir)
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("cnt") * log2Fixed(col("cnt"))).as("scl"))
      .withColumn("h20",
        log2Fixed(col("n_tokens")) - expr("scl div n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        (exp2Fixed(col("h20")).cast("double") / 1048576.0).as("perplexity"))
      .orderBy("doc_id")
  }

  /** Perplexity-temperature document sampling — the float frontier
    * composed into the sampling family: keep each document with
    * probability (ppl/ppl_max)^(1/2), favoring vocabulary-diverse
    * docs while never fully starving repetitive ones — the
    * quality-diversity mixing lever next to [[Llm.sampleTemperature]]
    * (which rebalances DOMAINS; this weighs individual docs).
    *
    * Fully integer/engine-exact chain: w₂₀ = exp2_fixed(H₂₀ div 2)
    * = √ppl in Q20 (div is positive-truncating in both engines);
    * thr = w₂₀·10⁶ div wmax₂₀ ∈ [0, 10⁶] (wmax rides a 1-row
    * broadcast — no driver scalar; products < 2⁴⁶); the gate is the
    * house md5-ppm discipline under its own salt (independent of the
    * split/sample/budget gates — [[Llm.sampleBucket]]'s argument).
    * Membership is a pure function of (doc_id, corpus max) — stable
    * across runs, engines, partitionings.
    *
    * Scale: the shared [[tokDocCounts]] rollup + the tiny per-doc
    * exchange (the entropy key's plan shape) + a 1-row broadcast +
    * a row-local gate. The max aggregate is algebraic (map-side
    * combined).
    */
  val samplePerplexityTemperature: Q = (s, dir) => {
    val h = tokDocCounts(s, dir)
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_tokens"),
        sum(col("cnt") * log2Fixed(col("cnt"))).as("scl"))
      .withColumn("h20",
        log2Fixed(col("n_tokens")) - expr("scl div n_tokens"))
      .withColumn("w20", exp2Fixed(expr("h20 div 2")))
    val wmax = h.agg(max(col("w20")).as("wmax20"))
    val ppm = conv(substring(md5(concat_ws("|", lit("graft-ppl-temp"),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long") % 1000000
    h.crossJoin(broadcast(wmax))
      .withColumn("thr", expr("w20 * 1000000 div wmax20"))
      .filter(ppm < col("thr"))
      .select(col("doc_id"), col("n_tokens"), col("w20"), col("thr"))
      .orderBy("doc_id")
  }

  /** BM25 query-term set: shared single source of truth for the Spark
    * key and the DuckDB oracle ([[graft.oracle.OracleSql]] interpolates
    * this list), so a term-set edit cannot desynchronize the engines.
    */
  val Bm25QueryTerms: Seq[String] = Seq("spark", "stream", "vector", "window")

  /** BM25 constants as exact ppm integers (k1 = 1.2, b = 0.75) —
    * interpolated into BOTH engines' integer arithmetic. */
  val Bm25K1Ppm = 1200000L        // k1
  val Bm25K1p1Ppm = 2200000L      // k1 + 1
  val Bm25BPpm = 750000L          // b
  val Bm25OneMinusBPpm = 250000L  // 1 - b

  /** Okapi BM25 top-10 document retrieval for a fixed query-term set —
    * the relevance-scoring primitive a curation pipeline uses to mine
    * on-topic documents from a web corpus (and the standard lexical
    * baseline next to the embedding-cosine family). ENTIRELY on the
    * oracle-able float frontier: both the IDF logarithm and the TF
    * saturation rational are evaluated in fixed-point integer
    * arithmetic, so the DuckDB oracle replays every intermediate bit
    * (no round-and-pray on `ln`).
    *
    * Per (doc d, term t):
    *   idf₂₀(t)  = L₂₀(2N+2) − L₂₀(2·df+1)
    *               — the Lucene idf ln(1 + (N−df+½)/(df+½)) with the
    *               halves cleared by doubling: (N+1)/(df+½) =
    *               (2N+2)/(2df+1); always positive; L₂₀ =
    *               [[graft.functions.NumericExpressions.Log2Fixed]]
    *               (base-2 rather than e — a constant factor ln2
    *               common to every score, so ranking is unchanged).
    *   sat_ppm   = tf·(k1+1)·10¹² div (tf·10⁶ + k1·norm_ppm div 10⁶)
    *   norm_ppm  = (1−b)·10⁶ + b·dlnorm_ppm div 10⁶
    *   dlnorm_ppm= dl·10¹² div avgdl_µ,  avgdl_µ = Σdl·10⁶ div N
    *   score     = Σ_t idf₂₀·sat_ppm  (Q20·ppm integer)
    * Every `div` is positive-operand truncating division at a
    * documented point, identical in both engines. Overflow headroom:
    * dl·10¹² < 2⁶³ up to ~9·10⁶ tokens/doc; tf·(k1+1)·10¹² < 2⁶³ up
    * to tf ≈ 4·10⁶; idf₂₀·sat_ppm ≤ L₂₀(2N+2)·2.2·10⁶ < 2⁶³ for any
    * N < 2⁶² — all beyond any real document.
    *
    * N and avgdl are over the TOKENIZED corpus (docs with ≥ 1 token);
    * docs matching no query term are absent, as in any inverted index.
    *
    * Scale — the token stream NEVER shuffles. Because the query-term
    * set is a literal, per-doc tf for each query term and dl are
    * row-local array expressions (`size(filter(arr, _ = t))` — codegen,
    * no explode); the only aggregate is the 1-ROW corpus-stats pass
    * (Σdl, N, df per query term — all algebraic, map-side combined)
    * which comes back as a 1-row broadcast carrying the precomputed
    * idf₂₀ per term; scoring is then pure row-local integer math and
    * the top-10 is a TakeOrdered (per-partition heap + driver merge,
    * no global sort). Zero hash exchanges end-to-end: the cost is two
    * column-pruned scans of `text` (stats pass + scoring pass), which
    * beats one scan + a full token shuffle at any scale. For AD-HOC
    * queries (term set not compile-time), materialize the (term, doc,
    * tf) relation bucketed by term ([[graft.io]] pattern) — the
    * posting-list form — and this key becomes a bucket probe.
    */
  val textBm25Topk: Q = (s, dir) =>
    bm25RowLocal(table(s, dir, "documents"), Bm25QueryTerms)

  /** The row-local BM25 pipeline behind [[textBm25Topk]], parameterized
    * on the term set — also the independent reference
    * [[graft.ops.PostingIndex]]'s ad-hoc probe is spec'd against.
    */
  def bm25RowLocal(docs: org.apache.spark.sql.DataFrame,
      qt0: Seq[String]): org.apache.spark.sql.DataFrame = {
    // distinct terms, mirroring PostingIndex.bm25Topk: a duplicated
    // query term would otherwise score per position here (tf_i per
    // positional term) but once through the index's (term, doc) rows
    val qt = qt0.distinct
    val perdoc = docs
      .select(col("doc_id"), filter(tokens, x => x =!= "").as("arr"))
      .select(col("doc_id") +: size(col("arr")).cast("long").as("dl") +:
        qt.indices.map(i =>
          size(filter(col("arr"), x => x === qt(i))).cast("long").as(s"tf_$i")): _*)
    val statAggs = sum(col("dl")).as("total_tok") +:
      count(when(col("dl") > 0, 1)).as("n_docs") +:
      qt.indices.map(i => count(when(col(s"tf_$i") > 0, 1)).as(s"df_$i"))
    val stats = perdoc
      .agg(statAggs.head, statAggs.tail: _*)
      .withColumn("avgdl_u", expr("total_tok * 1000000 div n_docs"))
      .select(col("avgdl_u") +: qt.indices.map(i =>
        (log2Fixed(lit(2) * col("n_docs") + lit(2)) -
          log2Fixed(lit(2) * col(s"df_$i") + lit(1))).as(s"idf20_$i")): _*)
    perdoc
      .filter(qt.indices.map(i => col(s"tf_$i") > 0).reduce(_ || _))
      .crossJoin(broadcast(stats))
      .withColumn("norm_ppm",
        expr(s"$Bm25OneMinusBPpm + $Bm25BPpm * " +
          s"(dl * 1000000000000 div avgdl_u) div 1000000"))
      .withColumn("n_hit",
        qt.indices.map(i => when(col(s"tf_$i") > 0, 1L).otherwise(0L))
          .reduce(_ + _))
      .withColumn("bm25_u",
        qt.indices.map(i => col(s"idf20_$i") *
          expr(s"tf_$i * $Bm25K1p1Ppm * 1000000 div " +
            s"(tf_$i * 1000000 + $Bm25K1Ppm * norm_ppm div 1000000)"))
          .reduce(_ + _))
      .orderBy(col("bm25_u").desc, col("doc_id"))
      .limit(10)
      .withColumn("bm25",
        col("bm25_u").cast("double") / lit(1048576.0) / lit(1000000.0)
          * lit(0.6931471805599453))
      .select(col("doc_id"), col("n_hit"), col("bm25_u"), col("bm25"))
  }

  /** Dirichlet smoothing pseudo-count μ (Zhai & Lafferty's standard
    * 2000), an exact integer — interpolated into both engines. */
  val LmMu = 2000L

  /** Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty
    * 2001) — the LANGUAGE-MODEL member of the retrieval family,
    * completing the pair with [[textBm25Topk]]'s probabilistic-
    * relevance scoring (the two standard lexical baselines; their
    * rank disagreement on long vs short documents is itself a
    * curation diagnostic). Score per candidate doc, summed over the
    * fixed query-term set:
    *
    *   log p(q|d) = Σ_t log[(tf_t + μ·cf_t/C) / (dl + μ)]
    *              = Σ_t [L₂₀(tf_t·C + μ·cf_t)] − |q|·L₂₀(C·(dl+μ))
    *
    * with cf_t the collection frequency, C the corpus token count —
    * every log argument an INTEGER (the rational's halves cleared by
    * cross-multiplying), so the whole score rides
    * [[graft.functions.NumericExpressions.Log2Fixed]] and the DuckDB
    * oracle replays it bit for bit, like BM25's idf. Unlike BM25 a
    * query term with tf = 0 still contributes (the smoothing mass) —
    * the wide tf_i column formulation makes that row-local; docs
    * matching NO term are absent (their score is a doc-independent-
    * ranked constant only through dl — standard candidate pruning).
    *
    * Scale: identical zero-exchange shape to [[bm25RowLocal]] — one
    * 1-row algebraic stats pass (C, cf per literal term) broadcast
    * back, row-local fixed-point scoring, TakeOrdered(10). Overflow:
    * tf·C + μ·cf < 2⁶³ needs tf·C ≲ 9·10¹⁸ — at C = 10¹³ corpus
    * tokens, safe to tf ≈ 9·10⁵; C·(dl+μ) safe to dl ≈ 9·10⁵ at the
    * same C. Both are beyond real documents; past them, pre-divide C
    * by 2ᵏ (a constant −k·|q|·2²⁰ shift common to every score).
    */
  val textLmDirichletTopk: Q = (s, dir) =>
    lmDirichletRowLocal(table(s, dir, "documents"), Bm25QueryTerms)

  /** The row-local Dirichlet-LM pipeline behind
    * [[textLmDirichletTopk]], parameterized on the term set (the
    * [[graft.ops.PostingIndex]] probe is spec'd against it).
    */
  def lmDirichletRowLocal(docs: org.apache.spark.sql.DataFrame,
      qt0: Seq[String]): org.apache.spark.sql.DataFrame = {
    val qt = qt0.distinct
    val perdoc = docs
      .select(col("doc_id"), filter(tokens, x => x =!= "").as("arr"))
      .select(col("doc_id") +: size(col("arr")).cast("long").as("dl") +:
        qt.indices.map(i =>
          size(filter(col("arr"), x => x === qt(i))).cast("long").as(s"tf_$i")): _*)
    val statAggs = sum(col("dl")).as("c_tok") +:
      qt.indices.map(i => sum(col(s"tf_$i")).as(s"cf_$i"))
    val stats = perdoc.agg(statAggs.head, statAggs.tail: _*)
    perdoc
      .filter(qt.indices.map(i => col(s"tf_$i") > 0).reduce(_ || _))
      .crossJoin(broadcast(stats))
      .withColumn("n_hit",
        qt.indices.map(i => when(col(s"tf_$i") > 0, 1L).otherwise(0L))
          .reduce(_ + _))
      .withColumn("lm20",
        qt.indices.map(i =>
          log2Fixed(col(s"tf_$i") * col("c_tok") + lit(LmMu) * col(s"cf_$i")))
          .reduce(_ + _) -
          lit(qt.size.toLong) * log2Fixed(col("c_tok") * (col("dl") + lit(LmMu))))
      .orderBy(col("lm20").desc, col("doc_id"))
      .limit(10)
      .withColumn("lm_bits", col("lm20").cast("double") / lit(1048576.0))
      .select(col("doc_id"), col("n_hit"), col("lm20"), col("lm_bits"))
  }

  /** Per-language vocabulary coverage curve (round 12, second
    * session) — the tokenizer/vocab-sizing planning relation: "what
    * fraction of the corpus token mass do the top-k vocabulary
    * entries cover?", sampled at k = 1, 2, 4, … (power-of-two spine,
    * rn & (rn−1) = 0 — branch-free in both engines) plus the full
    * vocabulary endpoint. Emits per (lang, k): the cumulative token
    * mass through rank k, the slice's total mass, and its vocabulary
    * size — all INTEGER; coverage = cum/total is the consumer's
    * division. Ranking order (cnt DESC, tok) is the [[textZipfSlope]]
    * total order, so the two keys describe the SAME curve (slope vs
    * integral).
    *
    * Scale: the (lang, tok) rollup is the zipf shape (map-side
    * combined, one shuffle); the rank + cumulative windows run
    * partitioned by lang over the VOCABULARY (distinct tokens), never
    * raw token instances; the emitted spine is ~log₂|vocab| rows per
    * lang. The per-lang window carries the zipf caveat: a lang's
    * vocabulary is one partition's sort — at a 10⁹-type vocabulary,
    * swap to the bucketed two-level cumulative (per-bucket rollup +
    * bounded triangular prefix join) without changing the emitted
    * rows.
    */
  val textVocabCoverage: Q = (s, dir) =>
    coverageFromCounts(tokLangCounts(s, dir))

  /** [[textVocabCoverage]]'s pipeline from a (lang, tok, cnt) relation. */
  private[graft] def coverageFromCounts(counts: DataFrame): DataFrame = {
    val wRank = Window.partitionBy(col("lang"))
      .orderBy(col("cnt").desc, col("tok"))
    val wCum = wRank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("lang"))
    counts
      .withColumn("rn", row_number().over(wRank).cast("long"))
      .withColumn("cum_cnt", sum(col("cnt")).over(wCum))
      .withColumn("total_cnt", sum(col("cnt")).over(wAll))
      .withColumn("vocab_size", count(lit(1)).over(wAll))
      .filter(expr("(rn & (rn - 1)) = 0") || col("rn") === col("vocab_size"))
      .select(col("lang"), col("rn").as("k"), col("cum_cnt"),
        col("total_cnt"), col("vocab_size"))
      .orderBy("lang", "k")
  }

  /** Kneser–Ney continuation profile (round 12, third session) — the
    * language-model smoothing cells: for each of the top-20 tokens per
    * language (by left-context diversity), the raw count, the
    * CONTINUATION count N₁₊(•w) (distinct left neighbors — KN's
    * unigram numerator: "how many contexts does w complete?"), the
    * fertility N₁₊(w•) (distinct right neighbors), and the language's
    * total bigram type count (KN's denominator). The consumer forms
    * P_KN(w) = N₁₊(•w)/|bigram types| directly; the cont-vs-raw gap is
    * the classic "Francisco" diagnostic (high count, one context).
    * Bigrams are position-adjacent within a document, never across
    * docs — the [[textCondEntropyBigram]] extraction, identical in
    * both engines.
    *
    * Scale: posexplode + one lag window on doc_id (the bigram shape);
    * three map-side-combined rollups over the bigram TYPE relation
    * (≤ distinct pairs, not instances); the top-20 rank window runs
    * per lang over the VOCABULARY — the zipf caveat (10⁹-type vocab →
    * bucketed two-level top-k) applies.
    */
  val textKnContinuation: Q = (s, dir) => {
    // (prev = tok_i, tok = tok_{i+1}) is exactly the shared bigram
    // relation's (tok, nxt) — the lag() formulation re-keyed
    val big = tokBigrams(s, dir)
      .select(col("lang"), col("tok").as("prev"), col("nxt").as("tok"))
    val uni = tokLangCounts(s, dir)
    val cont = big.groupBy(col("lang"), col("tok"))
      .agg(countDistinct(col("prev")).as("cont_types"))
    val fert = big.groupBy(col("lang"), col("prev"))
      .agg(countDistinct(col("tok")).as("fert_types"))
      .withColumnRenamed("prev", "tok")
    val bt = big.select(col("lang"), col("prev"), col("tok")).distinct()
      .groupBy(col("lang")).agg(count(lit(1)).as("bigram_types"))
    val wTop = Window.partitionBy(col("lang"))
      .orderBy(col("cont_types").desc, col("tok"))
    uni.join(cont, Seq("lang", "tok"), "left_outer")
      .join(fert, Seq("lang", "tok"), "left_outer")
      .select(col("lang"), col("tok"), col("cnt"),
        coalesce(col("cont_types"), lit(0L)).as("cont_types"),
        coalesce(col("fert_types"), lit(0L)).as("fert_types"))
      .withColumn("rn", row_number().over(wTop).cast("long"))
      .filter(col("rn") <= 20)
      .join(broadcast(bt), Seq("lang"))
      .select(col("lang"), col("rn"), col("tok"), col("cnt"),
        col("cont_types"), col("fert_types"), col("bigram_types"))
      .orderBy("lang", "rn")
  }

  /** Heaps-law vocabulary growth curve (round 12, third session) —
    * the GROWTH complement of [[textVocabCoverage]]'s static curve
    * (Zipf and Heaps are the two faces of the same corpus law): per
    * language, as documents accumulate in doc_id order, the
    * vocabulary size and token mass after the first k docs, sampled
    * at k = 1, 2, 4, … (the power-of-two spine) plus the full-corpus
    * endpoint. The consumer fits V ≈ K·nᵝ to read the Heaps exponent;
    * the curve's flattening rate is the "is more data still buying
    * new vocabulary?" planning signal.
    *
    * Exactness without re-scanning prefixes: a token type's
    * contribution is its FIRST-SEEN doc rank (min over the per-lang
    * doc sequence), so vocab_size(k) = Σ_{seq≤k} new_types(seq) — one
    * rollup + a cumulative window, never k prefix recounts. Docs with
    * no tokens stay on the spine with dl = 0 (left join — both
    * engines).
    *
    * Scale: tokenize once; first-seen is one (lang, tok) rollup; the
    * doc-sequence rank + cumulative windows run per lang over the
    * DOC spine — at 10⁹ docs/lang swap rank and prefix sum for the
    * bucketed two-level form (the backlog key implements it); the
    * emitted spine is ~log₂ n_docs rows per lang.
    */
  val textHeapsCurve: Q = (s, dir) => {
    val wDocSeq = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
    val docSeq = table(s, dir, "documents")
      .select(col("doc_id"), col("lang"))
      .withColumn("seq", row_number().over(wDocSeq).cast("long"))
    val docToks = tokSpine(s, dir)
      .select(col("doc_id"), col("lang"), col("tok"))
    val dl = docToks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val firstSeen = docToks.join(docSeq, Seq("doc_id", "lang"))
      .groupBy(col("lang"), col("tok")).agg(min(col("seq")).as("seq"))
    val newTypes = firstSeen.groupBy(col("lang"), col("seq"))
      .agg(count(lit(1)).as("nt"))
    val wCum = Window.partitionBy(col("lang")).orderBy(col("seq"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("lang"))
    docSeq.join(dl, Seq("doc_id"), "left_outer")
      .join(newTypes, Seq("lang", "seq"), "left_outer")
      .select(col("lang"), col("seq"),
        coalesce(col("dl"), lit(0L)).as("dl"),
        coalesce(col("nt"), lit(0L)).as("nt"))
      .withColumn("vocab_size", sum(col("nt")).over(wCum))
      .withColumn("token_mass", sum(col("dl")).over(wCum))
      .withColumn("n_docs", count(lit(1)).over(wAll))
      .filter(expr("(seq & (seq - 1)) = 0") || col("seq") === col("n_docs"))
      .select(col("lang"), col("seq").as("k_docs"), col("vocab_size"),
        col("token_mass"), col("n_docs"))
      .orderBy("lang", "k_docs")
  }

  /** Top-20 collocations per language by pointwise mutual
    * information — the phrase-mining / multi-word-expression detector
    * beside [[textCondEntropyBigram]] (entropy profiles the WHOLE
    * next-token distribution; PMI surfaces the individual pairs that
    * stick together):
    *
    *   PMI(w₁,w₂) = log₂ (p(w₁w₂) / (p(w₁·)·p(·w₂)))
    *              = log₂ (c·N / (c_left·c_right))
    *
    * over the bigram space (marginals of the bigram distribution,
    * the self-consistent convention — unigram-over-token-space
    * differs by the last-token-per-doc edge). Engine-exact on the
    * house fixed-point chain: pmi_20 = L(c·N) − L(c_left·c_right)
    * with L = log2_fixed — products exact in int64 up to N ≈ 3·10⁹
    * bigrams per lang (beyond: the four-term split L(c)+L(N)−L(c_l)
    * −L(c_r), same chain, documented swap). The min-count gate
    * (c ≥ 5) is the classic rare-pair guard — PMI is maximal for
    * hapax pairs and meaningless there. Ranking is BY the fixed-point
    * integer (deterministic cross-engine), ties broken (w₁, w₂)
    * lexically.
    *
    * Scale: the bigram count is the one wide shuffle (map-side
    * combined); both marginals re-aggregate the counted TYPE
    * relation (strictly smaller); N is a ≤|langs|-row broadcast; the
    * top-20 rank window runs per lang over the c ≥ 5 survivors. The
    * per-lang window carries the winsorize-family caveat; the
    * bucketed-top-k swap applies past ~10⁸ surviving pairs/lang.
    */
  val textPmiCollocations: Q = (s, dir) => {
    val big = tokBigrams(s, dir)
    val c2 = big.groupBy(col("lang"), col("tok").as("w1"), col("nxt").as("w2"))
      .agg(count(lit(1)).as("c_pair"))
    val cl = c2.groupBy(col("lang"), col("w1")).agg(sum(col("c_pair")).as("c_left"))
    val cr = c2.groupBy(col("lang"), col("w2")).agg(sum(col("c_pair")).as("c_right"))
    val n = c2.groupBy(col("lang")).agg(sum(col("c_pair")).as("n_bigrams"))
    val wRank = Window.partitionBy(col("lang"))
      .orderBy(col("pmi_20").desc, col("w1"), col("w2"))
    c2.filter(col("c_pair") >= 5)
      .join(cl, Seq("lang", "w1"))
      .join(cr, Seq("lang", "w2"))
      .join(broadcast(n), "lang")
      .withColumn("pmi_20",
        log2Fixed(col("c_pair") * col("n_bigrams"))
          - log2Fixed(col("c_left") * col("c_right")))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= 20)
      .select(col("lang"), col("rank").cast("long").as("rank"),
        col("w1"), col("w2"), col("c_pair"), col("c_left"), col("c_right"),
        col("n_bigrams"), col("pmi_20"))
      .orderBy("lang", "rank")
  }

  /** Per-document bigram-LM surprisal on the fixed-point chain — the
    * LANGUAGE-MODEL document scorer completing the LM family
    * ([[textPerplexityExact]] scores against the doc's OWN unigram
    * distribution; this scores against the CORPUS bigram model, so a
    * doc of common words in weird order now scores high — the
    * word-salad / shuffled-text detector unigram perplexity is blind
    * to). Jelinek–Mercer interpolation with λ = ½:
    *
    *   P(w | p) = (c₂(pw)/c₁(p) + c_r(w)/N) / 2
    *            = (c₂·N + c_r·c₁) / (2·c₁·N)
    *
    * — one exact integer rational per bigram, so its surprisal is
    * L(2·c₁·N) − L(c₂·N + c_r·c₁) on the log₂ chain (≥ 0 always:
    * c₂ ≤ c₁ and c_r ≤ N bound the numerator), bit-exact
    * cross-engine via Log2Sql. The ½ mixture keeps unseen bigrams
    * finite (c₂ = 0 → backoff to the continuation unigram), and
    * every count is corpus-side — a doc is scored against the model
    * INCLUDING itself (the self-inclusion convention documented; a
    * held-out split is a composition with `sample_hash_split`).
    * Emitted per doc: n_bigrams, total bits₂₀, and bits/bigram (one
    * IEEE division). Products int64-safe to N ≈ 3·10⁹ bigrams/lang
    * (DECIMAL swap documented).
    *
    * Scale: bigram counts once (map-side), the doc-grain join is
    * (lang, p, w)-keyed against the TYPE relation (strictly smaller
    * than the token stream), marginals re-aggregate the counted
    * relation, N broadcasts; the log chain runs in codegen at doc
    * grain.
    */
  val textBigramLmPerplexity: Q = (s, dir) => {
    val big = tokBigrams(s, dir)
      .select(col("doc_id"), col("lang"), col("tok").as("p"), col("nxt").as("w"))
    val c2 = big.groupBy(col("lang"), col("p"), col("w")).agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy(col("lang"), col("p")).agg(sum(col("c2")).as("c1"))
    val cr = c2.groupBy(col("lang"), col("w")).agg(sum(col("c2")).as("cr"))
    val n = c2.groupBy(col("lang")).agg(sum(col("c2")).as("n"))
    // Round 20 (guide §2.3/§2.4 — shuffle the TYPE relation, not the
    // stream): the r15-r19 form joined the token STREAM against c2,
    // then c1, then cr — each marginal join re-shuffled every
    // occurrence row (4 stream-grain exchanges, the widening join
    // chain carrying string keys). The marginals are functions of the
    // TYPE relation alone, so attach them to c2 FIRST (type-grain
    // shuffles, strictly smaller than the stream) and score each
    // bigram TYPE once; the stream then joins the scored types on
    // (lang, p, w) — an exchange that canonicalizes equal to c2's own
    // aggregation input, so runtime ReuseExchange leaves ONE
    // stream-grain shuffle before the doc rollup (2 total, was 4).
    // bits20 per occurrence is the identical integer (same operands,
    // evaluated type-side), so every emitted row is bit-identical —
    // oracle hash-gated at sf0.01 and sf0.1 this round.
    val scored = c2
      .join(c1, Seq("lang", "p"))
      .join(cr, Seq("lang", "w"))
      .join(broadcast(n), "lang")
      .withColumn("bits20",
        log2Fixed(lit(2) * col("c1") * col("n"))
          - log2Fixed(col("c2") * col("n") + col("cr") * col("c1")))
      .select(col("lang"), col("p"), col("w"), col("bits20"))
    big
      .join(scored, Seq("lang", "p", "w"))
      .groupBy(col("doc_id"))
      .agg(first(col("lang")).as("lang"), count(lit(1)).as("n_bigrams"),
        sum(col("bits20")).as("total_bits20"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("total_bits20"),
        (col("total_bits20").cast("double") /
          (col("n_bigrams") * lit(1048576L)).cast("double")).as("bits_per_bigram"))
      .orderBy("doc_id")
  }

  /** Pairwise Jensen–Shannon divergence between the languages'
    * unigram distributions — the SYMMETRIC corpus-similarity matrix
    * [[textKlDivergence]] can't be (KL is asymmetric and infinite on
    * disjoint support; JS is bounded in [0, 1] bit and defined
    * everywhere — the "which corpus slices share a vocabulary"
    * mixing/contamination diagnostic):
    *
    *   JS(P,Q) = ½·Σᵢ pᵢ·log₂(2pᵢ/(pᵢ+qᵢ)) + ½·Σᵢ qᵢ·log₂(…)
    *
    * With P = aᵢ/A, Q = bᵢ/B every log argument is the integer
    * rational 2aᵢB/(aᵢB + bᵢA), so each side's numerator is the
    * exact integer Σ aᵢ·(L(2aᵢB) − L(aᵢB + bᵢA)) on the fixed-point
    * chain — JS reads off as (num_a/A + num_b/B)/2²¹. Zero-count
    * terms need no guard: a token absent from P contributes 0 to
    * P's sum by aᵢ = 0, and its Q-side term's argument degenerates
    * to 2bᵢA/(bᵢA) — the full-outer join with coalesce(0) realizes
    * both. Products int64-safe while aᵢ·B < 2⁶² (≈ 10⁹-token
    * corpora per lang; DECIMAL swap documented).
    *
    * Scale: one unigram rollup, a dimension-bounded pair fan-out of
    * the TYPE relation (vocab-sized, never the token stream), the
    * log chain in codegen per (pair, type) row, map-side rollup to
    * ≤|langs|² cells.
    */
  val textJsDivergence: Q = (s, dir) => {
    val uni = tokLangCounts(s, dir).select(
      col("lang"), col("tok"), col("cnt").as("c"))
    val tot = uni.groupBy(col("lang")).agg(sum(col("c")).as("n"))
    // the log-rank merged-pair-spine idiom: expand the TYPE relation
    // per unordered pair FIRST, then full-outer within the pair — a
    // bare full-outer on tok alone drops one-sided tokens of a pair
    // whenever a third language also carries them
    val pairs = tot.select(col("lang").as("lang_a"))
      .crossJoin(broadcast(tot.select(col("lang").as("lang_b"))))
      .filter(col("lang_a") < col("lang_b"))
    val left = broadcast(pairs).join(uni, col("lang") === col("lang_a"))
      .select(col("lang_a"), col("lang_b"), col("tok"), col("c").as("ca"))
    val right = broadcast(pairs).join(uni, col("lang") === col("lang_b"))
      .select(col("lang_a").as("lang_a2"), col("lang_b").as("lang_b2"),
        col("tok").as("tok2"), col("c").as("cb"))
    left.join(right,
        col("lang_a") === col("lang_a2") && col("lang_b") === col("lang_b2") &&
          col("tok") === col("tok2"), "full_outer")
      .select(
        coalesce(col("lang_a"), col("lang_a2")).as("lang_a"),
        coalesce(col("lang_b"), col("lang_b2")).as("lang_b"),
        coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
      .join(broadcast(tot.select(col("lang").as("lang_a"), col("n").as("na"))), "lang_a")
      .join(broadcast(tot.select(col("lang").as("lang_b"), col("n").as("nb"))), "lang_b")
      .withColumn("mix", col("ca") * col("nb") + col("cb") * col("na"))
      .withColumn("ta",
        when(col("ca") > 0,
          col("ca") * (log2Fixed(lit(2) * col("ca") * col("nb")) - log2Fixed(col("mix"))))
          .otherwise(0L))
      .withColumn("tb",
        when(col("cb") > 0,
          col("cb") * (log2Fixed(lit(2) * col("cb") * col("na")) - log2Fixed(col("mix"))))
          .otherwise(0L))
      .groupBy(col("lang_a"), col("lang_b"))
      .agg(count(lit(1)).as("n_types"),
        max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        sum(col("ta")).as("num_a"), sum(col("tb")).as("num_b"))
      .withColumn("js_bits",
        (col("num_a").cast("double") / col("n_a").cast("double")
          + col("num_b").cast("double") / col("n_b").cast("double")) / 2097152.0)
      .orderBy("lang_a", "lang_b")
  }

  /** Hill maximum-likelihood tail-exponent cells per event type
    * (round 13) — the MLE companion of [[textZipfSlope]]'s
    * least-squares fit, over a different domain (user ACTIVITY
    * rather than token frequency): for the tail cnt ≥ cmin = 5,
    * α̂ = 1 + n_tail / Σ ln(cntᵢ/cmin) — the standard Hill (1975)
    * estimator a heavy-tail screen runs before trusting any
    * mean-based engagement statistic. Emitted as EXACT INTEGER
    * sufficient statistics on the fixed-point log chain: n_users,
    * n_tail, cmin, and sum_log2_fp = Σ (L(cnt) − L(cmin)) over the
    * tail — the consumer forms α̂ = 1 + n_tail·2²⁰/(ln 2 ·
    * sum_log2_fp) in its own float regime; nothing float crosses
    * the boundary. cmin is the estimator's standard xmin knob,
    * fixed at 5 (the PMI min-count discipline) — degenerate tails
    * (all values at cmin → sum 0) ship as raw cells rather than a
    * hidden division.
    *
    * Scale: one map-side-combined (type, user) rollup — the only
    * full shuffle — then a per-type rollup whose log runs once per
    * tail ROW (codegen'd long ops, no libm). Overflow: sum_log2_fp
    * < n_tail·63·2²⁰ < 2⁶³ below ~10¹⁴ tail users per type.
    */
  val eventsPowerLawAlpha: Q = (s, dir) => {
    val cmin = 5L
    table(s, dir, "events")
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"),
        count(when(col("cnt") >= cmin, 1)).as("n_tail"),
        coalesce(sum(when(col("cnt") >= cmin,
          log2Fixed(col("cnt")) - log2Fixed(lit(cmin)))), lit(0L))
          .as("sum_log2_fp"))
      .withColumn("cmin", lit(cmin))
      .select("event_type", "n_users", "n_tail", "cmin", "sum_log2_fp")
      .orderBy("event_type")
  }

  val queries: Map[String, Q] = Map(
    "events_power_law_alpha" -> eventsPowerLawAlpha,
    "text_js_divergence" -> textJsDivergence,
    "text_bigram_lm_perplexity" -> textBigramLmPerplexity,
    "text_pmi_collocations" -> textPmiCollocations,
    "text_heaps_curve" -> textHeapsCurve,
    "agg_gini_impurity" -> aggGiniImpurity,
    "text_vocab_coverage" -> textVocabCoverage,
    "text_kn_continuation" -> textKnContinuation,
    "text_bm25_topk" -> textBm25Topk,
    "text_lm_dirichlet_topk" -> textLmDirichletTopk,
    "sample_perplexity_temperature" -> samplePerplexityTemperature,
    "text_entropy_exact" -> textEntropyExact,
    "events_entropy_user" -> eventsEntropyUser,
    "text_zipf_slope" -> textZipfSlope,
    "text_kl_divergence" -> textKlDivergence,
    "text_cond_entropy_bigram" -> textCondEntropyBigram,
    "text_perplexity_exact" -> textPerplexityExact,
  )
}
