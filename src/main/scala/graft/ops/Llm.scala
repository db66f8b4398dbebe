package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Readers.table

/** LLM-data-pipeline operators (SURVEY §2.8, north star): exact and
  * near deduplication, embedding similarity search, text analytics,
  * multimodal (text ⋈ vector) joins.
  *
  * Scale posture is the whole point of this module:
  *  - exact dedup is a hash groupBy (shuffle on the content hash — at
  *    100 TB the hash is 64 hex chars, not the document body);
  *  - MinHash-LSH turns O(n²) near-dup search into per-band equi-joins
  *    (shuffle key = (band, band_hash)); candidate verification touches
  *    only LSH-colliding pairs;
  *  - similarity search broadcasts the probe set (K vectors) and scans
  *    the corpus once — no corpus×corpus product; the pairwise variant
  *    blocks on `label` so the quadratic term is per-block;
  *  - all folds over float vectors run index-sequential in double so
  *    results are bitwise-deterministic (SURVEY §7.4).
  */
object Llm {

  import Relational.Q

  // ------------------------------------------------------------- helpers

  /** Canonical text: trim, collapse whitespace, lower. */
  private[graft] def normText(c: Column): Column =
    lower(regexp_replace(trim(c), "\\s+", " "))

  /** Widen float vector to double (exact). */
  private def asDouble(v: Column): Column =
    transform(v, x => x.cast("double"))

  /** Codegen'd cosine (bit-identical to the index-sequential
    * dot/(√n·√n) HOF fold).
    */
  private def cos(a: Column, b: Column): Column =
    graft.functions.TextExpressions.cosineSim(a, b)

  // ------------------------------------------------------------- §2.8

  /** Exact near-copy removal: normalize → sha256 → min doc_id wins. */
  val dedupExactHash: Q = (s, dir) =>
    table(s, dir, "documents")
      .select(col("doc_id"), sha2(normText(col("text")), 256).as("text_hash"))
      .groupBy("text_hash")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_id")

  /** Snapshot-upsert semantics (the CKAN-loader equivalent): latest
    * event per (user, type) by ts, unique event_id tiebreak.
    */
  val dedupLatestWins: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").desc, col("event_id").desc)
    table(s, dir, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_type", "event_id", "ts", "value")
      .orderBy("user_id", "event_type")
  }

  /** MinHash + LSH near-duplicate pairs.
    *
    * shingle (word 3-grams) → 16 MinHash values (xxhash64 with per-
    * permutation salt — seeded, deterministic) → 4 bands × 4 rows →
    * equi-join on (band, band_hash) → exact Jaccard ≥ 0.3 verification
    * on candidates only. No oracle (hash-seeded; recall/precision vs
    * brute-force Jaccard is unit-tested at sf0.001 instead — SURVEY
    * §7.3.2).
    */
  val dedupMinhashLsh: Q = (s, dir) => {
    val nPerm = 16
    val bands = 4
    val rowsPerBand = nPerm / bands

    // materialized once: the shingle relation feeds the signature
    // branch AND both sides of the verify join — without it the
    // tokenize pass runs 3–4× (exchange reuse does not fire across
    // aliased self-join sides; see dedup_simhash note)
    val docs = table(s, dir, "documents")
      .select(col("doc_id"),
        graft.functions.TextExpressions.wordShingles(col("text"), 3).as("shingles"))
      .filter(size(col("shingles")) > 0)
      .localCheckpoint()

    // Signatures in one native pass per row (no explode, no shuffle) —
    // element-identical to the former explode → groupBy(min(xxhash64(
    // sh, lit(i)))) aggregation; equality is pinned in LlmSpec.
    val sigs = docs.select(col("doc_id"),
      graft.functions.TextExpressions.minHashSigs(col("shingles"), nPerm).as("sig"))

    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        hash((b * rowsPerBand until (b + 1) * rowsPerBand)
          .map(i => element_at(col("sig"), i + 1)): _*)
          .as("bh")).as(s"b$b")
    }
    val banded = sigs.select(col("doc_id") +: bandCols: _*)
      .select(col("doc_id"), explode(array((0 until bands).map(b => col(s"b$b")): _*)).as("e"))
      .select(col("doc_id"), col("e.band").as("band"), col("e.bh").as("bh"))
      // narrow (id, band, hash) rows — materialize before the self-join
      .localCheckpoint()

    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()

    val shingleSets = docs.select(col("doc_id"), col("shingles"))
    cand
      .join(shingleSets.select(col("doc_id").as("a_id"), col("shingles").as("a_sh")), "a_id")
      .join(shingleSets.select(col("doc_id").as("b_id"), col("shingles").as("b_sh")), "b_id")
      .withColumn("jaccard",
        size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
          size(array_union(col("a_sh"), col("b_sh"))).cast("double"))
      .filter(col("jaccard") >= 0.3)
      .select("a_id", "b_id", "jaccard")
      .orderBy("a_id", "b_id")
  }

  /** Brute-force cosine top-5 per probe vector (K=5 probes broadcast
    * against one corpus scan). The scale path for large K is IVF/LSH
    * bucketing; brute force is the exactness baseline.
    */
  val simCosineTopk: Q = (s, dir) => {
    val emb = table(s, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val probes = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("p_id"), col("v").as("pv"))
    val w = Window.partitionBy(col("p_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    emb.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("p_id"))
      .withColumn("sim", cos(col("v"), col("pv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("p_id", "rank", "vec_id", "sim")
      .orderBy("p_id", "rank")
  }

  /** (vec_id, label, v) relation shared by the pairwise-cosine family. */
  private def embRel(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    table(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))

  /** k-NN GRAPH over the embedding corpus (k = 3, label-blocked) —
    * the backbone relation of semantic dedup and density-based
    * clustering (SemDeDup-style pipelines build exactly this, then
    * cut it): for EVERY vector, its top-k same-label neighbors by
    * exact cosine, directed (src, rank, dst, sim) rows.
    * [[simCosineTopk]] answers k probes; this materializes the whole
    * graph — |corpus| partitioned top-k's, not 5.
    *
    * Scale: candidates from the label block join (the
    * [[exactCosinePairs]] economics — Σ_label |block|²; at open-corpus
    * scale the block key gains sign-LSH bands, same escape as
    * [[dedupEmbeddingCosineLsh]], trading band-miss recall); the
    * top-k is a row_number window PARTITIONED BY src — per-vector
    * state only, and Spark runs it as a WindowGroupLimit rank
    * pushdown below the shuffle. Cosine is the codegen'd
    * [[graft.functions.TextExpressions.cosineSim]] — bit-identical
    * to the index-sequential fold in both engines, so the graph is
    * fully oracle-able (ties broken by dst id).
    */
  val simKnnGraph: Q = (s, dir) => {
    val emb = embRel(s, dir)
    val w = Window.partitionBy(col("src")).orderBy(col("sim").desc, col("dst"))
    emb.select(col("label"), col("vec_id").as("src"), col("v").as("va"))
      .join(emb.select(col("label"), col("vec_id").as("dst"), col("v").as("vb")),
        Seq("label"))
      .filter(col("src") =!= col("dst"))
      .withColumn("sim", cos(col("va"), col("vb")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("src"), col("rank"), col("dst"), col("sim"))
      .orderBy(col("src"), col("rank"))
  }

  /** Exact-verify pairwise cosine with a PLUGGABLE blocking key — the
    * one knob that decides whether the operator survives a 100×
    * scale-up (r4 verdict #1).
    *
    *  - `lshBands = false`: candidates are all same-`label` a<b pairs.
    *    Exact and complete, but label cardinality is a small constant,
    *    so the within-block product grows quadratically with the
    *    corpus — the sf-correctness shape, kept for the oracle'd keys.
    *  - `lshBands = true`: candidates must ALSO collide in ≥1
    *    sign-LSH band ([[SignLsh]], shared geometry with
    *    [[Llm2.simLshHyperplane]]). Pair generation becomes
    *    Σ_bucket |bucket|² over (label, band, bv) buckets — the bucket
    *    key gains 2⁴ resolution per band and keeps gaining with more
    *    bits at higher τ, which is what bounds the product at 100 TB.
    *    Only narrow (vec_id, label, band, bv) rows reach the collision
    *    join; pairs are `distinct`ed BEFORE the vectors re-attach for
    *    the exact cosine verify, so every emitted sim is exact and the
    *    only loss is band-miss recall (the LSH S-curve: ≈1 at the
    *    production τ ≥ 0.9, decaying for weaker pairs — planted-pair
    *    recall + subset-of-exact are spec'd, PlanSpec pins the banded
    *    join key).
    */
  private[graft] def exactCosinePairs(emb: DataFrame, tau: Double,
      strict: Boolean, lshBands: Boolean): DataFrame = {
    def keep(sim: Column): Column = if (strict) sim > tau else sim >= tau
    if (!lshBands) {
      val a = emb.select(col("label"), col("vec_id").as("a_id"), col("v").as("a_v"))
      val b = emb.select(col("label").as("b_label"), col("vec_id").as("b_id"),
        col("v").as("b_v"))
      a.join(b, col("label") === col("b_label") && col("a_id") < col("b_id"))
        .withColumn("sim", cos(col("a_v"), col("b_v")))
        .filter(keep(col("sim")))
        .select("label", "a_id", "b_id", "sim")
    } else {
      // materialize the narrow banded relation once: the self-join's
      // aliased sides never share an exchange, so without this the
      // sig+explode subtree (16 cosine evals per row over the parquet
      // scan) runs once PER SIDE — measured 2.9 → 1.6 s at sf0.1
      val banded = emb
        .select(col("vec_id"), col("label"),
          explode(SignLsh.bands(SignLsh.sig(col("v")))).as("e"))
        .select(col("vec_id"), col("label"),
          col("e.band").as("band"), col("e.bv").as("bv"))
        .localCheckpoint()
      val cand = banded.as("a").join(banded.as("b"),
          col("a.label") === col("b.label") && col("a.band") === col("b.band") &&
            col("a.bv") === col("b.bv") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.label").as("label"),
          col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
        .distinct()
      cand
        .join(emb.select(col("vec_id").as("a_id"), col("v").as("a_v")), "a_id")
        .join(emb.select(col("vec_id").as("b_id"), col("v").as("b_v")), "b_id")
        .withColumn("sim", cos(col("a_v"), col("b_v")))
        .filter(keep(col("sim")))
        .select("label", "a_id", "b_id", "sim")
    }
  }

  /** All same-label pairs with cosine > 0.3 — label blocking keeps the
    * pairwise product per-block (sub-quadratic overall at test SFs;
    * the open-corpus path is [[simPairwiseThresholdLsh]]).
    */
  val simPairwiseThreshold: Q = (s, dir) =>
    exactCosinePairs(embRel(s, dir), tau = 0.3, strict = true, lshBands = false)
      .orderBy("label", "a_id", "b_id")

  /** The 100 TB form of [[simPairwiseThreshold]]: same exact-cosine
    * verify, blocking key = label ∧ sign-LSH band. Seeded geometry →
    * no SQL oracle; spec'd as subset-of-exact with identical sims plus
    * planted-pair recall.
    */
  val simPairwiseThresholdLsh: Q = (s, dir) =>
    exactCosinePairs(embRel(s, dir), tau = 0.3, strict = true, lshBands = true)
      .orderBy("label", "a_id", "b_id")

  private[graft] val stopwords = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** Tokenize → stopword-filter → top-5 terms per language. The
    * (lang, token) counts are the shared [[InfoTheory.tokLangCounts]]
    * rollup (round 15 — identical tokenizer); the stopword filter
    * runs on the group KEY, so filtering the aggregated relation is
    * exactly filtering before aggregation.
    */
  val textTokenizeStats: Q = (s, dir) => {
    val w = Window.partitionBy(col("lang")).orderBy(col("n").desc, col("token").asc)
    InfoTheory.tokLangCounts(s, dir)
      .select(col("lang"), col("tok").as("token"), col("cnt").as("n"))
      .filter(!col("token").isin(stopwords: _*))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("lang", "rank", "token", "n")
      .orderBy("lang", "rank")
  }

  /** TF-IDF per (doc, term), top-3 terms per doc. tfidf = tf·ln(N/df)
    * is rounded to 6 decimals BEFORE ranking (libm ULP discipline,
    * SURVEY §7.4) with a term tiebreak.
    */
  val textTfidfTopterms: Q = (s, dir) => {
    val docs = table(s, dir, "documents")
    // tf = the shared per-(doc, tok) rollup (round 15 — identical
    // tokenizer to InfoTheory's canonical one)
    val tf = InfoTheory.tokDocCounts(s, dir)
      .select(col("doc_id"), col("tok").as("term"), col("cnt").as("tf"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    // df as a window count over the SAME tf relation — the former
    // groupBy+broadcast-join formulation re-evaluated the whole
    // tokenize→explode→tf subtree a second time (column pruning makes
    // the two subtrees differ, so Catalyst cannot reuse the exchange);
    // one window shuffle on term replaces that recompute entirely.
    val df = Window.partitionBy(col("term"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term").asc)
    tf.withColumn("df", count(lit(1)).over(df))
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df").cast("double")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select("doc_id", "rank", "term", "tfidf")
      .orderBy("doc_id", "rank")
  }

  /** Per-(lang, source) doc stats: counts, exact avg length, histogram
    * buckets. n_chars is integral, so sum/count division is exact.
    */
  val textLangPartitionStats: Q = (s, dir) =>
    table(s, dir, "documents")
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
        count(when(col("n_chars") < 80, lit(1))).as("n_short"),
        count(when(col("n_chars") >= 80 && col("n_chars") < 100, lit(1))).as("n_mid"),
        count(when(col("n_chars") >= 100, lit(1))).as("n_long"))
      .orderBy("lang", "source")

  /** Documents ⋈ embeddings: one relation carrying text + vector +
    * label (the multimodal-column surface; inner join — FIXTURES.md
    * notes the tables intentionally diverge in cardinality at sf0.1).
    */
  val multimodalJoin: Q = (s, dir) =>
    table(s, dir, "documents")
      .join(table(s, dir, "embeddings"), col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        col("label"), size(col("embedding")).as("dim"),
        substring(col("text"), 1, 20).as("text_prefix"))
      .orderBy("doc_id")

  /** Pairs → per-dup smallest-id keeper (shared tail of the
    * embedding-dedup family).
    */
  private def keepSmallestNeighbor(pairs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("dup_id")).orderBy(col("keep_id").asc)
    pairs
      .select(col("label"), col("b_id").as("dup_id"), col("a_id").as("keep_id"), col("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("label", "dup_id", "keep_id", "sim")
      .orderBy("dup_id")
  }

  /** Embedding-cosine near-duplicate removal — the vector-space member
    * of the dedup family (exact hash / MinHash / SimHash / n-gram
    * Jaccard / THIS). Label-blocked exact pairwise cosine (the blocks
    * bound the pair product, as in [[simPairwiseThreshold]]); each doc
    * with a neighbor at sim ≥ τ is marked a duplicate of its
    * smallest-id direct neighbor (single-link transitivity is
    * deliberately out of scope — connected components is a different
    * operator). τ = 0.35 here because the synthetic embeddings contain
    * no planted near-dups (max in-label cosine ≈ 0.47); production
    * pipelines run 0.9+. At open-corpus scale the blocking key gains a
    * sign-LSH band — [[dedupEmbeddingCosineLsh]], same exact-verify
    * shape downstream of [[exactCosinePairs]].
    */
  val dedupEmbeddingCosine: Q = (s, dir) =>
    keepSmallestNeighbor(
      exactCosinePairs(embRel(s, dir), tau = 0.35, strict = false, lshBands = false))

  /** The 100 TB form of [[dedupEmbeddingCosine]]: blocking key =
    * label ∧ sign-LSH band (see [[exactCosinePairs]]); each emitted
    * duplicate still carries its exact cosine.
    */
  val dedupEmbeddingCosineLsh: Q = (s, dir) =>
    keepSmallestNeighbor(
      exactCosinePairs(embRel(s, dir), tau = 0.35, strict = false, lshBands = true))

  /** Connected components over an undirected pair set — the closure
    * step every near-dup operator needs: MinHash/SimHash/cosine dedup
    * emit PAIRS, but removing duplicates requires grouping pairs into
    * clusters (keep the min-id member per component).
    *
    * Algorithm: distributed large-star/small-star rounds + bounded
    * local endgame. While the edge set exceeds `localThreshold` rows,
    * run one two-phase round (Kiveris et al., "Connected Components in
    * MapReduce and Beyond"):
    *   - large-star: every node u emits (v, min(u ∪ N(u))) for each
    *     LARGER neighbor v — hooks big ids onto the local minimum;
    *   - small-star: on the resulting larger→smaller edges, every hub
    *     rewires its smaller targets (and itself) to their minimum.
    * Both operations preserve components, keep every non-singleton
    * node inside the edge relation (no relabeling, so no mapping to
    * compose), never grow the edge count, and halve path-shaped
    * chains per round — O(log² n) rounds worst case, 1–3 in practice
    * for dense near-dup clusters. A naive min-neighbor contraction is
    * NOT used deliberately: on an id-sorted path it removes one node
    * per round (O(n) rounds).
    *
    * Two exits, both exact:
    *   - SMALL graph (≤ `localThreshold` edges, before or between
    *     rounds): collect and close with a driver-side union-find —
    *     the same small-side-materialization judgment call as a
    *     broadcast join; the driver holds ≤ threshold edges, never
    *     the input. (A pure label-propagation loop is round-bound
    *     instead of data-bound — O(diameter) fixed-overhead Spark
    *     jobs; the sf0.1 cosine graph took 16 rounds / ~6 s that way
    *     vs one collect here.)
    *   - BIG graph: iterate to the distributed fixpoint. Converged
    *     star sets are recognized structurally (every hub has exactly
    *     one target and no target is itself a hub — with the
    *     larger→smaller edge canon that forces one star per component
    *     rooted at the component minimum, which is why a converged
    *     big graph never needs to fit the threshold: the edge set IS
    *     the answer, emitted distributed. The check only runs once
    *     the edge count stops shrinking, so shrinking rounds pay one
    *     count each.
    *
    * Lineage is truncated per round with `localCheckpoint` (iterative
    * DataFrame loops otherwise stack an exponentially deep plan); a
    * multi-node cluster run would use `checkpoint` against a
    * fault-tolerant dir instead.
    *
    * Output: one (id, component) row per node that appears in ≥ 1
    * pair; component = min node id reachable. Isolated docs are their
    * own singleton components by definition and are left out of the
    * relation (callers left-anti-join against it, exactly as they
    * would against a dup-pair list).
    */
  private[graft] def connectedComponents(
      pairs: org.apache.spark.sql.DataFrame, maxRounds: Int = 50,
      localThreshold: Long = 100000L): org.apache.spark.sql.DataFrame = {
    val spark = pairs.sparkSession
    // canonical undirected form: (hi, lo) with hi > lo, dedup'd
    val init = pairs
      .select(greatest(col("a_id"), col("b_id")).as("hi"),
        least(col("a_id"), col("b_id")).as("lo"))
      .filter(col("hi") =!= col("lo"))
      .distinct()
    // Iterate.untilFixpoint owns the round loop: per-round edge count
    // is the permitted driver scalar (the continuation depends on it),
    // and checkpointing happens at the driver, once per round.
    val fp = Iterate.untilFixpoint(init, _.count(), localThreshold,
      maxRounds) { edges =>
      // large-star: group by node over BOTH directions; emit
      // (larger-neighbor, neighborhood-min). v > u ≥ m keeps (hi, lo)
      // canonical with no extra filter.
      val sym = edges.select(col("hi").as("u"), col("lo").as("v"))
        .union(edges.select(col("lo").as("u"), col("hi").as("v")))
      val mins = sym.groupBy("u").agg(least(col("u"), min(col("v"))).as("m"))
      val afterLarge = sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .distinct()
      // small-star: every hub points its smaller targets (and itself)
      // at their collective min; x ≥ m by construction, x = m rows are
      // the dropped self-loops
      val mins2 = afterLarge.groupBy("hi").agg(min(col("lo")).as("m"))
      afterLarge.join(mins2, "hi")
        .select(col("lo").as("x"), col("m"))
        .union(mins2.select(col("hi").as("x"), col("m")))
        .filter(col("x") =!= col("m"))
        .select(col("x").as("hi"), col("m").as("lo"))
        .distinct()
    } { (prevCount, edges, eCount2) =>
      // stable count is necessary for the fixpoint; only then pay the
      // structural star-ness check: one target per hub, and no hub is
      // anyone's target (two more measure-class scalars, conditional)
      eCount2 == prevCount && {
        val hubs = edges.select("hi").distinct()
        val chained = edges
          .join(hubs.select(col("hi").as("lo")), Seq("lo"), "left_semi").count()
        chained == 0 && hubs.count() == eCount2
      }
    }
    val edges = fp.state
    val eCount = fp.measure
    val converged = fp.converged
    if (eCount <= localThreshold) {
      // endgame: close the residual with a union-find on the driver;
      // star rounds never drop a non-singleton node, so this edge set
      // still names every paired node
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      // iterative find: loop to the root, then a second pass compresses
      // the whole chain. A recursive find would recurse chain-deep —
      // with union-by-min (no rank) an adversarially ordered edge list
      // builds O(n)-long chains, and at the 100k-edge threshold that
      // overflows the JVM stack.
      def find(x: Long): Long = {
        var root = x
        while (parent.getOrElseUpdate(root, root) != root) root = parent(root)
        var cur = x
        while (cur != root) { val next = parent(cur); parent(cur) = root; cur = next }
        root
      }
      edges.select("hi", "lo").collect().foreach { row =>
        val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // the terminal star set is fully absorbed into driver state —
      // free its checkpoint here (r18 hygiene; in this branch the
      // returned frame is a LocalRelation, so no caller can free it)
      Checkpoints.free(edges)
      val roots = parent.keys.map(k => (k, find(k))).toSeq
      spark.createDataFrame(roots).toDF("id", "comp")
    } else if (converged) {
      // the star set IS the assignment: members point at their root,
      // roots label themselves
      edges.select(col("hi").as("id"), col("lo").as("comp"))
        .union(edges.select(col("lo").as("id"), col("lo").as("comp")).distinct())
    } else {
      // O(log² n) rounds suffice for any graph the planet holds; if the
      // bound is hit the caller lowered it — refuse rather than return
      // a partial closure
      throw new IllegalStateException(
        s"connectedComponents: no fixpoint after $maxRounds rounds ($eCount edges left)")
    }
  }

  /** Components over the deterministic cosine-threshold pair set
    * ([[simPairwiseThreshold]] — already oracle-matched, so the edge
    * SET is bit-identical across engines and the closure is
    * integer-only). DuckDB oracle: recursive-CTE reachability with
    * min-id per node.
    */
  val dedupConnectedComponents: Q = (s, dir) =>
    connectedComponents(simPairwiseThreshold(s, dir).select("a_id", "b_id"))
      .select(col("id"), col("comp").as("component"))
      .orderBy("id")

  /** Pair → cluster closure for the MinHash family: components over
    * [[dedupMinhashLsh]]'s verified pair set — the same composition
    * [[CurationPipeline]] applies to its jaccard pairs, exposed as its own
    * key so the MinHash path's dedup loop (pairs → clusters → keep
    * min-id per cluster) closes inside the library too. Seeded MinHash
    * ⇒ no SQL oracle; LlmSpec asserts the clusters equal the
    * transitive closure of brute-force shingle-Jaccard ≥ 0.3 pairs at
    * sf0.001.
    */
  val dedupMinhashClusters: Q = (s, dir) =>
    connectedComponents(dedupMinhashLsh(s, dir).select("a_id", "b_id"))
      .select(col("id"), col("comp").as("component"))
      .orderBy("id")

  /** Deterministic hash-bucketed train/valid/test split — the holdout
    * assignment every training-data pipeline needs. md5 of a salted
    * key → first 8 hex chars → integer bucket 0..99 → 80/10/10. The
    * assignment is a pure function of the key: stable across runs,
    * engines, partitionings, and corpus growth (a doc's split never
    * changes when other docs arrive), which is exactly what seeded
    * `sample()` does NOT give. Embarrassingly parallel at any scale.
    */
  /** md5 hex → integer bucket 0..99, a pure function of the key. */
  private[graft] def hashBucket(salt: String)(key: Column): Column =
    conv(substring(md5(concat_ws("|", lit(salt),
      key.cast("string"))), 1, 8), 16, 10).cast("long") % 100

  private[graft] def splitBucket(key: Column): Column =
    hashBucket("graft-split")(key)

  /** Sampling bucket — a DIFFERENT salt than the split bucket, so
    * composing stratified sampling with the train/valid/test split
    * stays independent. Sharing the salt correlates the two: a stratum
    * kept at 50% would consist entirely of docs with split bucket<50,
    * i.e. all-train, starving valid/test of that stratum.
    */
  private[graft] def sampleBucket(key: Column): Column =
    hashBucket("graft-sample")(key)

  /** 80/10/10 split name from a bucket. */
  private[graft] def splitName(bucket: Column): Column =
    when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test")

  val sampleHashSplit: Q = (s, dir) =>
    table(s, dir, "documents")
      .select(col("doc_id"), col("lang"), splitBucket(col("doc_id")).as("bucket"))
      .withColumn("split", splitName(col("bucket")))
      .orderBy("doc_id")

  /** The mixture specification for [[sampleMixtureExact]]: target
    * ppm proportions per language, summing to 10⁶. One constant
    * feeds BOTH the Spark plan and the generated oracle VALUES
    * clause (the Exp2Sql single-source-of-truth discipline).
    */
  private[graft] val MixtureWeights: Seq[(String, Long)] = Seq(
    "en" -> 400000L, "de" -> 150000L, "es" -> 150000L,
    "fr" -> 150000L, "zh" -> 150000L)

  /** Fixed budget for [[sampleMixtureEpochs]], in documents. */
  private[graft] val MixtureBudgetDocs = 1000L

  /** Repeat-factor planning — the DUAL of [[sampleMixtureExact]]:
    * instead of shrinking the total until every quota fits
    * availability, keep a FIXED total budget and compute how many
    * full EPOCHS of each language the quota implies plus the
    * partial-epoch remainder (the Chinchilla-style "how many times do
    * we repeat the small languages" table a data-mixing plan loads).
    * quota_l = floor(B·w_l/10⁶); epochs_l = quota_l div avail_l;
    * partial_l = quota_l mod avail_l; repeat_factor is the one
    * correctly-rounded double division at the end. Five-row output —
    * a pure aggregation, broadcast-joined weights.
    */
  val sampleMixtureEpochs: Q = (s, dir) => {
    val w = {
      import s.implicits._
      MixtureWeights.toDF("lang", "w_ppm")
    }
    table(s, dir, "documents").groupBy(col("lang"))
      .agg(count(lit(1)).as("avail"))
      .join(broadcast(w), "lang")
      .select(col("lang"), col("avail"),
        floor(col("w_ppm") * lit(MixtureBudgetDocs) / lit(1000000L))
          .cast("long").as("quota"))
      .withColumn("full_epochs", (col("quota") / col("avail")).cast("long"))
      .withColumn("partial_docs", col("quota") % col("avail"))
      .withColumn("repeat_factor",
        col("quota").cast("double") / col("avail").cast("double"))
      .orderBy("lang")
  }

  /** EXACT data-mixture sampling (round 10 resume) — the fixed-ratio
    * mixing step of training-corpus assembly: find the LARGEST total
    * T whose per-language quotas floor(T·w_l) all fit inside the
    * available counts (the binding language sets T; here fr binds at
    * sf0.01), then admit exactly quota_l docs per language by
    * deterministic hash rank. Everything is integer or
    * exact-in-double (all products < 2⁵³), the rank key is the house
    * md5 under its own salt with a doc_id tiebreaker, and the window
    * is language-partitioned — so the sample is a pure function of
    * the corpus, identical across engines, runs, and partitionings.
    * Scale: one tiny per-language count agg, two 1-to-5-row
    * broadcasts, one partitioned window — no wide shuffle beyond the
    * per-language rank.
    */
  val sampleMixtureExact: Q = (s, dir) => {
    val docs = table(s, dir, "documents").select(col("doc_id"), col("lang"))
    val w = {
      import s.implicits._
      MixtureWeights.toDF("lang", "w_ppm")
    }
    val tTotal = docs.groupBy(col("lang")).agg(count(lit(1)).as("avail"))
      .join(w, "lang")
      .agg(min(floor(col("avail") * lit(1000000L) / col("w_ppm"))
        .cast("long")).as("t_total"))
    val quotas = w.crossJoin(broadcast(tTotal))
      .select(col("lang"),
        floor(col("t_total") * col("w_ppm") / lit(1000000L))
          .cast("long").as("quota"))
    val rk = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
      .orderBy(md5(concat_ws("|", lit("graft-mix"),
        col("doc_id").cast("string"))), col("doc_id"))
    docs.withColumn("rank", row_number().over(rk).cast("long"))
      .join(broadcast(quotas), "lang")
      .filter(col("rank") <= col("quota"))
      .select(col("doc_id"), col("lang"), col("rank"))
      .orderBy("lang", "rank")
  }

  /** Temperature-flattened domain sampling (round 7) — the
    * multilingual/multi-source rebalancing step of LLM data mixing
    * (the α-temperature scheme of mBERT/XLM-R): large domains are
    * downsampled toward √n while small ones are kept whole, so the
    * mixture flattens without starving the tail. α is FIXED at 0.5
    * deliberately: the per-domain keep rate is then
    * `min(1, C/√n_i)`, whose float chain (sqrt, divide, multiply,
    * floor) is exact-rounded IEEE in both engines — a general
    * `pow(n, α−1)` is correctly-rounded in NEITHER libm, and a 1-ULP
    * disagreement at a ppm threshold boundary would flip membership.
    * The gate itself is the house md5 discipline under its own salt
    * (independence from split/sample/budget gates — see
    * [[sampleBucket]]) at ppm granularity, so membership is a pure
    * function of (doc_id, domain size): stable across runs, engines,
    * and partitionings. One tiny domain-count aggregate + a broadcast
    * join + a row-local gate: no wide shuffle at any scale.
    */
  /** Temperature admission over an arbitrary (doc_id, lang, …)
    * frame — the α = 0.5 gate of [[sampleTemperature]] factored out
    * (round 16) so [[CurationPipeline]]'s mixing stage and the
    * registry key share one definition. Keeps the frame's other
    * columns; adds (lang_total, thr).
    */
  private[graft] def temperatureKeep(d: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val c = 2.0 // cap constant: domain i keeps ≈ C·√n_i docs
    val n = d.groupBy(col("lang")).agg(count(lit(1)).as("lang_total"))
      .withColumn("thr",
        floor(least(lit(1.0), lit(c) / sqrt(col("lang_total").cast("double")))
          * 1000000).cast("long"))
    val ppm = conv(substring(md5(concat_ws("|", lit("graft-temp"),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long") % 1000000
    d.join(broadcast(n), "lang")
      .filter(ppm < col("thr"))
  }

  val sampleTemperature: Q = (s, dir) =>
    temperatureKeep(table(s, dir, "documents").select(col("doc_id"), col("lang")))
      .select(col("doc_id"), col("lang"), col("lang_total"), col("thr"))
      .orderBy("doc_id")

  /** Rational-α temperature sampling (round 8 — generalizes
    * [[sampleTemperature]], which pins α = 0.5 because a general
    * `pow(n, α−1)` is correctly-rounded in neither engine's libm and
    * a 1-ULP disagreement at a ppm boundary flips membership). For
    * α = p/q the keep rate is C·n^{−m/q} with m = q − p, and its ppm
    * threshold has a PURELY INTEGER characterization:
    *
    *   thr = max { t ≤ 10⁶ : t^q · n^m ≤ (10⁶·C)^q }
    *
    * i.e. the integer q-th root of (10⁶·C)^q / n^m — computed here by
    * BigInt binary search (≈20 exact integer comparisons per DOMAIN,
    * not per row), and in the DuckDB oracle by an integer-arithmetic
    * max over a candidate series. No float ever enters the chain, so
    * the kept set is engine-exact at every α — the oracle survives
    * where the float form would lose it.
    *
    * One hash gate under one salt for ALL α: smaller α ⇒ smaller thr
    * ⇒ the kept sets NEST (an α = 1/3 mixture is a subset of the
    * α = 2/3 one), so mixtures at different temperatures are directly
    * comparable — the property a mixture-tuning sweep wants. Same
    * scale posture as the fixed-α form: tiny domain agg × 3 α rows,
    * broadcast, row-local gate; no wide shuffle at any scale.
    */
  val sampleTemperatureRational: Q = (s, dir) => {
    import s.implicits._
    val c = 2L // cap constant: domain i keeps ≈ C·n_i^α docs
    val d = table(s, dir, "documents").select(col("doc_id"), col("lang"))
    val n = d.groupBy(col("lang")).agg(count(lit(1)).as("lang_total"))
    val thrUdf = udf((nTotal: Long, p: Int, q: Int) => {
      val cap = BigInt(1000000L * c).pow(q)
      val nm = BigInt(nTotal).pow(q - p)
      var lo = 0L
      var hi = 1000000L
      while (lo < hi) {
        val mid = (lo + hi + 1) / 2
        if (BigInt(mid).pow(q) * nm <= cap) lo = mid else hi = mid - 1
      }
      lo
    })
    val params = Seq((1, 3), (1, 2), (2, 3)).toDF("alpha_p", "alpha_q")
    val nThr = n.crossJoin(params) // |langs| × 3 — broadcast-scalar tiny
      .withColumn("thr", thrUdf(col("lang_total"), col("alpha_p"), col("alpha_q")))
    val ppm = conv(substring(md5(concat_ws("|", lit("graft-temp-r"),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long") % 1000000
    d.join(broadcast(nThr), "lang")
      .filter(ppm < col("thr"))
      .select(col("alpha_p"), col("alpha_q"), col("doc_id"), col("lang"),
        col("lang_total"), col("thr"))
      .orderBy("alpha_q", "alpha_p", "doc_id")
  }

  /** Deterministic stratified downsampling — the corpus-mixture
    * operation every training pipeline runs (rebalance languages /
    * sources to target proportions before training). Per-stratum keep
    * fraction applied through the same hash-threshold mechanism as
    * [[sampleHashSplit]] but under its own salt (independence — see
    * [[sampleBucket]]): a doc survives iff its md5 bucket falls
    * under the stratum's percentage, so membership is a pure function
    * of (doc_id, stratum fraction) — stable across runs, engines,
    * partitionings, and corpus growth, which seeded `sampleBy` is
    * not. Embarrassingly parallel; SQL-expressible, hence oracle'd
    * (seeded RNG sampling never is).
    */
  val sampleStratifiedHash: Q = (s, dir) => {
    // target per-language keep percentages: downweight the dominant
    // strata, keep the rest whole (the mixture knob a real run tunes)
    val keepPct = typedlit(Map("en" -> 50, "zh" -> 25))
    table(s, dir, "documents")
      .withColumn("bucket", sampleBucket(col("doc_id")))
      .withColumn("keep_pct", coalesce(element_at(keepPct, col("lang")), lit(100)))
      .filter(col("bucket") < col("keep_pct"))
      .select("doc_id", "lang", "bucket", "keep_pct")
      .orderBy("doc_id")
  }

  /** Full md5 hex under its own salt — the deterministic per-stratum
    * ADMISSION ORDER for token-budget sampling (a different salt than
    * split/sample buckets for the same independence reason as
    * [[sampleBucket]]).
    */
  private[graft] def budgetHash(key: Column): Column =
    md5(concat_ws("|", lit("graft-budget"), key.cast("string")))

  /** Token-budget quota sampling — the data-MIXTURE knob stated in
    * tokens rather than document fractions: each language contributes
    * documents, in a deterministic hash order, until its TOKEN budget
    * is spent (training mixtures are specified as token shares;
    * [[sampleStratifiedHash]]'s per-doc percentages can't hit a token
    * target when doc lengths differ across strata). A doc is kept iff
    * its inclusive running token sum within its language ≤ budget —
    * a pure function of (corpus, budget): stable across runs,
    * engines, and partitionings.
    *
    * Scale: the running sum NEVER runs as one window partition per
    * language (a language is a constant-cardinality stratum — at
    * 100 TB that window is a single-task straggler). Same distributed
    * prefix-sum shape as [[Llm2.packSequences]]: the hash PREFIX
    * buckets each language's stream into 256 ranges whose order
    * matches the full-hash order (byte-0 of the hex IS the leading
    * comparison), so per-(lang, bucket) windows run in parallel and
    * only the 256-row-per-lang bucket-total relation sees a sequential
    * window. Token counting matches [[Llm2.packSequences]] (empty docs
    * hold zero tokens).
    */
  val sampleTokenBudget: Q = (s, dir) => {
    val budget = 2000L
    val counted = table(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        when(trim(col("text")) === "", 0L)
          .otherwise(size(split(trim(col("text")), "\\s+")).cast("long")).as("n_toks"),
        budgetHash(col("doc_id")).as("h"))
      .filter(col("n_toks") > 0)
      .withColumn("bucket", conv(substring(col("h"), 1, 2), 16, 10).cast("int"))
      .withColumn("run",
        sum(col("n_toks")).over(
          Window.partitionBy(col("lang"), col("bucket")).orderBy(col("h"), col("doc_id"))))
      // one corpus scan: the bucket-offset aggregation and the final
      // join both consume this narrow relation
      .localCheckpoint()
    val offsets = counted.groupBy("lang", "bucket").agg(sum(col("n_toks")).as("btot"))
      .withColumn("off",
        sum(col("btot")).over(Window.partitionBy(col("lang")).orderBy(col("bucket")))
          - col("btot"))
      .select("lang", "bucket", "off")
    counted.join(broadcast(offsets), Seq("lang", "bucket"))
      .withColumn("cum_toks", col("off") + col("run"))
      .filter(col("cum_toks") <= budget)
      .select("doc_id", "lang", "n_toks", "cum_toks")
      .orderBy("lang", "cum_toks", "doc_id")
  }

  val queries: Map[String, Q] = Map(
    "sample_token_budget" -> sampleTokenBudget,
    "dedup_exact_hash" -> dedupExactHash,
    "dedup_connected_components" -> dedupConnectedComponents,
    "dedup_embedding_cosine" -> dedupEmbeddingCosine,
    "dedup_embedding_cosine_lsh" -> dedupEmbeddingCosineLsh,
    "sim_pairwise_threshold_lsh" -> simPairwiseThresholdLsh,
    "sample_hash_split" -> sampleHashSplit,
    "sample_temperature" -> sampleTemperature,
    "sample_mixture_exact" -> sampleMixtureExact,
    "sample_mixture_epochs" -> sampleMixtureEpochs,
    "sample_temperature_rational" -> sampleTemperatureRational,
    "sample_stratified_hash" -> sampleStratifiedHash,
    "dedup_latest_wins" -> dedupLatestWins,
    "dedup_minhash_lsh" -> dedupMinhashLsh,
    "dedup_minhash_clusters" -> dedupMinhashClusters,
    "sim_cosine_topk" -> simCosineTopk,
    "sim_knn_graph" -> simKnnGraph,
    "sim_pairwise_threshold" -> simPairwiseThreshold,
    "text_tokenize_stats" -> textTokenizeStats,
    "text_tfidf_topterms" -> textTfidfTopterms,
    "text_lang_partition_stats" -> textLangPartitionStats,
    "multimodal_join" -> multimodalJoin,
  )
}
