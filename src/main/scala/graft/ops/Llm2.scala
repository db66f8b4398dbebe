package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._

import graft.io.Readers.table

/** Training-data-pipeline operators beyond SURVEY §2.8's core set:
  * language-ID, quality scoring, token counting, document
  * fingerprinting, SimHash near-dup, n-gram Jaccard, IVF-style ANN,
  * binary-column metadata (north star: BASELINE.json:6).
  *
  * Scale posture mirrors §2.8: everything is one scan + hash
  * partitioned aggregation; pairwise ops are blocked (lang /
  * simhash-band / IVF-cluster) so no unblocked O(n²) exists.
  */
object Llm2 {

  import Relational.Q

  private def toks(c: Column): Column = split(Llm.normText(c), " ")

  // ------------------------------------------------------- language ID

  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "ist", "das", "nicht", "ein"),
    "en" -> Seq("the", "and", "of", "is", "with", "that", "this"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "una"),
    "fr" -> Seq("le", "les", "et", "est", "une", "dans", "pour"))

  /** N-gram/marker-token language ID. Scores = marker-token hits per
    * language + CJK codepoint count for zh; argmax with alphabetical
    * tie-break, 'und' when nothing scores. The heuristic is
    * deterministic and SQL-expressible, so it IS oracle-checked on the
    * driver corpus; discriminative power is asserted on real-language
    * fixtures in the unit spec (the synthetic corpus shares one
    * vocabulary across langs).
    */
  /** Per-language marker score expressions over a text column. */
  private[graft] def langScoreCols(text: Column): Seq[Column] = {
    val t = toks(text)
    langMarkers.map { case (lang, ms) =>
      size(filter(t, x => x.isin(ms.map(lit(_)): _*))).as(s"s_$lang")
    } :+ (size(split(text, "[一-鿿]")) - 1).as("s_zh")
  }

  /** Standalone predicted-language expression (same argmax/tie-break
    * as [[textLangId]]; the query keeps its per-score columns for the
    * oracle while composites use this single column).
    */
  private[graft] def predLangCol(text: Column): Column = {
    val t = toks(text)
    def score(ms: Seq[String]): Column =
      size(filter(t, x => x.isin(ms.map(lit(_)): _*)))
    val m = langMarkers.toMap
    val (sDe, sEn, sEs, sFr) = (score(m("de")), score(m("en")), score(m("es")), score(m("fr")))
    val sZh = size(split(text, "[一-鿿]")) - 1
    val mx = greatest(sDe, sEn, sEs, sFr, sZh)
    when(sZh > 0, "zh") // CJK presence dominates
      .when(mx === 0, "und")
      .when(sDe === mx, "de")
      .when(sEn === mx, "en")
      .when(sEs === mx, "es")
      .otherwise("fr")
  }

  val textLangId: Q = (s, dir) => {
    val mx = greatest(col("s_de"), col("s_en"), col("s_es"), col("s_fr"), col("s_zh"))
    table(s, dir, "documents")
      .select(col("doc_id") +: langScoreCols(col("text")): _*)
      .withColumn("pred_lang",
        when(col("s_zh") > 0, "zh") // CJK presence dominates
          .when(mx === 0, "und")
          .when(col("s_de") === mx, "de")
          .when(col("s_en") === mx, "en")
          .when(col("s_es") === mx, "es")
          .otherwise("fr"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------- quality scoring

  /** Standalone blended quality expression (identical formula to
    * [[textQualityScore]]'s `quality` column, for composites).
    */
  private[graft] def qualityCol(text: Column): Column = {
    val t = toks(text)
    val nTokens = size(t)
    val nStop = size(filter(t, x => x.isin(Llm.stopwords.map(lit(_)): _*)))
    val stopRatio = nStop.cast("double") / nTokens
    val nonalnumRatio =
      (length(text) - length(regexp_replace(text, "[^a-z0-9 ]", "")))
        .cast("double") / length(text)
    round(
      least(nTokens.cast("double") / 20.0, lit(1.0)) * 0.4 +
        (lit(1.0) - stopRatio) * 0.3 +
        (lit(1.0) - nonalnumRatio) * 0.3, 6)
  }

  /** Heuristic quality score: token count, mean token length, stopword
    * ratio, non-alnum ratio. All components are exact int ratios; the
    * blended score is rounded to 6 (SURVEY §7.4).
    */
  val textQualityScore: Q = (s, dir) => {
    val t = toks(col("text"))
    table(s, dir, "documents")
      .select(col("doc_id"), col("text"),
        size(t).as("n_tokens"),
        size(filter(t, x => x.isin(Llm.stopwords.map(lit(_)): _*))).as("n_stop"))
      .withColumn("avg_token_len",
        (length(regexp_replace(col("text"), " ", "")).cast("double") / col("n_tokens")))
      .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_tokens"))
      .withColumn("nonalnum_ratio",
        (length(col("text")) - length(regexp_replace(col("text"), "[^a-z0-9 ]", "")))
          .cast("double") / length(col("text")))
      .withColumn("quality", round(
        least(col("n_tokens").cast("double") / 20.0, lit(1.0)) * 0.4 +
          (lit(1.0) - col("stop_ratio")) * 0.3 +
          (lit(1.0) - col("nonalnum_ratio")) * 0.3, 6))
      .select("doc_id", "n_tokens", "n_stop", "avg_token_len", "stop_ratio",
        "nonalnum_ratio", "quality")
      .orderBy("doc_id")
  }

  // ------------------------------------------------------ token counts

  /** Whitespace token count + BPE-ish piece count (letter runs, digit
    * runs, punctuation runs — the pre-tokenizer split a byte-pair
    * encoder would see).
    */
  val textTokenCount: Q = (s, dir) =>
    table(s, dir, "documents")
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).as("ws_tokens"),
        regexp_count(col("text"), lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]")).as("bpe_pieces"),
        (length(col("text")).cast("double") / 4.0).as("est_llm_tokens"))
      .orderBy("doc_id")

  // -------------------------------------------------- doc fingerprinting

  /** Polynomial rolling hash over the normalized character stream,
    * mod 1e9+7 — a content fingerprint computable identically in any
    * engine (no engine-specific hash), sequential fold → deterministic.
    *
    * The fold is the native [[graft.functions.TextExpressions.RollingHash]]
    * (one code-point pass per row, codegen'd): the earlier
    * `aggregate(transform(sequence(...), ascii(substr(norm, i, 1))))`
    * form re-ran the inlined trim/lower/regex subtree once per
    * CHARACTER (O(len²) per doc — r4 verdict #4; A/B on a 40 kB-doc
    * fixture in ExpressionsSpec: 102-117 s → 0.25-0.3 s for 64 docs).
    * `norm` is still projected as a real column so `length` shares
    * one normalization.
    */
  val textFingerprint: Q = (s, dir) =>
    table(s, dir, "documents")
      .withColumn("norm", lower(regexp_replace(trim(col("text")), "\\s+", " ")))
      .select(col("doc_id"),
        graft.functions.TextExpressions.rollingHash(col("norm")).as("fingerprint"),
        length(col("norm")).as("n_chars_norm"))
      .orderBy("doc_id")

  // --------------------------------------------------- n-gram Jaccard

  /** Token-bigram Jaccard ≥ 0.5 near-dup pairs within a language
    * block — the exact (non-probabilistic) counterpart to MinHash,
    * fully SQL-expressible so it carries an oracle. The pipeline and
    * its exactness contract are [[PairJoins]]'s, under
    * [[PairJoins.Jaccard]].
    */
  val dedupNgramJaccard: Q = (s, dir) =>
    PairJoins.nearDupPairs(s, dir, PairJoins.Jaccard).orderBy("lang", "a_id", "b_id")

  /** [[dedupNgramJaccard]]'s pairs over an arbitrary documents frame
    * — [[CurationPipeline]]'s survivor-set near-dedup stage. */
  private[graft] def jaccardPairsOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    PairJoins.nearDupPairs(docs, PairJoins.Jaccard)

  // ---------------------------------------------------------- SimHash

  /** 64-bit SimHash near-dup pairs over word-bigram features:
    * per-feature xxhash64 → bitwise majority vote → 8×8-bit band
    * blocking → Hamming ≤ 7 verification via bit_count(xor). 8 bands
    * guarantee a clean-band collision for any pair within the
    * threshold (pigeonhole). Bigram features (not unigrams) so that
    * shared-vocabulary-but-reordered documents don't collide; the 8/64
    * threshold suits short documents, where one changed token out of
    * ~50 flips ~6 sign bits (classic web-scale SimHash uses 3/64 only
    * because its feature sets are thousands of tokens). Engine-seeded
    * hash → no oracle (like MinHash); recall is unit-tested on planted
    * near-dups.
    *
    * The signature is one native expression per row
    * ([[graft.functions.TextExpressions.SimHash64]], bit-identical to
    * the previous explode → 64×sum(when) aggregation since both use
    * xxhash64 seed 42 and sign-of-votes): no explode, no signature
    * shuffle — only the tiny (band, byte) projection reaches an
    * exchange, which is the shape that survives 100 TB.
    */
  val dedupSimhash: Q = (s, dir) => {
    val bigrams = graft.functions.TextExpressions.wordShingles(col("text"), 2)
    val sig = table(s, dir, "documents")
      .select(col("doc_id"), bigrams.as("grams"))
      // featureless docs had no vote rows under the old explode path;
      // keep them out rather than colliding them all on signature 0
      .filter(size(col("grams")) > 0)
      .select(col("doc_id"),
        graft.functions.TextExpressions.simHash64(col("grams")).as("simhash"))
    val banded = sig.select(col("doc_id"), col("simhash"),
        explode(array((0 until 8).map(k =>
          struct(lit(k).as("band"),
            shiftright(col("simhash"), k * 8).bitwiseAND(0xFFL).as("bv"))): _*)).as("e"))
      .select(col("doc_id"), col("simhash"), col("e.band").as("band"), col("e.bv").as("bv"))
      // materialize the signature relation ONCE before the self-join:
      // Spark does not reuse the exchange across the two aliased sides
      // (verified in-plan), so without this the tokenize→simhash
      // subtree runs twice — measured 1.73 s → 0.74 s at sf0.1. Same
      // deliberate materialization point a cluster run would persist.
      .localCheckpoint()
    // Hamming-filter BEFORE deduplicating band collisions: the filter
    // is a per-row bit_count over columns already in hand, while
    // distinct() is a shuffle — run the shuffle only over the few
    // threshold survivors, not every band collision.
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= 7)
      .distinct()
      .orderBy("a_id", "b_id")
  }

  // ------------------------------------------------------------- ANN

  /** Unit-normalize an array<double> column (zero vectors pass
    * through unscaled rather than dividing by 0).
    */
  /** Unit-normalize `v` against a PRE-HOISTED norm column. The norm
    * must be a plain column reference, not the aggregate expression
    * itself: HOFs are interpreted (no codegen), and inlining the norm
    * into the per-element lambda makes evaluation O(dim²) interpreted
    * tree-walks per row — measured 1.1 s vs ~0.1 s on 2000×64 at sf0.1.
    */
  private def unitVec(v: Column, norm: Column): Column =
    transform(v, x => when(norm > 0, x / norm).otherwise(x))

  private def vecNorm(v: Column): Column =
    sqrt(aggregate(v, lit(0.0), (acc, x) => acc + x * x))

  /** IVF approximate nearest neighbor with a TRAINED coarse quantizer.
    *
    * Training (deterministic up to floating-point summation order in
    * the per-dimension `avg`; centroid IDENTITY — which vectors form
    * each cell — is exact and reproducible):
    *   1. seed `nlist` centers by hash-stratified sampling — global
    *      top-nlist by `xxhash64(vec_id)`, i.e. a uniform pseudo-random
    *      draw that is reproducible and rank-pruned
    *      (TakeOrderedAndProject), never a full sort; the ≤ nlist seed
    *      rows are collected and sorted by vec_id so centroid INDEX
    *      order equals seed-id order (stable tie-breaks);
    *   2. one spherical k-means (Lloyd) iteration: assign every
    *      training vector to its nearest seed by cosine
    *      (`centroid_ranks` — map-only), then recompute each center as
    *      the element-wise mean of its members' UNIT vectors (cosine
    *      geometry — raw means would let long vectors dominate). A
    *      non-degenerate seed is its own nearest center (cos = 1, ties
    *      to the lower index), so a cell only ends up empty under
    *      duplicate/zero seed vectors — such cells keep their seed as
    *      centroid and simply attract no rows.
    *
    * `trainSampleMod > 1` is the at-scale training path: the
    * seeds/assign/Lloyd pass only reads rows with
    * `xxhash64(vec_id) % trainSampleMod == 0` (a reproducible ~1/mod
    * hash sample), so at 100 TB training never posexplodes the full
    * corpus×dim — only the final cell assignment must see every vector.
    *
    * Search is MAP-ONLY up to the top-k: centroids travel inside the
    * plan as an `array<array<double>>` literal and every vector
    * computes its cell (`element_at(centroid_ranks(v, cents), 1)`) in
    * the scan projection — no corpus×centroids crossJoin, no
    * row_number exchange over corpus×nlist rows (the previous shape;
    * at 100 TB that window sort IS the bottleneck). Probes explode
    * their `nprobe` closest cells (the recall/cost knob) and broadcast;
    * corpus vectors live in exactly ONE cell, so a (probe, vector)
    * pair matches at most once — no dedup. The only shuffle left is
    * the per-probe top-k window over cell-confined candidates.
    */
  /** Coarse-quantizer training shared by [[annIvf]] (in-memory) and
    * [[IvfIndex]] (persisted): hash-stratified seeds + one Lloyd pass
    * over unit vectors (see [[annIvf]]'s scaladoc for the full
    * contract). Returns ≤ nlist centroids; empty iff `emb`'s training
    * sample is empty. Driver-side memory is bounded by nlist×dim.
    */
  private[graft] def trainCentroids(emb: org.apache.spark.sql.DataFrame,
      nlist: Int, trainSampleMod: Long = 1L): Array[Array[Double]] = {
    val centroidRanks = graft.functions.TextExpressions.centroidRanks _
    val trainSet =
      if (trainSampleMod > 1L) emb.filter(pmod(xxhash64(col("vec_id")), lit(trainSampleMod)) === 0)
      else emb
    val seedVecs: Array[Array[Double]] = trainSet
      .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(nlist)
      .select(col("vec_id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).map(_._2)
    if (seedVecs.isEmpty) return Array.empty
    val seedsLit = typedlit(seedVecs.map(_.toSeq).toSeq)
    // Lloyd pass: per-(cell, dimension) mean of unit vectors — ≤
    // nlist×dim tiny rows, collected once so training never re-runs
    val cents: Array[Array[Double]] = seedVecs.map(_.clone())
    trainSet
      .withColumn("c_idx", element_at(centroidRanks(col("v"), seedsLit), 1))
      .withColumn("vnorm", vecNorm(col("v")))
      .select(col("c_idx"), posexplode(unitVec(col("v"), col("vnorm"))).as(Seq("pos", "x")))
      .groupBy("c_idx", "pos").agg(avg("x").as("m"))
      .collect()
      .foreach(r => cents(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    cents
  }

  private[graft] def annIvf(emb: org.apache.spark.sql.DataFrame,
      isProbe: Column, nlist: Int, nprobe: Int, k: Int,
      trainSampleMod: Long = 1L): org.apache.spark.sql.DataFrame = {
    val cosineSim = graft.functions.TextExpressions.cosineSim _
    val centroidRanks = graft.functions.TextExpressions.centroidRanks _
    val cents = trainCentroids(emb, nlist, trainSampleMod)
    if (cents.isEmpty)
      return emb.select(col("vec_id").as("p_id"), lit(1).as("rank"),
        col("vec_id"), lit(0.0).as("sim")).filter(lit(false))
    val centsLit = typedlit(cents.map(_.toSeq).toSeq)
    val assigned = emb
      .select(col("vec_id"), col("v"),
        element_at(centroidRanks(col("v"), centsLit), 1).as("cluster"))
    val probes = emb.filter(isProbe)
      .select(col("vec_id").as("p_id"), col("v").as("pv"),
        explode(slice(centroidRanks(col("v"), centsLit), 1, nprobe)).as("p_cluster"))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("p_id")).orderBy(col("sim").desc, col("vec_id").asc)
    assigned.join(broadcast(probes),
        col("cluster") === col("p_cluster") && col("vec_id") =!= col("p_id"))
      .withColumn("sim", cosineSim(col("v"), col("pv")))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select("p_id", "rank", "vec_id", "sim")
      .orderBy("p_id", "rank")
  }

  /** IVF ANN over the embeddings table: nlist=8 trained cells,
    * nprobe=2, top-3 for the first five probe ids. Recall vs brute
    * force is unit-tested on fixtures independent of the seeding
    * (Llm2Spec); no oracle (approx by design — rows-only check).
    */
  val simAnnIvf: Q = (s, dir) => {
    val emb = table(s, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    annIvf(emb, col("vec_id") < 5, nlist = 8, nprobe = 2, k = 3)
  }

  /** Random-hyperplane (sign) LSH near-neighbor pairs — the other
    * scale path for similarity search next to IVF. 16 deterministic
    * Gaussian hyperplanes (seeded JVM RNG, fixed at build time) → sign
    * bits via the codegen'd cosine expression → 4×4-bit band blocking
    * → exact cosine verification on bucket-colliding pairs only.
    * For cos θ ≈ 0.99 pairs, P(≥1 clean band) ≈ 1−(1−0.955⁴)⁴ ≈ 0.999;
    * recall decays along the LSH S-curve for weaker pairs (that is the
    * approximation contract). Seeded geometry → no oracle; planted-
    * cluster recall is unit-tested.
    */
  val simLshHyperplane: Q = (s, dir) => {
    val cosineSim = graft.functions.TextExpressions.cosineSim _
    val emb = table(s, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    // shared geometry (SignLsh) so these signatures agree with the
    // banded blocking in Llm.exactCosinePairs
    val sig = emb.withColumn("sig", SignLsh.sig(col("v")))
    // band rows carry ONLY (vec_id, band, bv) — the vectors stay out
    // of the collision join and its distinct (deduplicating rows that
    // drag 64-double arrays through a shuffle was the query's dominant
    // cost); survivors re-join their vectors for the exact verify.
    val banded = sig.select(col("vec_id"),
        explode(SignLsh.bands(col("sig"))).as("e"))
      .select(col("vec_id"), col("e.band").as("band"), col("e.bv").as("bv"))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
      .distinct()
    cand
      .join(emb.select(col("vec_id").as("a_id"), col("v").as("a_v")), "a_id")
      .join(emb.select(col("vec_id").as("b_id"), col("v").as("b_v")), "b_id")
      .withColumn("sim", cosineSim(col("a_v"), col("b_v")))
      .filter(col("sim") > 0.4)
      .select("a_id", "b_id", "sim")
      .orderBy("a_id", "b_id")
  }

  // ------------------------------------------------- binary metadata

  /** Opaque-binary column surface: bytes + typed metadata extracted
    * without decoding (octet length, content digest). The decode /
    * resize / frame-sample stubs live in `ops.Multimodal` (the image
    * libs are absent here — SURVEY environment) with the Spark-side
    * plumbing real and unit-tested.
    */
  val multimodalBinaryMeta: Q = (s, dir) =>
    table(s, dir, "documents")
      .select(col("doc_id"),
        octet_length(col("text")).as("n_bytes"),
        md5(col("text").cast("binary")).as("digest"))
      .orderBy("doc_id")

  /** End-to-end COMPRESSED-codec pipeline as a registry key
    * (round 13): per embedding vector, synthesize a deterministic
    * 8×8 grayscale bitmap (the 64 components quantized to bytes),
    * PNG-ENCODE it (real deflate + per-row filter cycling all five
    * filter types), PNG-DECODE it back through [[Multimodal
    * .decodeToRaw]] (chunk walk, inflate, unfiltering — the
    * [[ImageCodec]] path), extract the 17-dim pixel features, and
    * roll per-label cells: vector count, decode-ok count, and the
    * fixed-point sums of the channel-mean feature and the grid
    * energy. NO ORACLE BY DESIGN (SURVEY §7.4: DuckDB cannot run a
    * PNG codec); the spec pins the cells to a driver-side JVM replay
    * and the codec itself is hand-verified in MultimodalCodecSpec.
    *
    * Scale: everything is row-local executor work (encode + decode +
    * features inside one mapPartitions — the per-partition-decoder
    * shape), then ONE map-side-combined rollup to |labels| cells.
    */
  val multimodalCodecFeatures: Q = (s, dir) => {
    import org.apache.spark.sql.{Encoder, Encoders}
    implicit val enc: Encoder[(Int, Long, Long, Long)] =
      Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong,
        Encoders.scalaLong, Encoders.scalaLong)
    implicit val rowEnc: Encoder[(Int, Array[Float])] =
      Encoders.tuple(Encoders.scalaInt, ExpressionEncoder[Array[Float]]())
    val cells = table(s, dir, "embeddings")
      .select(col("label"), col("embedding"))
      .as[(Int, Array[Float])]
      .mapPartitions { it =>
        it.map { case (label, emb) =>
          val body = emb.map(x =>
            math.max(0, math.min(255, ((x + 1.0f) * 127.5f).toInt)).toByte)
          val png = ImageCodec.encodePng(8, 8, 1, body, y => y % 5)
          Multimodal.featuresOf(png) match {
            case Some(f) =>
              val gridFp = f.drop(1).foldLeft(0L)((a, v) =>
                a + math.floor(v.toDouble * 1048576.0).toLong)
              (label, 1L, math.floor(f(0).toDouble * 1048576.0).toLong, gridFp)
            case None => (label, 0L, 0L, 0L)
          }
        }
      }
      .toDF("label", "ok", "mean_fp", "grid_fp")
    cells.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("ok")).as("n_ok"),
        sum(col("mean_fp")).as("sum_mean_fp"),
        sum(col("grid_fp")).as("sum_grid_fp"))
      .orderBy("label")
  }

  /** The AUDIO sibling of [[multimodalCodecFeatures]] (round 14 —
    * r13 verdict item 4: the modality set a training-data pipeline
    * expects is image AND audio): per embedding vector, synthesize a
    * deterministic 16-bit PCM waveform (the 64 components scaled to
    * sample amplitudes), WAV-ENCODE it into a real RIFF container,
    * decode it back through [[AudioCodec.decodeWav]] (chunk walk,
    * untrusted-size gates), run the exact-integer signal kernel
    * ([[AudioCodec.audioStats]]: peak/energy/zero-crossings + the
    * 2-level Haar octave-band split), and roll per-label cells:
    * vector count, decode-ok count, and the exact integer sums of
    * energy and the two level-1 band energies. NO ORACLE BY DESIGN
    * (DuckDB cannot run a RIFF codec); AudioCodecSpec pins the codec
    * against hand-built containers and this key's cells against a
    * driver-side JVM replay.
    *
    * Scale: encode + decode + kernel are row-local inside one
    * mapPartitions (the per-partition-decoder shape — no Catalyst
    * expression can walk a RIFF container), then ONE map-side-
    * combined rollup to |labels| cells.
    */
  val multimodalAudioFeatures: Q = (s, dir) => {
    import org.apache.spark.sql.{Encoder, Encoders}
    implicit val enc: Encoder[(Int, Long, Long, Long, Long)] =
      Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong,
        Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    implicit val rowEnc: Encoder[(Int, Array[Float])] =
      Encoders.tuple(Encoders.scalaInt, ExpressionEncoder[Array[Float]]())
    val cells = table(s, dir, "embeddings")
      .select(col("label"), col("embedding"))
      .as[(Int, Array[Float])]
      .mapPartitions { it =>
        it.map { case (label, emb) =>
          val samples = emb.map(x =>
            math.max(-32768, math.min(32767, (x * 16384.0f).toInt)))
          val wav = AudioCodec.encodeWav(8000, 1, 16, samples)
          AudioCodec.decodeWav(wav) match {
            case Some((_, nCh, decoded)) =>
              val (_, energy, zc, _, bands) =
                AudioCodec.audioStats(AudioCodec.toMono(nCh, decoded))
              (label, 1L, energy, bands(0) + bands(1), zc)
            case None => (label, 0L, 0L, 0L, 0L)
          }
        }
      }
      .toDF("label", "ok", "energy", "low_band", "zc")
    cells.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("ok")).as("n_ok"),
        sum(col("energy")).as("sum_energy"),
        sum(col("low_band")).as("sum_low_band"),
        sum(col("zc")).as("sum_zc"))
      .orderBy("label")
  }

  /** The MULTI-FRAME sibling of [[multimodalCodecFeatures]] (round 14
    * — GIF/LZW closes the §8.r14 frame-sampling carry): per embedding
    * vector, synthesize a deterministic TWO-FRAME 8×8 GIF (components
    * quantized to a 4-color palette; frame 2 is frame 1 rolled by one
    * row — real inter-frame change), encode it through the REAL LZW
    * compressor into a RIFF... GIF89a container, decode it back
    * through [[GifCodec.decodeGif]] (chunk walk, variable-width LZW,
    * compositing), and roll per-label cells: vector count, decode-ok
    * count, frame count, and the exact integer sum of per-frame pixel
    * totals (frame 2's total equals frame 1's under the roll — an
    * internal consistency the spec asserts). NO ORACLE BY DESIGN
    * (DuckDB cannot run an LZW codec — §7.4); GifCodecSpec pins the
    * codec against a hand-traced bitstream and this key's cells
    * against a driver-side replay.
    *
    * Scale: encode + decode row-local in one mapPartitions, ONE
    * map-side rollup to |labels| cells — the per-partition-decoder
    * shape all media keys share.
    */
  val multimodalGifFrames: Q = (s, dir) => {
    import org.apache.spark.sql.{Encoder, Encoders}
    implicit val enc: Encoder[(Int, Long, Long, Long)] =
      Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong,
        Encoders.scalaLong, Encoders.scalaLong)
    implicit val rowEnc: Encoder[(Int, Array[Float])] =
      Encoders.tuple(Encoders.scalaInt, ExpressionEncoder[Array[Float]]())
    val cells = table(s, dir, "embeddings")
      .select(col("label"), col("embedding"))
      .as[(Int, Array[Float])]
      .mapPartitions { it =>
        it.map { case (label, emb) =>
          val idx = emb.map(x =>
            (math.max(0, math.min(3, ((x + 1.0f) * 2.0f).toInt))).toByte)
          val f2 = idx.drop(8) ++ idx.take(8) // roll one 8-px row
          val pal = Array[Byte](0, 0, 0, 85, 85, 85, -86, -86, -86, -1, -1, -1)
          val gif = GifCodec.encodeGif(8, 8, pal, 0, Seq(
            GifCodec.FrameSpec(0, 0, 8, 8, idx),
            GifCodec.FrameSpec(0, 0, 8, 8, f2)))
          GifCodec.decodeGif(gif) match {
            case Some((_, _, frames)) =>
              val pxSum = frames.map(_.foldLeft(0L)((a, b) => a + (b & 0xff))).sum
              (label, 1L, frames.size.toLong, pxSum)
            case None => (label, 0L, 0L, 0L)
          }
        }
      }
      .toDF("label", "ok", "n_frames", "px_sum")
    cells.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("ok")).as("n_ok"),
        sum(col("n_frames")).as("sum_frames"),
        sum(col("px_sum")).as("sum_px"))
      .orderBy("label")
  }

  /** Corpus-level n-gram document frequency — the vocabulary-building
    * pass of a training-data pipeline. Per-doc DISTINCT bigrams (so a
    * gram repeated inside one doc counts once — document frequency,
    * not term frequency) → global count → top 20 by (df desc, gram
    * asc). Pure explode + two-phase hash aggregation; the final top-k
    * is a rank over one global ordering of at most |vocab| rows.
    */
  val textNgramFreq: Q = (s, dir) => {
    val grams = graft.functions.TextExpressions.wordShingles(col("text"), 2)
    // rank the 20 TakeOrdered survivors WITHOUT a window operator:
    // row_number over 20 rows is harmless, but it still plans an
    // unpartitioned WindowExec (the shape the PlanSpec global-sort
    // gate bans outright) — a broadcast predecessors-count self-join
    // over the materialized 20-row relation gives the same ranks
    val top = table(s, dir, "documents")
      .select(explode(grams).as("gram"))
      .groupBy("gram")
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("gram").asc)
      .limit(20)
      .localCheckpoint() // 20 rows; both self-join sides read it
    top.as("a")
      .join(broadcast(top.as("b")),
        col("b.df") > col("a.df") ||
          (col("b.df") === col("a.df") && col("b.gram") < col("a.gram")),
        "left")
      .groupBy(col("a.gram").as("gram"), col("a.df").as("df"))
      .agg((count(col("b.gram")) + 1).cast("int").as("rank"))
      .select("rank", "gram", "df")
      .orderBy("rank")
  }

  // ------------------------------------------------------- PII scrub

  /** Email/phone patterns in the Java∩RE2 regex subset (SURVEY §7.4)
    * so Spark and the DuckDB oracle scrub byte-identically.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+?[0-9][0-9 ()-]{6,}[0-9]"

  /** Redact emails then phone-like digit runs. */
  def piiScrub(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailRe, "[EMAIL]"), PhoneRe, "[PHONE]")

  /** PII scrubbing — the redaction pass a training corpus gets before
    * anything else sees it. Counts matched emails/phone-like runs per
    * doc and emits the sha-256 of the scrubbed text (the full scrubbed
    * body would just bloat the gate artifact; the hash pins every
    * byte). Row-local, embarrassingly parallel; patterns sit in the
    * Java∩RE2 subset so the oracle replays them exactly. Redaction
    * correctness on planted PII is asserted in the unit spec.
    */
  val textPiiScrub: Q = (s, dir) =>
    table(s, dir, "documents")
      .select(col("doc_id"),
        regexp_count(col("text"), lit(EmailRe)).as("n_emails"),
        regexp_count(col("text"), lit(PhoneRe)).as("n_phones"),
        sha2(piiScrub(col("text")), 256).as("scrub_hash"))
      .orderBy("doc_id")

  // ---------------------------------------------- repetition signals

  /** Intra-document repetition signals — the quality-filter family
    * member the corpus filters of Rae et al. (Gopher) popularized:
    * heavily self-repeating documents (boilerplate, keyword stuffing,
    * generation loops) are cut on duplicate-n-gram fractions and
    * hot-token ratios before training. Per doc: token count, distinct
    * tokens, the hottest token's frequency, and the duplicate-bigram
    * fraction (1 − distinct/total bigrams; null for one-token docs).
    *
    * Shape: posexplode → per-doc-partitioned lead() for bigrams → two
    * hash aggregations keyed by doc_id. Everything is partitioned by
    * doc_id (never a global window) and grows linearly in corpus
    * tokens — embarrassingly scalable. Deterministic and
    * SQL-expressible ⇒ oracle'd; `round(…, 6)` before emit per the
    * §7.4 float discipline.
    */
  val textRepetitionStats: Q = (s, dir) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val tok = table(s, dir, "documents")
      .select(col("doc_id"), posexplode(toks(col("text"))).as(Seq("pos", "tok")))
    val bi = tok
      .withColumn("nxt", lead(col("tok"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("tok"), col("nxt")).as("bigram"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        countDistinct(col("bigram")).as("n_distinct_bigrams"))
    tok.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct_tokens"),
        max(col("c")).as("max_tok_freq"))
      .join(bi, Seq("doc_id"), "left")
      .withColumn("dup_bigram_frac",
        round(lit(1.0) - col("n_distinct_bigrams").cast("double")
          / col("n_bigrams").cast("double"), 6))
      .select("doc_id", "n_tokens", "n_distinct_tokens", "max_tok_freq", "dup_bigram_frac")
      .orderBy("doc_id")
  }

  // -------------------------------------------------- sequence packing

  /** GPT-style sequence packing — the step between a curated corpus
    * and a trainer: documents are laid into one concatenated token
    * stream (deterministic doc_id order) and the stream is cut into
    * fixed-`budget` packs; a document crossing a cut contributes a
    * slice to each pack it spans. Output is the pack manifest
    * (pack_id, doc_id, tok_start, n_toks): every pack holds exactly
    * `budget` tokens (the last may be short), every doc's slices
    * partition its tokens — both spec'd, and the whole construction is
    * a pure function of (doc_id order, token counts), so it is
    * SQL-expressible and oracle'd.
    *
    * Scale shape: the global running token offset is a DISTRIBUTED
    * THREE-level prefix sum with no global window anywhere —
    * per-bucket running sums (window partitioned by a doc_id range
    * bucket), per-super-bucket running sums over the bucket totals
    * (window partitioned by the super key), and a windowless theta
    * self-join prefix over the super totals, whose cardinality is
    * corpus/(bucketSize·superSize) ≈ corpus/10⁸ — tens of rows at
    * 100 TB, so its pair count is trivial. A naive `sum over
    * (order by doc_id)` window would move the whole corpus into ONE
    * partition — the classic global-frame trap this module documents
    * elsewhere; the round-6 form still had that shape one level up
    * (a global window over the per-bucket totals, corpus/10³ rows).
    * Slice emission is a per-row `sequence` explode (≤ n/budget + 1
    * rows per doc); arithmetic stays in integer `div` (no float
    * rounding at 100 TB stream offsets).
    */
  def packSequences(docs: org.apache.spark.sql.DataFrame, budget: Int,
      bucketSize: Long = 1000L,
      superSize: Long = 100000L): org.apache.spark.sql.DataFrame = {
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket")).orderBy(col("doc_id"))
    val wSup = org.apache.spark.sql.expressions.Window
      .partitionBy(col("super")).orderBy(col("bucket"))
    // empty/whitespace-only docs hold ZERO tokens: split("") yields
    // [""] (size 1), so an unguarded size() would put a phantom token
    // into the manifest and shift every later slice in its pack —
    // the explicit empty case makes the n > 0 filter real
    val counted = docs
      .select(col("doc_id"),
        when(trim(col("text")) === "", 0L)
          .otherwise(size(split(trim(col("text")), "\\s+")).cast("long")).as("n"))
      .filter(col("n") > 0)
      .withColumn("bucket", expr(s"doc_id div $bucketSize"))
      .withColumn("run", sum(col("n")).over(wIn))
      // one corpus scan: offsets aggregation AND the final join both
      // consume this relation (narrow rows — the module's
      // materialize-before-multi-consumer discipline)
      .localCheckpoint()
    val bOff = counted.groupBy("bucket").agg(sum(col("n")).as("btot"))
      .withColumn("super", expr(s"bucket div $superSize"))
      .withColumn("brun", sum(col("btot")).over(wSup))
    val supTots = bOff.groupBy("super").agg(sum(col("btot")).as("stot"))
    // windowless top-level prefix: supers-before-me theta join over a
    // relation of corpus/(bucketSize·superSize) rows
    val supOff = supTots.as("a")
      .join(supTots.as("b"), col("b.super") < col("a.super"), "left")
      .groupBy(col("a.super").as("super"))
      .agg(coalesce(sum(col("b.stot")), lit(0L)).as("soff"))
    val offsets = bOff.join(broadcast(supOff), "super")
      .select(col("bucket"),
        (col("soff") + col("brun") - col("btot")).as("off"))
    counted.join(broadcast(offsets), "bucket")
      .withColumn("c_end", col("off") + col("run"))
      .withColumn("c_start", col("c_end") - col("n"))
      .withColumn("pack_id",
        explode(sequence(expr(s"c_start div $budget"), expr(s"(c_end - 1) div $budget"))))
      .select(col("pack_id"), col("doc_id"),
        (greatest(col("c_start"), col("pack_id") * budget) - col("c_start")).as("tok_start"),
        (least(col("c_end"), (col("pack_id") + 1) * budget)
          - greatest(col("c_start"), col("pack_id") * budget)).as("n_toks"))
      .orderBy("pack_id", "doc_id")
  }

  /** Pack the documents table at a 512-token budget. */
  val packSequencesQ: Q = (s, dir) =>
    packSequences(table(s, dir, "documents"), budget = 512)

  /** Hashing-trick featurizer (Weinberger et al.'s feature hashing):
    * every token maps to one of 64 buckets by the house md5 discipline
    * (salt `graft-fh`, first 8 hex chars → integer — the same
    * construction as [[Llm.hashBucket]], so the mapping is a pure
    * function of the term: stable across runs, engines, corpora and
    * partitionings). Output is the sparse (doc, bucket, tf) relation a
    * linear model or n-gram classifier trains on — the POINT vs
    * tf-idf is that no vocabulary dim table exists: no global term
    * index to build, broadcast, or keep consistent across corpus
    * versions, which is what makes the trick the standard featurizer
    * at web scale. 64 buckets keeps collisions visible for the spec;
    * production uses 2¹⁸⁺ — one literal.
    *
    * Scale: tokenize → row-local bucket hash → ONE map-side-combined
    * aggregate on (doc_id, bucket) (partials collapse to ≤ 64 rows
    * per doc per partition before the shuffle). Embarrassingly
    * parallel; nothing global anywhere.
    */
  val textFeatureHash: Q = (s, dir) => {
    table(s, dir, "documents")
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .withColumn("bucket",
        conv(substring(md5(concat_ws("|", lit("graft-fh"), col("term"))), 1, 8),
          16, 10).cast("long") % 64)
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("tf"))
      .orderBy(col("doc_id"), col("bucket"))
  }

  /** Deterministic per-epoch training shuffle (round 12, third
    * session) — the data-loader order op: epoch e's order is a sort by
    * md5("graft-epoch"|e|doc_id), so every epoch is a DIFFERENT but
    * perfectly REPRODUCIBLE permutation (re-runs, resumes, and audits
    * see byte-identical order; no RNG state to checkpoint) and
    * epochs are independent by the salt-composition argument of
    * [[Llm.hashBucket]]. Emits the first 20 positions of epochs 0–2
    * with the shuffle key (verifiable by anyone with md5).
    *
    * Scale: the full-resolution 32-hex key never needs a global sort
    * to SERVE training — readers range-partition on the key prefix
    * (256 shards by first 2 hex chars is uniform by construction);
    * the top-20-per-epoch emitted here is TakeOrdered-per-group, the
    * rank window over the epoch partition (3 fixed epochs — each
    * window is corpus-sized: the documented top-k caveat; production
    * reads the order, it never ranks it).
    */
  val sampleEpochShuffle: Q = (s, dir) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("epoch")).orderBy(col("shuffle_key"), col("doc_id"))
    table(s, dir, "documents")
      .select(col("doc_id"))
      .withColumn("epoch", explode(sequence(lit(0L), lit(2L))))
      .withColumn("shuffle_key", md5(concat_ws("|", lit("graft-epoch"),
        col("epoch").cast("string"), col("doc_id").cast("string"))))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 20)
      .select(col("epoch"), col("rn"), col("doc_id"), col("shuffle_key"))
      .orderBy("epoch", "rn")
  }

  /** Language-ID CONFUSION MATRIX — the eval harness for
    * [[textLangId]]'s heuristic scorer against the corpus ground
    * truth (`lang`): the FULL actual × predicted grid over the
    * scorer's fixed label domain (the 5 languages + 'und'), zero
    * cells kept (the chi2-grid discipline — a class the scorer never
    * confuses is a claim, not an absence), with the row marginal
    * riding every cell so per-class recall reads off as n/n_actual
    * and precision as n over the column sum. The first-class
    * model-eval op every curation pipeline needs before TRUSTING a
    * classifier gate: `text_lang_partition_stats` partitions BY the
    * prediction; this key says how often that partition lies.
    *
    * Scale: the scorer is row-local column math; one map-side rollup
    * to ≤|langs|·6 cells; the grid is a dimension-bounded cross join
    * of two tiny distinct relations.
    *
    * MEASURED FINDING on this corpus (the key's own demonstration):
    * every document lands in en/und regardless of its `lang` label —
    * the fixture's text is one shared pseudo-English vocabulary and
    * the label is metadata-only, so the stopword scorer has NO signal
    * here. That is exactly the failure mode this op exists to surface
    * BEFORE a pipeline gates on `pred_lang`
    * (`text_lang_partition_stats` would partition garbage silently).
    */
  val textLangConfusion: Q = (s, dir) => {
    val preds = textLangId(s, dir).select(col("doc_id"), col("pred_lang"))
    val truth = table(s, dir, "documents").select(col("doc_id"), col("lang"))
    val counts = truth.join(preds, "doc_id")
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
    val actuals = truth.select(col("lang")).distinct()
    val domain = s.createDataFrame(
      Seq("de", "en", "es", "fr", "zh", "und").map(Tuple1(_))).toDF("pred_lang")
    val marg = counts.groupBy(col("lang")).agg(sum(col("n")).as("n_actual"))
    actuals.crossJoin(broadcast(domain))
      .join(counts, Seq("lang", "pred_lang"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .join(broadcast(marg), "lang")
      .select(col("lang"), col("pred_lang"), col("n"), col("n_actual"))
      .orderBy("lang", "pred_lang")
  }

  /** Cohen's kappa cells for the lang-id scorer — chance-corrected
    * agreement, the single-number companion of [[textLangConfusion]]
    * (raw accuracy flatters a classifier that just predicts the
    * majority class; κ subtracts the agreement its marginals would
    * produce by luck): κ = (p_o − p_e)/(1 − p_e) emitted as the
    * EXACT integer cells n, agree, pe_num = Σ_c rowMarg(c)·colMarg(c)
    * — κ = (agree·n − pe_num)/(n² − pe_num) is one IEEE division of
    * exact longs, also emitted. On this corpus κ ≈ 0 is the expected
    * reading (the confusion key's no-signal finding, now as one
    * number a gate can threshold).
    *
    * Scale: the scorer rollup + two ≤6-row marginals; pe_num
    * int64-safe to n ≈ 3·10⁹ docs.
    */
  val statCohensKappa: Q = (s, dir) => {
    val preds = textLangId(s, dir).select(col("doc_id"), col("pred_lang"))
    val joined = table(s, dir, "documents").select(col("doc_id"), col("lang"))
      .join(preds, "doc_id")
    val counts = joined.groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("c"))
    val rm = counts.groupBy(col("lang").as("lbl")).agg(sum(col("c")).as("rmarg"))
    val cm = counts.groupBy(col("pred_lang").as("lbl")).agg(sum(col("c")).as("cmarg"))
    val pe = rm.join(cm, "lbl")
      .agg(coalesce(sum(col("rmarg") * col("cmarg")), lit(0L)).as("pe_num"))
    val agree = counts.filter(col("lang") === col("pred_lang"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("agree"))
    val n = counts.agg(sum(col("c")).as("n"))
    n.crossJoin(broadcast(agree)).crossJoin(broadcast(pe))
      .select(col("n"), col("agree"), col("pe_num"),
        ((col("agree") * col("n") - col("pe_num")).cast("double") /
          (col("n") * col("n") - col("pe_num")).cast("double")).as("kappa"))
  }

  val queries: Map[String, Q] = Map(
    "stat_cohens_kappa" -> statCohensKappa,
    "text_lang_confusion" -> textLangConfusion,
    "sample_epoch_shuffle" -> sampleEpochShuffle,
    "pack_sequences" -> packSequencesQ,
    "text_feature_hash" -> textFeatureHash,
    "text_repetition_stats" -> textRepetitionStats,
    "text_ngram_freq" -> textNgramFreq,
    "text_pii_scrub" -> textPiiScrub,
    "text_lang_id" -> textLangId,
    "text_quality_score" -> textQualityScore,
    "text_token_count" -> textTokenCount,
    "text_fingerprint" -> textFingerprint,
    "dedup_ngram_jaccard" -> dedupNgramJaccard,
    "dedup_simhash" -> dedupSimhash,
    "sim_ann_ivf" -> simAnnIvf,
    "sim_lsh_hyperplane" -> simLshHyperplane,
    "multimodal_binary_meta" -> multimodalBinaryMeta,
    "multimodal_codec_features" -> multimodalCodecFeatures,
    "multimodal_audio_features" -> multimodalAudioFeatures,
    "multimodal_gif_frames" -> multimodalGifFrames,
  )
}
