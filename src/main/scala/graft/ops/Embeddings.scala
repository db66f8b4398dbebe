package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Encoder

import graft.io.Readers.table

/** Embedding-corpus analytics — the second-moment and quantization
  * primitives an embedding-heavy training pipeline needs beside the
  * similarity family ([[Llm]]/[[Llm2]]): the Gram/covariance cells
  * that feed PCA / whitening / spectral diagnostics, and the int8
  * quantization profile that sizes a compressed ANN serving tier.
  *
  * Cross-engine determinism discipline: float embeddings enter every
  * relation through an EXACT transform — either a power-of-two
  * fixed-point quantization (a binary64 multiply by 2ᵏ never rounds,
  * and `floor` is exact), or IEEE operations in a parenthesized
  * order replayed verbatim by the oracle — so the emitted cells are
  * integers (or bit-stable doubles) and the DuckDB gate hashes them
  * exactly. No float SUM whose value depends on reduction order ever
  * crosses the engine boundary (integer sums are associative).
  */
object Embeddings {

  import Relational.Q

  /** Gram fixed-point scale 2¹⁴: q = ⌊x·2¹⁴⌋ ∈ [−2¹⁴, 2¹⁴] for
    * unit-ball components, so a product is ≤ 2²⁸ and an int64 cell
    * holds Σ over ~3·10¹⁰ vectors before overflow — the 100 TB
    * corpus bound; past it, shard the sum by vec_id range and add
    * the ≤ d² partials in DECIMAL (documented, not needed here).
    */
  val GramScale = 16384.0    // 2^14

  /** Upper-triangle Gram-matrix cells of the embedding corpus:
    * G[i,j] = Σ_vec q_i·q_j over the 2¹⁴-fixed-point components —
    * the distributed second-moment accumulation behind PCA,
    * whitening, covariance-shrinkage diagnostics, and the "is this
    * embedding space collapsing?" screen (trace mass vs off-diagonal
    * mass). Consumer divides by n·2²⁸ for the empirical Gram in
    * float and eigendecomposes the d×d result driver-side (d² cells
    * is KB-scale for any real d).
    *
    * Scale shape: the d(d+1)/2 products per vector are ROW-LOCAL
    * (nested `transform` over index sequences — no self-join, no
    * explode-then-shuffle of components), and the only exchange is
    * the map-side-combined (i, j) rollup whose key space is d², so
    * the shuffle carries ≤ d²·partitions cells regardless of corpus
    * size. The quantization multiply is by a power of two — exact in
    * binary64 — so ⌊x·2¹⁴⌋ is bit-identical in any IEEE engine.
    */
  /** Typed upper-triangle Gram accumulator: buffer = [n, cell₀ …] as
    * one flat long array, lazily sized from the first vector's
    * dimension; reduce is d(d+1)/2 multiply-adds with ZERO per-row
    * allocation, merge is elementwise add (fully mergeable partials —
    * ONE buffer per partition crosses the exchange, never per-cell
    * rows). Integer adds are associative, so the cells are exact and
    * partitioning-invariant. This is the case the custom-Aggregator
    * escape hatch exists for: the declarative form
    * ([[gramCellsDeclarative]]) must materialize d(d+1)/2 structs per
    * row before exploding — measured 3.0× slower at sf0.1's 2000
    * vectors (2.07 vs 0.68 s isolated — mostly fixed overhead) and
    * ~50× at 10⁶ / ~100× at 10⁷-corpus scale (37.5 vs 0.7 s, and
    * 237–257 vs 2.4 s on the same 10⁶ subset — BASELINE.md r12
    * fourth-session Gram-family row): the gap is pure per-row
    * allocation and GROWS with corpus size, since both shapes
    * exchange the same ≤ d²·partitions cells.
    */
  final class GramAgg extends Aggregator[Array[Long], Array[Long], Array[Long]] {
    override def zero: Array[Long] = Array.emptyLongArray
    override def reduce(b0: Array[Long], q: Array[Long]): Array[Long] = {
      val d = q.length
      val b = if (b0.length == 0) new Array[Long](1 + d * (d + 1) / 2) else b0
      b(0) += 1L
      var k = 1
      var i = 0
      while (i < d) {
        val qi = q(i)
        var j = i
        while (j < d) { b(k) += qi * q(j); k += 1; j += 1 }
        i += 1
      }
      b
    }
    override def merge(x: Array[Long], y: Array[Long]): Array[Long] =
      if (x.length == 0) y
      else if (y.length == 0) x
      else {
        var i = 0
        while (i < x.length) { x(i) += y(i); i += 1 }
        x
      }
    override def finish(b: Array[Long]): Array[Long] = b
    override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  /** First-moment sibling of [[GramAgg]]: buffer = (count, Σq₀ … Σq_{d−1})
    * — one (d+1)-long array per partition per group instead of d
    * exploded rows per VECTOR (the same allocation argument that made
    * the Gram aggregator ~50–100× the declarative fold at 10⁶–10⁷
    * vectors; A/B'd for the first moment in BASELINE.md's r12
    * CentroidService row).
    */
  final class CentroidAgg extends Aggregator[Array[Long], Array[Long], Array[Long]] {
    override def zero: Array[Long] = Array.emptyLongArray
    override def reduce(b0: Array[Long], q: Array[Long]): Array[Long] = {
      val d = q.length
      val b = if (b0.length == 0) new Array[Long](1 + d) else b0
      b(0) += 1L
      var i = 0
      while (i < d) { b(1 + i) += q(i); i += 1 }
      b
    }
    override def merge(x: Array[Long], y: Array[Long]): Array[Long] =
      if (x.length == 0) y
      else if (y.length == 0) x
      else {
        var i = 0
        while (i < x.length) { x(i) += y(i); i += 1 }
        x
      }
    override def finish(b: Array[Long]): Array[Long] = b
    override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  val embedGramCells: Q = (s, dir) => {
    val emb = table(s, dir, "embeddings")
    // d is schema metadata (a 1-value driver lookup, corpus-size
    // independent) — it sizes the (pos → i, j) unflattening relation
    val d = emb.select(size(col("embedding"))).head.getInt(0)
    val idx = s.createDataFrame(
      (for { i <- 0 until d; j <- i until d } yield (i, j)).zipWithIndex
        .map { case ((i, j), k) => (k, i.toLong, j.toLong) })
      .toDF("pos", "i", "j")
    val packed = emb
      .select(transform(col("embedding"),
        x => floor(x.cast("double") * lit(GramScale)).cast("long")).as("q"))
      .agg(udaf(new GramAgg, ExpressionEncoder[Array[Long]]())(col("q")).as("b"))
      .select(element_at(col("b"), 1).as("n_vecs"),
        slice(col("b"), 2, d * (d + 1) / 2).as("cells"))
    packed
      .select(col("n_vecs"), posexplode(col("cells")).as(Seq("pos", "g")))
      .join(broadcast(idx), "pos")
      .select(col("i"), col("j"), col("n_vecs"), col("g"))
      .orderBy("i", "j")
  }

  /** The all-declarative A/B control for [[embedGramCells]] (nested
    * transform → struct fan-out → hash rollup): identical cells,
    * measured ~50× slower at 10⁶ vectors on per-row allocation
    * (BASELINE.md r12 fourth-session rows) — kept as the shape a
    * no-custom-code deployment would use, and as the A/B control.
    */
  private[graft] def gramCellsDeclarative(emb: DataFrame): DataFrame = {
    val q = emb.select(transform(col("embedding"),
      x => floor(x.cast("double") * lit(GramScale)).cast("long")).as("q"))
    q.select(explode(flatten(transform(
        sequence(lit(1), size(col("q"))),
        i => transform(sequence(i, size(col("q"))),
          j => struct((i - 1).cast("long").as("i"), (j - 1).cast("long").as("j"),
            (element_at(col("q"), i) * element_at(col("q"), j)).as("p")))))).as("c"))
      .groupBy(col("c.i").as("i"), col("c.j").as("j"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("c.p")).as("g"))
      .orderBy("i", "j")
  }

  /** Per-label symmetric int8 quantization profile: each vector is
    * quantized against its own max-abs scale (q = ⌊(x/s)·127⌋), and
    * the label-level cells report how the int8 grid treats that
    * label's region of the space — n_zero (components the grid
    * flushes to zero: resolution loss), n_sat (components at the
    * clip boundary), Σq² (retained energy in grid units), and the
    * 2²⁰-fixed-point sum of scales (the dequantization constants).
    * The serving consumer reads this to pick per-label scale
    * overrides before building a compressed ANN tier.
    *
    * Determinism: s = max|x| is an exact float max; (x/s)·127 is two
    * binary64 operations in a parenthesized order the oracle replays
    * verbatim — deterministic IEEE, identical bits in both engines —
    * and ⌊·⌋ lands on an integer; scale·2²⁰ is a power-of-two
    * multiply (exact). All emitted cells are integers.
    *
    * Scale shape: everything per-vector is row-local array math
    * (transform/filter/aggregate — no explode), then ONE map-side-
    * combined rollup to |labels| cells.
    */
  val embedQuantizeInt8: Q = (s, dir) => {
    val emb = table(s, dir, "embeddings")
    val withQ = emb
      .withColumn("scale",
        array_max(transform(col("embedding"), x => abs(x.cast("double")))))
      // zero-vector guard (r12 ADVICE): scale = 0 would put NaN→null
      // through every component and silently null the label's
      // aggregates downstream — an all-zero embedding quantizes to
      // the all-zero array instead (its true quantization under any
      // scale), counted in n_zero like any other zero component
      .withColumn("q", when(col("scale") === 0.0,
          transform(col("embedding"), _ => lit(0L)))
        .otherwise(transform(col("embedding"),
          x => floor(x.cast("double") / col("scale") * lit(127.0)).cast("long"))))
    withQ
      .select(col("label"),
        aggregate(col("q"), lit(0L), (a, v) => a + v * v).as("q2"),
        size(filter(col("q"), v => v === 0L)).cast("long").as("nz"),
        size(filter(col("q"), v => abs(v) === 127L)).cast("long").as("ns"),
        floor(col("scale") * lit(1048576.0)).cast("long").as("sfp"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("nz")).as("n_zero"),
        sum(col("ns")).as("n_sat"),
        sum(col("q2")).as("sum_q2"),
        sum(col("sfp")).as("sum_scale_fp"))
      .orderBy("label")
  }

  /** Per-label centroid sufficient statistics: per (label, dim) the
    * vector count and Σq over the 2¹⁴-fixed-point components — the
    * FIRST-moment companion of [[embedGramCells]] (consumer divides
    * s_q / (n·2¹⁴) for the mean vector): the bulk step of centroid
    * classifiers, k-means refinement over a labeled corpus, and the
    * per-class embedding-drift monitor. Exact integer cells
    * (|labels|·d of them), additive across any corpus split — which
    * is what makes the incremental service form
    * ([[GramService]]) trivial to keep exactly-once.
    *
    * Scale: per-label [[CentroidAgg]] fold — one (d+1)-long buffer
    * per (partition, label), map-side combined; the exchange carries
    * |labels|·partitions buffers, never vectors (the posexplode form
    * — d rows per VECTOR — is kept as [[centroidCellsDeclarative]],
    * the A/B control; the Gram lesson says the allocation gap grows
    * with corpus size, measured for the first moment in
    * BASELINE.md's r12 CentroidService row). Overflow: |Σq| ≤ n·2¹⁴ — int64-safe to
    * ~5·10¹⁴ vectors per label.
    */
  def centroidCellsOf(emb: DataFrame): DataFrame =
    emb
      .select(col("label"), transform(col("embedding"),
        x => floor(x.cast("double") * lit(GramScale)).cast("long")).as("q"))
      .groupBy(col("label"))
      .agg(udaf(new CentroidAgg, ExpressionEncoder[Array[Long]]())(col("q")).as("b"))
      .select(col("label"), element_at(col("b"), 1).as("n_vecs"),
        posexplode(slice(col("b"), 2, 1000000)).as(Seq("dim", "s_q")))
      .select(col("label"), col("dim").cast("long").as("dim"),
        col("n_vecs"), col("s_q"))
      .orderBy("label", "dim")

  /** The no-custom-code A/B control for [[centroidCellsOf]]:
    * posexplode to d rows per vector, hash rollup. Identical cells.
    */
  private[graft] def centroidCellsDeclarative(emb: DataFrame): DataFrame =
    emb
      .select(col("label"), posexplode(transform(col("embedding"),
        x => floor(x.cast("double") * lit(GramScale)).cast("long"))).as(Seq("dim", "q")))
      .groupBy(col("label"), col("dim").cast("long").as("dim"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("q")).as("s_q"))
      .orderBy("label", "dim")

  val embedCentroidCells: Q = (s, dir) =>
    centroidCellsOf(table(s, dir, "embeddings"))

  /** Label-affinity matrix from the centroid sufficient statistics —
    * the cross-class confusability screen: for every unordered label
    * pair (a ≤ b) the exact integer dot product Σ_dim s_a·s_b of the
    * per-label component sums, plus both counts. The consumer forms
    * centroid cosine as dot_ab/√(dot_aa·dot_bb) (diagonal rows
    * included for exactly that); near-1 off-diagonal cosines flag
    * label pairs whose embedding regions collide — the "merge these
    * classes or fix the labeler" diagnostic. Dot products are carried
    * in DECIMAL(38,0) and EMITTED as digit strings (the
    * `stat_anova_cells` overflow discipline: s ≤ n·2¹⁴ per cell, so
    * s_a·s_b exceeds int64 past ~10⁵ vectors/label, but never
    * approaches 38 digits before ~10¹⁶).
    *
    * Scale: composes on the CELLS, not the corpus — the |labels|·d
    * centroid relation self-joins on dim (shuffle of cells only) into
    * a |labels|²-cell map-side rollup. The corpus is touched once,
    * by the same rollup `embed_centroid_cells` ships.
    */
  /** The affinity matrix from a CELLS relation (label, dim, n_vecs,
    * s_q) — factored so the persisted service
    * ([[CentroidService.affinityOver]]) composes on stored partials
    * with the exact same expressions as the batch key.
    */
  private[graft] def affinityOfCells(cc: DataFrame): DataFrame = {
    val a = cc.select(col("label").as("label_a"), col("dim"),
      col("n_vecs").as("n_a"), col("s_q").as("s_a"))
    val b = cc.select(col("label").as("label_b"), col("dim"),
      col("n_vecs").as("n_b"), col("s_q").as("s_b"))
    a.join(b, Seq("dim"))
      .filter(col("label_a") <= col("label_b"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"),
        sum(col("s_a").cast("decimal(38,0)") * col("s_b").cast("decimal(38,0)"))
          .cast("decimal(38,0)").cast("string").as("dot_dec"))
      .orderBy("label_a", "label_b")
  }

  val embedLabelAffinity: Q = (s, dir) =>
    affinityOfCells(centroidCellsOf(table(s, dir, "embeddings")))

  /** Driver-side top-eigenpair of a Gram cell relation — the consumer
    * that completes the PCA story: [[embedGramCells]] (or
    * [[GramService.cellsOver]]) reduces the corpus to d² KB-scale
    * integer cells; this folds them into the leading principal
    * direction with fixed-iteration power iteration (deterministic:
    * fixed uniform start, fixed count — no convergence-dependent
    * branching, so two runs agree bit-for-bit). Returns (eigenvalue,
    * unit eigenvector) of the EMPIRICAL mean-square matrix G/(n·2²⁸)
    * — the "is the embedding space collapsing onto one axis?" number
    * and the whitening seed. Driver cost O(iters·d²): microseconds
    * for any real d — this is the IVF-centroid class of permitted
    * driver work (the corpus never leaves the cluster; only cells
    * do).
    */
  def topEigen(cells: DataFrame, iters: Int = 100): (Double, Array[Double]) = {
    val rows = cells.select(col("i"), col("j"), col("n_vecs"), col("g")).collect()
    require(rows.nonEmpty, "empty cell relation")
    val d = rows.map(_.getLong(0)).max.toInt + 1
    val n = rows.head.getLong(2).toDouble
    val scale = n * GramScale * GramScale
    val a = Array.ofDim[Double](d, d)
    rows.foreach { r =>
      val (i, j, g) = (r.getLong(0).toInt, r.getLong(1).toInt, r.getLong(3))
      a(i)(j) = g / scale
      a(j)(i) = g / scale
    }
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    var lambda = 0.0
    var it = 0
    while (it < iters) {
      val w = Array.tabulate(d)(i => {
        var s = 0.0; var j = 0
        while (j < d) { s += a(i)(j) * v(j); j += 1 }
        s
      })
      val norm = math.sqrt(w.map(x => x * x).sum)
      v = w.map(_ / norm)
      lambda = norm
      it += 1
    }
    (lambda, v)
  }

  /** Top-k eigenpairs by Hotelling deflation — [[topEigen]] repeated
    * on A − Σ λⱼvⱼvⱼᵀ: after each recovered pair the matrix loses
    * that direction, so the next power iteration converges to the
    * next eigenvector (symmetric PSD matrices make this exact).
    * Deterministic like the single-pair form. k ≤ d; driver cost
    * O(k·iters·d²) — still microseconds at real d.
    */
  def topEigenK(cells: DataFrame, k: Int,
      iters: Int = 200): Seq[(Double, Array[Double])] = {
    val rows = cells.select(col("i"), col("j"), col("n_vecs"), col("g")).collect()
    require(rows.nonEmpty, "empty cell relation")
    val d = rows.map(_.getLong(0)).max.toInt + 1
    val n = rows.head.getLong(2).toDouble
    val scale = n * GramScale * GramScale
    val a = Array.ofDim[Double](d, d)
    rows.foreach { r =>
      val (i, j, g) = (r.getLong(0).toInt, r.getLong(1).toInt, r.getLong(3))
      a(i)(j) = g / scale; a(j)(i) = g / scale
    }
    (0 until math.min(k, d)).map { _ =>
      var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
      var lambda = 0.0
      var it = 0
      while (it < iters) {
        val w = Array.tabulate(d)(i => {
          var s = 0.0; var j = 0
          while (j < d) { s += a(i)(j) * v(j); j += 1 }
          s
        })
        val norm = math.sqrt(w.map(x => x * x).sum)
        v = w.map(_ / norm)
        lambda = norm
        it += 1
      }
      // deflate in place: A -= lambda v vT
      for (i <- 0 until d; j <- 0 until d) a(i)(j) -= lambda * v(i) * v(j)
      (lambda, v)
    }
  }

  /** PCA-whitening transform from driver-side eigenpairs: appends a
    * k-dim `z` column, zᵢ = (vᵢ·x)/√λᵢ — the decorrelated,
    * unit-variance coordinates an embedding-similarity or clustering
    * stage wants when raw dimensions are anisotropic. ENTIRELY
    * row-local: the eigenpairs inline as literals (the model
    * artifact, KB-scale — the BPE-rules pattern), so the transform
    * is one codegen'd projection per row with no join, no shuffle,
    * no UDF. Whitened covariance ≈ I_k is spec-asserted.
    */
  def whitened(emb: DataFrame, pairs: Seq[(Double, Array[Double])],
      vecCol: String = "embedding"): DataFrame = {
    val comps = pairs.map { case (lambda, v) =>
      val dot = v.zipWithIndex.map { case (vi, i) =>
        lit(vi) * element_at(col(vecCol), i + 1).cast("double")
      }.reduce(_ + _)
      dot / lit(math.sqrt(lambda))
    }
    emb.withColumn("z", array(comps: _*))
  }

  val queries: Map[String, Q] = Map(
    "embed_gram_cells" -> embedGramCells,
    "embed_quantize_int8" -> embedQuantizeInt8,
    "embed_centroid_cells" -> embedCentroidCells,
    "embed_label_affinity" -> embedLabelAffinity,
  )
}
