package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.Readers.table

/** Iterative graph analytics over warehouse-derived edge sets.
  *
  * Companion to [[Llm.connectedComponents]] (the other fixpoint
  * operator in the repo): where CC contracts the graph to a
  * forest, PageRank iterates a fixed number of synchronous
  * rank-propagation rounds — the Pregel pattern expressed as
  * DataFrame joins, with periodic `localCheckpoint` to keep the
  * plan from growing linearly in the iteration count.
  */
object Graph {

  import Relational.Q

  /** Directed edges of the order-sequence part graph: each part links
    * to the NEXT part in its order's (linenumber, partkey) sequence.
    * One window shuffle on l_orderkey — the lead() formulation halves
    * the exchange count of the equivalent self-join on
    * (orderkey, linenumber+1), and the (linenumber, partkey) sort key
    * is a total order over the values that matter, so the successor
    * sequence is deterministic even though lineitem carries duplicate
    * (orderkey, linenumber) rows (tied rows are value-identical).
    */
  private[graft] def orderSequenceEdges(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_partkey"))
    table(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
      .withColumn("dst", lead(col("l_partkey"), 1).over(w))
      .filter(col("dst").isNotNull && col("dst") =!= col("l_partkey"))
      .select(col("l_partkey").as("src"), col("dst"))
      .distinct()
  }

  /** Session-scoped cache of the derived edge relations every graph
    * key re-builds from lineitem (round 13 — r12 verdict item 1b,
    * measure-first lever: the same scan + window + distinct ran ~14×
    * per suite). One `localCheckpoint` per (session, dir, shape),
    * shared by every key in the same session; the first caller pays
    * the build, results are IDENTICAL relations (set semantics — all
    * consumers aggregate/join, none depend on row order). This is
    * exactly the shared-dimension-table pattern a warehouse uses: at
    * 100 TB the equivalent is the bucketed [[AdjacencyIndex]] table,
    * durable across sessions; the in-session checkpoint is its
    * local-mode stand-in. Entries are tiny (edge sets, ≤ a few 10⁵
    * rows at bench SFs) and live for the session.
    */
  private def cachedEdges(s: org.apache.spark.sql.SparkSession, dir: String,
      kind: String)(build: => DataFrame): DataFrame =
    SessionCache.of(s, dir, "graph-" + kind)(build)

  /** Canonical undirected edges (u < v, deduped), checkpointed once
    * per session — the base relation of the wedge/peel/label family.
    */
  private[graft] def canonicalUndirectedEdges(
      s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    cachedEdges(s, dir, "canonical") {
      orderSequenceEdges(s, dir)
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .distinct()
    }

  /** Both-direction undirected edges (src, dst) — derived from the
    * canonical relation as the disjoint union with its swap (equal as
    * a SET to `dir0 ∪ swap(dir0)` deduped, without the second
    * distinct), checkpointed once per session.
    */
  private[graft] def undirectedBothEdges(
      s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    cachedEdges(s, dir, "both") {
      val c = canonicalUndirectedEdges(s, dir)
      c.select(col("u").as("src"), col("v").as("dst"))
        .union(c.select(col("v").as("src"), col("u").as("dst")))
    }

  /** The directed successor relation, checkpointed once per session
    * (pagerank's base).
    */
  private[graft] def directedEdgesCached(
      s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    cachedEdges(s, dir, "directed")(orderSequenceEdges(s, dir))

  /** Fixed-iteration PageRank over the order-sequence part graph:
    * within each order, the part on line n links to the part on line
    * n+1 (a market-basket succession graph with natural skew —
    * popular parts accumulate in-links). 5 synchronous iterations,
    * damping 0.85, dangling mass dropped (the simplified/Pregel
    * formulation — deterministic, and identical in both engines).
    *
    * ARITHMETIC IS PURE INTEGER, by design: ranks live as
    * `rank · 10¹²` BIGINTs, contributions are `rq div deg`, damping
    * is `(85·s) div 100`. `round(double, 12)` is NOT usable here —
    * a rank divided by an even out-degree lands on an exact decimal
    * half with probability ~1/deg, exactly where Spark's HALF_UP
    * (exact expansion of the double) and DuckDB's float-multiply
    * rounding disagree; with ~300k divisions per run that's
    * thousands of coin flips. Integer div has no rounding mode at
    * all. The scaled sum is bounded by the total rank mass
    * (≈10¹² ≪ 2⁶³), and the single final `/ 10¹²` double cast is
    * exact (< 2⁵³).
    *
    * Scale: each iteration is one join of ranks to the static
    * (src, dst, deg) relation + one partial-agg shuffle on dst — the
    * standard distributed PageRank economics. The degree join runs
    * ONCE outside the loop; the rank relation (|nodes| rows, always
    * ≪ |edges| on graphs worth ranking) broadcasts into it, so an
    * iteration's only exchange is the contribution aggregate. When
    * ranks outgrow the broadcast threshold, drop the hint and the
    * same loop runs as shuffle joins. The only driver-side values
    * are two scalar counts.
    *
    * Measured at sf0.1 (294k edges, 20k nodes, local[32]): the cost
    * is per-iteration SYNCHRONOUS BARRIERS (~0.4 s each: broadcast
    * build + tiny shuffle + stage scheduling), not data — 10
    * iterations measured 4.1–4.7 s across formulations
    * (checkpoint-every-iteration 11.1 s, single lazy 40-stage DAG
    * 6.1 s, every-3 + broadcast 4.1 s), so the key runs 5 iterations
    * (~2 s) — same semantics demonstration at half the barrier
    * count. On a real cluster the same barriers dominate until
    * |edges| reaches the billions, which is exactly when the
    * per-iteration work starts amortizing them.
    */
  val graphPagerank: Q = (s, dir) => {
    val edges = directedEdgesCached(s, dir)
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint()
    val n = nodes.count() // bounded driver scalar: one long
    // degenerate corpus (no qualifying edges): n = 0 would divide by
    // zero below — yield the empty result with the output schema
    if (n == 0) nodes.select(col("node"), lit(0.0).as("rank"))
    else pagerankLoop(nodes, edges, n)
  }

  private[graft] def pagerankLoop(nodes: DataFrame, edges: DataFrame, n: Long): DataFrame = {
    // (src, dst, deg) in ONE relation, checkpointed: the out-degree
    // join happens once, not once per iteration.
    val edgesD = edges
      .join(edges.groupBy(col("src").as("onode")).agg(count(lit(1)).as("deg")),
        col("src") === col("onode"))
      .select(col("src"), col("dst"), col("deg"))
      .localCheckpoint()
    val teleport = 150000000000L / n // 0.15 · 10¹² / n, exact integer
    val r0 = 1000000000000L / n
    // The loop state is the CONTRIBUTION relation (node, s), not the
    // rank relation: rank(node) = teleport + (85·s) div 100, and a
    // node absent from it (no in-links) has rank exactly `teleport`
    // after iteration 1 — so the per-iteration `nodes` left join is
    // unnecessary; a coalesce at the consumer reconstructs every
    // rank. That makes an iteration ONE broadcast + ONE partial-agg
    // shuffle (down from two broadcasts + a join — barriers are the
    // measured cost here, see above). Iteration 1 needs no join at
    // all: the uniform r0 rides the edge scan as a literal.
    val contrib0 = edgesD
      .groupBy(col("dst").as("cnode"))
      .agg(sum(expr(s"$r0 div deg")).as("s"))
      .localCheckpoint()
    // every-3 cadence: the measured optimum for this loop (Iterate's
    // scaladoc has the 11.1 / 6.1 / 4.1 s A/B at 10 iterations)
    val contrib = Iterate.fixed(2 to 5, _ % 3 == 0)(contrib0) { (c, _) =>
      edgesD
        .join(broadcast(c), col("src") === col("cnode"), "left")
        .withColumn("rq", lit(teleport) + expr("(85 * coalesce(s, 0L)) div 100"))
        .groupBy(col("dst").as("cnode"))
        .agg(sum(expr("rq div deg")).as("s"))
    }
    nodes.join(broadcast(contrib), col("node") === col("cnode"), "left")
      .select(col("node"),
        (lit(teleport) + expr("(85 * coalesce(s, 0L)) div 100")).as("rq"))
      .orderBy(col("rq").desc, col("node"))
      .limit(20)
      .select(col("node"),
        (col("rq").cast("double") / 1000000000000L).as("rank"))
  }

  /** Per-node triangle participation over the (undirected,
    * canonicalized) part graph — the clustering/cohesion primitive.
    * Edges are canonicalized to `u < v` and deduped; a triangle is
    * counted once as the ordered triple `u < v < w` (wedge at v
    * closed by the (u, w) edge), then credited to all three corners
    * via a row-local explode. Output: top-20 nodes by triangle
    * count — pure integers end to end.
    *
    * Scale: the wedge join is the Σ deg² term — the standard
    * triangle-counting cost. The id-ordering bounds double counting
    * away entirely without a distinct. The degree-ordered "forward"
    * refinement (Schank & Wagner: orient each edge from its
    * lower-degree endpoint → Σ outdeg², outdeg ≤ √2m) was
    * IMPLEMENTED AND MEASURED BOTH WAYS (BASELINE.md r6 triangle row):
    * on THIS corpus (294k edges / 20k nodes, near-uniform degrees)
    * it loses — 2.66 vs 2.05 s at sf0.1, the orientation pass is
    * not repaid; on a planted hub-skew fixture (4 middle-id hubs of
    * degree 8000 over 72k edges) it wins 2× — 5.6–6.1 s id-ordered
    * vs 2.8 s degree-ordered, identical counts. Pick by the degree
    * profile from [[Stats.columnStats]]-style NDV/max stats; this
    * corpus says simple. Both joins are equi-joins on node ids
    * (shuffle_hash-able, never nested-loop).
    */
  /** Ordered triangle triples (u < v < w, all three edges present) of
    * a canonical undirected edge relation — the Σ deg² wedge closure,
    * extracted so the shared build and the spec-injectable
    * [[clusteringProfile]] run the identical plan.
    */
  private def trisOf(und: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val wedges = und.join(und.select(col("u").as("v2"), col("v").as("w")),
        col("v") === col("v2"))
      .select(col("u"), col("v"), col("w"))
    wedges.join(und.select(col("u").as("u3"), col("v").as("w3")),
        col("u") === col("u3") && col("w") === col("w3"))
      .select(col("u"), col("v"), col("w"))
  }

  /** Session-shared ordered triangle triples (round 15): FOUR keys
    * enumerate the identical Σ deg² wedge closure — triangle corners
    * ([[graphTriangleCount]]), the clustering-coefficient profile
    * ([[graphClusteringLocal]]), and the per-edge common-neighbor
    * relations ([[graphJaccardNeighbors]], [[graphAdamicAdar]]: a
    * triangle u<v<w IS the three (edge, common-neighbor) incidences
    * (u,v)·w, (u,w)·v, (v,w)·u, so both keys' wedge-probe streams are
    * row-local explodes of this relation). One build pays the wedge
    * join; the cached output is |triangles| three-column rows — the
    * SMALL entry class, orders of magnitude under the edge relation.
    */
  private[graft] def triangleTriples(s: org.apache.spark.sql.SparkSession,
      dir: String)
      : org.apache.spark.sql.DataFrame =
    SessionCache.of(s, dir, "graph-tris") {
      trisOf(canonicalUndirectedEdges(s, dir))
    }

  val graphTriangleCount: Q = (s, dir) =>
    triangleTriples(s, dir)
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_triangles"))
      .orderBy(col("n_triangles").desc, col("node"))
      .limit(20)

  /** Synchronous label propagation (3 fixed iterations of min-label
    * flooding over the undirected part graph) — the community/cluster
    * seeding primitive between one-shot degree stats and the full
    * connected-components fixpoint: after k rounds every node carries
    * the smallest node id within k hops, so the label histogram reads
    * as "cluster cores visible at radius k". Deterministic (min over
    * a total order, no tie-break randomness) and PURE INTEGER, so it
    * is fully oracle-able — unlike classic frequency-based LPA, whose
    * tie-breaks are seed-dependent.
    *
    * Shape: the adjacency (symmetrized + self-loops, so `min` over
    * in-neighbors includes the node's own label and every node
    * survives each round) is built ONCE and checkpointed; an
    * iteration is one broadcast of the |nodes|-row label relation
    * into the static adjacency + one partial-agg min shuffle on dst —
    * [[graphPagerank]]'s loop economics exactly (barriers dominate at
    * this SF; at 100 TB drop the broadcast hint and the same loop
    * runs as shuffle joins, min is algebraic so map-side combine
    * halves the exchange).
    */
  val graphLabelPropagation: Q = (s, dir) => {
    lpLabels(canonicalUndirectedEdges(s, dir)).orderBy(col("node"))
  }

  /** The 3-round min-label flood over a canonical undirected edge
    * relation — shared by [[graphLabelPropagation]] and the
    * modularity cells (same partition, two consumers).
    */
  private[graft] def lpLabels(und: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val nodes = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node")))
      .distinct()
    val adj = und.select(col("u").as("src"), col("v").as("dst"))
      .union(und.select(col("v").as("src"), col("u").as("dst")))
      .union(nodes.select(col("node").as("src"), col("node").as("dst")))
      .localCheckpoint() // static across iterations, scanned 3×
    Iterate.fixed(1 to 3, Iterate.never)(
      nodes.select(col("node"), col("node").as("label"))) { (l, _) =>
      adj
        .join(broadcast(l), col("src") === col("node"))
        .groupBy(col("dst").as("node"))
        .agg(min(col("label")).as("label"))
    }
  }

  /** Newman modularity sufficient statistics of the label-propagation
    * partition (round 12, third session) — "was the community
    * structure the flood found actually modular?": per label the node
    * count, internal-edge count e_c, and degree sum d_c, plus the
    * global edge count m (a constant column off a 1-row broadcast);
    * the consumer forms Q = Σ_c (e_c/m − (d_c/2m)²) — exact rational
    * in the integer cells (crafted-graph spec pins two disjoint
    * triangles at Q = 1/2 EXACTLY). Communities are [[lpLabels]]'
    * radius-3 min-label partition — deterministic, so fully
    * oracle-able (the oracle replays the same 3 unrolled rounds and
    * the same cells).
    *
    * Scale: labels attach to edges via two joins on the node key (the
    * assortativity-key degradation argument: the label relation is
    * node-sized, NOT broadcastable at 100 TB — plain joins, AQE
    * picks); degrees and cells are map-side-combined rollups;
    * everything else is dimension-bounded.
    */
  val graphModularityCells: Q = (s, dir) => {
    // the k-core deterministic 10 % edge sample: the FULL co-order
    // part graph is so dense that 3 flood rounds collapse it into one
    // community (measured: 1 cell at every SF — Q degenerates to 0);
    // the sampled graph fractures into real communities, which is the
    // regime a modularity screen exists for
    val und = canonicalUndirectedEdges(s, dir)
      .filter(Llm.hashBucket("graft-modularity")(
        concat_ws("|", col("u"), col("v"))) < 10)
      .localCheckpoint() // labels + degrees + internal count re-scan it
    modularityCells(und)
  }

  /** [[graphModularityCells]] over an arbitrary canonical undirected
    * edge relation (crafted-graph specs call this directly).
    */
  private[graft] def modularityCells(und: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // round 19 exchange-lens A/B, measured NEGATIVE and reverted
    // (guide §1.2 measure-first): checkpointing the flood labels for
    // the three consumers (nodeCells + both eInt attach joins) read
    // 1.85/1.87 s isolated vs 1.48/1.63 s lazy (REPS=3 ×2 runs) —
    // runtime exchange reuse already dedupes the flood here, and the
    // eager materialization + lost broadcast-size estimate on the
    // label joins cost more than the re-planning saved.
    val labels = lpLabels(und)
    val deg = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val nodeCells = labels.join(deg, Seq("node"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("deg_sum"))
    val eInt = und
      .join(labels.select(col("node").as("u"), col("label").as("lab_u")), Seq("u"))
      .join(labels.select(col("node").as("v"), col("label").as("lab_v")), Seq("v"))
      .filter(col("lab_u") === col("lab_v"))
      .groupBy(col("lab_u").as("label"))
      .agg(count(lit(1)).as("e_int"))
    val m = und.agg(count(lit(1)).as("m"))
    nodeCells.join(eInt, Seq("label"), "left_outer")
      .select(col("label"), col("n_nodes"), col("deg_sum"),
        coalesce(col("e_int"), lit(0L)).as("e_int"))
      .crossJoin(broadcast(m))
      .orderBy(col("label"))
  }

  /** k-core decomposition by 3 unrolled peel rounds at k = 2: each
    * round drops every node whose CURRENT degree is below k and every
    * edge touching a dropped node, so surviving degrees can only
    * shrink — the standard density filter that strips pendant chains
    * before community/cohesion analytics (triangle counting upstream
    * of this is wasted work on degree-1 tentacles). A FIXED round
    * count (not run-to-fixpoint) keeps the result deterministic and
    * oracle-able regardless of convergence; the emitted relation is
    * the degree table of the round-3 edge set, so both engines state
    * the same thing even for nodes the next round would peel.
    *
    * Shape: canonical undirected edges checkpointed once; a round is
    * one partial-agg degree shuffle (count is algebraic — map-side
    * combine) + two LEFT SEMI joins of the edge relation against the
    * surviving-node set. The survivor set only ever shrinks (≤ first
    * round's node count), so the broadcast is bounded by the FIRST
    * round's size known up front — at 100 TB the same loop runs the
    * semis as shuffle joins on (u)/(v); no driver state either way.
    *
    * The co-order part graph is dense (min degree ≈ 20 at every SF),
    * so the peel runs over a deterministic 10 % edge sparsification
    * first — the same md5-bucket gate as [[Llm.sampleHashSplit]]
    * under its own salt, keyed on the canonical edge, so membership
    * is a pure function of (u, v) in both engines. Hash-sparsify-
    * then-core is the standard trick for approximating cores of
    * dense graphs without materializing full adjacency.
    */
  val graphKCore: Q = (s, dir) => {
    val k = 2
    val edges0 = canonicalUndirectedEdges(s, dir)
      .filter(Llm.hashBucket("graft-kcore")(
        concat_ws("|", col("u"), col("v"))) < 10)
      .localCheckpoint() // static base; consumed by round 1 only
    def degrees(e: DataFrame): DataFrame =
      e.select(col("u").as("node")).union(e.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // Round 19 exchange-lens A/B (r18 verdict item 1; guide §2.4): the
    // r13-r18 form ran the 3 rounds UNCHECKPOINTED (Iterate.never —
    // the pagerank-measured cadence) but a peel round references its
    // input FIVE times (degrees 2×, each inside the twice-used surv
    // subtree, + the probe), so the lazy unroll compounds to a ~500-
    // Exchange / 500-scan physical plan (plans/r19/graph_k_core_
    // before.txt) that re-derives every prior round per reference —
    // the one loop where the "short loop, no checkpoint" default is
    // wrong. Materializing BOTH per-round frames (the tiny survivor
    // set, read by two broadcast semis, and the round's edge set) cuts
    // the plan to 3 exchanges per round (degree shuffle + 2 broadcast
    // builds; the returned frame's lazy plan drops 390 KB → 1.6 KB)
    // and measured 1.85 s → 1.35/1.40 s isolated (REPS=3, −26 %;
    // parity via the DuckDB oracle gate — formulation-independent).
    // Superseded checkpoints free deterministically; the final
    // round's checkpoint backs the returned frame and must stay.
    var e = edges0
    var prev = edges0
    for (_ <- 1 to 3) {
      val surv = degrees(e).filter(col("deg") >= k).select(col("node"))
        .localCheckpoint() // ≤ first-round node count — broadcast side
      val next = e
        .join(broadcast(surv.withColumnRenamed("node", "u")), Seq("u"), "left_semi")
        .join(broadcast(surv.withColumnRenamed("node", "v")), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
        .localCheckpoint()
      Checkpoints.free(surv) // baked into next
      Checkpoints.free(prev) // superseded round state
      prev = next
      e = next
    }
    degrees(e).orderBy(col("node"))
  }

  /** k-truss decomposition (k = 3) by 2 unrolled peel rounds — the
    * EDGE-cohesion complement of [[graphKCore]]'s node peel: an edge
    * survives only while it closes ≥ k−2 = 1 triangle in the
    * CURRENT edge set, so bridges and tree-like tissue dissolve and
    * what remains is triangle-supported community core (the standard
    * community-detection pre-filter one level stronger than k-core —
    * every edge of a k-truss lies in a (k−1)-core, not vice versa).
    * Fixed round count like the core key (deterministic and
    * oracle-able regardless of convergence); the emitted relation is
    * the round-2 edge set WITH its recomputed support. k is pinned
    * by MEASUREMENT, not preference: on the sampled basket graph
    * k = 4 peels to EMPTY by round 2 at both gate SFs (a vacuous
    * gate — the orders_survival_km lesson), while k = 3 is
    * non-degenerate at every SF (621/1191/1395 edges) AND reaches
    * its true fixpoint within the two unrolled rounds (e1 = e2
    * verified at all three SFs), so the emitted relation here IS the
    * exact 3-truss, not a truncation.
    *
    * Shape: each round is one triangle-support pass in the
    * [[graphJaccardNeighbors]] discipline — the Σ deg² wedge stream
    * is probed against the edge set BEFORE any aggregation (broadcast
    * probe at this SF; drop the hint at scale and it degrades to a
    * shuffle join, never re-shapes), so only 3·|triangles| rows reach
    * the support agg; then one filter. Runs on the same deterministic
    * 10 % sparsification family as core/modularity (own salt —
    * membership a pure function of (u, v) in both engines).
    */
  val graphKTruss: Q = (s, dir) => {
    val e0 = canonicalUndirectedEdges(s, dir)
      .filter(Llm.hashBucket("graft-ktruss")(
        concat_ws("|", col("u"), col("v"))) < 30)
      .localCheckpoint()
    // minSupp = 1 → k = 3 (k = 4 measured degenerate — scaladoc)
    trussEdges(e0, minSupp = 1L, rounds = 2)
  }

  /** Per-edge triangle support of a canonical (u < v) edge set —
    * wedge stream probed against the edge set BEFORE aggregation.
    */
  private def trussSupport(e: DataFrame): DataFrame = {
    val adj = e.select(col("u").as("node"), col("v").as("nbr"))
      .union(e.select(col("v").as("node"), col("u").as("nbr")))
    adj.as("x").join(adj.as("y"),
        col("x.nbr") === col("y.nbr") && col("x.node") < col("y.node"))
      .select(col("x.node").as("u"), col("y.node").as("v"))
      .join(broadcast(e), Seq("u", "v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("supp"))
  }

  /** `rounds` support-peel rounds over a canonical undirected edge
    * relation, emitting survivors with recomputed support (crafted-
    * graph specs call this directly).
    */
  private[graft] def trussEdges(e0: DataFrame, minSupp: Long,
      rounds: Int): DataFrame = {
    // Round 19 (the graphKCore lesson applied — guide §2.4): a truss
    // round references its input FOUR times (adj 2×, the probe
    // broadcast, the semi's left side), so the lazy unroll compounds
    // to a 332-Exchange plan over 2 rounds (plans/r19/graph_k_truss_
    // before.txt, 310 KB). Materializing each round's survivor edge
    // set bounds every plan at one support pass (332 → 10 exchanges);
    // isolated wall is NEUTRAL at this SF (1.29 s before; 1.25/1.72 s
    // after, REPS=3 — runtime exchange reuse was already absorbing
    // most of the lazy duplication when isolated) — kept for the
    // in-suite planning-cost cut and the bounded plan at scale;
    // parity via the oracle gate. Superseded round checkpoints free
    // deterministically; the
    // caller's e0 is never ours to free, and the last round's
    // checkpoint backs the returned frame.
    var e = e0
    var prev: DataFrame = null
    for (_ <- 1 to rounds) {
      // zero-triangle edges never reach the support relation, so the
      // single semi join both peels low-support edges AND drops them
      val next = e.join(trussSupport(e).filter(col("supp") >= minSupp)
          .select(col("u"), col("v")),
        Seq("u", "v"), "left_semi")
        .localCheckpoint()
      if (prev != null) Checkpoints.free(prev)
      prev = next
      e = next
    }
    e.join(trussSupport(e), Seq("u", "v"), "left_outer")
      .select(col("u"), col("v"), coalesce(col("supp"), lit(0L)).as("supp"))
      .orderBy("u", "v")
  }

  /** Neighborhood Jaccard of every EDGE's endpoints — SCAN's
    * structural similarity / edge embeddedness, the link-strength
    * score graph sparsifiers and community detectors run: for each
    * edge (a, b), |N(a)∩N(b)| / |N(a)∪N(b)| with the union expanded
    * to deg(a)+deg(b)−common (open neighborhoods), top-20 by
    * (jaccard, a, b). The score is one IEEE division of exact
    * integers — correctly rounded and identical in both engines —
    * and (a, b) is unique, so the ordering is total and the limit
    * deterministic.
    *
    * Scale — the candidate constraint IS the plan: wedge generation
    * is the same Σ deg² term as [[graphTriangleCount]], but every
    * generated pair is probed against the edge set BEFORE any state
    * accumulates, so the Σ deg² stream stays map-side (broadcast
    * probe here; drop the hint at edge sets beyond executor memory
    * and the same plan runs as a shuffle join — still no hash-agg
    * over the wedge stream) and only the 3·|triangles| surviving
    * rows reach the count agg. Two UNCONSTRAINED all-pairs variants
    * were measured and rejected (BASELINE.md r8 graph_jaccard_neighbors
    * shape A/B row): counting all wedge pairs hash-aggs ~20 M
    * near-unique (a,b) keys at sf0.1 — 9–28 s of agg-table thrash (and a row-local
    * HOF pair explode is worse still: higher-order functions do not
    * whole-stage-codegen) vs 2.8 s end-to-end for this form; an
    * all-pairs top-k needs a similarity-join formulation, not a
    * bigger hash table. Degrees attach AFTER the agg as two
    * broadcast joins of the |nodes|-row degree relation; the top-20
    * is a partial TakeOrdered, no global sort materializes.
    */
  val graphJaccardNeighbors: Q = (s, dir) => {
    val und = canonicalUndirectedEdges(s, dir) // deg only; wedges are shared
    val adj = und.select(col("u").as("node"), col("v").as("nbr"))
      .union(und.select(col("v").as("node"), col("u").as("nbr")))
    val deg = adj.groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // (edge, common-neighbor) incidences are a row-local explode of
    // the shared triangle relation (round 15) — the Σ deg² wedge
    // stream is paid once per session, not once per key; a triangle
    // u<v<w yields pairs (u,v), (u,w), (v,w), already a < b
    val common = triangleTriples(s, dir)
      .select(explode(array(
        struct(col("u").as("a"), col("v").as("b")),
        struct(col("u").as("a"), col("w").as("b")),
        struct(col("v").as("a"), col("w").as("b")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(broadcast(deg.select(col("node").as("a"), col("deg").as("deg_a"))), Seq("a"))
      .join(broadcast(deg.select(col("node").as("b"), col("deg").as("deg_b"))), Seq("b"))
      .withColumn("jaccard", col("common").cast("double") /
        (col("deg_a") + col("deg_b") - col("common")))
      .select(col("a"), col("b"), col("common"), col("jaccard"))
      .orderBy(col("jaccard").desc, col("a"), col("b"))
      .limit(20)
  }

  /** Adamic–Adar link strength of every edge's endpoints: for edge
    * (a, b), Σ over common neighbors w of 1/log2(deg w) — the
    * link-prediction score that discounts promiscuous hubs (a shared
    * rare neighbor says more than a shared hub). The base-2 variant
    * of the classic ln score — a constant ln 2 rescale, so rankings
    * are identical.
    *
    * On the oracle-able float frontier
    * ([[graft.functions.NumericExpressions.Log2Fixed]]): the
    * per-center weight is `r = 2⁴⁰ div L₂₀(deg w)` ≤ 2²⁰ (fixed-point
    * 1/log2, exact integer recurrence both engines replay), the edge
    * score is Σr — pure BIGINT, safe past 2⁴⁰ common neighbors — and
    * the emitted double Σr/2²⁰ is exact below 2⁵³. deg w ≥ 2 for any
    * wedge center (it touches both endpoints), so the divisor
    * L₂₀ ≥ 2²⁰ is never zero; the deg ≥ 2 filter makes that explicit
    * and prunes leaf nodes from the broadcast.
    *
    * Scale — [[graphJaccardNeighbors]]' candidate-constrained wedge
    * economics, with the weight attached BEFORE the agg: the
    * |nodes|-row (deg ≥ 2) weight relation broadcasts onto the
    * a-side adjacency, every wedge pair is probed against the edge
    * set map-side, and only 3·|triangles| weighted rows reach the
    * sum/count agg. One shuffle total (the final agg); drop the two
    * broadcast hints past executor memory and the same plan runs as
    * shuffle joins.
    */
  val graphAdamicAdar: Q = (s, dir) => {
    val und = canonicalUndirectedEdges(s, dir) // degree weights only
    val adj = und.select(col("u").as("node"), col("v").as("nbr"))
      .union(und.select(col("v").as("node"), col("u").as("nbr")))
    val centerWeight = adj.groupBy(col("nbr")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 2)
      .withColumn("l20", graft.functions.NumericExpressions.log2Fixed(col("deg")))
      .select(col("nbr"), expr("1099511627776L div l20").as("r"))
    // round 15: the (edge, center) incidences explode row-locally off
    // the shared triangle relation (see [[triangleTriples]]); a wedge
    // center inside a triangle has deg ≥ 2 by construction, so the
    // weight join drops nothing the old probe kept
    triangleTriples(s, dir)
      .select(explode(array(
        struct(col("u").as("a"), col("v").as("b"), col("w").as("nbr")),
        struct(col("u").as("a"), col("w").as("b"), col("v").as("nbr")),
        struct(col("v").as("a"), col("w").as("b"), col("u").as("nbr")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"), col("p.nbr").as("nbr"))
      .join(broadcast(centerWeight), Seq("nbr"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("common"), sum(col("r")).as("sr"))
      .select(col("a"), col("b"), col("common"),
        (col("sr").cast("double") / 1048576.0).as("adamic_adar"))
      .orderBy(col("adamic_adar").desc, col("a"), col("b"))
      .limit(20)
  }

  /** Multi-source BFS shortest-hop layers (round 12) — the frontier
    * iteration the family lacked: CC contracts, PageRank diffuses,
    * label-prop votes; BFS expands a FRONTIER, the primitive under
    * reachability/impact-radius questions ("everything within 4
    * co-order hops of the recalled parts"). Seeds are the parts with
    * partkey ≡ 0 (mod 97) — deterministic, present at every SF —
    * over the UNDIRECTED order-sequence graph; output is each
    * reached node's minimal hop count (≤ 4).
    *
    * Per round: one shuffle join of the (shrinking) frontier to the
    * checkpointed edge relation + one anti-join against the settled
    * set — O(Σ frontier·deg) total work, the textbook distributed
    * BFS economics; the hop bound caps the barrier count at 4
    * regardless of data (contrast CC's O(log diameter) rounds). The
    * anti-join keeps only FIRST discoveries, so a node's hop is
    * minimal by construction — no min-agg needed. At 100 TB the
    * same loop runs with edges as a bucketed table (per-round join
    * re-uses the layout instead of re-shuffling); the frontier
    * relation is the only moving state.
    *
    * Oracle: DuckDB recursive CTE with UNION (state dedup on
    * (node, hop)) + MIN(hop) — set-semantics BFS, bounded states.
    */
  val graphBfsLayers: Q = (s, dir) => {
    val edges = undirectedBothEdges(s, dir)
    val seeds = edges.select(col("src").as("node")).distinct()
      .filter(col("node") % 97 === 0)
    bfsLayers(edges, seeds, 4).orderBy(col("node"))
  }

  /** The frontier loop behind [[graphBfsLayers]], injectable for
    * crafted-graph specs. `edges` must already be undirected (both
    * orientations present), distinct, and checkpointed — it is read
    * once per round. Each round checkpoints ONLY the fresh frontier;
    * the settled set stays a lazy union of those per-round
    * checkpoints, so no node is ever re-materialized after its
    * discovery round.
    */
  // NOTE (r18 second session): the harmonicLoop frontier-broadcast
  // dispatch was A/B'd here too and measured MARGINAL (2.87 → 2.66 s
  // isolated, same cal — inside noise): this loop's global state is
  // |nodes| rows, not |seeds|·|nodes|, so it is barrier-bound, not
  // exchange-bound. Kept as the plain shuffle join (BASELINE row).
  private[graft] def bfsLayers(edges: org.apache.spark.sql.DataFrame,
      seeds: org.apache.spark.sql.DataFrame, maxHop: Int): org.apache.spark.sql.DataFrame = {
    var frontier = seeds.select(col("node"), lit(0L).as("hop")).localCheckpoint()
    var dist = frontier
    for (h <- 1 to maxHop) {
      val nbrs = frontier.select(col("node").as("src"))
        .join(edges, "src")
        .select(col("dst").as("node")).distinct()
      val fresh = nbrs.join(dist, Seq("node"), "left_anti")
        .select(col("node"), lit(h.toLong).as("hop")).localCheckpoint()
      dist = dist.union(fresh)
      frontier = fresh
    }
    dist
  }

  /** Log₂-binned degree distribution of the undirected order-sequence
    * graph (round 12) — the first profile a graph practitioner pulls
    * (is this power-law? where do the hubs start?). Per bin
    * ⌊log₂ deg⌋: node count, min/max degree, total edge-endpoint
    * mass. The bin index is computed INTEGER-EXACTLY as
    * length(bin(deg)) − 1 (binary digit count — no float log₂ near
    * power-of-two boundaries in either engine).
    *
    * Scale: degrees are one map-side-combined agg over the edge
    * relation; the histogram is a second agg over |nodes| rows to
    * ≤ 64 bins. Nothing sorts, nothing windows.
    */
  val graphDegreeHist: Q = (s, dir) => {
    val und = undirectedBothEdges(s, dir)
    und.groupBy(col("src"))
      .agg(count(lit(1)).as("deg"))
      .withColumn("bin", (length(bin(col("deg"))) - 1).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_nodes"), min(col("deg")).as("min_deg"),
        max(col("deg")).as("max_deg"), sum(col("deg")).as("endpoint_mass"))
      .orderBy(col("bin"))
  }

  /** Degree-assortativity sufficient statistics of the undirected
    * order-sequence graph (round 12, second session) — the one-number
    * answer to "do hubs co-occur with hubs?" (social graphs: yes,
    * assortative; bipartite-projection/basket graphs: typically
    * disassortative — popular parts pair with long-tail parts).
    * Emits ONE row of INTEGER sums over the canonical (u<v) edge
    * list with endpoint degrees (du, dv): m = |edges|,
    * s_prod = Σ du·dv, s_sum = Σ (du+dv), s_sq = Σ (du²+dv²). The
    * consumer forms Newman's r = [s_prod/m − (s_sum/2m)²] /
    * [s_sq/2m − (s_sum/2m)²] in its own float regime — nothing float
    * crosses the boundary.
    *
    * Scale: degrees are one map-side-combined agg; attaching them to
    * edges is two shuffle joins on the node key (the degree relation
    * is |nodes|-sized — NOT broadcastable at 100 TB, and the plan
    * never assumes it); the final fold is a single all-algebraic
    * aggregate. Overflow: s_sq ≤ 2·m·maxdeg² — past ~10⁹ edges with
    * 10⁵-degree hubs, widen the products to DECIMAL(38,0) (same plan
    * shape).
    */
  val graphDegreeAssortativity: Q = (s, dir) => {
    // scanned for degrees AND per-edge attach
    assortativityCells(canonicalUndirectedEdges(s, dir))
  }

  /** The sufficient-statistic fold behind [[graphDegreeAssortativity]],
    * injectable for crafted-graph specs. `und` must be the canonical
    * (u<v, distinct) edge list.
    */
  private[graft] def assortativityCells(
      und: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val deg = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    und
      .join(deg.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
      .agg(count(lit(1)).as("m"),
        sum(col("du") * col("dv")).as("s_prod"),
        sum(col("du") + col("dv")).as("s_sum"),
        sum(col("du") * col("du") + col("dv") * col("dv")).as("s_sq"))
  }

  /** Local-clustering-coefficient profile of the undirected
    * order-sequence graph (round 12, second session) — "how cliquish
    * is each node's neighborhood?", the structural complement of
    * [[graphDegreeHist]] (degree says how MANY neighbors; clustering
    * says how tightly they interlink — the small-world signature is
    * high clustering at moderate degree). Per node with deg ≥ 2:
    * c_v = 2T_v / (deg_v(deg_v−1)), binned on the LOG₂-INVERSE scale
    * cbin = ⌊log₂(deg(deg−1) div 2T)⌋ — cbin 0 is c ∈ (½, 1]
    * (near-cliques), each next bin halves the coefficient — computed
    * INTEGER-EXACTLY as length(bin(q))−1 of the integer quotient
    * (the [[graphDegreeHist]] bit-length idiom; a LINEAR ventile grid
    * was built first and measured DEGENERATE here — basket graphs are
    * sparse-triangle, 100 % of nodes below c = 0.05 at every SF, one
    * bucket). Zero-triangle nodes are load-bearing (sentinel
    * cbin = −1, the open neighborhoods — dropping them is the classic
    * aggregate-only-what-joins mistake); emitted per cbin: n_nodes,
    * tri_sum = Σ T_v, wedge2_sum = Σ deg(deg−1) (the exact integer
    * numerator/denominator masses of the bin's mean coefficient).
    *
    * Scale: the wedge→closure join pair is [[graphTriangleCount]]'s
    * measured shape (never doc×doc — wedges are generated off the
    * canonical edge list and probed against it); per-node corner
    * counts and the ≤21-bin rollup are map-side-combined aggs. The
    * LEFT join keeps degree-only nodes; at 100 TB it's a shuffle
    * join on the node key like the assortativity attach.
    */
  val graphClusteringLocal: Q = (s, dir) =>
    // round 15: the wedge closure reads the shared triangle relation
    clusteringFromTris(canonicalUndirectedEdges(s, dir),
      triangleTriples(s, dir))

  /** The per-node (deg, tri) → cbin rollup behind
    * [[graphClusteringLocal]], injectable for crafted-graph specs.
    * `und` must be the canonical (u<v, distinct) edge list.
    */
  private[graft] def clusteringProfile(
      und: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    clusteringFromTris(und, trisOf(und))

  private def clusteringFromTris(und: org.apache.spark.sql.DataFrame,
      tris: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val deg = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val triPerNode = tris
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("tri"))
    deg.filter(col("deg") >= 2)
      .join(triPerNode, Seq("node"), "left_outer")
      .withColumn("tri", coalesce(col("tri"), lit(0L)))
      .withColumn("cbin", when(col("tri") === 0, lit(-1L))
        .otherwise((length(bin(expr("deg * (deg - 1) div (2 * tri)"))) - 1)
          .cast("long")))
      .groupBy(col("cbin"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("tri")).as("tri_sum"),
        sum(col("deg") * (col("deg") - 1)).as("wedge2_sum"))
      .orderBy(col("cbin"))
  }

  /** Bounded-hop harmonic centrality for the deterministic seed set
    * (partkey ≡ 0 mod 389 — sparser than the BFS key's 97 because
    * the per-seed state is |seeds|·|reachable| and the round cost is
    * LINEAR in the probe count, measured: 10.2 / 5.3 / 3.0 s for the
    * 3 rounds at 104 / 52 / 21 seeds (sf0.1) — the seed modulus IS
    * the scale lever and the probe density is the analyst's dial) over the
    * undirected order-sequence graph — the reach/influence score the
    * BFS key's layers feed: per seed
    * H₃ = Σ_{v reachable, v≠seed} 1/d(seed,v), truncated at 3 hops
    * (the standard bounded-harmonic approximation — contributions
    * past hop 3 are ≤ ¼ each; the exact-at-scale alternative is the
    * HyperBall/HLL neighborhood-function sketch, which our
    * CardinalityService registers would serve at prop tier). EXACT:
    * the only denominators are 1, 2, 3 — emitted as the hop
    * histogram (n1, n2, n3) plus harmonic_x6 = 6·n1 + 3·n2 + 2·n3,
    * the common-denominator-6 integer.
    *
    * The per-seed BFS carries the ORIGIN through the frontier
    * ((seed, node) composite state — multi-source BFS with origin
    * tracking): per round one shuffle join frontier→edges + one
    * anti-join against the settled set, first discovery = minimal
    * hop (the [[bfsLayers]] argument), per-round checkpoint of the
    * fresh frontier only. Oracle: recursive CTE with min-hop
    * collapse — independent of the frontier-loop formulation.
    *
    * Scale: hop-bounded barriers (3 regardless of data); state
    * bounded by |seeds|·|reachable| — seeds are the dimension lever
    * (97 here); edges live once, checkpointed (bucketed table at
    * 100 TB — the BFS key's argument). The per-round edge join is
    * volume-dispatched (round 18, second session): a frontier at or
    * under [[HarmonicBroadcastRows]] BROADCASTS into it, so the edge
    * relation streams in place instead of shuffling each round
    * (measured −40 % at sf0.1, outputs bit-identical — BASELINE.md
    * r18 harmonic-frontier row); the many-seeds regime falls back to the
    * shuffle join.
    */
  /** Per-round frontier-broadcast gate for [[graphHarmonicBounded]]:
    * a frontier at or under this many (seed, node) rows broadcasts
    * into the edge join — the 904 k-row edge relation streams in
    * place from its checkpoint instead of shuffling EVERY round
    * (measured −40 %: 3.9–4.5 s vs 6.2–10.4 s at sf0.1, outputs
    * bit-identical; BASELINE.md r18 harmonic-frontier row). Above it — the
    * many-seeds × dense-ring regime — the round falls back to the
    * shuffle join. Every join input is a checkpoint, so the per-round
    * row count is a cheap driver scalar (the iterative-operator
    * driver-scalar discipline, [[Iterate.untilFixpoint]]'s contract).
    */
  private val HarmonicBroadcastRows = 4000000L

  /** The bounded-BFS loop behind [[graphHarmonicBounded]], factored
    * so the spec can force either join form on the small graph
    * (`gate = 0` → shuffle every round, `gate = Long.MaxValue` →
    * broadcast every round) and pin their EXACT equality — integer
    * BFS has no tolerance.
    */
  private[graft] def harmonicLoop(edges: DataFrame, gate: Long): DataFrame = {
    val seeds = edges.select(col("src").as("node")).distinct()
      .filter(col("node") % 389 === 0)
    var frontier = seeds.select(col("node").as("seed"), col("node"),
      lit(0L).as("hop")).localCheckpoint()
    var dist = frontier
    for (h <- 1 to 3) {
      val fSide = frontier.select(col("seed"), col("node").as("src"))
      val nbrs = (if (frontier.count() <= gate) broadcast(fSide) else fSide)
        .join(edges, "src")
        .select(col("seed"), col("dst").as("node")).distinct()
      val freshLazy = nbrs.join(dist, Seq("seed", "node"), "left_anti")
        .select(col("seed"), col("node"), lit(h.toLong).as("hop"))
      // the last round's frontier feeds only the final rollup — no
      // re-join ahead, so skip its materialization
      val fresh = if (h < 3) freshLazy.localCheckpoint() else freshLazy
      dist = dist.union(fresh)
      frontier = fresh
    }
    dist.filter(col("hop") >= 1L)
      .groupBy(col("seed"))
      .agg(sum(when(col("hop") === 1L, 1L).otherwise(0L)).as("n1"),
        sum(when(col("hop") === 2L, 1L).otherwise(0L)).as("n2"),
        sum(when(col("hop") === 3L, 1L).otherwise(0L)).as("n3"))
      .select(col("seed"), col("n1"), col("n2"), col("n3"),
        (col("n1") * 6 + col("n2") * 3 + col("n3") * 2).as("harmonic_x6"))
      .orderBy("seed")
  }

  val graphHarmonicBounded: Q = (s, dir) =>
    harmonicLoop(undirectedBothEdges(s, dir), HarmonicBroadcastRows)

  /** HyperBall (Boldi–Vigna, 2013) neighborhood-function estimation —
    * the AT-SCALE sibling of [[graphHarmonicBounded]]'s exact per-seed
    * BFS, and the documented sketch alternative shipped: every node
    * carries an HLL register of the nodes within h hops,
    * b_h(v) = b_{h−1}(v) ∪ ⋃_{(v,u)∈E} b_{h−1}(u), so ONE round per
    * hop estimates ALL nodes' reach simultaneously in
    * O(|nodes|·registerKB) state — per-seed state never materializes
    * (the exact key's |seeds|·|reachable| product is the thing this
    * trades away; probe density stops being a lever because every
    * node is a probe). Spark-native end to end: `hll_sketch_agg`
    * seeds the registers, the per-round neighbor merge is
    * `hll_union_agg` behind the edge join, the self-merge
    * `hll_union`, estimates `hll_sketch_estimate` — no custom
    * sketch code.
    *
    * Emits the neighborhood function: per hop 0..3 the node count,
    * Σ estimated reach (incl. self), and the minimum/maximum
    * per-node estimate — N(h)'s growth profile is the
    * effective-diameter / expansion diagnostic. NO ORACLE BY DESIGN
    * (SURVEY §7.4 approx family): there is no RNG anywhere, but
    * DataSketches HLL union results are merge-ORDER-sensitive at
    * mid-density (measured ~0.2 % between formulations and across
    * shuffle-arrival orders at the 10⁷-edge scale), so estimates
    * reproduce within register error, not bit-exactly — and are not
    * replayable in DuckDB; the spec bounds them against an exact
    * driver-side BFS replay (≤ 5σ of the lgK=10 register error) and
    * pins hop-0 exactness (singleton sketches estimate exactly 1).
    *
    * Scale: state is |nodes| registers (KBs each at lgK 10)
    * regardless of reach — the whole point at 10⁹-node graphs where
    * exact per-seed frontiers explode. The round structure is
    * volume-dispatched on the register-table size (BASELINE.md r18
    * HyperBall broadcast row): below [[HyperballBroadcastNodes]] the
    * register frame BROADCASTS to src-partitioned self-looped edges
    * and the round is shuffle-free — the per-round exchange of
    * partially-combined registers (the "~80 GB/round merge traffic"
    * that DNF'd the r12 10⁷-edge scale run) disappears; measured at
    * sf0.1: steady-state loop 1.9–2.1 s vs the shuffle form's ~15 s
    * (~7×). Above the gate — registers outgrow a broadcast — the
    * edge⋈register shuffle form runs, whose earlier lgK ladder
    * (11.1 / 9.1 / 7.7 s at lgK 12/10/8) showed merges + barriers,
    * not register bytes, dominate. Ships at lgK 10 from round 13
    * (r12 verdict item 1b: rse 1.04/√2¹⁰ ≈ 3.25 % — 5σ ≈ 16 % on
    * the sum, the spec gate — is ample for a neighborhood-GROWTH
    * diagnostic whose consumer reads N(h)'s shape, not absolute
    * counts; lgK is the quality dial an analyst raises per run when
    * absolutes matter). The same semantics done exactly (per-node
    * BFS from all 20 k nodes) carries |nodes|·|reach| ≈ 4·10⁸ state
    * rows — the measured per-seed cost of [[graphHarmonicBounded]]
    * extrapolates to ~100× this runtime.
    */
  /** Register-table broadcast gate for [[graphHyperballReach]]:
    * below this node count the whole register frame (~1 KB/node
    * dense at lgK 10 ⟹ ≤ ~2 GiB here) rides a per-round broadcast
    * and the round is shuffle-FREE; above it, registers must shuffle
    * to meet the edges. The broadcast path is MEASURED through
    * 1.25 M nodes / 2·10⁷ undirected edges (the r12 HyperBall-at-scale
    * graph whose hop-3 round the shuffle form never finished): 184 s
    * steady-state local[32] (BASELINE.md r18 HyperBall broadcast row,
    * synthetic mode). The
    * dial an analyst raises with driver/executor memory — at the gate
    * the register frame is ~2 GiB dense, so the driver needs
    * spark.driver.memory and spark.driver.maxResultSize sized above
    * that (the measured 1.25 M-node run held a ~1.2 GiB broadcast);
    * a BroadcastExchange failure inside the band no longer hard-fails
    * the key — [[hyperballLoop]] catches it and degrades to the
    * shuffle form from the seed (round 19, r18 ADVICE).
    */
  private val HyperballBroadcastNodes = 2000000L

  /** The dispatched register loop behind [[graphHyperballReach]],
    * factored so the spec can force EITHER branch on the small graph
    * (`gate = 0` → shuffle form, `gate = Long.MaxValue` → broadcast
    * form — the >2 M-node branch is otherwise unreachable below the
    * gate and would be silently untestable). Returns the 4 per-hop
    * stat rows (hop, n_nodes, sum_reach_est, min_est, max_est).
    */
  private[graft] def hyperballLoop(edges: DataFrame, nodes: DataFrame,
      gate: Long,
      // injectable broadcast step (r19 verdict item 5): the fallback
      // spec forces a deterministic broadcast failure here — under AQE
      // spark.sql.broadcastTimeout=0 never fires (stages materialize
      // on AQE's own future), so fault injection is the only reliable
      // trigger. Production call sites use the default.
      bcast: DataFrame => DataFrame = org.apache.spark.sql.functions.broadcast)
      : Seq[org.apache.spark.sql.Row] = {
    val est = hll_sketch_estimate(col("reg"))
    // Per-hop stats are collected EAGERLY (4 rows of 5 scalars — the
    // release-mode composite's ledger precedent), so each superseded
    // register checkpoint frees deterministically instead of living
    // until the final action; the key's returned frame is a
    // LocalRelation.
    def hopStats(h: Int, reg: DataFrame): org.apache.spark.sql.Row = {
      val r = reg.agg(count(lit(1)), sum(est), min(est), max(est)).head()
      def nz(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
      org.apache.spark.sql.Row(h.toLong, r.getLong(0), nz(1), nz(2), nz(3))
    }
    def seedReg(): DataFrame = nodes.groupBy(col("node"))
      .agg(hll_sketch_agg(col("node"), lit(10)).as("reg"))
      .localCheckpoint()
    var reg = seedReg()
    val rows = scala.collection.mutable.ArrayBuffer(hopStats(0, reg))
    val nNodes = rows.head.getLong(1)
    // shuffle form — the 10⁹-node regime where the register table
    // outgrows a broadcast: edges shuffle to the registers per
    // round, partials exchange, the node's own register folds in
    // via the trailing left-join.
    def shuffleRounds(): Unit =
      for (h <- 1 to 3) {
        val contrib = edges
          .join(reg.select(col("node").as("dst"), col("reg").as("nreg")), "dst")
          .groupBy(col("src").as("node"))
          .agg(hll_union_agg(col("nreg"), lit(false)).as("nbr"))
        val next = reg.join(contrib, Seq("node"), "left")
          .select(col("node"),
            when(col("nbr").isNull, col("reg"))
              .otherwise(hll_union(col("reg"), col("nbr"))).as("reg"))
          .localCheckpoint()
        Checkpoints.free(reg)
        reg = next
        rows += hopStats(h, reg)
      }
    if (nNodes <= gate) {
      // broadcast form (round 18, measured ~7× at sf0.1: steady-state
      // loop 1.9–2.1 s vs 15 s — BASELINE.md r18 HyperBall row):
      // self-loops fold the node's own h−1 register into the neighbor
      // union (the trailing left-join is gone), edges ∪ self-loops are
      // src-repartitioned ONCE, and each round joins them against a
      // BROADCAST of the register frame — the per-round partial-
      // register exchange (the "80 GB/round merge traffic" that DNF'd
      // the 10⁷-edge scale run at r12) disappears; only ≤ |nodes|
      // already-combined partials move. Estimates perturb ~0.2 % vs
      // the shuffle form (DataSketches HLL unions are merge-order-
      // sensitive at mid-density; hop 0 stays exact) — inside the
      // lgK-10 register error the spec gates.
      Checkpoints.scoped { pin =>
        val esSrc = pin(edges
          .union(nodes.select(col("node").as("src"), col("node").as("dst")))
          .repartition(col("src")))
        // r19 ADVICE: only a BROADCAST failure may trigger the shuffle
        // retry — a blanket SparkException catch would silently rerun
        // (and mask) hopStats collect failures, data-corruption task
        // failures, or maxResultSize on an unrelated collect. A real
        // broadcast failure always carries the evidence somewhere in
        // its chain: a BroadcastExchange/broadcast frame or message
        // (timeout, "Not enough memory to build and broadcast"), or an
        // OOM from the build.
        def broadcastRelated(t: Throwable): Boolean = {
          val seen = java.util.Collections.newSetFromMap(
            new java.util.IdentityHashMap[Throwable, java.lang.Boolean]())
          var c: Throwable = t
          while (c != null && seen.add(c)) {
            if (c.isInstanceOf[OutOfMemoryError]) return true
            if (Option(c.getMessage).getOrElse("").toLowerCase.contains("broadcast"))
              return true
            if (c.getStackTrace.exists(_.getClassName.toLowerCase.contains("broadcast")))
              return true
            c = c.getCause
          }
          false
        }
        try {
          for (h <- 1 to 3) {
            val next = esSrc
              .join(bcast(reg.select(col("node").as("dst"), col("reg").as("nreg"))), "dst")
              .groupBy(col("src").as("node"))
              .agg(hll_union_agg(col("nreg"), lit(false)).as("reg"))
              .localCheckpoint()
            Checkpoints.free(reg) // its hop row is already collected
            reg = next
            rows += hopStats(h, reg)
          }
        } catch {
          // r18 ADVICE: between the measured 1.25 M nodes and the 2 M-row
          // gate, a default-configured driver (spark.driver.memory /
          // maxResultSize 1g) can fail the per-round BroadcastExchange
          // where the shuffle form would complete slowly — degrade to
          // slow-but-safe instead of surfacing a hard failure. Register
          // state may be mid-round, so restart from the seed — hop rows
          // past 0 are dropped and recomputed exactly. If the shuffle
          // retry fails too, ITS error surfaces with the original
          // broadcast failure attached (r19 ADVICE: never lose the
          // first failure class).
          case e: org.apache.spark.SparkException if broadcastRelated(e) =>
            System.err.println(
              s"[graph] hyperball register broadcast failed (${e.getMessage}); " +
                "retrying via the shuffle form")
            Checkpoints.free(reg)
            rows.dropRightInPlace(rows.size - 1)
            reg = seedReg()
            try shuffleRounds()
            catch { case retry: Throwable => retry.addSuppressed(e); throw retry }
        }
      }
    } else shuffleRounds()
    Checkpoints.free(reg)
    rows.toSeq
  }

  val graphHyperballReach: Q = (s, dir) => {
    val edges = undirectedBothEdges(s, dir)
    val nodes = edges.select(col("src").as("node")).distinct()
    val rows = hyperballLoop(edges, nodes, HyperballBroadcastNodes)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("hop", "long", nullable = false)
      .add("n_nodes", "long", nullable = false)
      .add("sum_reach_est", "long", nullable = false)
      .add("min_est", "long", nullable = false)
      .add("max_est", "long", nullable = false)
    // a true LocalRelation (r18 ADVICE: the parallelize form is an
    // RDD-backed LogicalRDD — every consumer action launched a
    // 1-partition job; this one is driver-local)
    import scala.jdk.CollectionConverters._
    s.createDataFrame(rows.asJava, schema).orderBy("hop")
  }

  val queries: Map[String, Q] = Map(
    "graph_hyperball_reach" -> graphHyperballReach,
    "graph_harmonic_bounded" -> graphHarmonicBounded,
    "graph_bfs_layers" -> graphBfsLayers,
    "graph_degree_hist" -> graphDegreeHist,
    "graph_degree_assortativity" -> graphDegreeAssortativity,
    "graph_clustering_local" -> graphClusteringLocal,
    "graph_pagerank" -> graphPagerank,
    "graph_triangle_count" -> graphTriangleCount,
    "graph_label_propagation" -> graphLabelPropagation,
    "graph_modularity_cells" -> graphModularityCells,
    "graph_k_core" -> graphKCore,
    "graph_k_truss" -> graphKTruss,
    "graph_jaccard_neighbors" -> graphJaccardNeighbors,
    "graph_adamic_adar" -> graphAdamicAdar,
  )
}
