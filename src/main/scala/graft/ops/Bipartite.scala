package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Readers.table

/** Bipartite-projection profile analytics (§8.r10.2): project the
  * customer×part interaction fact onto the small brand axis — each
  * customer's DISTINCT brand set is their "purchase profile" — then
  * run an EXACT all-pairs similarity join over the profiles.
  *
  * This is the corpus where the r9 all-pairs rejection gets its
  * positive counterpart: adjacency sets over the part graph barely
  * overlapped (zero qualifying pairs at τ = 1/2, BASELINE.md r9), but
  * brand profiles are DENSE sets over a 25-element universe (avg 19
  * of 25 at sf0.01) — near-identical profiles genuinely exist (3,788
  * pairs at τ = 0.95, sf0.01), so an all-pairs join finally has
  * something to emit.
  *
  * Dense-small-universe changes the right algorithm: the PPJoin
  * prefix filter indexes each set's RAREST elements, but a 25-value
  * near-uniform brand axis has nothing rare — its candidate volume is
  * Σ prefix-df ≈ n·2·(n·avg_share), quadratic in n with a small
  * constant (measured, BASELINE.md r10), and the shared-count join's
  * Σ df² is catastrophically quadratic (3.3·10⁹ joined rows at
  * sf0.1). The winning shape at high τ is the DELETION NEIGHBORHOOD
  * (SymSpell-style, Bocek et al. 2007 "Fast Similarity Search in
  * Large Dictionaries"): at τ = 0.95 a qualifying pair's symmetric
  * difference is ≤ 1 (Δ = u − i ≤ (1−τ)·u, and u ≤ 26 here), and
  * every Δ ≤ 1 pair shares a signature in
  * {full set} ∪ {all single-element deletions}: equal sets share the
  * full signature; B = A∖{x} makes B's full signature equal A's
  * x-deletion. Signature volume is n·(sz+1) rows — LINEAR in
  * profiles — and signature groups are exact-subset matches, so
  * collisions are semantically close pairs, not hot-key noise.
  *
  * Completeness bound (scaladoc'd, gate-enforced): Δ ≤ 1 covers
  * J ≥ τ exactly while (1−τ)·u_max < 2, i.e. u_max ≤ 39 at
  * τ = 0.95; the brand universe (25) sits far inside. A corpus that
  * outgrew the bound would need deletion depth d = ⌊(1−τ)·u_max⌋
  * (cost n·sz^d) — and would show up immediately as a gate failure
  * against the brute-force oracle, which never assumes the bound.
  *
  * 100 TB: the projection is one distinct + one map-side-combinable
  * collect_set, both clustered on custkey; signatures are a row-local
  * 26× fan-out of the |customers|-row profile relation; the
  * signature self-join shuffles on the 64-bit sig hash (hash
  * collisions only ADD candidates — every candidate is verified with
  * the exact integer predicate 20·i ≥ 19·u before emit). Nothing is
  * n², nothing driver-side.
  */
object Bipartite {

  import Relational.Q

  /** The (customer, brand) bipartite projection: one row per distinct
    * (custkey, brand) interaction. Brand dim broadcasts into the
    * lineitem scan; orders joins on the shuffle key l_orderkey.
    */
  private def brandSets(s: SparkSession, dir: String): DataFrame = {
    val li = table(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
    val ord = table(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val prt = table(s, dir, "part").select(col("p_partkey"), col("p_brand"))
    li.join(broadcast(prt), col("l_partkey") === col("p_partkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("p_brand").as("e"))
      .distinct()
  }

  /** Per-customer profile: sorted distinct brand array (total order —
    * collect_set is order-unstable, sort_array pins it). Cached via
    * [[SessionCache]] (round 14 — r13 verdict item 1): all five keys
    * of this object start from this relation, and before sharing,
    * each rebuilt the lineitem⋈part⋈orders distinct + collect_set
    * independently. |customers| rows — tiny against its source.
    */
  private[graft] def profiles(s: SparkSession, dir: String): DataFrame =
    SessionCache.of(s, dir, "brand-profiles") {
      brandSets(s, dir)
        .groupBy(col("c"))
        .agg(sort_array(collect_set(col("e"))).as("brands"))
    }

  /** The projection as an oracle'd key: (custkey, n_brands, profile).
    */
  val ordersBrandProfile: Q = (s, dir) =>
    profiles(s, dir)
      .select(col("c").as("custkey"),
        size(col("brands")).cast("long").as("n_brands"),
        concat_ws(",", col("brands")).as("profile"))
      .orderBy("custkey")

  /** Exact all-pairs profile similarity at τ = 0.95 via deletion
    * neighborhoods — see the object scaladoc for why this formulation
    * wins on a dense small universe and when Δ ≤ 1 blocking is
    * complete. Emits every customer pair with Jaccard(brands) ≥ 0.95:
    * (a_id < b_id, inter, uni, jaccard), where the predicate is the
    * integer form 20·i ≥ 19·u and jaccard is the single division i/u.
    */
  val simProfileAllpairs: Q = (s, dir) =>
    deletionPairsCollapsed(profiles(s, dir), 19, 20, 1)
      .orderBy("a_id", "b_id")

  /** The deletion-neighborhood join over any (c, brands sorted array)
    * profile relation — split out so specs can drive planted
    * profiles through the exact blocking/verify path. Since the
    * round-10 resume this is the two-stage-verify [[deletionPairs]]
    * form at (19/20, d=1): same rows as the verify-every-candidate
    * original (A/B'd row-identical at sf0.001/0.01/0.1), measured
    * ~2–3× faster at sf0.01 and ≈ parity at sf0.1 where the
    * collision shuffle, common to both, dominates (BASELINE.md
    * r10-resume row).
    */
  private[graft] def allpairsFromProfiles(profilesDf: DataFrame): DataFrame =
    deletionPairs(profilesDf, 19, 20, 1).orderBy("a_id", "b_id")

  /** Generalized deletion-neighborhood pair join at τ = p/q with
    * deletion depth d ∈ {1, 2} — complete for Δ ≤ d (qualifying pairs
    * have |A∖B| ≤ d AND |B∖A| ≤ d whenever (1−τ)·u_max < d+1).
    *
    * Two-stage verify (§8.r11.1's "cheaper verify", measured in
    * BASELINE.md r10-resume): a collision sig S is a common SUBSET of
    * both profiles (S ⊆ A ∩ B, so |S| ≤ i), and for every pair within
    * the completeness bound the deletions A∖B from A and B∖A from B
    * produce S = A ∩ B exactly — so max |S| over a pair's collisions
    * IS the intersection size for every qualifying pair, and a lower
    * bound for every other. Stage 1 therefore thresholds on
    * q·max|S| ≥ p·(sz_a + sz_b − max|S|) with NO array re-attach:
    * underestimates only kill pairs that could never qualify. Stage 2
    * re-attaches the brand arrays for the ~truth-sized survivor set
    * and re-verifies exactly — which also annuls 64-bit xxhash
    * collisions (a fake collision can only inflate stage 1's bound,
    * i.e. admit a candidate stage 2 then rejects; it can never hide a
    * real signature match). Net effect vs the verify-everything form:
    * the per-candidate array work runs on |truth| rows instead of
    * |candidates| rows, and the collision join still shuffles only
    * fixed-width ints.
    */
  /** (c, sz, sl, sig) deletion-signature rows of a profile relation —
    * the row-local fan-out both [[deletionPairs]] and the persisted
    * [[ProfileIndex]] share. Sub-2-element DELETION signatures are
    * dropped: with τ > 1/2, a qualifying pair with i ≤ 1 forces u = 1
    * (two identical singletons), whose shared signature is the
    * 1-element FULL set — kept by the sl = sz disjunct; every other
    * qualifying pair has i ≥ 2 and shares S = A∩B of size ≥ 2. Tiny
    * subsets are the hot keys (every profile containing brand X
    * collides on {X}), so this prune is what keeps collision groups
    * semantic.
    */
  private[graft] def signatureRows(profilesDf: DataFrame, depth: Int): DataFrame = {
    require(depth == 1 || depth == 2, s"deletion depth $depth unsupported")
    val d1 = profilesDf.select(col("c"), size(col("brands")).as("sz"), explode(
      concat(array(col("brands")),
        transform(sequence(lit(0), size(col("brands")) - 1),
          i => filter(col("brands"), (_, j) => j =!= i)))).as("sigarr"))
    val raw = if (depth == 1) d1 else d1.union(
      profilesDf.select(col("c"), size(col("brands")).as("sz"), explode(flatten(
        transform(sequence(lit(0), size(col("brands")) - 2), i =>
          transform(sequence(i + 1, size(col("brands")) - 1), j =>
            filter(col("brands"), (_, k) => k =!= i && k =!= j)))))
        .as("sigarr")))
    raw.filter(size(col("sigarr")) >= 2 ||
        size(col("sigarr")) === col("sz"))
      .select(col("c"), col("sz"), size(col("sigarr")).as("sl"),
        xxhash64(concat_ws(",", col("sigarr"))).as("sig"))
  }

  private[graft] def deletionPairs(profilesDf: DataFrame, p: Int, q: Int,
      depth: Int): DataFrame = {
    require(2 * p > q, s"deletionPairs requires tau > 1/2 (got $p/$q): " +
      "signatureRows' small-signature pruning assumes an i<=1 qualifying " +
      "pair can only be two identical singletons")
    val prof = profilesDf.localCheckpoint()
    val sigs = signatureRows(prof, depth)
    val stage1 = sigs
      .select(col("sig"), col("c").as("a_id"), col("sz").as("sza"), col("sl").as("sla"))
      .join(sigs.select(col("sig"), col("c").as("b_id"), col("sz").as("szb"),
        col("sl").as("slb")), Seq("sig"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(max(least(col("sla"), col("slb"))).as("i_lb"),
        max(col("sza")).as("sza"), max(col("szb")).as("szb"))
      .filter(col("i_lb") * q >= (col("sza") + col("szb") - col("i_lb")) * p)
      .select(col("a_id"), col("b_id"))
    stage1
      .join(prof.select(col("c").as("a_id"), col("brands").as("a_br")), "a_id")
      .join(prof.select(col("c").as("b_id"), col("brands").as("b_br")), "b_id")
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("a_br"), col("b_br"))).cast("long").as("inter"),
        (size(col("a_br")) + size(col("b_br")) -
          size(array_intersect(col("a_br"), col("b_br")))).cast("long").as("uni"))
      .filter(col("inter") * q >= col("uni") * p)
      .withColumn("jaccard",
        col("inter").cast("double") / col("uni").cast("double"))
  }

  /** Exact-duplicate collapse before the near-dup join: one row per
    * DISTINCT profile, carrying the min owner id as group
    * representative and the duplicate count. Identical profiles are
    * common in real interaction data (sf0.1: 14,999 customers but
    * 11,993 distinct profiles, one 325-customer identical block), and
    * a g-sized identical group multiplies EVERY collision row of its
    * signatures by g² in the self-join — collapsing first makes the
    * join cost a function of distinct-profile count while the
    * (output-intrinsic) duplicate pairs are re-expanded afterward as
    * pure generation. The groupBy/join key is the sorted brand array
    * itself — exact, no hash-collapse risk.
    */
  private[graft] def collapseProfiles(profilesDf: DataFrame): DataFrame =
    profilesDf
      .groupBy(col("brands"))
      .agg(min(col("c")).as("gid"), count(lit(1)).as("g"))

  /** [[deletionPairs]] over distinct profiles + pair re-expansion:
    * identical output (A/B'd row-identical, BASELINE.md r10-resume),
    * with the signature join running at distinct-profile cardinality.
    * Cross-group pairs inherit the representative pair's exact
    * (inter, uni); within-group pairs are (sz, sz, J = 1) by
    * definition — both expansions are joins against the small
    * (c, gid) membership relation.
    */
  /** The (distinct-profile groups, member mapping) pair both collapsed
    * operators below share. `groups`: (brands, gid, g); `members`:
    * (c, gid, g, sz). The profiles are read twice, so they are pinned
    * first — unless the caller passed a checkpoint handle, which is
    * then read in place (freeing the result's leaves frees it too).
    */
  private def collapsedParts(profilesDf: DataFrame): (DataFrame, DataFrame) = {
    val prof =
      if (Checkpoints.isHandle(profilesDf)) profilesDf else profilesDf.localCheckpoint()
    val groups = collapseProfiles(prof).localCheckpoint()
    val members = prof.join(groups, "brands")
      .select(col("c"), col("gid"), col("g"), size(col("brands")).as("sz"))
    (groups, members)
  }

  private[graft] def deletionPairsCollapsed(profilesDf: DataFrame, p: Int,
      q: Int, depth: Int): DataFrame = {
    val (groups, members) = collapsedParts(profilesDf)
    val repPairs = deletionPairs(
      groups.select(col("gid").as("c"), col("brands")), p, q, depth)
    val cross = repPairs
      .join(members.select(col("gid").as("a_id"), col("c").as("ca")), "a_id")
      .join(members.select(col("gid").as("b_id"), col("c").as("cb")), "b_id")
      .select(least(col("ca"), col("cb")).as("a_id"),
        greatest(col("ca"), col("cb")).as("b_id"),
        col("inter"), col("uni"), col("jaccard"))
    val dup = members.filter(col("g") >= 2)
    val intra = dup.select(col("gid"), col("c").as("ca"), col("sz"))
      .join(dup.select(col("gid"), col("c").as("cb")), "gid")
      .filter(col("ca") < col("cb"))
      .select(col("ca").as("a_id"), col("cb").as("b_id"),
        col("sz").cast("long").as("inter"), col("sz").cast("long").as("uni"),
        lit(1.0).as("jaccard"))
    cross.unionAll(intra)
  }

  /** Near-duplicate customer SEGMENTS: the transitive closure of the
    * τ = 0.95 profile-similarity relation — [[deletionPairs]] pairs
    * fed to [[Llm.connectedComponents]] (the same composition the
    * document-dedup path ships as `dedup_connected_components`),
    * labeling each paired customer with the min custkey reachable
    * through J ≥ 0.95 links. Customers with no qualifying partner are
    * singleton segments by definition and absent from the relation
    * (callers left-anti-join, as with every pair/cluster key here).
    *
    * At sf0.01 this yields 27 segments over 464 customers (one
    * 410-customer near-dup block + small tails) — the shape a
    * dedup-by-cluster or stratified-sampling step consumes.
    *
    * 100 TB: linear-signature blocking (the pair join) + O(log d)
    * star-contraction rounds (the closure) — both components' scale
    * arguments are their own scaladocs; composition adds nothing
    * driver-side beyond CC's one permitted per-round scalar. The
    * depth-2 τ = 0.9 parameterization was measured end-to-end and NOT
    * shipped as a key (1.8× the pair join's own cost on top of it —
    * BASELINE.md r10-resume row); `deletionPairs(_, 9, 10, 2)` is the
    * drop-in when a corpus needs the looser threshold.
    */
  val simProfileClusters: Q = (s, dir) =>
    clusterLabels(s, dir)
      .select(col("id").as("custkey"), col("comp").as("cluster_id"))
      .orderBy("custkey")

  /** The (id, comp) label relation behind [[simProfileClusters]] and
    * [[dedupClusterHistogram]] — closure over the COLLAPSED graph:
    * representative pairs + one star edge per duplicate member
    * (gid → c). Connectivity equals the full expanded pair relation's
    * — every expanded pair routes through its reps via the stars,
    * identical profiles always qualify (J = 1) — while an identical
    * block of g customers contributes g−1 edges instead of C(g,2).
    * gid = min member id, so min-label components are unchanged.
    *
    * Cached via [[SessionCache]] (round 14 — r13 verdict item 1: the
    * trio of consumers each re-derived the full signature join +
    * star-contraction closure in-suite, ~16 s; the first caller now
    * pays it once, exactly the [[Graph]]/[[EventsBase]] pattern).
    * The label relation is (id, comp) over paired customers only —
    * far smaller than anything upstream. The durable analogue is the
    * continuously-maintained label table
    * ([[ClusterMaintenance.bootstrapLabels]]/`ingestCommitted`),
    * which the `histogramOver`/`inverseSampleOver` consumers already
    * accept directly.
    */
  private[graft] def clusterLabels(s: SparkSession, dir: String): DataFrame =
    SessionCache.of(s, dir, "cluster-labels") {
      val (groups, members) = collapsedParts(profiles(s, dir))
      val repPairs = deletionPairs(
        groups.select(col("gid").as("c"), col("brands")), 19, 20, 1)
        .select("a_id", "b_id")
      val stars = members.filter(col("c") =!= col("gid"))
        .select(col("gid").as("a_id"), col("c").as("b_id"))
      Llm.connectedComponents(repPairs.unionAll(stars))
    }

  /** Cluster-SIZE histogram of the near-duplicate segments — THE
    * dedup-planning summary: how much of the corpus sits in how-large
    * duplicate blocks (one giant block ⇒ collapse-to-representative
    * wins big; all pairs ⇒ pair-wise suppression is enough), plus the
    * singleton mass (customers with no J ≥ 0.95 partner, size-1 rows)
    * so the histogram partitions the WHOLE profiled population:
    * Σ n_customers = |profiles|. One row per size:
    * (size, n_clusters, n_customers).
    *
    * Scale: the label relation's own scale argument (linear signature
    * blocking + log-rounds closure), then two tiny aggregates over
    * |labeled| rows and one anti-join of the skinny profile keys
    * against the labels. Nothing new materializes.
    */
  val dedupClusterHistogram: Q = (s, dir) =>
    histogramOver(clusterLabels(s, dir), profiles(s, dir).select(col("c").as("id")))

  /** The histogram rollup over ANY (id, comp) label relation — the
    * MATERIALIZED-LABEL path: a deployment that maintains the label
    * table continuously ([[ClusterMaintenance.bootstrapLabels]] /
    * `ingestCommitted`) calls this with
    * [[ClusterMaintenance.loadLabels]] and pays two tiny aggregates
    * instead of the closure recompute the self-contained key performs
    * (the three closure keys each re-derive it in-suite — BASELINE.md
    * r11 control row quantifies the cost). Spec'd row-identical to
    * the key on a committed label table.
    */
  def histogramOver(labels: DataFrame, profiledIds: DataFrame): DataFrame = {
    val hist = labels.groupBy(col("comp")).agg(count(lit(1)).as("size"))
      .groupBy(col("size")).agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_customers", col("size") * col("n_clusters"))
    val single = profiledIds
      .join(labels.select(col("id")), Seq("id"), "left_anti")
      .agg(count(lit(1)).as("n_clusters"))
      .filter(col("n_clusters") > 0)
      .select(lit(1L).as("size"), col("n_clusters"),
        col("n_clusters").as("n_customers"))
    hist.unionByName(single).orderBy(col("size"))
  }

  /** Dedup-aware sampling over the near-dup segments — the SemDeDup
    * keep-policy generalized: every cluster's REPRESENTATIVE (the
    * min-id label, deterministic) is always kept, and each other
    * member passes a house md5-ppm gate at threshold 10⁶ div size —
    * i.e. probability 1/size, so a cluster's expected kept mass is
    * representative + 1 regardless of how large the duplicate block
    * is. That is the sampling lever [[dedupClusterHistogram]] plans
    * for: duplicated content stops scaling with its duplication
    * factor while retaining intra-cluster variety for training.
    * Membership is a pure function of (custkey, cluster size) — the
    * usual house-gate stability argument (own salt, composable with
    * the split/sample gates).
    *
    * Scale: the label relation + one size window on the comp
    * clustering + a row-local gate. Nothing new shuffles: the window
    * rides the closure output's partitioning.
    */
  val sampleClusterInverse: Q = (s, dir) =>
    inverseSampleOver(clusterLabels(s, dir))

  /** The keep-policy rollup over ANY (id, comp) label relation — the
    * materialized-label path, as [[histogramOver]].
    */
  def inverseSampleOver(labels: DataFrame): DataFrame = {
    val ppm = conv(substring(md5(concat_ws("|", lit("graft-cluster-inv"),
      col("id").cast("string"))), 1, 8), 16, 10).cast("long") % 1000000
    labels
      .withColumn("size", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("comp"))))
      .withColumn("thr", expr("1000000 div size"))
      .filter(col("id") === col("comp") || ppm < col("thr"))
      .select(col("id").as("custkey"), col("comp").as("cluster_id"),
        col("size"), col("thr"))
      .orderBy("custkey")
  }

  val queries: Map[String, Q] = Map(
    "orders_brand_profile" -> ordersBrandProfile,
    "sim_profile_allpairs" -> simProfileAllpairs,
    "sim_profile_clusters" -> simProfileClusters,
    "dedup_cluster_histogram" -> dedupClusterHistogram,
    "sample_cluster_inverse" -> sampleClusterInverse,
  )
}
