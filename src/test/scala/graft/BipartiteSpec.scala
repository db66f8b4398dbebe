package graft

import org.apache.spark.sql.functions._

/** ops.Bipartite: brand-profile projection + τ = 0.95 deletion-
  * neighborhood all-pairs join. Planted fixtures pin the blocking
  * cases (equal, Δ = 1 subset, Δ = 2 just-below-threshold); the
  * sf0.001 test cross-checks the whole pipeline against a
  * brute-force Spark formulation that never uses signatures.
  */
class BipartiteSpec extends SparkSpec {
  import spark.implicits._

  private def profDf(rows: Seq[(Long, Seq[String])]) =
    rows.toDF("c", "brands").select(col("c"), sort_array(col("brands")).as("brands"))

  private def pairs(rows: Seq[(Long, Seq[String])]): Set[(Long, Long, Long, Long)] =
    ops.Bipartite.allpairsFromProfiles(profDf(rows))
      .select("a_id", "b_id", "inter", "uni")
      .as[(Long, Long, Long, Long)].collect().toSet

  test("equal profiles and single-element deltas qualify; two-deletes do not") {
    val u = ('a' to 'y').map(_.toString) // 25-element universe
    val got = pairs(Seq(
      1L -> u,            // full
      2L -> u,            // equal → J=1
      3L -> u.drop(1),    // Δ=1 subset → J=24/25=0.96 ≥ 0.95
      4L -> u.drop(2),    // Δ=2 subset of 1 → J=23/25=0.92 < 0.95 vs 1/2
      5L -> (u.drop(1) :+ "z").sorted)) // swap one → Δ=2 vs 1, J=24/26
    assert(got.contains((1L, 2L, 25L, 25L)))
    assert(got.contains((1L, 3L, 24L, 25L)))
    assert(got.contains((2L, 3L, 24L, 25L)))
    // Δ=2 in either shape stays out at τ=0.95
    assert(!got.exists(p => Set((p._1, p._2)).contains((1L, 4L))))
    assert(!got.exists(p => (p._1, p._2) == (1L, 5L)))
    // but the Δ=1 pair 3–4 (J=23/24=0.958) qualifies
    assert(got.contains((3L, 4L, 23L, 24L)))
  }

  test("singleton profiles: equal pairs found, empty deletion sig never joins") {
    val got = pairs(Seq(1L -> Seq("x"), 2L -> Seq("x"), 3L -> Seq("y")))
    assert(got === Set((1L, 2L, 1L, 1L)))
  }

  test("depth-2 pairs at tau=0.9 equal brute force on planted profiles") {
    // 12-element universe, sizes 1..12, deterministic membership —
    // includes identical singletons (ids 20/21) and Δ=2 swaps
    val u = ('a' to 'l').map(_.toString)
    val planted: Seq[(Long, Seq[String])] =
      (1L to 12L).map(i => i -> u.take(i.toInt)) ++
        Seq(20L -> Seq("a"), 21L -> Seq("a"),
          30L -> u, 31L -> (u.drop(2) ++ Seq("x", "y")).sorted, // Δ=4
          32L -> (u.drop(1) :+ "x").sorted, // Δ=2 vs 30: J=11/13
          33L -> u.drop(2)) // Δ=2 subset of 30: J=10/12
    val got = ops.Bipartite.deletionPairs(profDf(planted), 9, 10, 2)
      .select("a_id", "b_id", "inter", "uni")
      .as[(Long, Long, Long, Long)].collect().toSet
    val sets = planted.map { case (id, br) => id -> br.toSet }
    val brute = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      i = (sa & sb).size.toLong; un = (sa | sb).size.toLong
      if i * 10 >= un * 9
    } yield (a, b, i, un)).toSet
    assert(got === brute)
    assert(brute.contains((20L, 21L, 1L, 1L))) // identical singletons present
    assert(brute.exists { case (a, b, _, un) => (a, b) == (11L, 12L) && un == 12L })
  }

  test("collapsed join equals the direct join on profiles with duplicate groups") {
    val u = ('a' to 'l').map(_.toString)
    // three identical copies of one profile, two of another, plus
    // near-dups and noise — exercises intra-group expansion, cross
    // pair normalization (member ids interleave across groups), and
    // singleton groups
    val planted: Seq[(Long, Seq[String])] = Seq(
      1L -> u, 5L -> u, 9L -> u,                 // identical block g=3
      2L -> u.take(11), 7L -> u.take(11),        // identical block g=2, Δ=1 to u
      3L -> u.take(6), 4L -> Seq("z"))
    for ((p, q, d) <- Seq((19, 20, 1), (9, 10, 2))) {
      val direct = ops.Bipartite.deletionPairs(profDf(planted), p, q, d)
        .select("a_id", "b_id", "inter", "uni", "jaccard")
        .as[(Long, Long, Long, Long, Double)].collect().toSet
      val collapsed = ops.Bipartite.deletionPairsCollapsed(profDf(planted), p, q, d)
        .select("a_id", "b_id", "inter", "uni", "jaccard")
        .as[(Long, Long, Long, Long, Double)].collect().toSet
      assert(collapsed === direct, s"tau=$p/$q depth=$d")
      assert(direct.contains((1L, 5L, 12L, 12L, 1.0))) // intra pair surfaced
    }
  }

  test("collapsed join reads a checkpoint-handle input in place instead of copying it") {
    val u = ('a' to 'l').map(_.toString)
    val planted: Seq[(Long, Seq[String])] = Seq(
      1L -> u, 5L -> u, 2L -> u.take(11), 3L -> u.take(6), 4L -> Seq("z"))
    // the join's checkpoints materialize as it is built, so the RDDs
    // that gained blocks by then are every copy it made
    def run(profiles: org.apache.spark.sql.DataFrame): (Set[(Long, Long)], Int) = {
      def withBlocks = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
      val before = withBlocks
      val pairs = ops.Bipartite.deletionPairsCollapsed(profiles, 19, 20, 1)
      val gained = (withBlocks -- before).size
      (pairs.select("a_id", "b_id").as[(Long, Long)].collect().toSet, gained)
    }
    val handle = profDf(planted).localCheckpoint()
    try {
      val (plain, plainRdds) = run(profDf(planted))
      val (viaHandle, handleRdds) = run(handle)
      assert(viaHandle === plain)
      assert(plain.contains((1L, 5L)))
      assert(handleRdds === plainRdds - 1,
        "a handle input must be read in place, not checkpointed a second time")
    } finally ops.Checkpoints.free(handle)
  }

  test("cluster composition labels paired customers with min reachable id") {
    val u = ('a' to 'y').map(_.toString)
    val planted: Seq[(Long, Seq[String])] = Seq(
      1L -> u,                         // —— chain 1–2–3: 1~2 (J=24/25),
      2L -> u.drop(1),                 //    2~3 (J=24/25), but 1~3 only
      3L -> (u.drop(1) :+ "z").sorted, //    J=24/26 — transitive closure
      10L -> Seq("q"), 11L -> Seq("q"), // identical singletons
      99L -> Seq("r", "s", "t"))        // no partner → absent
    val got = ops.Llm.connectedComponents(
      ops.Bipartite.deletionPairs(profDf(planted), 19, 20, 1)
        .select("a_id", "b_id"))
      .select(col("id"), col("comp"))
      .as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L)))
  }

  test("sf0.001 deletion-sig join equals the brute-force formulation") {
    val dir = "/root/testdata/sf0.001"
    val got = ops.Bipartite.simProfileAllpairs(spark, dir)
      .select("a_id", "b_id", "inter", "uni", "jaccard")
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    val base = io.Readers.table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
      .join(io.Readers.table(spark, dir, "part")
        .select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .join(io.Readers.table(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("p_brand").as("e"))
      .distinct()
    val sz = base.groupBy("c").agg(count(lit(1)).as("sz"))
    val brute = base.select(col("c").as("ca"), col("e"))
      .join(base.select(col("c").as("cb2"), col("e")), "e")
      .filter(col("ca") < col("cb2"))
      .groupBy("ca", "cb2").agg(count(lit(1)).as("i"))
      .join(sz.select(col("c").as("ca"), col("sz").as("sa")), "ca")
      .join(sz.select(col("c").as("cb2"), col("sz").as("sb")), "cb2")
      .filter(col("i") * 20 >= (col("sa") + col("sb") - col("i")) * 19)
      .select(col("ca"), col("cb2"), col("i"),
        (col("sa") + col("sb") - col("i")).as("u"),
        (col("i").cast("double") / (col("sa") + col("sb") - col("i")).cast("double")))
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    assert(got === brute)
    assert(got.nonEmpty) // the corpus genuinely produces pairs
  }

  test("dedup_cluster_histogram partitions the profiled population; sizes agree with the label key") {
    val dir = "/root/testdata/sf0.001"
    val hist = ops.Bipartite.dedupClusterHistogram(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // n_customers = size * n_clusters on every row
    hist.foreach { case (sz, nc, ncust) => assert(ncust === sz * nc) }
    // the histogram partitions the whole profiled population
    val nProfiled = ops.Bipartite.ordersBrandProfile(spark, dir).count()
    assert(hist.map(_._3).sum === nProfiled)
    // sizes >= 2 rows reproduce the cluster key's component sizes
    val labels = ops.Bipartite.simProfileClusters(spark, dir).collect()
      .map(r => r.getLong(1))
    val wantHist = labels.groupBy(identity).map(_._2.length.toLong)
      .groupBy(identity).map { case (sz, g) => sz -> g.size.toLong }
    val gotMulti = hist.filter(_._1 >= 2).map(t => t._1 -> t._2).toMap
    assert(gotMulti === wantHist)
    // singleton row = profiled minus labeled (present iff nonzero)
    val nLabeled = labels.length.toLong
    val single = hist.filter(_._1 == 1).map(_._2).sum
    assert(single === nProfiled - nLabeled)
  }

  test("sample_cluster_inverse: representative always kept, members exactly by the md5 gate") {
    val dir = "/root/testdata/sf0.001"
    val labels = ops.Bipartite.simProfileClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val sizes = labels.groupBy(_._2).map { case (c, g) => c -> g.length.toLong }
    def ppm(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"graft-cluster-inv|$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16) % 1000000
    }
    val want = labels.filter { case (id, comp) =>
      id == comp || ppm(id) < 1000000L / sizes(comp)
    }.toMap
    val got = ops.Bipartite.sampleClusterInverse(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(t => t._1 -> t._2).toMap === want)
    got.foreach { case (_, comp, size, thr) =>
      assert(size === sizes(comp))
      assert(thr === 1000000L / size)
    }
    // every cluster keeps its representative
    assert(sizes.keySet.subsetOf(got.map(_._1).toSet))
  }

  test("materialized-label path: committed label table drives both consumers row-identically") {
    val dir = "/root/testdata/sf0.001"
    // commit the closure labels as a real bucketed label table
    val labels = ops.Bipartite.simProfileClusters(spark, dir)
      .select(col("custkey").as("id"), col("cluster_id").as("comp"))
    ops.ClusterMaintenance.bootstrapLabels(labels, "r11labels")
    try {
      val loaded = ops.ClusterMaintenance.loadLabels(spark, "r11labels")
      val profiled = ops.Bipartite.ordersBrandProfile(spark, dir)
        .select(col("custkey").as("id"))
      assert(ops.Bipartite.histogramOver(loaded, profiled).collect().toSeq ===
        ops.Bipartite.dedupClusterHistogram(spark, dir).collect().toSeq)
      assert(ops.Bipartite.inverseSampleOver(loaded).collect().toSeq ===
        ops.Bipartite.sampleClusterInverse(spark, dir).collect().toSeq)
    } finally {
      spark.sql("DROP TABLE IF EXISTS r11labels__v0")
    }
  }
}
