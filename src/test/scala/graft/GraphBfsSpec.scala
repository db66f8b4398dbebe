package graft

import org.apache.spark.sql.functions._

/** Crafted-graph semantics of the BFS frontier loop ([[ops.Graph.bfsLayers]]):
  * the sf gate proves cross-engine equality on the real corpus; these
  * prove the MATH — hop minimality under cycles and multiple paths,
  * the hop bound, unreachability, and multi-source minimum.
  */
class GraphBfsSpec extends SparkSpec {
  import spark.implicits._

  private def und(pairs: (Long, Long)*) = {
    val d = pairs.toDF("src", "dst")
    d.union(d.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint()
  }
  private def seeds(ns: Long*) = ns.toDF("node")
  private def run(e: org.apache.spark.sql.DataFrame, s: org.apache.spark.sql.DataFrame, k: Int) =
    ops.Graph.bfsLayers(e, s, k).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("path graph: hops are exact distances; nodes past the bound are absent") {
    // 1-2-3-4-5-6-7, seed 1, bound 4 → nodes 6,7 unreached
    val got = run(und(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 5L -> 6L, 6L -> 7L), seeds(1L), 4)
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
  }

  test("cycle + chord: shortest of several paths wins, loop terminates") {
    // cycle 1-2-3-4-5-1 with chord 2-5: node 4 is 2 away both ways
    val got = run(und(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 5L -> 1L, 2L -> 5L), seeds(1L), 4)
    assert(got === Map(1L -> 0L, 2L -> 1L, 5L -> 1L, 3L -> 2L, 4L -> 2L))
  }

  test("multi-source: a node's hop is the min over seeds; disconnected component unreached") {
    // path 1..5 seeded at both ends + isolated edge 10-11
    val got = run(und(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 10L -> 11L), seeds(1L, 5L), 4)
    assert(got === Map(1L -> 0L, 5L -> 0L, 2L -> 1L, 4L -> 1L, 3L -> 2L))
  }

  test("corpus key agrees with a driver-side Dijkstra replay at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val rows = ops.Graph.graphBfsLayers(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // independent replay: adjacency + BFS in plain Scala
    val d0 = ops.Graph.orderSequenceEdges(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = (d0 ++ d0.map(_.swap)).distinct.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val nodes = adj.keySet
    var dist = nodes.filter(_ % 97 == 0).map(_ -> 0L).toMap
    var frontier = dist.keySet
    for (h <- 1 to 4) {
      val fresh = frontier.flatMap(adj(_)).diff(dist.keySet)
      dist ++= fresh.map(_ -> h.toLong)
      frontier = fresh
    }
    assert(rows === dist)
  }

  // canonical (u<v, distinct) edge list — the shape clusteringProfile
  // and assortativityCells require
  private def canon(pairs: (Long, Long)*) =
    pairs.toDF("a", "b")
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .distinct().localCheckpoint()

  test("clustering profile: crafted graph lands every structure in its exact bin") {
    // triangle {1,2,3} + node 4 closing edge (1,2)   → all cbin 0
    // path 5-6-7: node 6 has deg 2, no triangle      → sentinel cbin −1
    // star center 10 over 11..16 with chord 11-12    → c=1/15, q=15 → cbin 3
    val g = canon(
      1L -> 2L, 1L -> 3L, 2L -> 3L, 4L -> 1L, 4L -> 2L,
      5L -> 6L, 6L -> 7L,
      10L -> 11L, 10L -> 12L, 10L -> 13L, 10L -> 14L, 10L -> 15L, 10L -> 16L,
      11L -> 12L)
    val got = ops.Graph.clusteringProfile(g).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got === Map(
      -1L -> (1L, 0L, 2L),            // node 6
      0L -> (6L, 8L, 20L),            // 1,2,3,4 (tri 2,2,1,1) + 11,12 (tri 1,1)
      3L -> (1L, 1L, 30L)))           // node 10: deg 6, T=1, q=15
  }

  test("assortativity cells: star is exactly −1, path P4 is exactly −1/2") {
    // exact rational form: r = (4m·s_prod − s_sum²) / (2m·s_sq − s_sum²)
    def rParts(cells: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val row = cells.collect().head
      val (m, sp, ss, sq) = (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
      (4 * m * sp - ss * ss, 2 * m * sq - ss * ss)
    }
    // K1,3: every edge pairs the hub (deg 3) with a leaf (deg 1)
    val star = ops.Graph.assortativityCells(canon(1L -> 2L, 1L -> 3L, 1L -> 4L))
    assert(star.collect().head.toSeq === Seq(3L, 9L, 12L, 30L))
    val (n1, d1) = rParts(star)
    assert(n1 === -d1 && d1 > 0) // r = −1 exactly
    // P4: textbook r = −1/2
    val (n2, d2) = rParts(ops.Graph.assortativityCells(canon(1L -> 2L, 2L -> 3L, 3L -> 4L)))
    assert(2 * n2 === -d2 && d2 > 0) // r = −1/2 exactly
  }

  test("modularity cells: two disjoint triangles give Q = 1/2 exactly; invariants on corpus") {
    // two disjoint triangles: flood converges to components; per
    // community e_c = 3, d_c = 6, m = 6 → Q = 2·(3/6 − (6/12)²) = 1/2
    val tri2 = ops.Graph.modularityCells(canon(
      1L -> 2L, 2L -> 3L, 1L -> 3L,
      10L -> 11L, 11L -> 12L, 10L -> 12L)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(tri2.toSeq === Seq((1L, 3L, 6L, 3L, 6L), (10L, 3L, 6L, 3L, 6L)))
    val q = tri2.map { case (_, _, dc, ec, m) =>
      ec.toDouble / m - math.pow(dc.toDouble / (2 * m), 2) }.sum
    assert(math.abs(q - 0.5) < 1e-12, s"Q = $q")
    // corpus invariants at sf0.001: cells partition nodes and edges
    val rows = ops.Graph.graphModularityCells(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val m = rows.head._5
    assert(rows.forall(_._5 == m))
    assert(rows.map(_._4).sum <= m, "internal edges never exceed m")
    assert(rows.map(_._3).sum === 2 * m, "degree sums close over 2m")
    // NOTE deliberately NOT asserted: e_int >= n−1. A same-label set
    // is NOT necessarily connected in its induced subgraph — a node 3
    // hops from the label root joins the community while intermediate
    // nodes may carry smaller labels from elsewhere (observed on the
    // corpus sample).
    val qCorpus = rows.map { case (_, _, dc, ec, mm) =>
      ec.toDouble / mm - math.pow(dc.toDouble / (2 * mm), 2) }.sum
    assert(qCorpus > 0 && qCorpus <= 1, s"sampled co-order graph is modular: Q = $qCorpus")
  }

  test("clustering + assortativity corpus invariants at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val d0 = ops.Graph.orderSequenceEdges(spark, dir).collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1))))
      .distinct
    val deg = (d0.map(_._1) ++ d0.map(_._2)).groupBy(identity).view.mapValues(_.length).toMap
    // assortativity m equals the canonical edge count; sum identity holds
    val a = ops.Graph.graphDegreeAssortativity(spark, dir).collect().head
    assert(a.getLong(0) === d0.length.toLong)
    assert(a.getLong(2) === d0.map { case (u, v) => deg(u).toLong + deg(v) }.sum)
    // clustering bins partition the deg>=2 nodes; wedge mass matches
    val bins = ops.Graph.graphClusteringLocal(spark, dir).collect()
    val deg2 = deg.filter(_._2 >= 2)
    assert(bins.map(_.getLong(1)).sum === deg2.size.toLong)
    assert(bins.map(_.getLong(3)).sum ===
      deg2.values.map(d => d.toLong * (d - 1)).sum)
  }

  test("k-truss peel: crafted graph — pendants and bridges dissolve, shared edges carry support 2") {
    import spark.implicits._
    // triangle {1,2,3} + triangle {3,4,5} sharing node 3, bridged by
    // edge (3,6) to pendant path 6-7; second component: two triangles
    // {10,11,12} and {11,12,13} SHARING EDGE (11,12)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (3L, 5L), (4L, 5L),
      (3L, 6L), (6L, 7L),
      (10L, 11L), (10L, 12L), (11L, 12L), (11L, 13L), (12L, 13L))
      .toDF("u", "v").localCheckpoint()
    val got = ops.Graph.trussEdges(edges, minSupp = 1L, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // bridge (3,6) and pendant (6,7) peel; all triangle edges survive
    assert(!got.contains((3L, 6L)) && !got.contains((6L, 7L)))
    assert(got.keySet === Set((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (3L, 5L),
      (4L, 5L), (10L, 11L), (10L, 12L), (11L, 12L), (11L, 13L), (12L, 13L)))
    // the shared edge closes both triangles; every other edge one
    assert(got((11L, 12L)) === 2L)
    (got - ((11L, 12L))).foreach { case (e, s) => assert(s === 1L, s"edge $e") }
    // k=4 (minSupp 2) keeps NOTHING here: peeling (11,13)/(12,13)/
    // (10,11)/(10,12) in round 1 strips (11,12)'s support in round 2
    val k4 = ops.Graph.trussEdges(edges, minSupp = 2L, rounds = 2).collect()
    assert(k4.isEmpty, k4.mkString(","))
  }

  test("graph_harmonic_bounded: driver-side per-seed BFS replay; histogram consistent") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val dir0 = ops.Graph.orderSequenceEdges(spark, dir)
    val edges = dir0.union(dir0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = edges.groupBy(_._1).map { case (k, g) => k -> g.map(_._2).toSet }
    val seeds = adj.keySet.filter(_ % 389 == 0)
    def bfs(seed: Long): Map[Long, Int] = {
      var dist = Map(seed -> 0)
      var frontier = Set(seed)
      for (h <- 1 to 3) {
        val nxt = frontier.flatMap(n => adj.getOrElse(n, Set.empty))
          .filterNot(dist.contains)
        nxt.foreach(n => dist += n -> h)
        frontier = nxt
      }
      dist
    }
    val got = ops.Graph.graphHarmonicBounded(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got.keySet === seeds)
    seeds.foreach { s =>
      val d = bfs(s)
      val (n1, n2, n3) = (d.count(_._2 == 1).toLong, d.count(_._2 == 2).toLong,
        d.count(_._2 == 3).toLong)
      assert(got(s) === ((n1, n2, n3, 6 * n1 + 3 * n2 + 2 * n3)), s"seed $s")
    }
  }

  test("harmonic dispatch parity: broadcast and shuffle join forms are row-identical (exact BFS)") {
    // the shipped key broadcasts the frontier below the row gate,
    // leaving the shuffle form (the many-seeds regime) unreachable at
    // spec scale — force both and pin EXACT equality (integer BFS,
    // no sketch tolerance)
    val edges = ops.Graph.undirectedBothEdges(spark, "/root/testdata/sf0.001")
    val bc = ops.Graph.harmonicLoop(edges, Long.MaxValue).collect().toSeq
    val sh = ops.Graph.harmonicLoop(edges, 0L).collect().toSeq
    assert(bc.nonEmpty && bc === sh)
  }

  test("hyperball dispatch parity: the broadcast and shuffle branches agree within register error") {
    // The shipped key takes the broadcast branch below the 2M-node
    // gate, leaving the shuffle branch (the 10⁹-node regime) spec-
    // unreachable — force BOTH through the factored loop and pin
    // parity. NOT exact equality: DataSketches HLL union results are
    // merge-order-sensitive at mid-density (measured ~0.2 % between
    // forms at sf0.1 — BASELINE.md r18 HyperBall row), so the gate is hop-0
    // exact + every hop within 1 % (rse at lgK 10 is 3.25 %).
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val edges = ops.Graph.undirectedBothEdges(spark, dir)
    val nodes = edges.select(col("src").as("node")).distinct()
    val bc = ops.Graph.hyperballLoop(edges, nodes, Long.MaxValue)
    val sh = ops.Graph.hyperballLoop(edges, nodes, 0L)
    assert(bc.map(_.getLong(0)) === Seq(0L, 1L, 2L, 3L))
    assert(bc.head === sh.head, "hop 0 is exact in both forms")
    for ((b, s) <- bc.zip(sh); i <- 1 to 4) {
      val (vb, vs) = (b.getLong(i), s.getLong(i))
      assert(math.abs(vb - vs) <= math.max(1.0, 0.01 * vb),
        s"hop ${b.getLong(0)} col $i: broadcast $vb vs shuffle $vs")
    }
  }

  test("hyperball broadcast-failure fallback: restarts from the seed and equals the shuffle form exactly") {
    // r19 verdict item 5: the catch path (Graph.hyperballLoop) is
    // correctness-critical when it fires — a half-updated register
    // frame must not leak into hop rows. The verdict's "injected
    // throwing build": spark.sql.broadcastTimeout=0 does NOT fail
    // under AQE (broadcast stages materialize on AQE's own future —
    // measured this round, the conf-based form of this spec passed
    // vacuously-inverted), so inject a broadcast wrapper that
    // completes round 1 and throws on round 2 — rows/reg are then
    // genuinely mid-state (hop-1 register live, two hop rows
    // collected) when the catch fires. The message names "broadcast",
    // matching the narrowed trigger. Expected rows are the PURE
    // shuffle form (gate = 0): the restart drops every row past hop 0
    // and recomputes hops 1-3 via the identical shuffleRounds code
    // under the same confs, so equality is EXACT (no HLL merge-order
    // tolerance — hop 0 is seed-deterministic in both legs).
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val edges = ops.Graph.undirectedBothEdges(spark, dir)
    val nodes = edges.select(col("src").as("node")).distinct()
    val expected = ops.Graph.hyperballLoop(edges, nodes, 0L)
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val failing: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df =>
        if (calls.incrementAndGet() == 2)
          throw new org.apache.spark.SparkException(
            "injected: could not build and broadcast the register relation")
        else broadcast(df)
    val baos = new java.io.ByteArrayOutputStream()
    val realErr = System.err
    System.setErr(new java.io.PrintStream(baos, true))
    val got = try ops.Graph.hyperballLoop(edges, nodes, Long.MaxValue, failing)
      finally System.setErr(realErr)
    // round 1 ran under the broadcast form, round 2 threw ...
    assert(calls.get() === 2, s"broadcast wrapper called ${calls.get()} times")
    // ... the fallback fired (not a vacuous pass) ...
    assert(baos.toString.contains("retrying via the shuffle form"), baos.toString)
    // ... and the restart recomputed every hop row exactly
    assert(got === expected)
    assert(got.map(_.getLong(0)) === Seq(0L, 1L, 2L, 3L))
  }

  test("graph_hyperball_reach: hop-0 exact, monotone, within 5σ of the exact BFS reach sums") {
    val dir = "/root/testdata/sf0.001"
    val rows = ops.Graph.graphHyperballReach(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.map(_._1).toSeq === Seq(0L, 1L, 2L, 3L))
    val n = rows.head._2
    // hop 0: every register holds exactly its own node — estimate exact
    assert(rows.head._3 === n && rows.head._4 === 1L && rows.head._5 === 1L)
    // monotone neighborhood function
    assert(rows.sliding(2).forall(p => p(1)._3 >= p(0)._3))
    // exact reach sums via driver BFS from EVERY node
    val d0 = ops.Graph.orderSequenceEdges(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = (d0 ++ d0.map(_.swap)).distinct.groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val exact = Array.fill(4)(0L)
    adj.keys.foreach { s =>
      var dist = Set(s); var frontier = Set(s)
      exact(0) += 1
      for (h <- 1 to 3) {
        val nxt = frontier.flatMap(adj.getOrElse(_, Set.empty)).diff(dist)
        dist ++= nxt; frontier = nxt
        exact(h) += dist.size
      }
    }
    // lgK=10 (the r13 suite-headroom setting — r12 verdict item 1b)
    // → rse ≈ 1.04/√2¹⁰ ≈ 3.25 %; per-node errors are not
    // independent but 16 % (5σ) on the SUM is a conservative gate
    rows.foreach { case (h, _, sumEst, _, _) =>
      val ex = exact(h.toInt)
      assert(math.abs(sumEst - ex).toDouble <= math.max(3.0, 0.16 * ex),
        s"hop $h: est $sumEst vs exact $ex")
    }
  }
}
