package graft

/** ops.Llm.connectedComponents: min-id label propagation closure over
  * near-dup pair sets — exactness vs union-find, convergence bounds,
  * idempotence.
  */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def cc(pairs: Seq[(Long, Long)], maxRounds: Int = 20,
      localThreshold: Long = 100000L): Map[Long, Long] =
    ops.Llm.connectedComponents(pairs.toDF("a_id", "b_id"), maxRounds, localThreshold)
      .as[(Long, Long)].collect().toMap

  /** Reference union-find, no Spark. */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    // iterative (mirrors the main-path fix): recursion depth would be
    // chain length under union-by-min on adversarially ordered edges
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrElseUpdate(root, root) != root) root = parent(root)
      var cur = x
      while (cur != root) { val next = parent(cur); parent(cur) = root; cur = next }
      root
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("chain, pair, and triangle resolve to min-id components") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L), (10L, 11L), (11L, 12L), (10L, 12L))
    val got = cc(pairs)
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      7L -> 7L, 8L -> 7L, 10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("matches union-find on random graphs") {
    val rnd = new scala.util.Random(3)
    for (trial <- 1 to 3) {
      val n = 60
      val pairs = Seq.fill(50)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      assert(cc(pairs) === unionFind(pairs), s"trial $trial")
      assert(cc(pairs, localThreshold = 0L) === unionFind(pairs), s"trial $trial (distributed)")
    }
  }

  test("distributed contraction path (threshold 0) matches the local endgame; extra rounds change nothing") {
    // path graph of diameter 23 — worst case for round counts; with
    // localThreshold=0 the star-contraction loop must do ALL the work
    // distributed (the endgame sees an empty or tiny residual edge set)
    val chain = (0L until 23L).map(i => (i, i + 1))
    val expected = chain.flatMap(p => Seq(p._1, p._2)).distinct.map(_ -> 0L).toMap
    val distributed = cc(chain, localThreshold = 0L)
    assert(distributed === expected)
    assert(cc(chain) === expected)
    // no growth after the fixpoint: raising the round bound changes nothing
    assert(cc(chain, maxRounds = 40, localThreshold = 0L) === distributed)
  }

  test("exhausting the round bound refuses rather than returning a partial closure") {
    // maxRounds=1 on a long chain cannot reach the star fixpoint; with
    // localThreshold=0 the local endgame is unavailable too
    val chain = (0L until 30L).map(i => (i, i + 1))
    val ex = intercept[IllegalStateException] {
      cc(chain, maxRounds = 1, localThreshold = 0L)
    }
    assert(ex.getMessage.contains("no fixpoint"))
  }

  test("endgame survives a 100k-edge descending chain (deep union-find path)") {
    // (i, i+1) processed in descending i builds the worst-case parent
    // chain under union-by-min: every union links a fresh root onto the
    // chain head, so the final roots pass starts with a find() that must
    // walk ~100k parents. A recursive find overflows the default JVM
    // stack here; the iterative loop-and-compress form must not.
    val n = 100000L
    val chain = (0L until n).map(i => (i, i + 1)).reverse
    val got = cc(chain) // 100k edges == localThreshold → local endgame
    assert(got.size === n + 1)
    assert(got.values.forall(_ == 0L))
  }

  test("idempotence: components of the component assignment are the assignment") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (9L, 1L))
    val first = cc(pairs)
    // feed (id, component) back in as edges — star graphs centered on
    // each component root; closure must reproduce the same labeling
    val again = cc(first.toSeq.filter { case (id, c) => id != c })
    // every component here is multi-member, so each root re-appears on
    // the b-side of some star edge and the node sets coincide exactly
    assert(again === first)
  }

  test("query key: components over the cosine-threshold pairs at sf0.001") {
    val pairs = ops.Llm.simPairwiseThreshold(spark, "/root/testdata/sf0.001")
      .select("a_id", "b_id").as[(Long, Long)].collect().toSeq
    val got = ops.Llm.dedupConnectedComponents(spark, "/root/testdata/sf0.001")
      .as[(Long, Long)].collect().toMap
    assert(got === unionFind(pairs))
  }
}
