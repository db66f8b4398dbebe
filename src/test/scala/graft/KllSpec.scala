package graft

/** ops.Udx KLL quantile sketch — the certified-bound property family
  * (the CountMin spec pattern, SURVEY §7.4: approx/seeded → no DuckDB
  * oracle; the guarantees ARE the correctness statement):
  *   1. the sketch's self-carried errBound is honored by every rank
  *      query over the full value set,
  *   2. errBound itself stays under the analytic n·(log₂(n/k)+2)/k,
  *   3. both hold regardless of partitioning (1/7/32) and merge
  *      association,
  *   4. total weight is conserved exactly (quantile targets can't
  *      drift), and
  *   5. the registered query emits monotone estimates that bracket
  *      the exact percentiles within the certified bound.
  */
class KllSpec extends SparkSpec {
  import spark.implicits._

  private val k = 256

  /** Deterministic lognormal-ish corpus: heavy right tail, so level
    * compaction actually exercises wide value ranges.
    */
  private def values(n: Int, seed: Int = 42): Array[Double] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(n)(math.exp(rnd.nextGaussian() * 1.5))
  }

  /** True rank (weight strictly below x) in a sorted array. */
  private def trueRank(sorted: Array[Double], x: Double): Long = {
    var lo = 0; var hi = sorted.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (sorted(mid) < x) lo = mid + 1 else hi = mid
    }
    lo.toLong
  }

  private def assertCertified(sk: ops.Udx.KllBuf, sorted: Array[Double],
      label: String): Unit = {
    assert(sk.n === sorted.length.toLong, s"$label: n must be exact")
    // weight conservation: Σ 2^i·|level_i| == n
    val w = sk.levels.zipWithIndex.map { case (l, i) => l.size.toLong << i }.sum
    assert(w === sk.n, s"$label: total weight $w must equal n ${sk.n}")
    // the analytic bound on the certificate itself
    val analytic = sk.n * (math.log(sk.n.toDouble / k) / math.log(2) + 2) / k
    assert(sk.errBound <= analytic,
      s"$label: errBound ${sk.errBound} exceeds analytic ${analytic.toLong}")
    // every stored item's estimated rank is within the certificate
    // (probing stored items covers the whole CDF the sketch can emit)
    sk.levels.flatten.foreach { x =>
      val est = sk.rankOf(x)
      val tru = trueRank(sorted, x)
      assert(math.abs(est - tru) <= sk.errBound,
        s"$label: rank of $x off by ${math.abs(est - tru)} > certified ${sk.errBound}")
    }
    // and quantile answers land within errBound ranks of their target
    (1 to 99).map(_ / 100.0).foreach { q =>
      val v = sk.quantile(q)
      val target = math.max(1L, math.ceil(q * sk.n).toLong)
      val tru = trueRank(sorted, v)
      // v's true rank window is [rank(v), rank(v) + multiplicity]
      assert(tru - sk.errBound <= target,
        s"$label: q=$q answer $v true-rank $tru above target $target + bound")
      val upper = sorted.count(_ <= v).toLong
      assert(upper + sk.errBound >= target,
        s"$label: q=$q answer $v true-upper-rank $upper below target $target - bound")
    }
  }

  test("certified error bound holds under 1/7/32-partition layouts") {
    val vs = values(100000)
    val sorted = vs.sorted
    Seq(1, 7, 32).foreach { parts =>
      val sk = ops.Udx.kllSketch(
        vs.toSeq.toDF("v").repartition(parts), k)
      assertCertified(sk, sorted, s"parts=$parts")
    }
  }

  test("merge is association-insensitive w.r.t. the certificate; weights stay exact") {
    val a = values(30000, seed = 1)
    val b = values(30000, seed = 2)
    val c = values(30000, seed = 3)
    val all = (a ++ b ++ c).sorted
    def sk(xs: Array[Double]) = {
      val s = new ops.Udx.KllBuf(k); xs.foreach(s.update); s
    }
    val left = sk(a).mergeWith(sk(b)).mergeWith(sk(c))   // (A+B)+C
    val right = sk(a).mergeWith(sk(b).mergeWith(sk(c)))  // A+(B+C)
    assertCertified(left, all, "left-assoc")
    assertCertified(right, all, "right-assoc")
  }

  test("tiny and degenerate inputs: n<k stays exact, constant column answers exactly") {
    val small = Array(3.0, 1.0, 2.0)
    val s1 = new ops.Udx.KllBuf(k)
    small.foreach(s1.update)
    assert(s1.errBound === 0L, "no compaction below k → exact")
    assert(s1.quantile(0.5) === 2.0)
    assert(s1.quantile(0.0) === 1.0 && s1.quantile(1.0) === 3.0)
    val const = new ops.Udx.KllBuf(16)
    (1 to 5000).foreach(_ => const.update(7.5))
    (1 to 99).foreach(i => assert(const.quantile(i / 100.0) === 7.5,
      "a constant column must answer exactly at every rank"))
  }

  test("agg_kll_quantiles emits monotone estimates bracketing the exact percentiles") {
    val out = ops.Udx.aggKllQuantiles(spark, "/root/testdata/sf0.001")
      .as[(Double, Double, Double, Double)].collect()
    assert(out.length === 7)
    val ests = out.map(_._2)
    assert(ests.zip(ests.tail).forall { case (x, y) => x <= y },
      s"quantile estimates must be monotone: ${ests.toSeq}")
    // est within the certified rank bound of the exact percentile:
    // translate the rank epsilon to a value window via the exact CDF
    val vals = io.Readers.table(spark, "/root/testdata/sf0.001", "events")
      .select("value").as[Double].collect().sorted
    val n = vals.length
    out.foreach { case (q, est, _, eps) =>
      val target = math.max(1L, math.ceil(q * n).toLong)
      val slack = math.ceil(eps * n).toLong + 1
      val lo = vals(((target - slack).max(1) - 1).toInt)
      val hi = vals(((target + slack).min(n) - 1).toInt)
      assert(est >= lo && est <= hi,
        s"q=$q est $est outside certified window [$lo, $hi]")
    }
  }
}
