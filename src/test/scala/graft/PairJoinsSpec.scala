package graft

import org.apache.spark.sql.DataFrame

import graft.ops.PairJoins

/** The n-gram near-dup pipeline's above-switch candidate generators,
  * driven directly: the gate corpora sit far under
  * [[PairJoins.BandedPairVolume]], so the dispatch never picks them
  * there.
  */
class PairJoinsSpec extends SparkSpec {
  import spark.implicits._

  private def toks(tag: String, n: Int): Seq[String] = (0 until n).map(j => s"$tag$j")

  /** 30 planted near-dup pairs (J = 35/40, containment 35/36), 200
    * background docs drawn from one small shared vocabulary, and one
    * quote pair: a 10-token doc embedded verbatim in a 100-token doc
    * (9 vs 99 bigrams — size ratio 11, containment 1.0, J ≈ 0.09).
    */
  private lazy val docs: DataFrame = {
    val planted = (0 until 30).flatMap { i =>
      val t = toks(s"p${i}x", 40)
      Seq((2L * i, "en", t.mkString(" ")),
        (2L * i + 1, "en", (t.take(36) :+ s"u$i").mkString(" ")))
    }
    val rnd = new scala.util.Random(7)
    val background = (0 until 200).map { j =>
      (1000L + j, "en", Seq.fill(30)(s"v${rnd.nextInt(60)}").mkString(" "))
    }
    val big = toks("q", 100)
    val quote = Seq((5000L, "en", big.slice(40, 50).mkString(" ")),
      (5001L, "en", big.mkString(" ")))
    (planted ++ background ++ quote).toDF("doc_id", "lang", "text")
  }
  private val plantedPairs = (0 until 30).map(i => (2L * i, 2L * i + 1)).toSet
  private val quotePair = (5000L, 5001L)

  private lazy val d = PairJoins.bigramDocs(docs)

  /** Every in-lang pair (a < b) whose exact score reaches `tau`. */
  private def bruteForce(score: (Int, Int, Int) => Double, tau: Double): Set[(Long, Long)] = {
    val sets = d.select("doc_id", "lang", "grams").as[(Long, String, Seq[String])]
      .collect().map { case (id, l, g) => (id, l, g.toSet) }
    (for {
      (a, la, ga) <- sets; (b, lb, gb) <- sets
      if a < b && la == lb && score((ga & gb).size, ga.size, gb.size) >= tau
    } yield (a, b)).toSet
  }

  private def pairsOf(df: DataFrame): Set[(Long, Long)] =
    df.select("a_id", "b_id").as[(Long, Long)].collect().toSet

  test("verified banded jaccard candidates are a brute-force subset holding the planted pairs") {
    val m = PairJoins.Jaccard
    val truth = bruteForce((sh, a, b) => sh.toDouble / (a + b - sh), m.tau)
    val got = pairsOf(PairJoins.verified(PairJoins.bandedCandidates(d, m), d, m))
    assert(plantedPairs.subsetOf(truth), "planted pairs must clear τ")
    assert(got.subsetOf(truth), s"extra=${(got -- truth).take(3)}")
    assert(plantedPairs.subsetOf(got), s"missing=${(plantedPairs -- got).take(3)}")
  }

  test("banded containment holds the planted pairs; the small-side supplement finds the ratio-11 quote") {
    val m = PairJoins.Containment
    val truth = bruteForce((sh, a, b) => sh.toDouble / math.min(a, b), m.tau)
    assert((plantedPairs + quotePair).subsetOf(truth), "planted pairs must clear τ")
    val banded = pairsOf(PairJoins.verified(PairJoins.bandedCandidates(d, m), d, m))
    assert(banded.subsetOf(truth), s"extra=${(banded -- truth).take(3)}")
    assert(plantedPairs.subsetOf(banded), s"missing=${(plantedPairs -- banded).take(3)}")

    val inv = PairJoins.gramIndex(d)
    val small = pairsOf(PairJoins.verified(
      PairJoins.smallSideCandidates(d, inv, PairJoins.SmallSideGrams, m), d, m))
    assert(small.subsetOf(truth), s"extra=${(small -- truth).take(3)}")
    assert(small.contains(quotePair), s"small-side supplement missed the quote: $small")
    // every doc of the fixture is under the cap, so the supplement
    // alone is lossless here
    assert(small == truth, s"missing=${(truth -- small).take(3)}")
  }
}
