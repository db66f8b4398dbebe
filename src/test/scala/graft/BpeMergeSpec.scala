package graft

/** ops.Bpe: k-round left-greedy BPE merge training. The planted
  * "aaa" fixtures pin the overlap semantics (left-greedy keeps EVEN
  * offsets within a run of consecutive matches); the randomized test
  * checks the full k-round pipeline against an independent
  * driver-side reference implementation of the textbook scan.
  */
class BpeMergeSpec extends SparkSpec {
  import spark.implicits._

  private def docsDf(docs: Seq[String]) =
    docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  private def run(docs: Seq[String], k: Int): Map[String, (String, Long, Long)] =
    ops.Bpe.mergeRounds(docsDf(docs), k)
      .as[(String, String, Long, Long)].collect()
      .map { case (w, m, n, c) => w -> ((m, n, c)) }.toMap

  // ---- reference model: textbook left-to-right scan, no Spark ----

  private def refApply(syms: Vector[String], a: String, b: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  private def refRounds(wordCounts: Map[String, Long], k: Int,
      minCount: Long = 1L): Map[String, Vector[String]] = {
    var st = wordCounts.keys.map(w => w -> w.map(_.toString).toVector).toMap
    (0 until k).foreach { _ =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
      st.foreach { case (w, syms) =>
        (0 until syms.length - 1).foreach { i =>
          counts((syms(i), syms(i + 1))) += wordCounts(w)
        }
      }
      val eligible = counts.filter(_._2 >= minCount)
      if (eligible.nonEmpty) {
        val ((a, b), _) = eligible.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
        st = st.map { case (w, syms) => w -> refApply(syms, a, b) }
      }
    }
    st
  }

  test("planted aaa overlap: left-greedy keeps even offsets in a run") {
    // (a,a) dominates every other pair; one round must merge it
    // left-greedily: aaa → [aa, a], aaaa → [aa, aa], aaaaa → [aa, aa, a]
    val got = run(Seq("aaa aaaa aaaaa", "aaa aaaa aaaaa"), 1)
    assert(got("aaa")._1 === "aa a")
    assert(got("aaaa")._1 === "aa aa")
    assert(got("aaaaa")._1 === "aa aa a")
    assert(got("aaa")._2 === 2L && got("aaaaa")._2 === 3L)
    assert(got("aaa")._3 === 2L) // n_occ: appears once per doc
  }

  test("rule argmax tie-break is lexicographic on the pair") {
    // (a,b) and (c,d) both count 3 → lex-smaller (a,b) wins round 1
    val got = run(Seq("ab cd ab cd ab cd"), 1)
    assert(got("ab")._1 === "ab")
    assert(got("cd")._1 === "c d")
  }

  test("later rounds merge earlier products with raw symbols") {
    // round 1: (a,b) ties (b,c), lex → "ab"; round 2: (ab,c) → "abc"
    val got = run(Seq("abc abc abc"), 2)
    assert(got("abc")._1 === "abc")
    assert(got("abc")._2 === 1L)
  }

  test("exhausted vocabulary is a no-op round, not an empty result") {
    // all words single-char: no pairs exist in any round
    val got = run(Seq("a b c a b a"), 3)
    assert(got === Map(
      "a" -> (("a", 1L, 3L)), "b" -> (("b", 1L, 2L)), "c" -> (("c", 1L, 1L))))
  }

  test("count-threshold stopping: sub-threshold rounds are no-ops") {
    // (a,b) count 4 >= 3 merges in round 1; afterwards every pair
    // count is < 3, so rounds 2..5 must leave the state untouched
    val docs = Seq("ab ab ab ab xy")
    val got = ops.Bpe.mergeRounds(docsDf(docs), 5, minCount = 3L)
      .as[(String, String, Long, Long)].collect()
      .map { case (w, m, n, c) => w -> ((m, n, c)) }.toMap
    assert(got("ab")._1 === "ab")
    assert(got("xy")._1 === "x y") // (x,y) count 1 < 3: never merged
  }

  test("k=8 threshold-stopped matches the reference on a randomized corpus") {
    val rnd = new scala.util.Random(99)
    val words = Seq.fill(60)((1 to (1 + rnd.nextInt(6)))
      .map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
    // plus an early stop: minCount 3 binds after one round ("aa"
    // repeats, the rest is noise), so the loop must exit at k 10 with
    // the one live rule applied
    val inputs = Seq(
      (words.grouped(10).map(_.mkString(" ")).toSeq, 8, 5L),
      (Seq("aa aa aa aa", "aa ab ba", "cd ce"), 10, 3L))
    inputs.foreach { case (docs, k, minCount) =>
      val wordCounts = docs.flatMap(_.split(" ")).groupBy(identity)
        .map { case (w, g) => w -> g.size.toLong }
      val expect = refRounds(wordCounts, k, minCount)
      val got = ops.Bpe.mergeRounds(docsDf(docs), k, minCount)
        .as[(String, String, Long, Long)].collect()
        .map { case (w, m, _, _) => w -> m }.toMap
      assert(got.keySet === expect.keySet)
      expect.foreach { case (w, syms) =>
        assert(got(w) === syms.mkString(" "), s"word $w (k $k, minCount $minCount)")
      }
    }
  }

  test("rules table: one row per executed round, threshold truncates the table") {
    // round 1 merges (a,b) count 4; no later pair reaches 3 → exactly
    // one rule row, at round 0
    val rules = ops.Bpe.rulesTable(docsDf(Seq("ab ab ab ab xy")), 5, 3L)
      .as[(Int, String, String, Long)].collect()
    assert(rules.toSeq === Seq((0, "a", "b", 4L)))
    // unthresholded on the same corpus: round 0 merges (a,b), round 1
    // merges (x,y), round 2 finds an EXHAUSTED vocabulary (every word
    // one symbol) and emits no row — the table length is the
    // effective depth
    val all = ops.Bpe.rulesTable(docsDf(Seq("ab ab ab ab xy")), 3, 1L)
      .as[(Int, String, String, Long)].collect()
    assert(all.toSeq === Seq((0, "a", "b", 4L), (1, "x", "y", 1L)))
  }

  test("tokenize: per-doc BPE token count sits between word and char counts") {
    val rows = ops.Bpe.textBpeTokenize(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (d, nw, nb, nc, r) =>
      // each word is >= 1 token; each token is >= 1 char
      assert(nb >= nw && nb <= nc, s"doc $d: words=$nw bpe=$nb chars=$nc")
      assert(math.abs(r - nc.toDouble / nb.toDouble) < 1e-12, s"doc $d ratio")
    }
  }

  test("driver-measured training equals the in-plan form under an early stop") {
    // corpus where minCount=3 binds after ~1 round: "aa" repeats, the
    // rest is noise — the driver loop must exit early yet land on the
    // exact vocabulary and rule table of the in-plan form, which plans
    // all k rounds and lets a sub-threshold round no-op instead of
    // ending the loop (rebuilt here from bestRule + applyRules)
    val docs = Seq("aa aa aa aa", "aa ab ba", "cd ce")
    val (inPlanState, rulesIn) = (0 until 10).foldLeft(
        (ops.Bpe.vocab(docsDf(docs)), Seq.empty[(Int, String, String, Long)])) {
      case ((st, rules), _) =>
        ops.Bpe.bestRule(st, 3L).select("pa", "pb", "pc")
          .as[(String, String, Long)].collect().headOption match {
          case Some((pa, pb, pc)) =>
            (ops.Bpe.applyRules(st, Seq((pa, pb))), rules :+ ((rules.length, pa, pb, pc)))
          case None => (st, rules)
        }
    }
    val inPlan = inPlanState
      .select("w", "syms", "cnt").as[(String, Seq[String], Long)].collect().toSet
    val driver = ops.Bpe.mergeRounds(docsDf(docs), 10, 3L)
      .as[(String, String, Long, Long)].collect()
      .map { case (w, m, _, c) => (w, m.split(" ").toSeq, c) }.toSet
    assert(driver === inPlan)
    assert(inPlan.contains(("aa", Seq("aa"), 5L))) // the one live rule fired
    // and the rule TABLE forms agree under the same early stop
    val rulesDr = ops.Bpe.rulesTable(docsDf(docs), 10, 3L)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(rulesDr === rulesIn)
    assert(rulesIn.head === ((0, "a", "a", 5L)))
  }

  test("applyRules: ordered left-greedy transfer to a foreign vocabulary") {
    // rules learned elsewhere, applied in order: (a,a) then (aa,a)
    val target = Seq((1L, "aaa aaaa ab"))
    val got = ops.Bpe.applyRules(
      ops.Bpe.vocab(docsDf(target.map(_._2))),
      Seq(("a", "a"), ("aa", "a")))
      .select("w", "syms").as[(String, Seq[String])].collect().toMap
    // aaa: (a,a) left-greedy → [aa, a]; then (aa,a) → [aaa]
    assert(got("aaa") === Seq("aaa"))
    // aaaa: (a,a) → [aa, aa]; (aa,a) finds no match → stays
    assert(got("aaaa") === Seq("aa", "aa"))
    // ab: untouched by both rules
    assert(got("ab") === Seq("a", "b"))
  }

  test("fertility: per-lang cells reconcile exactly with the per-doc tokenize rollup") {
    // the fertility relation is the per-lang marginal of the per-doc
    // tokenize stats under the SAME trained tokenizer — summing
    // textBpeTokenize's cells through the doc→lang map must reproduce
    // every integer cell exactly (cross-key conservation), and the
    // ratio invariants bound the floats
    val dir = "/root/testdata/sf0.001"
    val fert = ops.Bpe.textBpeFertility(spark, dir)
      .as[(String, Long, Long, Long, Double, Double)].collect()
    assert(fert.nonEmpty)
    val docLang = io.Readers.table(spark, dir, "documents")
      .select("doc_id", "lang")
    val rolled = ops.Bpe.textBpeTokenize(spark, dir)
      .join(docLang, "doc_id")
      .groupBy("lang")
      .agg(org.apache.spark.sql.functions.sum("n_words").as("w"),
        org.apache.spark.sql.functions.sum("n_bpe_tokens").as("t"),
        org.apache.spark.sql.functions.sum("n_chars").as("c"))
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(fert.map(_._1).toSet === rolled.keySet)
    fert.foreach { case (lang, nw, nt, nc, f, cpt) =>
      assert((nw, nt, nc) === rolled(lang), s"lang $lang cells")
      // each word >= 1 token, each token >= 1 char → 1 <= f, cpt >= 1
      assert(nt >= nw && nc >= nt, s"lang $lang ordering")
      assert(math.abs(f - nt.toDouble / nw.toDouble) === 0.0, s"lang $lang fertility")
      assert(math.abs(cpt - nc.toDouble / nt.toDouble) === 0.0, s"lang $lang cpt")
    }
  }

  test("k=3 rounds match the reference scan on a randomized corpus") {
    val rnd = new scala.util.Random(42)
    val words = Seq.fill(40)((1 to (1 + rnd.nextInt(7)))
      .map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
    val docs = words.grouped(8).map(_.mkString(" ")).toSeq
    val wordCounts = words.groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    val expect = refRounds(wordCounts, 3)
    val got = run(docs, 3)
    assert(got.keySet === expect.keySet)
    expect.foreach { case (w, syms) =>
      assert(got(w)._1 === syms.mkString(" "), s"word $w")
      assert(got(w)._2 === syms.length.toLong, s"word $w n_syms")
      assert(got(w)._3 === wordCounts(w), s"word $w n_occ")
    }
  }
}
