package graft

import org.apache.spark.sql.functions._

import graft.functions.NumericExpressions
import graft.functions.NumericExpressions.log2Fixed

/** The information-theory family (round 9): the fixed-point log2
  * kernel itself, and semantic guards that the entropy / Zipf /
  * Adamic-Adar keys agree with plain double-precision references —
  * the CORRECTNESS gate proves both engines compute the same
  * integers; these specs prove the integers mean what they claim.
  */
class InfoTheorySpec extends SparkSpec {
  import spark.implicits._

  private val F = 1 << 20

  test("log2_fixed: |fixed/2^20 - log2 c| < 3e-6, exhaustive small + edges + random") {
    val edge = (1 to 62).flatMap(j => Seq((1L << j) - 1, 1L << j, (1L << j) + 1))
      .filter(_ > 0)
    val rnd = new scala.util.Random(42)
    val rand = Seq.fill(20000)(math.abs(rnd.nextLong()) % ((1L << 62) - 1) + 1)
    val all = ((1L to 100000L) ++ edge ++ rand).distinct
    all.foreach { c =>
      val got = NumericExpressions.log2FixedJ(c).toDouble / F
      val want = math.log(c.toDouble) / math.log(2.0)
      assert(math.abs(got - want) < 3e-6, s"c=$c got=$got want=$want")
    }
    // exact at powers of two: log2(2^j) = j with zero fraction
    (0 to 62).foreach { j =>
      assert(NumericExpressions.log2FixedJ(1L << j) === j.toLong << 20)
    }
  }

  test("log2_fixed via codegen (DataFrame path) matches the kernel; <=0 and null -> null") {
    val vals = Seq[java.lang.Long](1L, 2L, 3L, 1000L, 1L << 45, 0L, -7L, null)
    val df = vals.map(Option(_).map(Long2long)).toDF("c")
    val got = df.select(col("c"), log2Fixed(col("c")).as("l")).collect()
      .map(r => (if (r.isNullAt(0)) null else r.getLong(0)) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got(1L) === Some(0L))
    assert(got(2L) === Some(1L << 20))
    assert(got(1000L) === Some(NumericExpressions.log2FixedJ(1000L)))
    assert(got(1L << 45) === Some(45L << 20))
    assert(got(0L) === None)
    assert(got(-7L) === None)
    assert(got(null) === None)
    assert(got(3L) === Some(NumericExpressions.log2FixedJ(3L)))
  }

  test("exp2_fixed: within 1.5 output-ulp + 1e-9 relative; exact at integers") {
    val rnd = new scala.util.Random(7)
    val rand = Seq.fill(20000)(math.abs(rnd.nextLong()) % (43L << 20))
    val edges = (0 to 42).flatMap(e =>
      Seq(e.toLong << 20, (e.toLong << 20) + 1, (e.toLong << 20) + 0xFFFFFL))
      .filter(_ < (43L << 20))
    (rand ++ edges).distinct.foreach { x =>
      val got = NumericExpressions.exp2FixedJ(x).toDouble / F
      val want = math.pow(2.0, x.toDouble / F)
      // error budget: floor-quantization to 2^-20 (< 1 ulp, the
      // dominant term for small outputs) + mantissa truncation/
      // constant rounding (< 1e-9 relative, dominant for e >= 20
      // where the ulp is scaled up by the final left shift)
      assert(math.abs(got - want) < 1.5 / F + want * 1e-9,
        s"x=$x got=$got want=$want")
    }
    // exact at integer exponents: 2^e with zero fraction
    (0 to 42).foreach { e =>
      assert(NumericExpressions.exp2FixedJ(e.toLong << 20) === (1L << e) << 20
        || e >= 43, s"e=$e")
    }
  }

  test("exp2_fixed round-trips log2_fixed within fixed-point tolerance") {
    // exp2(log2(c)) must land within a few ulps·c of c — the two
    // kernels' truncations compound but never diverge
    val rnd = new scala.util.Random(11)
    Seq.fill(5000)(math.abs(rnd.nextLong()) % (1L << 40) + 1).foreach { c =>
      val rt = NumericExpressions.exp2FixedJ(
        NumericExpressions.log2FixedJ(c)).toDouble / F
      assert(math.abs(rt - c.toDouble) / c.toDouble < 1e-5, s"c=$c rt=$rt")
    }
  }

  test("exp2_fixed via codegen: domain nulls and kernel agreement") {
    val vals = Seq[java.lang.Long](0L, 1L << 20, (1L << 20) + 12345L,
      42L << 20, 43L << 20, -1L, null)
    val df = vals.map(Option(_).map(Long2long)).toDF("x")
    val got = df.select(col("x"),
      NumericExpressions.exp2Fixed(col("x")).as("e")).collect()
      .map(r => (if (r.isNullAt(0)) null else r.getLong(0)) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got(0L) === Some(1L << 20))
    assert(got(1L << 20) === Some(2L << 20))
    assert(got((1L << 20) + 12345L) ===
      Some(NumericExpressions.exp2FixedJ((1L << 20) + 12345L)))
    assert(got(42L << 20) === Some(1L << 62))
    assert(got(43L << 20) === None) // overflow domain
    assert(got(-1L) === None)
    assert(got(null) === None)
  }

  test("text_perplexity_exact: 1 <= ppl <= n_distinct, tracks 2^H") {
    val rows = ops.InfoTheory.textPerplexityExact(spark, "/root/testdata/sf0.001")
      .select("doc_id", "n_distinct", "perplexity").as[(Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    val ent = ops.InfoTheory.textEntropyExact(spark, "/root/testdata/sf0.001")
      .select("doc_id", "entropy_bits").as[(Long, Double)].collect().toMap
    rows.foreach { case (d, k, p) =>
      assert(p >= 1.0 - 1e-9 && p <= k.toDouble + 1e-6, s"doc $d: ppl=$p k=$k")
      assert(math.abs(p - math.pow(2.0, ent(d))) / p < 1e-5, s"doc $d")
    }
  }

  test("sample_perplexity_temperature: max-weight doc always kept, thresholds in range") {
    val rows = ops.InfoTheory.samplePerplexityTemperature(spark, "/root/testdata/sf0.001")
      .select("doc_id", "w20", "thr").as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (d, w, t) =>
      assert(t >= 1L && t <= 1000000L, s"doc $d thr=$t")
      assert(w >= (1L << 20), s"doc $d w20=$w below 1.0") // ppl >= 1 ⇒ √ppl >= 1
    }
    // the argmax doc has thr = 10^6, which no ppm can reach → present
    val wmax = rows.map(_._2).max
    assert(rows.filter(_._2 == wmax).forall(_._3 == 1000000L))
    // and the kept set is a strict subset of the corpus (gate does gate)
    val total = io.Readers.table(spark, "/root/testdata/sf0.001", "documents")
      .filter(org.apache.spark.sql.functions.trim(col("text")) =!= "").count()
    assert(rows.length < total)
  }

  test("log2_fixed survives whole-stage codegen with fallback disabled") {
    // a janino rejection of the generated code would silently drop the
    // stage to interpreted mode (correct values, 10× cost) — disable
    // the fallback so a compile failure fails THIS test instead
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val r = ops.InfoTheory.textEntropyExact(spark, "/root/testdata/sf0.001")
        .collect()
      assert(r.nonEmpty)
      // and the exp2 consumer path (Exp2Fixed generated code)
      val p = ops.InfoTheory.textPerplexityExact(spark, "/root/testdata/sf0.001")
        .collect()
      assert(p.nonEmpty)
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("text_entropy_exact tracks the double-precision Shannon entropy") {
    val dir = "/root/testdata/sf0.001"
    val fixed = ops.InfoTheory.textEntropyExact(spark, dir)
      .select("doc_id", "entropy_bits").as[(Long, Double)].collect().toMap
    // double reference over the same tokenization
    val ref = io.Readers.table(spark, dir, "documents")
      .select(col("doc_id"), explode(split(
        lower(regexp_replace(trim(col("text")), "\\s+", " ")), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("doc_id", "tok").count()
      .groupBy("doc_id")
      .agg(sum("count").as("n"),
        sum(col("count") * log2(col("count"))).as("scl"))
      .select(col("doc_id"),
        (log2(col("n")) - col("scl") / col("n")).as("h"))
      .as[(Long, Double)].collect().toMap
    assert(fixed.keySet === ref.keySet)
    fixed.foreach { case (id, h) =>
      assert(math.abs(h - ref(id)) < 1e-4, s"doc $id: $h vs ${ref(id)}")
      assert(h >= -1e-9, s"doc $id: negative entropy $h")
    }
  }

  test("entropy bounds: 0 for single-type users, log2 k for uniform") {
    // H in [0, log2 n_types], and a constructed uniform case hits the top
    val rows = ops.InfoTheory.eventsEntropyUser(spark, "/root/testdata/sf0.001")
      .select("n_types", "entropy_bits").as[(Long, Double)].collect()
    rows.foreach { case (k, h) =>
      assert(h >= -1e-9 && h <= math.log(k.toDouble) / math.log(2.0) + 1e-4)
    }
  }

  test("text_vocab_coverage: power-of-two spine + endpoint, monotone mass, agrees with a counted replay") {
    val dir = "/root/testdata/sf0.001"
    val rows = ops.InfoTheory.textVocabCoverage(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // independent tokenization replay, same order as zipf
    val counts = io.Readers.table(spark, dir, "documents")
      .select(col("lang"), explode(split(
        lower(regexp_replace(trim(col("text")), "\\s+", " ")), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("lang", "tok").agg(count(lit(1)).as("cnt"))
      .as[(String, String, Long)].collect()
      .groupBy(_._1).map { case (lang, g) =>
        lang -> g.map(t => (t._3, t._2)).sortBy(t => (-t._1, t._2)).map(_._1)
      }
    assert(rows.map(_._1).toSet === counts.keySet)
    rows.groupBy(_._1).foreach { case (lang, rs) =>
      val sorted = counts(lang)
      val vocab = sorted.length.toLong
      val total = sorted.sum
      // spine: every power of two <= vocab, plus the endpoint exactly once
      val wantKs = Iterator.iterate(1L)(_ * 2).takeWhile(_ <= vocab).toSet + vocab
      assert(rs.map(_._2).toSet === wantKs, s"spine for $lang")
      rs.foreach { case (_, k, cum, tot, vs) =>
        assert(vs === vocab, s"vocab_size $lang")
        assert(tot === total, s"total_cnt $lang")
        assert(cum === sorted.take(k.toInt).sum, s"cum at k=$k $lang")
      }
      // endpoint covers everything; mass is monotone in k
      assert(rs.find(_._2 == vocab).get._3 === total)
      val byK = rs.sortBy(_._2).map(_._3)
      assert(byK.zip(byK.tail).forall { case (a, b) => a <= b }, s"monotone $lang")
    }
  }

  test("text_heaps_curve: prefix counts match a literal prefix replay; endpoint closes the corpus") {
    val dir = "/root/testdata/sf0.001"
    val rows = ops.InfoTheory.textHeapsCurve(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val docs = io.Readers.table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        split(lower(regexp_replace(trim(col("text")), "\\s+", " ")), " "))
      .as[(Long, String, Seq[String])].collect()
      .map { case (id, l, ts) => (id, l, ts.filter(_.nonEmpty)) }
    val byLang = docs.groupBy(_._2).map { case (l, g) => l -> g.sortBy(_._1) }
    assert(rows.map(_._1).toSet === byLang.keySet)
    rows.groupBy(_._1).foreach { case (lang, rs) =>
      val seq = byLang(lang)
      val n = seq.length.toLong
      val wantKs = Iterator.iterate(1L)(_ * 2).takeWhile(_ <= n).toSet + n
      assert(rs.map(_._2).toSet === wantKs, s"spine $lang")
      rs.foreach { case (_, k, vocab, mass, nDocs) =>
        assert(nDocs === n)
        val prefix = seq.take(k.toInt)
        assert(vocab === prefix.flatMap(_._3).distinct.length.toLong,
          s"vocab at k=$k $lang (literal prefix recount)")
        assert(mass === prefix.map(_._3.length.toLong).sum, s"mass at k=$k $lang")
      }
      // growth curve is monotone and concave-ish: vocab never exceeds mass
      val byK = rs.sortBy(_._2)
      byK.sliding(2).foreach {
        case Array((_, _, v1, m1, _), (_, _, v2, m2, _)) =>
          assert(v1 <= v2 && m1 <= m2, s"monotone $lang")
        case _ =>
      }
      byK.foreach { case (_, _, v, m, _) => assert(v <= m, s"types <= tokens $lang") }
    }
  }

  test("text_kn_continuation: continuation/fertility counts match an adjacency replay") {
    val dir = "/root/testdata/sf0.001"
    val rows = ops.InfoTheory.textKnContinuation(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    // replay: per doc the token sequence, bigrams = adjacent pairs
    val docs = io.Readers.table(spark, dir, "documents")
      .select(col("lang"), split(lower(regexp_replace(trim(col("text")), "\\s+", " ")), " "))
      .as[(String, Seq[String])].collect()
      .map { case (l, ts) => (l, ts.filter(_.nonEmpty)) }
    val uni = docs.flatMap { case (l, ts) => ts.map((l, _)) }
      .groupBy(identity).map { case (k, g) => k -> g.length.toLong }
    val bigrams = docs.flatMap { case (l, ts) =>
      ts.zip(ts.drop(1)).map { case (p, c) => (l, p, c) } }.toSet
    val cont = bigrams.groupBy(b => (b._1, b._3)).map { case (k, g) => k -> g.size.toLong }
    val fert = bigrams.groupBy(b => (b._1, b._2)).map { case (k, g) => k -> g.size.toLong }
    val bt = bigrams.groupBy(_._1).map { case (k, g) => k -> g.size.toLong }
    rows.foreach { case (lang, rn, tok, cnt, c, f, b) =>
      assert(cnt === uni((lang, tok)), s"cnt $lang/$tok")
      assert(c === cont.getOrElse((lang, tok), 0L), s"cont $lang/$tok")
      assert(f === fert.getOrElse((lang, tok), 0L), s"fert $lang/$tok")
      assert(b === bt(lang), s"bigram_types $lang")
      assert(rn >= 1 && rn <= 20)
    }
    // top-20 is genuinely the continuation-ordered head: every emitted
    // cont count >= the best cont count NOT emitted for that lang
    rows.groupBy(_._1).foreach { case (lang, rs) =>
      val emitted = rs.map(_._3).toSet
      val bestOut = cont.collect {
        case ((l, t), c) if l == lang && !emitted(t) => c }
      if (bestOut.nonEmpty)
        assert(rs.map(_._5).min >= bestOut.max, s"head property $lang")
    }
  }

  test("text_pmi_collocations: JVM fixed-point replay + marginal identity + head property") {
    val dir = "/root/testdata/sf0.001"
    val rows = ops.InfoTheory.textPmiCollocations(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8)))
    val docs = io.Readers.table(spark, dir, "documents")
      .select(col("lang"), split(lower(regexp_replace(trim(col("text")), "\\s+", " ")), " "))
      .as[(String, Seq[String])].collect()
      .map { case (l, ts) => (l, ts.filter(_.nonEmpty)) }
    val big = docs.flatMap { case (l, ts) =>
      ts.zip(ts.drop(1)).map { case (p, c) => (l, p, c) } }
    val c2 = big.groupBy(identity).map { case (k, g) => k -> g.length.toLong }
    val cl = big.groupBy(b => (b._1, b._2)).map { case (k, g) => k -> g.length.toLong }
    val cr = big.groupBy(b => (b._1, b._3)).map { case (k, g) => k -> g.length.toLong }
    val nb = big.groupBy(_._1).map { case (k, g) => k -> g.length.toLong }
    import functions.NumericExpressions.log2FixedJ
    val pmiOf = (l: String, w1: String, w2: String) =>
      log2FixedJ(c2((l, w1, w2)) * nb(l)) - log2FixedJ(cl((l, w1)) * cr((l, w2)))
    rows.foreach { case (lang, rank, w1, w2, cp, cLeft, cRight, n, pmi20) =>
      assert(cp === c2((lang, w1, w2)) && cp >= 5)
      assert(cLeft === cl((lang, w1)) && cRight === cr((lang, w2)))
      assert(n === nb(lang))
      assert(pmi20 === pmiOf(lang, w1, w2), s"pmi $lang/$w1 $w2")
      assert(rank >= 1 && rank <= 20)
    }
    // head property: every emitted pmi >= the best pmi NOT emitted
    // among the c>=5 survivors of that lang
    rows.groupBy(_._1).foreach { case (lang, rs) =>
      val emitted = rs.map(r => (r._3, r._4)).toSet
      val bestOut = c2.collect {
        case ((l, w1, w2), c) if l == lang && c >= 5 && !emitted((w1, w2)) =>
          pmiOf(l, w1, w2) }
      if (bestOut.nonEmpty)
        assert(rs.map(_._9).min >= bestOut.max, s"head property $lang")
    }
  }

  test("text_bigram_lm_perplexity: JVM replay; surprisal nonnegative; bigram counts conserve") {
    val dir = "/root/testdata/sf0.001"
    val docs = io.Readers.table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        split(lower(regexp_replace(trim(col("text")), "\\s+", " ")), " "))
      .as[(Long, String, Seq[String])].collect()
      .map { case (id, l, ts) => (id, l, ts.filter(_.nonEmpty)) }
    val big = docs.flatMap { case (id, l, ts) =>
      ts.zip(ts.drop(1)).map { case (p, w) => (id, l, p, w) } }
    val c2 = big.groupBy(b => (b._2, b._3, b._4)).view.mapValues(_.length.toLong).toMap
    val c1 = big.groupBy(b => (b._2, b._3)).view.mapValues(_.length.toLong).toMap
    val cr = big.groupBy(b => (b._2, b._4)).view.mapValues(_.length.toLong).toMap
    val nl = big.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    import functions.NumericExpressions.log2FixedJ
    val wantBits = big.groupBy(_._1).view.mapValues { bs =>
      bs.map { case (_, l, p, w) =>
        val den = 2L * c1((l, p)) * nl(l)
        val num = c2((l, p, w)) * nl(l) + cr((l, w)) * c1((l, p))
        log2FixedJ(den) - log2FixedJ(num)
      }.sum
    }.toMap
    val got = ops.InfoTheory.textBigramLmPerplexity(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(got.length === wantBits.size)
    got.foreach { case (id, nb, bits, bpb) =>
      assert(bits === wantBits(id), s"doc $id")
      assert(bits >= 0L, s"surprisal must be nonnegative: doc $id")
      assert(bpb === bits.toDouble / (nb * 1048576.0))
    }
    // conservation: Σ n_bigrams over docs = Σ per-lang bigram totals
    assert(got.map(_._2).sum === nl.values.sum)
  }

  test("text_js_divergence: JVM replay; bounded in [0,1] bit; one-sided tokens kept per pair") {
    val dir = "/root/testdata/sf0.001"
    val uni = io.Readers.table(spark, dir, "documents")
      .select(col("lang"), explode(split(lower(regexp_replace(trim(col("text")), "\\s+", " ")), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("lang", "tok").agg(count(lit(1)).as("c"))
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val tot = uni.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    import functions.NumericExpressions.log2FixedJ
    val langs = tot.keys.toSeq.sorted
    val want = (for {
      i <- langs.indices; j <- (i + 1) until langs.length
    } yield {
      val (la, lb) = (langs(i), langs(j))
      val (na, nb) = (tot(la), tot(lb))
      val toks = uni.keys.collect { case (l, t) if l == la || l == lb => t }.toSet
      var (numA, numB, nTypes) = (0L, 0L, 0L)
      toks.foreach { t =>
        val ca = uni.getOrElse((la, t), 0L)
        val cb = uni.getOrElse((lb, t), 0L)
        val mix = ca * nb + cb * na
        if (ca > 0) numA += ca * (log2FixedJ(2 * ca * nb) - log2FixedJ(mix))
        if (cb > 0) numB += cb * (log2FixedJ(2 * cb * na) - log2FixedJ(mix))
        nTypes += 1
      }
      (la, lb) -> (nTypes, na, nb, numA, numB)
    }).toMap
    val got = ops.InfoTheory.textJsDivergence(spark, dir).collect()
    assert(got.length === want.size)
    got.foreach { r =>
      val k = (r.getString(0), r.getString(1))
      assert((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
        === want(k), s"pair $k")
      val js = r.getDouble(7)
      assert(js >= 0.0 && js <= 1.0 + 1e-6, s"JS out of bounds: $k $js")
    }
  }

  test("text_zipf_slope tracks the double-precision OLS over log-log ranks") {
    val dir = "/root/testdata/sf0.001"
    val fixed = ops.InfoTheory.textZipfSlope(spark, dir)
      .select("lang", "zipf_slope").as[(String, Double)].collect().toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("cnt").desc, col("tok"))
    val ref = io.Readers.table(spark, dir, "documents")
      .select(col("lang"), explode(split(
        lower(regexp_replace(trim(col("text")), "\\s+", " ")), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("lang", "tok").agg(count(lit(1)).as("cnt"))
      .withColumn("x", log2(row_number().over(w)))
      .withColumn("y", log2(col("cnt")))
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("lang"), ((col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx"))).as("m"))
      .as[(String, Double)].collect().toMap
    assert(fixed.keySet === ref.keySet)
    fixed.foreach { case (lang, m) =>
      assert(math.abs(m - ref(lang)) < 5e-3, s"$lang: $m vs ${ref(lang)}")
    }
  }

  test("agg_gini_impurity: in [0, 1-1/k], equals the double reference") {
    val rows = ops.InfoTheory.aggGiniImpurity(spark, "/root/testdata/sf0.001")
      .as[(String, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (seg, _, k, g) =>
      assert(g >= 0.0 && g <= 1.0 - 1.0 / k + 1e-12, s"$seg: $g outside [0, 1-1/$k]")
    }
    // double reference from raw counts
    val ref = io.Readers.table(spark, "/root/testdata/sf0.001", "orders")
      .join(io.Readers.table(spark, "/root/testdata/sf0.001", "customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment", "o_orderpriority").count()
      .as[(String, String, Long)].collect()
      .groupBy(_._1).map { case (seg, rs) =>
        val n = rs.map(_._3).sum.toDouble
        seg -> (1.0 - rs.map(r => (r._3 / n) * (r._3 / n)).sum)
      }
    rows.foreach { case (seg, _, _, g) =>
      assert(math.abs(g - ref(seg)) < 1e-12, s"$seg: $g vs ${ref(seg)}")
    }
  }

  test("text_kl_divergence tracks the double-precision KL and is non-negative") {
    val dir = "/root/testdata/sf0.001"
    val fixed = ops.InfoTheory.textKlDivergence(spark, dir)
      .select("lang", "kl_bits").as[(String, Double)].collect().toMap
    val counts = io.Readers.table(spark, dir, "documents")
      .select(col("lang"), explode(split(
        lower(regexp_replace(trim(col("text")), "\\s+", " ")), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("lang", "tok").agg(count(lit(1)).as("c"))
      .as[(String, String, Long)].collect()
    val nLang = counts.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val nTok = counts.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val nAll = counts.map(_._3).sum.toDouble
    val ref = counts.groupBy(_._1).map { case (lang, rows) =>
      lang -> rows.map { case (_, tok, c) =>
        val p = c / nLang(lang).toDouble
        val q = nTok(tok) / nAll
        p * math.log(p / q) / math.log(2.0)
      }.sum
    }
    assert(fixed.keySet === ref.keySet)
    fixed.foreach { case (lang, kl) =>
      assert(math.abs(kl - ref(lang)) < 1e-4, s"$lang: $kl vs ${ref(lang)}")
      assert(kl >= -1e-6, s"$lang: negative KL $kl") // Gibbs' inequality
    }
  }

  test("text_cond_entropy_bigram tracks the double reference and conditioning reduces entropy") {
    val dir = "/root/testdata/sf0.001"
    val got = ops.InfoTheory.textCondEntropyBigram(spark, dir)
      .select("lang", "cond_entropy_bits").as[(String, Double)].collect().toMap
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val big = io.Readers.table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), posexplode(split(
        lower(regexp_replace(trim(col("text")), "\\s+", " ")), " ")).as(Seq("pos", "tok")))
      .filter(col("tok") =!= "")
      .withColumn("nxt", lead(col("tok"), 1).over(wDoc))
      .filter(col("nxt").isNotNull)
      .as[(Long, String, Int, String, String)].collect()
    val byLang = big.groupBy(_._2)
    val ref = byLang.map { case (lang, rows) =>
      val c2 = rows.groupBy(r => (r._4, r._5)).view.mapValues(_.size.toLong).toMap
      val c1 = rows.groupBy(_._4).view.mapValues(_.size.toLong).toMap
      val n2 = rows.size.toDouble
      lang -> c2.map { case ((p, _), c) =>
        c * (math.log(c1(p).toDouble / c) / math.log(2.0))
      }.sum / n2
    }
    assert(got.keySet === ref.keySet)
    got.foreach { case (lang, h) =>
      assert(math.abs(h - ref(lang)) < 1e-4, s"$lang: $h vs ${ref(lang)}")
      assert(h >= -1e-9)
      // conditioning can't raise entropy above the unconditional
      // next-token entropy: H(next|prev) <= log2(#distinct next)
      val kNext = byLang(lang).map(_._5).distinct.size
      assert(h <= math.log(kNext.toDouble) / math.log(2.0) + 1e-6)
    }
  }

  test("events_power_law_alpha: cells replay brute-force; alpha tracks the double-precision Hill estimate") {
    val dir = "/root/testdata/sf0.001"
    val rows = ops.InfoTheory.eventsPowerLawAlpha(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // driver-side replay from raw events
    val raw = io.Readers.table(spark, dir, "events")
      .select(col("event_type"), col("user_id")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val byType = raw.groupBy(_._1).map { case (t, g) =>
      t -> g.groupBy(_._2).map(_._2.length.toLong).toSeq
    }
    assert(rows.keySet === byType.keySet)
    val l5 = NumericExpressions.log2FixedJ(5L)
    byType.foreach { case (t, cnts) =>
      val tail = cnts.filter(_ >= 5L)
      val want = (cnts.size.toLong, tail.size.toLong, 5L,
        tail.map(c => NumericExpressions.log2FixedJ(c) - l5).sum)
      assert(rows(t) === want, s"type $t")
      // semantic guard: the fixed-point alpha tracks the libm Hill MLE
      if (want._4 > 0) {
        val alphaFp = 1.0 + tail.size * F /
          (math.log(2.0) * rows(t)._4)
        val alphaRef = 1.0 + tail.size /
          tail.map(c => math.log(c.toDouble / 5.0)).sum
        assert(math.abs(alphaFp - alphaRef) < 1e-3, s"type $t alpha")
      }
    }
  }

  test("graph_adamic_adar matches a brute-force reference on sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val got = ops.Graph.graphAdamicAdar(spark, dir)
      .as[(Long, Long, Long, Double)].collect()
    assert(got.nonEmpty)
    // brute force: adjacency sets on the driver (tiny at sf0.001)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_orderkey")).orderBy(col("l_linenumber"), col("l_partkey"))
    val und = io.Readers.table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
      .withColumn("dst", lead(col("l_partkey"), 1).over(w))
      .filter(col("dst").isNotNull && col("dst") =!= col("l_partkey"))
      .select(least(col("l_partkey"), col("dst")).as("u"),
        greatest(col("l_partkey"), col("dst")).as("v"))
      .distinct().as[(Long, Long)].collect()
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]].withDefaultValue(Set.empty)
    und.foreach { case (u, v) => adj(u) += v; adj(v) += u }
    got.foreach { case (a, b, common, aa) =>
      assert(und.contains((a, b)), s"($a,$b) not an edge")
      val cn = adj(a) intersect adj(b)
      assert(cn.size.toLong === common)
      val ref = cn.toSeq.map(wd => 1.0 / (math.log(adj(wd).size.toDouble) / math.log(2.0))).sum
      assert(math.abs(aa - ref) < 1e-4, s"($a,$b): $aa vs $ref")
    }
    // descending, deterministic order
    assert(got.map(_._4).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
  }

  test("text_lm_dirichlet_topk: fixed-point scores agree with double-precision Dirichlet LM; ranking is honest") {
    val dir = "/root/testdata/sf0.001"
    val got = ops.InfoTheory.textLmDirichletTopk(spark, dir)
      .select("doc_id", "n_hit", "lm20", "lm_bits")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.length === 10)
    got.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 > b._3 || (a._3 == b._3 && a._1 < b._1))
    case _ => }

    // independent double-precision reference over the same tokenizer
    val docs = io.Readers.table(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    val toks = docs.map { case (id, t) =>
      id -> t.trim.replaceAll("\\s+", " ").toLowerCase
        .split(" ").filter(_.nonEmpty)
    }.filter(_._2.nonEmpty)
    val cTok = toks.map(_._2.length.toLong).sum.toDouble
    val mu = ops.InfoTheory.LmMu.toDouble
    val qTerms = ops.InfoTheory.Bm25QueryTerms
    val cfMap = qTerms.map(t =>
      t -> toks.map(_._2.count(_ == t).toLong).sum.toDouble).toMap
    def score(ws: Array[String]): (Int, Double) = {
      val dl = ws.length.toDouble
      val tfm = ws.groupBy(identity).map { case (w, g) => w -> g.length.toDouble }
      val hits = qTerms.count(tfm.contains)
      val s = qTerms.map { t =>
        val tf = tfm.getOrElse(t, 0.0)
        math.log((tf + mu * cfMap(t) / cTok) / (dl + mu)) / math.log(2.0)
      }.sum
      (hits, s)
    }
    val ref = toks.map { case (id, ws) => id -> score(ws) }.toMap
    got.foreach { case (id, nHit, _, lmBits) =>
      val (refHit, refScore) = ref(id)
      assert(nHit === refHit.toLong, s"doc $id n_hit")
      assert(math.abs(lmBits - refScore) < 1e-3, s"doc $id: $lmBits vs $refScore")
    }
    // the returned 10 dominate among candidate (>=1 hit) docs
    val returned = got.map(_._1).toSet
    val floor10 = got.map(_._4).min
    ref.foreach { case (id, (hits, s)) =>
      if (hits > 0 && !returned.contains(id))
        assert(s <= floor10 + 1e-3, s"doc $id excluded but $s > $floor10")
    }
  }

  test("text_bm25_topk: fixed-point scores agree with double-precision BM25; ranking is honest") {
    val dir = "/root/testdata/sf0.001"
    val got = ops.InfoTheory.textBm25Topk(spark, dir)
      .select("doc_id", "n_hit", "bm25_u", "bm25")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.length === 10)
    // key output is strictly ordered by (score desc, doc_id)
    got.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 > b._3 || (a._3 == b._3 && a._1 < b._1))
    case _ => }

    // independent double-precision reference over the same tokenizer
    val docs = io.Readers.table(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    val toks = docs.map { case (id, t) =>
      id -> t.trim.replaceAll("\\s+", " ").toLowerCase
        .split(" ").filter(_.nonEmpty)
    }.filter(_._2.nonEmpty)
    val n = toks.length.toDouble
    val avgdl = toks.map(_._2.length).sum / n
    val qTerms = ops.InfoTheory.Bm25QueryTerms.toSet
    val dfMap = qTerms.map(t => t -> toks.count(_._2.contains(t)).toDouble).toMap
    def score(ws: Array[String]): (Int, Double) = {
      val dl = ws.length.toDouble
      val tfm = ws.groupBy(identity).map { case (w, g) => w -> g.length.toDouble }
      val hits = qTerms.toSeq.filter(tfm.contains)
      val s = hits.map { t =>
        val idf = math.log((n + 1.0) / (dfMap(t) + 0.5))
        val tf = tfm(t)
        idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
      }.sum
      (hits.size, s)
    }
    val ref = toks.map { case (id, ws) => id -> score(ws) }.toMap
    got.foreach { case (id, nHit, _, bm25) =>
      val (refHit, refScore) = ref(id)
      assert(nHit === refHit.toLong, s"doc $id n_hit")
      assert(math.abs(bm25 - refScore) < 1e-4, s"doc $id: $bm25 vs $refScore")
    }
    // the returned 10 dominate: no absent doc outscores the weakest
    // returned one by more than fixed-point tolerance
    val returned = got.map(_._1).toSet
    val floor10 = got.map(_._4).min
    ref.foreach { case (id, (_, s)) =>
      if (!returned.contains(id)) assert(s <= floor10 + 1e-4, s"doc $id excluded but $s > $floor10")
    }
  }
}
