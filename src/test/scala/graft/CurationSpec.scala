package graft

import org.apache.spark.sql.functions._

/** Round-6 curation operators: decontamination, containment dedup,
  * domain caps, SCD2, bloom semi-join, salted join, recursive CTE.
  */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  // ------------------------------------------------ decontamination

  test("decontaminate_ngram flags only non-eval docs that truly share a 4-gram") {
    val out = ops.Curation.decontaminateNgram(spark, dir).collect()
    assert(out.forall(_.getLong(0) % 20 != 0), "eval docs must never be flagged")
    assert(out.forall(_.getLong(1) >= 1))
    // recompute ground truth with array_intersect over the full product
    // (sf0.001 is small enough to brute-force)
    val grams = graft.functions.TextExpressions.wordShingles(col("text"), 4)
    val d = io.Readers.table(spark, dir, "documents")
      .select(col("doc_id"), grams.as("grams"))
    val ev = d.filter(col("doc_id") % 20 === 0)
      .agg(flatten(collect_list(col("grams")))).as[Seq[String]].head().toSet
    val truth = d.filter(col("doc_id") % 20 =!= 0).as[(Long, Seq[String])]
      .collect()
      .map { case (id, gs) => id -> gs.count(ev.contains) }
      .filter(_._2 >= 1).toMap
    assert(out.map(r => r.getLong(0) -> r.getLong(1)).toMap == truth)
  }

  // ------------------------------------------- containment dedup

  /** A copy of `src`'s documents table with every doc_id moved past
    * the 32-bit range — documents.doc_id is int64, and the near-dup
    * keys must carry such ids through every branch. */
  private def offsetIds(src: String): String = {
    val out = java.nio.file.Files.createTempDirectory("docs64").toString
    io.Readers.table(spark, src, "documents")
      .withColumn("doc_id", col("doc_id") + 3000000000L)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    out
  }

  /** A pair id column of a result row, whatever its integral type. */
  private def id(r: org.apache.spark.sql.Row, i: Int): Long = r.getAs[Number](i).longValue

  test("dedup_ngram_containment matches the brute-force pair set") {
    for (in <- Seq(dir, offsetIds(dir))) {
      val out = ops.Curation.dedupNgramContainment(spark, in).collect()
        .map(r => (r.getString(0), id(r, 1), id(r, 2), r.getDouble(3)))
      val grams = graft.functions.TextExpressions.wordShingles(col("text"), 2)
      val d = io.Readers.table(spark, in, "documents")
        .select(col("doc_id"), col("lang"), grams.as("grams"))
        .filter(size(col("grams")) > 0)
      val a = d.select(col("doc_id").as("a_id"), col("lang"), col("grams").as("ag"))
      val b = d.select(col("doc_id").as("b_id"), col("lang").as("bl"), col("grams").as("bg"))
      val truth = a.crossJoin(b)
        .filter(col("lang") === col("bl") && col("a_id") < col("b_id"))
        .withColumn("c", size(array_intersect(col("ag"), col("bg"))).cast("double")
          / least(size(col("ag")), size(col("bg"))).cast("double"))
        .filter(col("c") >= 0.8)
        .select("lang", "a_id", "b_id", "c").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(truth.nonEmpty, s"fixture must contain true pairs ($in)")
      assert(out.toSet == truth, s"($in)")
    }
  }

  test("containment's adaptive switch takes the prefix-filter path on a hot-gram corpus, exactly") {
    // 30 near-dup pairs (high containment) + 400 docs opening with the
    // SAME 5-token phrase: the hot bigrams hit df ≈ 400, pushing the
    // hot-gram share maxDf²/Σdf over the 1.0 switch threshold while
    // the hot docs themselves stay far below τ = 0.8
    val pairs = (0 until 30).flatMap { i =>
      val toks = (0 until 40).map(j => s"t${i * 50 + j}")
      Seq((2L * i, "en", toks.mkString(" ")),
        (2L * i + 1, "en", (toks.take(36) :+ s"u$i").mkString(" ")))
    }
    val hot = (0 until 400).map { j =>
      val tail = (0 until 20).map(k => s"h${1000 + j * 20 + k}")
      (1000L + j, "en", ("hot1 hot2 hot3 hot4 hot5" +: tail).mkString(" "))
    }
    val dirT = java.nio.file.Files.createTempDirectory("contzipf").toString
    (pairs ++ hot).toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(s"$dirT/documents.parquet")
    // the probe must actually choose the prefix branch on this corpus
    val grams2 = graft.functions.TextExpressions.wordShingles(col("text"), 2)
    val inv = spark.read.parquet(s"$dirT/documents.parquet")
      .select(explode(grams2).as("gram"), col("lang"))
      .select(xxhash64(col("lang"), col("gram")).as("gh"))
    val prof = inv.groupBy("gh").count()
      .agg(sum(col("count")).as("n"), max(col("count")).as("maxdf")).head()
    val hotShare = prof.getLong(1).toDouble * prof.getLong(1) / prof.getLong(0)
    assert(hotShare > 1.0, s"fixture must trip the switch (hotShare=$hotShare)")
    // and the operator's output still equals brute force
    for (in <- Seq(dirT, offsetIds(dirT))) {
      val out = ops.Curation.dedupNgramContainment(spark, in).collect()
        .map(r => (id(r, 1), id(r, 2))).toSet
      val d = spark.read.parquet(s"$in/documents.parquet")
        .select(col("doc_id"), col("lang"), grams2.as("grams"))
      val a2 = d.select(col("doc_id").as("a_id"), col("lang"), col("grams").as("ag"))
      val b2 = d.select(col("doc_id").as("b_id"), col("lang").as("bl"), col("grams").as("bg"))
      val truth = a2.crossJoin(b2)
        .filter(col("lang") === col("bl") && col("a_id") < col("b_id"))
        .filter(size(array_intersect(col("ag"), col("bg"))).cast("double")
          / least(size(col("ag")), size(col("bg"))).cast("double") >= 0.8)
        .select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(truth.nonEmpty, "fixture must contain true pairs")
      assert(out == truth, s"prefix path must be exact ($in): " +
        s"missing=${(truth -- out).take(3)} extra=${(out -- truth).take(3)}")
    }
  }

  test("jaccard dedup's adaptive switch takes the prefix-filter path on a hot-gram corpus, exactly") {
    // same switch-tripping construction as the containment fixture;
    // near-dup pairs sit at J ≈ 0.85 (well over τ = 0.5), hot docs
    // pairwise at J ≈ 0.09 (well under)
    val pairs = (0 until 30).flatMap { i =>
      val toks = (0 until 40).map(j => s"t${i * 50 + j}")
      Seq((2L * i, "en", toks.mkString(" ")),
        (2L * i + 1, "en", (toks.take(36) :+ s"u$i").mkString(" ")))
    }
    val hot = (0 until 400).map { j =>
      val tail = (0 until 20).map(k => s"h${1000 + j * 20 + k}")
      (1000L + j, "en", ("hot1 hot2 hot3 hot4 hot5" +: tail).mkString(" "))
    }
    val dirT = java.nio.file.Files.createTempDirectory("jaczipf").toString
    (pairs ++ hot).toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(s"$dirT/documents.parquet")
    val grams2 = graft.functions.TextExpressions.wordShingles(col("text"), 2)
    for (in <- Seq(dirT, offsetIds(dirT))) {
      val out = ops.Llm2.dedupNgramJaccard(spark, in).collect()
        .map(r => (id(r, 1), id(r, 2))).toSet
      val d = spark.read.parquet(s"$in/documents.parquet")
        .select(col("doc_id"), col("lang"), grams2.as("grams"))
      val a2 = d.select(col("doc_id").as("a_id"), col("lang"), col("grams").as("ag"))
      val b2 = d.select(col("doc_id").as("b_id"), col("lang").as("bl"), col("grams").as("bg"))
      val truth = a2.crossJoin(b2)
        .filter(col("lang") === col("bl") && col("a_id") < col("b_id"))
        .withColumn("sh", size(array_intersect(col("ag"), col("bg"))).cast("double"))
        .filter(col("sh") / (size(col("ag")) + size(col("bg")) - col("sh")) >= 0.5)
        .select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(truth.nonEmpty, "fixture must contain true pairs")
      assert(out == truth, s"prefix path must be exact ($in): " +
        s"missing=${(truth -- out).take(3)} extra=${(out -- truth).take(3)}")
    }
  }

  test("containment catches a quote pair Jaccard misses") {
    // 60 distinct words → 59 distinct bigrams in the big doc; the short
    // doc is a verbatim 5-word quote plus a 2-word trailer (6 bigrams,
    // 4 shared) → containment 4/6 but Jaccard only 4/61
    val big = (0 until 60).map(i => s"w$i").mkString(" ")
    val quote = "w20 w21 w22 w23 w24" // embedded verbatim
    val docs = Seq((1L, "en", big), (2L, "en", quote + " zzz yyy"))
      .toDF("doc_id", "lang", "text")
    val grams = graft.functions.TextExpressions.wordShingles(col("text"), 2)
    val d = docs.select(col("doc_id"), col("lang"), grams.as("grams"))
    val withSizes = d.select(col("doc_id"), size(col("grams")).as("sz"), col("grams"))
    val rows = withSizes.collect().sortBy(_.getLong(0))
    val (ag, bg) = (rows(0).getSeq[String](2).toSet, rows(1).getSeq[String](2).toSet)
    val shared = (ag & bg).size.toDouble
    val containment = shared / math.min(ag.size, bg.size)
    val jaccard = shared / (ag ++ bg).size
    assert(containment >= 0.6 && jaccard < 0.2,
      s"fixture should separate the metrics: containment=$containment jaccard=$jaccard")
  }

  // ------------------------------------------------ domain cap

  test("sample_domain_cap keeps at most 10 docs per source, deterministically") {
    val out = ops.Curation.sampleDomainCap(spark, dir)
    val perSource = out.groupBy("source").count().collect()
    assert(perSource.forall(_.getLong(1) <= 10))
    val again = ops.Curation.sampleDomainCap(spark, dir)
    assert(out.collect().toSeq == again.collect().toSeq, "admission must be deterministic")
  }

  test("domain cap admission is stable under corpus growth") {
    // drop half the corpus: docs admitted in the shrunken corpus must be
    // a SUPERSET restriction — every doc admitted in the full corpus
    // that survives the shrink is still admitted (hash order can't be
    // reshuffled by other docs leaving, only freed slots open up)
    val full = ops.Curation.sampleDomainCap(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(2))).toSet
    val docs = io.Readers.table(spark, dir, "documents").filter(col("doc_id") % 2 === 0)
    val adm = md5(concat_ws("|", lit("graft-domaincap"), col("doc_id").cast("string")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("adm"), col("doc_id"))
    val shrunk = docs.withColumn("adm", adm)
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
      .select("source", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val survivors = full.filter { case (_, id) => id % 2 == 0 }
    assert(survivors.subsetOf(shrunk),
      "docs admitted in the full corpus must stay admitted when others leave")
  }

  // ------------------------------------------------ SCD2

  test("dim_scd2_history builds contiguous, single-current version chains") {
    val out = ops.Curation.dimScd2History(spark, dir).collect()
    val byUser = out.groupBy(_.getLong(0))
    byUser.foreach { case (u, rows) =>
      val sorted = rows.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to rows.length), s"user $u versions not dense")
      assert(sorted.count(_.getBoolean(5)) == 1, s"user $u must have exactly one current row")
      assert(sorted.last.getBoolean(5), s"user $u: last version must be the current one")
      sorted.sliding(2).foreach {
        case Array(prev, next) =>
          assert(prev.getTimestamp(3) == next.getTimestamp(2),
            s"user $u: valid_to of v${prev.getInt(1)} must equal valid_from of v${next.getInt(1)}")
        case _ => ()
      }
    }
  }

  // ------------------------------------------------ bloom semi join

  test("bloom_might_contain_long has no false negatives") {
    val keys = (0L until 5000L).map(_ * 7919L)
    val bf = org.apache.spark.util.sketch.BloomFilter.create(keys.size.toLong, 0.01)
    keys.foreach(bf.putLong)
    val bytes = graft.functions.BloomExpr.serialize(bf)
    val hits = keys.toDF("k")
      .filter(graft.functions.BloomExpr.mightContainLong(col("k"), bytes))
      .count()
    assert(hits == keys.size, "a bloom filter must never reject an inserted key")
  }

  test("join_bloom_semi equals the plain semi join and prunes below the join") {
    val out = ops.Curation.joinBloomSemi(spark, dir)
    val urgent = io.Readers.table(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
    val plain = io.Readers.table(spark, dir, "lineitem")
      .join(urgent, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"), Determinism.dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("l_returnflag")
    assert(out.collect().toSeq == plain.collect().toSeq)
    out.collect() // finalize adaptive plan
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("bloom_might_contain_long"), s"bloom filter missing from plan:\n$p")
    assert(p.contains("ShuffledHashJoin") && p.contains("LeftSemi"),
      s"semi join must stay in the can't-broadcast regime this key demonstrates:\n$p")
    // the bloom predicate must sit BELOW the join (on the scan side)
    val joinLine = p.linesIterator.indexWhere(_.contains("ShuffledHashJoin"))
    val bloomLine = p.linesIterator.indexWhere(_.contains("bloom_might_contain_long"))
    assert(bloomLine > joinLine, "bloom prefilter must be on the fact scan below the join")
  }

  // ------------------------------------------------ salted join

  test("join_skew_salted is row-identical to the unsalted join") {
    val out = ops.Curation.joinSkewSalted(spark, dir).collect().toSeq
    val plain = io.Readers.table(spark, dir, "lineitem")
      .join(io.Readers.table(spark, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        Determinism.dsumProduct(col("l_extendedprice"), lit(1.0) - col("l_discount")).as("revenue"))
      .orderBy("o_orderpriority").collect().toSeq
    assert(out == plain)
  }

  // ------------------------------------ distribution ranks / histogram

  test("win_ntile_percent_rank: balanced quartiles, ranks in [0,1], monotone") {
    val out = ops.Windows.winNtilePercentRank(spark, dir).collect()
    val byPrio = out.groupBy(_.getString(1))
    byPrio.foreach { case (p, rows) =>
      val sizes = rows.groupBy(_.getInt(3)).view.mapValues(_.length).values.toSeq
      assert(sizes.max - sizes.min <= 1, s"$p: ntile must balance, got $sizes")
      val ranks = rows.map(_.getDouble(4)) // already in output order
      assert(ranks.head == 0.0 && ranks.last == 1.0)
      assert(ranks.zip(ranks.tail).forall { case (a, b) => a <= b }, s"$p: pct_rank not monotone")
      val cds = rows.map(_.getDouble(5))
      assert(cds.forall(c => c > 0.0 && c <= 1.0))
    }
  }

  test("agg_histogram_bins partitions every order into its bin") {
    val out = ops.Aggregations.aggHistogramBins(spark, dir).collect()
    val orders = io.Readers.table(spark, dir, "orders")
    assert(out.map(_.getLong(2)).sum == orders.count())
    val viaFilter = out.map { r =>
      val lo = r.getDouble(1)
      orders.filter(col("o_totalprice") >= lo && col("o_totalprice") < lo + 50000.0).count()
    }
    assert(out.map(_.getLong(2)).toSeq == viaFilter.toSeq)
  }

  // ------------------------------------------- unigram surprisal

  test("text_unigram_logprob matches a driver-side recomputation") {
    val out = ops.Curation.textUnigramLogprob(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val docs = io.Readers.table(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    val tokens = docs.map { case (id, t) =>
      id -> t.trim.toLowerCase.replaceAll("\\s+", " ").split(" ").filter(_.nonEmpty).toSeq
    }.filter(_._2.nonEmpty)
    val freq = tokens.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nTotal = freq.values.sum.toDouble
    assert(out.keySet == tokens.map(_._1).toSet)
    tokens.foreach { case (id, toks) =>
      val nllSum = toks.map { t =>
        BigDecimal(-math.log(freq(t) / nTotal)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }.sum
      val expected = BigDecimal(nllSum.toDouble / toks.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val (n, avg) = out(id)
      assert(n == toks.size, s"doc $id: token count $n != ${toks.size}")
      assert(math.abs(avg - expected) <= 1e-6, s"doc $id: got $avg expected $expected")
    }
  }

  // ------------------------------------------------ recursive CTE

  test("sql_recursive_cte generates the 1995 month spine with order counts") {
    val out = ops.Curation.sqlRecursiveCte(spark, dir).collect()
    assert(out.length == 12)
    assert(out.head.getDate(0).toString == "1995-01-01")
    assert(out.last.getDate(0).toString == "1995-12-01")
    val total = io.Readers.table(spark, dir, "orders")
      .filter(year(col("o_orderdate")) === 1995).count()
    assert(out.map(_.getLong(1)).sum == total)
  }
}
