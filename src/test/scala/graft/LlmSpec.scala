package graft

import org.apache.spark.sql.functions._

/** LLM-op semantics on planted fixtures: exact-dedup grouping +
  * idempotence, MinHash-LSH recall vs brute-force Jaccard, cosine
  * properties (SURVEY §5.4).
  *
  * The ops under test are `(SparkSession, sfDir) => DataFrame` plan
  * builders reading `{dir}/documents.parquet` etc., so fixtures are
  * written as parquet to a temp dir shaped like a scale-factor dir.
  */
class LlmSpec extends SparkSpec {
  import spark.implicits._

  private lazy val fixtureDir: String = {
    val d = java.nio.file.Files.createTempDirectory("llmfix").toString
    val docs = Seq(
      // pair (1,2): exact duplicates modulo whitespace/case
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today", "en", "s1", 60L),
      (2L, "The  quick Brown fox jumps over the lazy dog near the river bank today", "en", "s1", 60L),
      // pair (3,4): near-duplicates (one word changed)
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu", "en", "s2", 70L),
      (4L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu xi", "en", "s2", 70L),
      // distinct
      (5L, "one two three four five six seven eight nine ten eleven twelve thirteen", "en", "s3", 71L),
      (6L, "completely different words appear here with no overlap whatsoever in any shingle", "de", "s3", 80L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.coalesce(1).write.parquet(s"$d/documents.parquet")
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), 0), (2L, Array(0.6f, 0.8f, 0.0f), 0),
      (3L, Array(-1.0f, 0.0f, 0.0f), 0), (4L, Array(0.0f, 0.0f, 2.0f), 1),
      (5L, Array(0.0f, 1.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    emb.coalesce(1).write.parquet(s"$d/embeddings.parquet")
    d
  }

  test("exact dedup groups normalized duplicates, min id wins") {
    val r = ops.Llm.dedupExactHash(spark, fixtureDir)
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toMap
    assert(r(1L) === 2L) // docs 1+2 collapse, keeper is min id
    assert(r(3L) === 1L && r(4L) === 1L) // near-dups do NOT collapse exactly
  }

  test("exact dedup is idempotent: dedup(dedup(x)) == dedup(x)") {
    val once = ops.Llm.dedupExactHash(spark, fixtureDir).select("text_hash", "keep_id")
    val again = once.groupBy("text_hash").agg(min("keep_id").as("keep_id"))
    assert(once.count() === again.count())
  }

  test("MinHash-LSH finds exact and near duplicate pairs (recall vs brute force)") {
    val got = ops.Llm.dedupMinhashLsh(spark, fixtureDir)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 2L)), "exact-dup pair must be found")
    assert(got.contains((3L, 4L)), "near-dup pair (jaccard ~0.71) must be found")
    assert(!got.exists(p => p._1 == 5L || p._2 == 5L || p._1 == 6L || p._2 == 6L),
      "distinct docs must not pair")
  }

  test("cosine similarity: bounds, symmetry, known geometry") {
    val r = ops.Llm.simPairwiseThreshold(spark, fixtureDir)
      .select("a_id", "b_id", "sim").as[(Long, Long, Double)].collect()
    r.foreach { case (_, _, s) => assert(s >= -1.0 - 1e-12 && s <= 1.0 + 1e-12) }
    // label 0: vec1=(1,0,0), vec2=(0.6,0.8,0) → cos = 0.6 (> τ=0.3);
    // vec1·vec3 = -1 (excluded); vec2·vec3 = -0.6 (excluded)
    val m = r.map(t => (t._1, t._2) -> t._3).toMap
    assert(m.keySet === Set((1L, 2L)))
    // inputs are float32 on disk → 0.6/0.8 are not exact; f32 epsilon bound
    assert(math.abs(m((1L, 2L)) - 0.6) < 1e-6)
  }

  test("latest-wins dedup is idempotent and keeps max ts per key") {
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 7L, "click", 1.0, "{}"),
      (2L, ts("2024-01-01 11:00:00"), 7L, "click", 2.0, "{}"),
      (3L, ts("2024-01-01 11:00:00"), 7L, "click", 3.0, "{}"), // ts tie → higher id wins
      (4L, ts("2024-01-01 09:00:00"), 8L, "view", 4.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val once = ops.Streaming.upsertLatest(events.limit(0), events)
    val twice = ops.Streaming.upsertLatest(once, once.limit(0))
    assert(once.count() === 2)
    val byKey = once.select("user_id", "event_id").as[(Long, Long)].collect().toMap
    assert(byKey(7L) === 3L && byKey(8L) === 4L)
    assert(twice.count() === once.count())
  }

  test("minhash_sigs native expression equals the explode+min(xxhash64) aggregation") {
    val docs = spark.read.parquet(s"$fixtureDir/documents.parquet")
      .select(col("doc_id"),
        functions.TextExpressions.wordShingles(col("text"), 3).as("shingles"))
      .filter(size(col("shingles")) > 0)
    val native = docs.select(col("doc_id"),
      functions.TextExpressions.minHashSigs(col("shingles"), 16).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val viaAgg = docs.select(col("doc_id"), explode(col("shingles")).as("sh"))
      .groupBy("doc_id")
      .agg(array((0 until 16).map(i => min(xxhash64(col("sh"), lit(i)))): _*).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(native === viaAgg)
  }

  test("embedding-cosine dedup marks each dup against its smallest direct neighbor") {
    // fixture geometry (label 0): v1·v2 = 0.6 (below τ at .35? no — 0.6 ≥ .35 dup),
    // v1·v3 = -1, v2·v3 = -0.6; label 1: v4·v5 = 0. With τ=0.35 the only
    // qualifying pair is (1,2) → dup_id=2 kept against keep_id=1.
    val out = ops.Llm.dedupEmbeddingCosine(spark, fixtureDir)
      .select("dup_id", "keep_id").as[(Long, Long)].collect().toMap
    assert(out === Map(2L -> 1L))
  }

  test("sim_knn_graph: every vector's top-k same-label neighbors with known geometry") {
    val out = ops.Llm.simKnnGraph(spark, fixtureDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    // label 0 = {1,2,3}: cos(1,2)=0.6, cos(1,3)=-1, cos(2,3)=-0.6
    // label 1 = {4,5}: cos(4,5)=0
    val expect = Seq(
      (1L, 1, 2L, 0.6), (1L, 2, 3L, -1.0),
      (2L, 1, 1L, 0.6), (2L, 2, 3L, -0.6),
      (3L, 1, 2L, -0.6), (3L, 2, 1L, -1.0),
      (4L, 1, 5L, 0.0), (5L, 1, 4L, 0.0))
    assert(out.length == expect.length)
    out.zip(expect).foreach { case ((s, r, d, sim), (es, er, ed, esim)) =>
      assert(s == es && r == er && d == ed, s"row ($s,$r,$d) vs ($es,$er,$ed)")
      assert(math.abs(sim - esim) < 1e-6) // inputs are float32
    }
    // and on the real corpus: every vector emits <= 3 rows, all
    // same-label, ranks contiguous from 1
    val real = ops.Llm.simKnnGraph(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val byS = real.groupBy(_._1)
    assert(byS.values.forall(rs => rs.map(_._2).sorted.sameElements(1 to rs.length)))
    assert(byS.values.forall(_.length <= 3))
    val labelOf = io.Readers.table(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "label").as[(Long, Int)].collect().toMap
    assert(real.forall { case (s, _, d) => labelOf(s) == labelOf(d) })
  }

  test("hash split: deterministic, total, bucket-range, and stable under corpus growth") {
    val a = ops.Llm.sampleHashSplit(spark, fixtureDir)
      .select("doc_id", "bucket", "split")
      .as[(Long, Long, String)].collect().sortBy(_._1)
    val b = ops.Llm.sampleHashSplit(spark, fixtureDir)
      .select("doc_id", "bucket", "split")
      .as[(Long, Long, String)].collect().sortBy(_._1)
    assert(a.sameElements(b), "same inputs must produce identical assignments")
    assert(a.length === 6 && a.forall { case (_, bk, sp) =>
      bk >= 0 && bk < 100 &&
        ((bk < 80 && sp == "train") || (bk >= 80 && bk < 90 && sp == "valid") ||
          (bk >= 90 && sp == "test"))
    })
    // growth-stability: the assignment is a pure function of doc_id, so a
    // doc's split must not change when the corpus around it changes.
    val d2 = java.nio.file.Files.createTempDirectory("llmfix2").toString
    spark.read.parquet(s"$fixtureDir/documents.parquet")
      .filter(col("doc_id") <= 3).coalesce(1)
      .write.parquet(s"$d2/documents.parquet")
    val sub = ops.Llm.sampleHashSplit(spark, d2)
      .select("doc_id", "bucket", "split")
      .as[(Long, Long, String)].collect().sortBy(_._1)
    assert(sub.sameElements(a.filter(_._1 <= 3)))
  }

  test("token-budget sample: per-lang budget respected, admission maximal, bucket form ≡ plain window") {
    val dir = "/root/testdata/sf0.01"
    val kept = ops.Llm.sampleTokenBudget(spark, dir)
      .select("doc_id", "lang", "n_toks", "cum_toks")
      .as[(Long, String, Long, Long)].collect()
    assert(kept.nonEmpty)
    // budget respected: every language's kept token total ≤ 2000
    val perLang = kept.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    assert(perLang.values.forall(_ <= 2000L), s"budget exceeded: $perLang")
    // maximality: in each language, the FIRST doc (in admission order)
    // not kept would have pushed the total past the budget
    val all = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n"),
        ops.Llm.budgetHash(col("doc_id")).as("h"))
      .as[(Long, String, Long, String)].collect()
    val keptIds = kept.map(_._1).toSet
    all.groupBy(_._2).foreach { case (lang, docs) =>
      docs.sortBy(d => (d._4, d._1)).find(d => !keptIds.contains(d._1)).foreach { first =>
        assert(perLang(lang) + first._3 > 2000L,
          s"$lang: doc ${first._1} (${first._3} toks) was admissible but dropped")
      }
    }
    // the distributed (lang, hash-prefix-bucket) prefix sum must equal
    // the single-window running sum it decomposes
    val plain = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
      spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("lang"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n"),
          ops.Llm.budgetHash(col("doc_id")).as("h"))
        .filter(col("n") > 0)
        .withColumn("cum", sum(col("n")).over(w))
        .filter(col("cum") <= 2000)
        .select("doc_id", "cum").as[(Long, Long)].collect().toMap
    }
    assert(kept.map(r => (r._1, r._4)).toMap === plain,
      "bucketed prefix sum diverged from the plain per-lang window")
  }

  test("stratified hash sample hits per-stratum fractions and membership is stable") {
    // sf0.01: 500 docs over 5 langs — en kept at ~50 %, zh at ~25 %,
    // everything else whole
    val dir = "/root/testdata/sf0.01"
    val all = spark.read.parquet(s"$dir/documents.parquet")
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    val kept = ops.Llm.sampleStratifiedHash(spark, dir)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    all.foreach { case (lang, n) =>
      val frac = kept.getOrElse(lang, 0L).toDouble / n
      val target = lang match { case "en" => 0.5; case "zh" => 0.25; case _ => 1.0 }
      // md5 buckets are uniform; 100-doc strata give ±~15 % absolute
      assert(math.abs(frac - target) <= 0.15, s"$lang: kept $frac, target $target")
    }
    // membership is a pure function of doc_id — a kept doc stays kept
    // on a corpus subset (growth/shrink stability, unlike sampleBy)
    val ids = ops.Llm.sampleStratifiedHash(spark, dir).select("doc_id").as[Long].collect().toSet
    val d2 = java.nio.file.Files.createTempDirectory("strat").toString
    spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") < 100).coalesce(1)
      .write.parquet(s"$d2/documents.parquet")
    val subIds = ops.Llm.sampleStratifiedHash(spark, d2).select("doc_id").as[Long].collect().toSet
    assert(subIds === ids.filter(_ < 100))
  }

  test("MinHash clusters equal the brute-force-Jaccard transitive closure at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    // brute force: every doc pair's exact 3-shingle Jaccard, ≥ 0.3 →
    // union-find closure (driver-side; sf0.001 is small by design)
    val sh = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        graft.functions.TextExpressions.wordShingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
      .as[(Long, Seq[String])].collect().map(t => t._1 -> t._2.toSet)
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrElseUpdate(root, root) != root) root = parent(root)
      var cur = x
      while (cur != root) { val next = parent(cur); parent(cur) = root; cur = next }
      root
    }
    for (i <- sh.indices; j <- (i + 1) until sh.length) {
      val (a, sa) = sh(i); val (b, sb) = sh(j)
      val jac = sa.intersect(sb).size.toDouble / sa.union(sb).size
      if (jac >= 0.3) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    }
    val expected = parent.keys.map(k => k -> find(k)).toMap
    val got = ops.Llm.dedupMinhashClusters(spark, dir)
      .as[(Long, Long)].collect().toMap
    assert(got === expected,
      s"clusters diverge from the brute-force closure (missing: ${expected.keySet -- got.keySet}, extra: ${got.keySet -- expected.keySet})")
    assert(got.nonEmpty, "sf0.001 contains planted near-dups; closure must be non-empty")
  }

  test("LSH-banded pairwise cosine emits a subset of the exact pairs with identical sims") {
    val dir = "/root/testdata/sf0.01"
    val exact = ops.Llm.simPairwiseThreshold(spark, dir)
      .select("a_id", "b_id", "sim").as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    val banded = ops.Llm.simPairwiseThresholdLsh(spark, dir)
      .select("a_id", "b_id", "sim").as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(banded.nonEmpty, "banding at τ=0.3 must keep some pairs on this corpus")
    banded.foreach { case (k, sim) =>
      assert(exact.contains(k), s"banded pair $k not in exact set")
      assert(exact(k) === sim, s"sim differs for $k — verify must be exact")
    }
    // dedup variant: every banded duplicate is an exact-path duplicate
    // and its (keep → dup) edge is a true exact pair (keep_id may be a
    // LARGER exact neighbor when banding dropped the smallest one)
    val exDups = ops.Llm.dedupEmbeddingCosine(spark, dir)
      .select("dup_id").as[Long].collect().toSet
    val bd = ops.Llm.dedupEmbeddingCosineLsh(spark, dir)
      .select("dup_id", "keep_id").as[(Long, Long)].collect()
    assert(bd.nonEmpty)
    val exactPairs035 = ops.Llm.exactCosinePairs(
        spark.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id"), col("label"),
            transform(col("embedding"), x => x.cast("double")).as("v")),
        tau = 0.35, strict = false, lshBands = false)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    bd.foreach { case (dup, keep) =>
      assert(exDups.contains(dup), s"banded dup $dup not a dup on the exact path")
      assert(exactPairs035.contains((keep, dup)), s"($keep,$dup) not an exact τ=0.35 pair")
    }
  }

  test("LSH-banded pairwise recalls a planted tight cluster inside one label") {
    // cos ≈ 0.9999 neighbors (the production near-dup regime, where
    // the band S-curve is flat) must survive banding; the far vector
    // shares the label, so only the band key can exclude it from the
    // candidate product — and the exact verify kills it regardless
    val d = java.nio.file.Files.createTempDirectory("bandfix").toString
    val base = Array.tabulate(64)(i => math.sin(i * 0.7).toFloat)
    val nearA = base.clone(); nearA(0) = base(0) + 0.01f
    val nearB = base.clone(); nearB(1) = base(1) - 0.01f
    val far = Array.tabulate(64)(i => math.cos(i * 1.3).toFloat)
    Seq((1L, base, 0), (2L, nearA, 0), (3L, nearB, 0), (4L, far, 0))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$d/embeddings.parquet")
    val pairs = ops.Llm.simPairwiseThresholdLsh(spark, d)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(Set((1L, 2L), (1L, 3L), (2L, 3L)).subsetOf(pairs),
      s"tight cluster must be recalled through the bands, got $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), "far vector must not pair")
    val dups = ops.Llm.dedupEmbeddingCosineLsh(spark, d)
      .select("dup_id", "keep_id").as[(Long, Long)].collect().toMap
    assert(dups === Map(2L -> 1L, 3L -> 1L), s"got $dups")
  }

  test("sampling is independent of the split assignment (distinct salts)") {
    // With a shared salt, en docs kept at 50 % would all have split
    // bucket < 50 → all land in train, starving valid/test. The sample
    // bucket uses its own salt, so kept en docs must still reach the
    // valid (80..89) and test (90..99) split ranges.
    val kept = ops.Llm.sampleStratifiedHash(spark, "/root/testdata/sf0.01")
      .filter(col("lang") === "en")
      .withColumn("split", ops.Llm.splitName(ops.Llm.splitBucket(col("doc_id"))))
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(kept.getOrElse("valid", 0L) > 0, s"no valid docs in sampled en stratum: $kept")
    assert(kept.getOrElse("test", 0L) > 0, s"no test docs in sampled en stratum: $kept")
  }

  test("rational-α temperature: kept sets nest across α and the integer thr matches the float form at α=1/2") {
    val dir = "/root/testdata/sf0.01"
    val out = ops.Llm.sampleTemperatureRational(spark, dir)
      .select("alpha_p", "alpha_q", "doc_id", "lang", "thr")
      .as[(Int, Int, Long, String, Long)].collect()
    def keptAt(p: Int, q: Int): Set[Long] =
      out.filter(r => r._1 == p && r._2 == q).map(_._3).toSet
    // one hash gate, thr monotone in α ⇒ mixtures nest
    val k13 = keptAt(1, 3); val k12 = keptAt(1, 2); val k23 = keptAt(2, 3)
    assert(k13.subsetOf(k12) && k12.subsetOf(k23),
      s"α-mixtures must nest: |1/3|=${k13.size} |1/2|=${k12.size} |2/3|=${k23.size}")
    assert(k13.nonEmpty && k23.size > k12.size,
      "fixture must actually discriminate between temperatures")
    // at α = 1/2 the integer q-th-root threshold must equal the
    // fixed-α operator's float threshold per language (the float
    // chain is exact there — that was the reason α was pinned)
    val floatThr = ops.Llm.sampleTemperature(spark, dir)
      .select("lang", "thr").as[(String, Long)].collect().toMap
    val intThr = out.filter(r => r._1 == 1 && r._2 == 2)
      .map(r => r._4 -> r._5).toMap
    intThr.foreach { case (lang, t) =>
      assert(floatThr(lang) === t,
        s"α=1/2 integer thr must equal the float-form thr for $lang")
    }
  }

  test("exact mixture: quotas apportion the binding-language budget, deterministic membership") {
    val dir = "/root/testdata/sf0.01"
    val out = ops.Llm.sampleMixtureExact(spark, dir)
      .select("doc_id", "lang", "rank").as[(Long, String, Long)].collect()
    val avail = io.Readers.table(spark, dir, "documents")
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    val w = ops.Llm.MixtureWeights.toMap
    // reference apportionment: T = min_l floor(avail_l*1e6/w_l),
    // quota_l = floor(T*w_l/1e6)
    val t = w.map { case (l, p) => avail(l) * 1000000L / p }.min
    val expectQuota = w.map { case (l, p) => l -> t * p / 1000000L }
    val gotPerLang = out.groupBy(_._2).map { case (l, rs) => l -> rs.length.toLong }
    assert(gotPerLang === expectQuota.filter(_._2 > 0))
    // quotas never exceed availability, and the binding language is tight
    expectQuota.foreach { case (l, qn) => assert(qn <= avail(l)) }
    assert(expectQuota.exists { case (l, _) =>
      avail(l) * 1000000L / w(l) == t }, "some language must bind the budget")
    // ranks are 1..quota_l dense per language (deterministic admission)
    out.groupBy(_._2).foreach { case (l, rs) =>
      assert(rs.map(_._3).sorted.toSeq === (1L to expectQuota(l)).toSeq, l)
    }
    // a second evaluation is bit-identical (pure function of the corpus)
    val again = ops.Llm.sampleMixtureExact(spark, dir)
      .select("doc_id", "lang", "rank").as[(Long, String, Long)].collect()
    assert(again.toSeq === out.toSeq)
  }

  test("mixture epochs: quota decomposes as full_epochs*avail + partial, factor consistent") {
    val rows = ops.Llm.sampleMixtureEpochs(spark, "/root/testdata/sf0.01")
      .select("lang", "avail", "quota", "full_epochs", "partial_docs", "repeat_factor")
      .as[(String, Long, Long, Long, Long, Double)].collect()
    assert(rows.map(_._1).toSet === ops.Llm.MixtureWeights.map(_._1).toSet)
    rows.foreach { case (l, avail, quota, ep, part, rf) =>
      assert(quota === ops.Llm.MixtureWeights.toMap.apply(l) *
        ops.Llm.MixtureBudgetDocs / 1000000L, l)
      assert(quota === ep * avail + part, l)
      assert(part >= 0 && part < avail, l)
      assert(math.abs(rf - quota.toDouble / avail.toDouble) == 0.0, l)
    }
    // the corpus must actually exercise repetition (some lang repeats)
    assert(rows.exists(_._4 >= 1), "fixture must include an over-budget language")
  }
}
