package graft

import org.apache.spark.sql.functions._

/** Semantics of the extended training-data ops on planted fixtures:
  * language-ID discrimination on real-language text, SimHash recall,
  * IVF-ANN recall vs brute force, fingerprint sensitivity, multimodal
  * decode/resize/frame plumbing.
  */
class Llm2Spec extends SparkSpec {
  import spark.implicits._

  private lazy val fixtureDir: String = {
    val d = java.nio.file.Files.createTempDirectory("llm2fix").toString
    Seq(
      (1L, "the cat is on the roof and the dog is with that other cat in this house", "en", "s1", 70L),
      (2L, "el perro y la gata de que los vecinos hablan y una casa de la calle", "es", "s1", 67L),
      (3L, "der hund und die katze ist nicht das problem und ein haus ist der ort", "de", "s1", 69L),
      (4L, "le chien et les chats est une belle chose dans la rue et pour la vie", "fr", "s1", 68L),
      (5L, "数据 处理 引擎 在 集群 上 运行", "zh", "s2", 14L),
      (6L, "qqq www eee rrr ttt yyy uuu iii", "en", "s2", 31L),
      // simhash near-dup pair: one bigram feature differs out of 101
      // (vote margins widen with doc length; short docs flip more bits)
      (7L, (1 to 101).map(i => s"tok$i").mkString(" ") + " nu", "en", "s3", 70L),
      (8L, (1 to 101).map(i => s"tok$i").mkString(" ") + " xi", "en", "s3", 70L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    // two tight clusters far apart + probes inside them
    val vecs = Seq(
      (0L, Array(10f, 0f, 0f), 0), (1L, Array(0f, 10f, 0f), 1),
      (10L, Array(9.8f, 0.5f, 0f), 0), (11L, Array(9.9f, -0.4f, 0f), 0),
      (12L, Array(0.3f, 9.7f, 0f), 1), (13L, Array(-0.2f, 9.9f, 0f), 1),
      (14L, Array(9.7f, 0.1f, 0.2f), 0)
    ).toDF("vec_id", "embedding", "label")
    vecs.coalesce(1).write.parquet(s"$d/embeddings.parquet")
    d
  }

  test("language ID discriminates real-language text, CJK dominates, und fallback") {
    val r = ops.Llm2.textLangId(spark, fixtureDir)
      .select("doc_id", "pred_lang").as[(Long, String)].collect().toMap
    assert(r(1L) === "en"); assert(r(2L) === "es"); assert(r(3L) === "de")
    assert(r(4L) === "fr"); assert(r(5L) === "zh"); assert(r(6L) === "und")
  }

  test("quality score bounded [0,1], degenerate text scores lower than clean text") {
    val r = ops.Llm2.textQualityScore(spark, fixtureDir)
      .select("doc_id", "quality").as[(Long, Double)].collect().toMap
    r.values.foreach(q => assert(q >= 0.0 && q <= 1.0))
  }

  test("fingerprint: identical normalized text → same fp; one-char change → different fp") {
    val d = java.nio.file.Files.createTempDirectory("fp").toString
    Seq((1L, "abc def", "en", "s", 7L), (2L, "ABC   def", "en", "s", 9L),
      (3L, "abc deg", "en", "s", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    val r = ops.Llm2.textFingerprint(spark, d)
      .select("doc_id", "fingerprint").as[(Long, Long)].collect().toMap
    assert(r(1L) === r(2L), "case/whitespace-normalized texts share a fingerprint")
    assert(r(1L) !== r(3L), "single char change must move the fingerprint")
  }

  test("SimHash pairs the planted near-duplicate and nothing else") {
    val got = ops.Llm2.dedupSimhash(spark, fixtureDir)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(got.contains((7L, 8L)), "near-dup pair (12/13 shared tokens) must collide")
    assert(!got.exists(p => Set(1L, 2L, 3L, 4L, 5L)(p._1)), "distinct docs must not pair")
  }

  test("IVF ANN with nprobe=2 equals brute force on two-cluster data") {
    // nlist=2, nprobe=2 on the 7-vector fixture: probes search BOTH
    // cells — the whole corpus — so whatever cells training produced,
    // the answer must be exactly brute force
    val emb = spark.read.parquet(s"$fixtureDir/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val ann = ops.Llm2.annIvf(emb, col("vec_id") < 5, nlist = 2, nprobe = 2, k = 3)
      .select("p_id", "rank", "vec_id").as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    // probe 0 lives in the x-cluster: nearest are 11, 14, 10 (by cosine)
    assert(ann(0L).toSet === Set(10L, 11L, 14L))
    // probe 1's own y-cluster holds 12, 13; nprobe=2 also searches the
    // x-cluster, so the true global #3 (vector 10, cos ≈ 0.05) appears —
    // exactly brute force's answer on this fixture
    assert(ann(1L).toSet === Set(12L, 13L, 10L))
  }

  test("IVF ANN recall >= 0.9 vs brute force on random clustered data (fixture independent of seeding)") {
    // 48 vectors in 4 well-separated Gaussian cones, 16-dim, ids
    // SHUFFLED so cluster structure is uncorrelated with vec_id —
    // nothing about the fixture aligns with the hash-sampled seeds
    val rnd = new scala.util.Random(1234)
    val centers = Array.fill(4)(Array.fill(16)(rnd.nextGaussian() * 5))
    val raw = (0 until 48).map { i =>
      val c = centers(i % 4)
      c.map(x => x + rnd.nextGaussian() * 0.3)
    }
    val ids = rnd.shuffle((0L until 48L).toVector)
    val data = ids.zip(raw).map { case (id, v) => (id, v.toSeq) }
    val emb = data.toDF("vec_id", "v")
    val k = 3
    // nlist=8 over 4 planted clusters → ~2 cells per cluster; nprobe=3
    // is the matching recall knob (a probe must reach every sub-cell
    // its true neighbors may have split into)
    val ann = ops.Llm2.annIvf(emb, col("vec_id") < 5, nlist = 8, nprobe = 3, k = k)
      .select("p_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val byId = data.toMap
    val recalls = (0L until 5L).map { p =>
      val brute = data.filter(_._1 != p)
        .sortBy { case (id, v) => (-cos(byId(p), v), id) }
        .take(k).map(_._1).toSet
      ann.getOrElse(p, Set.empty).intersect(brute).size.toDouble / k
    }
    val recall = recalls.sum / recalls.size
    assert(recall >= 0.9, s"IVF recall $recall < 0.9 (per-probe: $recalls)")

    // the 100 TB training path: quantizer trained on a ~1/2 hash sample
    // (trainSampleMod=2) while assignment/search still see every vector
    // — recall must hold, since cell QUALITY (not membership of the
    // training set) is what the sample affects
    val annSampled = ops.Llm2.annIvf(emb, col("vec_id") < 5, nlist = 8, nprobe = 3, k = k,
        trainSampleMod = 2L)
      .select("p_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recallsSampled = (0L until 5L).map { p =>
      val brute = data.filter(_._1 != p)
        .sortBy { case (id, v) => (-cos(byId(p), v), id) }
        .take(k).map(_._1).toSet
      annSampled.getOrElse(p, Set.empty).intersect(brute).size.toDouble / k
    }
    val recallSampled = recallsSampled.sum / recallsSampled.size
    assert(recallSampled >= 0.9,
      s"sampled-training IVF recall $recallSampled < 0.9 (per-probe: $recallsSampled)")
  }

  test("hyperplane LSH recalls a tight cosine cluster, skips unrelated vectors") {
    val d = java.nio.file.Files.createTempDirectory("lsh").toString
    import spark.implicits._
    val base = Array.tabulate(64)(i => math.sin(i * 0.7).toFloat)
    val nearA = base.clone(); nearA(0) = base(0) + 0.01f       // cos ≈ 0.9999
    val nearB = base.clone(); nearB(1) = base(1) - 0.01f
    val far = Array.tabulate(64)(i => math.cos(i * 1.3).toFloat) // unrelated
    Seq((1L, base, 0), (2L, nearA, 0), (3L, nearB, 0), (4L, far, 1))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$d/embeddings.parquet")
    Seq((1L, "x", "en", "s", 1L)).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    val pairs = ops.Llm2.simLshHyperplane(spark, d)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)),
      s"tight cluster must be recalled, got $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), "unrelated vector must not pair")
  }

  test("repetition stats flag a looping doc, clear a clean one, null out one-token docs") {
    val d = java.nio.file.Files.createTempDirectory("rep").toString
    Seq(
      (1L, "spam spam spam spam spam", "en", "s", 25L),          // generation loop
      (2L, "every word here is fully distinct today", "en", "s", 40L), // clean
      (3L, "solo", "en", "s", 4L))                               // no bigrams
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    val r = ops.Llm2.textRepetitionStats(spark, d)
      .as[(Long, Long, Long, Long, Option[Double])].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4, t._5))).toMap
    // 5 tokens, 1 distinct, hottest freq 5; 4 bigrams all "spam spam" → frac 0.75
    assert(r(1L) === ((5L, 1L, 5L, Some(0.75))))
    assert(r(2L) === ((7L, 7L, 1L, Some(0.0))))
    assert(r(3L) === ((1L, 1L, 1L, None)))
  }

  test("sequence packing: exact-budget packs, doc-partitioning slices, bucket-invariant prefix sum") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val budget = 128
    val packs = ops.Llm2.packSequences(docs, budget)
      .as[(Long, Long, Long, Long)].collect().toSeq // (pack_id, doc_id, tok_start, n_toks)
    assert(packs.nonEmpty)
    // every pack except the last carries exactly `budget` tokens
    val perPack = packs.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap
    val lastPack = perPack.keys.max
    perPack.foreach { case (p, tot) =>
      if (p != lastPack) assert(tot === budget.toLong, s"pack $p holds $tot tokens")
      else assert(tot <= budget.toLong && tot > 0)
    }
    // a doc's slices partition its token range: start at 0, contiguous,
    // summing to the doc's whitespace token count
    val nByDoc = docs.select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n"))
      .as[(Long, Long)].collect().toMap
    packs.groupBy(_._2).foreach { case (doc, slices) =>
      val ordered = slices.sortBy(_._1)
      assert(ordered.head._3 === 0L, s"doc $doc first slice starts at ${ordered.head._3}")
      ordered.sliding(2).foreach {
        case Seq(a, b) => assert(b._3 === a._3 + a._4, s"doc $doc slices not contiguous")
        case _ =>
      }
      assert(ordered.map(_._4).sum === nByDoc(doc), s"doc $doc slices don't cover it")
    }
    // the distributed prefix sum is invariant to the bucket size (a
    // 7-id bucket forces many buckets through the offset join)
    val small = ops.Llm2.packSequences(docs, budget, bucketSize = 7L)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(small === packs, "bucketSize must not change the packing")
  }

  test("multimodal: decode stub parses header, quarantines corrupt bytes") {
    val media = Seq(
      (1L, ops.Multimodal.encodeHeader(640, 480, 3, 1, Array.fill[Byte](100)(7))),
      (2L, ops.Multimodal.encodeHeader(64, 64, 1, 2, Array.fill[Byte](10)(1))),
      (3L, Array[Byte](1, 2, 3)), // too short → quarantine
      (4L, "JUNKJUNKJUNKJUNK".getBytes) // wrong magic → quarantine
    ).toDS()
    val r = ops.Multimodal.withDecodedMeta(media)
    val byId = r.select("media_id", "width", "format")
      .as[(Long, Option[Int], Option[String])].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(byId(1L) === ((Some(640), Some("jpeg-like"))))
    assert(byId(2L) === ((Some(64), Some("png-like"))))
    assert(byId(3L) === ((None, None)))
    assert(byId(4L) === ((None, None)))
  }

  test("multimodal: resize shrinks payload proportionally; frame sampling strides") {
    val payload = Array.tabulate[Byte](1000)(i => (i % 127).toByte)
    val media = Seq((1L, ops.Multimodal.encodeHeader(100, 100, 3, 0, payload))).toDS()
    val resized = ops.Multimodal.resizeStub(media, 10, 10).collect().head
    assert(resized.getBoolean(2))
    val outBytes = resized.getAs[Array[Byte]]("resized")
    assert(outBytes.length === 12 + 10, "1% pixel ratio keeps 10 of 1000 payload bytes")
    val frames = ops.Multimodal.sampleFrames(media, frameSize = 100, stride = 2)
    assert(frames.count() === 5, "10 chunks, every 2nd sampled")
    assert(frames.select(max("frame_idx")).as[Int].collect().head === 8)
  }

  test("multimodal: REAL raw-format box downsample — exact block means on crafted bitmaps") {
    // 2x2 grayscale checkerboard 0/255 -> 1x1: floor((0+255+255+0)/4) = 127
    val checker = ops.Multimodal.encodeHeader(2, 2, 1, 0,
      Array[Byte](0, -1, -1, 0)) // -1 = 0xff
    // 4x4 grayscale with distinct quadrant constants -> 2x2 exact
    val quad = ops.Multimodal.encodeHeader(4, 4, 1, 0, Array.tabulate[Byte](16) { i =>
      val (y, x) = (i / 4, i % 4)
      (if (y < 2 && x < 2) 10 else if (y < 2) 20 else if (x < 2) 30 else 40).toByte
    })
    val media = Seq((1L, checker), (2L, quad),
      (3L, ops.Multimodal.encodeHeader(2, 2, 1, 0, Array[Byte](1))), // length mismatch
      (4L, ops.Multimodal.encodeHeader(2, 2, 1, 1, Array[Byte](0, 0, 0, 0))) // jpeg tag → not raw
    ).toDS()
    val out1 = ops.Multimodal.resizeRaw(media, 1, 1).collect()
      .map(r => r.getLong(0) -> (r.getAs[Array[Byte]](1), r.getBoolean(2))).toMap
    assert(out1(1L)._2 && out1(1L)._1.drop(12).toSeq === Seq(127.toByte))
    assert(!out1(3L)._2 && !out1(4L)._2, "length mismatch and compressed tags quarantine")
    val out2 = ops.Multimodal.resizeRaw(media.filter(_._1 == 2L), 2, 2).collect().head
    assert(out2.getAs[Array[Byte]](1).drop(12).toSeq ===
      Seq[Byte](10, 20, 30, 40), "quadrant means exact")
    // identity resize reproduces the payload bit-for-bit
    val idm = ops.Multimodal.resizeRaw(media.filter(_._1 == 2L), 4, 4).collect().head
    assert(idm.getAs[Array[Byte]](1).toSeq === quad.toSeq)
  }

  test("multimodal: REAL raw-format features — channel means + 4x4 luminance grid, unit-norm") {
    // 8x8 grayscale: left half 0, right half 200 -> grid columns split exactly
    val split = ops.Multimodal.encodeHeader(8, 8, 1, 0, Array.tabulate[Byte](64) { i =>
      (if (i % 8 < 4) 0 else 200.toByte).toByte
    })
    val uniform = ops.Multimodal.encodeHeader(8, 8, 1, 0, Array.fill[Byte](64)(100))
    val media = Seq((1L, split), (2L, uniform)).toDS()
    val out = ops.Multimodal.extractFeaturesRaw(media).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val f1 = out(1L); val f2 = out(2L)
    assert(f1.length === 17 && f2.length === 17) // 1 channel mean + 16 grid
    // unit norm
    assert(math.abs(f1.map(x => x * x).sum - 1.0) < 1e-5)
    // split image: grid columns 0-1 are zero, 2-3 positive and equal, per row
    val grid1 = f1.drop(1)
    (0 until 4).foreach { gy =>
      assert(grid1(gy * 4) === 0.0f && grid1(gy * 4 + 1) === 0.0f)
      assert(grid1(gy * 4 + 2) > 0 && grid1(gy * 4 + 2) === grid1(gy * 4 + 3))
    }
    // uniform image: all grid cells equal
    assert(f2.drop(1).distinct.length === 1)
  }

  test("PII scrub redacts planted emails and phone runs, leaves clean text untouched") {
    val rows = Seq(
      "contact me at jane.doe+work@example.org or +1 (412) 555-0199 please",
      "no pii here, just words and the number 42",
      "two mails: a@b.co b@c.org; landline 08 123 4567").toDF("text")
    val out = rows.select(ops.Llm2.piiScrub(col("text")).as("s"),
      regexp_count(col("text"), lit(ops.Llm2.EmailRe)).as("ne"),
      regexp_count(col("text"), lit(ops.Llm2.PhoneRe)).as("np"))
      .as[(String, Int, Int)].collect()
    assert(out(0) === (("contact me at [EMAIL] or [PHONE] please", 1, 1)))
    assert(out(1) === (("no pii here, just words and the number 42", 0, 0)))
    assert(out(2) === (("two mails: [EMAIL] [EMAIL]; landline [PHONE]", 2, 1)))
  }

  test("multimodal: feature extraction is deterministic, unit-norm, feeds cosine ops") {
    val media = Seq(
      (1L, ops.Multimodal.encodeHeader(32, 32, 3, 0, Array.tabulate[Byte](50)(_.toByte))),
      (2L, ops.Multimodal.encodeHeader(32, 32, 3, 0, Array.tabulate[Byte](50)(i => (i + 1).toByte))),
      (3L, Array[Byte](9, 9)) // corrupt → null embedding
    ).toDS()
    val f1 = ops.Multimodal.extractFeaturesStub(media, dim = 8)
      .select("media_id", "embedding", "ok")
      .as[(Long, Option[Seq[Float]], Boolean)].collect().sortBy(_._1)
    val f2 = ops.Multimodal.extractFeaturesStub(media, dim = 8)
      .select("media_id", "embedding", "ok")
      .as[(Long, Option[Seq[Float]], Boolean)].collect().sortBy(_._1)
    assert(f1.toSeq === f2.toSeq, "same bytes → same features, every run")
    assert(f1(2)._2.isEmpty && !f1(2)._3, "corrupt input yields null embedding, ok=false")
    val norm = math.sqrt(f1(0)._2.get.foldLeft(0.0)((s, x) => s + x.toDouble * x))
    assert(math.abs(norm - 1.0) < 1e-5, s"unit-norm, got $norm")
    // composable with the engine's cosine expression (self-sim = 1)
    val emb = ops.Multimodal.extractFeaturesStub(media, dim = 8).filter(col("ok"))
      .select(col("media_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
    val self = emb.as("a").join(emb.as("b"), col("a.media_id") === col("b.media_id"))
      .select(functions.TextExpressions.cosineSim(col("a.v"), col("b.v")).as("sim"))
      .as[Double].collect()
    assert(self.forall(s => math.abs(s - 1.0) < 1e-9))
  }

  test("text_feature_hash: buckets match an independent md5 reference; mass is conserved") {
    val dir = "/root/testdata/sf0.001"
    val got = ops.Llm2.textFeatureHash(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // independent reference: JDK MessageDigest, same salt discipline
    def bucket(term: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"graft-fh|$term".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16) % 64
    }
    val docs = io.Readers.table(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    val want = docs.flatMap { case (id, t) =>
      t.trim.replaceAll("\\s+", " ").toLowerCase.split(" ").filter(_.nonEmpty)
        .map(w => (id, bucket(w)))
    }.groupBy(identity).map { case (k, g) => k -> g.length.toLong }
    assert(got === want)
    // conservation: per-doc bucket mass equals the token count
    val tokCount = docs.map { case (id, t) =>
      id -> t.trim.replaceAll("\\s+", " ").toLowerCase.split(" ").count(_.nonEmpty).toLong
    }.filter(_._2 > 0).toMap
    val gotPerDoc = got.groupBy(_._1._1).map { case (id, m) => id -> m.values.sum }
    assert(gotPerDoc === tokCount)
    // the 64-bucket space actually collides on this vocabulary (the
    // trick's accepted trade — distinct terms > occupied buckets)
    val distinctTerms = docs.flatMap(_._2.trim.replaceAll("\\s+", " ")
      .toLowerCase.split(" ").filter(_.nonEmpty)).distinct.length
    val occupied = got.keySet.map(_._2).size
    assert(occupied <= 64 && occupied <= distinctTerms)
  }

  test("sample_epoch_shuffle: epochs are distinct reproducible permutations; head is the global min") {
    val dir = "/root/testdata/sf0.001"
    val run1 = ops.Llm2.sampleEpochShuffle(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val run2 = ops.Llm2.sampleEpochShuffle(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(run1.toSeq === run2.toSeq, "shuffle must be run-stable")
    assert(run1.map(_._1).distinct.sorted.toSeq === Seq(0L, 1L, 2L))
    // distinct permutations: the top-20 doc sequences differ across epochs
    val heads = run1.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(heads(0L) != heads(1L) && heads(1L) != heads(2L),
      "epochs must not repeat an order")
    // the emitted head IS the 20 globally-smallest keys per epoch
    val docIds = io.Readers.table(spark, dir, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"))
      .collect().map(_.getLong(0))
    def key(e: Long, d: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s"graft-epoch|$e|$d".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    }
    (0L to 2L).foreach { e =>
      val want = docIds.map(d => (key(e, d), d)).sortBy(identity).take(20)
      val got = run1.filter(_._1 == e).sortBy(_._2).map(t => (t._4, t._3)).toSeq
      assert(got === want.toSeq, s"epoch $e head must be the md5-order minimum")
    }
  }

  test("text_lang_confusion: full grid, conservation, and agreement with the scorer key") {
    val dir = "/root/testdata/sf0.001"
    val rows = ops.Llm2.textLangConfusion(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3))))
    val langs = rows.map(_._1._1).distinct
    assert(rows.length === langs.length * 6, "full actual x domain grid, zero cells kept")
    val nDocs = io.Readers.table(spark, dir, "documents").count()
    assert(rows.map(_._2._1).sum === nDocs, "cells partition the corpus")
    rows.groupBy(_._1._1).foreach { case (l, g) =>
      assert(g.map(_._2._1).sum === g.head._2._2, s"marginal $l")
    }
    // cell counts equal a direct join of the scorer key with the truth
    val preds = ops.Llm2.textLangId(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(6)).toMap
    val truth = io.Readers.table(spark, dir, "documents")
      .select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val want = truth.groupBy { case (id, l) => (l, preds(id)) }
      .view.mapValues(_.length.toLong).toMap
    rows.foreach { case ((l, p), (n, _)) =>
      assert(n === want.getOrElse((l, p), 0L), s"cell $l/$p")
    }
  }

  test("stat_cohens_kappa: cells replay from the confusion matrix; kappa identity; near-zero here") {
    val dir = "/root/testdata/sf0.001"
    val conf = ops.Llm2.textLangConfusion(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
    val n = conf.map(_._2).sum
    val agree = conf.collect { case ((l, p), c) if l == p => c }.sum
    val rm = conf.groupBy(_._1._1).view.mapValues(_.map(_._2).sum).toMap
    val cm = conf.groupBy(_._1._2).view.mapValues(_.map(_._2).sum).toMap
    val pe = rm.collect { case (l, r) if cm.contains(l) => r * cm(l) }.sum
    val row = ops.Llm2.statCohensKappa(spark, dir).head()
    assert(row.getLong(0) === n && row.getLong(1) === agree && row.getLong(2) === pe)
    assert(row.getDouble(3) ===
      (agree * n - pe).toDouble / (n * n - pe).toDouble, "kappa identity")
    // the documented reading of the confusion key's no-signal finding:
    // chance-corrected agreement sits at ~0 on this corpus
    assert(math.abs(row.getDouble(3)) < 0.1, s"kappa = ${row.getDouble(3)}")
  }
}
