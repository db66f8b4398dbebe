package graft

/** ops.AudioCodec — the WAV/PCM modality (round 14). Decode
  * correctness is pinned two independent ways, same discipline as
  * MultimodalCodecSpec: (1) a HAND-BUILT RIFF container with
  * hand-computed samples (ancillary chunk + odd-size padding on the
  * walk), (2) round-trips across depths and channel counts. The
  * integer signal kernel is verified against hand-computed
  * peak/energy/zc/band values, hostile inputs never throw, and the
  * registry key's cells replay from a driver-side loop.
  */
class AudioCodecSpec extends SparkSpec {

  import spark.implicits._

  private def le32(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)

  private def le16(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)

  private def fmtChunk(tag: Int, nCh: Int, rate: Int, bits: Int): Array[Byte] =
    "fmt ".getBytes("US-ASCII") ++ le32(16) ++ le16(tag) ++ le16(nCh) ++
      le32(rate) ++ le32(rate * nCh * (bits / 8)) ++ le16(nCh * (bits / 8)) ++
      le16(bits)

  private def riff(chunks: Array[Byte]): Array[Byte] =
    "RIFF".getBytes("US-ASCII") ++ le32(4 + chunks.length) ++
      "WAVE".getBytes("US-ASCII") ++ chunks

  test("hand-built WAV decodes to hand-computed samples; ancillary + odd-size chunks walked correctly") {
    // 16-bit mono: samples 1000, -1000, 32767, -32768 (little-endian)
    val data16 = Array[Byte](
      0xe8.toByte, 0x03, 0x18, 0xfc.toByte, // 1000, -1000
      0xff.toByte, 0x7f, 0x00, 0x80.toByte) // 32767, -32768
    // an odd-sized ancillary LIST chunk (5 bytes → 1 pad byte) BEFORE
    // fmt exercises both skip and RIFF even-padding
    val list = "LIST".getBytes("US-ASCII") ++ le32(5) ++
      Array[Byte](1, 2, 3, 4, 5, 0)
    val wav = riff(list ++ fmtChunk(1, 1, 8000, 16) ++
      "data".getBytes("US-ASCII") ++ le32(8) ++ data16)
    assert(ops.AudioCodec.isWav(wav))
    assert(ops.AudioCodec.wavMeta(wav) === Some((8000, 1, 16, 4L)))
    val Some((rate, nCh, s)) = ops.AudioCodec.decodeWav(wav)
    assert((rate, nCh) === ((8000, 1)))
    assert(s.toSeq === Seq(1000, -1000, 32767, -32768))
    // 8-bit unsigned: 128 → 0, 0 → -32768, 255 → 32512, 129 → 256
    val wav8 = riff(fmtChunk(1, 1, 44100, 8) ++
      "data".getBytes("US-ASCII") ++ le32(4) ++
      Array[Byte](128.toByte, 0, 255.toByte, 129.toByte))
    val Some((_, _, s8)) = ops.AudioCodec.decodeWav(wav8)
    assert(s8.toSeq === Seq(0, -32768, 32512, 256))
  }

  test("round-trip: 8/16-bit x mono/stereo exact; stereo mixes to mono by floor-mean") {
    val rnd = new scala.util.Random(42)
    for (bits <- Seq(8, 16); nCh <- Seq(1, 2, 4)) {
      val n = 32 * nCh
      val raw = Array.fill(n)(rnd.nextInt(65536) - 32768)
      // 8-bit quantizes to steps of 256: pre-quantize so the trip is exact
      val samples = if (bits == 8) raw.map(s => (s / 256) * 256) else raw
      val wav = ops.AudioCodec.encodeWav(16000, nCh, bits, samples)
      val got = ops.AudioCodec.decodeWav(wav)
      assert(got.isDefined, s"bits=$bits nCh=$nCh")
      assert(got.get._3.toSeq === samples.toSeq, s"bits=$bits nCh=$nCh")
    }
    val stereo = Array(100, 201, -100, -201) // frames (100,201), (-100,-201)
    assert(ops.AudioCodec.toMono(2, stereo).toSeq === Seq(150, -151),
      "floor-mean: (−100−201)/2 = −151, not −150")
  }

  test("unsupported profiles and hostile containers quarantine (None), never throw") {
    val good = ops.AudioCodec.encodeWav(8000, 1, 16, Array(1, 2, 3, 4))
    assert(ops.AudioCodec.decodeWav(good).isDefined)
    // IEEE-float format tag
    val f32 = riff(fmtChunk(3, 1, 8000, 16) ++
      "data".getBytes("US-ASCII") ++ le32(4) ++ Array[Byte](0, 0, 0, 0))
    assert(ops.AudioCodec.decodeWav(f32).isEmpty, "float tag")
    // 24-bit depth
    val b24 = riff(fmtChunk(1, 1, 8000, 24) ++
      "data".getBytes("US-ASCII") ++ le32(6) ++ Array.fill[Byte](6)(0))
    assert(ops.AudioCodec.decodeWav(b24).isEmpty, "24-bit")
    // data size claims more bytes than the file holds
    val truncated = riff(fmtChunk(1, 1, 8000, 16) ++
      "data".getBytes("US-ASCII") ++ le32(1 << 20) ++ Array[Byte](1, 2))
    assert(ops.AudioCodec.decodeWav(truncated).isEmpty, "truncated claim")
    // data length not a frame multiple (3 bytes of 16-bit stereo)
    val ragged = riff(fmtChunk(1, 2, 8000, 16) ++
      "data".getBytes("US-ASCII") ++ le32(3) ++ Array[Byte](1, 2, 3))
    assert(ops.AudioCodec.decodeWav(ragged).isEmpty, "ragged frames")
    // chopped mid-header, bad magic, empty
    assert(ops.AudioCodec.decodeWav(good.take(20)).isEmpty, "chopped")
    assert(ops.AudioCodec.decodeWav("JUNKJUNKJUNK".getBytes).isEmpty, "magic")
    assert(ops.AudioCodec.decodeWav(Array.empty[Byte]).isEmpty, "empty")
    // missing data chunk
    val noData = riff(fmtChunk(1, 1, 8000, 16))
    assert(ops.AudioCodec.decodeWav(noData).isEmpty, "no data chunk")
    // absurd channel count / zero rate
    assert(ops.AudioCodec.decodeWav(riff(fmtChunk(1, 99, 8000, 16) ++
      "data".getBytes("US-ASCII") ++ le32(0))).isEmpty, "99 channels")
    assert(ops.AudioCodec.decodeWav(riff(fmtChunk(1, 1, 0, 16) ++
      "data".getBytes("US-ASCII") ++ le32(0))).isEmpty, "zero rate")
  }

  test("integer signal kernel: hand-computed peak/energy/zc/Haar bands") {
    // alternating full-rate signal: all energy in the HIGH band
    val alt = Array(100, -100, 100, -100, 100, -100, 100, -100)
    val (p1, e1, z1, n1, b1) = ops.AudioCodec.audioStats(alt)
    assert((p1, e1, z1, n1) === ((100L, 80000L, 7L, 8L)))
    // pairs (100,−100): low = 0, high = 100 → level-1 energies 2·100²
    // each half; level-2 over zero lowpass = 0
    assert(b1.toSeq === Seq(0L, 0L, 20000L, 20000L))
    // constant signal: all energy in the LL band, zero crossings 0
    val const = Array.fill(8)(50)
    val (p2, e2, z2, _, b2) = ops.AudioCodec.audioStats(const)
    assert((p2, e2, z2) === ((50L, 20000L, 0L)))
    assert(b2.toSeq === Seq(5000L, 0L, 0L, 0L))
    // zeros don't count as crossings: +,0,− is ONE crossing
    val (_, _, z3, _, _) = ops.AudioCodec.audioStats(Array(10, 0, -10, 0, 10))
    assert(z3 === 2L, "+0-0+ crosses twice, zeros skipped")
    // floor-division Haar on odd values is exact integer math
    val (_, _, _, _, b4) = ops.AudioCodec.audioStats(Array(3, 2, -3, -2))
    // pairs: (3,2): low=2 (floor 2.5), h=0 (floor 0.5); (−3,−2):
    // low=−3 (floor −2.5), h=−1 (floor −0.5)
    // level2: pair (2,−3): l2=−1 (floor −0.5), h2=2 (floor 2.5)
    assert(b4.toSeq === Seq(1L, 4L, 0L, 1L))
  }

  test("features: spectral tilt separates tones; silence and sub-4-sample clips quarantine-or-zero") {
    def tone(period: Int, n: Int = 256, amp: Int = 8000): Array[Byte] =
      ops.AudioCodec.encodeWav(8000, 1, 16,
        Array.tabulate(n)(i => if ((i / period) % 2 == 0) amp else -amp))
    val lowA = ops.AudioCodec.audioFeaturesOf(tone(32)).get
    val lowB = ops.AudioCodec.audioFeaturesOf(tone(32, amp = 7500)).get
    val high = ops.AudioCodec.audioFeaturesOf(tone(1)).get
    def cos(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y }.sum
    assert(cos(lowA, lowB) > cos(lowA, high),
      "same-band tones must be nearer than cross-band")
    // silence: defined, finite (the +1 energy floor), zero-safe
    val sil = ops.AudioCodec.audioFeaturesOf(
      ops.AudioCodec.encodeWav(8000, 1, 16, Array.fill(16)(0)))
    assert(sil.isDefined && sil.get.forall(f => !f.isNaN && !f.isInfinite))
    // fewer than 4 mono frames → None
    assert(ops.AudioCodec.audioFeaturesOf(
      ops.AudioCodec.encodeWav(8000, 1, 16, Array(1, 2))).isEmpty)
  }

  test("G.711 companding: hand-checked expansions, enc(dec) identity, quantization bound, features track linear") {
    // hand-checked decode values: μ-law zero codes 0xFF / 0x7F → 0;
    // μ-law 0x00 decodes to the most-negative level
    assert(ops.AudioCodec.ulawToLinear(0xFF.toByte) === 0)
    assert(ops.AudioCodec.ulawToLinear(0x7F.toByte) === 0)
    assert(ops.AudioCodec.ulawToLinear(0x00.toByte) ===
      -(((0x0f << 3) + 0x84) << 7) + 0x84) // = -32124
    // A-law: 0x55 toggles to 0 → seg 0, mantissa 0, sign 0 → −8;
    // 0xD5 is its positive twin
    assert(ops.AudioCodec.alawToLinear(0x55.toByte) === -8)
    assert(ops.AudioCodec.alawToLinear(0xD5.toByte) === 8)
    // enc(dec(b)) == b wherever decode is injective: all 256 A-law
    // codes; all μ-law codes except one of the ±0 twins (the
    // nearest-level map resolves 0 to 0x7F, so 0xFF round-trips to
    // 0x7F — same level, standard collision)
    (0 until 256).foreach { b =>
      assert(ops.AudioCodec.linearToAlaw(
        ops.AudioCodec.alawToLinear(b.toByte)) === b.toByte, s"alaw $b")
      if (b != 0xFF)
        assert(ops.AudioCodec.linearToUlaw(
          ops.AudioCodec.ulawToLinear(b.toByte)) === b.toByte, s"ulaw $b")
    }
    assert(ops.AudioCodec.linearToUlaw(0) === 0x7F.toByte)
    // nearest-level quantization error bound (top-segment step ~1024)
    val rnd = new scala.util.Random(11)
    (0 until 2000).foreach { _ =>
      val s = rnd.nextInt(60001) - 30000
      val du = ops.AudioCodec.ulawToLinear(ops.AudioCodec.linearToUlaw(s))
      val da = ops.AudioCodec.alawToLinear(ops.AudioCodec.linearToAlaw(s))
      assert(math.abs(du - s) <= 600, s"ulaw err at $s: $du")
      assert(math.abs(da - s) <= 600, s"alaw err at $s: $da")
    }
    // a companded container decodes through the same surface and its
    // features track the 16-bit original
    val tone = Array.tabulate(256)(i => if ((i / 16) % 2 == 0) 8000 else -8000)
    val lin = ops.AudioCodec.encodeWav(8000, 1, 16, tone)
    val mu = ops.AudioCodec.encodeWavCompanded(8000, 1, 7, tone)
    val al = ops.AudioCodec.encodeWavCompanded(8000, 1, 6, tone)
    assert(ops.AudioCodec.wavMeta(mu) === Some((8000, 1, 8, 256L)))
    val fLin = ops.AudioCodec.audioFeaturesOf(lin).get
    for ((nm, c) <- Seq("ulaw" -> mu, "alaw" -> al)) {
      val f = ops.AudioCodec.audioFeaturesOf(c).get
      val cos = f.zip(fLin).map { case (a, b) => a.toDouble * b }.sum
      assert(cos > 0.9999, s"$nm features must track linear, cos=$cos")
    }
    // 16-bit claims with companded tags (and vice versa) quarantine
    val bad = mu.clone(); bad(34) = 16 // bits field
    assert(ops.AudioCodec.decodeWav(bad).isEmpty, "companded 16-bit claim")
  }

  test("multimodal_audio_features: per-label cells replay from a driver-side codec loop; every decode ok") {
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val got = ops.Llm2.multimodalAudioFeatures(spark, dir).collect()
      .map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val emb = io.Readers.table(spark, dir, "embeddings")
      .select(col("label"), col("embedding")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
    val want = emb.groupBy(_._1).map { case (l, g) =>
      val cells = g.map { case (_, e) =>
        val samples = e.map(x =>
          math.max(-32768, math.min(32767, (x * 16384.0f).toInt)))
        val wav = ops.AudioCodec.encodeWav(8000, 1, 16, samples)
        val Some((_, nCh, dec)) = ops.AudioCodec.decodeWav(wav)
        val (_, energy, zc, _, bands) =
          ops.AudioCodec.audioStats(ops.AudioCodec.toMono(nCh, dec))
        (energy, bands(0) + bands(1), zc)
      }
      l -> ((g.length.toLong, g.length.toLong,
        cells.map(_._1).sum, cells.map(_._2).sum, cells.map(_._3).sum))
    }
    assert(got === want, "cells must replay exactly (integer kernel)")
    assert(got.values.forall { case (n, ok, _, _, _) => n === ok },
      "every synthesized container must decode")
  }

  test("end-to-end audio retrieval: WAV corpus (linear + G.711 mixed) -> features -> persisted IVF -> class-pure neighbors") {
    // three signal classes separated by the Haar band split: period 32
    // (LL-dominant), period 4 (LH), period 1 (high band)
    val periods = Array(32, 4, 1)
    def wave(kind: Int, variant: Int): Array[Int] = {
      val amp = 7000 + variant * 37
      val phase = variant * 3
      Array.tabulate(256)(i =>
        if (((i + phase) / periods(kind)) % 2 == 0) amp else -amp)
    }
    // mixed containers: 16-bit linear, mu-law, A-law per variant
    def container(kind: Int, variant: Int): Array[Byte] = {
      val s = wave(kind, variant)
      variant % 3 match {
        case 0 => ops.AudioCodec.encodeWav(8000, 1, 16, s)
        case 1 => ops.AudioCodec.encodeWavCompanded(8000, 1, 7, s)
        case 2 => ops.AudioCodec.encodeWavCompanded(8000, 1, 6, s)
      }
    }
    val corpus = (for (kind <- 0 until 3; v <- 0 until 20) yield {
      val id = kind * 100L + v
      (id, ops.AudioCodec.audioFeaturesOf(container(kind, v)).get
        .map(_.toDouble))
    }).toDF("vec_id", "v")
    ops.IvfIndex.buildIndex(spark, corpus, "ivf_audio", nlist = 4)
    try {
      // fresh unseen variants probe the persisted index
      val probes = (0 until 3).map { kind =>
        (1000L + kind, ops.AudioCodec.audioFeaturesOf(container(kind, 99)).get
          .map(_.toDouble))
      }.toDF("p_id", "pv")
      val got = ops.IvfIndex.probe(spark, probes, "ivf_audio", nprobe = 2, k = 8)
        .collect().map(r => (r.getLong(0), r.getLong(2)))
      (0 until 3).foreach { kind =>
        val nbrs = got.filter(_._1 == 1000L + kind).map(_._2)
        assert(nbrs.nonEmpty, s"class $kind retrieves")
        assert(nbrs.forall(id => id / 100 == kind),
          s"class $kind neighbors pure: ${nbrs.mkString(",")}")
      }
    } finally io.TableManifest.drop(spark, "ivf_audio")
  }

  test("audio features flow into the vector family: nearest neighbor by signal content") {
    def wave(period: Int, amp: Int, n: Int = 128): Array[Byte] =
      ops.AudioCodec.encodeWav(8000, 1, 16,
        Array.tabulate(n)(i => if ((i / period) % 2 == 0) amp else -amp))
    val media = Seq(
      (1L, wave(16, 9000)), (2L, wave(16, 8500)), (3L, wave(1, 9000)))
    val feats = media.map { case (id, b) =>
      (id, ops.AudioCodec.audioFeaturesOf(b).get)
    }
    val df = feats.toDF("vec_id", "v")
    val probe = feats.head._2
    val sims = df.collect().map { r =>
      val v = r.getSeq[Float](1)
      r.getLong(0) -> v.zip(probe).map { case (a, b) => a.toDouble * b }.sum
    }.toMap
    assert(sims(2L) > sims(3L),
      "the same-period waveform must out-rank the cross-band one")
  }
}
