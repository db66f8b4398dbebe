package graft.ops

/** Pure-JVM WAV/PCM audio codec (round 14 — r13 verdict item 4:
  * complete the modality set; the [[ImageCodec]] discipline applied
  * to audio).
  *
  * WAV (RIFF, de-facto Microsoft/IBM spec): the container is a chunk
  * walk — `RIFF <size> WAVE`, then `fmt ` (format tag, channels,
  * sample rate, bits) and `data` (interleaved little-endian PCM
  * frames), with ancillary chunks (`LIST`, `fact`, …) skipped and
  * odd-sized chunks padded to even per the RIFF rule. Supported
  * profile: format tag 1 (integer PCM), 8-bit unsigned or 16-bit
  * signed, 1–8 channels. Anything else (IEEE-float tag 3, 24-bit,
  * ADPCM, extensible-only headers) returns None → the same
  * quarantine path as corrupt input.
  *
  * Hardening (the r13 ADVICE class, applied from the start): every
  * size field is untrusted — chunk sizes are read as longs, bounds-
  * checked against the actual byte count before ANY allocation, and
  * the decoded sample array is capped by [[ImageCodec.MaxDecodedBytes]]
  * (WAV is uncompressed, so a truncated-claim check bounds
  * allocation by input size; the cap guards the 4×-expansion of
  * bytes → Int samples). Decoders never throw on hostile input.
  *
  * Samples normalize to SIGNED 16-BIT range in an Int array
  * (8-bit unsigned u → (u−128)·256), so every downstream feature
  * sees one scale regardless of source depth — exact integer
  * arithmetic throughout, same stance as the PNG unfiltering.
  *
  * The encoder exists for fixtures/tests (hand-built-container and
  * round-trip specs pin the decoder independently of the encoder).
  */
object AudioCodec {

  def isWav(bytes: Array[Byte]): Boolean =
    bytes != null && bytes.length >= 12 &&
      bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F' &&
      bytes(8) == 'W' && bytes(9) == 'A' && bytes(10) == 'V' && bytes(11) == 'E'

  private def le32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL)) | ((b(off + 1) & 0xffL) << 8) |
      ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)

  private def le16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  /** Walk the chunk list and return (fmtOff, fmtLen, dataOff, dataLen)
    * or None on a malformed container. Sizes are validated in LONG
    * arithmetic against the real byte count.
    */
  private def chunks(bytes: Array[Byte]): Option[(Int, Long, Int, Long)] = {
    var off = 12L
    var fmt: Option[(Int, Long)] = None
    var data: Option[(Int, Long)] = None
    while (off + 8 <= bytes.length && (fmt.isEmpty || data.isEmpty)) {
      val id = new String(bytes, off.toInt, 4, "US-ASCII")
      val len = le32(bytes, off.toInt + 4)
      if (len < 0 || off + 8 + len > bytes.length) return None // truncated claim
      if (id == "fmt ") fmt = Some((off.toInt + 8, len))
      if (id == "data") data = Some((off.toInt + 8, len))
      off += 8 + len + (len & 1L) // RIFF pads odd chunks to even
    }
    for ((fo, fl) <- fmt; (do_, dl) <- data) yield (fo, fl, do_, dl)
  }

  /** Format tag of the container: 1 (integer PCM), 6 (G.711 A-law),
    * 7 (G.711 μ-law). Companded tags require 8-bit samples.
    */
  private def fmtTag(bytes: Array[Byte], fo: Int): Int = le16(bytes, fo)

  /** Header-only metadata: (sampleRate, channels, bitsPerSample,
    * nFrames). None unless the supported profile — integer PCM
    * (8/16-bit) or G.711 companded (tags 6/7, 8-bit by definition;
    * round 14 — the telephony-corpus surface, §8.r15 item 5 pulled
    * in).
    */
  def wavMeta(bytes: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    if (!isWav(bytes)) return None
    chunks(bytes).flatMap { case (fo, fl, _, dl) =>
      if (fl < 16) return None
      val tag = fmtTag(bytes, fo)
      val nCh = le16(bytes, fo + 2)
      val rate = le32(bytes, fo + 4)
      val bits = le16(bytes, fo + 14)
      val okProfile = tag match {
        case 1 => bits == 8 || bits == 16
        case 6 | 7 => bits == 8
        case _ => false
      }
      if (!okProfile || nCh < 1 || nCh > 8 || rate <= 0 || rate > 1000000)
        return None
      val frameBytes = nCh.toLong * (bits / 8)
      if (dl % frameBytes != 0) return None
      Some((rate.toInt, nCh, bits, dl / frameBytes))
    }
  }

  // ----------------------------------------------- G.711 companding

  /** G.711 μ-law expansion (the public formula: invert, bias 0x84,
    * shift by the 3-bit exponent). Output on the signed-16-bit scale,
    * exact integers. The two zero codes (0xFF, 0x7F) both map to 0 —
    * the standard's ±0 collision.
    */
  def ulawToLinear(b: Byte): Int = {
    val u = (~b) & 0xff
    val t = (((u & 0x0f) << 3) + 0x84) << ((u & 0x70) >> 4)
    if ((u & 0x80) != 0) 0x84 - t else t - 0x84
  }

  /** G.711 A-law expansion (toggle 0x55, segment shift). Output on
    * the signed-16-bit scale (±8 … ±32256), exact integers.
    */
  def alawToLinear(b: Byte): Int = {
    val a = (b ^ 0x55) & 0xff
    val seg = (a & 0x70) >> 4
    var t = (a & 0x0f) << 4
    if (seg == 0) t += 8
    else { t += 0x108; if (seg > 1) t <<= (seg - 1) }
    if ((a & 0x80) != 0) t else -t
  }

  /** Nearest-decode-level companding encoders, correct BY
    * CONSTRUCTION: each maps a linear sample to the byte whose
    * expansion is nearest (ties to the lower level). This pins the
    * encoder to OUR decoder rather than to an independently
    * remembered segment table — enc(dec(b)) == b is then a theorem
    * wherever decode is injective (everywhere but μ-law's ±0 pair),
    * and the spec asserts it over all 256 bytes.
    */
  private def nearestTable(dec: Byte => Int): (Array[Int], Array[Byte]) = {
    val pairs = (0 until 256).map(i => (dec(i.toByte), i.toByte)).sortBy(_._1)
    (pairs.map(_._1).toArray, pairs.map(_._2).toArray)
  }
  private lazy val ulawTable = nearestTable(ulawToLinear)
  private lazy val alawTable = nearestTable(alawToLinear)

  private def nearest(table: (Array[Int], Array[Byte]), s: Int): Byte = {
    val (levels, codes) = table
    var lo = 0; var hi = levels.length - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (levels(mid) < s) lo = mid + 1 else hi = mid
    }
    // levels(lo) is the first level >= s; compare with the one below
    if (lo > 0 && (s - levels(lo - 1)) <= (levels(lo) - s)) codes(lo - 1)
    else codes(lo)
  }

  def linearToUlaw(s: Int): Byte = nearest(ulawTable, s)
  def linearToAlaw(s: Int): Byte = nearest(alawTable, s)

  /** Full decode → (sampleRate, channels, interleaved samples in
    * signed-16-bit range). None on unsupported profile, truncated
    * stream, or an over-cap allocation claim.
    */
  def decodeWav(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    if (!isWav(bytes)) return None
    for {
      (fo, _, dOff, _) <- chunks(bytes)
      (rate, nCh, bits, nFrames) <- wavMeta(bytes)
      // Int-sample expansion is ≤4× the data bytes — cap in LONG math
      // before allocating (the ImageCodec bomb gate).
      if nFrames * nCh * 4 <= ImageCodec.MaxDecodedBytes
    } yield {
      val tag = fmtTag(bytes, fo)
      val n = (nFrames * nCh).toInt
      val out = new Array[Int](n)
      var i = 0
      if (bits == 16) {
        while (i < n) {
          val lo = bytes(dOff + i * 2) & 0xff
          val hi = bytes(dOff + i * 2 + 1)
          out(i) = (hi << 8) | lo // sign comes from hi
          i += 1
        }
      } else if (tag == 7) { // G.711 μ-law
        while (i < n) { out(i) = ulawToLinear(bytes(dOff + i)); i += 1 }
      } else if (tag == 6) { // G.711 A-law
        while (i < n) { out(i) = alawToLinear(bytes(dOff + i)); i += 1 }
      } else {
        while (i < n) {
          out(i) = ((bytes(dOff + i) & 0xff) - 128) * 256
          i += 1
        }
      }
      (rate, nCh, out)
    }
  }

  /** Fixture encoder for G.711 containers: tag 6 (A-law) or 7
    * (μ-law), samples on the signed-16-bit scale companded via the
    * nearest-level maps.
    */
  def encodeWavCompanded(sampleRate: Int, nCh: Int, tag: Int,
      samples: Array[Int]): Array[Byte] = {
    require(tag == 6 || tag == 7, s"tag $tag")
    require(nCh >= 1 && samples.length % nCh == 0, s"channels $nCh")
    val base = encodeWav(sampleRate, nCh, 8, new Array[Int](samples.length))
    // rewrite the fmt tag and the data bytes of the 8-bit container
    base(20) = tag.toByte
    var i = 0
    while (i < samples.length) {
      base(44 + i) = if (tag == 7) linearToUlaw(samples(i)) else linearToAlaw(samples(i))
      i += 1
    }
    base
  }

  /** Test/fixture WAV encoder: samples in signed-16-bit range,
    * interleaved; bits ∈ {8, 16} (8-bit stores (s/256)+128).
    */
  def encodeWav(sampleRate: Int, nCh: Int, bits: Int,
      samples: Array[Int]): Array[Byte] = {
    require(bits == 8 || bits == 16, s"bits $bits")
    require(nCh >= 1 && samples.length % nCh == 0, s"channels $nCh")
    val dataLen = samples.length * (bits / 8)
    val out = new Array[Byte](44 + dataLen)
    def w32(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte; out(off + 1) = ((v >> 8) & 0xff).toByte
      out(off + 2) = ((v >> 16) & 0xff).toByte; out(off + 3) = ((v >> 24) & 0xff).toByte
    }
    def w16(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte; out(off + 1) = ((v >> 8) & 0xff).toByte
    }
    def tag(off: Int, s: String): Unit =
      s.getBytes("US-ASCII").zipWithIndex.foreach { case (b, i) => out(off + i) = b }
    tag(0, "RIFF"); w32(4, 36 + dataLen); tag(8, "WAVE")
    tag(12, "fmt "); w32(16, 16); w16(20, 1); w16(22, nCh)
    w32(24, sampleRate); w32(28, sampleRate * nCh * (bits / 8))
    w16(32, nCh * (bits / 8)); w16(34, bits)
    tag(36, "data"); w32(40, dataLen)
    var i = 0
    if (bits == 16) {
      while (i < samples.length) {
        w16(44 + i * 2, samples(i) & 0xffff)
        i += 1
      }
    } else {
      while (i < samples.length) {
        out(44 + i) = (((samples(i) / 256) + 128) & 0xff).toByte
        i += 1
      }
    }
    out
  }

  /** EXACT-INTEGER audio feature kernel over a decoded signal:
    * channels mix to mono by floor-mean, then
    *
    *   - `n`       frame count
    *   - `peak`    max |s|
    *   - `energy`  Σ s²                      (the total power)
    *   - `zc`      zero crossings (sign changes, zeros skipped)
    *   - `bands`   4 dyadic band energies from a 2-level integer Haar
    *               cascade: level-1 splits frame pairs into
    *               lowpass (s₂ᵢ+s₂ᵢ₊₁)/2 and highpass (s₂ᵢ−s₂ᵢ₊₁)/2
    *               (floor division — exact), level 2 splits the
    *               lowpass again; band energies are Σ of squares of
    *               [LL, LH, H-low-half, H-high-half] coefficients.
    *               This is a real (Haar/QMF) octave-band split — the
    *               spectral-tilt feature an audio curation pass keys
    *               on — in arithmetic both a spec and any re-
    *               implementation reproduce bit-exactly.
    *
    * All longs; 16-bit samples square to < 2³⁰ and the
    * [[ImageCodec.MaxDecodedBytes]] cap bounds n, so sums stay far
    * inside 2⁶³.
    */
  def audioStats(mono: Array[Int]): (Long, Long, Long, Long, Array[Long]) = {
    val n = mono.length
    var peak = 0L; var energy = 0L; var zc = 0L
    var prevSign = 0
    var i = 0
    while (i < n) {
      val s = mono(i)
      val a = math.abs(s.toLong)
      if (a > peak) peak = a
      energy += s.toLong * s
      val sign = java.lang.Integer.signum(s)
      if (sign != 0) {
        if (prevSign != 0 && sign != prevSign) zc += 1
        prevSign = sign
      }
      i += 1
    }
    // level 1: pairs → low/high
    val half = n / 2
    val low = new Array[Int](half)
    var eH1lo = 0L; var eH1hi = 0L
    i = 0
    while (i < half) {
      val a = mono(2 * i); val b = mono(2 * i + 1)
      low(i) = math.floorDiv(a + b, 2)
      val h = math.floorDiv(a - b, 2).toLong
      if (i < half / 2) eH1lo += h * h else eH1hi += h * h
      i += 1
    }
    // level 2 on the lowpass branch
    val q = half / 2
    var eLL = 0L; var eLH = 0L
    i = 0
    while (i < q) {
      val a = low(2 * i); val b = low(2 * i + 1)
      val l2 = math.floorDiv(a + b, 2).toLong
      val h2 = math.floorDiv(a - b, 2).toLong
      eLL += l2 * l2; eLH += h2 * h2
      i += 1
    }
    (peak, energy, zc, n.toLong, Array(eLL, eLH, eH1lo, eH1hi))
  }

  /** Mix interleaved channels to mono by exact floor-mean. */
  def toMono(nCh: Int, samples: Array[Int]): Array[Int] = {
    if (nCh == 1) return samples
    val n = samples.length / nCh
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      var s = 0L; var c = 0
      while (c < nCh) { s += samples(i * nCh + c); c += 1 }
      out(i) = math.floorDiv(s, nCh).toInt
      i += 1
    }
    out
  }

  /** WAV bytes → unit-normalized Float feature vector in the
    * `embeddings.embedding` shape (8 dims: rms, zcr, peak scale, the
    * 4 Haar band-energy shares, and a DC-offset share), so decoded
    * audio flows into the SAME cosine/ANN/centroid family as image
    * features ([[Multimodal.featuresOf]]'s contract). None → the
    * quarantine path. The integer kernel does all the signal math;
    * the only float steps are fixed-order scaling + normalization,
    * identical everywhere.
    */
  def audioFeaturesOf(bytes: Array[Byte]): Option[Array[Float]] =
    decodeWav(bytes).flatMap { case (_, nCh, samples) =>
      val mono = toMono(nCh, samples)
      if (mono.length < 4) return None
      val (peak, energy, zc, n, bands) = audioStats(mono)
      var dc = 0L
      var i = 0
      while (i < mono.length) { dc += mono(i); i += 1 }
      val rms = math.sqrt(energy.toDouble / n) / 32768.0
      val zcr = zc.toDouble / n
      val eB = bands.map(_.toDouble)
      val eSum = eB.sum + 1.0 // +1: never divide by zero on silence
      val raw = Array(
        rms, zcr, peak.toDouble / 32768.0,
        eB(0) / eSum, eB(1) / eSum, eB(2) / eSum, eB(3) / eSum,
        math.abs(dc.toDouble / n) / 32768.0).map(_.toFloat)
      val norm = math.sqrt(raw.foldLeft(0.0)((s, x) => s + x.toDouble * x))
      Some(if (norm == 0.0) raw else raw.map(x => (x / norm).toFloat))
    }
}
