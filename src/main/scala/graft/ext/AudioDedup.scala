package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}

import graft.ext.Multimodal.{MediaCodec, MediaRow}

/** X85 — perceptual audio near-dup: the audio face of deduplication,
  * closing the one multimodal dedup gap left after X84 (images): a
  * re-encoded, resampled, or gain-adjusted copy of the same recording
  * escapes exact-byte dedup entirely.
  *
  * Fingerprint: a 64-bit '''energy-band temporal-gradient signature'''
  * over the decoded PCM —
  *  1. decode WAV via the real `javax.sound.sampled` path
  *     ([[Multimodal.MediaCodec.decodeAudio]]) and fold to mono;
  *  2. split the clip into 17 equal TIME windows (fractions of total
  *     duration, so the grid is sample-rate independent);
  *  3. per window, Goertzel band energy at 4 FIXED frequencies in Hz
  *     (200/400/800/1600 — anchored to physical pitch, not to the
  *     sample grid, so a resampled copy lands in the same bands),
  *     normalized by the window's total band energy (a global gain
  *     change scales every energy by g² and cancels exactly);
  *  4. bit (b·16 + w) = 1 iff band b's normalized energy RISES from
  *     window w to w+1 — per-band temporal gradient signs, the audio
  *     analog of [[ImageDedup]]'s dHash: invariant under any monotone
  *     per-band gain change, discriminative on real program material.
  *
  * Pipeline shape (the X84 recipe, shared end to end):
  *  - [[fingerprints]] — batched per-partition decode via mapPartitions
  *    (binary codecs have no Catalyst expression form — the documented-
  *    legitimate case); the corpus-sized relation after this is 2 longs
  *    per clip, never PCM.
  *  - [[nearDupPairs]] — pigeonhole Hamming banding ([[Hamming.pairs64]]):
  *    per-chunk equi-join, no crossJoin, exact recall for the radius,
  *    `maxChunkFreq` capping boilerplate chunks (silence) at scale.
  *  - [[exactDupPairs]] — the oracle-checkable subcase: Hamming-0
  *    candidates verified by PCM byte checksum equality. Byte-identical
  *    WAVs ⇒ identical PCM ⇒ identical signature (deterministic
  *    arithmetic) ⇒ Hamming 0 ⇒ the pair agrees on EVERY band chunk, so
  *    banding recall is 1 BY CONSTRUCTION — the x85 face hash-checks
  *    this against a DuckDB modular ground truth (the x84 pattern).
  *
  * Undecodable/corrupt/too-short items carry NULL signatures and drop
  * out of pairing (auditable). AudioDedupSpec pins: byte-identity ⇒
  * equal signatures; REAL resampled (content re-rendered at 8 kHz /
  * 11.025 kHz / 16 kHz) and gain-halved copies within the default
  * radius while distinct clips stay far; banding ≡ brute force;
  * corrupt-row accounting.
  */
object AudioDedup {

  final case class AudioFp(
      media_id: Long, uri: String, sig: Option[Long], checksum: Option[Long])

  /** Band centers in Hz — fixed physical frequencies, NOT fractions of
    * the sample rate, so signatures agree across resampled copies. All
    * four must sit below Nyquist: clips sampled under 2·1600 Hz get a
    * NULL signature rather than a silently band-limited one. */
  val bandsHz: Array[Double] = Array(200.0, 400.0, 800.0, 1600.0)

  /** 17 time windows → 16 per-band gradients × 4 bands = 64 bits. */
  val nWindows: Int = 17

  /** 16-bit little-endian PCM → mono [-1, 1] doubles (channels averaged).
    * None for sample formats the signature does not define (non-16-bit). */
  def monoSamples(fmt: javax.sound.sampled.AudioFormat,
      pcm: Array[Byte]): Option[Array[Double]] = {
    if (fmt.getSampleSizeInBits != 16 || fmt.isBigEndian) return None
    val ch = math.max(1, fmt.getChannels)
    val nFrames = pcm.length / (2 * ch)
    val out = new Array[Double](nFrames)
    var i = 0
    while (i < nFrames) {
      var acc = 0.0
      var c = 0
      while (c < ch) {
        val o = 2 * (i * ch + c)
        acc += ((pcm(o) & 0xff) | (pcm(o + 1) << 8)).toShort.toDouble
        c += 1
      }
      out(i) = acc / ch / 32768.0
      i += 1
    }
    Some(out)
  }

  /** Goertzel power at frequency `hz` over samples[start, end).
    * Rectangular window: a Hann taper was probed in r10 and measured
    * WORSE across resampled copies (center-weighting makes adjacent-
    * window gradients noisier than boundary leakage does). */
  private def goertzel(samples: Array[Double], start: Int, end: Int,
      hz: Double, sampleRate: Double): Double = {
    val omega = 2.0 * math.Pi * hz / sampleRate
    val coeff = 2.0 * math.cos(omega)
    var s1 = 0.0; var s2 = 0.0
    var i = start
    while (i < end) {
      val s0 = samples(i) + coeff * s1 - s2
      s2 = s1; s1 = s0
      i += 1
    }
    s1 * s1 + s2 * s2 - coeff * s1 * s2
  }

  /** Additive dead-zone on the normalized-energy gradient comparison
    * (a bit fires only when the rise exceeds the margin). The r10
    * sweep (SURVEY §6.9) measured dead-zones 0.002–0.04: none improved the
    * worst-case variant distance (13 bits at every setting) while all
    * ERODED the cross-clip separation floor (19 → 17 → 15 → 11 bits),
    * so the shipped setting is 0 — plain gradient signs, best
    * worst-case margin (13 vs 19). The parameter stays as the probe
    * surface for retuning on real program material. */
  val gradientDeadzone: Double = 0.0

  /** The 64-bit signature; None when the clip is too short to fill the
    * window grid or the sample rate cannot represent every band. */
  def signature64(samples: Array[Double], sampleRate: Double): Option[Long] =
    signature64(samples, sampleRate, gradientDeadzone)

  /** Dead-zone-parameterized variant (probe surface). */
  def signature64(samples: Array[Double], sampleRate: Double,
      deadzone: Double): Option[Long] = {
    val n = samples.length
    if (n < nWindows * 2) return None
    if (sampleRate < 2.0 * bandsHz.last) return None
    val nb = Array.ofDim[Double](nWindows, bandsHz.length)
    var w = 0
    while (w < nWindows) {
      val start = (w.toLong * n / nWindows).toInt
      val end = ((w + 1).toLong * n / nWindows).toInt
      var tot = 1e-12 // eps: silent windows normalize to all-zero, not NaN
      var b = 0
      while (b < bandsHz.length) {
        val e = goertzel(samples, start, end, bandsHz(b), sampleRate)
        nb(w)(b) = e
        tot += e
        b += 1
      }
      b = 0
      while (b < bandsHz.length) { nb(w)(b) /= tot; b += 1 }
      w += 1
    }
    var bits = 0L
    var b = 0
    while (b < bandsHz.length) {
      var g = 0
      while (g < nWindows - 1) {
        if (nb(g + 1)(b) > nb(g)(b) + deadzone)
          bits |= 1L << (b * (nWindows - 1) + g)
        g += 1
      }
      b += 1
    }
    Some(bits)
  }

  /** Order-dependent checksum over raw PCM bytes — byte-identical clips
    * agree; the verify key of [[exactDupPairs]]. */
  def pcmChecksum(pcm: Array[Byte]): Long = {
    var sum = 0L
    var i = 0
    while (i < pcm.length) { sum = sum * 31 + (pcm(i) & 0xff); i += 1 }
    sum
  }

  /** Perceptual fingerprints per clip: batched per-partition decode →
    * (signature, PCM checksum); NULLs for undecodable/too-short rows. */
  def fingerprints(media: Dataset[MediaRow]): DataFrame = {
    implicit val enc = Encoders.product[AudioFp]
    media.mapPartitions { rows =>
      rows.map { r =>
        val sigCk = for {
          (fmt, pcm) <- MediaCodec.decodeAudio(
            if (r.data == null) Array.emptyByteArray else r.data)
          mono <- monoSamples(fmt, pcm)
          sig <- signature64(mono, fmt.getSampleRate.toDouble)
        } yield (sig, pcmChecksum(pcm))
        AudioFp(r.media_id, r.uri, sigCk.map(_._1), sigCk.map(_._2))
      }
    }.toDF()
  }

  /** Near-dup pairs by signature Hamming distance: (media_a, media_b,
    * hamming), exact for the radius via pigeonhole banding. Default
    * radius 14: the r10 probe measured real resampled/gain variants at
    * ≤ 13 bits while distinct clips stay ≥ 19 apart. */
  def nearDupPairs(fp: DataFrame, maxHamming: Int = 14,
      maxChunkFreq: Option[Int] = None): DataFrame =
    Hamming.mediaNearDupPairs(fp, "sig", maxHamming, maxChunkFreq)

  /** Byte-identical duplicate pairs found PERCEPTUALLY: Hamming-0
    * banding candidates verified by PCM checksum equality. Recall 1 by
    * construction; precision 1 up to 64-bit checksum collision. The
    * oracle-checkable face (x85_audio_dedup). */
  def exactDupPairs(fp: DataFrame, maxChunkFreq: Option[Int] = None): DataFrame =
    Hamming.mediaExactDupPairs(fp, "sig", maxChunkFreq)

  /** Per-block PCM checksum sequences for [[SegmentDedup]]: one row per
    * decodable clip, `(media_id, uri, keys: array<long>)` where keys(i)
    * checksums PCM block i (`blockFrames` frames per block, trailing
    * partial block dropped — a partial tail can't byte-match a full
    * block elsewhere). Byte-identical audio segments aligned on the
    * block grid agree, so a sampled jingle or re-used stinger shared
    * between two DIFFERENT clips aligns exactly — the audio binding of
    * [[SegmentDedup.sharedRuns]], as [[VideoDedup.frameKeys]] is the
    * video one. Alignment caveat (documented contract): detection
    * requires the shared segment to start on a block boundary in both
    * clips — producers cutting on beat grids do; for a segment at
    * ARBITRARY sample offset use [[landmarkKeys]] (content-defined
    * cuts, offset-invariant by construction — one pass instead of a
    * `blockFrames`-phase sweep). */
  def blockKeys(media: Dataset[MediaRow], blockFrames: Int = 4000): DataFrame = {
    require(blockFrames >= 1, "blockFrames must be positive")
    implicit val enc = Encoders.product[(Long, String, Array[Long])]
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        MediaCodec.decodeAudio(
            if (r.data == null) Array.emptyByteArray else r.data)
          .map { case (fmt, pcm) =>
            val bytesPerBlock =
              blockFrames * fmt.getFrameSize.max(1)
            val nBlocks = pcm.length / bytesPerBlock
            val keys = Array.tabulate(nBlocks) { b =>
              var sum = 0L
              var i = b * bytesPerBlock
              val end = i + bytesPerBlock
              while (i < end) { sum = sum * 31 + (pcm(i) & 0xff); i += 1 }
              sum
            }
            (r.media_id, r.uri, keys)
          }
      }
    }.toDF("media_id", "uri", "keys")
  }

  /** X89 OFFSET-INVARIANT audio binding (round 14): CONTENT-DEFINED
    * segment keys via rolling-hash landmarks — the rsync/CDC trick
    * applied to decoded PCM. [[blockKeys]] cuts on a fixed grid, so a
    * shared jingle only pairs when it starts on a block boundary in
    * BOTH clips (the documented alignment caveat); here a cut is
    * declared wherever the rolling hash of the trailing `window` PCM
    * bytes is ≡ 0 (mod `divisor`) — a function of CONTENT alone, so a
    * byte-identical segment at ANY frame offset in two different clips
    * produces the same interior cut points and the same chunk
    * checksums. The first and last chunks of a shared segment mix in
    * surrounding audio and differ; every interior chunk pairs, so
    * [[SegmentDedup.sharedRuns]] over these keys recalls the segment
    * minus its edges. Expected chunk size ≈ `divisor` bytes
    * (~divisor/frameSize frames); `maxChunkBytes` bounds the pathology
    * of landmark-free content (a forced cut is positional, not
    * content-defined — chunking re-synchronizes at the next landmark,
    * the standard CDC caveat). Scale shape identical to [[blockKeys]]:
    * one map-only decode pass, ~bytes/divisor keys per clip, and the
    * pairing stays [[SegmentDedup]]'s shingle equi-join — never
    * all-pairs, never a phase sweep (the blockKeys workaround needed
    * `blockFrames` runs to cover all offsets; this needs one). */
  def landmarkKeys(media: Dataset[MediaRow], divisor: Int = 2048,
      window: Int = 48, maxChunkBytes: Int = 1 << 16): DataFrame = {
    require(divisor >= 2, "divisor must be >= 2")
    require(window >= 8, "window must be >= 8 bytes")
    require(maxChunkBytes > window, "maxChunkBytes must exceed window")
    implicit val enc = Encoders.product[(Long, String, Array[Long])]
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        MediaCodec.decodeAudio(
            if (r.data == null) Array.emptyByteArray else r.data)
          .map { case (_, pcm) =>
            val cuts = scala.collection.mutable.ArrayBuffer(0)
            val B = 257L
            var bw = 1L
            var j = 0
            while (j < window) { bw *= B; j += 1 } // B^window (mod 2^64)
            var h = 0L
            var i = 0
            var last = 0
            while (i < pcm.length) {
              h = h * B + (pcm(i) & 0xff)
              if (i >= window) h -= bw * (pcm(i - window) & 0xff)
              val landmark = i >= window - 1 &&
                java.lang.Long.remainderUnsigned(h, divisor.toLong) == 0L
              if (landmark || (i + 1 - last) >= maxChunkBytes) {
                cuts += (i + 1); last = i + 1
              }
              i += 1
            }
            if (cuts.last != pcm.length) cuts += pcm.length
            val keys = Array.tabulate(cuts.length - 1) { c =>
              var sum = 0L
              var p = cuts(c)
              val end = cuts(c + 1)
              while (p < end) { sum = sum * 31 + (pcm(p) & 0xff); p += 1 }
              sum
            }
            (r.media_id, r.uri, keys)
          }
      }
    }.toDF("media_id", "uri", "keys")
  }

  /** Wrap raw 16-bit little-endian mono PCM as a WAV container. */
  def pcmToWav(pcm: Array[Byte], sampleRate: Int): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(
      sampleRate.toFloat, 16, 1, true, false)
    val in = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, (pcm.length / 2).toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      in, javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** Deterministic tone-mixture WAV for specs and the x85 face: three
    * seed-derived tones (one per low band region) with slow seed-derived
    * amplitude envelopes, defined in CONTINUOUS time — rendering the
    * same seed at a different sample rate IS the resampled variant (the
    * underlying signal is identical; only the sample grid changes), and
    * `gain` produces the re-encoded/level-adjusted variant. Envelopes at
    * 0.5–3 Hz make the per-window gradients real content, the audio
    * analog of [[ImageDedup.encodeSmoothPng]]'s smooth sinusoids (white
    * noise would turn gradient signs into coin flips). */
  def encodeToneWav(nSamples: Int, sampleRate: Int, seed: Long,
      gain: Double = 1.0): Array[Byte] = {
    val rnd = new scala.util.Random(seed * 0x9E3779B97F4A7C15L + 11)
    val freqs = Array(
      220.0 + rnd.nextDouble() * 160.0,   // band-1/2 region
      450.0 + rnd.nextDouble() * 250.0,   // band-2/3 region
      900.0 + rnd.nextDouble() * 500.0)   // band-3/4 region
    val envHz = Array.fill(3)(0.5 + rnd.nextDouble() * 2.5)
    val phase = Array.fill(3)(rnd.nextDouble() * 2 * math.Pi)
    val envPhase = Array.fill(3)(rnd.nextDouble() * 2 * math.Pi)
    val pcm = new Array[Byte](nSamples * 2)
    var i = 0
    while (i < nSamples) {
      val t = i.toDouble / sampleRate
      var v = 0.0
      var k = 0
      while (k < 3) {
        val env = 0.55 + 0.45 * math.sin(2 * math.Pi * envHz(k) * t + envPhase(k))
        v += env * math.sin(2 * math.Pi * freqs(k) * t + phase(k))
        k += 1
      }
      val s = math.max(-32767, math.min(32767,
        math.round(v / 3.0 * 0.8 * gain * 32767.0))).toShort
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    pcmToWav(pcm, sampleRate)
  }
}
