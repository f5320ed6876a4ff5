package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}

import graft.ext.Multimodal.{MediaCodec, MediaRow}

/** X87 — perceptual video near-dup: the third and last modality face of
  * deduplication, completing the X84 (image) / X85 (audio) triad. A
  * re-encoded (per-frame JPEG), frame-rate-resampled, spatially-rescaled,
  * or brightness-adjusted copy of the same clip escapes exact-byte dedup
  * entirely — and escapes X84 too, because a video column is a container
  * of many frames, not one image.
  *
  * Container: the JRE ships no video codec, so the engine defines a
  * minimal real container it fully controls — `GVID`: magic + version +
  * frame count + fps + a per-frame length table, followed by concatenated
  * REAL image frames (PNG or JPEG bytes). Frame decode is the genuine
  * `javax.imageio` path ([[Multimodal.MediaCodec.decodeImage]]); only the
  * container framing is engine-defined, exactly the declared fallback arm
  * of [[Multimodal]] (swap for an ffmpeg JNI binding in production — the
  * signature below only needs "decoded frame at time t").
  *
  * Fingerprint: a 64-bit '''spatial-cell temporal-gradient signature''' —
  *  1. sample `nTimes` = 10 frames at fixed FRACTIONS of the clip's
  *     frame span (idx = round(frac·(nFrames−1))) — a time grid, not a
  *     frame grid, so a copy rendered at a different frame rate over the
  *     same content samples (near-)identical instants, the [[AudioDedup]]
  *     window trick;
  *  2. per sampled frame, box-average luminance into a 4×2 spatial grid
  *     ([[ImageDedup.grayCells]] — exact block averages at ANY geometry,
  *     so a spatially re-rendered copy lands in the same cells);
  *  3. bit (c·8 + t) = 1 iff cell c's luminance RISES from sample t to
  *     t+2 (lag-2 gradient — see [[nTimes]]) — 8 cells × 8 temporal
  *     comparisons = 64 bits of per-region motion/lighting direction,
  *     invariant under any monotone global brightness/contrast change
  *     applied uniformly in time (the dHash argument, rotated into the
  *     time axis).
  *
  * Pipeline shape (the X84/X85 recipe, shared end to end):
  *  - [[fingerprints]] — batched per-partition container parse + frame
  *    decode via mapPartitions (binary codecs have no Catalyst expression
  *    form — the documented-legitimate case); the corpus-sized relation
  *    after this is 2 longs per video, never frames. Only the `nTimes`
  *    SAMPLED frames are decoded — a 10 000-frame clip costs 9 image
  *    decodes, which is what makes the scan affordable at 100 TB.
  *  - [[nearDupPairs]] — pigeonhole Hamming banding ([[Hamming.pairs64]]):
  *    per-chunk equi-join, no crossJoin, exact recall for the radius,
  *    `maxChunkFreq` capping boilerplate chunks (static intros, black
  *    leaders — the video analog of letterboxing) at scale.
  *  - [[exactDupPairs]] — the oracle-checkable subcase: Hamming-0
  *    candidates verified by a frame-pixel checksum chain. Byte-identical
  *    videos ⇒ identical decoded frames ⇒ identical signature
  *    (deterministic arithmetic) ⇒ Hamming 0 ⇒ the pair agrees on EVERY
  *    band chunk, so banding recall is 1 BY CONSTRUCTION — the x87 face
  *    hash-checks this against a DuckDB modular ground truth.
  *
  * Undecodable/corrupt/single-frame items carry NULL signatures and drop
  * out of pairing (a single-frame clip has no temporal gradient — its
  * signature would be the all-zero collider, so it is refused, like
  * [[AudioDedup]] refuses sub-Nyquist clips). VideoDedupSpec pins:
  * byte-identity ⇒ equal signatures; REAL frame-rate-doubled, per-frame
  * JPEG-re-encoded, half-resolution re-rendered, and gain-adjusted copies
  * within the default radius while distinct seeds stay far; banding ≡
  * brute force; container round-trip; corrupt/truncated/single-frame
  * refusal accounting.
  */
object VideoDedup {

  final case class VideoFp(
      media_id: Long, uri: String, sig: Option[Long], checksum: Option[Long])

  /** 10 sampled instants → 8 per-cell LAG-2 temporal gradients × 8 cells
    * = 64 bits. Lag 2 (compare sample t with t+2, not t+1) was probed
    * against lag 1 in r10: the wider baseline roughly doubles the cell
    * difference magnitude a bit measures while leaving render-grid
    * quadrature noise unchanged, cutting the worst variant distance
    * (half-resolution re-render 8 → probe-final numbers in
    * [[nearDupPairs]]) without costing cross-seed separation. */
  val nTimes: Int = 10

  /** Temporal gradient lag: bit t compares samples t and t+2. */
  val gradLag: Int = 2

  /** Spatial grid: 4 cols × 2 rows = 8 cells per sampled frame. */
  val cellCols: Int = 4
  val cellRows: Int = 2

  // ---------------------------------------------------------------- GVID

  private val Magic = Array[Byte]('G', 'V', 'I', 'D')

  /** Decoded container: fps (frames/sec, informational) + frame bytes. */
  final case class Video(fps: Double, frames: Vector[Array[Byte]])

  /** `GVID` encode: magic | version:4 | nFrames:4 | fpsMilli:4 |
    * frameLen:4 × nFrames | concatenated frame bytes (little-endian). */
  def encodeVideo(frames: Seq[Array[Byte]], fps: Double): Array[Byte] = {
    require(frames.nonEmpty, "a video needs at least one frame")
    val total = 16 + 4 * frames.length + frames.map(_.length).sum
    val buf = java.nio.ByteBuffer.allocate(total)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put(Magic).putInt(1).putInt(frames.length)
      .putInt(math.round(fps * 1000).toInt)
    frames.foreach(f => buf.putInt(f.length))
    frames.foreach(buf.put)
    buf.array()
  }

  /** `GVID` parse; None for anything malformed (bad magic/version, frame
    * table overrunning the payload, negative lengths). Frame BYTES are
    * sliced here; image decode happens lazily per sampled frame. */
  def decodeVideo(data: Array[Byte]): Option[Video] = {
    if (data == null || data.length < 16) return None
    val buf = java.nio.ByteBuffer.wrap(data)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val magic = new Array[Byte](4); buf.get(magic)
    if (!magic.sameElements(Magic) || buf.getInt() != 1) return None
    val n = buf.getInt()
    val fps = buf.getInt() / 1000.0
    if (n <= 0 || n > (data.length - 16) / 4 || fps <= 0) return None
    val lens = Array.fill(n)(buf.getInt())
    if (lens.exists(_ < 0)) return None
    var off = 16 + 4L * n
    if (off + lens.map(_.toLong).sum != data.length) return None
    Some(Video(fps, lens.toVector.map { l =>
      val f = java.util.Arrays.copyOfRange(data, off.toInt, off.toInt + l)
      off += l
      f
    }))
  }

  // ----------------------------------------------------------- signature

  /** Fractional sample positions → frame indices for an nFrames clip:
    * idx(k) = round(k/(nTimes−1) · (nFrames−1)). Monotone, endpoints
    * pinned to first/last frame, frame-rate independent. */
  def sampleIndices(nFrames: Int): Array[Int] =
    Array.tabulate(nTimes)(k =>
      math.round(k.toDouble / (nTimes - 1) * (nFrames - 1)).toInt)

  /** The 64-bit signature plus the frame-checksum chain; None when the
    * container is malformed, any sampled frame fails image decode, or the
    * clip has fewer than 2 frames (no temporal content — an all-zero
    * signature would collide every static clip). */
  def signature64(data: Array[Byte]): Option[(Long, Long)] =
    decodeVideo(data).flatMap { v =>
      if (v.frames.length < 2) None
      else {
        val cells = Array.ofDim[Double](nTimes, cellCols * cellRows)
        var checksum = 0L
        var ok = true
        val idxs = sampleIndices(v.frames.length)
        var t = 0
        while (t < nTimes && ok) {
          MediaCodec.decodeImage(v.frames(idxs(t))) match {
            case Some(img) =>
              cells(t) = ImageDedup.grayCells(img, cellCols, cellRows)
              checksum = checksum * 31 + MediaCodec.pixelChecksum(img)
            case None => ok = false
          }
          t += 1
        }
        if (!ok) None
        else {
          var bits = 0L
          var c = 0
          while (c < cellCols * cellRows) {
            var g = 0
            while (g < nTimes - gradLag) {
              if (cells(g + gradLag)(c) > cells(g)(c))
                bits |= 1L << (c * (nTimes - gradLag) + g)
              g += 1
            }
            c += 1
          }
          Some((bits, checksum))
        }
      }
    }

  /** Perceptual fingerprints per video: batched per-partition container
    * parse + sampled-frame decode → (signature, frame-checksum chain);
    * NULLs for undecodable/single-frame rows. */
  def fingerprints(media: Dataset[MediaRow]): DataFrame = {
    implicit val enc = Encoders.product[VideoFp]
    media.mapPartitions { rows =>
      rows.map { r =>
        val sc = signature64(
          if (r.data == null) Array.emptyByteArray else r.data)
        VideoFp(r.media_id, r.uri, sc.map(_._1), sc.map(_._2))
      }
    }.toDF()
  }

  /** Near-dup pairs by signature Hamming distance: (media_a, media_b,
    * hamming), exact for the radius via pigeonhole banding. Default
    * radius 8: the r10 probe (SURVEY §6.9, 30 seeds, 2-second
    * clips) measured real variants — frame-rate-doubled ≤ 7, per-frame
    * JPEG re-encode ≤ 1, half-resolution re-render ≤ 5, gain 0.7 ≤ 1 —
    * while distinct seeds stay ≥ 10 apart (a single tail pair at 10;
    * the next at 14, average 32). 8 recalls every variant and excludes
    * every distinct-seed pair of the probe corpus. */
  def nearDupPairs(fp: DataFrame, maxHamming: Int = 8,
      maxChunkFreq: Option[Int] = None): DataFrame =
    Hamming.mediaNearDupPairs(fp, "sig", maxHamming, maxChunkFreq)

  /** Byte-identical duplicate pairs found PERCEPTUALLY: Hamming-0
    * banding candidates verified by frame-checksum-chain equality.
    * Recall 1 by construction; precision 1 up to 64-bit checksum
    * collision. The oracle-checkable face (x87_video_dedup). */
  def exactDupPairs(fp: DataFrame, maxChunkFreq: Option[Int] = None): DataFrame =
    Hamming.mediaExactDupPairs(fp, "sig", maxChunkFreq)

  /** Per-frame byte-checksum sequences for [[SegmentDedup]]: one row per
    * decodable video, `(media_id, uri, keys: array<long>)` where keys(i)
    * checksums frame i's ENCODED bytes — byte-identical frames agree, so
    * shared byte-identical segments (title sequences, stingers) align
    * exactly. No image decode: container parse only, O(bytes) per clip.
    * Undecodable containers drop out (auditable via an anti-join). */
  def frameKeys(media: Dataset[MediaRow]): DataFrame = {
    implicit val enc =
      Encoders.product[(Long, String, Array[Long])]
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        decodeVideo(if (r.data == null) Array.emptyByteArray else r.data)
          .map { v =>
            (r.media_id, r.uri, v.frames.map { f =>
              var sum = 0L
              var i = 0
              while (i < f.length) { sum = sum * 31 + (f(i) & 0xff); i += 1 }
              sum
            }.toArray)
          }
      }
    }.toDF("media_id", "uri", "keys")
  }

  // ----------------------------------------------------------- generator

  /** Deterministic smooth spatio-temporal clip for specs and the x87
    * face: luminance(x, y, t) is a product of seed-derived CONTINUOUS
    * spatial frequencies with phases drifting at seed-derived rates
    * (0.3–1.2 Hz) — defined in continuous time, so rendering the same
    * seed at a different `fps` IS the frame-rate-resampled variant and at
    * a different geometry IS the spatial re-render (the [[AudioDedup
    * .encodeToneWav]] trick). Continuous frequencies keep distinct seeds
    * diverse (no discrete frequency classes — the lesson from
    * [[ImageDedup.encodeSmoothPng]]'s 9-class clustering). Slow drift
    * makes the per-cell temporal gradients real content; `gain`
    * multiplies the final luminance (the brightness-adjusted variant);
    * `jpeg` re-encodes every frame through the real lossy JRE codec. */
  def encodeSyntheticVideo(width: Int, height: Int, fps: Double,
      durationSec: Double, seed: Long, gain: Double = 1.0,
      jpeg: Boolean = false): Array[Byte] = {
    val rnd = new scala.util.Random(seed * 0x9E3779B97F4A7C15L + 17)
    // two independently drifting spatial products — 12 continuous
    // parameters per seed. A single product plus a diagonal term was
    // probed first and measured cross-seed min = 1 bit: the diagonal
    // term's temporal gradient is nearly uniform over the cell grid, so
    // it drives all 8 cells in lockstep and collapses the effective
    // entropy to the 8 transition bits. Two products with independent
    // drifts keep the per-cell dynamics decorrelated (cross-seed min 10,
    // next 14, avg 32 at 30 seeds — the committed probe numbers).
    val fx = Array.fill(2)(0.6 + rnd.nextDouble() * 0.9)
    val fy = Array.fill(2)(0.6 + rnd.nextDouble() * 0.9)
    val px = Array.fill(2)(rnd.nextDouble() * 2 * math.Pi)
    val py = Array.fill(2)(rnd.nextDouble() * 2 * math.Pi)
    val wx = Array.fill(2)(0.35 + rnd.nextDouble() * 0.65) // Hz phase drift
    val wy = Array.fill(2)(0.35 + rnd.nextDouble() * 0.65)
    val nFrames = math.max(2, math.round(fps * durationSec).toInt)
    val frames = (0 until nFrames).map { k =>
      // sample frame k at the CENTER of its display interval, so the
      // continuous instant it represents is fps-independent in the limit
      val t = (k + 0.5) / fps
      val img = new java.awt.image.BufferedImage(
        width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          var v = 128.0
          var i = 0
          while (i < 2) {
            v += 45.0 *
              math.sin(2 * math.Pi * fx(i) * x / width + px(i) + 2 * math.Pi * wx(i) * t) *
              math.cos(2 * math.Pi * fy(i) * y / height + py(i) + 2 * math.Pi * wy(i) * t)
            i += 1
          }
          val g = math.max(0, math.min(255, math.round(v * gain).toInt))
          img.setRGB(x, y, (g << 16) | (g << 8) | g)
          x += 1
        }
        y += 1
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, if (jpeg) "jpg" else "png", out)
      out.toByteArray
    }
    encodeVideo(frames, fps)
  }
}
