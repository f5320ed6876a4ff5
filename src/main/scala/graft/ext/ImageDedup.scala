package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}

import graft.ext.Multimodal.{MediaCodec, MediaRow}

/** X84 — perceptual image near-dup: the multimodal face of deduplication.
  *
  * Exact-byte dedup ([[Dedup]]) misses the dominant duplicate class in a
  * crawled image corpus: the SAME picture re-encoded (JPEG quality
  * change), resized, or format-converted. The industry-standard cheap
  * answer is a perceptual fingerprint — a 64-bit hash of the image's
  * coarse luminance structure that is invariant under those transforms —
  * followed by Hamming-distance pairing:
  *
  *  - '''aHash''' (average hash): box-average the decoded image to an
  *    8×8 luminance grid; bit i = 1 iff cell i is brighter than the grid
  *    mean. Robust to resize/recompress, weak on global brightness edits.
  *  - '''dHash''' (difference hash): 9×8 grid; bit (y,x) = 1 iff
  *    cell(y,x+1) > cell(y,x) — per-row horizontal gradient signs.
  *    Invariant under any monotone global brightness/contrast change and
  *    measurably more discriminative than aHash; the default pairing key.
  *
  * Pipeline shape (the one that survives 100 TB of images):
  *  1. [[fingerprints]] — batched per-partition decode via the real
  *     [[MediaCodec]] ImageIO path (mapPartitions: binary codecs have no
  *     Catalyst expression form — the documented-legitimate case), each
  *     image reduced to (dhash, ahash, pixel checksum). The corpus-sized
  *     relation after this is 3 longs per image, never pixels.
  *  2. [[nearDupPairs]] — pigeonhole Hamming banding over the dhash
  *     ([[Hamming.pairs64]]): per-chunk equi-join, no crossJoin, exact
  *     recall for distance <= maxHamming.
  *  3. [[exactDupPairs]] — the oracle-checkable subcase: perceptual
  *     candidates verified by decoded-pixel checksum equality. Identical
  *     pixels ⇒ identical dHash (deterministic arithmetic) ⇒ Hamming 0 ⇒
  *     the pair agrees on EVERY band chunk, so banding recall is 1 BY
  *     CONSTRUCTION — which is what lets the x84 face be hash-checked
  *     against a DuckDB ground truth (planted byte-identical copies).
  *
  * Undecodable/corrupt items carry NULL fingerprints and drop out of
  * pairing (auditable via the null count in [[fingerprints]] output).
  * ImageDedupSpec pins: exact copies ⇒ equal hashes; resized (real
  * ImageIO bilinear) and JPEG-recompressed (real JRE codec) copies within
  * the default Hamming radius while distinct images stay far; banding ≡
  * brute-force cross-join on a planted corpus; corrupt-row accounting.
  */
object ImageDedup {

  final case class ImageFp(
      media_id: Long, uri: String,
      dhash: Option[Long], ahash: Option[Long], checksum: Option[Long])

  /** Box-averaged luminance grid `ch` rows × `cw` cols (ITU-R 601 luma).
    * Cell boundaries floor(c*W/cw): every source pixel lands in exactly
    * one cell, so the grid is the exact block average at any geometry. */
  def grayCells(img: java.awt.image.BufferedImage, cw: Int, ch: Int): Array[Double] = {
    val w = img.getWidth; val h = img.getHeight
    val sums = new Array[Double](cw * ch)
    val counts = new Array[Long](cw * ch)
    var y = 0
    while (y < h) {
      val cy = math.min(ch - 1, y * ch / h)
      var x = 0
      while (x < w) {
        val cx = math.min(cw - 1, x * cw / w)
        val rgb = img.getRGB(x, y)
        val lum = 0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
          0.114 * (rgb & 0xff)
        val i = cy * cw + cx
        sums(i) += lum
        counts(i) += 1
        x += 1
      }
      y += 1
    }
    Array.tabulate(cw * ch)(i => if (counts(i) == 0) 0.0 else sums(i) / counts(i))
  }

  /** dHash: 9×8 grid, bit (y*8+x) set iff cell(y,x+1) > cell(y,x). */
  def dHash64(img: java.awt.image.BufferedImage): Long = {
    val g = grayCells(img, 9, 8)
    var bits = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (g(y * 9 + x + 1) > g(y * 9 + x)) bits |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    bits
  }

  /** aHash: 8×8 grid, bit i set iff cell i > grid mean. */
  def aHash64(img: java.awt.image.BufferedImage): Long = {
    val g = grayCells(img, 8, 8)
    val mean = g.sum / 64.0
    var bits = 0L
    var i = 0
    while (i < 64) {
      if (g(i) > mean) bits |= 1L << i
      i += 1
    }
    bits
  }

  /** Perceptual fingerprints per image: batched per-partition decode →
    * (dhash, ahash, pixel checksum); NULLs for undecodable rows. */
  def fingerprints(media: Dataset[MediaRow]): DataFrame = {
    implicit val enc = Encoders.product[ImageFp]
    media.mapPartitions { rows =>
      rows.map { r =>
        MediaCodec.decodeImage(
            if (r.data == null) Array.emptyByteArray else r.data) match {
          case Some(img) => ImageFp(r.media_id, r.uri,
            Some(dHash64(img)), Some(aHash64(img)),
            Some(MediaCodec.pixelChecksum(img)))
          case None => ImageFp(r.media_id, r.uri, None, None, None)
        }
      }
    }.toDF()
  }

  /** Near-dup pairs by dHash Hamming distance: (id_a, id_b, hamming),
    * exact for the radius via pigeonhole banding. `maxChunkFreq` caps
    * boilerplate chunk buckets at corpus scale (see [[Hamming]]). */
  def nearDupPairs(fp: DataFrame, maxHamming: Int = 8,
      maxChunkFreq: Option[Int] = None): DataFrame =
    Hamming.mediaNearDupPairs(fp, "dhash", maxHamming, maxChunkFreq)

  /** Byte/pixel-identical duplicate pairs, found PERCEPTUALLY: Hamming-0
    * banding candidates verified by decoded-pixel checksum equality.
    * Recall 1 by construction (identical pixels ⇒ identical dhash ⇒ every
    * band chunk agrees); precision 1 up to 64-bit checksum collision.
    * The oracle-checkable face of the operator. `maxChunkFreq` engages
    * the production skew cap: at radius 0 the single band IS the full
    * hash, so a duplicate group larger than the cap contributes zero
    * pairs (the letterbox/boilerplate rule, closed-form replayable). */
  def exactDupPairs(fp: DataFrame, maxChunkFreq: Option[Int] = None): DataFrame =
    Hamming.mediaExactDupPairs(fp, "dhash", maxChunkFreq)

  /** Deterministic LOW-FREQUENCY grayscale PNG for specs and the x84
    * face: pixel luminance is a sum of two smooth sinusoids whose
    * frequencies/phases derive from `seed`. Smooth content is the honest
    * test medium for perceptual hashing — block averages (hence dHash)
    * survive resize and JPEG recompression, while white noise (the LCG
    * generator in [[MediaCodec.encodePng]]) averages every cell to the
    * same mean and turns gradient signs into coin flips. */
  def encodeSmoothPng(width: Int, height: Int, seed: Long): Array[Byte] = {
    val img = smoothImage(width, height, seed)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Same smooth pixels, JPEG-encoded (real lossy JRE codec) — the
    * recompressed-duplicate generator for specs. */
  def encodeSmoothJpeg(width: Int, height: Int, seed: Long): Array[Byte] = {
    val img = smoothImage(width, height, seed)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", out)
    out.toByteArray
  }

  private def smoothImage(width: Int, height: Int, seed: Long)
      : java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    // seed-derived low frequencies (1..3 cycles) and phases
    val fx = 1 + (seed % 3).toInt
    val fy = 1 + ((seed / 3) % 3).toInt
    val px = ((seed * 2654435761L) & 0xffff) / 65536.0 * 2 * math.Pi
    val py = ((seed * 0x9E3779B97F4A7C15L >>> 16) & 0xffff) / 65536.0 * 2 * math.Pi
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val v = 128.0 +
          55.0 * math.sin(2 * math.Pi * fx * x / width + px) *
            math.cos(2 * math.Pi * fy * y / height + py) +
          40.0 * math.sin(2 * math.Pi * (x + y).toDouble / (width + height) + px)
        val g = math.max(0, math.min(255, math.round(v).toInt))
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
        x += 1
      }
      y += 1
    }
    img
  }
}
