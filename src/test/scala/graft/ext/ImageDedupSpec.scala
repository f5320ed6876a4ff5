package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ext.Multimodal.{MediaCodec, MediaRow}
import graft.ext.ImageDedup._

/** X84 perceptual image near-dup: hash invariance under real re-encode /
  * resize (JRE codecs), seed separation, banding exactness, and the
  * checksum-verified oracle face. Margins measured in round 9 (SURVEY
  * §6.8; 64×48 smooth corpus, 30 seeds): resize-to-24 Hamming ≤ 8, JPEG recompress ≤ 2,
  * inter-seed minimum 19 — the default radius 8 sits in a 11-bit gap. */
class ImageDedupSpec extends SparkSpec {
  import spark.implicits._

  private def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
  private def img(bytes: Array[Byte]) = MediaCodec.decodeImage(bytes).get

  test("byte-identical copies have identical dhash/ahash/checksum") {
    val a = encodeSmoothPng(40, 30, seed = 7)
    val b = encodeSmoothPng(40, 30, seed = 7)
    assert(dHash64(img(a)) === dHash64(img(b)))
    assert(aHash64(img(a)) === aHash64(img(b)))
    assert(MediaCodec.pixelChecksum(img(a)) === MediaCodec.pixelChecksum(img(b)))
  }

  test("dhash survives real resize and JPEG recompression; seeds stay far") {
    val seeds = 0L until 20L
    val orig = seeds.map(s => s -> dHash64(img(encodeSmoothPng(64, 48, s)))).toMap
    for (s <- seeds) {
      val thumb = MediaCodec.thumbnailPng(encodeSmoothPng(64, 48, s), maxDim = 24).get
      assert(ham(orig(s), dHash64(img(thumb))) <= 8,
        s"resized copy of seed $s drifted past the radius")
      assert(ham(orig(s), dHash64(img(encodeSmoothJpeg(64, 48, s)))) <= 4,
        s"jpeg recompress of seed $s drifted")
    }
    for (a <- seeds; b <- seeds if a < b)
      assert(ham(orig(a), orig(b)) > 12, s"seeds $a/$b too close")
  }

  test("monotone brightness shift leaves dhash unchanged (gradient signs)") {
    val base = img(encodeSmoothPng(48, 32, seed = 3))
    val brighter = new java.awt.image.BufferedImage(
      base.getWidth, base.getHeight, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until base.getHeight; x <- 0 until base.getWidth) {
      val g = math.min(255, ((base.getRGB(x, y) & 0xff) * 1.2).toInt + 10)
      brighter.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    assert(dHash64(base) === dHash64(brighter))
  }

  test("nearDupPairs ≡ brute-force cross join (banding is exact)") {
    // 12 originals + their resized and recompressed variants + corrupts
    val rows = (0L until 12L).flatMap { s =>
      Seq(
        MediaRow(s, s"orig/$s", "image/png", encodeSmoothPng(64, 48, s)),
        MediaRow(100 + s, s"thumb/$s", "image/png",
          MediaCodec.thumbnailPng(encodeSmoothPng(64, 48, s), 24).get),
        MediaRow(200 + s, s"jpeg/$s", "image/jpeg", encodeSmoothJpeg(64, 48, s)))
    } :+ MediaRow(999, "corrupt", "image/png", Array[Byte](1, 2, 3))
    val fp = fingerprints(spark.createDataset(rows)).cache()
    val banded = nearDupPairs(fp, maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val ok = fp.filter($"dhash".isNotNull)
      .select($"media_id", $"dhash").as[(Long, Long)].collect()
    val brute = (for {
      (ia, ha) <- ok; (ib, hb) <- ok
      if ia < ib && ham(ha, hb) <= 10
    } yield (ia, ib, ham(ha, hb))).toSet
    assert(banded === brute)
    // every planted duplicate pair recalled; corrupt row absent
    for (s <- 0L until 12L) {
      assert(brute.exists(p => p._1 == s && p._2 == 100 + s), s"thumb pair $s lost")
      assert(brute.exists(p => p._1 == s && p._2 == 200 + s), s"jpeg pair $s lost")
    }
    assert(!banded.exists(p => p._1 == 999 || p._2 == 999))
    // no cross-seed false positives at this radius (probe: min inter-seed 19)
    assert(banded.forall { case (a, b, _) => a % 100 == b % 100 })
    fp.unpersist()
  }

  test("exactDupPairs: recall 1 on byte-identical copies, checksum-precise") {
    // seeds 0..9, each byte-duplicated 3× under distinct ids
    val rows = for (s <- 0L until 10L; c <- 0 until 3) yield
      MediaRow(s * 10 + c, s"img/$s/$c", "image/png", encodeSmoothPng(32, 24, s))
    val fp = fingerprints(spark.createDataset(rows))
    val got = exactDupPairs(fp)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for (s <- 0L until 10L; a <- 0 until 3; b <- 0 until 3 if a < b)
      yield (s * 10 + a, s * 10 + b)).toSet
    assert(got === want)
  }

  test("maxChunkFreq cap only drops pairs, never invents them") {
    val rows = (0L until 8L).map(s =>
      MediaRow(s, s"i/$s", "image/png", encodeSmoothPng(40, 30, s % 2))) // 2 groups of 4
    val fp = fingerprints(spark.createDataset(rows))
    val full = nearDupPairs(fp, maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = nearDupPairs(fp, maxHamming = 0, maxChunkFreq = Some(2))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(full))
    assert(full === (for (a <- 0L until 8L; b <- 0L until 8L
      if a < b && a % 2 == b % 2) yield (a, b)).toSet)
  }

  test("grayCells is the exact block average on aligned geometry") {
    // 4×2 image → 2×1 grid: each cell averages a 2×2 block
    val im = new java.awt.image.BufferedImage(4, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val v = Array(Array(10, 20, 100, 200), Array(30, 40, 50, 150))
    for (y <- 0 until 2; x <- 0 until 4) {
      val g = v(y)(x); im.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    val cells = grayCells(im, 2, 1)
    assert(math.abs(cells(0) - 25.0) < 1e-9)
    assert(math.abs(cells(1) - 125.0) < 1e-9)
  }
}
