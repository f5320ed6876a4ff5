package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ext.Multimodal.MediaRow
import graft.ext.VideoDedup._

/** X87 perceptual video near-dup: container round-trip, signature
  * invariance under REAL frame-rate doubling / per-frame JPEG re-encode /
  * half-resolution re-render / brightness gain, seed separation, banding
  * exactness, and the checksum-verified oracle face. Measured margins
  * (2-second clips, 30 seeds, SURVEY §6.9): fps-doubled ≤ 7
  * bits, JPEG ≤ 1, half-res ≤ 5, gain ≤ 1; inter-seed minimum 10 — the
  * default radius 8 sits inside the gap. */
class VideoDedupSpec extends SparkSpec {
  import spark.implicits._

  private def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
  private def sig(bytes: Array[Byte]): Long = signature64(bytes).get._1

  test("GVID container round-trips frames and fps exactly") {
    val frames = Seq(Array[Byte](1, 2, 3), Array[Byte](), Array[Byte](9))
    val enc = encodeVideo(frames, fps = 23.976)
    val v = decodeVideo(enc).get
    assert(v.frames.length === 3)
    assert(math.abs(v.fps - 23.976) < 1e-3)
    assert(v.frames(0).toSeq === Seq[Byte](1, 2, 3))
    assert(v.frames(1).isEmpty)
    assert(v.frames(2).toSeq === Seq[Byte](9))
  }

  test("decodeVideo refuses malformed containers") {
    assert(decodeVideo(null).isEmpty)
    assert(decodeVideo(Array[Byte](1, 2, 3)).isEmpty)
    assert(decodeVideo("GVIDxxxxxxxxxxxxxxxx".getBytes).isEmpty)
    val good = encodeVideo(Seq(Array[Byte](1)), 10.0)
    assert(decodeVideo(good).isDefined)
    // truncated payload: frame table promises more bytes than exist
    assert(decodeVideo(good.dropRight(1)).isEmpty)
    // bad magic
    val bad = good.clone(); bad(0) = 'X'
    assert(decodeVideo(bad).isEmpty)
  }

  test("byte-identical clips have identical signature and checksum") {
    val a = encodeSyntheticVideo(64, 48, 10.0, 2.0, seed = 7)
    val b = encodeSyntheticVideo(64, 48, 10.0, 2.0, seed = 7)
    assert(a.sameElements(b))
    assert(signature64(a).get === signature64(b).get)
  }

  test("signature survives real re-renders; seeds stay far") {
    val seeds = 0L until 20L
    val orig = seeds.map(s => s -> sig(encodeSyntheticVideo(64, 48, 10.0, 2.0, s))).toMap
    for (s <- seeds) {
      assert(ham(orig(s), sig(encodeSyntheticVideo(64, 48, 20.0, 2.0, s))) <= 8,
        s"fps-doubled copy of seed $s drifted past the radius")
      assert(ham(orig(s), sig(encodeSyntheticVideo(64, 48, 10.0, 2.0, s, jpeg = true))) <= 2,
        s"per-frame JPEG copy of seed $s drifted")
      assert(ham(orig(s), sig(encodeSyntheticVideo(32, 24, 10.0, 2.0, s))) <= 8,
        s"half-resolution copy of seed $s drifted")
      assert(ham(orig(s), sig(encodeSyntheticVideo(64, 48, 10.0, 2.0, s, gain = 0.7))) <= 2,
        s"gain-adjusted copy of seed $s drifted")
    }
    for (a <- seeds; b <- seeds if a < b)
      assert(ham(orig(a), orig(b)) > 8, s"seeds $a/$b too close")
  }

  test("signature refuses what it cannot represent") {
    // corrupt container
    assert(signature64(Array[Byte](1, 2, 3)).isEmpty)
    // single-frame clip: no temporal content (the all-zero collider)
    val png = ImageDedup.encodeSmoothPng(16, 12, 1)
    assert(signature64(encodeVideo(Seq(png), 10.0)).isEmpty)
    // a sampled frame that is not decodable as an image
    val frames = Seq(png, Array[Byte](5, 5, 5), png)
    assert(signature64(encodeVideo(frames, 10.0)).isEmpty)
  }

  test("sampleIndices: monotone, endpoint-pinned, frame-rate independent grid") {
    val i20 = sampleIndices(20)
    assert(i20.head === 0 && i20.last === 19)
    assert(i20.sliding(2).forall(p => p(0) <= p(1)))
    // the fractional instants of a 2x-fps render track the base render
    val i40 = sampleIndices(40)
    for (k <- 0 until nTimes) {
      val tBase = (i20(k) + 0.5) / 10.0
      val t2x = (i40(k) + 0.5) / 20.0
      assert(math.abs(tBase - t2x) < 0.06, s"sample $k misaligned")
    }
  }

  test("nearDupPairs ≡ brute-force cross join (banding is exact)") {
    // 12 originals + a real fps-doubled and a half-resolution variant
    // each, plus a corrupt row
    val rows = (0L until 12L).flatMap { s =>
      Seq(
        MediaRow(s, s"orig/$s", "video/gvid",
          encodeSyntheticVideo(64, 48, 10.0, 2.0, s)),
        MediaRow(100 + s, s"fps2/$s", "video/gvid",
          encodeSyntheticVideo(64, 48, 20.0, 2.0, s)),
        MediaRow(200 + s, s"half/$s", "video/gvid",
          encodeSyntheticVideo(32, 24, 10.0, 2.0, s)))
    } :+ MediaRow(999, "corrupt", "video/gvid", Array[Byte](1, 2, 3))
    val fp = fingerprints(spark.createDataset(rows)).cache()
    val banded = nearDupPairs(fp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val ok = fp.filter($"sig".isNotNull)
      .select($"media_id", $"sig").as[(Long, Long)].collect()
    val brute = (for {
      (ia, ha) <- ok; (ib, hb) <- ok
      if ia < ib && ham(ha, hb) <= 8
    } yield (ia, ib, ham(ha, hb))).toSet
    assert(banded === brute)
    // every planted variant pair recalled; corrupt row absent
    for (s <- 0L until 12L) {
      assert(brute.exists(p => p._1 == s && p._2 == 100 + s), s"fps2 pair $s lost")
      assert(brute.exists(p => p._1 == s && p._2 == 200 + s), s"half pair $s lost")
    }
    assert(!banded.exists(p => p._1 == 999 || p._2 == 999))
    // no cross-seed false positives at this radius (probe: inter-seed ≥ 10)
    assert(banded.forall { case (a, b, _) => a % 100 == b % 100 })
    fp.unpersist()
  }

  test("exactDupPairs: recall 1 on byte-identical copies, checksum-precise") {
    val rows = for (s <- 0L until 8L; c <- 0 until 3) yield
      MediaRow(s * 10 + c, s"a/$s/$c", "video/gvid",
        encodeSyntheticVideo(32, 24, 8.0, 1.5, s))
    val fp = fingerprints(spark.createDataset(rows))
    val got = exactDupPairs(fp)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for (s <- 0L until 8L; a <- 0 until 3; b <- 0 until 3 if a < b)
      yield (s * 10 + a, s * 10 + b)).toSet
    assert(got === want)
  }

  test("gain invariance: brightness scaling flips (almost) no bits") {
    // multiplicative luminance gain preserves per-cell temporal order up
    // to the 8-bit requantization of the frame buffer
    for (s <- 0L until 10L)
      assert(ham(sig(encodeSyntheticVideo(64, 48, 10.0, 2.0, s)),
        sig(encodeSyntheticVideo(64, 48, 10.0, 2.0, s, gain = 0.5))) <= 2)
  }
}
