package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ext.Multimodal.{MediaCodec, MediaRow}
import graft.ext.AudioDedup._

/** X85 perceptual audio near-dup: signature invariance under REAL
  * resampling (the same continuous signal rendered at 8 kHz / 11.025 kHz
  * / 16 kHz) and gain change, seed separation, banding exactness, and
  * the checksum-verified oracle face. Measured margins (1-second
  * tone-mixture corpus, 30 seeds, SURVEY §6.9): resampled variants
  * ≤ 13 bits, gain-halved ≤ 1, inter-seed minimum 19 — the default
  * radius 14 sits inside the gap. */
class AudioDedupSpec extends SparkSpec {
  import spark.implicits._

  private def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
  private def sig(bytes: Array[Byte]): Long = {
    val (fmt, pcm) = MediaCodec.decodeAudio(bytes).get
    signature64(monoSamples(fmt, pcm).get, fmt.getSampleRate.toDouble).get
  }

  test("byte-identical clips have identical signature and checksum") {
    val a = encodeToneWav(8000, 8000, seed = 7)
    val b = encodeToneWav(8000, 8000, seed = 7)
    assert(a.sameElements(b))
    assert(sig(a) === sig(b))
    val (_, pa) = MediaCodec.decodeAudio(a).get
    val (_, pb) = MediaCodec.decodeAudio(b).get
    assert(pcmChecksum(pa) === pcmChecksum(pb))
  }

  test("signature survives real resampling and gain change; seeds stay far") {
    val seeds = 0L until 20L
    val orig = seeds.map(s => s -> sig(encodeToneWav(8000, 8000, s))).toMap
    for (s <- seeds) {
      assert(ham(orig(s), sig(encodeToneWav(11025, 11025, s))) <= 14,
        s"11.025 kHz copy of seed $s drifted past the radius")
      assert(ham(orig(s), sig(encodeToneWav(16000, 16000, s))) <= 14,
        s"16 kHz copy of seed $s drifted past the radius")
      assert(ham(orig(s), sig(encodeToneWav(8000, 8000, s, gain = 0.5))) <= 2,
        s"gain-halved copy of seed $s drifted")
    }
    for (a <- seeds; b <- seeds if a < b)
      assert(ham(orig(a), orig(b)) > 14, s"seeds $a/$b too close")
  }

  test("signature refuses what it cannot represent") {
    // too short to fill the window grid
    assert(signature64(Array.fill(10)(0.1), 8000.0).isEmpty)
    // sample rate below Nyquist for the top band
    assert(signature64(Array.fill(4000)(0.1), 3000.0).isEmpty)
    // non-16-bit formats have no defined decode
    val fmt8 = new javax.sound.sampled.AudioFormat(8000f, 8, 1, true, false)
    assert(monoSamples(fmt8, Array.fill(100)(1.toByte)).isEmpty)
  }

  test("stereo folds to the mono average") {
    val fmtS = new javax.sound.sampled.AudioFormat(8000f, 16, 2, true, false)
    // L=1000, R=3000 → mono 2000
    val frame = Array[Byte](
      (1000 & 0xff).toByte, (1000 >> 8).toByte,
      (3000 & 0xff).toByte, (3000 >> 8).toByte)
    val pcm = Array.fill(4)(frame).flatten
    val mono = monoSamples(fmtS, pcm).get
    assert(mono.length === 4)
    assert(math.abs(mono(0) - 2000.0 / 32768.0) < 1e-12)
  }

  test("nearDupPairs ≡ brute-force cross join (banding is exact)") {
    // 12 originals + a real resampled and a gain-adjusted variant each,
    // plus a corrupt row
    val rows = (0L until 12L).flatMap { s =>
      Seq(
        MediaRow(s, s"orig/$s", "audio/wav", encodeToneWav(8000, 8000, s)),
        MediaRow(100 + s, s"rs/$s", "audio/wav", encodeToneWav(11025, 11025, s)),
        MediaRow(200 + s, s"gain/$s", "audio/wav",
          encodeToneWav(8000, 8000, s, gain = 0.5)))
    } :+ MediaRow(999, "corrupt", "audio/wav", Array[Byte](1, 2, 3))
    val fp = fingerprints(spark.createDataset(rows)).cache()
    val banded = nearDupPairs(fp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val ok = fp.filter($"sig".isNotNull)
      .select($"media_id", $"sig").as[(Long, Long)].collect()
    val brute = (for {
      (ia, ha) <- ok; (ib, hb) <- ok
      if ia < ib && ham(ha, hb) <= 14
    } yield (ia, ib, ham(ha, hb))).toSet
    assert(banded === brute)
    // every planted variant pair recalled; corrupt row absent
    for (s <- 0L until 12L) {
      assert(brute.exists(p => p._1 == s && p._2 == 100 + s), s"resample pair $s lost")
      assert(brute.exists(p => p._1 == s && p._2 == 200 + s), s"gain pair $s lost")
    }
    assert(!banded.exists(p => p._1 == 999 || p._2 == 999))
    // no cross-seed false positives at this radius (probe: inter-seed ≥ 19)
    assert(banded.forall { case (a, b, _) => a % 100 == b % 100 })
    fp.unpersist()
  }

  test("exactDupPairs: recall 1 on byte-identical copies, checksum-precise") {
    val rows = for (s <- 0L until 10L; c <- 0 until 3) yield
      MediaRow(s * 10 + c, s"a/$s/$c", "audio/wav", encodeToneWav(4000, 8000, s))
    val fp = fingerprints(spark.createDataset(rows))
    val got = exactDupPairs(fp)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for (s <- 0L until 10L; a <- 0 until 3; b <- 0 until 3 if a < b)
      yield (s * 10 + a, s * 10 + b)).toSet
    assert(got === want)
  }

  test("gain invariance is exact on the normalized energies (dead-zone 0)") {
    // scaling the DOUBLE samples (no requantization) flips zero bits
    val (fmt, pcm) = MediaCodec.decodeAudio(encodeToneWav(8000, 8000, 3)).get
    val mono = monoSamples(fmt, pcm).get
    val scaled = mono.map(_ * 0.37)
    assert(signature64(mono, 8000.0).get === signature64(scaled, 8000.0).get)
  }
}
