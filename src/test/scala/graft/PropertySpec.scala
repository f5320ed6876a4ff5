package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.etl.HourlyAggregate
import graft.ext.{Dedup, Similarity}

/** Property-based invariants (SURVEY §5.2 item 3, §5.3). Uses ScalaCheck
  * generators with fixed seeds (the scalatest-plus bridge isn't in the
  * offline dependency set, so sampling is driven manually). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Run `body` over `n` deterministic samples of `gen`. */
  private def forAllSeeded[A](gen: Gen[A], n: Int = 10)(body: A => Unit): Unit =
    (1 to n).foreach { i =>
      body(gen.pureApply(Gen.Parameters.default, Seed(42L + i)))
    }

  private val baseMs = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  private val rowsGen: Gen[List[(Long, Long, Double)]] = Gen.nonEmptyListOf(
    for {
      bldg <- Gen.choose(1L, 4L)
      quarterHour <- Gen.choose(0, 24 * 4 - 1)
      v <- Gen.choose(-1000.0, 1000.0)
    } yield (bldg, baseMs + quarterHour * 15 * 60 * 1000L, v))

  test("hourly aggregate: floor idempotent, mean within [min,max], groups partition rows") {
    forAllSeeded(rowsGen) { rows =>
      val df = rows.map { case (b, ms, v) => (new Timestamp(ms), b, v) }
        .toDF("timestamp", "bldg_id", "m")
      val out = HourlyAggregate(df, measureCols = Seq("m")).cache()
      val collected = out.collect()
      // hour floor is idempotent and each timestamp_min belongs to its hour
      collected.foreach { r =>
        val hour = r.getTimestamp(0).getTime
        val tmin = r.getTimestamp(2).getTime
        assert(hour % (3600 * 1000) === 0)
        assert(tmin >= hour && tmin < hour + 3600 * 1000)
      }
      // group count == distinct (bldg, hour) pairs; no row lost or invented
      val expectedGroups = rows.map { case (b, ms, _) => (b, ms / 3600000L) }.distinct.size
      assert(collected.length === expectedGroups)
      // mean within [min, max] of its group
      val groups = rows.groupBy { case (b, ms, _) => (b, ms / 3600000L) }
      collected.foreach { r =>
        val key = (r.getLong(1), r.getTimestamp(0).getTime / 3600000L)
        val vs = groups(key).map(_._3)
        assert(r.getDouble(3) >= vs.min - 1e-9 && r.getDouble(3) <= vs.max + 1e-9)
      }
      out.unpersist()
      ()
    }
  }

  test("exact dedup is idempotent and never invents rows") {
    val textGen = Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c", "d"))
      .map(_.mkString(" "))
    forAllSeeded(Gen.nonEmptyListOf(textGen)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val once = Dedup.exactByContent(df, "text", "doc_id").cache()
      val twice = Dedup.exactByContent(once, "text", "doc_id")
      assert(once.count() === twice.count())
      assert(once.count() === texts.distinct.size)
      // survivors are a subset of the input ids
      val ids = once.select("doc_id").as[Long].collect().toSet
      assert(ids.subsetOf(texts.indices.map(_.toLong).toSet))
      once.unpersist()
      ()
    }
  }

  test("minhash jaccard estimate tracks exact jaccard for related docs") {
    // identical docs -> signature identical -> always candidate pair
    val words = (0 until 30).map(i => s"w$i")
    val doc = words.mkString(" ")
    val df = Seq((1L, doc), (2L, doc), (3L, words.reverse.mkString(" ")))
      .toDF("doc_id", "text")
    val pairs = Dedup.nearDupPairs(df, "doc_id", "text",
      Dedup.MinHashParams(threshold = 0.99))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("lsh ann results are a subset of the scored universe with correct ranks") {
    val emb = core.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = emb.filter($"vec_id" < 5).select($"vec_id".as("query_id"), $"embedding")
    val lsh = Similarity.lshTopK(emb, queries, k = 5).collect()
    // ranks are 1..k without gaps per query, scores non-increasing
    lsh.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_.getInt(3))
      assert(byRank.map(_.getInt(3)).toSeq === (1 to byRank.length))
      val scores = byRank.map(_.getDouble(2)).toSeq
      assert(scores === scores.sorted.reverse)
    }
  }
}

class EtlConfigSpec extends SparkSpec {
  import graft.etl.EtlConfig

  test("reference-shaped config JSON parses") {
    val cfg = EtlConfig.fromJson(
      """{
        |  "output_root": "/tmp/out",
        |  "job_specific": [
        |    {"release_name": "comstock_amy2018_release_1", "release_year": "2024",
        |     "state": "AK", "upgrades": [0, 1],
        |     "src_root": "/data/src", "metadata_root": "/data/meta"},
        |    {"release_name": "r2", "release_year": "2025", "state": "CA",
        |     "src_root": "/d2", "metadata_root": "/m2", "by_id": false}
        |  ]
        |}""".stripMargin)
    assert(cfg.outputRoot === "/tmp/out")
    assert(cfg.jobs.length === 2)
    assert(cfg.jobs.head.upgrades === Seq(0, 1))
    assert(cfg.jobs.head.byId === true)
    assert(cfg.jobs(1).upgrades === Seq(0)) // default
    assert(cfg.jobs(1).byId === false)
    intercept[IllegalArgumentException] {
      EtlConfig.fromJson("""{"job_specific": []}""") // missing output_root
    }
  }

  test("declared_schema opts a job into schema enforcement") {
    val cfg = EtlConfig.fromJson(
      """{"output_root": "/tmp/out", "job_specific": [
        |  {"release_name": "r", "release_year": "2024", "state": "AK",
        |   "src_root": "/s", "metadata_root": "/m",
        |   "declared_schema": "energy_timeseries"}]}""".stripMargin)
    assert(cfg.jobs.head.declaredSchema.get === graft.etl.SchemaDefs.timeseriesSchema)
    intercept[IllegalArgumentException] {
      EtlConfig.fromJson(
        """{"output_root": "/o", "job_specific": [
          |  {"release_name": "r", "release_year": "2024", "state": "AK",
          |   "src_root": "/s", "metadata_root": "/m",
          |   "declared_schema": "nope"}]}""".stripMargin)
    }
  }
}

class TopKBufferPropertySpec extends SparkSpec {

  private def forAllSeeded[A](gen: Gen[A], n: Int = 25)(body: A => Unit): Unit =
    (1 to n).foreach { i =>
      body(gen.pureApply(Gen.Parameters.default, Seed(7L + i)))
    }

  private val pairsGen: Gen[(Int, List[(Double, Long)])] = for {
    k <- Gen.choose(1, 8)
    // narrow score/id ranges force ties so tie-breaking is exercised
    pairs <- Gen.listOf(for {
      s <- Gen.choose(0, 5).map(_.toDouble)
      id <- Gen.choose(0L, 20L)
    } yield (s, id))
  } yield (k, pairs)

  private def oracle(pairs: List[(Double, Long)], k: Int): List[(Double, Long)] =
    pairs.sortBy { case (s, i) => (-s, i) }.take(k)

  test("heap top-k == sort top-k under arbitrary ties; merge == union; serde round-trips") {
    forAllSeeded(pairsGen) { case (k, pairs) =>
      val buf = new graft.functions.TopKBuffer(k)
      pairs.foreach { case (s, i) => buf.add(s, i) }
      assert(buf.sortedDesc.toList === oracle(pairs, k))

      // split arbitrarily, build two buffers, merge — same result
      val (l, r) = pairs.splitAt(pairs.length / 2)
      val bl = new graft.functions.TopKBuffer(k)
      l.foreach { case (s, i) => bl.add(s, i) }
      val br = new graft.functions.TopKBuffer(k)
      r.foreach { case (s, i) => br.add(s, i) }
      bl.mergeFrom(br)
      assert(bl.sortedDesc.toList === oracle(pairs, k))

      // serialization round-trip preserves contents
      val back = graft.functions.TopKBuffer.fromBytes(bl.toBytes)
      assert(back.sortedDesc.toList === bl.sortedDesc.toList)
    }
  }
}

class ExtensionsSpec extends SparkSpec {
  test("GraftExtensions injects SQL functions") {
    org.apache.spark.sql.TestExtensionsBridge
      .applyFunctions(spark, new GraftExtensions()(_))
    locally {
      val r = spark.sql(
        """SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
          |                  array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c,
          |       dot_product(array(CAST(2.0 AS FLOAT)), array(CAST(3.0 AS FLOAT))) AS d,
          |       simhash64(array(CAST(5 AS BIGINT))) AS s,
          |       size(minhash_signature(array(CAST(5 AS BIGINT)), 16)) AS m
          |""".stripMargin).collect().head
      assert(r.getDouble(0) === 1.0)
      assert(r.getDouble(1) === 6.0)
      assert(r.getLong(2) === 5L) // single hash: sign bits = its bits
      assert(r.getInt(3) === 16)
    }
    locally {
      val r = spark.sql(
        """SELECT double_sort_bits(CAST(-1.5 AS DOUBLE)) < double_sort_bits(CAST(2.5 AS DOUBLE)) AS ord,
          |       jaccard_sorted(array(CAST(1 AS BIGINT), CAST(2 AS BIGINT)),
          |                      array(CAST(2 AS BIGINT), CAST(3 AS BIGINT))) AS j
          |""".stripMargin).collect().head
      assert(r.getBoolean(0))
      assert(math.abs(r.getDouble(1) - 1.0 / 3.0) < 1e-12)
    }
    locally {
      // top_centroids: vec aligned with centroid 1, orthogonal to centroid 0
      val r = spark.sql(
        """SELECT top_centroids(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
          |         array(array(CAST(0.0 AS FLOAT), CAST(1.0 AS FLOAT)),
          |               array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))), 1) AS t
          |""".stripMargin).collect().head
      assert(r.getSeq[Int](0) === Seq(1))
      val agg = spark.sql(
        """SELECT top_k_by(CAST(v AS DOUBLE), CAST(v AS BIGINT), 2) AS top
          | FROM VALUES (1), (9), (5), (7) AS t(v)
          |""".stripMargin).collect().head
      val top = agg.getSeq[org.apache.spark.sql.Row](0)
      assert(top.map(_.getLong(0)) === Seq(9L, 7L))
    }
  }
}

class RoundFivePropertySpec extends SparkSpec {
  import spark.implicits._

  private def forAllSeeded[A](gen: Gen[A], n: Int = 10)(body: A => Unit): Unit =
    (1 to n).foreach { i =>
      body(gen.pureApply(Gen.Parameters.default, Seed(142L + i)))
    }

  private val baseMs = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  private val seriesGen: Gen[List[(Long, Int, Double)]] = Gen.nonEmptyListOf(
    for {
      key <- Gen.choose(1L, 3L)
      hour <- Gen.choose(0, 48)
      v <- Gen.choose(-100.0, 100.0)
    } yield (key, hour, v))

  test("interpolate: observations preserved, fills bounded by neighbors, spine dense") {
    forAllSeeded(seriesGen) { raw =>
      // one observation per (key, hour): the operator's contract
      val obs = raw.groupBy(r => (r._1, r._2)).map(_._2.head).toList
      val df = obs.map { case (k, h, v) =>
        (k, new Timestamp(baseMs + h * 3600L * 1000), v) }.toDF("k", "h", "v")
      val out = graft.ext.Interpolate.linear(df, Seq("k"), "h", "v")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime,
          r.getDouble(2), r.getInt(3)))
      val byKey = obs.groupBy(_._1)
      // spine density: rows per key == span in hours + 1
      byKey.foreach { case (k, rows) =>
        val hrs = rows.map(_._2)
        assert(out.count(_._1 == k) === hrs.max - hrs.min + 1)
      }
      // every observation appears verbatim with filled = 0
      obs.foreach { case (k, h, v) =>
        val t = baseMs + h * 3600L * 1000
        val row = out.find(r => r._1 == k && r._2 == t).get
        assert(row._3 === v && row._4 === 0)
      }
      // every filled cell lies within [min, max] of its key's observations
      // (linear interpolation between neighbors can't overshoot them)
      byKey.foreach { case (k, rows) =>
        val lo = rows.map(_._3).min
        val hi = rows.map(_._3).max
        out.filter(r => r._1 == k && r._4 == 1).foreach { r =>
          assert(r._3 >= lo - 1e-9 && r._3 <= hi + 1e-9)
        }
      }
    }
  }

  test("incremental agg: any 3-way slicing folds to the full recompute") {
    import graft.etl.MaterializedRollup.{build, merge}
    // measure values include NULLs (a missing reading): `cnt` counts
    // rows, `cnt_x` only the non-null values the mean divides by
    val rowsG: Gen[List[(Long, Option[Double])]] = Gen.nonEmptyListOf(
      for {
        k <- Gen.choose(1L, 5L)
        v <- Gen.option(Gen.choose(-1e6, 1e6))
      } yield (k, v))
    def state(rs: List[(Long, Option[Double])]) =
      build(rs.toDF("k", "x"), Seq("k"), Seq("x"))
    forAllSeeded(rowsG) { rows =>
      val full = state(rows).orderBy("k").collect().toSeq
      val (c1, c2) = (rows.length / 3, 2 * rows.length / 3)
      val folded = merge(Seq(state(rows.take(c1)),
          state(rows.slice(c1, c2)), state(rows.drop(c2))), Seq("k"), Seq("x"))
        .orderBy("k")
      def close(a: Any, b: Any): Boolean = (a, b) match {
        case (x: Double, y: Double) =>
          math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x))
        case _ => a == b
      }
      // keys, counts, min, max exact; sums to float tolerance (association
      // differs); an all-NULL key keeps NULL sum/min/max
      assert(full.length === folded.count())
      full.zip(folded.collect()).foreach { case (f, g) =>
        assert(f.getLong(0) === g.getLong(0))
        assert(f.getLong(1) === g.getLong(1))
        assert(close(f.get(2), g.get(2)), s"sum_x ${f.get(2)} vs ${g.get(2)}")
        assert(f.get(3) === g.get(3))
        assert(f.get(4) === g.get(4))
        assert(f.getLong(5) === g.getLong(5))
      }
      // the mean derived from the folded state is avg() over all rows
      val derived = folded.select($"k", ($"sum_x" / $"cnt_x").as("m"))
        .collect().map(r => r.getLong(0) -> r.get(1)).toMap
      val avgs = rows.toDF("k", "x").groupBy("k").agg(avg("x"))
        .collect().map(r => r.getLong(0) -> r.get(1)).toMap
      assert(derived.keySet === avgs.keySet)
      avgs.foreach { case (k, a) =>
        assert(close(a, derived(k)), s"key $k: avg $a vs derived ${derived(k)}")
      }
    }
  }

  test("url canonicalization: idempotent; invariant to param order, tracking params, fragments") {
    import graft.ext.Urls
    val urlGen: Gen[(String, List[String], String)] = for {
      scheme <- Gen.oneOf("http", "HTTP", "https", "HTTPS")
      www <- Gen.oneOf("", "www.")
      hostCase <- Gen.oneOf("site", "Site", "SITE")
      tld <- Gen.oneOf("com", "co.uk", "io")
      port <- Gen.oneOf("", ":8080", ":9090")
      depth <- Gen.choose(0, 3)
      trail <- Gen.oneOf("", "/", "//")
      params <- Gen.someOf(List("a=1", "b=2", "zz=3", "k=v")).map(_.toList)
    } yield (
      s"$scheme://$www$hostCase.$tld$port" +
        (0 until depth).map(i => s"/p$i").mkString + trail,
      params,
      s"$scheme://$www$hostCase.$tld$port" +
        (0 until depth).map(i => s"/p$i").mkString)
    def canonOf(urls: Seq[String]): Seq[String] =
      urls.toDF("u").select(Urls.canonicalize(col("u"))).as[String].collect()
        .toSeq
    forAllSeeded(urlGen, n = 15) { case (base, params, _) =>
      val clean = base + (if (params.nonEmpty) "?" + params.mkString("&") else "")
      // the same URL with permuted params, injected tracking noise and a
      // fragment must canonicalize identically — and canonicalization of
      // a canonical form must be a fixpoint
      val noisy = base +
        "?" + scala.util.Random.shuffle(params ++ List(
          "utm_source=x", "utm_medium=y", "gclid=123", "ref=abc"))
          .mkString("&") + "#frag"
      val Seq(c1, c2) = canonOf(Seq(clean, noisy))
      assert(c1 === c2, s"clean=$clean noisy=$noisy")
      assert(canonOf(Seq(c1)).head === c1, s"not a fixpoint: $c1")
    }
  }

  test("audio signature: EXACT gain invariance and determinism on random PCM") {
    import graft.ext.AudioDedup
    // random sample arrays long enough for the 17-window grid; any
    // positive gain must leave every bit unchanged (per-window
    // normalization cancels g² exactly), and the signature is a pure
    // function of its input
    val pcmGen: Gen[(List[Double], Double)] = for {
      n <- Gen.choose(64, 800)
      xs <- Gen.listOfN(n, Gen.choose(-1.0, 1.0))
      g <- Gen.choose(0.05, 20.0)
    } yield (xs, g)
    forAllSeeded(pcmGen, n = 15) { case (xs, g) =>
      val a = xs.toArray
      val s1 = AudioDedup.signature64(a, 8000.0)
      assert(s1.isDefined)
      assert(AudioDedup.signature64(a.map(_ * g), 8000.0) === s1,
        s"gain $g flipped bits")
      assert(AudioDedup.signature64(a.clone(), 8000.0) === s1)
    }
    // refusal contracts hold for arbitrary content
    assert(AudioDedup.signature64(Array.fill(10)(0.5), 8000.0).isEmpty)
    assert(AudioDedup.signature64(Array.fill(500)(0.5), 3000.0).isEmpty)
  }

  test("video signature: determinism and container round-trip on random clips") {
    import graft.ext.VideoDedup
    // the signature is a pure function of the container bytes, the GVID
    // round trip is exact for arbitrary frame payloads, and the sample
    // grid covers both endpoints for any frame count
    val clipGen: Gen[(Int, Int, Long)] = for {
      w <- Gen.choose(8, 40)
      nf <- Gen.choose(2, 24)
      seed <- Gen.choose(0L, 1000L)
    } yield (w, nf, seed)
    forAllSeeded(clipGen, n = 10) { case (w, nf, seed) =>
      val clip = VideoDedup.encodeSyntheticVideo(
        w, w * 3 / 4 max 2, fps = 8.0, durationSec = nf / 8.0, seed)
      val s1 = VideoDedup.signature64(clip)
      assert(s1.isDefined)
      assert(VideoDedup.signature64(clip.clone()) === s1)
      val v = VideoDedup.decodeVideo(clip).get
      assert(VideoDedup.decodeVideo(
        VideoDedup.encodeVideo(v.frames, v.fps)).get.frames
          .map(_.toSeq) === v.frames.map(_.toSeq))
      val idx = VideoDedup.sampleIndices(v.frames.length)
      assert(idx.head === 0 && idx.last === v.frames.length - 1)
      assert(idx.forall(i => i >= 0 && i < v.frames.length))
    }
  }

  test("PQ: lossless codebooks make ADC self-identifying on random vectors") {
    val vecsGen: Gen[List[List[Float]]] = Gen.choose(6, 20).flatMap { n =>
      Gen.listOfN(n, Gen.listOfN(16,
        Gen.choose(-1000000, 1000000).map(_ / 100000.0f)))
    }
    forAllSeeded(vecsGen, n = 5) { vecs =>
      val distinct = vecs.distinct
      val corpus = distinct.zipWithIndex
        .map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")
      val model = graft.ext.Pq.exactModel(corpus, m = 4)
      // encoding is deterministic
      val c1 = graft.ext.Pq.encodeCorpus(corpus, model)
        .select($"vec_id", $"codes").as[(Long, Seq[Int])].collect().sortBy(_._1)
      val c2 = graft.ext.Pq.encodeCorpus(corpus, model)
        .select($"vec_id", $"codes").as[(Long, Seq[Int])].collect().sortBy(_._1)
      assert(c1.toSeq === c2.toSeq)
      // under a lossless codebook every vector's nearest ADC neighbor is
      // itself at distance exactly 0 (ties impossible: vectors distinct)
      val queries = corpus.select($"vec_id".as("query_id"), $"embedding")
      val top1 = graft.ext.Pq.adcTopK(
          graft.ext.Pq.encodeCorpus(corpus, model), queries, model, k = 1)
        .select($"query_id", $"id", $"dist")
        .as[(Long, Long, Double)].collect()
      assert(top1.length === distinct.size)
      top1.foreach { case (q, id, d) => assert(q === id && d === 0.0) }
    }
  }
}
