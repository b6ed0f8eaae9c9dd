package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.Scalars._
import graft.functions.TextFunctions._

/** Property tests (SURVEY §5.4): invariants that must hold for ALL inputs.
  * Uses scalacheck generators directly with deterministic seeds (the
  * scalatestplus bridge isn't in the offline cache); each property is
  * evaluated over a batch of generated cases in ONE Spark job so the
  * suite stays fast. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def cases[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("dollarsToCents equals JVM/python truncation for arbitrary amounts") {
    val ds = cases(Gen.chooseNum(-10000000, 10000000), 200)
      .map(_ / 100.0)
    val got = ds.toDF("d").select(dollarsToCents($"d")).as[Long].collect()
    val want = ds.map(d => (d * 100).toLong) // double→long == python int()
    assert(got.toSeq == want)
  }

  test("stripFalsy never keeps falsy values and only keeps input values") {
    val strGen = Gen.oneOf(Gen.alphaNumStr.map(_.take(6)),
      Gen.oneOf("", "0", "0.0", "false", "FALSE", "1"))
    val listGen = Gen.listOfN(6, Gen.option(strGen))
    val falsy = Set("", "0", "0.0", "false")
    cases(listGen, 60).foreach { vs =>
      val entries = vs.zipWithIndex.flatMap { case (v, i) =>
        Seq(lit(s"k$i"), v.map(lit(_)).getOrElse(lit(null).cast("string")))
      }
      val kept = Seq(1).toDF("x")
        .select(map_values(stripFalsy(map(entries: _*))).as("v"))
        .as[Seq[String]].collect().head
      assert(kept.forall(v => v != null && !falsy(v.toLowerCase)))
      assert(kept.toSet.subsetOf(vs.flatten.toSet))
    }
  }

  test("mapCategory is total: output always in CAT_MAP ∪ {Other}") {
    val valid = (CatMap ++ Seq("Other")).toSet
    val g = for {
      c <- Gen.oneOf(Gen.alphaStr.map(_.take(10)),
        Gen.oneOf("Cannabis", "cannabis", "Seeds", "Flower", "Wax",
          "Paraphernalia", "Tincture", "Prerolled", "Drinks", "Edibles"))
      s <- Gen.chooseNum(0, 100)
      i <- Gen.chooseNum(0, 100)
    } yield (c, s, i)
    val rows = cases(g, 150)
    val out = rows.toDF("c", "s", "i")
      .select(mapCategory($"c", $"s", $"i")).as[String].collect()
    assert(out.forall(valid))
  }

  test("shingle count == max(tokens - n + 1, 0) for any token list") {
    val g = Gen.listOfN(12, Gen.chooseNum(0, 49)).map(ws =>
      ws.take(ws.headOption.getOrElse(0) % 13).map(w => s"w$w")
        .mkString(" "))
    val texts = cases(g, 80)
    val out = texts.toDF("t")
      .select(size(tokens($"t")), size(shingles(tokens($"t"), 3)))
      .as[(Int, Int)].collect()
    out.foreach { case (nTok, nSh) =>
      assert(nSh == math.max(nTok - 2, 0))
    }
  }

  test("minhash signature is permutation-insensitive to shingle ORDER only") {
    // Same shingle SET → same signature, regardless of token order
    // producing it; different sets → (almost surely) different sigs.
    val df = Seq("a b c a b c", "a b c a b c", "c b a c b a", "x y z w")
      .toDF("t")
      .select(minhashSig(shingles(tokens($"t"), 3), 8).as("sig"))
    val sigs = df.as[Seq[String]].collect()
    assert(sigs(0) == sigs(1))      // identical docs
    assert(sigs(0) != sigs(3))      // different content
  }

  test("bloomPrefilterJoin equals the plain join on arbitrary key sets") {
    val probeGen = Gen.listOfN(300, Gen.chooseNum(-500L, 500L))
    val buildGen = Gen.listOfN(12, Gen.chooseNum(-500L, 500L))
    cases(Gen.zip(probeGen, buildGen), 5).foreach { case (pks, bks) =>
      val probe = pks.zipWithIndex.map { case (k, i) => (k, i) }
        .toDF("k", "pv")
      val build = bks.distinct.map(k => (k, s"b$k")).toDF("bk", "bv")
      val plain = probe.join(build, col("k") === col("bk"))
        .select("k", "pv", "bv").collect().map(_.toString).sorted.toSeq
      val bloomed = graft.operators.ScaleOps
        .bloomPrefilterJoin(probe, "k", build, "bk")
        .select("k", "pv", "bv").collect().map(_.toString).sorted.toSeq
      assert(bloomed == plain)
    }
  }

  test("sampleFrames at stride 1 reassembles the exact payload") {
    val gen = Gen.chooseNum(0, 400).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte)))
    cases(gen, 20).zipWithIndex.foreach { case (bytes, i) =>
      val media = Seq((i.toLong, bytes.toArray, "video/fake"))
        .toDF("media_id", "payload", "mime")
      val back = graft.multimodal.Multimodal.sampleFrames(media, 4, 1)
        .agg(concat_ws("", transform(
          array_sort(collect_list(struct($"frame_idx", $"frame_b64"))),
          x => x.getField("frame_b64")))).as[String]
        .collect().headOption.filter(_.nonEmpty)
        .map(java.util.Base64.getDecoder.decode).getOrElse(Array.empty[Byte])
      assert(back.toSeq == bytes, s"case $i (${bytes.length} bytes)")
    }
  }

  test("canonicalizeUrl is idempotent for arbitrary generated URLs") {
    // A canonicalizer that isn't a fixpoint silently splits dup groups
    // between passes (ingest canonicalizes once, a backfill twice).
    val urlGen = for {
      scheme <- Gen.oneOf("http", "HTTP", "https", "HTTPS")
      host <- Gen.oneOf("Ex.COM", "www.ex.com", "A.B.ORG")
      port <- Gen.oneOf("", ":80", ":443", ":8080")
      path <- Gen.oneOf("", "/", "/A/b", "/a/b/", "/a//")
      q <- Gen.oneOf("", "?id=1", "?b=2&a=1", "?utm_source=x&id=1",
        "?gclid=9", "?fbclid=1&z=3&utm_medium=m")
      frag <- Gen.oneOf("", "#x", "#a/b?c=d")
    } yield s"$scheme://$host$port$path$q$frag"
    val urls = cases(urlGen, 120).zipWithIndex
      .map { case (u, i) => (i.toLong, u) }.toDF("id", "url")
    val once = graft.api.GraftOps.canonicalizeUrl($"url")
    val out = urls.select($"id", once.as("c1"),
        graft.api.GraftOps.canonicalizeUrl(once).as("c2"))
      .as[(Long, String, String)].collect()
    out.foreach { case (i, c1, c2) =>
      assert(c1 == c2, s"not idempotent for row $i: $c1 -> $c2")
    }
  }

  test("media header parsers never throw on arbitrary bytes — " +
      "malformed payloads fall through, they don't fail tasks") {
    // The 100 TB crawl claim: a corrupt container is a per-row skip.
    // Random bytes, truncated real containers, and adversarial
    // prefixes (valid magic + garbage) must all return cleanly.
    import graft.multimodal.Multimodal
    val real = Multimodal.mp4BytesStts(600, 1200, 320, 240, 1000,
      Seq((3, 100), (2, 50)))
    val byteGen = Gen.chooseNum(0, 64).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte))
        .map(_.toArray))
    val payloads: Seq[Array[Byte]] =
      cases(byteGen, 80) ++
        (0 to real.length by 7).map(real.take) ++ // every truncation
        Seq("ftyp".getBytes, ("\u0000\u0000\u0000\u0014ftypisom"
          + "garbagegarbage").getBytes, Array.empty[Byte], null)
    payloads.foreach { p =>
      Multimodal.videoSampleTimes(p) // must not throw
      // (videoMeta/audioMeta are exercised via the extract* paths in
      // MultimodalSpec's junk tests; this pins the new stts walker.)
    }
    // And the full container still parses after surviving the gauntlet.
    assert(Multimodal.videoSampleTimes(real).exists(_._2.length == 5))
  }

  test("rowLocalBands equals minhashBands for arbitrary random corpora") {
    // Random docs over a tiny vocabulary (forces shared shingles and
    // band collisions) plus degenerate shapes: empty, 1-2 tokens
    // (no shingles), repeated tokens. One Spark job per batch.
    val docGen = Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc", "dd", "ee"))
        .map(_.mkString(" ")))
    val docs = cases(docGen, 60).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val batch = graft.api.GraftOps
      .minhashBands(docs, "doc_id", "text")
      .as[(Long, Int, String)].collect().toSet
    val rowlocal = graft.api.GraftOps
      .rowLocalBands(docs, "doc_id", "text")
      .as[(Long, Int, String)].collect().toSet
    assert(rowlocal == batch,
      s"missing=${batch -- rowlocal}\nextra=${rowlocal -- batch}")
    assert(batch.size == 60 * 4) // every doc bands, even shingle-less ones
  }

  test("cappedKeyPairCounts equals the raw self-join under the cap and " +
      "is a count-bounded subset over it, for arbitrary key tables") {
    // Random (id, key) multisets over a small keyspace (forces hot
    // buckets, within-id duplicate keys, singleton keys). Under a cap
    // above every bucket the generator must reproduce the raw join's
    // pair counts EXACTLY; under a tiny cap every surviving pair is a
    // raw pair with count <= raw count — checked against an
    // independently computed raw join, one Spark job per batch.
    val rowGen = for {
      id <- Gen.chooseNum(0, 25)
      key <- Gen.oneOf("h", "k1", "k2", "k3", "k4")
    } yield (id.toLong, key)
    val rows = cases(rowGen, 300).toDF("media_id", "fhash")
    def counts(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long)].collect()
        .map { case (l, r, n) => (l, r) -> n }.toMap
    val raw = counts(rows.select($"media_id".as("left_id"), $"fhash")
      .join(rows.select($"media_id".as("right_id"), $"fhash"), "fhash")
      .filter($"left_id" < $"right_id")
      .groupBy("left_id", "right_id").count())
    val under = counts(graft.api.GraftOps
      .cappedKeyPairCounts(rows, "fhash", "media_id", 4096))
    assert(under == raw,
      s"under-cap must be bit-identical:\nmissing=${raw.keySet -- under.keySet}")
    val over = counts(graft.api.GraftOps
      .cappedKeyPairCounts(rows, "fhash", "media_id", 4))
    assert(over.keySet.subsetOf(raw.keySet), "over-cap invented a pair")
    assert(over.forall { case (k, n) => n <= raw(k) },
      "over-cap exceeded a raw count")
  }

  test("global PPJoin == brute-force Jaccard join on random template " +
      "corpora (all four bounds result-transparent)") {
    // The exactness claim behind dedup_ppjoin_g — exact-set collapse,
    // rare-token prefix, length bound, positional bound — proved
    // against the only ground truth that needs no cleverness: all
    // pairs, every corpus. Corpora are template-heavy on purpose
    // (copies, near-copies with tokens dropped/added, unrelated noise,
    // empty docs) so collapse, cross-set, boundary-J, and excluded
    // classes all occur across the batch.
    val alphabet = (0 until 80).map("w" + _)
    val corpusGen: Gen[Seq[(Long, String)]] = for {
      nTpl <- Gen.chooseNum(1, 3)
      tplSizes <- Gen.listOfN(nTpl, Gen.chooseNum(25, 55))
      tpls = tplSizes.zipWithIndex.map { case (sz, i) =>
        alphabet.drop(i * 7).take(sz)
      }
      nDocs <- Gen.chooseNum(8, 16)
      docs <- Gen.listOfN(nDocs, for {
        kind <- Gen.chooseNum(0, 9)
        tpl <- Gen.oneOf(tpls)
        drop <- Gen.chooseNum(0, 2)
        addN <- Gen.chooseNum(0, 2)
        adds <- Gen.listOfN(addN, Gen.oneOf(alphabet))
        noise <- Gen.listOfN(4, Gen.oneOf(alphabet))
      } yield kind match {
        case 0 => ""                      // token-empty: must vanish
        case 1 => noise.mkString(" ")     // unrelated small doc
        case _ => (tpl.drop(drop) ++ adds).mkString(" ")
      })
    } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    def round6(d: Double): Double = // Spark round(): HALF_UP at scale 6
      BigDecimal.valueOf(d)
        .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    var nIdentical = 0; var nCross = 0; var nBelow = 0
    for (corpus <- cases(corpusGen, 8)) {
      val sets = corpus.map { case (id, t) =>
        id -> t.split("\\s+").filter(_.nonEmpty).toSet
      }
      val want = (for {
        (la, sa) <- sets; (lb, sb) <- sets
        if la < lb && sa.nonEmpty && sb.nonEmpty
        inter = (sa & sb).size.toLong
        union = (sa | sb).size.toLong
        j = round6(inter.toDouble / union)
        if j >= 0.95
      } yield (la, lb, inter, union, j)).toSet
      nIdentical += want.count(_._5 == 1.0)
      nCross += want.count(_._5 < 1.0)
      nBelow += sets.combinations(2).count { case Seq((_, a), (_, b)) =>
        a.nonEmpty && b.nonEmpty &&
          round6((a & b).size.toDouble / (a | b).size) < 0.95
      }
      val got = graft.queries.TextOps
        .ppjoinGlobalPairs(corpus.toDF("doc_id", "text"))
        .as[(Long, Long, Long, Long, Double)].collect().toSet
      assert(got == want,
        s"PPJoin != brute force on corpus $corpus:\n extra=${got -- want}" +
          s"\n missing=${want -- got}")
    }
    // anti-vacuity: the batch must have exercised identical-set
    // cliques, sub-1.0 qualifying cross pairs, AND rejected pairs
    assert(nIdentical > 0 && nCross > 0 && nBelow > 0,
      s"generator drifted vacuous: identical=$nIdentical " +
        s"cross=$nCross below=$nBelow")
  }

  test("setSimilarityJoin == brute force across rational thresholds " +
      "1/2, 2/3, 4/5, 9/10, 1/1") {
    // The bound algebra (prefix length, den·min >= num·max, positional
    // α = ⌈num·S/(num+den)⌉) is derived for ARBITRARY rational t — the
    // registry only ever exercises 19/20, so this is the guard that a
    // future threshold parameter change can't silently break the
    // integer arithmetic. Smaller docs than the 0.95 test: loose
    // thresholds qualify plenty of pairs at 8-20 tokens.
    val alphabet = (0 until 40).map("u" + _)
    val corpusGen: Gen[Seq[(Long, String)]] = for {
      base <- Gen.chooseNum(8, 20)
      docs <- Gen.listOfN(10, for {
        kind <- Gen.chooseNum(0, 5)
        drop <- Gen.chooseNum(0, 3)
        addN <- Gen.chooseNum(0, 3)
        adds <- Gen.listOfN(addN, Gen.oneOf(alphabet))
        noise <- Gen.listOfN(5, Gen.oneOf(alphabet))
      } yield kind match {
        case 0 => ""
        case 1 => noise.mkString(" ")
        case _ => (alphabet.take(base).drop(drop) ++ adds).mkString(" ")
      })
    } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    def round6(d: Double): Double =
      BigDecimal.valueOf(d)
        .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    var qualifying = 0
    for {
      (num, den) <- Seq((1, 2), (2, 3), (4, 5), (9, 10), (1, 1))
      corpus <- cases(corpusGen, 3)
    } {
      val t = num.toDouble / den
      val sets = corpus.map { case (id, s) =>
        id -> s.split("\\s+").filter(_.nonEmpty).toSet
      }
      val want = (for {
        (la, sa) <- sets; (lb, sb) <- sets
        if la < lb && sa.nonEmpty && sb.nonEmpty
        inter = (sa & sb).size.toLong
        union = (sa | sb).size.toLong
        j = round6(inter.toDouble / union)
        if j >= t
      } yield (la, lb, inter, union, j)).toSet
      qualifying += want.size
      val got = graft.api.GraftOps
        .setSimilarityJoin(corpus.toDF("doc_id", "text"),
          "doc_id", "text", num, den)
        .as[(Long, Long, Long, Long, Double)].collect().toSet
      assert(got == want,
        s"t=$num/$den corpus $corpus:\n extra=${got -- want}" +
          s"\n missing=${want -- got}")
    }
    assert(qualifying > 0, "no threshold/corpus produced pairs")
  }

  test("graft-docs wire format round-trips arbitrary unicode strings " +
      "through the writer's escaping and the reader's Jackson parse") {
    // The connector's writer emits hand-escaped JSONL and the scan
    // parses it with Spark's JSON source (Jackson underneath) — the two
    // must agree on EVERY string, not just the ones the suite happens
    // to write. Exercise the exact wire line the writer builds
    // (DocStoreV2's write()) against the store's own read schema, all
    // generated lines in one read.
    val hostile = Gen.listOfN(12, Gen.oneOf(
      Gen.alphaNumStr.map(_.take(8)),
      Gen.oneOf("\"", "\\", "\n", "\r", "\t", " ", "",
        "{\"k\":1}", "\\u0041", "∑unicode≠", "a\"b\\c\nd")))
      .map(_.mkString)
    val docs = cases(hostile, 150).zipWithIndex
      .map { case (s, i) => (s"id-$i", s) }
    val lines = docs.map { case (id, s) =>
      s"""{"_id":"${graft.sinks.GraftDocs.jsonEscape(id)}","doc":"${graft.sinks.GraftDocs.jsonEscape(s)}"}"""
    }
    val back = spark.read.schema(graft.sinks.GraftDocs.Schema)
      .json(lines.toDS()).as[(String, String)].collect().toMap
    assert(back.size == docs.size, s"${back.size} of ${docs.size} read")
    docs.foreach { case (id, s) =>
      assert(back(id) == s,
        s"round-trip mismatch for ${s.map(_.toInt).mkString(",")}")
    }
  }

  test("exactPercentilesDistBy matches exactPercentilesDist per key") {
    // The grouped form (ev_rfm's single-pass thresholds, r22) must be
    // bit-identical to running the single-group machinery key by key —
    // including ties, constant-value keys, negatives and a key whose
    // count is below the probe positions' straddle width.
    val rows = cases(Gen.zip(Gen.chooseNum(1, 4),
      Gen.chooseNum(-500, 500)), 400)
      .map { case (k, v) => (k.toLong, v / 7.0) } ++
      Seq((9L, 42.0), (9L, 42.0), (9L, 42.0), (10L, -1.25))
    val df = rows.toDF("k", "v")
    val ps = Seq(0.25, 0.5, 0.75, 0.99)
    val grouped = graft.api.GraftOps
      .exactPercentilesDistBy(df, "k", "v", ps)
      .as[(Long, Seq[Double])].collect().toMap
    val keys = rows.map(_._1).distinct.sorted
    assert(grouped.keySet == keys.toSet)
    keys.foreach { k =>
      val single = graft.api.GraftOps
        .exactPercentilesDist(df.filter($"k" === k), "v", ps)
        .as[Seq[Double]].collect().head
      assert(grouped(k) == single, s"key $k: ${grouped(k)} vs $single")
    }
    // Empty and all-NULL inputs: a key whose values are all NULL gets
    // no row, and an empty frame gets no row at all.
    val withNullKey = df.union(
      Seq[(Long, Option[Double])]((11L, None), (11L, None)).toDF("k", "v"))
    assert(graft.api.GraftOps
      .exactPercentilesDistBy(withNullKey, "k", "v", ps)
      .as[(Long, Seq[Double])].collect().toMap == grouped)
    assert(graft.api.GraftOps
      .exactPercentilesDistBy(df.limit(0), "k", "v", ps).isEmpty)
  }

  test("exactPercentilesFromCounts matches exactPercentilesDist on rows") {
    // The pre-aggregated entry point (disorderReport's one-pass path,
    // r22) must be bit-identical to handing the machinery the expanded
    // rows — including heavy duplication (the late_us=0 spike shape),
    // negatives and a single-value table.
    val rows = cases(Gen.chooseNum(-300, 300), 500).map(_ / 9.0) ++
      Seq.fill(200)(0.0) ++ Seq(17.125)
    val df = rows.toDF("v")
    val ps = Seq(0.5, 0.95, 0.99)
    val fromRows = graft.api.GraftOps
      .exactPercentilesDist(df, "v", ps)
      .as[Seq[Double]].collect().head
    val counts = df.groupBy($"v").agg(
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("c"))
    val fromCounts = graft.api.GraftOps
      .exactPercentilesFromCounts(counts, "v", "c", ps)
      .as[Seq[Double]].collect().head
    assert(fromRows == fromCounts, s"$fromRows vs $fromCounts")
    // single distinct value: every quantile is that value on both paths
    val one = Seq(5.5, 5.5, 5.5).toDF("v")
    val a = graft.api.GraftOps.exactPercentilesDist(one, "v", ps)
      .as[Seq[Double]].collect().head
    val b = graft.api.GraftOps.exactPercentilesFromCounts(
      one.groupBy($"v").agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("c")), "v", "c", ps)
      .as[Seq[Double]].collect().head
    assert(a == b && a == Seq(5.5, 5.5, 5.5))
    // Empty and all-NULL inputs: both single-group forms return one
    // row of NULLs, like percentile(v, array(ps)).
    val nulls = Seq(Seq.fill(ps.size)(Option.empty[Double]))
    Seq(df.limit(0), Seq(Option.empty[Double], None).toDF("v")).foreach {
      in =>
        val r = graft.api.GraftOps.exactPercentilesDist(in, "v", ps)
          .as[Seq[Option[Double]]].collect().toSeq
        val c = graft.api.GraftOps.exactPercentilesFromCounts(
          in.groupBy($"v").agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("c")), "v", "c", ps)
          .as[Seq[Option[Double]]].collect().toSeq
        assert(r == nulls && c == nulls, s"$r / $c")
    }
  }

  test("disorderReport empty input keeps the degenerate row surface") {
    // The r22 one-pass rewrite must preserve the exact empty-input row
    // the old two-pass form produced: n_events 0 (count semantics, not
    // NULL-sum), everything else NULL.
    val empty = Seq.empty[(Long, Long)].toDF("event_id", "ts_us")
    val r = graft.api.GraftOps
      .disorderReport(empty, "event_id", "ts_us").collect().head
    assert(r.getLong(0) == 0L)                       // n_events
    assert((1 until 7).forall(r.isNullAt), r.toString)
  }
}
