package graft

import org.apache.spark.sql.functions._
import graft.api.GraftOps
import graft.queries.TextOps

/** Edge-case fixtures for the corpus line-dedup and sequence-packing
  * operators: first-occurrence-wins ordering, fully-deduplicated docs,
  * token-less docs, bin occupancy bounds, and prefix-sum exactness of
  * the distributed packing against a single-partition reference. */
class DedupPackSpec extends SparkSpec {
  import spark.implicits._

  test("dedupBlocks keeps only the corpus-wide first occurrence") {
    // Blocks of 2 tokens. Doc 1 = [A B][C D]; doc 2 = [C D][E F]:
    // doc 2's first block is a repeat of doc 1's second → dropped.
    val docs = Seq((1L, "a b c d"), (2L, "c d e f")).toDF("doc_id", "text")
    val out = GraftOps.dedupBlocks(docs, "doc_id", "text", 2)
      .orderBy("doc_id")
      .select("doc_id", "n_blocks", "n_kept").as[(Long, Long, Long)]
      .collect().toSeq
    assert(out == Seq((1L, 2L, 2L), (2L, 2L, 1L)))
  }

  test("dedupBlocks: fully-duplicated doc keeps nothing, hashes ''") {
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "")).toDF("doc_id", "text")
    val out = GraftOps.dedupBlocks(docs, "doc_id", "text", 2)
      .orderBy("doc_id")
      .select("doc_id", "n_blocks", "n_kept", "dedup_hash")
      .as[(Long, Long, Long, String)].collect().toSeq
    val emptyMd5 = "d41d8cd98f00b204e9800998ecf8427e" // md5("")
    assert(out(0) == ((1L, 1L, 1L, out(0)._4)) && out(0)._4 != emptyMd5)
    assert(out(1) == ((2L, 1L, 0L, emptyMd5))) // every block seen before
    assert(out(2) == ((3L, 0L, 0L, emptyMd5))) // token-less doc survives
  }

  test("dedupBlocks reassembles surviving blocks in original order") {
    // Doc 2 = [x y][a b][z w] where [a b] repeats doc 1: the hash must be
    // md5("x y z w") — order preserved, dropped block removed.
    val docs = Seq((1L, "a b"), (2L, "x y a b z w")).toDF("doc_id", "text")
    val got = GraftOps.dedupBlocks(docs, "doc_id", "text", 2)
      .filter($"doc_id" === 2L).select("dedup_hash").as[String].head()
    val want = spark.sql("SELECT md5('x y z w')").as[String].head()
    assert(got == want)
  }

  test("substringSpans recovers the maximal shared span, not the seeds") {
    // Docs share tokens s1..s12 (12 tokens) at different offsets:
    // 5 consecutive shared 8-grams → ONE span of 12 tokens, with the
    // correct per-doc start positions.
    val shared = (1 to 12).map("s" + _).mkString(" ")
    val docs = Seq(
      (1L, s"a1 a2 $shared z1 z2"), // shared starts at tpos 2
      (2L, s"$shared q1 q2 q3"))    // shared starts at tpos 0
      .toDF("doc_id", "text")
    val out = GraftOps.substringSpans(docs, "doc_id", "text")
      .select("doc_a", "doc_b", "start_a", "start_b", "span_tokens")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2L, 2L, 0L, 12L)), s"got $out")
  }

  test("substringSpans splits non-adjacent matches into separate spans") {
    // Two shared 9-token runs separated by unique middles → two spans
    // of 9, not one of 18; and a single shared 8-gram (minRun=2 not
    // met) yields nothing.
    val r1 = (1 to 9).map("r" + _).mkString(" ")
    val r2 = (1 to 9).map("w" + _).mkString(" ")
    val docs = Seq(
      (1L, s"$r1 m1 m2 $r2"),
      (2L, s"$r1 k1 k2 k3 $r2"))
      .toDF("doc_id", "text")
    val out = GraftOps.substringSpans(docs, "doc_id", "text")
      .orderBy("start_a")
      .select("start_a", "start_b", "span_tokens")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((0L, 0L, 9L), (11L, 12L, 9L)), s"got $out")

    val single = Seq((1L, "x1 x2 x3 x4 x5 x6 x7 x8 u1"),
      (2L, "x1 x2 x3 x4 x5 x6 x7 x8 v1"))
      .toDF("doc_id", "text")
    // The shared run is 8 tokens = ONE 8-gram = run length 1 < minRun.
    assert(GraftOps.substringSpans(single, "doc_id", "text").isEmpty)
  }

  test("substringSpans: sub-n-gram docs never pair (hash null guard)") {
    // Every doc is shorter than the 8-token gram, so NO seed exists
    // anywhere and the result must be empty. This pins the null guard
    // around the seed hash: Spark's hash functions return the SEED for
    // null input (not null), so an unguarded xxhash64 over the
    // null-padded tail grams would give every position of every doc
    // the same phantom seed id — these three unrelated docs would
    // bucket together and emit fabricated "shared spans".
    val docs = Seq((1L, "a b c"), (2L, "x y z"), (3L, "p q r"))
      .toDF("doc_id", "text")
    assert(GraftOps.substringSpans(docs, "doc_id", "text").isEmpty)
  }

  test("ngram_jaccard: sub-shingle docs score 0.0 (hash null guard)") {
    // Same guard, shingle-set side: 2-token docs have no 3-gram
    // shingle, so every adjacent pair's Jaccard is exactly 0.0. An
    // unguarded xxhash64 in docShingleSets would give every doc the
    // set {seed} and every pair Jaccard 1.0. Runs the REGISTERED query
    // against a temp documents table (docShingleSets is private).
    val dir = java.nio.file.Files
      .createTempDirectory("graft-nullguard").toString
    Seq((0L, "a b", "en", "web", 3L), (1L, "x y", "en", "web", 3L),
      (2L, "p q", "en", "web", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val jac = TextOps.queries("ngram_jaccard")(spark, dir)
      .select("jaccard").as[Double].collect().toSeq
    assert(jac.nonEmpty && jac.forall(_ == 0.0), s"got $jac")
  }

  test("substringSpans equals the brute-force span finder on random docs " +
      "with planted duplicates") {
    // Deterministic corpus: 8 docs of 40 random-ish tokens with a
    // planted 15-token run copied into three docs at different offsets
    // and a 10-token run into two docs.
    val rnd = new scala.util.Random(42)
    def freshTokens(m: Int, tag: String) =
      (1 to m).map(_ => s"$tag${rnd.nextInt(100000)}")
    val run1 = (1 to 15).map("p" + _)
    val run2 = (1 to 10).map("q" + _)
    val texts = (0 until 8).map { i =>
      val base = freshTokens(40, s"u$i-").toVector
      val withR1 = if (i % 3 == 0) base.patch(5 + i, run1, 15) else base
      val withR2 = if (i % 4 == 1) withR1.patch(25, run2, 10) else withR1
      (i.toLong, withR2.mkString(" "))
    }
    val docs = texts.toDF("doc_id", "text")
    val n = 8
    val got = GraftOps.substringSpans(docs, "doc_id", "text", n = n,
        maxOcc = 64, minRun = 2)
      .select("doc_a", "doc_b", "start_a", "start_b", "span_tokens")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // Brute force: for each doc pair and diagonal, extend runs of
    // positions whose n-grams match; report runs of >= 2 seeds.
    val toks = texts.map { case (id, t) => id -> t.split("\\s+").toVector }
    val grams = toks.map { case (id, ts) =>
      id -> ts.sliding(n).map(_.mkString(" ")).toVector
    }.toMap
    val want = (for {
      (a, ga) <- grams.toSeq; (b, gb) <- grams.toSeq if a < b
      matches = for {
        (g1, pa) <- ga.zipWithIndex; (g2, pb) <- gb.zipWithIndex
        if g1 == g2
      } yield (pa.toLong, pb.toLong)
      ((_, isl), group) <- matches
        .groupBy { case (pa, pb) => (pa - pb, pa - matches
          .filter { case (x, y) => x - y == pa - pb }
          .sortBy(_._1).indexOf((pa, pb)) - 1) }
        .toSeq
      if group.size >= 2
    } yield (a, b, group.map(_._1).min, group.map(_._2).min,
      group.size.toLong + n - 1)).toSet
    assert(got == want, s"got ${got.size} spans, want ${want.size}:\n" +
      s"missing=${want -- got}\nextra=${got -- want}")
    // Sanity: the planted runs were actually found.
    assert(got.exists(_._5 >= 15), "planted 15-token run not recovered")
  }

  test("semanticDupIds: under-cap cells bit-identical to unbounded " +
      "all-pairs; over-cap cells block-pair decomposed, still exact") {
    // One hot cell of 30 near-identical unit vectors (all dup against
    // the min id) + one small cell of 3 orthogonal-ish vectors.
    def unit(xs: Seq[Double]): Seq[Double] = {
      val n = math.sqrt(xs.map(x => x * x).sum); xs.map(_ / n)
    }
    val hot = (1 to 30).map(i =>
      (i.toLong, unit(Seq(1.0, 0.001 * i, 0.0)), 0))
    val cold = Seq(
      (101L, unit(Seq(0.0, 1.0, 0.0)), 1),
      (102L, unit(Seq(0.0, 0.0, 1.0)), 1),
      (103L, unit(Seq(0.0, 1.0, 0.001)), 1))
    val cells = (hot ++ cold).toDF("vec_id", "u", "cluster")
    def ids(cap: Int): Set[Long] =
      GraftOps.semanticDupIds(cells, "vec_id", "u", "cluster", 0.9, cap)
        .as[Long].collect().toSet
    // Cap above every cell size ⇒ exactly the unbounded drop set: every
    // hot id except the min, plus 103 (cosine(101,103) ≈ 1 > 0.9).
    val unbounded = ids(4096)
    assert(unbounded == ((2L to 30L).toSet + 103L))
    // Cap below the hot cell size ⇒ the triangle-join decomposition
    // replicates blocks across block-pair keys but compares EVERY pair
    // exactly once — the drop set must be bit-identical to the
    // unbounded join (the r19 salt-split form lost cross-sub pairs;
    // the sf1 gate measured 363 undetected dups).
    assert(ids(8) == unbounded)
    assert(ids(1) == unbounded) // extreme decomposition, one row/block
    // The decomposition is ceil(n/cap)-way: re-derive the block sizes
    // with the operator's own formula and check it actually sharded the
    // hot cell (no block holds the whole cell).
    val subSizes = cells.filter($"cluster" === 0)
      .select(pmod(xxhash64($"vec_id"), lit(math.ceil(30.0 / 8).toLong))
        .as("sub"))
      .groupBy("sub").count().as[(Long, Long)].collect().toMap
    assert(subSizes.size > 1 && subSizes.values.max < 30)
  }

  test("cumulativeOffsets restarts per partition with partitionCols") {
    val counts = Seq(
      ("p1", 0, 3L), ("p1", 1, 5L), ("p1", 2, 2L),
      ("p2", 0, 7L), ("p2", 2, 1L)).toDF("phase", "bkt", "cnt")
    val offs = GraftOps
      .cumulativeOffsets(counts, "bkt", "cnt", partitionCols = Seq("phase"))
      .orderBy("phase", "bkt")
      .select("phase", "bkt", "off").as[(String, Int, Long)].collect().toSeq
    assert(offs == Seq(
      ("p1", 0, 0L), ("p1", 1, 3L), ("p1", 2, 8L),
      ("p2", 0, 0L), ("p2", 2, 7L)))
    // Without partitionCols the sum runs across everything (back-compat).
    val flat = GraftOps.cumulativeOffsets(
        counts.groupBy("bkt").agg(sum("cnt").as("cnt")), "bkt", "cnt")
      .orderBy("bkt").select("bkt", "off").as[(Int, Long)].collect().toSeq
    assert(flat == Seq((0, 0L), (1, 10L), (2, 15L)))
  }

  test("packChunks: exact global prefix-sum bins, bounded overflow") {
    // 10 docs × 100 tokens → chunks of 64+36 per doc; bins of 128.
    val docs = (0L until 10L)
      .map(i => (i, (1 to 100).map(t => s"d${i}t$t").mkString(" ")))
      .toDF("doc_id", "text")
    val out = GraftOps.packChunks(docs, "doc_id", "text", 64, 128,
        docsPerBucket = 3) // force multiple buckets
      .orderBy("doc_id", "chunk_id")
      .select("doc_id", "chunk_id", "n_tokens", "bin_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // Single-partition reference: running exclusive cumsum / 128.
    var cum = 0L
    val want = out.map { case (d, c, n, _) =>
      val bin = cum / 128; cum += n; (d, c, n, bin)
    }
    assert(out == want, "distributed bin ids must equal the sequential fill")
    // Start-based fill: a bin never exceeds capacity + (chunkSize - 1).
    val occupancy = out.groupBy(_._4).view.mapValues(_.map(_._3).sum)
    assert(occupancy.values.forall(o => o <= 128 + 63))
    // No bin gaps: ids are contiguous from 0.
    val ids = occupancy.keys.toSeq.sorted
    assert(ids == (0L until ids.length.toLong))
  }

  test("candidatePairsFromBands: under-cap buckets bit-identical to " +
      "unbounded; over-cap buckets salt-split to bounded pair emission") {
    // Synthetic band table, no minhash needed: one hot bucket of 30 ids,
    // one small bucket of 3, one singleton (never a pair).
    val bands = ((1 to 30).map(i => (i.toLong, 0, "HOT")) ++
      Seq((101L, 1, "COLD"), (102L, 1, "COLD"), (103L, 1, "COLD"),
        (200L, 2, "SOLO")))
      .toDF("doc_id", "band_idx", "band_hash")
    def pairs(cap: Int): Set[(Long, Long)] =
      GraftOps.candidatePairsFromBands(bands, "doc_id", cap)
        .as[(Long, Long)].collect().toSet
    // Cap above every bucket ⇒ exactly the unbounded combinations:
    // C(30,2) sorted pairs from HOT + C(3,2) from COLD.
    val unbounded = pairs(4096)
    val wantHot = for (a <- 1L to 30L; b <- (a + 1) to 30L) yield (a, b)
    val wantCold = Set((101L, 102L), (101L, 103L), (102L, 103L))
    assert(unbounded == wantHot.toSet ++ wantCold)
    // Cap below the hot bucket ⇒ strict subset, never an invented pair;
    // the under-cap COLD bucket is untouched.
    val capped = pairs(8)
    assert(capped.subsetOf(unbounded) && wantCold.subsetOf(capped))
    assert(capped.size < unbounded.size && (capped -- wantCold).nonEmpty)
    // Exact over-cap contract: HOT pairs survive iff both endpoints land
    // in the same of ceil(30/8)=4 xxhash64 sub-buckets (the operator's
    // own salt formula, re-derived independently here).
    val sub = (1 to 30).map(_.toLong).map { i =>
      i -> spark.range(i, i + 1)
        .select(pmod(xxhash64(col("id")), lit(4L))).as[Long].head()
    }.toMap
    val wantCapped = wantHot.filter { case (a, b) => sub(a) == sub(b) }
    assert((capped -- wantCold) == wantCapped.toSet,
      "salt-split pair set must match the re-derived sub-bucket formula")
    // The salt actually sharded the hot bucket.
    assert(sub.values.toSet.size > 1)
  }

  test("cappedKeyPairCounts: under-cap counts bit-identical to a raw key " +
      "self-join; over-cap pairs a strict subset with lower-bound counts") {
    // Frame-table shape (media_id, fhash): a hot hash held once by ids
    // 1..20 (the ubiquitous black frame), a small hash K2 held TWICE by
    // id 1 and once by id 2 (multiplicity: the raw join counts 2×1 = 2
    // matches for that pair), and a singleton (never pairs).
    val rows = ((1 to 20).map(i => (i.toLong, "HOT")) ++
      Seq((1L, "K2"), (1L, "K2"), (2L, "K2"), (9L, "SOLO")))
      .toDF("media_id", "fhash")
    def counts(cap: Int): Map[(Long, Long), Long] =
      GraftOps.cappedKeyPairCounts(rows, "fhash", "media_id", cap)
        .as[(Long, Long, Long)].collect()
        .map { case (l, r, n) => (l, r) -> n }.toMap
    // The raw self-join truth, computed independently here.
    val a = rows.select($"media_id".as("l"), $"fhash")
    val b = rows.select($"media_id".as("r"), $"fhash")
    val raw = a.join(b, "fhash").filter($"l" < $"r")
      .groupBy("l", "r").count()
      .as[(Long, Long, Long)].collect()
      .map { case (l, r, n) => (l, r) -> n }.toMap
    assert(raw((1L, 2L)) == 3L, "fixture: 1 HOT match + 2 K2 matches")
    // Cap above every bucket ⇒ bit-identical pair counts.
    assert(counts(4096) == raw)
    // Cap below the hot bucket (ceil(20/4) = 5 sub-buckets) ⇒ strict
    // subset of pairs, every surviving count a lower bound; the
    // under-cap K2 matches are untouched so (1,2) keeps >= 2.
    val capped = counts(4)
    assert(capped.keySet.subsetOf(raw.keySet) &&
      capped.keySet.size < raw.keySet.size)
    assert(capped.forall { case (k, n) => n <= raw(k) })
    assert(capped((1L, 2L)) >= 2L)
    // Exact over-cap contract, re-derived from the salt formula: a HOT
    // match survives iff both ids land in the same of 5 xxhash64
    // sub-buckets.
    val sub = (1 to 20).map(_.toLong).map { i =>
      i -> spark.range(i, i + 1)
        .select(pmod(xxhash64(col("id")), lit(5L))).as[Long].head()
    }.toMap
    val wantCapped = (for (x <- 1L to 20L; y <- (x + 1) to 20L
        if sub(x) == sub(y)) yield (x, y) -> 1L).toMap
    val want = wantCapped + ((1L, 2L) ->
      (wantCapped.getOrElse((1L, 2L), 0L) + 2L))
    assert(capped == want,
      "salt-split pair counts must match the re-derived sub-bucket formula")
    assert(sub.values.toSet.size > 1)
  }

  test("cappedKeyPairCounts survives a pathologically hot key: 50k " +
      "occurrences emit the salt-formula pair count, not 1.25 billion") {
    // The 100 TB failure mode in miniature: ONE key (the black frame /
    // boilerplate band) held by 50k ids. Uncapped, the self-join emits
    // C(50k,2) ≈ 1.25e9 rows — at cap 256 the salt splits it into
    // ceil(50k/256) = 196 sub-buckets and emission is the sum of
    // per-sub C(n_i,2) ≈ 6.4M pairs, a 196× cut that holds at any
    // bucket size. The expected total is re-derived independently
    // from the operator's own salt formula, so the assertion pins the
    // exact arithmetic, not just "it finished".
    val n = 50000
    val hot = spark.range(0, n).select(
      $"id".as("media_id"), lit("HOT").as("fhash"))
    val subSizes = spark.range(0, n)
      .select(pmod(xxhash64($"id"), lit(196L)).as("s"))
      .groupBy("s").count().as[(Long, Long)].collect().toMap
    val want = subSizes.values.map(c => c * (c - 1) / 2).sum
    val got = GraftOps.cappedKeyPairCounts(hot, "fhash", "media_id", 256)
      .agg(count(lit(1)).cast("long"), sum($"n_shared").cast("long"))
      .as[(Long, Long)].head()
    // Every within-sub pair appears once with count 1 (single key).
    assert(got == ((want, want)), s"got $got want ($want, $want)")
    assert(want < n.toLong * (n - 1) / 2 / 100,
      "cap failed to cut the quadratic blowup by >=100x")
  }

  test("thresholded levenshtein(l, r, k) early-exit agrees with the " +
      "full form on multi-KB docs at the 0.8 similarity threshold") {
    // dedup_edit_verified's Scaladoc names the production swap for
    // long documents: Spark's banded levenshtein(l, r, k) computes
    // only a 2k+1 diagonal band (O(k·n) vs O(n²)) and returns −1 the
    // moment the distance provably exceeds k. The is_dup contract:
    // sim >= 0.8  ⇔  dist <= 0.2·maxlen  ⇔  banded(k=⌊0.2·maxlen⌋)
    // != −1 — integer distance makes the floor exact, no ulp edge.
    // Measured cutover (400 pairs of ~6.8 KB docs, local[32], 3
    // rounds): full 60.5/63.6/65.2 s vs banded(k=0.2·len)
    // 33.7/36.5/33.7 s — 1.8×, matching the O((2k+1)·n) band cost
    // (0.4·n² of the full n² table at k = 0.2n); stricter thresholds
    // shrink k and widen the win. Worth the swap from ~1 KB docs up.
    // The sf documents are short, so plant the realistic case here:
    // a ~4 KB base, a 2%-substitution near-dup (sim ≈ 0.98), a 15%
    // rewrite near the boundary (≈ 0.85), and an unrelated doc far
    // below it. Substitution-only mutation keeps lengths equal, so
    // every k is derived, not hand-set.
    val rnd = new scala.util.Random(7)
    val base = (0 until 700)
      .map(i => s"tok${i}x${rnd.nextInt(100)}").mkString(" ")
    assert(base.length > 4000, s"fixture too short: ${base.length}")
    def mutate(s: String, rate: Double, seed: Int): String = {
      val r = new scala.util.Random(seed)
      s.map(c => if (c != ' ' && r.nextDouble() < rate)
        ('a' + r.nextInt(26)).toChar else c)
    }
    val far = (0 until 700).map(i => s"zzz${i}qq").mkString(" ")
    val texts = Map(1L -> base, 2L -> mutate(base, 0.02, 11),
      3L -> mutate(base, 0.15, 12), 4L -> far)
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L))
      .map { case (l, r) => (l, r, texts(l), texts(r)) }
      .toDF("left_id", "right_id", "__ta", "__tb")
    val scored = pairs.select($"left_id", $"right_id",
        levenshtein($"__ta", $"__tb").as("full"),
        greatest(length($"__ta"), length($"__tb")).as("maxlen"))
      .withColumn("k", floor($"maxlen" * 0.2).cast("int"))
    val rows = pairs.join(scored, Seq("left_id", "right_id"))
      .select($"left_id", $"right_id", $"full", $"maxlen",
        // banded form: k must be a literal per Spark's API, so probe
        // each row's own k via the max k in this fixture minus a
        // per-row check — instead evaluate with the row's k through
        // expr(), which accepts a column threshold.
        expr("levenshtein(__ta, __tb, CAST(k AS INT))").as("banded"))
      .as[(Long, Long, Int, Int, Int)].collect().sortBy(r => (r._1, r._2))
    rows.foreach { case (l, r, full, maxlen, banded) =>
      val isDupFull = full <= maxlen / 5.0
      val isDupBanded = banded != -1
      assert(isDupFull == isDupBanded,
        s"($l,$r): full=$full maxlen=$maxlen banded=$banded")
      if (banded != -1)
        assert(banded == full,
          s"($l,$r): in-band distance must be exact, got $banded/$full")
    }
    // The fixture must exercise BOTH outcomes and the boundary region.
    val verdicts = rows.map(r => r._5 != -1).toSeq
    assert(verdicts.contains(true) && verdicts.contains(false))
    assert(rows.exists { case (_, _, full, maxlen, _) =>
      full > maxlen / 10 && full <= maxlen / 5.0 },
      "no pair lands between 0.8 and 0.9 sim — boundary untested")
  }

  test("cap recall loss is MEASURED, not asserted: confined to over-cap " +
      "buckets and tracking 1/ceil(n/cap) across cap in {256,1024,4096}") {
    // Every capped generator documents over-cap emission as "accepted
    // recall loss" — r13 VERDICT item 5 asks for the number. Fixture:
    // one 5000-row hot bucket (over every tested cap) + 200 small
    // 40-row buckets (under every cap; their pairs are the KNOWN true
    // dups that must survive). Under uniform sub-bucket hashing the
    // probability two hot rows share a salt bucket is exactly
    // 1/ceil(n/cap), so expected hot recall = 1/s — the measured
    // numbers (PLANS.md r14 table) confirm the implementation tracks
    // the theory and that the loss NEVER touches under-cap buckets.
    val hotN = 5000L
    val hot = spark.range(hotN).select(lit("HOT").as("k"), $"id")
    val small = spark.range(200L * 40).select(
      concat(lit("s"), $"id" % 200).as("k"), ($"id" + 1000000L).as("id"))
    val rows = hot.union(small).toDF("k", "id").localCheckpoint()
    val smallRows = rows.filter($"id" >= 1000000L)
    val rawSmall = smallRows.select($"k", $"id".as("l"))
      .join(smallRows.select($"k", $"id".as("r")), "k")
      .filter($"l" < $"r").select($"l".as("left_id"), $"r".as("right_id"))
      .localCheckpoint()
    val rawSmallCnt = 200L * (40L * 39L / 2L)
    assert(rawSmall.count() == rawSmallCnt)
    val rawHotCnt = hotN * (hotN - 1) / 2
    val measured = Seq(256, 1024, 4096).map { cap =>
      val capped = GraftOps.cappedKeyPairCounts(rows, "k", "id", cap)
        .localCheckpoint()
      val smallCapped = capped.filter($"left_id" >= 1000000L)
      // Under-cap buckets: bit-identical pair set at EVERY cap.
      assert(smallCapped.count() == rawSmallCnt,
        s"cap=$cap lost under-cap pairs")
      assert(smallCapped.select("left_id", "right_id")
        .except(rawSmall).count() == 0,
        s"cap=$cap emitted a pair the raw join would not")
      val hotCnt = capped.filter($"left_id" < 1000000L).count()
      val s = math.ceil(hotN.toDouble / cap)
      val recall = hotCnt.toDouble / rawHotCnt
      info(f"cap=$cap%4d: hot-bucket recall $recall%.4f " +
        f"(theory 1/s = ${1.0 / s}%.4f, s=${s.toInt}), " +
        f"under-cap recall 1.0000")
      assert(math.abs(recall - 1.0 / s) * s < 0.15,
        f"cap=$cap hot recall $recall%.4f deviates >15%% from 1/s")
      (cap, recall)
    }
    // Recall must be monotone in the cap — a salt-split bug that
    // made a bigger cap LOSE more pairs would pass the per-cap
    // tolerance but not this.
    assert(measured.sliding(2).forall { case Seq((_, a), (_, b)) => a < b })
  }

  test("oracle-scale cap precondition: every capped bucket stays under " +
      "4096 at the correctness-gate sf, so capped Spark == uncapped oracle") {
    // dedup_first_in_horizon and mm_frame_dedup salt-cap their pair
    // buckets at 4096 while their DuckDB oracles run the uncapped
    // self-join; the two agree ONLY while every bucket is under the
    // cap (under-cap the salt is constant 0 and the join is
    // bit-identical — spec'd above). This pins that precondition AT
    // THE GATE SCALE (sf0.01): if future test data ever grows a
    // >4096 band or frame-hash bucket, this test fails with the real
    // cause instead of the correctness gate failing like a code
    // regression (r13 ADVICE).
    val d = "/root/testdata/sf0.01"
    val docs = Tables.documents(spark, d).select($"doc_id", $"text")
    val maxBand = GraftOps.minhashBands(docs, "doc_id", "text")
      .groupBy($"band_idx", $"band_hash").count()
      .agg(max($"count")).as[Long].head()
    assert(maxBand <= 4096,
      s"band bucket $maxBand exceeds the 4096 cap at gate scale — " +
        "cap the oracle SQL or raise the cap before trusting the gate")
    val maxFhash = graft.multimodal.Multimodal.extractFrameHashes(
        graft.multimodal.Multimodal.synthMp4FramesShared(
          Tables.documents(spark, d).select($"doc_id"), "doc_id", 5))
      .groupBy($"fhash").count()
      .agg(max($"count")).as[Long].head()
    assert(maxFhash <= 4096,
      s"frame-hash bucket $maxFhash exceeds the 4096 cap at gate scale")
  }
}
