package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.expressions.TextExpressions.minhashSig
import graft.expressions.VectorExpressions.vecDot
import graft.functions.TextFunctions._

/** User-facing DataFrame API — the "switch from the reference" surface.
  * Every operator is a pure `DataFrame → DataFrame` function over caller
  * columns (no harness coupling); the registered queries in
  * `graft.queries.*` delegate here, so the DuckDB oracle continuously
  * guards these exact implementations.
  */
object GraftOps {

  /** MinHash signature table (id, h0..h7): word-3-gram shingles, two
    * md5 digests per shingle sliced into 8×32-bit hex minima — the
    * whole signature computed per ROW by the native codegen'd
    * [[graft.expressions.MinhashSig]] expression (r19). ZERO shuffle:
    * this was a posexplode + window-lead + groupBy + left-join
    * pipeline (three exchanges over a token table ~50× the corpus)
    * because that was the fastest COMPOSED form — the per-row HOF
    * alternatives measured 2-3.5× slower interpreted (the A/B ladder
    * recorded on this method until r19). The native expression keeps
    * per-shingle work
    * inside one JVM pass AND inside whole-stage codegen, so the
    * exchange-vs-CPU trade that justified the fan-out disappears:
    * same bytes out (oracle- and property-pinned), no token-table
    * shuffle at any scale. Token-less/null rows keep the
    * empty-shingle seed signature, exactly as before. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    docs.select(col(idCol),
        minhashSig(coalesce(col(textCol), lit(""))).as("__sig"))
      .select(col(idCol) +: (0 until 8).map(j =>
        element_at(col("__sig"), j + 1).as(s"h$j")): _*)
  }

  /** LSH band table (id, band_idx, band_hash): 4 bands × 2 signature rows
    * — the bucketing key for near-dup candidate generation. */
  def minhashBands(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    minhashSignatures(docs, idCol, textCol)
      .select(col(idCol), explode(array((0 until 4).map { b =>
        struct(lit(b).as("band_idx"),
          md5(concat(col(s"h${2 * b}"), lit("|"), col(s"h${2 * b + 1}")))
            .as("band_hash"))
      }: _*)).as("band"))
      .select(col(idCol), col("band.band_idx").as("band_idx"),
        col("band.band_hash").as("band_hash"))

  /** Near-dup candidate pairs, generated bucket-locally (collect the tiny
    * bucket membership, emit sorted combinations) — Σ|bucket|² cost, no
    * self-join, no all-pairs. */
  def minhashCandidatePairs(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    candidatePairsFromBands(minhashBands(docs, idCol, textCol), idCol)

  /** ROW-LOCAL band table — bit-identical output to `minhashBands`
    * (oracle- and spec-pinned) computed as a chain of pure projections
    * (no posexplode/window/groupBy), the form a STREAMING micro-batch
    * can run. The signature itself is the native codegen'd
    * [[graft.expressions.MinhashSig]] expression (r19): the best
    * COMPOSED form — a shared-digest HOF fold, whose own A/B ladder
    * measured 229 s (naive) → 5.1 s (shared digests) → 3.5 s (single
    * traversal) at sf0.1 — still paid interpreted per-element
    * dispatch on every shingle because higher-order functions are
    * CodegenFallback; one static JVM pass per row removes that floor
    * entirely (measured below the explode+min batch twin) while
    * producing the same md5-hex slice minima byte-for-byte, so oracle
    * and parity pins hold unchanged. */
  def rowLocalBands(docs: DataFrame, idCol: String, textCol: String,
      carryCols: Seq[String] = Nil): DataFrame = {
    val keep = (idCol +: carryCols).map(col)
    // coalesce: the composed chain sent null text down its
    // otherwise(array()) branch — i.e. the empty-shingle seed
    // signature — so null must keep meaning "empty doc" here too.
    val sig = docs.select(keep :+
      minhashSig(coalesce(col(textCol), lit(""))).as("__sig"): _*)
    sig.select(keep :+ explode(lshBands(col("__sig"), 8)).as("band"): _*)
      .select(keep :+ col("band.band_idx").as("band_idx")
        :+ col("band.band_hash").as("band_hash"): _*)
  }

  /** Candidate pairs from a precomputed band table (doc, band_idx,
    * band_hash) — lets callers that also need the bands themselves
    * (e.g. band-agreement scoring) compute the minhash pipeline ONCE
    * and reuse it, instead of rebuilding it inside the pair step.
    *
    * Bucket cost is BOUNDED (same discipline as `semanticDupIds`'s
    * cellCap): a band bucket with more than `bucketCap` members is
    * split into `ceil(n/bucketCap)` sub-buckets by a deterministic
    * id-hash salt before the collect, so no single row ever carries
    * more than ~bucketCap ids and the per-bucket pair emission is
    * ~cap² instead of n². Without this, one boilerplate band hash
    * shared by 10⁶ docs at 100 TB means a 10⁶-element array on one
    * executor row and 5·10¹¹ emitted pairs — the uncapped LSH bucket
    * is the standard near-dedup scale-killer, and dropping or
    * splitting hot buckets is the standard LSH "stop-band" rule (a
    * hot bucket is boilerplate, not signal; its cross-sub-bucket pairs
    * are the accepted recall loss). For every bucket ≤ bucketCap the
    * output is bit-identical to the unbounded form (every row computes
    * sub-bucket 0) — at all tested SFs the max bucket is tiny, so the
    * cap is a safety net, not a sampler; over-cap behavior is a strict
    * subset (spec-pinned like SemanticDedup's). Bucket sizes come from
    * a count window over the SAME (band_idx, band_hash) exchange the
    * bucket groupBy needs — not a pre-count join, which would evaluate
    * the upstream minhash pipeline twice (measured 1.7× the whole
    * query at sf0.1) — and the groupBy on (band key, __sub) reuses
    * that partitioning (hash-partitioning on a subset of the grouping
    * keys satisfies the clustered distribution), so the cap costs one
    * in-partition sort, zero extra shuffles, zero recompute.
    *
    * Measured cost of the cap (round-11 A/B at sf0.1, local[32], warm
    * steady state of the heaviest consumer `cluster_keep_best`):
    * cap ON 1.49-1.71 s vs cap OFF (`__sub = 0`, no count window)
    * 1.44-1.49 s -- under 10 %. The r10 official bench's 2.85 s for
    * that query was run-order contention (its two repeats were
    * [7.7, 2.85] early in the run; five consecutive warm repeats sit
    * at 1.5-1.7 s), so the cap stays ALWAYS-ON: a <10 % constant for
    * the guarantee that no band bucket can ever go quadratic. */
  def candidatePairsFromBands(bands: DataFrame, idCol: String,
      bucketCap: Int = 4096): DataFrame = {
    require(bucketCap >= 2, "candidatePairsFromBands: bucketCap must be >= 2")
    bandPairs(bands, idCol, bucketCap).distinct()
  }

  /** Per-band pair emission under the bucket cap: one (left_id, right_id)
    * row, left < right, for every salted band bucket both ids share — a
    * pair agreeing on m bands appears m times (`candidatePairsFromBands`
    * distincts them; `dedup_minhash_eval` counts them). */
  private[graft] def bandPairs(bands: DataFrame, idCol: String,
      bucketCap: Int = 4096): DataFrame = {
    val buckets = bucketSalt(bands, Seq("band_idx", "band_hash"), idCol,
        bucketCap)
      .groupBy("band_idx", "band_hash", "__sub")
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .filter(size(col("ids")) > 1)
    val pairs = flatten(transform(col("ids"), (x, i) =>
      transform(slice(col("ids"), i + 2, size(col("ids"))),
        y => struct(x.as("left_id"), y.as("right_id")))))
    buckets.select(explode(pairs).as("p"))
      .select(col("p.left_id").as("left_id"),
        col("p.right_id").as("right_id"))
  }

  /** The bucket-cap salt: adds `__sub = pmod(xxhash64(id), ceil(n/cap))`,
    * n the row count of the row's `keyCols` bucket, so a bucket over
    * `bucketCap` rows splits into ceil(n/cap) id-hash sub-buckets and
    * every bucket at or under the cap is sub-bucket 0. Callers group or
    * join on (keyCols, `__sub`). The count is a window over the bucket
    * key, so it rides the exchange the caller's bucket step needs. */
  private[graft] def bucketSalt(rows: DataFrame, keyCols: Seq[String],
      idCol: String, bucketCap: Int = 4096): DataFrame = {
    // An input already carrying either name would be silently
    // overwritten and the pair semantics corrupted.
    require(!rows.columns.contains("__n") && !rows.columns.contains("__sub"),
      "bucketSalt: input must not carry reserved columns __n/__sub")
    rows
      .withColumn("__n", count(lit(1))
        .over(Window.partitionBy(keyCols.map(col): _*)))
      .withColumn("__sub", pmod(xxhash64(col(idCol)),
        ceil(col("__n").cast("double") / bucketCap).cast("long")))
      .drop("__n")
  }

  /** Co-occurrence pair COUNTS under the bucket cap: for every pair of
    * ids sharing a key value, the number of (key, occurrence) matches —
    * the multiplicity-preserving sibling of `candidatePairsFromBands`
    * (which distincts pairs away). Used where the MATCH COUNT is the
    * signal, e.g. shared-frame counts for video near-dup jaccard.
    *
    * Same bounded-bucket discipline: a key bucket larger than
    * `bucketCap` is salt-split into ceil(n/cap) sub-buckets by a
    * deterministic id hash before pair emission, so one ubiquitous key
    * (a black frame, a station logo) can never go quadratic — cost is
    * Σ ceil(n/cap)·cap² instead of Σ n². Under the cap every bucket
    * computes sub-bucket 0 and the output is BIT-IDENTICAL to a raw
    * self-join on the key (spec-pinned); over the cap the emitted
    * pair set is a strict subset and per-pair counts are lower bounds
    * (cross-sub-bucket matches are the accepted recall loss — the
    * standard LSH stop-band rule, a hot key is boilerplate not
    * signal).
    *
    * Shape: a SELF-JOIN on (key, salt) — deliberately NOT
    * candidatePairsFromBands' collect-array combination emission.
    * The two generators sit on opposite sides of a bucket-size trade:
    * LSH band buckets are tiny (a collision implies near-dup), so
    * collecting them dodges the self-join's double evaluation of the
    * expensive minhash pipeline; content-hash buckets are LEGITIMATELY
    * large (every video of a family shares frame 0 — thousands of
    * honest members below any sane cap), and collecting one means a
    * single row holding a cap-sized array whose cap² pair emission
    * runs single-threaded in one explode — measured 2× the whole
    * query at sf0.1 (7-8.7 s vs 3.9 s for mm_frame_dedup) versus
    * streaming the same pairs through a hash join. The join form
    * keeps the raw join's plan (plus the salt column in the key) and
    * its input side is evaluated twice — callers with an expensive
    * upstream should localCheckpoint it first, as mm_frame_dedup's
    * one-demux-pass discipline already does. Same-id matches are
    * excluded and each unordered pair appears once (`left < right`);
    * cross-id multiplicity (ca·cb matches for occurrence counts ca,
    * cb) is the raw join's, exactly. */
  def cappedKeyPairCounts(rows: DataFrame, keyCol: String, idCol: String,
      bucketCap: Int = 4096): DataFrame = {
    require(bucketCap >= 2, "cappedKeyPairCounts: bucketCap must be >= 2")
    // The salted table is localCheckpointed so BOTH join sides read
    // one materialization: without it each side recomputes the count
    // window (and whatever pipeline feeds `rows`), and — because
    // sort-merge co-partitioning requires ALL join keys by default —
    // each recomputed side would pay its own (key) window exchange
    // AND a (key, __sub) join exchange. Measured on mm_frame_dedup at
    // sf0.1 (ABBench, both orders): 4.15-4.7 s un-checkpointed vs
    // 3.7-4.0 s checkpointed.
    val salted = bucketSalt(rows, Seq(keyCol), idCol, bucketCap)
      .localCheckpoint()
    val a = salted.select(col(idCol).as("left_id"), col(keyCol),
      col("__sub"))
    val b = salted.select(col(idCol).as("right_id"), col(keyCol),
      col("__sub"))
    a.join(b, Seq(keyCol, "__sub"))
      .filter(col("left_id") < col("right_id"))
      .groupBy("left_id", "right_id")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Exact-dedup survivor set: rows whose id is the minimum for their
    * content hash (hash-groupBy + left-semi back to the input). */
  def dedupExact(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val keep = docs.groupBy(md5(col(textCol)).as("__h"))
      .agg(min(col(idCol)).as(idCol))
    docs.join(keep.select(idCol), Seq(idCol), "left_semi")
  }

  /** 64-bit SimHash per row as a 64-char bitstring (explode + one hash
    * aggregate with 64 codegen'd sum columns). */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // Parse the 16-hex-digit token hash ONCE into two unsigned-32-bit
    // longs (2 convs/row); each bit sum is then a shift+mask on a long —
    // vs the naive 64 substring+conv expressions inside the aggregate,
    // which partial aggregation does NOT common-subexpression-eliminate.
    val tok = docs
      .select(col(idCol), explode_outer(tokens(col(textCol))).as("tok"))
      .select(col(idCol), tokenHashPrefix(col("tok")).as("hx"))
      .select(col(idCol),
        conv(substring(col("hx"), 1, 8), 16, 10).cast("long").as("hi"),
        conv(substring(col("hx"), 9, 8), 16, 10).cast("long").as("lo"))
    val sums = (0 until 64).map { b =>
      val bit =
        if (b < 32) shiftright(col("hi"), 31 - b).bitwiseAND(lit(1L))
        else shiftright(col("lo"), 63 - b).bitwiseAND(lit(1L))
      sum(bit * 2 - 1).as(s"s$b")
    }
    tok.groupBy(idCol).agg(sums.head, sums.tail: _*)
      .select(col(idCol), concat((0 until 64).map { b =>
        when(col(s"s$b") >= 0 || col(s"s$b").isNull, "1").otherwise("0")
      }: _*).as("simhash"))
  }

  /** Quality features: token count, stopword ratio, punctuation ratio,
    * mean token length. */
  def qualityFeatures(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val toks  = tokens(col(textCol))
    val nTok  = size(toks).cast("long")
    val stops = stopwordHits(toks, LangProfiles.flatMap(_._2)).cast("long")
    docs.select(col(idCol), nTok.as("n_tokens"),
      when(nTok > 0, stops.cast("double") / nTok).otherwise(0.0)
        .as("stop_ratio"),
      when(length(col(textCol)) > 0,
        punctCount(col(textCol)).cast("double") / length(col(textCol)))
        .otherwise(0.0).as("punct_ratio"),
      when(nTok > 0,
        (length(concat_ws("", toks)).cast("double")) / nTok)
        .otherwise(0.0).as("mean_token_len"))
  }

  /** Heuristic language-ID column for a text column. */
  def languageOf(textCol: Column): Column = langId(tokens(textCol))

  /** Brute-force cosine top-k: queries broadcast against the corpus;
    * scores via the native vecDot expression, ranked with a full
    * deterministic tiebreak. Inputs must be unit-normalized. */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_u"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("score").desc, col("cand_id"))
    corpus.select(col(idCol).as("cand_id"), col(vecCol).as("u"))
      .crossJoin(broadcast(q))
      .filter(col("cand_id") =!= col("q_id"))
      .select(col("q_id"), col("cand_id"),
        round(vecDot(col("u"), col("q_u")), 6).as("score"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Distributed as-of (backward) join: for each left row, attach the
    * payload of the latest right row with the same key and
    * `right.tsCol <= left.tsCol` (ties: the right row wins, i.e. the
    * match is inclusive). Implemented as union-tag + one PARTITIONED
    * window — a single shuffle on the key, no range-candidate explosion,
    * no broadcast requirement on either side; this is the shape that
    * holds at 100 TB where a naive inequality join degenerates to
    * per-key cross products. Payload columns are returned as
    * `asof_<name>` (null when no right row precedes the left row).
    *
    * All payloads come from the ONE matched right row: they are carried
    * through the window as a single struct, so a genuinely-NULL payload
    * value on the matched row survives as NULL (matching the verbatim
    * row semantics of a native ASOF JOIN) instead of being back-filled
    * from an older row.
    *
    * Precondition for determinism: (key, ts) unique within `right`
    * (pre-aggregate `right` if not — same rule DuckDB's ASOF JOIN needs
    * to pick a unique match). */
  def asofJoin(left: DataFrame, right: DataFrame, keyCol: String,
      tsCol: String, payloadCols: Seq[String]): DataFrame = {
    val leftOther = left.columns.toSeq
      .filterNot(c => c == keyCol || c == tsCol)
    val reserved = Seq("__typ", "__asof_payload")
    val collisions = (payloadCols ++ reserved).filter(leftOther.contains) ++
      reserved.filter(right.columns.contains) ++
      // Output aliases collide too (e.g. a previous asofJoin's asof_x
      // fed back in as the left side).
      payloadCols.map("asof_" + _).filter(leftOther.contains)
    require(collisions.isEmpty,
      s"asofJoin: column name collision(s) ${collisions.distinct.mkString(", ")} — " +
        "payload columns and their asof_ output aliases must not also " +
        "exist on the left, and neither side may use the reserved names " +
        "__typ/__asof_payload")
    // One struct per right row ⇒ last(ignoreNulls) skips only left rows
    // (whose struct is NULL), never a matched row's NULL field.
    val r2 = right.select(
      Seq(col(keyCol), col(tsCol), lit(0).as("__typ"),
        struct(payloadCols.map(col): _*).as("__asof_payload")) ++
        leftOther.map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
    val payloadType = r2.schema("__asof_payload").dataType
    val l2 = left.select(
      Seq(col(keyCol), col(tsCol), lit(1).as("__typ"),
        lit(null).cast(payloadType).as("__asof_payload")) ++
        leftOther.map(col): _*)
    // Right rows sort before left rows at equal ts (typ 0 < 1), so a
    // right row at exactly left.ts is visible to the left row.
    val w = Window.partitionBy(keyCol).orderBy(tsCol, "__typ")
      .rowsBetween(Window.unboundedPreceding, 0)
    r2.unionByName(l2)
      .select(
        Seq(col(keyCol), col(tsCol)) ++ leftOther.map(col) :+
          last(col("__asof_payload"), ignoreNulls = true).over(w)
            .as("__asof_payload") :+
          col("__typ"): _*)
      .filter(col("__typ") === 1)
      .select(
        Seq(col(keyCol), col(tsCol)) ++ leftOther.map(col) ++
          payloadCols.map(c => col(s"__asof_payload.$c").as(s"asof_$c")): _*)
  }

  /** Contiguous fixed-size token chunking (context-window packing
    * precursor): one row per `chunkSize`-token chunk, with
    * (id, chunk_id, chunk_text, n_tokens). Pure per-row array slicing —
    * embarrassingly parallel; token-less rows produce no chunks. */
  def chunkTokens(docs: DataFrame, idCol: String, textCol: String,
      chunkSize: Int): DataFrame =
    docs
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(col(idCol), col("__toks"),
        size(col("__toks")).cast("long").as("__n"))
      .select(col(idCol), col("__n"),
        posexplode(transform(
          sequence(lit(0L),
            floor((col("__n") - 1) / chunkSize).cast("long")),
          i => array_join(slice(col("__toks"),
            (i * chunkSize + 1).cast("int"), lit(chunkSize)), " ")))
          .as(Seq("chunk_id", "chunk_text")))
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        col("chunk_text"),
        least(lit(chunkSize.toLong), col("__n") - col("chunk_id") * chunkSize)
          .cast("long").as("n_tokens"))

  /** Word `n`-gram windows of `textCol`: one row per non-empty
    * whitespace token, (idCol, pos, gram), where gram is `f` of the
    * space-joined `n` tokens starting at that token, NULL where fewer
    * than `n` tokens remain. `f` runs inside that null guard, so a hash
    * passed as `f` never sees the missing tail. Each lead is projected
    * once, so the guard and the gram share one window function. */
  private[graft] def wordGrams(docs: DataFrame, idCol: String,
      textCol: String, n: Int, f: Column => Column = c => c): DataFrame = {
    val w = Window.partitionBy(idCol).orderBy("pos")
    val toks = col("tok") +: (1 until n).map(k => col(s"__l$k"))
    docs.select(col(idCol),
        posexplode(split(trim(col(textCol)), "\\s+")).as(Seq("pos", "tok")))
      .filter(col("tok") =!= "")
      .select(col(idCol) +: col("pos") +: col("tok") +: (1 until n).map(k =>
        lead(col("tok"), k).over(w).as(s"__l$k")): _*)
      .select(col(idCol), col("pos"),
        when(toks.last.isNotNull, f(concat_ws(" ", toks: _*))).as("gram"))
  }

  /** Cross-document duplicated-substring detection — the declarative
    * approximation of exact-substring dedup (the suffix-array method of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better"), at word-`n`-gram granularity: seed matches are shared
    * n-grams, and maximal shared spans are recovered by grouping matches
    * on the same (doc pair, position diagonal) into runs of consecutive
    * positions — a run of k consecutive shared n-grams is a shared span
    * of k+n−1 tokens. Returns (doc_a, doc_b, start_a, start_b,
    * span_tokens) for every maximal cross-doc span of ≥ minRun seeds.
    *
    * Scale shape: grams occurring more than `maxOcc` times corpus-wide
    * are dropped before pairing (boilerplate; unbounded fanout
    * otherwise — the standard frequency cap), so pair generation is
    * in-bucket combinations over ≤ maxOcc entries (collect_list per
    * gram, no self-join), and run detection windows by
    * (pair, diagonal). No global structure anywhere. */
  def substringSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8, maxOcc: Int = 8, minRun: Int = 2): DataFrame = {
    // Seed identity is a GROUPING key only (never output), so it is
    // xxhash64 (8 bytes) rather than md5 hex (32-byte string): the
    // r16 shuffle audit measured the seed exchange as this
    // operator's dominant shuffle, and the key's only job is
    // equality. 64-bit birthday collisions (~n²/2⁶⁵) would at worst
    // seed a spurious match pair, which the minRun consecutive-run
    // filter then has to confirm n more times; the DuckDB oracle
    // derives spans from raw grams, so the gate doubles as a
    // collision check. The hash runs INSIDE wordGrams' null guard:
    // Spark hash functions return the seed for null input, so hashing the
    // null-padded tail grams directly would fabricate a shared
    // "gram" across every document's last n-1 positions.
    val grams = wordGrams(docs, idCol, textCol, n, xxhash64(_))
      .withColumn("tpos", (row_number().over(
        Window.partitionBy(idCol).orderBy("pos")) - 1).cast("long"))
      .filter(col("gram").isNotNull)
      .select(col(idCol).as("id"), col("tpos").as("pos"),
        col("gram").as("g"))
    val buckets = grams.groupBy("g")
      .agg(sort_array(collect_list(struct(col("id"), col("pos")))).as("occ"))
      .filter(size(col("occ")).between(2, maxOcc))
    val pairs = flatten(transform(col("occ"), (x, i) =>
      transform(slice(col("occ"), i + 2, size(col("occ"))),
        y => struct(x.getField("id").as("a"), x.getField("pos").as("pa"),
          y.getField("id").as("b"), y.getField("pos").as("pb")))))
    val wIsl = Window.partitionBy("a", "b", "diag").orderBy("pa")
    // No distinct(): a (doc, pos) carries exactly ONE gram, so each
    // (a, pa, b, pb) match is generated from a single bucket — a dedup
    // here would be a pure extra shuffle over the largest intermediate.
    buckets.select(explode(pairs).as("p"))
      .select(col("p.a").as("a"), col("p.pa").as("pa"),
        col("p.b").as("b"), col("p.pb").as("pb"))
      .filter(col("a") =!= col("b"))
      .withColumn("diag", col("pa") - col("pb"))
      .withColumn("isl", col("pa") - row_number().over(wIsl))
      .groupBy("a", "b", "diag", "isl")
      .agg(min("pa").as("start_a"), min("pb").as("start_b"),
        (count(lit(1)) + lit(n - 1)).cast("long").as("span_tokens"))
      .filter(col("span_tokens") >= minRun + n - 1)
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        col("start_a"), col("start_b"), col("span_tokens"))
  }

  /** Block-level corpus deduplication (the CCNet/RefinedWeb paragraph-
    * dedup shape, with fixed `blockTokens`-token blocks standing in for
    * paragraphs): a block is kept iff it is the corpus-wide FIRST
    * occurrence of its content (order: (id, block index)); every later
    * repetition anywhere in the corpus is dropped. Returns one row per
    * input doc: (id, n_blocks, n_kept, dedup_hash) where dedup_hash is
    * the md5 of the doc's retained text (kept blocks re-joined in
    * order) — docs reduced to nothing hash the empty string.
    *
    * Scale shape: occurrence ranking partitions by the block's content
    * hash — exactly the distribution of a groupBy on a derived key, no
    * global ordering, no driver state; reassembly is a per-doc groupBy.
    * Block texts shuffle twice (once per grouping); at 100 TB swap the
    * carried text for (hash, pointer) and re-join the winners. */
  def dedupBlocks(docs: DataFrame, idCol: String, textCol: String,
      blockTokens: Int): DataFrame = {
    val wOcc = Window.partitionBy(md5(col("chunk_text")))
      .orderBy(col(idCol), col("chunk_id"))
    val agg = chunkTokens(docs, idCol, textCol, blockTokens)
      .withColumn("occ", row_number().over(wOcc))
      .groupBy(idCol).agg(
        count(lit(1)).as("n_blocks"),
        sum(when(col("occ") === 1, 1L).otherwise(0L)).as("n_kept"),
        md5(array_join(
          transform(
            array_sort(collect_list(when(col("occ") === 1,
              struct(col("chunk_id"), col("chunk_text"))))),
            x => x.getField("chunk_text")), " ")).as("dedup_hash"))
    docs.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_blocks"), lit(0L)).as("n_blocks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("dedup_hash"), md5(lit(""))).as("dedup_hash"))
  }

  /** Sequence packing: assign fixed-size token chunks (chunkTokens
    * output) to `binTokens`-token training bins by position in the
    * deterministic (id, chunk_id) corpus order — the streaming-fill
    * packing used to batch an LLM pretraining corpus into fixed context
    * windows. Returns (id, chunk_id, n_tokens, bin_id). A chunk lands in
    * the bin its FIRST token falls in, so a bin can run over by up to
    * chunkSize−1 tokens (start-based streaming fill; the loader
    * truncates or splits the straddler).
    *
    * The global running token count is computed WITHOUT a
    * single-partition window: `idCol` (assumed non-negative numeric)
    * ranges are monotone buckets, so a per-bucket window cumsum plus
    * broadcast cumulative bucket offsets reconstructs the exact global
    * prefix sum — same distributed-rank shape as the deterministic
    * shuffle / ntile operators. */
  def packChunks(docs: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, binTokens: Int, docsPerBucket: Int = 1024)
      : DataFrame =
    packTokenRows(chunkTokens(docs, idCol, textCol, chunkSize), idCol,
      binTokens, docsPerBucket)

  /** Exclusive running offsets over an already-aggregated per-bucket
    * table: each bucket's `off` = sum of `valCol` over buckets strictly
    * earlier in `ascending` bucket order. Computed as an exclusive
    * window cumsum over the bucket table (r22, guide §2.4): the old
    * broadcast self-join on the strict inequality planned `counts`
    * TWICE — its upstream aggregation re-ran whenever AQE could not
    * reuse the exchange (profiled as two full input passes in
    * ev_peak_concurrency) — and paid an O(B²) pair fan-out besides.
    * The bucket table is BOUNDED by construction (≤32 percentile
    * buckets; ≤4096 range-derived packing buckets), so one
    * WindowExec partition over it is a constant-size sort at any data
    * scale, while `counts` is now planned exactly once. This is the
    * shared spine of every "distributed prefix sum" query (global
    * ntile, deterministic shuffle rank, sequence packing). Pass
    * `partitionCols` to restart the running sum per partition (e.g.
    * per curriculum phase). */
  def cumulativeOffsets(counts: DataFrame, bktCol: String, valCol: String,
      ascending: Boolean = true,
      partitionCols: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(if (ascending) col(bktCol).asc else col(bktCol).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    counts.select(
      (col(bktCol) +: partitionCols.map(col)) :+
        coalesce(sum(col(valCol)).over(w), lit(0L)).as("off"): _*)
  }

  /** Watermark-sizing disorder report over an event table: lateness of
    * each row = exclusive running max of event-time over ARRIVAL order
    * (`idCol`) minus its own event-time, clamped at 0; returns one row
    * with the late share, max lateness, and exact lateness quantiles —
    * the numbers that justify a `withWatermark()` bound. The global
    * running max never routes through a single-partition window:
    * `idCol DIV divisor` is a monotone arrival bucket, so a per-bucket
    * window max plus a broadcast prefix-max over the bucket table
    * reconstructs it exactly (the prefix-max twin of
    * [[cumulativeOffsets]]). The divisor is RANGE-DERIVED —
    * max(4096, ⌈range/4096⌉) from one min/max read of the id column (a
    * single-scalar driver read for plan sizing, same posture as
    * autoSalt's diagnosis) — so the broadcast bucket table is ≤4096
    * rows at ANY id range (r14 VERDICT item 3; previously a fixed
    * DIV 4096 grew the table linearly with the range). The report is
    * divisor-invariant, so oracles never see the internal bucketing;
    * ScaleProbe pins the flat-under-range-growth behavior. */
  def disorderReport(ev0: DataFrame, idCol: String, tsUsCol: String)
      : DataFrame = {
    val ids = ev0.agg(min(col(idCol)).cast("long").as("lo"),
      max(col(idCol)).cast("long").as("hi")).head()
    val divisor =
      if (ids.isNullAt(0)) 4096L
      else math.max(4096L, (ids.getLong(1) - ids.getLong(0)) / 4096L + 1L)
    val ev = ev0.select(col(idCol).as("__id"),
      col(tsUsCol).cast("long").as("ts_us"),
      expr(s"$idCol DIV $divisor").as("bkt"))
    val wPrev = Window.partitionBy("bkt").orderBy("__id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bmax = ev.groupBy("bkt").agg(max("ts_us").as("bmax"))
    // Prefix-max over the bounded (≤4096-row) bucket table as an
    // exclusive-frame window — the prefix-MAX twin of
    // cumulativeOffsets' r22 fix. The old broadcast self-join on the
    // strict bucket inequality planned bmax (and so the events scan
    // under it) TWICE whenever AQE could not reuse the exchange, plus
    // an O(B²) pair fan-out; a single-partition window over a
    // constant-bounded table is flat at any data scale. Empty frame
    // (first bucket) yields NULL exactly like the old left join.
    val wPrior = Window.orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val prior = bmax.select(col("bkt"),
      max("bmax").over(wPrior).as("prior_max"))
    val late = ev.join(broadcast(prior), Seq("bkt"))
      .withColumn("prev_ts",
        greatest(coalesce(max("ts_us").over(wPrev), lit(Long.MinValue)),
          coalesce(col("prior_max"), lit(Long.MinValue))))
      .withColumn("late_us", when(col("prev_ts") > col("ts_us"),
        col("prev_ts") - col("ts_us")).otherwise(0L))
    // ONE pass over the events: per-lateness-value counts, eagerly
    // materialized; the report aggregates AND the exact-percentile
    // machinery (whose many small branches would otherwise each
    // re-derive the scan+join+window subtree — the before plan was 233
    // nodes / 36 parquet scans) all read the node-local blocks. The
    // count table is bounded by the number of DISTINCT lateness values
    // (heavily dominated by late_us=0), far below the row count.
    val lateCounts = late.groupBy(col("late_us"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint()
    val qs = exactPercentilesFromCounts(
      lateCounts.select((col("late_us").cast("double") / 1000.0)
        .as("late_ms"), col("__c")),
      "late_ms", "__c", Seq(0.5, 0.95, 0.99))
    // coalesce(sum, 0): count(lit(1)) over an empty input was 0, and
    // n_late/max stay NULL there — identical degenerate-input surface.
    lateCounts.agg(
        coalesce(sum("__c"), lit(0L)).cast("long").as("n_events"),
        sum(when(col("late_us") > 0L, col("__c")).otherwise(0L))
          .cast("long").as("n_late"),
        max("late_us").as("max_late_us"))
      .crossJoin(qs)
      .select(col("n_events"), col("n_late"),
        round(col("n_late").cast("double") / col("n_events"), 6)
          .as("late_share"),
        expr("max_late_us DIV 1000").as("max_late_ms"),
        round(element_at(col("q"), 1), 6).as("p50_ms"),
        round(element_at(col("q"), 2), 6).as("p95_ms"),
        round(element_at(col("q"), 3), 6).as("p99_ms"))
  }

  /** EXACT interpolated percentiles (`percentile`/`quantile_cont`
    * semantics: value at 0-based position p·(n−1) of the sorted
    * non-null values, linear interpolation between the two straddling
    * order statistics) WITHOUT the single-task buffer of the built-in
    * exact aggregate — `percentile()` over one group collects every
    * value into ONE ObjectHashAggregate buffer (tens of GB at 10⁹
    * rows), which is the same bottleneck as a global sort in different
    * clothes. This form never materializes more than a partition of
    * the DISTINCT-value table anywhere:
    *
    *  1. per-value counts — an ordinary partial-aggregated groupBy
    *     (the only pass over the full data);
    *  2. a DETERMINISTIC monotone bucket id from a broadcast min/max:
    *     `floor((v − min) · buckets / (max − min))`. Value-derived, so
    *     re-evaluation/retry of any branch reproduces identical
    *     bucketing (a `repartitionByRange` + `spark_partition_id`
    *     variant is NOT safe here: range-boundary sampling is seeded
    *     per-RDD, and the bucket table feeds two plan branches that
    *     must agree). Linear bucketing can skew if distinct values
    *     cluster in a narrow slice of the range — the cost is an
    *     unbalanced WINDOW SORT over part of the distinct-value table,
    *     which spills gracefully, not an aggregation buffer that OOMs;
    *  3. exact global rank range per value = broadcast cumulative
    *     bucket offsets ([[cumulativeOffsets]], ≤ `buckets` rows) + a
    *     per-bucket window cumsum — the distributed prefix-sum spine
    *     shared with ntile/packing;
    *  4. each requested p probes the two straddling ranks (at most
    *     2·|ps| surviving rows) and interpolates.
    *
    * Returns one row, one `array<double>` column `q` ordered like
    * `ps` — drop-in for `percentile(v, array(ps…))` on a single group.
    * Exactness is oracle-gated: `agg_percentiles_dist` and `ev_rfm`
    * hash-match DuckDB's `quantile_cont` on the same data. */
  def exactPercentilesDist(df: DataFrame, valCol: String,
      ps: Seq[Double], buckets: Int = 32): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1),
      "exactPercentilesDist: ps must be within [0, 1]")
    val v = col(valCol).cast("double")
    exactPercentilesFromCounts(
      df.filter(v.isNotNull).groupBy(v.as("__v")).agg(count(lit(1)).as("__c")),
      "__v", "__c", ps, buckets)
  }

  /** [[exactPercentilesDist]] over a PRE-AGGREGATED (value, count)
    * table — the entry point for callers that already hold per-value
    * multiplicities (disorderReport aggregates lateness once and feeds
    * both its report aggregates and these quantiles from the same
    * materialized count table, guide §2.4: the value-count pass is the
    * only full pass the machinery needs, so a caller that has it should
    * not hand back raw rows to be re-counted). Precondition: `valCol`
    * has no NULLs and is unique per row (a groupBy key). Values are
    * identical to [[exactPercentilesDist]] on the expanded rows by
    * construction — same bucket arithmetic, ranks, probes and
    * interpolation, starting from the identical counts table. */
  def exactPercentilesFromCounts(counts0: DataFrame, valCol: String,
      cntCol: String, ps: Seq[Double], buckets: Int = 32): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1),
      "exactPercentilesFromCounts: ps must be within [0, 1]")
    // One group under a constant key. The global aggregate keeps one row
    // on empty or all-NULL input, where percentile(v, array(ps)) returns
    // NULLs and this function claims drop-in semantics (element_at(q, i)
    // must yield NULL, not an ANSI index error).
    percentilesByKey(counts0.select(lit(0).as("__k"),
        col(valCol).cast("double").as("__v"),
        col(cntCol).cast("long").as("__c")), ps, buckets)
      .agg(max(col("q")).as("q0"))
      .select(coalesce(col("q0"), nullQuantiles(ps)).as("q"))
  }

  /** Grouped [[exactPercentilesDist]]: the same exact-interpolated
    * percentile machinery, computed once per distinct `keyCol` value in
    * ONE pass over the data. For callers needing quantiles of several
    * metrics (ev_rfm's R/F/M thresholds), unpivot to (metric, value)
    * rows and call this once instead of stacking one full aggregate
    * pipeline per metric (guide §2.4 — remove shuffles outright: r21's
    * ev_rfm plan re-expanded the per-user aggregate under three
    * independent percentile subtrees, 493 nodes / 88 scans). Values are
    * bit-identical to calling [[exactPercentilesDist]] per key: same
    * bucket arithmetic, same rank probes, same interpolation, just
    * keyed. Returns one row per key present in `df` with non-null
    * values: (keyCol, q array<double> ordered like `ps`); keys with no
    * non-null values yield no row (the caller sees NULL bounds through
    * its own outer join/aggregate, matching the drop-in NULL-array
    * semantics of the single-group form). */
  def exactPercentilesDistBy(df: DataFrame, keyCol: String,
      valCol: String, ps: Seq[Double], buckets: Int = 32): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1),
      "exactPercentilesDistBy: ps must be within [0, 1]")
    val v = col(valCol).cast("double")
    val counts = df.filter(v.isNotNull)
      .groupBy(col(keyCol).as("__k"), v.as("__v"))
      .agg(count(lit(1)).as("__c"))
    percentilesByKey(counts, ps, buckets)
      .select(col("__k").as(keyCol), col("q"))
  }

  private def nullQuantiles(ps: Seq[Double]): Column =
    array(ps.map(_ => lit(null).cast("double")): _*)

  /** The engine behind every exact-percentile form: (__k, q) per key of
    * a (__k, __v, __c) value-count table with no NULL `__v` — steps 2–4
    * of [[exactPercentilesDist]], keyed. Per-key min/max/total come from
    * one tiny aggregate. A key whose probe set came back incomplete
    * yields NULLs, not a short array an element_at would mis-index. */
  private def percentilesByKey(counts: DataFrame, ps: Seq[Double],
      buckets: Int): DataFrame = {
    val mm = counts.groupBy("__k")
      .agg(min("__v").as("__mn"), max("__v").as("__mx"),
        sum("__c").as("__n"))
    val bkted = counts.join(broadcast(mm), Seq("__k"))
      .withColumn("__bkt",
        when(col("__mx") === col("__mn"), lit(0L))
          .otherwise(least(greatest(
            floor((col("__v") - col("__mn")) * buckets
              / (col("__mx") - col("__mn"))).cast("long"),
            lit(0L)), lit(buckets - 1L))))
    val offs = cumulativeOffsets(
      bkted.groupBy("__k", "__bkt").agg(sum("__c").as("__bc")),
      "__bkt", "__bc", partitionCols = Seq("__k"))
    val wIn = Window.partitionBy("__k", "__bkt").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranks = bkted.join(broadcast(offs), Seq("__k", "__bkt"))
      .withColumn("__lo",
        col("off") + coalesce(sum("__c").over(wIn), lit(0L)))
      .withColumn("__hi", col("__lo") + col("__c") - 1)
    val probes = ranks
      .select(col("__k"), col("__v"), col("__lo"), col("__hi"),
        posexplode(array(ps.map(lit): _*)).as(Seq("__i", "__p")),
        col("__n"))
      .withColumn("__pos", col("__p") * (col("__n") - 1).cast("double"))
      .withColumn("__kLo", floor(col("__pos")).cast("long"))
      .withColumn("__kHi", ceil(col("__pos")).cast("long"))
      .filter(col("__kLo").between(col("__lo"), col("__hi")) ||
        col("__kHi").between(col("__lo"), col("__hi")))
    probes.groupBy("__k", "__i")
      .agg(
        max(when(col("__kLo").between(col("__lo"), col("__hi")), col("__v")))
          .as("__vLo"),
        max(when(col("__kHi").between(col("__lo"), col("__hi")), col("__v")))
          .as("__vHi"),
        first(col("__pos") - col("__kLo").cast("double")).as("__frac"))
      .select(col("__k"), col("__i"),
        (col("__vLo") + col("__frac") * (col("__vHi") - col("__vLo")))
          .as("__q"))
      .groupBy("__k")
      .agg(transform(array_sort(collect_list(struct(col("__i"), col("__q")))),
        x => x.getField("__q")).as("q0"))
      .select(col("__k"), when(size(col("q0")) === ps.size, col("q0"))
        .otherwise(nullQuantiles(ps)).as("q"))
  }

  /** Packing core over an existing chunk table (idCol, chunk_id,
    * n_tokens, …): assigns each row its training bin by exact global
    * prefix sum of n_tokens in (idCol, chunk_id) order — distributed as
    * monotone id-range buckets + per-bucket window cumsum + broadcast
    * cumulative bucket offsets. */
  def packTokenRows(chunks: DataFrame, idCol: String, binTokens: Int,
      docsPerBucket: Int = 1024): DataFrame = {
    val bkt = chunks
      .withColumn("bkt", floor(col(idCol) / docsPerBucket).cast("long"))
    val wIn = Window.partitionBy("bkt").orderBy(col(idCol), col("chunk_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = cumulativeOffsets(
      bkt.groupBy("bkt").agg(sum("n_tokens").as("tok")), "bkt", "tok")
    bkt.join(broadcast(offs), Seq("bkt"))
      .withColumn("cum0",
        col("off") + coalesce(sum(col("n_tokens")).over(wIn), lit(0L)))
      .select(col(idCol), col("chunk_id"), col("n_tokens"),
        expr(s"cum0 div $binTokens").as("bin_id"))
  }

  /** Benchmark decontamination: ids of `docs` rows sharing at least one
    * word n-gram with `benchmark`, with the count of distinct shared
    * grams. The benchmark's gram set is broadcast — benchmarks are tiny,
    * the corpus is not, so the corpus side streams with no shuffle until
    * the per-doc count. */
  def decontaminate(docs: DataFrame, benchmark: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    def grams(df: DataFrame): DataFrame =
      wordGrams(df, idCol, textCol, n).filter(col("gram").isNotNull)
        .select(col(idCol), col("gram"))
    grams(docs)
      .join(broadcast(grams(benchmark).select("gram").distinct()),
        Seq("gram"))
      .groupBy(idCol)
      .agg(count_distinct(col("gram")).as("n_shared_grams"))
  }

  /** Symmetric int8 scalar quantization of a double-array column:
    * (scale, codes, l2_err) per row. Rounding is trunc(x ± 0.5) — engine
    * neutral (Spark round() and DuckDB round()/CAST need not agree at
    * exact halves). */
  def quantizeInt8(emb: DataFrame, idCol: String, vecCol: String)
      : DataFrame = {
    val mx = array_max(transform(col(vecCol), x => abs(x)))
    def code(x: Column) =
      (x * col("__scale") + when(x >= 0, 0.5).otherwise(-0.5)).cast("long")
    emb.withColumn("__scale", when(mx > 0, lit(127.0) / mx).otherwise(1.0))
      .select(col(idCol),
        round(col("__scale"), 6).as("scale"),
        concat_ws(",", transform(col(vecCol),
          x => code(x).cast("string"))).as("codes"),
        round(sqrt(aggregate(col(vecCol), lit(0.0), (acc, x) => {
          val err = x - code(x).cast("double") / col("__scale")
          acc + err * err
        })), 6).as("l2_err"))
  }

  /** URL canonicalization — the normalization pass web-crawl dedup runs
    * BEFORE any content hash, because the same page hides behind
    * scheme/host case, default ports, trailing slashes, tracking
    * parameters, param order, and fragments. Rules (each a documented
    * choice, not an accident):
    *   - scheme and host lowercase (RFC 3986 §6.2.2.1); PATH case is
    *     preserved — paths are case-sensitive on most origins.
    *   - default port stripped per scheme (http :80, https :443).
    *   - trailing slashes stripped from the path ("/a/" ≡ "/a";
    *     the bare root collapses to "" so host-only forms agree).
    *   - fragment dropped entirely (never sent to the server).
    *   - tracking params removed (utm_*, fbclid, gclid), the rest
    *     SORTED — param order is almost never semantic, and sorting
    *     collapses "?a=1&b=2" with "?b=2&a=1".
    * Pure per-row Column expression (regex + higher-order array ops,
    * all codegen) — no UDF, no shuffle, embarrassingly parallel at
    * 100 TB. Patterns stay in the Java∩RE2 common subset like
    * [[scrubPii]]'s. Scope: the authority is treated as host[:port] —
    * RFC 3986 userinfo (user@host) is lowercased with the rest (it is
    * case-sensitive per spec but vanishingly rare in crawl URLs and
    * usually a credential leak you want normalized for dedup anyway);
    * IPv6 literals pass through correctly since ":80$" only matches a
    * trailing port. */
  def canonicalizeUrl(url: Column): Column = {
    val u = regexp_replace(url, "#.*$", "")
    val scheme = lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hp = lower(regexp_extract(u,
      "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))
    val host = when(scheme === "http", regexp_replace(hp, ":80$", ""))
      .when(scheme === "https", regexp_replace(hp, ":443$", ""))
      .otherwise(hp)
    val path = regexp_replace(
      regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1),
      "/+$", "")
    val q = regexp_extract(u, "\\?([^#]*)", 1)
    val kept = array_sort(filter(split(q, "&"),
      p => p =!= "" && !p.rlike("^(utm_|fbclid(=|$)|gclid(=|$))")))
    val qs = concat_ws("&", kept)
    // Non-hierarchical inputs (no "scheme://" — bare hosts, mailto:,
    // protocol-relative "//host") pass through UNCHANGED: every
    // extraction above yields "" for them, and collapsing all such
    // URLs to a shared "://" canonical would merge unrelated documents
    // in any groupBy-dedup downstream — silent data loss, the one
    // failure mode a dedup key must never have.
    when(scheme === "", url).otherwise(
      concat(scheme, lit("://"), host, path,
        when(qs === "", lit("")).otherwise(concat(lit("?"), qs))))
  }

  /** PII scrubbing (the privacy-redaction pass a training corpus runs
    * before release): phone / email / IPv4 patterns → typed
    * placeholders, plus per-row match counts for redaction auditing.
    * One projection — no shuffle, embarrassingly parallel at any scale.
    * Replacement order is phone → email → IP; patterns stay inside the
    * Java∩RE2 regex common subset (no lookaround, no backreferences;
    * \b IS in that subset) so results are identical on any conforming
    * engine. Phone and IP are \b-anchored so a longer digit/hyphen run
    * is never partially spliced. COUNT CAVEAT: the n_* columns are
    * matched on the RAW text while replacement is sequential, so a
    * substring matching two classes (an email whose local part embeds a
    * phone-shaped run) is counted under BOTH classes but redacted once
    * — treat the counts as per-class detector hits, not as a partition
    * of redacted spans. Swap/extend the pattern list for
    * jurisdiction-specific classes (SSNs, IBANs, …) — the operator
    * shape does not change. The companion masking mode (redact digits
    * in place, keep a recognizable suffix) is [[maskTrailingDigits]]. */
  def scrubPii(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val phone = "\\b\\d{2}-\\d{3}-\\d{3}-\\d{4}\\b"
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ip = "\\b\\d{1,3}(?:\\.\\d{1,3}){3}\\b"
    def cnt(re: String): Column =
      size(regexp_extract_all(col(textCol), lit(re), lit(0))).cast("long")
    docs.select(col(idCol),
      regexp_replace(regexp_replace(regexp_replace(col(textCol),
        phone, "[PHONE]"), email, "[EMAIL]"), ip, "[IP]").as("scrubbed"),
      cnt(phone).as("n_phone"), cnt(email).as("n_email"),
      cnt(ip).as("n_ip"))
  }

  /** PII masking, the OTHER redaction mode (see [[scrubPii]] for typed
    * placeholders): blank every digit of an identifier-bearing column
    * except the last `keepLast`, plus a redaction count — the
    * "xxx-xx-1234" style that keeps records humanly matchable while
    * removing the identifying prefix. Same scaling shape as scrubPii:
    * one projection, digit-class regex only (Java∩RE2-safe, no
    * lookaround). `greatest` guards values shorter than `keepLast`
    * (negative-length substr is ''-vs-ERROR engine-divergent). */
  def maskTrailingDigits(df: DataFrame, idCol: String, valueCol: String,
      keepLast: Int = 4): DataFrame = {
    require(keepLast >= 0, "maskTrailingDigits: keepLast must be >= 0")
    val len = length(col(valueCol))
    val pre = col(valueCol).substr(lit(1), greatest(len - keepLast, lit(0)))
    df.select(col(idCol),
      concat(regexp_replace(pre, "[0-9]", "*"),
        col(valueCol).substr(greatest(len - (keepLast - 1), lit(1)),
          lit(keepLast))).as("masked"),
      length(regexp_replace(pre, "[^0-9]", "")).cast("long")
        .as("n_redacted"))
  }

  /** SemDeDup (Abbas et al. 2023) drop set with BOUNDED join tasks and
    * EXACT semantics: ids that have a lower-id neighbor with cosine ≥
    * `tau` inside the same cluster cell. The naive within-cell
    * all-pairs join puts the LARGEST cell in one join group — at
    * 100 TB one hot k-means cell (dead-center embeddings,
    * near-duplicate floods) concentrates a quadratic task on a single
    * executor. Cells above `cellCap` members are therefore decomposed
    * into `B = ceil(n/cellCap)` content-hash blocks and EVERY BLOCK
    * PAIR (i ≤ j) becomes its own equi-join key — the triangle-join
    * decomposition — so each join group holds ~2·cellCap expected rows
    * (hash-balanced) and every pair is still compared exactly ONCE:
    * same-block pairs under key (i,i) with the id< guard, cross-block
    * pairs under key (min,max) with the lower-numbered block always on
    * the build side. The r19 salt-split form skipped cross-sub pairs
    * entirely — an approximation documented as the published
    * algorithm's degradation mode, until the sf1 gate measured it: the
    * 4-cell test clustering crossed the cap at 20k vectors and 363
    * duplicates went undetected. Exactness within a cell is the
    * operator's CONTRACT (the oracle's unbounded join); the quadratic
    * total cost of a hot cell is inherent to that contract, and the
    * decomposition distributes it evenly (replication factor B on the
    * hot cell only) instead of silently dropping work. For every cell
    * ≤ cellCap, B = 1 and the plan is the old single-key join
    * unchanged. Expects unit vectors.
    * Cell sizes come from a broadcast k-row count table, so the only
    * full-data shuffle is the pair join itself. The broadcast hint
    * assumes k (cluster count) stays in SemDeDup's published regime
    * (~10⁴-10⁵ cells — a few MB); if you run an extreme-k clustering
    * (k approaching row count), drop the hint and let AQE decide, or
    * the k-row table lands whole on the driver. */
  def semanticDupIds(cells: DataFrame, idCol: String, vecCol: String,
      clusterCol: String, tau: Double, cellCap: Int = 4096): DataFrame = {
    require(cellCap >= 1, "semanticDupIds: cellCap must be >= 1")
    val sizes = cells.groupBy(clusterCol).agg(count(lit(1)).as("__cell_n"))
    val sub = cells.join(broadcast(sizes), Seq(clusterCol))
      .withColumn("__nb",
        ceil(col("__cell_n").cast("double") / cellCap).cast("long"))
      .withColumn("__blk", pmod(xxhash64(col(idCol)), col("__nb")))
    // Side a carries block i under every key (i, j), j ≥ i; side b
    // carries block j under every key (i, j), i ≤ j. A cross-block
    // pair {x ∈ i, y ∈ j} therefore meets exactly once (x on a, y on
    // b); a same-block pair meets under (i, i) on both orientations
    // and the id< guard keeps one.
    val a = sub.select(col(clusterCol).as("__cl_a"),
        col("__blk").as("__lo"),
        explode(sequence(col("__blk"), col("__nb") - 1)).as("__hi"),
        col(idCol).as("left_id"), col(vecCol).as("ua"))
    val b = sub.select(col(clusterCol).as("__cl_b"),
        explode(sequence(lit(0L), col("__blk"))).as("__lo_b"),
        col("__blk").as("__hi_b"),
        col(idCol).as("right_id"), col(vecCol).as("ub"))
    a.join(b, col("__cl_a") === col("__cl_b") &&
        col("__lo") === col("__lo_b") && col("__hi") === col("__hi_b") &&
        (col("__lo") =!= col("__hi") ||
          col("left_id") < col("right_id")))
      .filter(round(vecDot(col("ua"), col("ub")), 6) >= tau)
      // cross-block orientation is block-ordered, not id-ordered — the
      // dropped member is always the HIGHER id of the pair
      .select(greatest(col("left_id"), col("right_id")).as("right_id"))
      .distinct()
  }

  /** Both directions of every edge as long (__src, __dst) rows, in ONE
    * pass over `edges` (explode both directions) rather than a union of
    * two reads — halves the upstream recompute when the edge input is a
    * pipeline instead of a table. */
  private def bothDirections(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    edges.select(explode(array(
        struct(col(srcCol).cast("long").as("s"),
          col(dstCol).cast("long").as("t")),
        struct(col(dstCol).cast("long").as("s"),
          col(srcCol).cast("long").as("t")))).as("p"))
      .select(col("p.s").as("__src"), col("p.t").as("__dst"))

  /** Degree rides ON the edge row (one partitioned window over the
    * checkpointed edge table) instead of re-joining a degree table
    * every round — the round loop is then exactly two shuffles: the
    * rank join and the contribution sum. */
  private def symEdgesWithDeg(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    bothDirections(edges, srcCol, dstCol)
      .distinct()
      .withColumn("__deg",
        count(lit(1)).over(Window.partitionBy("__src")))
      .localCheckpoint()

  /** Bounded-round PageRank over an UNDIRECTED graph given as an edge
    * list. Edges are symmetrized and the node set is their endpoints —
    * the symmetrized distinct edge table's sources, read from its
    * checkpoint — so every node has an edge and none dangles. Same
    * iterative discipline as connectedComponents: edge table and
    * per-round rank table are localCheckpoint'ed, so the plan stays flat
    * and the edge derivation runs once. Per-round contributions are
    * summed as 1e15-scaled longs (a contribution is ≤ 1, so it fits a
    * double's exact-integer range and any realistic in-degree stays far
    * below 2^63) — exact, order-independent, and on the primitive
    * codegen aggregate path instead of boxed wide decimals. Output is
    * bit-identical across cluster layouts (the property the oracle
    * compare needs). Ranks are the damping-0.85 standard:
    * pr' = (1-d)/N + d·Σ pr/deg. */
  def pageRankFromEdges(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int, damping: Double = 0.85,
      outCol: String = "node_id"): DataFrame = {
    val e = symEdgesWithDeg(edges, srcCol, dstCol)
    val n = e.select(col("__src").as("__id")).distinct().localCheckpoint()
    // N enters the plan as a broadcast 1-row aggregate — no driver-side
    // count(), the whole computation stays declarative.
    val tot = n.agg(count(lit(1)).cast("double").as("__n"))
    var pr = n.crossJoin(broadcast(tot))
      .select(col("__id"), (lit(1.0) / col("__n")).as("rank"))
    if (rounds > 0) {
      // Round-state cuts go through RoundCut (r13 VERDICT item 2):
      // serialized disk-spillable blocks + eager release of older round
      // states, so a memory-squeezed run degrades by percent, not 3-7×.
      val rc = new graft.operators.RoundCut()
      // Small-heap degradation (r17 VERDICT item 5): Catalyst
      // broadcasts the rank snapshot into the round-loop join at test
      // scale (it is ~10 MB at sf0.1 — a fine local plan), but under a
      // ~1 GiB JVM Spark's driver-side broadcast-build guard ABORTS the
      // query instead of degrading. A heap that small cannot hold the
      // build budget, so pin the rank side to a shuffle hash join there
      // — the query then completes (spilling if it must), which is the
      // graceful floor. Any realistic executor (>2 GiB) keeps the
      // optimizer's choice; at 100 TB the rank table is cluster-sized
      // and the co-partitioned shuffle join is the right plan anyway.
      //
      // The gate follows the session's own broadcast posture: a
      // disabled spark.sql.autoBroadcastJoinThreshold — any parsed
      // threshold <= 0, "-1" AND "0", as Spark's own planner reads it —
      // means the operator pins the co-partitioned join it knows it
      // needs, and the Runtime.maxMemory probe applies ONLY in local
      // mode, where the plan-building JVM IS the executor JVM. On a
      // cluster a small driver with big executors keeps the optimizer's
      // choice (probing the driver heap there would needlessly
      // pessimize).
      val sess = e.sparkSession
      val raw = sess.conf
        .get("spark.sql.autoBroadcastJoinThreshold", "10MB").trim
      val bcastOff =
        try org.apache.spark.network.util.JavaUtils
          .byteStringAsBytes(raw) <= 0L
        catch { case _: NumberFormatException => raw.startsWith("-") }
      val tightHeap = bcastOff || (sess.sparkContext.isLocal &&
        Runtime.getRuntime.maxMemory < (3L << 29)) // <1.5GiB
      (1 to rounds).foreach { i =>
        val contrib = e
          .join(if (tightHeap) pr.hint("shuffle_hash") else pr,
            col("__src") === col("__id"))
          .select(col("__dst"),
            (col("rank") / col("__deg") * 1e15).cast("long").as("__c"))
          .groupBy("__dst")
          .agg((sum(col("__c")).cast("double") / 1e15).as("__in"))
        pr = contrib
          .crossJoin(broadcast(tot))
          .select(col("__dst").as("__id"),
            (lit(1.0 - damping) / col("__n") +
              lit(damping) * col("__in")).as("rank"))
        // Lineage truncation every THIRD round only (never the last —
        // the caller consumes it once). A/B at sf0.1 graph_pagerank
        // (rounds=2): per-round localCheckpoint 3.68-5.36 s vs chained
        // plan 3.42-3.55 s — the eager materialization job costs more
        // than the 4-shuffle chained plan saves, the same finding that
        // won 2× on the BPE loop. At higher `rounds` an unbounded chain
        // is an optimizer-time risk, so the cut stays, just at a 3-round
        // cadence (plan depth ≤ 6 shuffles between cuts).
        if (i % 3 == 0 && i < rounds) pr = rc.cut(pr)
      }
    }
    pr.select(col("__id").as(outCol), round(col("rank"), 10).as("rank"))
  }

  /** Bounded-round COMMUNITY DETECTION via synchronous label
    * propagation (LPA): every node starts as its own community and each
    * round adopts the most frequent label among its neighbors AND
    * itself, ties broken toward the smaller label — the deterministic
    * variant of classic LPA (whose random visit order cannot be
    * oracle-checked or reproduced across engines/runs). The SELF-VOTE
    * is load-bearing: pure neighbor voting oscillates on synchronous
    * updates (two cliques joined by a bridge swap labels forever —
    * observed, not hypothetical; the clique spec pins it); adding each
    * node's own label as one vote is the standard symmetric-update
    * stabilizer and costs a union of the label table into the vote
    * stream, no extra shuffle shape. Unlike connectedComponents' min-
    * label rule this keeps densely-linked groups distinct inside one
    * weakly-connected blob, which is what near-dup "template families"
    * and engagement clusters actually need.
    *
    * Shape per round: one equi-join (labels onto the symmetrized edge
    * table) + one count aggregate on (node, label) — the self-votes
    * union in map-side, partial-aggregated with the rest — + one argmax
    * aggregate on node; all shuffles on graph keys. The argmax is
    * max(struct(count, −label)), an AGGREGATE rather than a rank
    * window, so it partially aggregates instead of sorting each
    * partition. Lineage is cut on the same 3-round cadence as pageRank.
    * Nodes are derived from the edge table; isolated nodes (no edges)
    * have no votes and stay out by construction — callers wanting them
    * union them back labeled as themselves. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int): DataFrame = {
    val e = bothDirections(edges, srcCol, dstCol)
      .distinct()
      .localCheckpoint()
    var labels = e.select(col("__src").as("__id")).distinct()
      .select(col("__id"), col("__id").as("label"))
    var prevCache: Option[DataFrame] = None
    (1 to rounds).foreach { i =>
      // ONE shuffle per round: the raw vote stream is repartitioned on
      // __src once, and BOTH aggregates run in-partition on top of it —
      // hashpartitioning(__src) satisfies the clustered distribution of
      // the (__src, label) count AND the per-__src argmax, so neither
      // groupBy plans its own Exchange. (Alternatives measured at
      // sf0.1: two-shuffle count+argmax 4.7 s; mode(label,
      // deterministic=true) — semantically identical, spec-confirmed —
      // 4–11 s erratic, its TypedImperativeAggregate map buffers churn
      // the heap; this shape ~3 s and stays whole-stage codegen.)
      labels = e.join(labels, col("__dst") === col("__id"))
        .select(col("__src"), col("label"))
        .unionAll(labels.select(col("__id").as("__src"), col("label")))
        .repartition(col("__src"))
        .groupBy("__src", "label").agg(count(lit(1)).as("__cnt"))
        .groupBy("__src")
        .agg(max(struct(col("__cnt"), (-col("label")).as("__neg")))
          .as("__m"))
        .select(col("__src").as("__id"), (-col("__m.__neg")).as("label"))
      // Cost floor, pinned (r11 watch item): all four lineage
      // strategies — this one, lazy cache (no count), no-cache chain,
      // per-round localCheckpoint — converge to the SAME ~3.4-5.5 s
      // warm steady state at sf0.1, measured 4 repeats each in both
      // run orders (this form: 3.38-4.19 s when the JVM is warm;
      // whichever variant runs FIRST pays 12-18 s). The official
      // bench's 16.2→11.8→9.7 s repeats are therefore codegen/JIT
      // warm-up of ~6 fresh whole-stage-codegen stages per round plus
      // co-tenant load (now decidable from the bench's load1 marker),
      // not plan cost: there is no lineage strategy to switch to, and
      // lazy-with-final-checkpoint buys nothing while leaking three
      // caches per call. Floor stands at ~3.4 s / 3 rounds.
      //
      // cache(), NOT localCheckpoint(), and EVERY round: the self-vote
      // references `labels` twice per round (join + union branch), so
      // an unmaterialized chain re-derives round t−k 2^k times; and a
      // checkpointed RDD hides size stats, so every subsequent round
      // plans a sort-merge join that shuffles the full edge table
      // instead of broadcasting the node-sized label table (measured:
      // SMJ rounds 6.1 s vs broadcast rounds ~2 s at sf0.1). The cache
      // keeps the plan's stats visible — AQE still decides per scale —
      // while deduping the two references. Live caches are BOUNDED at
      // one: each round materializes eagerly (count — the same work
      // the next round would trigger anyway) so round t−1's cache can
      // unpersist immediately instead of accumulating one node-sized
      // InMemoryRelation per round in a long-lived session. The LAST
      // round's cache backs the returned DataFrame — callers that care
      // unpersist it after consuming (Verify/Bench reclaim it between
      // queries). Measured cost of the eager rounds at sf0.1: ~1 s
      // over the lazy chain (3.7 → 4.7 s) — accepted: a library
      // function that leaks one cache per round into callers' sessions
      // is wrong regardless of the harness's own reclaim.
      labels = labels.cache()
      labels.count()
      prevCache.foreach(_.unpersist(blocking = false))
      prevCache = Some(labels)
    }
    labels.select(col("__id").as("node_id"),
      col("label").cast("long").as("label"))
  }

  /** Bounded-round K-CORE decomposition by iterative peeling: each
    * round drops every node whose current degree is below `k` and
    * restricts the edge set to survivors — after enough rounds the
    * survivors are exactly the k-core (every member has ≥ k neighbors
    * INSIDE the core), the standard web-graph quality/spam filter
    * (low-core pages are link chaff; dense cores are link farms or
    * genuine hubs worth separate treatment). Bounded `rounds` like
    * connectedComponents: each peel can only remove nodes, so the
    * result is a superset of the true core that equals it once a round
    * removes nothing — callers needing certainty raise `rounds` (the
    * peel count needed is the graph's degeneracy ordering depth, small
    * for power-law web graphs).
    *
    * Shape per round: one degree aggregate + the survivor set applied
    * to BOTH edge endpoints as semi joins. The survivor set is
    * node-sized and EXPLICITLY broadcast (the checkpointed edge table
    * hides stats, so Catalyst would otherwise fall back to shuffling
    * the edges twice per round — the labelPropagation finding); at
    * billion-node scale drop the hint and take the shuffled semi join,
    * the knob is this one line. The edge table shrinks monotonically,
    * so per-round cost falls; lineage cut per round because three
    * consumers read it. Returns surviving (node_id, degree) — degree
    * as of the LAST peel. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, "kCore: k and rounds must be >= 1")
    // The symmetrized distinct edge table is FIXED for the whole peel
    // and materialized ONCE (deserialized blocks — a single copy, so
    // RoundCut's serialized level would only add per-round decode
    // cost); the loop iterates on the NODE-SIZED survivor set instead
    // of re-materializing a shrinking edge table (r22, VERDICT r21
    // item 4 / guide §2.4). The old shape paid 2 full reads + 1 full
    // write of the edge state per round (StageProfile at sf0.1:
    // ~0.7 s/round of a 3.2 s query); each round is now ONE pass over
    // the fixed blocks — both survivor semi joins and the partial
    // degree aggregate pipeline in a single stage — plus a node-sized
    // exchange. Survivor sets shrink monotonically (a node dropped in
    // round i has zero surviving edges in every later round), so
    // filtering the fixed table by ONLY the latest set is identical to
    // the old cumulative restriction.
    val e = bothDirections(edges, srcCol, dstCol)
      .distinct().localCheckpoint()
    // Round state (the survivor set) is ~nodes-sized — RoundCut keeps
    // the last two alive exactly as the old edge-state loop did. The
    // survivor set is EXPLICITLY broadcast (the checkpointed edge
    // table hides stats, so Catalyst would otherwise shuffle the edges
    // twice per round — the labelPropagation finding); at billion-node
    // scale drop the hint and take the shuffled semi join, the knob is
    // this one line.
    val rc = new graft.operators.RoundCut()
    def survivors(kp: Option[DataFrame]): DataFrame = kp match {
      case None => e
      case Some(s) =>
        e.join(broadcast(s), col("__src") === col("__keep"), "left_semi")
          .join(broadcast(s), col("__dst") === col("__keep"), "left_semi")
    }
    var keep: Option[DataFrame] = None
    (1 to rounds).foreach { _ =>
      keep = Some(rc.cut(survivors(keep)
        .groupBy("__src").agg(count(lit(1)).as("__deg"))
        .filter(col("__deg") >= k).select(col("__src").as("__keep"))))
    }
    survivors(keep).groupBy("__src").agg(count(lit(1)).as("degree"))
      .select(col("__src").as("node_id"), col("degree"))
  }

  /** Bounded-round connected components via iterated min-label
    * propagation: after round t, a node's label is the minimum id within
    * graph distance t, so `rounds` ≥ cluster diameter yields exact
    * components. Near-dup graphs (LSH candidate pairs) are unions of
    * small bucket-cliques, so a small fixed bound covers them; at larger
    * diameters switch to pointer-doubling (log rounds) or
    * alternating-star. The function materializes the symmetrized edge
    * table and each round's labels itself (localCheckpoint), so callers
    * may pass an unmaterialized pipeline as `edges`.
    *
    * Output: one row per node — (idCol, cluster_id = min id reachable
    * within `rounds` hops). Isolated nodes label themselves. */
  def connectedComponents(nodes: DataFrame, idCol: String,
      edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int): DataFrame = {
    // localCheckpoint materializes the (possibly expensive) upstream
    // pipeline ONCE — each of the `rounds` iterations rescans the stored
    // blocks instead of recomputing the edge derivation (for LSH pairs
    // that derivation is the whole minhash pipeline). Iterative graph
    // algorithms must also cut their OWN lineage: checkpointing lbl per
    // round keeps the plan flat and bounds optimizer time at any
    // `rounds`.
    // Self-loops fold the "keep my own label" term INTO the min
    // aggregation: lbl' = min over {self ∪ neighbors} of lbl. The round
    // loop is then two shuffles (label join + min groupBy) instead of
    // three — the old shape needed a third per-round left join against
    // the full node set just to re-attach unimproved labels.
    val e = bothDirections(edges, srcCol, dstCol)
      .union(nodes.select(col(idCol).cast("long").as("__src"),
        col(idCol).cast("long").as("__dst")))
      .localCheckpoint()
    var lbl = nodes.select(col(idCol).cast("long").as("__id"),
      col(idCol).cast("long").as("cluster_id"))
    val rc = new graft.operators.RoundCut()
    (1 to rounds).foreach { i =>
      lbl = e.join(lbl, col("__dst") === col("__id"))
        .groupBy("__src").agg(min("cluster_id").as("cluster_id"))
        .withColumnRenamed("__src", "__id")
      // The final round's labels flow straight into the caller's plan —
      // checkpointing them would materialize an extra eager job for a
      // table consumed exactly once. Intermediate rounds still cut
      // lineage (RoundCut: serialized blocks, older rounds released)
      // so the plan stays flat and memory stays bounded at any `rounds`.
      if (i < rounds) lbl = rc.cut(lbl)
    }
    lbl.select(col("__id").as(idCol), col("cluster_id"))
  }

  /** EXACT connected components at ANY diameter: min-label propagation
    * iterated TO FIXPOINT with pointer-jumping acceleration — the
    * "switch to pointer-doubling at larger diameters" path the
    * bounded-round `connectedComponents` Scaladoc promises. Each round
    * is (a) the same neighbor-min step (self-loops folded into the min)
    * and (b) one label-compression join lbl(v) ← lbl(lbl(v)), the
    * classic shortcutting that turns O(diameter) convergence into
    * ~O(log diameter) on path-shaped components (spec: a 60-node chain
    * converges in 8 rounds, not 59). Invariant: a label is always the
    * id of a component member and only ever decreases, so at fixpoint
    * labels are edge-constant ⇒ component-constant ⇒ the component
    * minimum. The loop stops when a round changes nothing; the
    * per-round change probe is ONE count() of a filtered join — a
    * deliberate driver-side read of a single scalar for loop control,
    * O(log d) reads total, not a data collect (the alternative, a fixed
    * overprovisioned round budget, does strictly more work than the
    * probe it saves). Returns (labels, roundsUsed); roundsUsed ==
    * maxRounds means the guard tripped first — on any real near-dup
    * graph the fixpoint lands far earlier. */
  def connectedComponentsFixpoint(nodes: DataFrame, idCol: String,
      edges: DataFrame, srcCol: String, dstCol: String,
      maxRounds: Int = 50): (DataFrame, Int) = {
    val e = bothDirections(edges, srcCol, dstCol)
      .union(nodes.select(col(idCol).cast("long").as("__src"),
        col(idCol).cast("long").as("__dst")))
      .localCheckpoint()
    // keepLast = 3: the change probe reads round N-1's labels AFTER
    // round N's two cuts (nm, next) — with only 2 held states the
    // probe's input blocks would already be gone (localCheckpoint
    // truncates lineage; dropped blocks cannot be recomputed).
    val rc = new graft.operators.RoundCut(keepLast = 3)
    var lbl = rc.cut(nodes.select(col(idCol).cast("long").as("__id"),
      col(idCol).cast("long").as("cluster_id")))
    var rounds = 0
    var changed = 1L
    while (changed > 0 && rounds < maxRounds) {
      rounds += 1
      val nm = rc.cut(e.join(lbl, col("__dst") === col("__id"))
        .groupBy("__src").agg(min("cluster_id").as("cluster_id"))
        .withColumnRenamed("__src", "__id"))
      val ptr = nm.select(col("__id").as("__p"),
        col("cluster_id").as("__pc"))
      val next = rc.cut(nm.join(ptr, nm("cluster_id") === col("__p"), "left")
        .select(nm("__id"),
          coalesce(col("__pc"), nm("cluster_id")).as("cluster_id")))
      changed = next
        .join(lbl.select(col("__id"), col("cluster_id").as("__old")),
          Seq("__id"))
        .filter(col("cluster_id") =!= col("__old")).count()
      lbl = next
    }
    (lbl.select(col("__id").as(idCol), col("cluster_id")), rounds)
  }

  /** INCREMENTAL connected components: merge an ingest batch into
    * stored component labels without re-clustering the corpus.
    * `baseLabels` is a previous run's (id, cluster_id) table whose
    * labels are component MINIMA (what both CC variants here emit);
    * `deltaEdges` are the edges that touch the ingest. Old endpoints
    * contract to their stored label, the fixpoint runs on the
    * CONTRACTED delta graph — nodes = new ids + touched labels, size
    * bounded by the ingest, not the corpus — and merged labels
    * propagate back through the label map (untouched components keep
    * their stored label, never re-visited). Because a member id is
    * never below its component minimum, min-label is associative over
    * this contraction and the result EQUALS the full recompute —
    * pinned by graph_cc_incremental's oracle (graph_cc_exact's SQL
    * verbatim) and by the two-components-merge spec.
    *
    * PRECONDITIONS (both enforced or restored here, not assumed):
    * `baseLabels` labels MUST be component minima — contraction is only
    * associative over min-labels, so arbitrary representative ids would
    * silently yield wrong components (both CC variants in this file
    * emit minima; anything else is a caller bug). And `newNodes` is
    * made disjoint from `baseLabels` ids internally: an overlapping id
    * would enter the contracted graph raw while its edges reference
    * only its stored label, leaving it isolated/self-labeled AND
    * duplicated against outOld's row for the same id — so already-known
    * ids are anti-joined away (cost bounded by the ingest, not the
    * corpus) rather than silently corrupting the result. */
  def incrementalComponents(baseLabels: DataFrame, idCol: String,
      newNodes: DataFrame, deltaEdges: DataFrame,
      srcCol: String, dstCol: String): DataFrame = {
    val reserved = Seq("__lrep", "__rrep", "__ls", "__rs", "__cid", "__mcl")
    require(!reserved.exists(deltaEdges.columns.contains),
      "incrementalComponents: deltaEdges must not carry reserved __ columns")
    val freshNodes = newNodes
      .select(col(idCol).cast("long").as(idCol)).distinct()
      .join(baseLabels.select(col(idCol).cast("long").as(idCol)),
        Seq(idCol), "left_anti")
    val dc = deltaEdges
      .join(baseLabels.select(col(idCol).as(srcCol),
        col("cluster_id").as("__lrep")), Seq(srcCol), "left")
      .join(baseLabels.select(col(idCol).as(dstCol),
        col("cluster_id").as("__rrep")), Seq(dstCol), "left")
      .select(coalesce(col("__lrep"), col(srcCol)).as("__ls"),
        coalesce(col("__rrep"), col(dstCol)).as("__rs"))
    val cnodes = freshNodes.select(col(idCol).cast("long").as("__cid"))
      .union(dc.select(col("__ls").cast("long").as("__cid")))
      .union(dc.select(col("__rs").cast("long").as("__cid"))).distinct()
    val merged = connectedComponentsFixpoint(
      cnodes, "__cid", dc, "__ls", "__rs")._1
    val outNew = freshNodes
      .join(merged.select(col("__cid").as(idCol), col("cluster_id")),
        Seq(idCol))
    val outOld = baseLabels.as("b")
      .join(merged.select(col("__cid"), col("cluster_id").as("__mcl"))
        .as("m"), col("b.cluster_id") === col("m.__cid"), "left")
      .select(col(s"b.$idCol").as(idCol),
        coalesce(col("__mcl"), col("b.cluster_id")).as("cluster_id"))
    outNew.unionByName(outOld)
  }

  /** Degree-oriented edge list for triangle enumeration: each undirected
    * edge {x,y} becomes one directed edge u→v where u is the LOWER-degree
    * endpoint (id as tiebreak). Ordering by (degree, id) is a total
    * order, so the oriented graph is a DAG and every triangle has
    * exactly one wedge u→w→v with closing edge u→v — same
    * count-each-once property as id-orientation, but the wedge join's
    * fan-out per node is bounded by its ORIENTED out-degree, which
    * degree-ordering caps at O(sqrt(m)) (the classic Chiba–Nishizeki /
    * Schank–Wagner bound): a boilerplate hub of degree 10⁶ in a skewed
    * near-dup graph has out-degree ~0 because every neighbor is
    * lower-degree, where id-orientation would hand a low-id hub 10⁶
    * out-edges and a 10¹² wedge explosion on one join key.
    * Input: one row per undirected edge (srcCol < dstCol, distinct —
    * what `minhashCandidatePairs` emits). Output: (u, v) long columns.
    * The two degree joins shuffle on each endpoint; AQE broadcasts the
    * node-sized degree table when small. */
  def orientEdgesByDegree(pairs: DataFrame, srcCol: String, dstCol: String)
      : DataFrame = {
    val deg = pairs.select(explode(array(col(srcCol).cast("long"),
        col(dstCol).cast("long"))).as("__node"))
      .groupBy("__node").agg(count(lit(1)).as("__deg"))
    pairs
      .select(col(srcCol).cast("long").as("__s"),
        col(dstCol).cast("long").as("__t"))
      .join(deg.select(col("__node").as("__s"), col("__deg").as("__ds")),
        Seq("__s"))
      .join(deg.select(col("__node").as("__t"), col("__deg").as("__dt")),
        Seq("__t"))
      .select(when(col("__ds") < col("__dt") ||
          (col("__ds") === col("__dt") && col("__s") < col("__t")),
          struct(col("__s").as("u"), col("__t").as("v")))
        .otherwise(struct(col("__t").as("u"), col("__s").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
  }

  /** Triangle enumeration over an undirected edge list (srcCol < dstCol,
    * distinct): degree-oriented wedge join + semi-join closure, output
    * as id-sorted triples (a < b < c) — identical rows to the naive
    * id-oriented three-leg join, enumeration order aside, but with the
    * wedge fan-out bound described on `orientEdgesByDegree`. The
    * oriented edge table feeds all three legs, so it is materialized
    * once (localCheckpoint); the closing leg stays a LEFT SEMI (probe,
    * never multiply). */
  def triangles(pairs: DataFrame, srcCol: String, dstCol: String)
      : DataFrame = {
    val e = orientEdgesByDegree(pairs, srcCol, dstCol).localCheckpoint()
    val e1 = e.select(col("u").as("x"), col("v").as("w"))
    val e2 = e.select(col("u").as("w2"), col("v").as("z"))
    val e3 = e.select(col("u").as("x3"), col("v").as("z3"))
    e1.join(e2, col("w") === col("w2"))
      .join(e3, col("x") === col("x3") && col("z") === col("z3"),
        "left_semi")
      .select(array_sort(array(col("x"), col("w"), col("z"))).as("t"))
      .select(col("t").getItem(0).as("a"), col("t").getItem(1).as("b"),
        col("t").getItem(2).as("c"))
  }

  /** EXACT set-similarity self-join at Jaccard ≥ num/den over
    * whitespace token sets — the PPJoin family (prefix + positional +
    * length filtering over collapsed exact sets) as a user-facing
    * operator with a RATIONAL threshold, so every bound stays in
    * integer arithmetic with no float boundary anywhere:
    *
    *  1. EXACT-SET COLLAPSE: identical token sets (md5 of the sorted
    *     array) reduce to one representative before any join — on
    *     template-heavy corpora this is the decisive bound (a k-doc
    *     boilerplate clique is ONE set row; its k·(k−1)/2 pairs come
    *     back as an output-sized membership expansion, J = 1, no
    *     verify).
    *  2. RARE-TOKEN PREFIX: a qualifying pair must share one of the
    *     first sz − ⌊num·sz/den⌋ + 1 tokens in global (df, term)
    *     order.
    *  3. LENGTH: den·min_sz ≥ num·max_sz (J ≥ t forces |smaller| ≥
    *     t·|larger| since inter ≤ min and union ≥ max).
    *  4. POSITIONAL: a qualifying pair's FIRST shared token w has
    *     only unshared tokens before it on BOTH sides (one global
    *     token order), so inter ≤ 1 + min(sz_a−pos_a, sz_b−pos_b);
    *     and w provably sits inside both prefixes. Keeping a pair iff
    *     ANY matched prefix row passes 1 + min(...) ≥ α with
    *     α = ⌈num·S/(num+den)⌉, S = sz_a + sz_b, is exact.
    *
    * Survivors verify row-locally (sorted-array intersect); the
    * rounded Jaccard (6 places, matching every similarity threshold
    * in this library) gates the final filter. The rounded gate is not
    * a float boundary in disguise: round(i/u, 6) ≥ t can disagree
    * with the integer test i·den ≥ u·num only when 0 < t − i/u <
    * 5·10⁻⁷, and any i/u strictly below t = num/den satisfies
    * t − i/u = (num·u − den·i)/(den·u) ≥ 1/(den·u) — so disagreement
    * requires den·u > 2·10⁶ distinct tokens in the pair's union. For
    * every set under that size the rounded gate IS the integer gate,
    * and the candidate bounds above (derived for exact J ≥ num/den)
    * cannot prune a pair the final filter would keep. Token-EMPTY rows are
    * excluded up front: an empty set has Jaccard 0/0 — not 1 —
    * against anything. Returns (left_id, right_id, inter, union_sz,
    * jacc) with left < right by id. No cap, no approximation: the
    * result is the complete pair set, and at 100 TB the candidate
    * side is what the four bounds control (ScaleProbe: 13.2× for 10×
    * corpus; quadratic would be 100×) while the output side is the
    * query's semantics. For thresholds below ~0.9 on template-heavy
    * corpora the OUTPUT itself is near-quadratic — scope the input
    * (per source/shard) or use the banded-MinHash path instead.
    *
    * `stageKey`: registry/composition callers share the collapsed
    * core across consumers via SharedStage (see TextOps); library
    * callers can ignore it. */
  def setSimilarityJoin(docs: DataFrame, idCol: String, textCol: String,
      num: Int, den: Int, stageKey: Option[String] = None): DataFrame = {
    val (_, setPairs, members, reps) =
      setSimilarityCore(docs, idCol, textCol, num, den, stageKey)
    // intra-set pairs: identical sets, J = 1.0, cost == output size
    val intra = members.as("x")
      .join(members.as("y"), col("x.setid") === col("y.setid")
        && col(s"x.$idCol") < col(s"y.$idCol"))
      .join(reps.withColumnRenamed("setid", "rsid"),
        col("x.setid") === col("rsid"))
      .select(col(s"x.$idCol").as("left_id"),
        col(s"y.$idCol").as("right_id"),
        size(col("ta")).cast("long").as("inter"),
        size(col("ta")).cast("long").as("union_sz"),
        lit(1.0).as("jacc"))
    // cross-set pairs: every member combination of a qualifying set
    // pair shares the set-level (inter, union, jacc)
    val cross = setPairs
      .join(members.select(col("setid").as("sa"),
        col(idCol).as("da")), Seq("sa"))
      .join(members.select(col("setid").as("sb"),
        col(idCol).as("db")), Seq("sb"))
      .select(least(col("da"), col("db")).as("left_id"),
        greatest(col("da"), col("db")).as("right_id"),
        col("inter"), col("union_sz"), col("jacc"))
    intra.unionByName(cross)
  }

  /** Set-level core of `setSimilarityJoin` (bounds documented there).
    * Returns (cands: sa, sb — distinct set pairs surviving all bounds
    * BEFORE verify, the series ScaleProbe tracks; setPairs: sa, sb,
    * inter, union_sz, jacc; members: setid, idCol; reps: setid, ta).
    * When `stageKey` is set, the membership/representative/pair
    * frames go through SharedStage so multiple consumers in one
    * session derive ONE core; otherwise plain localCheckpoints. */
  private[graft] def setSimilarityCore(docs: DataFrame, idCol: String,
      textCol: String, num: Int, den: Int, stageKey: Option[String])
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    require(num > 0 && num <= den, s"threshold $num/$den not in (0, 1]")
    // The memo key carries EVERY parameter the staged frames depend on
    // (threshold num/den and both column names), not just the caller's
    // stageKey: setSimilarityJoin is public and exposes stageKey, so
    // two same-key calls with different thresholds must derive two
    // cores — a key of stageKey alone would silently hand the second
    // caller the first caller's materialization (r16 ADVICE, medium).
    def stage(part: String)(build: => DataFrame): DataFrame =
      stageKey match {
        case Some(k) => graft.operators.SharedStage(docs.sparkSession,
          s"simjoin:$k:$num/$den:$idCol:$textCol:$part")(build)
        case None => build.localCheckpoint()
      }
    // (id, setid) membership + one representative array per set.
    // "\n" separator is whitespace, so it can never appear inside a
    // token — the encoding is injective (md5 modulo the same
    // collision class every content-hash op here accepts).
    val arrs = stage("arrs") { // feeds reps, both expansions, intra
      docs.select(col(idCol),
          array_sort(array_distinct(tokens(col(textCol)))).as("ta"))
        .filter(size(col("ta")) > 0) // empty sets: see Scaladoc
        .withColumn("setid", md5(concat_ws("\n", col("ta"))))
    }
    val reps = stage("reps") { // self-joined below (must materialize)
      arrs.groupBy("setid")
        .agg(max("ta").as("ta")) // all ta in a set are identical
    }
    val tok = reps.select(col("setid"),
      explode(col("ta")).as("term"))
    val freq = tok.groupBy("term").agg(count(lit(1)).as("df"))
    val wD = Window.partitionBy("setid").orderBy(col("df"), col("term"))
    val prefix = tok.join(freq, "term")
      .withColumn("pos", row_number().over(wD))
      .withColumn("sz",
        count(lit(1)).over(Window.partitionBy("setid")))
      .filter(col("pos") <=
        col("sz") - expr(s"($num * sz) DIV $den") + 1L)
      .select(col("term"), col("setid"), col("sz"), col("pos"))
    val s2 = num + den // α = ⌈num·S/(num+den)⌉ = (num·S + s2−1) DIV s2
    val cands = prefix.as("a")
      .join(prefix.as("b"), col("a.term") === col("b.term")
        && col("a.setid") < col("b.setid")
        && col("a.sz") * den.toLong >= col("b.sz") * num.toLong
        && col("b.sz") * den.toLong >= col("a.sz") * num.toLong
        && (lit(1L) + least(col("a.sz") - col("a.pos"),
            col("b.sz") - col("b.pos")))
          >= expr(s"((a.sz + b.sz) * $num + ${s2 - 1}) DIV $s2"))
      .select(col("a.setid").as("sa"), col("b.setid").as("sb"))
      .distinct()
    val setPairsRaw = cands
      .join(reps.select(col("setid").as("sa"), col("ta").as("la")),
        Seq("sa"))
      .join(reps.select(col("setid").as("sb"), col("ta").as("ra")),
        Seq("sb"))
      // project the intersect ONCE; a fused select would evaluate
      // the array walk twice per candidate (inter and union_sz)
      .select(col("sa"), col("sb"),
        size(array_intersect(col("la"), col("ra"))).cast("long")
          .as("inter"),
        (size(col("la")) + size(col("ra"))).cast("long").as("szsum"))
      .select(col("sa"), col("sb"), col("inter"),
        (col("szsum") - col("inter")).as("union_sz"))
      .withColumn("jacc",
        round(col("inter").cast("double") / col("union_sz"), 6))
      .filter(col("jacc") >= num.toDouble / den)
    // The expensive stage (prefix join + verify); output is set-pair-
    // sized, so sharing its materialization is ~free storage. Only
    // staged when a key is given — ScaleProbe wants it lazy so the
    // candidate count and the timed expansion stay separable.
    val setPairs = stageKey.fold(setPairsRaw)(_ =>
      stage("pairs")(setPairsRaw))
    (cands, setPairs, arrs.select(col("setid"), col(idCol)), reps)
  }
}
