package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.expressions.TextExpressions.distinctShingles
import graft.expressions.VectorExpressions.vecDot
import graft.functions.TextFunctions._

/** Text-analysis + deduplication operators over `documents.parquet` — the
  * LLM-training-data half of the engine (north star: exact dedup,
  * MinHash-LSH and SimHash near-dedup, n-gram Jaccard, token counting,
  * quality scoring, language-ID, fingerprinting, multimodal feature stub).
  *
  * 100 TB posture: every operator is a scan → projection → (optional
  * groupBy on a content-derived key). Near-dup candidate generation is
  * band-bucketed (pairs only inside an LSH bucket, never all-pairs) and
  * SimHash uses an explode+groupBy that partial-aggregates map-side.
  */
object TextOps {

  /** Shared DuckDB CTE: whitespace tokens per doc (matches tokens()). */
  private[queries] val TokedCte =
    """toked AS (SELECT doc_id, list_filter(
      |  regexp_split_to_array(trim(text), '\s+'), t -> t != '') AS toks
      |  FROM documents)""".stripMargin

  /** Shared DuckDB CTE: word 3-gram shingles per doc (matches shingles()). */
  private val ShingledCte =
    """sh AS (SELECT doc_id,
      |  [array_to_string(toks[i:i+2], ' ')
      |   for i in range(1, greatest(len(toks) - 1, 1))] AS shingles
      |  FROM toked)""".stripMargin

  /** The duplicated-substring SPAN TABLE as a SharedStage core (r22):
    * dedup_substring_spans IS this table and txt_span_removal consumes
    * it as its removal input — the detector pass (gram windows, bucket
    * grouping, island runs; ~14 CPU-s at sf0.1) previously ran once
    * per consumer. In a real pipeline the detected spans are the
    * stored artifact the apply step reads (Lee et al. 2022 runs detect
    * and remove as separate jobs over a persisted span list) — the
    * bandIndex/pairTable discipline. One materialization per session,
    * attributed via core_builds; Verify sweeps between queries so the
    * correctness gate still derives it fresh per query. The key pins
    * the default (n, maxOcc, minRun) so a differently-parameterized
    * future caller can never be served this frame. */
  private def spansCore(s: SparkSession, d: String): DataFrame =
    graft.operators.SharedStage(s, s"substringSpans:$d:n=8:occ=8:run=2") {
      graft.api.GraftOps.substringSpans(Tables.documents(s, d),
          "doc_id", "text")
    }

  /** The documents table spread across the session's cores — ONLY for
    * consumers whose per-row scan work is the measured bottleneck (the
    * PII regex battery, the 64-column simhash fold): the harness
    * corpus is one single-row-group parquet file, so those projections
    * otherwise run on ONE task (Tables.spreadCpuDense rationale). Each
    * call site is individually A/B-measured (r21): txt_pii_scrub
    * 0.47→0.32 s and
    * dedup_simhash 0.97→0.79 s keep it; txt_quality / txt_lang_id /
    * txt_span_removal measured neutral-to-worse (their scan work is
    * too light to pay for the exchange) and were reverted to the raw
    * scan — a blanket spread was measured at +58 s across the registry,
    * so the default everywhere else stays unspread. */
  private def docsSpread(s: SparkSession, d: String): DataFrame =
    Tables.spreadCpuDense(s, Tables.documents(s, d), s"$d/documents.parquet")

  /** The samp_epoch_plan core (see its registry comment): per-source
    * token counts → target-weighted, 4×-capped epoch repeat factors.
    * Shared by the plan query and pipeline_train_manifest. */
  private def epochPlan(s: SparkSession, d: String): DataFrame = {
    val perSrc = Tables.documents(s, d)
      .groupBy("source")
      .agg(sum(size(tokens(col("text"))).cast("long")).as("n_tokens"))
      .withColumn("w", lit(1L) +
        pmod(regexp_extract(col("source"), "[0-9]+", 0).cast("long"),
          lit(5L)))
    val tot = perSrc.agg(sum("n_tokens").as("tot_tok"),
      sum("w").as("tot_w"))
    perSrc.crossJoin(broadcast(tot))
      .withColumn("epochs",
        least(round(lit(4.0) * col("tot_tok").cast("double")
          * col("w").cast("double")
          / (col("tot_w") * col("n_tokens")).cast("double"), 6),
          lit(4.0)))
      .withColumn("planned_tokens",
        floor(col("epochs") * col("n_tokens").cast("double") + 0.5)
          .cast("long"))
  }

  /** One `synth` payload per document id: the corpus every media
    * query decodes. */
  private def synthDocs(s: SparkSession, d: String)(
      synth: (DataFrame, String) => DataFrame): DataFrame =
    synth(Tables.documents(s, d).select(col("doc_id")), "doc_id")

  /** `pairs` (left_id, right_id) with `attrs`' columns attached to each
    * end: `left`/`right` map an `attrs` column to its name on that side,
    * and `id` is `attrs`' id column. */
  private def joinPairSides(pairs: DataFrame, attrs: DataFrame, id: String,
      left: Seq[(String, String)], right: Seq[(String, String)],
      joinType: String = "inner"): DataFrame = {
    def side(end: String, cols: Seq[(String, String)]) =
      attrs.select(col(id).as(end) +: cols.map { case (c, a) =>
        col(c).as(a) }: _*)
    pairs.join(side("left_id", left), Seq("left_id"), joinType)
      .join(side("right_id", right), Seq("right_id"), joinType)
  }

  /** Shared eval-harness derivation for ngram_jaccard/txt_containment:
    * one row per adjacent doc pair — (pair_id, sh_a, sh_b), the two
    * docs' DISTINCT 3-gram shingle sets (sh_a = doc pair_id, sh_b =
    * doc pair_id+1). Shingle sets come from the codegen'd window-lead
    * path + collect_set (only sizes/membership are used downstream, so
    * set order doesn't matter). Pairing is NOT a self-join: each doc's
    * set is exploded into its two pair roles and one groupBy(pair_id)
    * reassembles both sides — one tokenize pass, one shuffle (each set
    * shipped twice, the same bytes a join would move), no persist (the
    * round-2 version cached the shingle table to stop a self-join
    * recomputing it, and leaked the cache). Exactly one row exists per
    * (pair_id, role), so first(ignoreNulls) is deterministic here
    * despite its general ordering caveat. */
  /** Per-doc DISTINCT 3-gram shingle sets — (doc_id, sh) — via the
    * codegen'd window-lead path + collect_set; shingle-less docs get
    * an empty array, never a null. Shared by the pair-eval harnesses
    * and the dedup threshold sweep.
    *
    * Every consumer reads `sh` only through set-identity operations
    * (size of array_intersect/array_union), so the elements carry
    * xxhash64(shingle) LONGS, not the shingle strings: the r16 shuffle
    * audit measured these harnesses shipping ~20-byte gram strings
    * through the pair-role exchange where an 8-byte key decides the
    * same equalities — at 100 TB the gram exchange IS these queries'
    * cost. Collision risk is the standard 64-bit birthday bound
    * (~n²/2⁶⁵; ~1e-8 at a million distinct shingles), and the DuckDB
    * oracle computes the same sizes from the raw strings, so the
    * oracle gate doubles as a standing collision check. At true
    * 100 TB gram counts (~1e11 distinct shingles) the bound predicts
    * a few hundred colliding PAIRS corpus-wide — there the right
    * claim is bounded impact, not absence: a collision merges two
    * grams' identities, perturbing Jaccard by at most 1/|union| on
    * exactly the doc pairs whose sets contain both victims, noise far
    * below any similarity threshold in this library. Paths that claim
    * EXACTNESS (setid md5 collapse, dedup_exact's full-text hash
    * compare) never ride these 64-bit keys. The hash is
    * guarded by the lead-isNotNull `when` — Spark's hash functions
    * return the SEED for null input, not null, and an unguarded
    * xxhash64 would turn every doc's trailing null shingle into a
    * phantom set element. */
  private def docShingleSets(s: SparkSession, d: String): DataFrame = {
    val shRows = graft.api.GraftOps.wordGrams(Tables.documents(s, d),
      "doc_id", "text", 3, xxhash64(_))
    Tables.documents(s, d).select(col("doc_id"))
      .join(shRows.groupBy("doc_id")
        .agg(collect_set(col("gram")).as("sh0")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("sh0"), array().cast("array<bigint>")).as("sh"))
  }

  private def adjacentPairShingleSets(s: SparkSession, d: String)
      : DataFrame = {
    docShingleSets(s, d).select(col("sh"), explode(array(
        struct(col("doc_id").as("pair_id"), lit("L").as("role")),
        struct((col("doc_id") - 1).as("pair_id"), lit("R").as("role"))))
        .as("r"))
      .select(col("r.pair_id"), col("r.role"), col("sh"))
      .groupBy("pair_id").agg(
        first(when(col("role") === "L", col("sh")), ignoreNulls = true)
          .as("sh_a"),
        first(when(col("role") === "R", col("sh")), ignoreNulls = true)
          .as("sh_b"))
      .filter(col("sh_a").isNotNull && col("sh_b").isNotNull)
  }

  /** Shared Scala twin of the oracle's CleanGateCte: (gated, keep) —
    * quality/language-gated docs (with text) and the exact-dedup keep
    * set. clean = gated left-semi keep. One definition, three pipeline
    * consumers (clean_corpus, pretrain_corpus, dedup_report). */
  private def cleanGate(docs: DataFrame): (DataFrame, DataFrame) = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("long")
    val stops = stopwordHits(toks, LangProfiles.flatMap(_._2)).cast("long")
    val gated = docs.select(col("doc_id"), col("text"), col("source"),
        nTok.as("n_tokens"),
        when(nTok > 0, stops.cast("double") / nTok).otherwise(0.0)
          .as("stop_ratio"),
        langId(toks).as("lang_guess"))
      .filter(col("n_tokens") >= 20 && col("stop_ratio") >= 0.05 &&
        col("lang_guess") =!= "und")
    val keep = docs.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
    (gated, keep)
  }

  /** Half-up micro-quantization: `x` rounded to 6 places as exact
    * scaled longs, so sums of them are partition-order exact. */
  private def micro(x: Column): Column =
    (round(x, 6) * 1000000.0 + 0.5).cast("long")

  /** The unigram-LM chain: per doc (doc_id, n_tokens, snll), snll the
    * sum of micro-quantized −ln p(token) under exact corpus counts. */
  private def unigramNll(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val cnt = tok.groupBy("term").agg(count(lit(1)).as("cnt"))
    val tot = cnt.agg(sum("cnt").cast("long").as("total"))
    tok.join(cnt, "term").crossJoin(broadcast(tot))
      .withColumn("nll",
        micro(-log(col("cnt").cast("double") / col("total").cast("double"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("nll").as("snll"))
  }

  /** The frozen train/val/test split: an id-only md5 bucket in [0, 100)
    * and its 80/10/10 name. */
  private def splitBucket(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 4), 16, 10).cast("long") % 100

  private def splitName(bucket: Column): Column =
    when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")

  /** Code-vs-prose features per doc: chars, symbols, indented lines,
    * language-keyword hits and the symbol ratio. */
  private def codeFeatures(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        regexp_count(col("text"), lit("[{}();=<>]")).cast("long")
          .as("n_sym"),
        regexp_count(col("text"), lit("(?m)^(    |\\t)")).cast("long")
          .as("n_indent"),
        regexp_count(lower(col("text")),
          lit("\\b(def|class|return|import|function|var|const)\\b"))
          .cast("long").as("n_kw"))
      .withColumn("sym_ratio",
        when(col("n_chars") > 0L,
          round(col("n_sym").cast("double") / col("n_chars"), 6))
          .otherwise(lit(0.0)))

  /** The 1-in-20 decontamination split: (train, flagged) — the training
    * slice (doc_id % 20 != 0) and its docs sharing a word 8-gram with
    * the held-out slice (doc_id % 20 == 0) standing in for the eval
    * benchmark. */
  private def heldOutContamination(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, d)
    val train = docs.filter(col("doc_id") % 20 =!= 0)
    (train, graft.api.GraftOps.decontaminate(train,
      docs.filter(col("doc_id") % 20 === 0), "doc_id", "text", n = 8))
  }

  private def bandTable(s: SparkSession, d: String): DataFrame =
    graft.api.GraftOps.minhashBands(Tables.documents(s, d), "doc_id", "text")

  /** The STORED MinHash band index — the stored-state emulation shared
    * by `idx_band_upsert` (the index WRITE path) and
    * `dedup_incremental` (the index READ path). Both registrations
    * declare the same bands table a stored artifact their query
    * probes/maintains, and both previously materialized it privately
    * (identical builds, one localCheckpoint each); in a live session
    * the index is one materialization (LPA-core discipline — r14
    * VERDICT item 4's shape). Verify still sweeps between queries, so
    * correctness runs derive it per query; Bench attributes the one
    * cold build via core_builds. Queries that DECORATE the band table
    * before materializing (the horizon gates' window counts) keep
    * their own builds — only the identical raw index is shared. */
  private def bandIndex(s: SparkSession, d: String): DataFrame =
    graft.operators.SharedStage(s, s"bandIndex:$d")(bandTable(s, d))

  /** The STORED LSH candidate-pair table — derived FROM the stored
    * band index (one more link in the bandIndex discipline's chain:
    * corpus → stored bands → stored pairs). ELEVEN registered queries
    * consume the identical full-corpus pair set (the minhash pair
    * list, both CC variants, edit-verify, soft weights, threshold
    * sweep, split leakage, keep-best, triangles, BFS); until r17 each
    * derived it privately, so every one of them re-paid band
    * generation + bucket pair emission — in deployment that table is
    * a READ of incrementally-maintained state (`idx_band_upsert`
    * writes the band side; pair emission from a bounded ingest batch
    * is the delta path). One SharedStage build per session; Bench
    * attributes the cold build via core_builds/core_build_cost_s,
    * and Verify's sweep keeps correctness runs fully independent.
    * Output is bit-identical to `minhashCandidatePairs(docs, ...)`
    * by construction (same composition, same default bucket cap). */
  private def pairTable(s: SparkSession, d: String): DataFrame =
    graft.operators.SharedStage(s, s"pairTable:$d") {
      graft.api.GraftOps.candidatePairsFromBands(bandIndex(s, d), "doc_id")
    }

  /** Shared core of mm_video_keep_best / pipeline_video_retention:
    * one demux pass → per-bucket STAR edges (salted under the 4096
    * cap) → fixpoint CC → argmax-frames retention flag per cluster.
    * See mm_video_keep_best's registration comment for the full
    * design rationale. */
  /** Shared audio energy-signature table over the family-structured
    * WAV corpus: per media, the two always-full prefix-window sums
    * (s0, s1), their quantized signature, and the TOTAL decoded frame
    * count (the keep-best quality proxy — derived from the decoded
    * windows, not the id arithmetic, so a demux bug breaks the gate).
    * A SharedStage: mm_audio_dedup and mm_audio_keep_best both
    * consume it. */
  private def audioSigTable(s: SparkSession, d: String): DataFrame =
    graft.operators.SharedStage(s, s"audioSig:$d") {
      graft.multimodal.Multimodal.extractAudioEnergy(
          synthDocs(s, d)(graft.multimodal.Multimodal.synthWavFamilies),
          windowFrames = 50)
        .groupBy("media_id")
        .agg(
          max(when(col("window_idx") === 0, col("abs_sum"))).as("s0"),
          max(when(col("window_idx") === 1, col("abs_sum"))).as("s1"),
          max(when(col("window_idx") === 0, col("n_frames"))).as("n0"),
          max(when(col("window_idx") === 1, col("n_frames"))).as("n1"),
          sum(col("n_frames")).as("nf_total"))
        .withColumn("sig", concat_ws(":",
          expr("s0 DIV (n0 * 64)"), expr("s1 DIV (n1 * 64)")))
    }

  /** Shared aHash table over the family-structured PNG corpus —
    * one synthesis + decode feeding mm_image_dedup (checkpointed:
    * both cappedKeyPairCounts sides and two hash re-joins read it). */
  private def imageAHashTable(s: SparkSession, d: String): DataFrame =
    graft.multimodal.Multimodal.extractAHash(
      synthDocs(s, d)(graft.multimodal.Multimodal.synthPngFamilies))
      .localCheckpoint()

  /** Image near-dup candidates scored: aHash (media_id, ahash) rows →
    * 4×16-bit band keys → capped in-bucket pairs (left_id, right_id,
    * n_shared) with both hashes and their exact Hamming distance. */
  private def imageBandPairs(ah: DataFrame): DataFrame = {
    val bands = ah.select(col("media_id"),
      posexplode(array((0 to 3).map(b =>
        substring(col("ahash"), b * 16 + 1, 16)): _*))
        .as(Seq("band_idx", "band_val")))
    joinPairSides(graft.api.GraftOps.cappedKeyPairCounts(
        bands.select(
          concat_ws(":", col("band_idx"), col("band_val")).as("bkey"),
          col("media_id")),
        "bkey", "media_id"),
      ah, "media_id", Seq("ahash" -> "a_hash"), Seq("ahash" -> "b_hash"))
      .withColumn("hamming",
        expr("CAST(size(filter(zip_with(split(a_hash, ''), " +
          "split(b_hash, ''), (x, y) -> x != y), p -> p)) AS BIGINT)"))
  }

  /** The image keep-best core (see mm_image_keep_best's registry
    * comment): band candidates → Hamming ≤ 3 → fixpoint CC → keep the
    * highest pixel count. A SharedStage: mm_image_keep_best and
    * pipeline_media_retention both consume it. */
  private def imageKeepBest(s: SparkSession, d: String): DataFrame =
    graft.operators.SharedStage(s, s"imageKeepBest:$d") {
      val media = synthDocs(s, d)(
        graft.multimodal.Multimodal.synthPngFamilies).localCheckpoint()
      val ah = graft.multimodal.Multimodal.extractAHash(media)
        .localCheckpoint()
      val px = graft.multimodal.Multimodal.extractFeatures(media)
        .select(col("media_id"),
          (col("width") * col("height")).cast("long").as("pixels"))
      val dup = imageBandPairs(ah).filter(col("hamming") <= 3)
        .select("left_id", "right_id")
      keepBest(graft.api.GraftOps.connectedComponentsFixpoint(
        ah.select(col("media_id")), "media_id", dup,
        "left_id", "right_id")._1, px, "media_id", "pixels")
    }

  /** The hashed-feature linear classifier core (see
    * txt_classifier_score's registry comment): md5-bucket hashing
    * trick → frozen integer milli-weights → exact micro-quantized
    * margin. A SharedStage: the registry entry and
    * pipeline_pair_curation both consume it. */
  private def classifierScore(s: SparkSession, d: String): DataFrame =
    graft.operators.SharedStage(s, s"classifierScore:$d") {
      // ROW-LOCAL form (TextFunctions.classifierMarginMicro): one
      // aggregate over the token array per row — ZERO shuffle, where
      // the explode/groupBy formulation pays a (map-side-combined)
      // exchange. Bit-identical sums either way.
      Tables.documents(s, d)
        .select(col("doc_id"), tokenCount(col("text")).cast("long")
          .as("n_tokens"),
          classifierMarginMicro(col("text")).as("mm"))
        .filter(col("n_tokens") > 0)
        .select(col("doc_id"), col("n_tokens"),
          (col("mm").cast("double") / 1000000.0).as("margin"))
        .withColumn("keep", col("margin") > 0)
    }

  /** The image–text pair gate core (see mm_clip_filter's registry
    * comment): real PNG decode → mean-centered band sums vs the first
    * 8 embedding dims, cosine threshold. A SharedStage: the registry
    * entry and pipeline_pair_curation both consume it. */
  private def clipGate(s: SparkSession, d: String): DataFrame =
    graft.operators.SharedStage(s, s"clipGate:$d") {
      val img = graft.multimodal.Multimodal.extractBandSums(
        synthDocs(s, d)(graft.multimodal.Multimodal.synthPngPattern))
      val ic = img
        .withColumn("tot",
          aggregate(col("bsums"), lit(0L), (a, x) => a + x))
        .select(col("media_id").as("doc_id"),
          transform(col("bsums"),
            x => x.cast("double") - col("tot").cast("double") / 8.0)
            .as("c"))
      val tv = Tables.embeddings(s, d).select(col("vec_id"),
        transform(slice(col("embedding"), 1, 8), x => x.cast("double"))
          .as("t"))
      ic.join(tv, col("doc_id") === col("vec_id"))
        .select(col("doc_id"), vecDot(col("c"), col("t")).as("dp"),
          sqrt(vecDot(col("c"), col("c"))).as("ni"),
          sqrt(vecDot(col("t"), col("t"))).as("nt"))
        .select(col("doc_id"),
          round(when(col("ni") > 0 && col("nt") > 0,
            col("dp") / (col("ni") * col("nt"))).otherwise(0.0), 6)
            .as("clip_score"))
        .withColumn("keep", col("clip_score") > 0)
    }

  /** The video scene-segmentation core (see mm_scene_cuts' registry
    * comment): demux → content hash → boundary = hash change. A
    * SharedStage: the registry entry and pipeline_segmentation_report
    * both consume it. */
  private def sceneCuts(s: SparkSession, d: String): DataFrame =
    graft.operators.SharedStage(s, s"sceneCuts:$d") {
      import org.apache.spark.sql.expressions.Window
      val fh = graft.multimodal.Multimodal.extractFrameHashes(
        synthDocs(s, d)(graft.multimodal.Multimodal.synthMp4Scenes))
      val w = Window.partitionBy("media_id").orderBy("sample_idx")
      fh.withColumn("prev", lag(col("fhash"), 1).over(w))
        .withColumn("is_scene_start",
          col("prev").isNull || col("prev") =!= col("fhash"))
        .withColumn("scene_id",
          (sum(when(col("is_scene_start"), 1L).otherwise(0L)).over(w)
            - 1L).cast("long"))
        .select(col("media_id"), col("sample_idx").as("frame_idx"),
          col("scene_id"), col("is_scene_start"))
    }

  /** The voice-activity segmentation core (see mm_audio_segments'
    * registry comment): decode → windowed energy → voiced-run
    * numbering. A SharedStage beside its video sibling. */
  private def audioSegments(s: SparkSession, d: String): DataFrame =
    graft.operators.SharedStage(s, s"audioSegments:$d") {
      import org.apache.spark.sql.expressions.Window
      val en = graft.multimodal.Multimodal.extractAudioEnergy(
        synthDocs(s, d)(graft.multimodal.Multimodal.synthWavSegments),
        windowFrames = 50)
      val w = Window.partitionBy("media_id").orderBy("window_idx")
      en.withColumn("is_silent", col("abs_sum") === 0L)
        .withColumn("starts",
          (!col("is_silent") &&
            coalesce(lag(col("abs_sum") === 0L, 1).over(w), lit(true)))
            .cast("long"))
        .withColumn("segment_id",
          when(!col("is_silent"),
            sum(col("starts")).over(w) - 1L))
        .select(col("media_id"), col("window_idx"), col("is_silent"),
          col("segment_id").cast("long").as("segment_id"))
    }

  /** Audio near-dup candidates: capped in-bucket pairs of equal `sig`
    * with both sides' prefix-window sums (l0, l1) and (r0, r1). */
  private def audioSigPairs(sg: DataFrame): DataFrame =
    joinPairSides(graft.api.GraftOps.cappedKeyPairCounts(
        sg.select(col("sig"), col("media_id")), "sig", "media_id"),
      sg, "media_id", Seq("s0" -> "l0", "s1" -> "l1"),
      Seq("s0" -> "r0", "s1" -> "r1"))

  /** The audio keep-best core (see mm_audio_keep_best's registry
    * comment): exact-prefix dup edges → fixpoint CC → keep the
    * longest cut. A SharedStage like its image/video siblings. */
  private def audioKeepBest(s: SparkSession, d: String): DataFrame =
    graft.operators.SharedStage(s, s"audioKeepBest:$d") {
      val sg = audioSigTable(s, d)
      val dup = audioSigPairs(sg)
        .filter(col("l0") === col("r0") && col("l1") === col("r1"))
        .select("left_id", "right_id")
      keepBest(graft.api.GraftOps.connectedComponentsFixpoint(
          sg.select(col("media_id")), "media_id", dup,
          "left_id", "right_id")._1,
        sg.select(col("media_id"), col("nf_total")), "media_id", "nf_total")
    }

  /** DuckDB replay of synthWavFamilies' signature chain (seed →
    * samples → window sums → quantized sig) ending in `sg` —
    * shared by the mm_audio_dedup and mm_audio_keep_best oracles. */
  private val AudioSigCte =
    """p AS (SELECT doc_id AS media_id, doc_id // 4 AS fam
      |  FROM documents),
      |sd AS (SELECT media_id,
      |   (strpos('0123456789abcdef',
      |      substr(md5(CAST(fam AS VARCHAR)), 1, 1)) - 1) * 4096
      | + (strpos('0123456789abcdef',
      |      substr(md5(CAST(fam AS VARCHAR)), 2, 1)) - 1) * 256
      | + (strpos('0123456789abcdef',
      |      substr(md5(CAST(fam AS VARCHAR)), 3, 1)) - 1) * 16
      | + (strpos('0123456789abcdef',
      |      substr(md5(CAST(fam AS VARCHAR)), 4, 1)) - 1) AS seed16
      |  FROM p),
      |st AS (SELECT media_id, 31 + 2 * (seed16 // 256) AS step,
      |    seed16 % 256 AS base FROM sd),
      |smp AS (SELECT media_id, kk.k,
      |    (2*kk.k*step + base) % 256
      |      + 256 * (((2*kk.k + 1)*step + base) % 256) AS raw
      |  FROM st, LATERAL (SELECT unnest(range(0, 100)) AS k) kk),
      |wn AS (SELECT media_id, k // 50 AS w,
      |    abs(CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END)
      |      AS a
      |  FROM smp),
      |sums AS (SELECT media_id,
      |    CAST(sum(CASE WHEN w = 0 THEN a ELSE 0 END) AS BIGINT)
      |      AS s0,
      |    CAST(sum(CASE WHEN w = 1 THEN a ELSE 0 END) AS BIGINT)
      |      AS s1
      |  FROM wn GROUP BY media_id),
      |sg AS (SELECT media_id, s0, s1,
      |    CAST(s0 // (50*64) AS VARCHAR) || ':' ||
      |      CAST(s1 // (50*64) AS VARCHAR) AS sig
      |  FROM sums)""".stripMargin

  /** DuckDB replay of synthPngFamilies' closed-form aHash (see the
    * generator's Scaladoc: block-constant pixels make bit_j =
    * v_j·64 > Σv exact and resolution-independent) down to the band
    * candidate table — shared by both image-dedup oracles. */
  private val ImageAHashCte =
    """fams AS (SELECT doc_id AS media_id, doc_id // 4 AS fam,
      |    doc_id % 4 AS pert FROM documents),
      |vals AS (SELECT media_id,
      |  [CASE WHEN j < pert THEN 255
      |        WHEN j < 3 THEN 0
      |        WHEN j = 63 THEN 64
      |        WHEN (CASE WHEN (j-3) % 2 = 0
      |            THEN (strpos('0123456789abcdef',
      |              substr(md5(CAST(fam AS VARCHAR)), (j-3)//2 + 1, 1))
      |              - 1) % 2
      |            ELSE ((strpos('0123456789abcdef',
      |              substr(md5(CAST(fam AS VARCHAR)), (j-3)//2 + 1, 1))
      |              - 1) // 2) % 2 END) = 0
      |          THEN 64
      |        ELSE 192 END
      |   FOR j IN range(64)] AS v
      |  FROM fams),
      |iah AS (SELECT media_id,
      |  array_to_string([CASE WHEN x*64 > list_sum(v)
      |    THEN '1' ELSE '0' END FOR x IN v], '') AS ahash
      |  FROM vals),
      |ib AS (SELECT media_id, unnest([0,1,2,3]) AS band_idx, ahash
      |  FROM iah),
      |ibands AS (SELECT media_id, band_idx,
      |  substr(ahash, band_idx*16 + 1, 16) AS band_val FROM ib),
      |icand AS (SELECT a.media_id AS left_id, b.media_id AS right_id,
      |    CAST(count(*) AS BIGINT) AS n_bands_shared
      |  FROM ibands a JOIN ibands b ON a.band_idx = b.band_idx
      |    AND a.band_val = b.band_val AND a.media_id < b.media_id
      |  GROUP BY 1, 2)""".stripMargin

  /** The frame-hash table — ONE real MP4 demux pass (full
    * stsz/stsc/stco sample-table walk + md5 over each sample's actual
    * bytes) — is itself a SHARED STAGE (r19 VERDICT item 3): it was
    * the most expensive per-query stage in the registry (the demux
    * dominates mm_frame_dedup's 4.08 s pin), and THREE consumers need
    * exactly this table — mm_frame_dedup's scored pairs, and the
    * keep-best/retention pair via [[videoKeepBest]] (which chains its
    * own core off this one, the pairTable-off-bandIndex discipline).
    * SharedStage's eager localCheckpoint IS the localCheckpoint each
    * consumer previously took privately, so plans and oracle hashes
    * are unchanged; a long-lived session now demuxes once. */
  private def frameHashCore(s: SparkSession, d: String): DataFrame =
    graft.operators.SharedStage(s, s"frameHashes:$d") {
      graft.multimodal.Multimodal.extractFrameHashes(
        synthDocs(s, d)(
          graft.multimodal.Multimodal.synthMp4FramesShared(_, _, 5)))
    }

  /** Star edges of the video keep-best chain over (media_id, fhash)
    * frame rows: every media links to the smallest media_id of its
    * content-hash bucket (left_id -> right_id = hub), so CC needs
    * |bucket| edges instead of |bucket|². Buckets over 4096 rows are
    * salt-split by a media_id hash, one hub per sub-bucket. */
  private[graft] def starEdges(frames: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.api.GraftOps.bucketSalt(frames, Seq("fhash"), "media_id")
      .withColumn("hub", min(col("media_id"))
        .over(Window.partitionBy("fhash", "__sub")))
      .filter(col("media_id") =!= col("hub"))
      .select(col("media_id").as("left_id"), col("hub").as("right_id"))
      .distinct()
  }

  /** The dedup_first_in_horizon gate: the doc_ids that share a minhash
    * band with an earlier doc at most 30 ids back. The band self-join
    * is salted under the 4096 bucket cap; see the query's comment. */
  private[graft] def horizonHits(docs: DataFrame): DataFrame = {
    val bands = graft.api.GraftOps.bucketSalt(
        graft.api.GraftOps.minhashBands(docs, "doc_id", "text"),
        Seq("band_idx", "band_hash"), "doc_id")
      .localCheckpoint()
    val idx = bands.select(col("doc_id").as("i_doc"),
      col("band_idx"), col("band_hash"), col("__sub"))
    bands
      .join(idx, Seq("band_idx", "band_hash", "__sub"))
      .filter(col("i_doc") < col("doc_id") &&
        col("i_doc") >= col("doc_id") - 30)
      .select("doc_id").distinct()
  }

  /** The video keep-best core is a SHARED STAGE (r13 VERDICT item 8):
    * mm_video_keep_best and pipeline_video_retention both consume this
    * table, and under the one-query-one-plan registry contract each
    * would otherwise re-derive the demux → star → CC chain. In a
    * long-lived session the second consumer now reads the first's
    * materialization; under the sweeping harnesses (Bench/Verify drop
    * all persistent RDDs between queries) the liveness check rebuilds
    * — numbers stay honest, hashes unchanged. */
  private def videoKeepBest(s: SparkSession, d: String): DataFrame =
    graft.operators.SharedStage(s, s"videoKeepBest:$d") {
    val frames = frameHashCore(s, d)
    val nf = frames.groupBy("media_id")
      .agg(count(lit(1)).as("nf"))
    keepBest(graft.api.GraftOps.connectedComponentsFixpoint(
      nf.select(col("media_id")), "media_id", starEdges(frames),
      "left_id", "right_id")._1, nf, "media_id", "nf")
  }

  /** Keep-best retention over a cluster map (id, cluster_id): joins the
    * per-id `qualityCol` from `quality` and flags the best member of
    * each cluster — highest quality, smallest id on ties — as
    * (id, cluster_id, quality, keep). */
  private def keepBest(cc: DataFrame, quality: DataFrame, idCol: String,
      qualityCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("cluster_id")
      .orderBy(col(qualityCol).desc, col(idCol))
    cc.join(quality, Seq(idCol))
      .withColumn("rnk", row_number().over(w))
      .select(col(idCol), col("cluster_id"), col(qualityCol),
        (col("rnk") === 1).as("keep"))
  }

  /** The near-dup cluster map (doc_id, cluster_id): bounded 2-round
    * min-label CC over the shared LSH pair table. A plain def, so each
    * consumer plans it inline (no materialization of its own). */
  private def nearDupClusters(s: SparkSession, d: String): DataFrame =
    graft.api.GraftOps.connectedComponents(
      Tables.documents(s, d).select(col("doc_id")), "doc_id",
      pairTable(s, d), "left_id", "right_id", rounds = 2)

  /** Shared DuckDB CTEs reproducing signatures/bandTable. */
  private val SigCte =
    s"""$TokedCte, $ShingledCte,
       |ex AS (SELECT doc_id, unnest(shingles) AS sgl FROM sh),
       |m AS (SELECT doc_id, md5(sgl) AS m1, md5('8:' || sgl) AS m2 FROM ex),
       |rawsig AS (SELECT doc_id,
       |  min(substr(m1, 1, 8)) AS h0, min(substr(m1, 9, 8)) AS h1,
       |  min(substr(m1, 17, 8)) AS h2, min(substr(m1, 25, 8)) AS h3,
       |  min(substr(m2, 1, 8)) AS h4, min(substr(m2, 9, 8)) AS h5,
       |  min(substr(m2, 17, 8)) AS h6, min(substr(m2, 25, 8)) AS h7
       |  FROM m GROUP BY doc_id),
       |sig AS (SELECT d.doc_id,
       |  coalesce(h0, substr(md5(''), 1, 8)) AS h0,
       |  coalesce(h1, substr(md5(''), 9, 8)) AS h1,
       |  coalesce(h2, substr(md5(''), 17, 8)) AS h2,
       |  coalesce(h3, substr(md5(''), 25, 8)) AS h3,
       |  coalesce(h4, substr(md5('8:'), 1, 8)) AS h4,
       |  coalesce(h5, substr(md5('8:'), 9, 8)) AS h5,
       |  coalesce(h6, substr(md5('8:'), 17, 8)) AS h6,
       |  coalesce(h7, substr(md5('8:'), 25, 8)) AS h7
       |  FROM documents d LEFT JOIN rawsig ON d.doc_id = rawsig.doc_id),
       |bt AS (SELECT doc_id, unnest([0,1,2,3]) AS band_idx,
       |  h0, h1, h2, h3, h4, h5, h6, h7 FROM sig),
       |bands AS (SELECT doc_id, band_idx,
       |  md5(CASE band_idx WHEN 0 THEN h0 || '|' || h1
       |    WHEN 1 THEN h2 || '|' || h3 WHEN 2 THEN h4 || '|' || h5
       |    ELSE h6 || '|' || h7 END) AS band_hash FROM bt)""".stripMargin

  /** Set-level core of the GLOBAL exact-threshold PPJoin at Jaccard
    * >= 0.95 (= 19/20): delegates to the library operator
    * `GraftOps.setSimilarityCore` — exact-set collapse, rare-token
    * prefix, length, and positional bounds all in integer arithmetic;
    * token-empty docs excluded (see its Scaladoc for the proofs and
    * the 100 TB posture). On this corpus the collapse is decisive: a
    * 248-doc boilerplate clique floods the doc-level prefix buckets
    * with ~30k×3 candidate rows (measured: 5.26M raw / 2.22M distinct
    * candidates for 191k output pairs at sf0.1) but is ONE set row.
    * `dedup_ppjoin_g` expands setPairs to doc pairs (no cap —
    * output-sized by definition; the >=0.9 unscoped pair set stays
    * output-quadratic even collapsed, which is why dedup_ppjoin ships
    * source-scoped); `dedup_ppjoin_sets` reports set level.
    *
    * `stageKey` (registry callers pass the sf dir): both consumers
    * derive ONE SharedStage-materialized core per session instead of
    * each paying the ~10 s prefix+verify at sf0.1 (LPA-core
    * discipline; Verify still sweeps between queries, Bench
    * attributes the cold build via core_builds). None (ScaleProbe)
    * keeps plain localCheckpoints so candidate counts and the timed
    * expansion stay separable. */
  private[graft] def ppjoinGlobalCore(docs: DataFrame,
      stageKey: Option[String] = None)
      : (DataFrame, DataFrame, DataFrame, DataFrame) =
    graft.api.GraftOps.setSimilarityCore(
      docs, "doc_id", "text", 19, 20, stageKey)

  /** Doc-pair expansion of `ppjoinGlobalCore` — the `dedup_ppjoin_g`
    * body (`GraftOps.setSimilarityJoin` at 19/20). */
  private[graft] def ppjoinGlobalPairs(docs: DataFrame,
      stageKey: Option[String] = None): DataFrame =
    graft.api.GraftOps.setSimilarityJoin(
      docs, "doc_id", "text", 19, 20, stageKey)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Token counting (whitespace + subword-boundary BPE-ish approximation).
    "txt_token_stats" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        tokenCount(col("text")).cast("long").as("n_tokens"),
        subwordCount(col("text")).cast("long").as("n_subwords"),
        punctCount(col("text")).cast("long").as("punct_cnt"))),

    // Quality scoring: stopword / punctuation / mean-token-length features.
    "txt_quality" -> ((s, d) =>
      graft.api.GraftOps.qualityFeatures(Tables.documents(s, d),
          "doc_id", "text")),

    // Heuristic language-ID: argmax of per-language stopword evidence.
    "txt_lang_id" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        graft.api.GraftOps.languageOf(col("text")).as("lang_guess"))),

    // READABILITY (Flesch reading ease) — the classic fluency feature a
    // curation stack keeps next to the heuristic quality gates: vowel
    // GROUPS proxy syllables, [.!?]+ runs proxy sentences (min 1), and
    // the canonical 206.835 − 1.015·w/s − 84.6·syl/w formula evaluates
    // in one fixed-order double expression. Pure per-row projection —
    // codegen'd regexp_count, zero shuffle.
    "txt_readability" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_words"),
          greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1))
            .cast("long").as("n_sentences"),
          regexp_count(lower(col("text")), lit("[aeiouy]+"))
            .cast("long").as("n_syllables"))
        .withColumn("flesch",
          when(col("n_words") > 0L,
            round(lit(206.835)
              - lit(1.015) * (col("n_words").cast("double")
                / col("n_sentences"))
              - lit(84.6) * (col("n_syllables").cast("double")
                / col("n_words")), 6)))),

    // CODE-vs-PROSE detection — the curation split every mixed crawl
    // runs before routing text to a code or prose pipeline: symbol
    // density, indented-line count, and language-keyword hits, with the
    // standard threshold OR as the verdict. Per-row regexp_count
    // projections, no shuffle; thresholds are explicit so downstream
    // can re-cut without recomputing features.
    "txt_code_detect" -> ((s, d) =>
      codeFeatures(Tables.documents(s, d))
        .withColumn("is_code",
          col("sym_ratio") > 0.05 || col("n_kw") >= 3L)),

    // CODE-CORPUS ROUTING — the composed admission pipeline for a mixed
    // crawl: exact dedup first (first-occurrence wins), then the
    // code-vs-prose split routes survivors to their training stream.
    // Routes are explicit strings so downstream jobs filter on one
    // column; the plan is the dedup hash-groupBy + left join plus the
    // per-row detection projections — nothing corpus-squared.
    "pipeline_code_routing" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val kept = graft.api.GraftOps.dedupExact(docs, "doc_id", "text")
        .select(col("doc_id")).withColumn("kept", lit(true))
      codeFeatures(docs)
        .join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(coalesce(col("kept"), lit(false)) === false, "drop_dup")
            .when(col("sym_ratio") > 0.05 || col("n_kw") >= 3L, "code")
            .otherwise("prose").as("route"))
    }),

    // Text normalization: lowercase, strip punctuation, collapse
    // whitespace — the canonical pre-dedup cleanup transform.
    "txt_normalize" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        trim(regexp_replace(
          regexp_replace(lower(col("text")), "[.,!?;:]", ""),
          "\\s+", " ")).as("norm_text"))),

    // HTML stripping — the first transform every web-crawl corpus runs
    // (trafilatura-lite): drop script/style blocks wholesale ((?s)
    // dotall + non-greedy, both in the Java∩RE2 subset), strip the
    // remaining tags, decode the common entities, collapse whitespace.
    // The corpus carries no HTML, so a deterministic HTML wrapper is
    // built from each doc the same way on both engines — the tested
    // surface is the strip/decode pipeline itself, one shuffle-free
    // projection. n_tags counts on the wrapped input for auditability.
    "txt_html_strip" -> ((s, d) => {
      val html = concat(lit("<html><body><h1>Doc "),
        col("doc_id").cast("string"),
        lit("</h1><p class=\"body\">"), col("text"),
        lit(" &amp; more &lt;here&gt;</p><script>var x=1;</script>"),
        lit("<style>p{color:red}</style></body></html>"))
      Tables.documents(s, d).select(col("doc_id"),
        trim(regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(html,
                        "(?s)<script.*?</script>", " "),
                      "(?s)<style.*?</style>", " "),
                    "<[^>]+>", " "),
                  "&amp;", "&"),
                "&lt;", "<"),
              "&gt;", ">"),
            "&quot;", "\""),
          "\\s+", " ")).as("clean_text"),
        size(regexp_extract_all(html, lit("<[^>]+>"), lit(0)))
          .cast("long").as("n_tags"))
    }),

    // PII scrubbing (the privacy-redaction pass every training corpus
    // runs before release): phone/email/IPv4 patterns → typed
    // placeholders, plus per-doc match counts — one projection, no
    // shuffle, trivially partition-parallel at 100 TB. The synthetic
    // corpus carries no PII, so deterministic PII-SHAPED tokens are
    // appended from doc_id with the identical construction on both
    // engines; the tested surface is the regex semantics, the
    // replacement order (phone → email → IP, counts on the raw blob),
    // and the placeholder splice. Patterns stay inside the Java∩RE2
    // common subset (no lookaround, no backrefs) so Spark and DuckDB
    // match identically.
    "txt_pii_scrub" -> ((s, d) =>
      graft.api.GraftOps.scrubPii(
        docsSpread(s, d)
          .select(col("doc_id"),
            concat(col("text"),
              lit(" contact user"), col("doc_id").cast("string"),
              lit("@mail.example.com tel 55-555-"),
              (pmod(col("doc_id"), lit(900L)) + 100L).cast("string"),
              lit("-"),
              (pmod(col("doc_id"), lit(9000L)) + 1000L).cast("string"),
              lit(" host 10.0."),
              pmod(col("doc_id"), lit(256L)).cast("string"),
              lit(".7")).as("blob")),
        "doc_id", "blob")),

    // Winnowing fingerprints (rolling-hash document fingerprinting, the
    // MOSS scheme): hash every word 3-gram, slide a window of 4 hashes,
    // keep each window's minimum, emit the distinct minima per doc. The
    // fingerprint set is robust to local edits — overlapping docs share
    // most minima. All codegen: posexplode + lead-shingles + frame-min.
    "txt_winnow_fp" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val wFrame = Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.currentRow, 3)
      graft.api.GraftOps.wordGrams(Tables.documents(s, d),
          "doc_id", "text", 3)
        .withColumn("h", substring(md5(col("gram")), 1, 8))
        .withColumn("wmin", min(col("h")).over(wFrame))
        .filter(col("wmin").isNotNull)
        .select(col("doc_id"), col("wmin").as("fp"))
        .distinct()
    }),

    // Content fingerprint: md5 over normalized text.
    "txt_fingerprint" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"), fingerprint(col("text")).as("fp"))),

    // Exact dedup: hash-groupBy; keep the min doc_id per content hash.
    // At 100 TB this is one shuffle on a 32-hex key with map-side combine.
    "dedup_exact" -> ((s, d) =>
      Tables.documents(s, d).groupBy(md5(col("text")).as("content_hash"))
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("n_copies"))),

    // MinHash-LSH banding table: 8 hashes → 4 bands of 2 rows. The join
    // key for candidate generation — bucket sizes stay tiny because a
    // band collision already implies high similarity.
    "dedup_minhash_bands" -> ((s, d) => bandTable(s, d)),

    // The ROW-LOCAL band formulation (GraftOps.rowLocalBands — pure
    // projections, no explode/window/groupBy) against the SAME oracle
    // as dedup_minhash_bands: pins bit-equality of the two minhash
    // implementations under DuckDB. This is the form a streaming
    // micro-batch runs (EventStream.nearDupGateStream) — streams can't
    // execute the batch pipeline's window/agg stages — so its parity
    // with the stored corpus index is exactly what makes the streaming
    // ingest gate's probes meaningful.
    "dedup_bands_rowlocal" -> ((s, d) =>
      graft.api.GraftOps.rowLocalBands(Tables.documents(s, d),
          "doc_id", "text")),

    // MinHash-LSH candidate pairs, generated BUCKET-LOCALLY: group by
    // (band_idx, band_hash), collect the tiny member list, emit sorted
    // combinations. One aggregation, no self-join (which would compute
    // the signature subtree twice), no all-pairs anywhere — the 100 TB
    // path: cost is Σ |bucket|², and band collisions already imply high
    // similarity so buckets stay small.
    "dedup_minhash_pairs" -> ((s, d) => pairTable(s, d)),

    // Batch twin of streaming.nearDupSelfGateStream (live-index gate):
    // a doc is a dup iff an EARLIER doc within the horizon shares a
    // MinHash band — first-occurrence-wins with a sliding recency
    // bound, the semantics an ingest stream applies with its
    // watermarked self-join. Arrival time is proxied by doc_id
    // (1 "minute" apart, horizon = 30), so the oracle can replay the
    // exact window arithmetic; StreamingSpec separately proves the
    // stream operator equals this query on the same inputs. The band
    // self-join is SALTED under the 4096 bucket cap (the
    // cappedKeyPairCounts discipline, inlined for the composite
    // (band_idx, band_hash) key): a count window sizes each band
    // bucket, over-cap buckets salt-split by an id hash, and the join
    // key carries the salt — so one boilerplate band hash shared by
    // 10⁶ docs can no longer emit |bucket|² rows before the horizon
    // filter prunes them. Under the cap every row computes salt 0 and
    // the join is bit-identical to the raw form, so the oracle keeps
    // its plain self-join; the salted band table is localCheckpointed
    // ONCE and feeds both join sides (the collect-array generator was
    // measured 2× slower here — the checkpoint makes double
    // evaluation free, so the join form wins; see cappedKeyPairCounts'
    // Scaladoc for the trade).
    "dedup_first_in_horizon" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val hits = horizonHits(docs).withColumn("hit", lit(true))
      docs.select("doc_id")
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("hit"), lit(false)).as("dup_in_horizon"))
    }),

    // EVENT-TIME horizon twin (r13 VERDICT item 6): the sibling above
    // proxies arrival by doc_id so DuckDB can replay the window, but
    // the stream gate's real contract is event-time with a (ts,
    // doc_id) tiebreak for same-instant ingest. This twin runs the
    // SAME gate over a deterministic, NON-monotone event-time
    // assignment — ts = epoch + (doc_id·37 mod 97) minutes, so ts
    // order differs from id order AND distinct docs share instants,
    // exercising exactly the two places the id proxy cannot: the
    // interval arithmetic over real timestamps and the lexicographic
    // (i_ts < ts) OR (i_ts = ts AND i_doc < doc_id) "earlier" rule
    // that nearDupSelfGateStream applies (EventStream.scala — ts ties
    // are routine in real streams; strict < would leave both tied
    // docs unflagged). Band buckets carry the same 4096 salt cap as
    // the sibling; StreamingSpec closes the loop by feeding the
    // stream gate these exact timestamps.
    "dedup_first_in_horizon_ts" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      def tsCol = expr("TIMESTAMP '2024-01-01 00:00:00' + " +
        "make_interval(0, 0, 0, 0, 0, CAST(doc_id * 37 % 97 AS INT), 0)")
      val bands = graft.api.GraftOps.bucketSalt(
          graft.api.GraftOps.minhashBands(docs, "doc_id", "text")
            .withColumn("ts", tsCol),
          Seq("band_idx", "band_hash"), "doc_id")
        .localCheckpoint()
      val idx = bands.select(col("doc_id").as("i_doc"),
        col("ts").as("i_ts"), col("band_idx"), col("band_hash"),
        col("__sub"))
      val hits = bands
        .join(idx, Seq("band_idx", "band_hash", "__sub"))
        .filter(col("i_ts") <= col("ts") &&
          (col("i_ts") < col("ts") || col("i_doc") < col("doc_id")) &&
          col("i_ts") >= col("ts") - expr("INTERVAL 30 MINUTES"))
        .select("doc_id").distinct()
        .withColumn("hit", lit(true))
      docs.select(col("doc_id"), tsCol.as("ts"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("ts"),
          coalesce(col("hit"), lit(false)).as("dup_in_horizon"))
    }),

    // Edit-distance VERIFICATION over the LSH candidates — the second
    // stage of production fuzzy dedup (banding proposes, an exact
    // similarity disposes): every minhashCandidatePairs pair is scored
    // with character-level Levenshtein, normalized by the longer text
    // (edit_sim = 1 − dist/max_len, the classic ratio), and flagged
    // is_dup at 0.8 — the flag is derived from the ROUNDED sim in both
    // engines so no boundary ulp can flip it. Cost shape: Levenshtein
    // is O(len²) per pair, which is exactly why it runs on the
    // LSH-bounded candidate set and never corpus-wide; the two joins
    // back to `documents` shuffle on doc_id (at 100 TB: pair table
    // ≪ corpus, both joins are shuffle-hash on the natural key). For
    // longer documents swap in Spark's thresholded
    // levenshtein(l, r, k) early-exit — not used here because the
    // DuckDB twin has no threshold form to mirror its −1 sentinel.
    // DedupPackSpec pins the swap's equivalence at the 0.8 threshold
    // on multi-KB docs and records the measured cutover: 1.8× at
    // ~6.8 KB with k = 0.2·len (the O((2k+1)·n) band), growing with
    // stricter thresholds — worth it from ~1 KB documents up.
    "dedup_edit_verified" -> ((s, d) => {
      joinPairSides(pairTable(s, d), Tables.documents(s, d), "doc_id",
          Seq("text" -> "__ta"), Seq("text" -> "__tb"))
        // One levenshtein per pair, projected ONCE and referenced
        // twice downstream. CollapseProject will not inline a
        // non-cheap expression used at two sites, so the analyzed
        // plan keeps a single levenshtein call — previously the two
        // inline copies relied on whole-stage-codegen subexpression
        // elimination, which a non-codegen fallback would lose.
        .select(col("left_id"), col("right_id"),
          levenshtein(col("__ta"), col("__tb")).cast("long")
            .as("edit_dist"),
          greatest(length(col("__ta")), length(col("__tb")))
            .cast("double").as("__maxlen"))
        .select(col("left_id"), col("right_id"), col("edit_dist"),
          round(when(col("__maxlen") === 0, 1.0)
            .otherwise(lit(1.0) -
              col("edit_dist").cast("double") / col("__maxlen")), 6)
            .as("edit_sim"))
        .withColumn("is_dup", col("edit_sim") >= 0.8)
    }),

    // n-gram Jaccard similarity on deterministic adjacent-id pairs
    // (the verification step that follows LSH candidate generation).
    // SCOPE NOTE: the (doc_id, doc_id-1) pairing is an EVAL HARNESS —
    // a fixed pair set so the oracle can reproduce the exact-Jaccard
    // arithmetic. It is not a general pairing operator; production
    // candidate generation is GraftOps.minhashCandidatePairs, and this
    // query's set arithmetic is the verifier you run on ITS pairs.
    "ngram_jaccard" -> ((s, d) =>
      adjacentPairShingleSets(s, d)
        .select(col("pair_id").as("left_id"),
          (col("pair_id") + 1).as("right_id"),
          when(size(array_union(col("sh_a"), col("sh_b"))) > 0,
            size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
              size(array_union(col("sh_a"), col("sh_b"))))
            .otherwise(0.0).as("jaccard"))),

    // Vocabulary coverage curve — the statistic that sizes a
    // word-level vocab / OOV budget: for k ∈ {10, 50, 100}, the share
    // of all token OCCURRENCES covered by the k most frequent types.
    // Scale shape: one (token) count shuffle with partials, a
    // DISTRIBUTED TakeOrdered(100) (never a global sort — the rank
    // window runs on the 100-row result), and a 3-row k-join; the
    // corpus total rides in as a broadcast 1-row aggregate.
    "tok_vocab_coverage" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val freq = Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("freq"))
      val total = freq.agg(sum(col("freq")).as("total"))
      val top = freq.orderBy(col("freq").desc, col("token")).limit(100)
        .withColumn("rnk",
          row_number().over(Window.orderBy(col("freq").desc,
            col("token"))).cast("long"))
      val ks = Seq(10, 50, 100).map(k => Tuple1(k.toLong))
      val kdf = s.createDataFrame(ks).toDF("k")
      kdf.join(top, col("rnk") <= col("k"))
        .groupBy("k").agg(sum(col("freq")).as("covered"))
        .crossJoin(broadcast(total))
        .select(col("k"), col("covered"), col("total"),
          round(col("covered").cast("double") / col("total"), 6)
            .as("coverage"))
    }),

    // ASYMMETRIC containment — the near-dup measure Jaccard hides:
    // |A∩B|/|A| vs |A∩B|/|B|. A short doc fully embedded in a long one
    // has tiny Jaccard (union-dominated) but containment ≈ 1 on the
    // short side — exactly the quote/boilerplate-inclusion case a
    // dedup policy treats differently from mutual near-duplication.
    // Same adjacent-pair EVAL HARNESS scope as ngram_jaccard (see its
    // scope note): the set arithmetic verifier you run on
    // minhashCandidatePairs' output in production. Same single-shuffle
    // pair-role shape; zero-shingle docs (< 3 tokens) emit 0.0.
    "txt_containment" -> ((s, d) => {
      val inter = size(array_intersect(col("sh_a"), col("sh_b")))
      adjacentPairShingleSets(s, d)
        .select(col("pair_id").as("left_id"),
          (col("pair_id") + 1).as("right_id"),
          round(when(size(col("sh_a")) > 0,
            inter.cast("double") / size(col("sh_a"))).otherwise(0.0), 6)
            .as("containment_ab"),
          round(when(size(col("sh_b")) > 0,
            inter.cast("double") / size(col("sh_b"))).otherwise(0.0), 6)
            .as("containment_ba"))
    }),

    // 64-bit SimHash: explode to (doc, token-hash) rows, then ONE hash
    // aggregate with 64 codegen'd sum() columns (bit j's ±1 contribution
    // uses literal shift/mask, so the whole thing stays in whole-stage
    // codegen — higher-order-function folds don't codegen and measured
    // slower; 64-wide partial aggregation shuffles one 64-int row per doc
    // regardless of document length).
    "dedup_simhash" -> ((s, d) =>
      graft.api.GraftOps.simhash(docsSpread(s, d), "doc_id", "text")),

    // SimHash near-dup candidates: 4×16-bit band bucketing (any equal
    // band → candidate). Pigeonhole guarantees a shared band only for
    // pairs differing in ≤3 bits; pairs at Hamming 4..6 are best-effort
    // recall (differences CAN spread 2+2+1+1 across all four bands and
    // be missed — standard simhash blocking trades that tail for
    // join-free bucketing; use 7 bands for full ≤6-bit recall). The
    // oracle mirrors the same banding, so parity holds on the candidate
    // set actually generated. Then exact Hamming distance via XOR +
    // popcount on the four 16-bit chunks. The signature table is localCheckpoint'ed —
    // it feeds the band explode AND both sides of the pair join, and
    // exchange reuse does not cross broadcast joins.
    "dedup_simhash_pairs" -> ((s, d) => {
      val sh = graft.api.GraftOps.simhash(Tables.documents(s, d),
          "doc_id", "text")
      val ck = sh.select(col("doc_id") +: (0 until 4).map(i =>
          conv(substring(col("simhash"), i * 16 + 1, 16), 2, 10)
            .cast("long").as(s"c$i")): _*)
        .localCheckpoint()
      val bands = ck.select(col("doc_id"),
        explode(array((0 until 4).map(i =>
          struct(lit(i).as("band_idx"), col(s"c$i").as("band_val"))): _*))
          .as("b"))
        .select(col("doc_id"), col("b.band_idx").as("band_idx"),
          col("b.band_val").as("band_val"))
      val buckets = bands.groupBy("band_idx", "band_val")
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .filter(size(col("ids")) > 1)
      val pairsCol = flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + 2, size(col("ids"))),
          y => struct(x.as("left_id"), y.as("right_id")))))
      val pairs = buckets.select(explode(pairsCol).as("p"))
        .select(col("p.left_id").as("left_id"),
          col("p.right_id").as("right_id"))
        .distinct()
      joinPairSides(pairs, ck, "doc_id",
          (0 until 4).map(i => s"c$i" -> s"a$i"),
          (0 until 4).map(i => s"c$i" -> s"b$i"))
        .select(col("left_id"), col("right_id"),
          (0 until 4).map(i =>
            bit_count(col(s"a$i").bitwiseXOR(col(s"b$i"))))
            .reduce(_ + _).cast("long").as("hamming"))
        .filter(col("hamming") <= 6)
    }),

    // Transitive near-dup clusters: LSH candidate pairs are edges, and
    // the canonical (minimum) doc id propagates through bounded-round
    // min-label CC — the step real dedup pipelines run after candidate
    // generation, since near-duplication is transitive (A≈B, B≈C ⇒ drop
    // two of three). 2 rounds covers diameter-2 chains; the oracle
    // computes the same bounded reachability recursively, so both sides
    // agree by construction at any diameter.
    "dedup_cluster_cc" -> ((s, d) =>
      nearDupClusters(s, d)
        .select(col("doc_id"), col("cluster_id"),
          (col("doc_id") === col("cluster_id")).as("is_canonical"))),

    // SOFT dedup — down-WEIGHT near-duplicates instead of dropping
    // them (per-doc sampling weight 1/cluster_size): keeps every
    // training example reachable while a boilerplate cluster of 1000
    // copies contributes one doc's worth of expected mass — the policy
    // between hard dedup (cluster_keep_best) and no dedup. Cluster map
    // is the same bounded-round CC as dedup_cluster_cc; the size join
    // keys on cluster_id, the natural post-CC partitioning.
    "dedup_soft_weights" -> ((s, d) => {
      val cc = nearDupClusters(s, d)
      val sizes = cc.groupBy("cluster_id")
        .agg(count(lit(1)).as("cluster_size"))
      cc.join(sizes, Seq("cluster_id"))
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
          round(lit(1.0) / col("cluster_size").cast("double"), 6)
            .as("sample_weight"))
    }),

    // EXACT connected components (GraftOps.connectedComponentsFixpoint:
    // min-label to FIXPOINT with pointer jumping, ~log-diameter rounds)
    // against an UNBOUNDED recursive-CTE oracle — where dedup_cluster_cc
    // pins the bounded-2-round contract, this pins true components at
    // any diameter, so a chain-shaped near-dup cluster (A~B~C where
    // A and C never pair directly) still collapses to one cluster id.
    "graph_cc_exact" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = pairTable(s, d)
      graft.api.GraftOps.connectedComponentsFixpoint(
          docs.select(col("doc_id")), "doc_id",
          pairs, "left_id", "right_id")._1
        .select(col("doc_id"), col("cluster_id"))
    }),

    // INCREMENTAL connected components — the update path that avoids
    // re-clustering the corpus when a batch lands: old components are
    // CONTRACTED to their stored labels (each label is the component's
    // min id, so contraction is one broadcast-fed join over just the
    // delta edges), the fixpoint then runs on the contracted delta
    // graph — whose size is bounded by the ingest, NOT the corpus —
    // and the merged labels propagate back through the label map.
    // Min-label is associative over contraction (an old member is never
    // below its component min), so the result provably equals the full
    // recompute: the ORACLE IS graph_cc_exact's full-corpus SQL,
    // verbatim — incremental == batch is the contract under test.
    "graph_cc_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // STORED state, declared as such (the bandIndex discipline —
      // r16's shared write/read index): the LSH candidate-pair table
      // and the previous run's component labels are artifacts a
      // deployment READS, maintained incrementally (idx_band_upsert
      // is the index's write path; the labels are this very query's
      // output from the prior ingest). Until r17 both were rebuilt
      // inside every execution, so the bench floor (~3.4-4.3 s) was
      // ~90% stored-state reconstruction — the one cost the
      // incremental design exists to avoid. SharedStage makes a
      // long-lived session pay each build once (Bench: core_builds /
      // core_build_cost_s); the warm marginal time is the actual
      // incremental path — contract delta edges, fixpoint on the
      // ingest-bounded contracted graph, propagate back. Verify
      // still sweeps between queries, so correctness runs derive
      // everything per query and the oracle is unchanged.
      val pairsAll = pairTable(s, d)
      val oldDocs = docs.filter(col("doc_id") % 5 =!= 0)
      val basePairs = pairsAll.filter(
        col("left_id") % 5 =!= 0 && col("right_id") % 5 =!= 0)
      // the "stored" labels a previous run would have materialized
      val base = graft.operators.SharedStage(s, s"ccIncrBase:$d") {
        graft.api.GraftOps.connectedComponentsFixpoint(
            oldDocs.select(col("doc_id")), "doc_id",
            basePairs, "left_id", "right_id")._1
      }
      val delta = pairsAll.filter(
        col("left_id") % 5 === 0 || col("right_id") % 5 === 0)
      graft.api.GraftOps.incrementalComponents(
        base, "doc_id",
        docs.filter(col("doc_id") % 5 === 0).select(col("doc_id")),
        delta, "left_id", "right_id")
    }),

    // TF-IDF top-3 terms per document — the classic relevance/keyword
    // surface. Corpus size joins in as a broadcast 1-row aggregate (no
    // driver-side count()); ties break on term so ranking is total.
    "txt_tfidf_topk" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val tf = docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("term"))
      tf.join(dfreq, "term").crossJoin(broadcast(n))
        .select(col("doc_id"), col("term"),
          round(col("tf") * log(col("n_docs").cast("double") / col("df")),
            6).as("score"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select("doc_id", "term", "score", "rnk")
    }),

    // Deterministic stratified sampling: md5-bucket the (lang, doc_id)
    // key into 256 cells via its first two hex chars and keep cells below
    // a per-stratum threshold — downsamples the dominant language (en →
    // ~10%) while keeping half of everything else. Pure per-row filter:
    // no shuffle, no sort, no state; reproducible on any engine, which is
    // exactly what corpus-mixture rebalancing needs at 100 TB.
    "samp_stratified" -> ((s, d) =>
      Tables.documents(s, d)
        // coalesce lang to '' on BOTH engines: concat_ws would silently
        // skip a NULL lang (hashing just the doc_id) while the oracle's
        // `||` would propagate NULL and drop the row entirely.
        .filter(substring(md5(concat_ws(":", coalesce(col("lang"), lit("")),
          col("doc_id"))),
          1, 2) < when(col("lang") === "en", lit("1a")).otherwise(lit("80")))
        .select("doc_id", "lang", "source")),

    // Deterministic train/val/test split (80/10/10): the hash-bucket
    // assignment every training corpus freezes before any run — id-only
    // hashing, so the split is stable under re-partitioning, re-ingest
    // order, and corpus growth (a doc's split never changes when other
    // docs arrive; sampling by position cannot promise that). One
    // projection, no shuffle; the same md5-prefix-to-int path the
    // shuffle/curriculum queries already prove cross-engine.
    "samp_split" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
          splitBucket(col("doc_id")).as("bucket"))
        .select(col("doc_id"), col("bucket"),
          splitName(col("bucket")).as("split"))),

    // The dedup THRESHOLD curve — pairs confirmed and docs dropped as
    // a function of the Jaccard cutoff τ ∈ {0.5, 0.7, 0.9}: the
    // tuning sweep that decides a near-dedup policy (τ too low eats
    // legitimate re-use, too high leaves boilerplate), the dedup twin
    // of emb_nprobe_sweep's recall curve. Exact Jaccard is evaluated
    // ONLY on the LSH candidate pairs (bucket-bounded — never
    // all-pairs), docs-dropped uses the greedy keep-min-id rule the
    // dedup pipeline itself applies; one 3-row τ broadcast fans the
    // counts.
    "dedup_threshold_sweep" -> ((s, d) => {
      val pairs = pairTable(s, d)
      val sets = docShingleSets(s, d)
      val scored = joinPairSides(pairs, sets, "doc_id",
          Seq("sh" -> "sh_a"), Seq("sh" -> "sh_b"))
        .select(col("left_id"), col("right_id"),
          when(size(array_union(col("sh_a"), col("sh_b"))) > 0,
            size(array_intersect(col("sh_a"), col("sh_b")))
              .cast("double") /
              size(array_union(col("sh_a"), col("sh_b"))))
            .otherwise(0.0).as("jac"))
      val taus = s.createDataFrame(
        Seq(0.5, 0.7, 0.9).map(Tuple1(_))).toDF("tau")
      scored.crossJoin(broadcast(taus))
        .filter(col("jac") >= col("tau"))
        .groupBy("tau").agg(
          count(lit(1)).as("n_dup_pairs"),
          count_distinct(col("right_id")).as("n_docs_dropped"))
    }),

    // Split-LEAKAGE audit — the check every frozen train/val/test
    // split needs before anyone trusts an eval number: near-duplicate
    // pairs (the LSH candidate graph) that STRADDLE a split boundary
    // are test-set contamination exact dedup can't see. Composes the
    // production pieces as-is — minhashCandidatePairs for the pair
    // stream, samp_split's frozen md5-bucket assignment for the
    // labels — and rolls up pair counts per (split, split) cell; the
    // off-diagonal cells are the leak. Split labels are a pure
    // projection joined onto the bucket-bounded pair stream: one extra
    // shuffle on doc_id beyond the LSH pipeline itself.
    "dq_split_leakage" -> ((s, d) => {
      def splitOf(c: Column) = splitName(splitBucket(c))
      val pairs = pairTable(s, d)
      pairs.select(col("left_id"), col("right_id"),
          splitOf(col("left_id")).as("split_a"),
          splitOf(col("right_id")).as("split_b"))
        .select(least(col("split_a"), col("split_b")).as("split_lo"),
          greatest(col("split_a"), col("split_b")).as("split_hi"))
        .groupBy("split_lo", "split_hi")
        .agg(count(lit(1)).as("n_pairs"))
    }),

    // Exact per-stratum quota sampling — "exactly 20 docs per source",
    // the complement of samp_stratified's fraction filter (a fraction
    // cannot promise a count; evaluation sets and per-domain audit
    // samples need the exact k). Deterministic: rank inside each
    // stratum by the md5 of the doc id — a frozen pseudo-random order
    // both engines reproduce — and keep rank ≤ 20. The DECLARATIVE
    // rank≤k form is the 100 TB story: Catalyst rewrites the filtered
    // row_number into WindowGroupLimit, so each map partition keeps a
    // running top-k per stratum BEFORE the exchange — the shuffle
    // carries ≤ k rows per stratum per input partition, not the corpus
    // (pinned in PlanShapeSpec).
    // URL-canonicalization dedup (GraftOps.canonicalizeUrl): the
    // web-crawl stage that collapses scheme/host case, default ports,
    // trailing slashes, tracking params (utm_*/fbclid/gclid), param
    // ORDER, and fragments before any content pass. Each group of four
    // consecutive doc_ids synthesizes the same logical URL behind four
    // different disguises (the arithmetic is the oracle contract, like
    // synthWav's); canonicalization must collapse all four — keep_id,
    // the variant count, and the DISTINCT raw-form count prove it did.
    // Canonicalize = pure projection; the group-by shuffles on the
    // canonical-url key exactly like every content-hash dedup.
    "txt_url_dedup" -> ((s, d) => {
      val b = expr("doc_id DIV 4")
      val n = b % 50
      def s_(c: Column) = c.cast("string")
      val raw = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
          concat(lit("http://www.example"), s_(n), lit(".com/page/"),
            s_(b), lit("?id="), s_(b), lit("&z=1")))
        .when(col("doc_id") % 4 === 1,
          concat(lit("HTTP://WWW.EXAMPLE"), s_(n), lit(".COM:80/page/"),
            s_(b), lit("/?z=1&id="), s_(b)))
        .when(col("doc_id") % 4 === 2,
          concat(lit("http://www.example"), s_(n), lit(".com/page/"),
            s_(b), lit("?utm_source=feed&id="), s_(b), lit("&z=1")))
        .otherwise(
          concat(lit("http://www.example"), s_(n), lit(".com/page/"),
            s_(b), lit("?id="), s_(b), lit("&z=1&gclid=1#frag")))
        .as("url"))
      raw.select(col("doc_id"), col("url"),
          graft.api.GraftOps.canonicalizeUrl(col("url"))
            .as("canonical_url"))
        .groupBy("canonical_url")
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("n_variants"),
          count_distinct(col("url")).as("n_forms"))
    }),

    "samp_reservoir" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      Tables.documents(s, d).select(col("doc_id"), col("source"))
        .withColumn("pick_rank", row_number().over(w).cast("long"))
        .filter(col("pick_rank") <= 20)
    }),

    // Corpus-order n-gram novelty: per doc, the share of its DISTINCT
    // 3-grams that first appear in THIS doc (min doc_id over the
    // corpus == this doc) — the cross-doc companion to txt_repetition's
    // within-doc signal, and the metric behind "is late data adding
    // anything" ingest audits. Two aggregates on the gram table (per
    // (gram, doc) dedup, then first-owner), one join back keyed on the
    // gram hash — at 100 TB everything shuffles on gram, the natural
    // high-cardinality key, with map-side partial aggregation.
    "txt_ngram_novelty" -> ((s, d) => {
      // First-owner min MUST be an aggregate, not a window: a window
      // partitioned on the raw gram key forces every row of one gram
      // into one task — a corpus-ubiquitous 3-gram ("all rights
      // reserved") in 10^9 docs is a single-task straggler at 100 TB.
      // groupBy(g).min gets map-side partial aggregation for free: a
      // hot gram collapses to <=1 row PER MAP TASK before the shuffle,
      // so the reduce side sees at most numMapTasks rows per gram and
      // no single task ever owns a hot gram's full row set.
      //
      // Both branches derive from the SAME generator-form gram table
      // (explode directly over the shingle expression): materializing
      // the array behind an alias and re-referencing it looks shared
      // but is not — CollapseProject inlines the aliased expression
      // into every consumer, so `gs.size` + `explode(gs)` re-tokenized
      // every doc 2-3x (measured 15 s vs 4.0 s at sf0.1 for exactly
      // that shape). In generator form the tokenize+shingle pass runs
      // once per branch; per-doc gram totals are the exploded row
      // count (arrays are distinct'd), so no size() re-derivation
      // is needed. A localCheckpoint of the gram table would merge the
      // two scans (measured 3.4 s) but materializes ~corpus-sized state
      // at 100 TB; the two linear, embarrassingly-parallel scans (4.0 s,
      // vs 3.8 s for the skew-prone window form) are the better trade.
      //
      // r20 (r19 VERDICT item 4, profile-first): the generator itself
      // was the cost — one composed array_distinct(shingles(tokens))
      // scan measured 2.60 s at sf0.1 vs 0.17 s for tokenize alone, so
      // ~75% of the query was shingle-array allocation, not shuffle.
      // The native distinctShingles expression (same bytes out,
      // parity-pinned) cuts the scan to the hash-set pass.
      def grams = Tables.documents(s, d).select(col("doc_id"),
        explode(distinctShingles(col("text"), 3)).as("g"))
      val perDoc = grams.groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"))
      val novel = grams
        .groupBy("g").agg(min("doc_id").as("first_doc"))
        .groupBy(col("first_doc").as("doc_id"))
        .agg(count(lit(1)).as("novel0"))
      perDoc.join(novel, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("novel0"), lit(0L)).as("n_novel"),
          round(coalesce(col("novel0"), lit(0L)).cast("double")
            / col("n_grams").cast("double"), 6).as("novelty"))
    }),

    // Repetition ratio (Gopher-style quality signal): share of word
    // 3-grams that are repeats of an earlier 3-gram in the same doc.
    // Same codegen'd shingle path as winnowing; one aggregate.
    // Per-doc token Shannon entropy — the diversity twin of
    // txt_repetition's dup-ratio: low entropy means boilerplate /
    // keyword-stuffing even when no single 3-gram repeats. Computed as
    // H = ln N − (Σ c·ln c)/N, the one-pass identity that needs only
    // the per-(doc, token) counts — no join-back of N, no second
    // aggregation level. Shuffles once on (doc_id, token) with
    // map-side partial counts, then once on doc_id: the gram-table
    // shape every corpus statistic here uses. Both engines sum the
    // identical c·ln(c) doubles; round(·, 6) absorbs the ≤1 ulp/term
    // addend-order noise.
    "txt_entropy" -> ((s, d) => {
      val tf = Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      tf.groupBy("doc_id").agg(
          sum(col("c")).as("n0"),
          count(lit(1)).as("n_uniq0"),
          sum(col("c").cast("double") * log(col("c").cast("double")))
            .as("clogc"))
        .select(col("doc_id"),
          col("n0").cast("long").as("n_tokens"),
          col("n_uniq0").cast("long").as("n_unique"),
          round(log(col("n0").cast("double")) - col("clogc") / col("n0"),
            6).as("entropy"))
    }),

    "txt_repetition" -> ((s, d) => {
      val sgl = graft.api.GraftOps.wordGrams(Tables.documents(s, d),
          "doc_id", "text", 3)
        .filter(col("gram").isNotNull)
      val stats = sgl.groupBy("doc_id").agg(
        count(lit(1)).as("n_sh0"),
        count_distinct(col("gram")).as("n_uniq0"))
      Tables.documents(s, d).select("doc_id")
        .join(stats, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_sh0"), lit(0L)).as("n_sh"),
          coalesce(col("n_uniq0"), lit(0L)).as("n_uniq"),
          round(when(col("n_sh0").isNotNull && col("n_sh0") > 0,
            lit(1.0) - col("n_uniq0").cast("double") / col("n_sh0"))
            .otherwise(0.0), 6).as("rep_ratio"))
    }),

    // Inverted index: token → sorted posting list + document frequency,
    // floored at df ≥ 10 to keep the index head-heavy. Postings are
    // emitted comma-joined (driver comparator takes scalars only); at
    // scale the same plan writes the array column, bucketed by token.
    "idx_inverted" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        .distinct()
        .groupBy("token").agg(
          count(lit(1)).as("df"),
          concat_ws(",", transform(sort_array(collect_list(col("doc_id"))),
            x => x.cast("string"))).as("postings"))
        .filter(col("df") >= 10)),

    // Exact-dedup result set: the surviving documents (min doc_id per
    // content hash) — what a training pipeline actually feeds downstream.
    "dedup_exact_keep" -> ((s, d) =>
      graft.api.GraftOps.dedupExact(Tables.documents(s, d), "doc_id", "text")
        .select("doc_id", "lang", "source", "n_chars")),

    // Vocabulary: global top-50 tokens by frequency (explode + two-level
    // aggregation; partial aggs make the shuffle carry distinct tokens
    // per partition, not token instances — the standard vocab-count shape
    // at corpus scale).
    "vocab_topk" -> ((s, d) =>
      Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token")).limit(50)),

    // Bigram counts: top-30 word 2-grams (n-gram LM / tokenizer-training
    // statistics). Window-lead formulation keeps it in codegen.
    "bigram_topk" -> ((s, d) =>
      graft.api.GraftOps.wordGrams(Tables.documents(s, d),
          "doc_id", "text", 2)
        .filter(col("gram").isNotNull)
        .groupBy(col("gram").as("bigram")).agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("bigram")).limit(30)),

    // Flagship corpus-cleaning pipeline: quality gate → language gate →
    // exact dedup, composed from the operators above — the end-to-end
    // shape of an LLM training-data prep job. One scan, one projection,
    // one semi-join against the dedup keep-set.
    "pipeline_clean_corpus" -> ((s, d) => {
      val (gated, keep) = cleanGate(Tables.documents(s, d))
      gated.join(keep, Seq("doc_id"), "left_semi")
        .select("doc_id", "source", "n_tokens", "lang_guess")
    }),

    // Multimodal plumbing over NON-image payloads (text bytes stand in
    // for the blob): deterministic fake dims, testing the schema and
    // feature shape on arbitrary binary. The REAL decode paths are
    // mm_image_features / mm_audio_features / mm_video_features, which
    // synthesize genuine PNG/WAV/MP4 containers and parse them back.
    "mm_features" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        expr("octet_length(text)").cast("long").as("byte_len"),
        sha2(col("text").cast("binary"), 256).as("content_hash"),
        (col("n_chars") % 640).cast("long").as("fake_width"),
        (expr("octet_length(text)").cast("long") * 3 % 480).as("fake_height"),
        lit(3).as("channels"))),

    // Multimodal IMAGE path, REAL end-to-end: synthPng encodes a
    // genuine PNG per doc through the JDK encoder and extractFeatures
    // must recover width/height/channels by actually parsing those
    // bytes (javax.imageio header read). byte_len is deliberately NOT
    // emitted — PNG byte size is encoder-dependent; the parsed
    // dimensions are the deterministic contract the oracle recomputes.
    "mm_image_features" -> ((s, d) =>
      graft.multimodal.Multimodal.extractFeatures(
        synthDocs(s, d)(graft.multimodal.Multimodal.synthPng))
        .select(col("media_id"), col("width"), col("height"),
          col("channels"))),

    // Multimodal audio path, REAL end-to-end: synthWav builds one
    // genuine PCM WAV container per doc (executor-side, derivation
    // sr/ch/frames = arithmetic on doc_id), extractAudioFeatures
    // recovers the metadata by PARSING those bytes with the JDK's
    // javax.sound.sampled reader — the oracle recomputes the expected
    // values from the same arithmetic, so any header-layout or parse
    // bug breaks the hash compare. Header-only decode: cost per row is
    // independent of payload size (the 100 TB property).
    "mm_audio_features" -> ((s, d) =>
      graft.multimodal.Multimodal.extractAudioFeatures(
        synthDocs(s, d)(graft.multimodal.Multimodal.synthWav))),

    // Multimodal video path, REAL end-to-end like the audio twin:
    // synthMp4 builds a genuine ISO-BMFF container per doc (ftyp +
    // moov/mvhd/trak/tkhd — public box layout, no codec involved) and
    // extractVideoFeatures recovers timescale/duration/dims by walking
    // the box tree it wrote. The oracle recomputes the derivation
    // arithmetic, so a box-offset bug anywhere breaks the hash compare.
    "mm_video_features" -> ((s, d) =>
      graft.multimodal.Multimodal.extractVideoFeatures(
        synthDocs(s, d)(graft.multimodal.Multimodal.synthMp4))),

    // The composed MULTIMODAL ingest report: all three real media
    // paths in one query — synthesize genuine PNG/WAV/MP4 containers
    // per doc, parse each back through its JDK/byte-walker decoder
    // (the same build→parse round trips the mm_* queries prove
    // individually), and roll up a per-kind corpus report. The union
    // is three independent mapPartitions chains + three 1-row
    // aggregates — no cross-media shuffle at any scale. PNG byte size
    // is encoder-dependent, so the image row aggregates PARSED dims
    // only (the mm_image_features discipline); sums ride through longs
    // before the final division so the averages are order-exact.
    "pipeline_media_stats" -> ((s, d) => {
      val mm = graft.multimodal.Multimodal
      val ids = Tables.documents(s, d).select(col("doc_id"))
      def report(df: DataFrame, kind: String, m1: Column, m2: Column) =
        df.agg(count(lit(1)).as("n_items"),
            round(sum(m1.cast("long")).cast("double") / count(lit(1)), 6)
              .as("avg_m1"),
            round(sum(m2.cast("long")).cast("double") / count(lit(1)), 6)
              .as("avg_m2"))
          .select(lit(kind).as("kind"), col("n_items"), col("avg_m1"),
            col("avg_m2"))
      report(mm.extractFeatures(mm.synthPng(ids, "doc_id")),
          "image", col("width"), col("height"))
        .unionByName(report(
          mm.extractAudioFeatures(mm.synthWav(ids, "doc_id")),
          "audio", col("duration_us"), col("channels")))
        .unionByName(report(
          mm.extractVideoFeatures(mm.synthMp4(ids, "doc_id")),
          "video", col("duration_ms"), col("width")))
    }),

    // THE RAG ingest path, composed from the library's own stages:
    // quality/language gate + exact doc dedup (the shared clean gate) →
    // 64-token chunking → corpus-wide chunk dedup (first occurrence
    // wins) → BM25 retrieval over the surviving chunks for the fixed
    // query-term set, top-10. This is what "build a retrieval corpus"
    // means operationally; every stage is a shape already proven under
    // the gate (cleanGate, chunkTokens, occurrence ranking, the
    // single-pass BM25), and each stays shuffle-bounded — gates are
    // projections, chunk dedup partitions by content hash, scoring is
    // one conditional-sum aggregate over chunks.
    "pipeline_rag_corpus" -> ((s, d) =>
      bm25TopK(cleanChunksDeduped(s, d),
        Seq("doc_id", "chunk_id"), "chunk_text", 10)),

    // Multimodal frame sampling (Multimodal.sampleFrames): the
    // video-shaped generator op — one payload row → every 2nd fixed-size
    // chunk as a "frame", columnar (posexplode over base64 chunking, no
    // UDF, stays in Tungsten). Byte-offset spacing; the TRUE
    // sample-table timestamps live in mm_frame_times (stts walk). The oracle rebuilds the identical chunks
    // with substr arithmetic; frames hash to md5 so the compare stays
    // scalar. Text bytes stand in for the video payload — the operator
    // only sees a binary column.
    "mm_frame_sample" -> ((s, d) => {
      val media = Tables.documents(s, d)
        .select(col("doc_id").as("media_id"),
          col("text").cast("binary").as("payload"))
      graft.multimodal.Multimodal.sampleFrames(media, 48, 2)
        .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
          md5(col("frame_b64")).as("frame_hash"))
    }),

    // REAL MP4 DEMUX — the video completion of the content round
    // trips: synthMp4Frames writes full sample-location tables (stsz
    // varied sizes, stsc one-run map, stco chunk offset) plus an mdat
    // whose byte j is (17j + id) mod 256, and extractFrameBytes must
    // locate and slice each sample's ACTUAL bytes the way a demuxer
    // feeds a codec — then summarize them integer-exactly (length,
    // unsigned sum, first/last byte). The oracle recomputes every
    // sample's byte range from the arithmetic; a wrong stsz stride,
    // stco base, or slice bound fails the hash gate.
    "mm_frame_bytes" -> ((s, d) =>
      graft.multimodal.Multimodal.extractFrameBytes(
        synthDocs(s, d)(graft.multimodal.Multimodal.synthMp4Frames))),

    // FRAME-LEVEL VIDEO NEAR-DUP (r11 item 6) — the composition the
    // demux enables: ONE extractFrameHashes pass (real stsz/stsc/stco
    // walk + md5 over each sample's actual bytes — the frameHashes
    // SharedStage core, so no video consumer re-demuxes in a live
    // session) feeds frame-CONTENT-hash co-occurrence
    // counting — videos sharing >= 1 identical frame pair up, scored
    // by shared-frame Jaccard. Pair emission goes through
    // GraftOps.cappedKeyPairCounts — the multiplicity-preserving
    // capped enumerator (4096 salt-split on the fhash key) — NOT a
    // raw fhash self-join: a degenerate ubiquitous frame (black
    // frame, station logo, test pattern — guaranteed in real video
    // corpora) would make one fhash bucket quadratic. Under the cap
    // the pair counts are bit-identical to the raw join (spec-pinned
    // in DedupPackSpec); over the cap they are documented lower
    // bounds, like semanticDupIds' cell cap. The fixture
    // (synthMp4FramesShared) gives families of videos sharing their
    // first min(n_a, n_b) frames, so jaccard varies per pair and the
    // oracle recomputes every hash from the byte arithmetic — a
    // demux or slicing bug anywhere breaks the gate.
    "mm_frame_dedup" -> ((s, d) => {
      val frames = frameHashCore(s, d)
      val nf = frames.groupBy("media_id")
        .agg(count(lit(1)).as("nf"))
      val shared = graft.api.GraftOps.cappedKeyPairCounts(
        frames.select(col("media_id"), col("fhash")), "fhash", "media_id")
      joinPairSides(shared, nf, "media_id",
          Seq("nf" -> "nf_l"), Seq("nf" -> "nf_r"))
        .select(col("left_id"), col("right_id"), col("n_shared"),
          round(col("n_shared").cast("double")
            / (col("nf_l") + col("nf_r") - col("n_shared"))
              .cast("double"), 6).as("jaccard"))
    }),

    // VIDEO RETENTION POLICY (r12 item 6) — cluster_keep_best's
    // composition applied to video: videos sharing a frame are
    // connected, exact CC collapses transitive families (A shares
    // frames with B, B with C ⇒ one cluster — near-duplication is
    // transitive, so pairwise verdicts alone under-drop), and each
    // cluster KEEPS its best member: most frames (the richest copy,
    // this fixture's quality proxy), media_id tiebreak.
    //
    // The edge set is the per-bucket STAR, not the pair table: within
    // each salted fhash bucket every member connects to the bucket
    // minimum — |Σ bucket| edges spanning EXACTLY the same components
    // as the |Σ bucket²| all-pairs set (a retention policy needs
    // connectivity, not per-pair scores; mm_frame_dedup keeps the
    // scored pairs). At sf0.1 that is ~23k star edges vs ~2.5M pairs
    // — the difference between CC rounds shuffling the corpus's
    // frame-occurrence table and shuffling its pair closure; at
    // 100 TB the star is the only shape that survives. Stars stretch
    // component diameter (member—hub—member), so CC runs TO FIXPOINT
    // with pointer jumping (~log-diameter rounds) rather than a fixed
    // round budget, and the oracle mirrors with an unbounded
    // recursive closure — both sides reach true components, so the
    // edge-set choice cannot change the answer. ONE demux pass
    // (localCheckpoint) feeds the star window, the per-video frame
    // counts, and nothing else — frames never re-enter the CC loop.
    "mm_video_keep_best" -> ((s, d) => videoKeepBest(s, d)),

    // RETENTION REPORT — the policy rollup a corpus clean publishes
    // (pipeline_dedup_report's video twin): per frame-dup cluster, how
    // many copies existed, the surviving video, and the frame volume
    // the policy drops. Rides the same keep-best table; the rollup is
    // one cluster-keyed aggregate (the natural post-CC partitioning),
    // so the report costs nothing beyond the policy itself at any
    // scale.
    "pipeline_video_retention" -> ((s, d) =>
      videoKeepBest(s, d).groupBy("cluster_id")
        .agg(count(lit(1)).as("n_videos"),
          sum(col("nf")).as("n_frames_total"),
          min(when(col("keep"), col("media_id"))).as("kept_media_id"),
          max(when(col("keep"), col("nf"))).as("kept_nf"))
        .select(col("cluster_id"), col("n_videos"),
          col("n_frames_total"), col("kept_media_id"), col("kept_nf"),
          (col("n_frames_total") - col("kept_nf"))
            .as("frames_dropped"))),

    // PCM-content energy windows, REAL end-to-end — the audio twin of
    // mm_image_phash's pixel round trip: synthWav's data section is a
    // deterministic byte pattern ((i·31 + sr) mod 256), so every
    // signed-16-LE sample value is closed-form; extractAudioEnergy
    // must recover them by actually decoding the container
    // (AudioSystem stream → raw frames) and windowing the absolute
    // amplitudes. The oracle recomputes sample values from the byte
    // arithmetic — one wrong byte offset, endianness, or sign
    // extension anywhere breaks the hash gate.
    "mm_audio_energy" -> ((s, d) =>
      graft.multimodal.Multimodal.extractAudioEnergy(
        synthDocs(s, d)(graft.multimodal.Multimodal.synthWav),
        windowFrames = 50)),

    // VOICE-ACTIVITY SEGMENTATION — the audio twin of mm_scene_cuts:
    // decode real PCM, window the energy, mark silent windows
    // (energy 0), and number the VOICED runs; a speech-data pipeline
    // cuts training clips at exactly these boundaries. Silent windows
    // keep a NULL segment_id (visible, not dropped — the curation
    // convention). Ground truth is synthWavSegments' closed form
    // ((id+w) mod 3 silence map), so one mis-decoded sample anywhere
    // breaks the gate. Plan: mapPartitions decode + ONE per-media
    // ordered window (windows-per-clip bounded — no skew).
    "mm_audio_segments" -> ((s, d) => audioSegments(s, d)),

    // CROSS-MODAL A/V ALIGNMENT — the AV-ASR / clip-pairing primitive:
    // each sampled VIDEO frame is attributed to the AUDIO voiced segment
    // active at its timestamp, via the engine's as-of join on a shared
    // integer time grid (quarter-milliseconds: video t_ms·4, audio
    // window w·25 since a 50-frame window at 8 kHz is 6.25 ms — both
    // exact, no float time anywhere). This is the join that pairs
    // frames with speech for audio-visual training data; frames past
    // the audio tail attach to the last window, frames in silence get
    // voiced=false with a NULL segment. One shuffle on media_id (the
    // asofJoin window); both demux cores are the same deterministic
    // decode paths the per-modality queries gate.
    "mm_av_sync" -> ((s, d) => {
      val frames = graft.multimodal.Multimodal.sampleFrameTimes(
        synthDocs(s, d)(graft.multimodal.Multimodal.synthMp4Stts),
        stride = 2)
        .select(col("media_id"), col("sample_idx"), col("t_ms"),
          (col("t_ms") * 4L).as("t_q"))
      val wins = audioSegments(s, d)
        .select(col("media_id"), (col("window_idx") * 25L).as("t_q"),
          col("window_idx"), col("is_silent"), col("segment_id"))
      graft.api.GraftOps.asofJoin(frames, wins, "media_id", "t_q",
          Seq("window_idx", "is_silent", "segment_id"))
        .select(col("media_id"), col("sample_idx"), col("t_ms"),
          col("asof_window_idx").as("window_idx"),
          col("asof_segment_id").as("segment_id"),
          (!col("asof_is_silent")).as("voiced"))
    }),

    // KEYFRAME SELECTION — the thumbnail/representative-frame step
    // after scene segmentation: per scene its span and the MIDDLE frame
    // (the standard representative choice; swap the argmax of any
    // sharpness score into the same rollup). One groupBy over the
    // shared sceneCuts stage — scene-count rows out, integer-exact
    // midpoint arithmetic.
    "mm_scene_keyframes" -> ((s, d) =>
      sceneCuts(s, d).groupBy("media_id", "scene_id")
        .agg(min("frame_idx").as("start_idx"),
          max("frame_idx").as("end_idx"),
          count(lit(1)).cast("long").as("n_frames"))
        .withColumn("key_idx",
          expr("(start_idx + end_idx) DIV 2").cast("long"))),

    // CROSS-MODAL SEGMENTATION REPORT — the corpus-level rollup of the
    // two segmentation cores (video scenes, audio voiced runs): items,
    // units (frames / windows), segments, and mean segment length per
    // modality — the numbers that size a clip-extraction job before it
    // runs. Both cores are SharedStages (zero marginal cost beside
    // mm_scene_cuts / mm_audio_segments in a live session); the rollup
    // itself is two single-row aggregates and a 2-row union.
    "pipeline_segmentation_report" -> ((s, d) => {
      val v = sceneCuts(s, d).groupBy("media_id")
        .agg(count(lit(1)).as("units"),
          (max("scene_id") + 1L).as("segs"))
      val a = audioSegments(s, d).groupBy("media_id")
        .agg(count(lit(1)).as("units"),
          (coalesce(max("segment_id"), lit(-1L)) + 1L).as("segs"))
      def roll(df: DataFrame, m: String) = df.agg(
        count(lit(1)).cast("long").as("n_items"),
        sum("units").cast("long").as("n_units"),
        sum("segs").cast("long").as("n_segments"))
        .select(lit(m).as("modality"), col("n_items"), col("n_units"),
          col("n_segments"),
          (round((col("n_units") * 1000000L).cast("double")
              / col("n_segments"), 0)
            .cast("long").cast("double") / 1000000.0)
            .as("units_per_segment"))
      roll(v, "video").unionByName(roll(a, "audio")).orderBy("modality")
    }),

    // AUDIO FINGERPRINT DEDUP (r13 VERDICT item 7 — pair generation
    // now covers all three media types): the classic
    // energy-profile fingerprint over the family-structured WAV
    // corpus (synthWavFamilies: 4 cuts of one master at 100..175
    // frames, prefix-equal PCM). Stage 1 PROPOSES: each clip's first
    // two 50-frame windows (full for every cut length) quantize to a
    // coarse signature (per-window abs-sum DIV 64·frames — coarse
    // enough to bucket re-encodes, fine enough that unrelated
    // near-uniform content rarely collides; DIV 256 was measured
    // 16x over-proposing at sf0.01) and
    // signature buckets pair through cappedKeyPairCounts — the same
    // 4096 salt-cap as every pair generator (silence is the audio
    // boilerplate hash: a real corpus floods the all-quiet signature).
    // Stage 2 DISPOSES: exact window-sum deltas over the decoded
    // samples; is_dup = both prefix windows byte-exact — "same
    // master, different cut". The oracle replays container bytes →
    // signed-16LE samples → window sums → signature → pairs from the
    // synth arithmetic, so a decode, windowing, or quantization bug
    // anywhere breaks the hash gate.
    "mm_audio_dedup" -> ((s, d) =>
      audioSigPairs(audioSigTable(s, d))
        .select(col("left_id"), col("right_id"),
          abs(col("l0") - col("r0")).as("d0"),
          abs(col("l1") - col("r1")).as("d1"),
          (col("l0") === col("r0") && col("l1") === col("r1"))
            .as("is_dup"))),

    // AUDIO RETENTION POLICY — completes the keep-best matrix across
    // all three media types (video keeps most frames, image keeps
    // most pixels; audio keeps the LONGEST CUT — the master over its
    // truncations, quality proxy = total decoded frames). Same
    // composition as the siblings: exact-prefix dup pairs (the
    // two-stage gate above) → fixpoint CC → per-cluster argmax with
    // the (frames desc, media_id) tiebreak. Shares the decoded
    // signature stage with mm_audio_dedup via SharedStage.
    "mm_audio_keep_best" -> ((s, d) => audioKeepBest(s, d)),

    // CROSS-MODAL RETENTION REPORT — the capstone composition: one
    // row per media type summarizing its near-dup retention policy
    // (items, clusters, dropped count, and the kept share of the
    // modality's quality budget). Each modality's keep-best core is a
    // SharedStage, so in a live session this pipeline rides the same
    // materializations its three mm_*_keep_best siblings built. The
    // rollup itself is three single-row aggregates union'ed — free at
    // any scale once the policies have run.
    "pipeline_media_retention" -> ((s, d) => {
      def summ(df: DataFrame, modality: String, qty: String) =
        df.agg(
          count(lit(1)).cast("long").as("n_items"),
          countDistinct(col("cluster_id")).cast("long")
            .as("n_clusters"),
          sum(when(col("keep"), 0L).otherwise(1L)).cast("long")
            .as("n_dropped"),
          sum(when(col("keep"), col(qty)).otherwise(0L)).cast("long")
            .as("kept_quality"),
          sum(col(qty)).cast("long").as("total_quality"))
        .select(lit(modality).as("modality"), col("n_items"),
          col("n_clusters"), col("n_dropped"), col("kept_quality"),
          col("total_quality"))
      summ(videoKeepBest(s, d), "video", "nf")
        .unionByName(summ(imageKeepBest(s, d), "image", "pixels"))
        .unionByName(summ(audioKeepBest(s, d), "audio", "nf_total"))
        .orderBy("modality")
    }),

    // MULTIMODAL PAIR CURATION — the end-to-end admission decision a
    // web-scale image-text corpus runs per pair, composing the three
    // independent gates this engine already certifies in isolation:
    // (1) the LEARNED text gate (classifierScore — frozen linear model
    // over hashed features), (2) the PAIR-ALIGNMENT gate (clipGate —
    // image-tower vs text-embedding cosine), and (3) the image
    // NEAR-DUP retention policy (imageKeepBest — only a cluster's best
    // member survives). A pair trains only if all three say yes.
    // Plan shape: three audited subtrees joined on doc_id — the text
    // gate's aggregate, the clip gate's equijoin, the retention core's
    // CC — with LEFT joins so a doc with no tokens (no classifier row)
    // stays visible as not-kept rather than vanishing; the id-keyed
    // joins co-partition at scale. SharedStage collapses the gate
    // cores to zero marginal cost beside their registry siblings in a
    // live session.
    "pipeline_pair_curation" -> ((s, d) => {
      val txt = classifierScore(s, d)
        .select(col("doc_id"), col("keep").as("txt_keep"))
      val clip = clipGate(s, d)
        .select(col("doc_id"), col("keep").as("clip_keep"))
      val img = imageKeepBest(s, d)
        .select(col("media_id").as("doc_id"),
          col("keep").as("img_keep"))
      Tables.documents(s, d).select(col("doc_id"))
        .join(txt, Seq("doc_id"), "left")
        .join(clip, Seq("doc_id"), "left")
        .join(img, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("txt_keep"), lit(false)).as("txt_keep"),
          coalesce(col("clip_keep"), lit(false)).as("clip_keep"),
          coalesce(col("img_keep"), lit(false)).as("img_keep"))
        .withColumn("keep",
          col("txt_keep") && col("clip_keep") && col("img_keep"))
    }),

    // PIXEL-content perceptual hash, REAL end-to-end: synthPngPattern
    // encodes a deterministic 32×32 gray pattern through the JDK PNG
    // encoder and extractAHash must recover every pixel by DECODING
    // the bytes (full ImageIO.read — the first content round trip; the
    // other image path stops at header dims), then fold them into the
    // 8×8 average-hash bit string. The oracle recomputes the pixel
    // arithmetic and the integer-exact block threshold directly, so a
    // single wrong pixel anywhere flips bits and fails the hash gate.
    "mm_image_phash" -> ((s, d) =>
      graft.multimodal.Multimodal.extractAHash(
        synthDocs(s, d)(graft.multimodal.Multimodal.synthPngPattern))),

    // IMAGE NEAR-DUP PAIRING (r13 VERDICT item 3 — the last modality
    // without a dedup policy): perceptual-hash Hamming banding over
    // the family-structured PNG corpus. The 64-bit aHash splits into
    // 4×16-bit bands — two hashes within Hamming distance ≤ 3 MUST
    // share at least one exact band (pigeonhole over 4 bands; the
    // SimHash rule, pinned for this path in MultimodalSpec) — band
    // candidates go through cappedKeyPairCounts (the same 4096
    // salt-cap discipline as every pair generator in the repo; a
    // boilerplate hash — black images, test cards — floods one band
    // key in any real corpus), and exact Hamming over the full 64
    // bits disposes: is_dup at ≤ 3. Banding proposes, Hamming
    // disposes — the two-stage shape of the text MinHash path, on
    // pixels. The corpus is synthPngFamilies (real PNG encode/decode
    // round trip at three resolutions; aHash is resolution-invariant
    // by the block-constant construction, so family members pair
    // ACROSS sizes — the re-encode invariance production pHash dedup
    // exists for). The oracle replays hash, banding, candidates, and
    // Hamming from the closed-form block arithmetic.
    "mm_image_dedup" -> ((s, d) =>
      imageBandPairs(imageAHashTable(s, d))
        .select(col("left_id"), col("right_id"),
          col("n_shared").as("n_bands_shared"), col("hamming"),
          (col("hamming") <= 3).as("is_dup"))),

    // IMAGE RETENTION POLICY — keep-best per near-dup cluster, the
    // image instance of mm_video_keep_best's composition: is_dup
    // pairs (the two-stage gate above) → exact fixpoint CC → keep the
    // highest-RESOLUTION member (quality proxy = decoded pixel count,
    // ties to the smaller id). Family members exist at 16/24/32
    // square, so the policy provably selects across resolutions — the
    // "keep the original, drop the thumbnails" decision an image
    // corpus needs. One synthesis feeds BOTH extractors (hash +
    // dims) via localCheckpoint; the CC input is pair-per-cluster
    // small, the final argmax one cluster-keyed window.
    "mm_image_keep_best" -> ((s, d) => imageKeepBest(s, d)),

    // IMAGE–TEXT PAIR GATE (LAION-style curation): score each
    // (image, caption) pair by the cosine between an image-tower
    // embedding and the text embedding, keep pairs above threshold —
    // the multimodal-pair filter a web-scale image-text corpus runs
    // before contrastive training. The CLIP towers are STUBBED per the
    // multimodal policy (no model runtime in this container): the
    // image side is a REAL decode of the synthesized PNG reduced to 8
    // horizontal-band gray sums, mean-centered (the deterministic
    // stand-in for an encoder; the arithmetic is the oracle contract),
    // and the text side is the first 8 dims of the doc's stored
    // embedding. The Spark-side plumbing is the real thing: binary
    // payload → mapPartitions decode (zero shuffle) → ONE id-equijoin
    // against the embedding table (co-partitioned by id at scale — in
    // production both sides are bucketed by doc_id, making this
    // shuffle-free) → native-expression dot products → threshold gate.
    // Exact-parity notes: band sums are integer, centering subtracts
    // tot/8.0 (power-of-two divisor — exact), dot/sqrt/divide are
    // IEEE-exact-rounded, so round-6 matches DuckDB bitwise.
    "mm_clip_filter" -> ((s, d) => clipGate(s, d)),

    // SCENE SEGMENTATION over decoded frame content — the video
    // preprocessing step a frame-sampling pipeline runs before
    // training-data extraction (one representative frame per SCENE
    // beats one per fixed interval: static shots collapse, fast
    // cutting is preserved). The operator demuxes real MP4 bytes
    // (extractFrameHashes: stsz/stsc/stco walk + md5 per frame) and
    // derives boundaries purely from CONTENT — a frame opens a scene
    // iff its hash differs from its predecessor — while the oracle
    // derives ground truth from synthMp4Scenes' closed form (scene of
    // frame k = k DIV L), so a single mis-demuxed byte anywhere breaks
    // the gate. Plan: one mapPartitions demux + ONE per-media ordered
    // window (frames-per-video is bounded, so the window partition
    // never skews); no shuffle beyond the media_id exchange.
    "mm_scene_cuts" -> ((s, d) => sceneCuts(s, d)),

    // TRUE frame timestamps from the MP4 sample table (the companion to
    // mm_frame_sample's synthetic spacing): synthMp4Stts writes a full
    // moov/trak/mdia/mdhd/minf/stbl/stts hierarchy per doc — two
    // run-length (count, delta) entries in a media timescale that
    // deliberately differs from the movie timescale — and
    // sampleFrameTimes must recover every kept sample's decode time by
    // expanding the actual stts bytes (cumulative delta sum, mdhd
    // timescale). The oracle recomputes each time from the synth
    // arithmetic, so a wrong box offset, a movie-vs-media timescale
    // mix-up, or an off-by-one in the run expansion breaks the hash.
    "mm_frame_times" -> ((s, d) =>
      graft.multimodal.Multimodal.sampleFrameTimes(
        synthDocs(s, d)(graft.multimodal.Multimodal.synthMp4Stts),
        stride = 2)),

    // Benchmark decontamination: flag training docs sharing any word
    // 8-gram with the held-out set (doc_id % 20 == 0 stands in for the
    // eval benchmark). The benchmark's distinct grams are BROADCAST —
    // the realistic asymmetry (benchmarks are tiny, the corpus is
    // 100 TB), so the corpus side streams once with no shuffle until the
    // final per-doc count. 8-gram construction stays in codegen
    // (posexplode + window leads, same path as winnowing).
    "txt_decontaminate" -> ((s, d) => heldOutContamination(s, d)._2),

    // CONTAMINATION REPORT — the per-source rollup a data audit ships:
    // how much of each source's training slice shares word 8-grams
    // with the held-out benchmark, as doc counts, gram mass, and the
    // contaminated share. One left join of the decontaminate flags
    // back onto the train slice + a source-cardinality aggregate; the
    // expensive pass (benchmark-gram broadcast probe) is the same one
    // txt_decontaminate already runs.
    "pipeline_contamination_report" -> ((s, d) => {
      val (train, flagged) = heldOutContamination(s, d)
      train.select(col("doc_id"), col("source"))
        .join(flagged, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_train_docs"),
          sum(when(col("n_shared_grams").isNotNull, 1L).otherwise(0L))
            .cast("long").as("n_contaminated"),
          coalesce(sum("n_shared_grams"), lit(0L)).cast("long")
            .as("total_shared_grams"))
        .withColumn("contaminated_share",
          round(col("n_contaminated").cast("double")
            / col("n_train_docs"), 6))
    }),

    // Gopher-style quality rules: token count, mean word length, and
    // stopword hits per doc, plus the combined keep flag. Pure per-row
    // projection over the token array — no shuffle at any scale.
    "txt_gopher_quality" -> ((s, d) => {
      val toks = tokens(col("text"))
      val stop = Seq("the", "be", "to", "of", "and", "a", "in", "that",
        "have", "with")
      Tables.documents(s, d).select(col("doc_id"), toks.as("toks"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_words"),
          round(when(size(col("toks")) > 0,
            aggregate(col("toks"), lit(0L), (acc, t) => acc + length(t))
              .cast("double") / size(col("toks"))).otherwise(0.0), 6)
            .as("mean_word_len"),
          size(filter(col("toks"), t => lower(t).isin(stop: _*)))
            .cast("long").as("n_stop"))
        .withColumn("keep",
          col("n_words").between(30, 100000) &&
            col("mean_word_len").between(3.0, 5.0) && col("n_stop") >= 2)
    }),

    // Fasttext-SHAPE linear classifier inference — the LEARNED quality
    // filter next to the heuristic Gopher rules above (production
    // pretraining pipelines run both: rules first, then a linear model
    // over hashed bag-of-words features). Hashing trick: every token
    // maps to one of 2^16 features via its md5 prefix — no vocabulary
    // join, no model state beyond a weight per feature — and the doc's
    // margin is the mean feature weight. The weights here are a FROZEN
    // deterministic function of the feature id (scoring always runs
    // with a frozen model; training is an offline job), kept in exact
    // integer milli-units so the per-doc sum is partition-order-exact
    // and the margin stays pure rational arithmetic (no exp/log — the
    // monotone logistic link adds no information to the keep gate and
    // would put cross-engine libm parity at risk). Plan shape: explode
    // → codegen'd hash/weight projection → ONE map-side-partial
    // groupBy(doc_id) — the inference sweep a 100 TB quality pass runs;
    // no UDF, no broadcast state, nothing driver-side.
    "txt_classifier_score" -> ((s, d) => classifierScore(s, d)),

    // TOKENIZER FERTILITY by language — subwords emitted per whitespace
    // word, the tokenizer-QA number that decides whether a vocab
    // under-serves a language (high fertility = more sequence length
    // per content; the multilingual-tokenizer acceptance metric). The
    // tokenizer is a fixed-width stand-in — every word splits into
    // ceil(len/4) 4-char pieces — because this corpus's words are pure
    // alphanumeric (the boundary-split subwordCount degenerates to
    // words, fertility ≡ 1.0 and the metric measures nothing); the
    // chunk form tracks the per-language word-LENGTH distribution,
    // which is exactly what real BPE fertility responds to. Pure
    // per-row projections into one tiny groupBy(lang); fertility is
    // milli-quantized by the exact-integer discipline.
    "tok_fertility" -> ((s, d) =>
      Tables.documents(s, d).select(coalesce(col("lang"), lit("")).as("lang"),
          tokenCount(col("text")).cast("long").as("nw"),
          aggregate(tokens(col("text")), lit(0L),
            (acc, t) => acc + ((length(t) + 3) / 4).cast("long"))
            .as("ns"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("nw").as("n_words"), sum("ns").as("n_subwords"))
        .filter(col("n_words") > 0)
        .select(col("lang"), col("n_docs"), col("n_words"),
          col("n_subwords"),
          (round((col("n_subwords") * 1000L).cast("double")
              / col("n_words"), 0)
            .cast("long").cast("double") / 1000.0).as("fertility"))),

    // PERPLEXITY BUCKETING — the data-mixing step that stratifies a
    // corpus by language-model surprisal (low-NLL buckets over-sample
    // boilerplate, high-NLL buckets concentrate noise; mixing recipes
    // draw per bucket). Per-doc mean unigram NLL (the
    // txt_unigram_logprob chain, micro-quantized) → EXACT interpolated
    // quartile cuts via one percentile aggregate (3 broadcast
    // scalars — never a global sort or single-partition ntile, which
    // would die at scale) → bucket = #cuts strictly below the doc's
    // NLL. Per-bucket count and micro-exact mean NLL.
    "txt_perplexity_bucket" -> ((s, d) => {
      val perDoc = unigramNll(s, d)
        .select(col("doc_id"),
          round(col("snll").cast("double") / col("n_tokens"), 0)
            .cast("long").as("mnll_micro"))
      val cuts = perDoc.agg(
        expr("percentile(mnll_micro, array(0.25D, 0.5D, 0.75D))")
          .as("qs"))
      perDoc.crossJoin(broadcast(cuts))
        .select(col("doc_id"), col("mnll_micro"),
          ((col("mnll_micro") > element_at(col("qs"), 1)).cast("long")
            + (col("mnll_micro") > element_at(col("qs"), 2)).cast("long")
            + (col("mnll_micro") > element_at(col("qs"), 3)).cast("long"))
            .as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum("mnll_micro").as("smn"))
        .select(col("bucket"), col("n_docs"),
          (round(col("smn").cast("double") / col("n_docs"), 0)
            .cast("long").cast("double") / 1000000.0).as("mean_nll"))
    }),

    // Fixed-size token chunking (context-window packing precursor):
    // each doc splits into contiguous 64-token chunks. Per-row array
    // slicing — embarrassingly parallel; chunk count derives from the
    // token count, so no state crosses rows.
    "chunk_docs" -> ((s, d) =>
      graft.api.GraftOps.chunkTokens(Tables.documents(s, d),
          "doc_id", "text", 64)),

    // SENTENCE-boundary chunking — the semantic RAG variant: chunks
    // break at sentence ends, never mid-sentence, so retrieval units
    // stay grammatical. The synthetic corpus has no punctuation, so the
    // query first BUILDS punctuated text deterministically (sentences
    // of 5+doc_id%5 tokens, '. '-joined — the synthWav discipline: the
    // derivation is the oracle contract) and the operator must then
    // genuinely parse it back: sentinel-replace + split on sentence
    // ends ([.!?] + space, group-ref replace — RE2-safe, no
    // lookbehind), token-count each sentence, and bucket sentences
    // into 16-token chunks by their token START OFFSET (prefix-sum
    // window — parallel-deterministic where greedy packing is
    // inherently sequential; a sentence crossing the boundary belongs
    // to its starting chunk). Chunk reassembly is a row-local ordered
    // fold; shuffles: one doc_id window + one (doc, chunk) rollup.
    "txt_sentence_chunk" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val sentinel = "\u0001"
      val base = Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("toks"),
          (lit(5) + pmod(col("doc_id"), lit(5))).cast("int").as("L"))
        .withColumn("n", size(col("toks")))
        .filter(col("n") > 0)
      val punct = base.select(col("doc_id"),
        concat(array_join(transform(
          sequence(lit(0), floor((col("n") - 1) / col("L")).cast("int")),
          i => array_join(slice(col("toks"), i * col("L") + 1, col("L")),
            " ")), ". "), lit(".")).as("ptext"))
      val sents = punct.select(col("doc_id"),
        posexplode(filter(split(regexp_replace(col("ptext"),
          "([.!?])\\s+", "$1" + sentinel), sentinel),
          x => trim(x) =!= "")).as(Seq("sent_idx", "sentence")))
      val w = Window.partitionBy("doc_id").orderBy("sent_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
      sents
        .withColumn("n_tok", size(tokens(col("sentence"))).cast("long"))
        .withColumn("cum_prev",
          coalesce(sum(col("n_tok")).over(w), lit(0L)))
        .withColumn("chunk_id", expr("cum_prev DIV 16"))
        .groupBy("doc_id", "chunk_id")
        .agg(count(lit(1)).as("n_sentences"),
          sum(col("n_tok")).as("n_tokens"),
          array_join(transform(array_sort(collect_list(
            struct(col("sent_idx"), col("sentence")))),
            x => x.getField("sentence")), " ").as("chunk_text"))
    }),

    // SLIDING-window chunking — the overlapping RAG variant of
    // chunk_docs (stride 48 < size 64 → 16-token overlap, so no answer
    // span is ever split across a retrieval boundary). Chunk k covers
    // tokens [k·stride, k·stride+size); generation stops at the first
    // window that reaches the end of the doc, so no tail chunk is a
    // strict subset of its predecessor. Same per-row slicing shape as
    // chunk_docs: embarrassingly parallel, the ~size/stride duplication
    // factor is the explicit storage cost of overlap.
    "chunk_sliding" -> ((s, d) => {
      val cSize = 64
      val stride = 48
      val t = Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .withColumn("n", size(col("toks")).cast("long"))
        .filter(col("n") > 0)
      t.select(col("doc_id"), col("toks"), col("n"),
          explode(sequence(lit(0L),
            greatest(ceil((col("n") - cSize).cast("double") / stride)
              .cast("long"), lit(0L)))).as("k"))
        .select(col("doc_id"), col("k").as("chunk_id"),
          array_join(slice(col("toks"),
            (col("k") * stride + 1).cast("int"), lit(cSize)), " ")
            .as("chunk_text"),
          least(lit(cSize.toLong), col("n") - col("k") * stride)
            .as("n_tokens"))
    }),

    // Corpus mixture reweighting: per-language sampling weights that
    // would rebalance the corpus to uniform language shares (the
    // data-mixture step before training). Two tiny aggregates + a
    // broadcast of the 1-row totals — no data-sized shuffle beyond the
    // language groupBy.
    "samp_mixture_weights" -> ((s, d) => {
      val counts = Tables.documents(s, d).groupBy("lang")
        .agg(count(lit(1)).as("n_docs"))
      val tot = counts.agg(sum("n_docs").as("total"),
        count(lit(1)).as("n_langs"))
      counts.crossJoin(broadcast(tot))
        .select(col("lang"), col("n_docs"),
          round(col("n_docs").cast("double") / col("total"), 6).as("share"),
          round((col("total").cast("double") / col("n_langs")) /
            col("n_docs"), 6).as("weight"))
    }),

    // Token-budget epoch planning (the data-budgeting step of a training
    // run): given per-source token counts, target mixture weights, and a
    // corpus-relative token budget (4× total tokens here), compute each
    // source's repeat factor (epochs, capped at 4× — the "don't repeat
    // data more than a few epochs" rule), its planned token count, and
    // its realized share of the final mixture. The only full-width pass
    // is the per-source token count (partial-agg map-side); everything
    // after runs on the source-cardinality table with broadcast 1-row
    // totals. Weights are a deterministic function of the source id
    // (1 + idx mod 5) so both engines derive the identical mixture;
    // swap in any weight table in production. All divisions are single
    // double ops over exact integer inputs (< 2^53), so the plan is
    // bit-stable across engines and partitionings.
    "samp_epoch_plan" -> ((s, d) => {
      val planned = epochPlan(s, d)
      val ptot = planned.agg(sum("planned_tokens").as("ptot"))
      planned.crossJoin(broadcast(ptot))
        .select(col("source"), col("n_tokens"), col("w"), col("epochs"),
          col("planned_tokens"),
          round(col("planned_tokens").cast("double") / col("ptot"), 6)
            .as("planned_share"))
    }),

    // EFFECTIVE token budget — the number the mixture planner should
    // actually use: raw per-source tokens shrink by what exact dedup
    // drops, and the retention ratio says how much each source's
    // nominal mass is inflated by duplication (a source that is 40%
    // dup contributes far less unique signal than its raw count
    // claims). Composes the dedup survivor set with the token count in
    // one left join + one grouped aggregate.
    "samp_effective_tokens" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val kept = graft.api.GraftOps.dedupExact(docs, "doc_id", "text")
        .select(col("doc_id")).withColumn("kept", lit(true))
      docs
        .select(col("doc_id"), col("source"),
          size(tokens(col("text"))).cast("long").as("n_tok"))
        .join(kept, Seq("doc_id"), "left")
        .withColumn("k", coalesce(col("kept"), lit(false)))
        .groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(when(col("k"), 0L).otherwise(1L)).cast("long")
            .as("n_dropped"),
          sum("n_tok").cast("long").as("raw_tokens"),
          sum(when(col("k"), col("n_tok")).otherwise(0L)).cast("long")
            .as("effective_tokens"))
        .withColumn("retention",
          round(col("effective_tokens").cast("double")
            / col("raw_tokens"), 6))
    }),

    // The LOADER SCHEDULE the epoch plan unrolls into: one row per
    // (source, pass), full passes at fraction 1.0 and the final
    // fractional pass carrying the remainder — what a data loader
    // actually iterates. Source-count × ≤4 rows total; the only
    // corpus-sized work is the shared per-source token count.
    "pipeline_train_manifest" -> ((s, d) =>
      epochPlan(s, d)
        .withColumn("n_passes", ceil(col("epochs")).cast("long"))
        .select(col("source"), col("n_tokens"), col("epochs"),
          explode(sequence(lit(1L), col("n_passes"))).as("pass"))
        .withColumn("pass_fraction",
          round(least(col("epochs") - (col("pass") - 1L).cast("double"),
            lit(1.0)), 6))
        .withColumn("pass_tokens",
          floor(col("pass_fraction") * col("n_tokens").cast("double")
            + 0.5).cast("long"))
        .select(col("source"), col("pass"), col("epochs"),
          col("pass_fraction"), col("pass_tokens"))),

    // VOCABULARY GROWTH (Heaps-law curve) — how fast the vocab grows
    // as the corpus grows, the number that sizes a tokenizer's vocab
    // budget: the corpus splits into 10 doc_id deciles, each term maps
    // to the FIRST decile it appears in (one groupBy(term) min —
    // the only vocab-sized shuffle), and the running sum over the
    // 10-row decile table is the cumulative-vocabulary curve. No
    // cumulative re-scans: the curve costs one corpus pass + a 10-row
    // rollup at any scale.
    "txt_vocab_growth" -> ((s, d) => {
      val nd = Tables.documents(s, d).agg(max("doc_id").as("mx"))
      val termDec = Tables.documents(s, d)
        .crossJoin(broadcast(nd))
        .select(explode(tokens(col("text"))).as("term"),
          least(expr("(doc_id * 10) DIV (mx + 1)"), lit(9L)).as("dec"))
        .distinct().localCheckpoint()
      val seen = termDec.groupBy(col("dec").as("decile"))
        .agg(count(lit(1)).cast("long").as("seen_terms"))
      val fresh = termDec.groupBy("term").agg(min("dec").as("decile"))
        .groupBy("decile").agg(count(lit(1)).cast("long").as("new_terms"))
      // 10-row decile table: the unpartitioned window is bounded.
      val w = org.apache.spark.sql.expressions.Window.orderBy("decile")
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)
      seen.join(fresh, Seq("decile"), "left")
        .select(col("decile"), col("seen_terms"),
          coalesce(col("new_terms"), lit(0L)).as("new_terms"))
        .withColumn("cum_vocab",
          sum("new_terms").over(w).cast("long"))
    }),

    // Sequence-LENGTH HISTOGRAM — the distribution that sizes packing
    // bins and context budgets before a layout job runs: documents
    // bucketed by token count into a fixed power-of-two ladder (a CASE
    // ladder, not floating log2, so bucket edges are engine-exact),
    // with doc and token mass per bucket. One partial-aggregated pass;
    // the histogram is bucket-count rows at any corpus size.
    "tok_len_histogram" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(size(tokens(col("text"))).cast("long").as("n_tok"))
        .withColumn("bucket",
          when(col("n_tok") <= 16L, "<=16")
            .when(col("n_tok") <= 32L, "<=32")
            .when(col("n_tok") <= 64L, "<=64")
            .when(col("n_tok") <= 128L, "<=128")
            .when(col("n_tok") <= 256L, "<=256")
            .otherwise(">256"))
      val tot = docs.agg(count(lit(1)).as("total"))
      docs.groupBy("bucket")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum("n_tok").cast("long").as("n_tokens"))
        .crossJoin(broadcast(tot))
        .select(col("bucket"), col("n_docs"), col("n_tokens"),
          round(col("n_docs").cast("double") / col("total"), 6)
            .as("share"))
    }),

    // Deterministic global shuffle (training-order randomization):
    // position = rank under md5(doc_id) order. Same distributed-rank
    // shape as w4_ntile — the hash's first byte is a monotone bucket, so
    // per-bucket row_number + broadcast cumulative offsets give the
    // exact global position without a single-partition sort.
    "shuf_deterministic" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val keyed = Tables.documents(s, d)
        .select(col("doc_id"), md5(col("doc_id").cast("string")).as("k"))
        .withColumn("bkt", conv(substring(col("k"), 1, 2), 16, 10)
          .cast("int"))
      val wIn = Window.partitionBy("bkt").orderBy("k", "doc_id")
      val counts = keyed.groupBy("bkt").agg(count(lit(1)).as("cnt"))
      val offs = graft.api.GraftOps.cumulativeOffsets(counts, "bkt", "cnt")
      keyed.join(broadcast(offs), Seq("bkt"))
        .select(col("doc_id"),
          (col("off") + row_number().over(wIn)).cast("long").as("pos"))
    }),

    // Curriculum ordering: docs bucketed into 4 difficulty phases (by
    // length — swap in any quality score) with a DETERMINISTIC shuffle
    // inside each phase, giving the (phase, pos) training order a
    // curriculum loader consumes. Same scale machinery as
    // shuf_deterministic — md5-prefix buckets + per-(phase,bucket)
    // window + broadcast per-phase cumulative offsets — so no phase ever
    // sorts on a single reducer: a phase holds ~corpus/4 rows, which at
    // 100 TB must spread across its 256 hash buckets.
    "curriculum_order" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val phased = Tables.documents(s, d)
        .select(col("doc_id"),
          when(col("n_chars") < 150, 1L).when(col("n_chars") < 300, 2L)
            .when(col("n_chars") < 450, 3L).otherwise(4L).as("phase"),
          md5(col("doc_id").cast("string")).as("k"))
        .withColumn("bkt", conv(substring(col("k"), 1, 2), 16, 10)
          .cast("int"))
      val counts = phased.groupBy("phase", "bkt").agg(count(lit(1)).as("cnt"))
      // Per-phase cumulative bucket offsets (the bucket prefix of k makes
      // bucket-ascending + k-ascending == plain k-ascending per phase).
      val offs = graft.api.GraftOps.cumulativeOffsets(
        counts, "bkt", "cnt", partitionCols = Seq("phase"))
      val wIn = Window.partitionBy("phase", "bkt").orderBy("k", "doc_id")
      phased.join(broadcast(offs), Seq("phase", "bkt"))
        .select(col("doc_id"), col("phase"),
          (col("off") + row_number().over(wIn)).cast("long").as("pos"))
    }),

    // Incremental ingest near-dedup: the new batch (doc_id % 5 == 0 —
    // the arriving snapshot) probes the EXISTING corpus's LSH band index
    // and is flagged when any band bucket collides. This is how dedup
    // actually runs in production: the corpus bands are a stored index
    // that each new batch semi-joins — one shuffle on (band_idx,
    // band_hash), never a corpus rescan. Batch-internal dups are the
    // already-covered dedup_minhash_* path; this query isolates the
    // cross-ingest modality.
    // EXACT set-similarity join (PPJoin prefix filtering): all doc
    // pairs with token-set Jaccard ≥ 0.9, found WITHOUT the all-pairs
    // shared-token join. Tokens order globally by (rarity, term); a
    // doc's PREFIX is its first sz − ⌊0.9·sz⌋ + 1 tokens (integer
    // arithmetic — (9·sz) DIV 10, no float boundary), and the
    // prefix-filter theorem guarantees any qualifying pair shares a
    // prefix token — so candidates come from the small rare-token
    // prefix buckets, then verify with a row-local sorted-array
    // intersect bounded by doc length. The ORACLE runs the naive
    // shared-token join: the optimization must be result-transparent,
    // which is exactly the theorem under test. The join is scoped to
    // ONE source shard — the deployment shape for an exact-threshold
    // join (this corpus is template-heavy, so the >=0.9 pair set is
    // itself near-quadratic across sources; measured 110 s at sf0.1
    // unscoped, and the cost is the OUTPUT, not the plan).
    // Cross-source near-dups remain the banded-MinHash path's job.
    "dedup_ppjoin" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d).filter(col("source") === "src0")
      val tok = docs.select(col("doc_id"),
        explode(array_distinct(tokens(col("text")))).as("term"))
      val freq = tok.groupBy("term").agg(count(lit(1)).as("df"))
      val wD = Window.partitionBy("doc_id").orderBy(col("df"), col("term"))
      val prefix = tok.join(freq, "term")
        .withColumn("pos", row_number().over(wD))
        .withColumn("sz",
          count(lit(1)).over(Window.partitionBy("doc_id")))
        .filter(col("pos") <= col("sz") - expr("(9 * sz) DIV 10") + 1L)
        .select(col("term"), col("doc_id"), col("sz"), col("pos"))
      // Positional bound as in dedup_ppjoin_g (t = 0.9 ⇒ α =
      // ⌈9·S/19⌉ = (9·S+18) DIV 19): exact for the same
      // first-shared-token reason; prunes the deepest prefix rows.
      val cands = prefix.as("a")
        .join(prefix.as("b"), col("a.term") === col("b.term")
          && col("a.doc_id") < col("b.doc_id")
          && (lit(1L) + least(col("a.sz") - col("a.pos"),
              col("b.sz") - col("b.pos")))
            >= expr("((a.sz + b.sz) * 9 + 18) DIV 19"))
        .select(col("a.doc_id").as("left_id"),
          col("b.doc_id").as("right_id")).distinct()
      val arrs = docs.select(col("doc_id"),
        array_sort(array_distinct(tokens(col("text")))).as("ta"))
      joinPairSides(cands, arrs, "doc_id",
          Seq("ta" -> "la"), Seq("ta" -> "ra"))
        .select(col("left_id"), col("right_id"),
          size(array_intersect(col("la"), col("ra"))).cast("long")
            .as("inter"),
          (size(col("la")) + size(col("ra"))
            - size(array_intersect(col("la"), col("ra")))).cast("long")
            .as("union_sz"))
        .withColumn("jacc",
          round(col("inter").cast("double") / col("union_sz"), 6))
        .filter(col("jacc") >= 0.9)
    }),

    // GLOBAL exact-threshold PPJoin (r14 VERDICT item 7): doc-pair
    // EXPANSION of the set-level core `ppjoinGlobalCore` (see its
    // Scaladoc for the three bounds). The complete pair set, no cap
    // (size logged in PLANS.md); the oracle is the naive shared-token
    // join, so the transparency of all three bounds is exactly what
    // the gate verifies. A 100 TB consumer should prefer
    // `dedup_ppjoin_sets` — the set-level pairs + membership counts —
    // and expand only where needed: the doc-pair expansion of a
    // 25k-doc clique is ~300M rows of pure redundancy.
    "dedup_ppjoin_g" -> ((s, d) =>
      ppjoinGlobalPairs(Tables.documents(s, d), Some(d))),

    // SET-LEVEL form of the global PPJoin (r15 VERDICT item 3) — the
    // shape a 100 TB consumer actually wants: one row per qualifying
    // pair of DISTINCT token sets (plus one self-row per exact-dup
    // clique of ≥2 docs), carrying membership counts and the implied
    // doc-pair count, BEFORE any doc expansion. `dedup_ppjoin_g` is
    // exactly the expansion of this table through the membership list:
    // sum(doc_pairs) here == row count there (spec-pinned). Sets are
    // keyed by their min member doc_id so the output is oracle-
    // comparable without exposing md5 setids.
    "dedup_ppjoin_sets" -> ((s, d) => {
      val (_, setPairs, members, reps) =
        ppjoinGlobalCore(Tables.documents(s, d), Some(d))
      val stats = members.groupBy("setid")
        .agg(min("doc_id").cast("long").as("rk"),
          count(lit(1)).as("n"))
        .join(reps, Seq("setid"))
        .select(col("setid"), col("rk"), col("n"),
          size(col("ta")).cast("long").as("sz"))
      val cross = setPairs
        .join(stats.select(col("setid").as("sa"), col("rk").as("rka"),
          col("n").as("na")), Seq("sa"))
        .join(stats.select(col("setid").as("sb"), col("rk").as("rkb"),
          col("n").as("nb")), Seq("sb"))
        .select(least(col("rka"), col("rkb")).as("set_a"),
          greatest(col("rka"), col("rkb")).as("set_b"),
          col("inter"), col("union_sz"), col("jacc"),
          when(col("rka") <= col("rkb"), col("na")).otherwise(col("nb"))
            .as("members_a"),
          when(col("rka") <= col("rkb"), col("nb")).otherwise(col("na"))
            .as("members_b"),
          (col("na") * col("nb")).as("doc_pairs"))
      val intra = stats.filter(col("n") >= 2)
        .select(col("rk").as("set_a"), col("rk").as("set_b"),
          col("sz").as("inter"), col("sz").as("union_sz"),
          lit(1.0).as("jacc"),
          col("n").as("members_a"), col("n").as("members_b"),
          expr("n * (n - 1) DIV 2").as("doc_pairs"))
      cross.unionByName(intra)
    }),

    // Incremental INDEX MAINTENANCE — the write side of the stored
    // band index dedup_incremental probes: a new ingest batch's band
    // buckets are merged into the index under FIRST-WINS ownership
    // (an existing bucket keeps its canonical owner; only genuinely
    // new buckets insert, tagged generation='ingest'). First-wins is
    // the invariant that makes incremental dedup deterministic — a
    // re-run of the same ingest can never steal ownership and flip
    // earlier verdicts. Both sides aggregate and anti-join on the SAME
    // (band_idx, band_hash) key — one co-partitioned shuffle family,
    // no corpus rescan, which is the entire write path at 100 TB.
    "idx_band_upsert" -> ((s, d) => {
      val bands = bandIndex(s, d) // the stored index (see its Scaladoc)
      val base = bands.filter(col("doc_id") % 5 =!= 0)
        .groupBy("band_idx", "band_hash")
        .agg(min("doc_id").cast("long").as("owner"))
      val fresh = bands.filter(col("doc_id") % 5 === 0)
        .groupBy("band_idx", "band_hash")
        .agg(min("doc_id").cast("long").as("owner"))
        .join(base.select("band_idx", "band_hash"),
          Seq("band_idx", "band_hash"), "left_anti")
      base.withColumn("generation", lit("base"))
        .unionByName(fresh.withColumn("generation", lit("ingest")))
    }),

    "dedup_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bands = bandIndex(s, d) // the stored index (see its Scaladoc)
      val ex = bands.filter(col("doc_id") % 5 =!= 0)
        .select("band_idx", "band_hash").distinct()
      val hits = bands.filter(col("doc_id") % 5 === 0)
        .join(ex, Seq("band_idx", "band_hash"), "left_semi")
        .select("doc_id").distinct()
        .withColumn("hit", lit(true))
      docs.filter(col("doc_id") % 5 === 0)
        .select("doc_id", "lang", "source")
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"), col("source"),
          coalesce(col("hit"), lit(false)).as("near_dup_of_corpus"))
    }),

    // Block-level corpus dedup (CCNet/RefinedWeb paragraph dedup, with
    // 16-token blocks standing in for paragraphs): keep only the
    // corpus-wide first occurrence of each block, reassemble each doc
    // from its surviving blocks. Occurrence ranking partitions by the
    // block content hash — groupBy-shaped, no global order.
    "dedup_lines" -> ((s, d) =>
      graft.api.GraftOps.dedupBlocks(Tables.documents(s, d),
          "doc_id", "text", 16)),

    // Sequence packing: 64-token chunks streamed in deterministic
    // (doc_id, chunk_id) order into 512-token training bins via the
    // distributed global prefix-sum (bucket cumsum + broadcast offsets —
    // no single-partition sort). Per-bin occupancy is the payload a
    // batching loader needs; fill ratio exposes the tail waste.
    "pack_chunks" -> ((s, d) =>
      graft.api.GraftOps.packChunks(Tables.documents(s, d),
          "doc_id", "text", 64, 512)
        .groupBy("bin_id").agg(
          count(lit(1)).as("n_chunks"),
          sum("n_tokens").as("n_tokens"))
        .withColumn("fill",
          round(col("n_tokens").cast("double") / 512.0, 6))),

    // Shard ASSEMBLY — the step after pack_chunks' bin assignment: each
    // bin's chunks concatenated in deterministic (doc_id, chunk_id)
    // order with an <eod> separator, i.e. the actual byte stream a
    // pretraining loader memory-maps. The shard text is md5'd so the
    // oracle compare stays scalar; per-bin fan-in is bounded by the bin
    // token budget (512 here), so the row-local sort+join never sees an
    // unbounded group. Chunk text rides a (doc, chunk) equi-join back
    // onto the bin table — at 100 TB both sides partition on the same
    // key pair.
    "pack_shards" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val packed = graft.api.GraftOps
        .packChunks(docs, "doc_id", "text", 64, 512)
      val chunks = graft.api.GraftOps
        .chunkTokens(docs, "doc_id", "text", 64)
        .select(col("doc_id"), col("chunk_id"), col("chunk_text"))
      packed.join(chunks, Seq("doc_id", "chunk_id"))
        .groupBy("bin_id").agg(
          count(lit(1)).as("n_chunks"),
          sum("n_tokens").as("n_tokens"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("doc_id"), col("chunk_id"),
              col("chunk_text")))),
            x => x.getField("chunk_text")), "<eod>")).as("shard_md5"))
    }),

    // THE end-to-end pretraining-data layout job, composed from the
    // library's own stages: quality/language gate + exact dedup (the
    // pipeline_clean_corpus gates) → 64-token chunking → corpus-wide
    // chunk dedup (first occurrence wins) → pack survivors into
    // 512-token training bins in deterministic corpus order. Output is
    // the per-bin occupancy a batching loader consumes. Every stage is
    // shuffle-bounded: gates are projections, dedup partitions by
    // content hash, packing is the distributed prefix-sum.
    "pipeline_pretrain_corpus" -> ((s, d) =>
      graft.api.GraftOps.packTokenRows(
        cleanChunksDeduped(s, d).select("doc_id", "chunk_id", "n_tokens"),
        "doc_id", 512)
        .groupBy("bin_id").agg(
          count(lit(1)).as("n_chunks"),
          sum("n_tokens").as("n_tokens"))),

    // Pipeline observability: the one-row stage-count report every
    // corpus-processing run logs — total docs, exact-dedup survivors,
    // quality-gate passes, both-gates survivors, then chunk-level
    // totals and unique chunks. Each count is a tiny scalar aggregate;
    // they cross-join into one row (all single-row broadcasts).
    "pipeline_dedup_report" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val (gated, keep) = cleanGate(docs)
      val clean = gated.join(keep, Seq("doc_id"), "left_semi")
      val chunks = graft.api.GraftOps.chunkTokens(
        clean.select("doc_id", "text"), "doc_id", "text", 64)
      docs.agg(count(lit(1)).as("n_docs"))
        .crossJoin(keep.agg(count(lit(1)).as("n_exact_unique")))
        .crossJoin(gated.agg(count(lit(1)).as("n_quality_pass")))
        .crossJoin(clean.agg(count(lit(1)).as("n_clean")))
        // One pass over the chunk pipeline for both chunk counters.
        .crossJoin(chunks.agg(count(lit(1)).as("n_chunks"),
          countDistinct(md5(col("chunk_text"))).as("n_unique_chunks")))
    }),

    // Unigram-LM negative log-likelihood per doc — the perplexity-proxy
    // quality filter (CCNet ranks documents by LM perplexity; a unigram
    // model is its declarative in-corpus stand-in). Token probabilities
    // come from exact corpus counts; each token's −ln p rounds to 6
    // places (the proven cross-engine log discipline from tfidf) and
    // sums as exact scaled longs, so partial-aggregation order can't
    // move the mean.
    "txt_unigram_logprob" -> ((s, d) => {
      unigramNll(s, d)
        // Mean micro-nats via EXACT integer half-up division — the
        // obvious round(S/1e6/n, 6) hits genuine half-ties (S/n ending
        // in .5 micro-nats; 19 docs at sf1) where Spark's
        // BigDecimal-HALF_UP and DuckDB's multiply-then-std::round
        // resolve the tie from opposite sides of the double's
        // representation error. (2S+n) DIV 2n is tie-free in both
        // engines, and /1e6 of an exact integer is one correctly-
        // rounded IEEE op — cross-engine identical.
        .select(col("doc_id"), col("n_tokens"),
          (expr("(snll * 2 + n_tokens) DIV (n_tokens * 2)")
            .cast("double") / 1000000.0).as("mean_nll"))
    }),

    // Closes the mixture-rebalancing loop: the per-language uniform
    // weights samp_mixture_weights computes, APPLIED as deterministic
    // per-row sampling rates. keep-probability p = min(1, weight) maps
    // to a 4-hex-digit md5 cutoff ('g' > any hex digit handles p = 1);
    // the per-language cutoffs broadcast and the corpus side is a pure
    // filter — no shuffle, reproducible on any engine.
    "samp_weighted" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("lk", coalesce(col("lang"), lit("")))
      val c = docs.groupBy("lk").agg(count(lit(1)).as("n_docs"))
      val t = c.agg(sum("n_docs").cast("long").as("total"),
        count(lit(1)).as("n_langs"))
      val cut = c.crossJoin(broadcast(t))
        .select(col("lk"),
          (least(lit(1.0),
            (col("total").cast("double") / col("n_langs")) / col("n_docs"))
            * 65536.0).cast("long").as("cutoff"))
        .select(col("lk"),
          when(col("cutoff") >= 65536L, lit("g"))
            .otherwise(format_string("%04x", col("cutoff"))).as("cut_hex"))
      docs.join(broadcast(cut), Seq("lk"))
        .filter(substring(md5(concat(col("lk"), lit(":"),
          col("doc_id").cast("string"))), 1, 4) < col("cut_hex"))
        .select("doc_id", "lang")
    }),

    // Exact-substring dedup APPLIED (the removal step after
    // dedup_substring_spans' detection, Lee et al. 2022): every token of
    // doc_b covered by a cross-doc shared span is dropped (doc_a — the
    // lower id — keeps its copy), and the document is reassembled from
    // the survivors in position order. Span ranges explode to (doc, pos)
    // rows (bounded: spans are rare by the occurrence cap), the corpus
    // anti-joins that removal set on (doc, pos), and reassembly is one
    // groupBy with a sorted collect — the same bounded-fan-out shapes as
    // the detector, nothing global.
    "txt_span_removal" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val spans = spansCore(s, d)
      val rm = spans
        .select(col("doc_b").as("doc_id"),
          explode(sequence(col("start_b"),
            col("start_b") + col("span_tokens") - 1)).as("pos"))
        .distinct()
      val tok = docs
        .select(col("doc_id"),
          posexplode(tokens(col("text"))).as(Seq("p", "tok")))
        .select(col("doc_id"), col("p").cast("long").as("pos"), col("tok"))
      val kept = tok.join(rm, Seq("doc_id", "pos"), "left_anti")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")), " ")).as("clean_hash"))
      docs.select(col("doc_id"),
          tokenCount(col("text")).cast("long").as("n_tokens"))
        .join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("clean_hash"), md5(lit(""))).as("clean_hash"))
    }),

    // Language-ID confusion matrix: the heuristic classifier
    // (txt_lang_id) scored against the labeled lang column — (actual,
    // predicted, n) cells plus per-cell share of the actual class. The
    // eval loop every classifier-driven filter needs before it gates a
    // corpus; one projection + one language²-sized groupBy.
    "txt_lang_confusion" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val cells = Tables.documents(s, d)
        .select(coalesce(col("lang"), lit("")).as("actual"),
          langId(tokens(col("text"))).as("predicted"))
        .groupBy("actual", "predicted").agg(count(lit(1)).as("n"))
      cells
        .withColumn("n_actual",
          sum("n").over(Window.partitionBy("actual")))
        .select(col("actual"), col("predicted"), col("n"),
          round(col("n").cast("double") / col("n_actual").cast("double"),
            6).as("share"))
    }),

    // Temperature-scaled language mixture (the multilingual-LM sampling
    // standard, α = 0.5): w_l ∝ (n_l/N)^α, which at α = ½ is
    // sqrt(n_l)/Σ sqrt(n_k) — N cancels, and sqrt (unlike pow) is
    // IEEE-correctly-rounded on both engines (the agg_skew_kurt
    // discipline). Each sqrt rounds to 6 places and scales to an exact
    // long; the denominator is then an exact integer sum, so the final
    // division has identical operands everywhere.
    "samp_temperature" -> ((s, d) => {
      val c = Tables.documents(s, d)
        .groupBy(coalesce(col("lang"), lit("")).as("lang"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("sq",
          micro(sqrt(col("n_docs"))))
      val den = c.agg(sum("sq").as("den"))
      // Half-up at the 6th decimal in exact integer form —
      // floor((2·sq·1e6 + den) / 2·den) — not engine round(): sq/den is
      // an integer ratio that can land exactly on a half, where Spark's
      // and DuckDB's round() disagree (the txt_bigram_logprob incident).
      c.crossJoin(broadcast(den))
        .select(col("lang"), col("n_docs"),
          (floor((col("sq").cast("double") * 2000000.0
              + col("den").cast("double"))
            / (col("den").cast("double") * 2.0)) / 1000000.0).as("weight"))
    }),

    // DSIR-style importance weights (Xie et al. 2023): per-document mean
    // log-ratio between a TARGET unigram LM (here: the English slice)
    // and the overall corpus LM, add-one smoothed over the corpus vocab.
    // exp(weight) is the importance-resampling rate that reshapes a raw
    // corpus toward the target distribution. Both LMs come from exact
    // counts in ONE corpus scan (the target count is a conditional sum in
    // the same aggregate); per-token log-ratios round to 6 places and sum
    // as scaled longs with half-away-from-zero encoding (ratios go
    // negative, so the +0.5 trick gains a sign guard — same discipline
    // as emb_quantize_int8's rounding).
    "samp_importance" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val tok = docs
        .select(col("doc_id"), col("lang"),
          explode(tokens(col("text"))).as("term"))
      val vocab = tok.groupBy("term").agg(
        count(lit(1)).as("c_all"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("c_tgt"))
      val tot = vocab.agg(sum("c_all").cast("long").as("t_all"),
        sum("c_tgt").cast("long").as("t_tgt"),
        count(lit(1)).cast("long").as("v"))
      val llr =
        round(log((col("c_tgt") + 1L).cast("double")
            / (col("t_tgt") + col("v")).cast("double"))
          - log((col("c_all") + 1L).cast("double")
            / (col("t_all") + col("v")).cast("double")), 6)
      tok.join(vocab, "term").crossJoin(broadcast(tot))
        .withColumn("sllr", (llr * 1000000.0
          + when(llr >= 0, 0.5).otherwise(-0.5)).cast("long"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum("sllr").as("ssum"))
        // Mean stays in the scaled-long domain to the end (r15 sf0.1
        // gate find): round(ssum/1e6/n, 6) double-rounds — Spark's
        // BigDecimal HALF_UP and DuckDB's multiply-trunc disagree by
        // one ulp at .5 micro boundaries, and a tiny negative mean
        // rounds to -0.0 in DuckDB but +0.0 in Spark. Instead:
        // half-away integer rounding of ssum/n on ABSOLUTE values
        // (truncating and flooring division agree on non-negatives,
        // so DIV here and // in the oracle match), then ONE exact
        // int/1e6 division — bit-identical doubles, no signed zero.
        .withColumn("__micro",
          expr("(2 * abs(ssum) + n_tokens) DIV (2 * n_tokens)")
            * when(col("ssum") < 0, -1L).otherwise(1L))
        .select(col("doc_id"), col("n_tokens"),
          (col("__micro").cast("double") / 1000000.0).as("mean_llr"))
    }),

    // Duplicated-substring spans (the exact-substring dedup modality,
    // approximated at 8-gram granularity): shared rare 8-grams seed
    // matches; runs of consecutive seeds on the same (pair, diagonal)
    // are maximal shared spans. Grams above the occurrence cap are
    // dropped (boilerplate / fanout bound).
    "dedup_substring_spans" -> ((s, d) => spansCore(s, d)),

    // LSH quality evaluation — for every minhash candidate pair, the
    // EXACT 3-gram Jaccard and how many of the 4 bands agreed: the
    // measurement that tunes the band/row trade-off (band-agreement
    // histogram vs true similarity) instead of guessing it. Pair list
    // is the bucket-local candidate set; exact Jaccard joins shingle
    // rows only for those pairs.
    "dedup_minhash_eval" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // A pair lands in a band's bucket exactly iff that band's hashes
      // AGREE — so n_bands_agree is the pair's emission count across
      // band buckets, free at generation time. (The earlier form joined
      // the band table back twice per pair to recount what the bucket
      // membership already knew — two shuffles gone.)
      // The per-band emission under the same bucket cap as
      // candidatePairsFromBands: a hot boilerplate bucket must not
      // collect unbounded or emit n² pairs here either. Under the cap
      // (always, at tested SFs) n_bands_agree counts every band
      // agreement; over it, same-sub-bucket agreements.
      val agree = graft.api.GraftOps.bandPairs(
          graft.api.GraftOps.minhashBands(docs, "doc_id", "text"), "doc_id")
        .groupBy("left_id", "right_id")
        .agg(count(lit(1)).as("n_bands_agree"))
        .localCheckpoint()
      val pairs = agree.select("left_id", "right_id")
      // Shingle only the docs that appear in some candidate pair (a
      // left-semi prune): exact Jaccard is pair-scoped, so the corpus
      // never re-tokenizes — at 100 TB the candidate set is the tiny
      // side by construction. Each pruned doc keeps its DISTINCT
      // shingle set as one array row (row-local array_distinct) and
      // |A∩B| is a per-pair array_intersect — two joins instead of the
      // previous explode→distinct→double-join chain, which exchanged
      // shingle ROWS four times for the same answer. Measured a wash at
      // sf0.1 (the shared minhash/banding upstream dominates) but four
      // fewer exchanges on the pair-scoped stage is the shape that
      // wins when the candidate set grows with the corpus. No
      // broadcast hint on the set side: pair-doc shingle sets scale
      // with the corpus, so the join must stay distributed (AQE still
      // broadcasts when small).
      val pairIds = pairs.select(col("left_id").as("doc_id"))
        .union(pairs.select(col("right_id").as("doc_id"))).distinct()
      val sets = docs.join(broadcast(pairIds), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), distinctShingles(col("text"), 3).as("sh"))
      joinPairSides(agree, sets, "doc_id",
          Seq("sh" -> "sh_l"), Seq("sh" -> "sh_r"), "left")
        .withColumn("sz_l",
          size(coalesce(col("sh_l"), array().cast("array<string>"))))
        .withColumn("sz_r",
          size(coalesce(col("sh_r"), array().cast("array<string>"))))
        .withColumn("inter", size(array_intersect(
          coalesce(col("sh_l"), array().cast("array<string>")),
          coalesce(col("sh_r"), array().cast("array<string>")))))
        .withColumn("un",
          (col("sz_l") + col("sz_r") - col("inter")).cast("long"))
        .select(col("left_id"), col("right_id"), col("n_bands_agree"),
          // Two empty shingle sets are identical: Jaccard 1 by
          // convention (default-signature pairs land here).
          when(col("un") > 0,
            round(col("inter").cast("double")
              / col("un").cast("double"), 6))
            .otherwise(1.0).as("jacc"))
    }),

    // Dedup retention policy: near-dup clusters (same bounded-round CC
    // as dedup_cluster_cc) keep their BEST member — longest text, id as
    // tiebreak — instead of the arbitrary min-id canonical. This is the
    // policy composition an actual corpus clean uses: cluster, then
    // argmax quality within cluster.
    "cluster_keep_best" -> ((s, d) =>
      keepBest(nearDupClusters(s, d),
        Tables.documents(s, d).select("doc_id", "n_chars"),
        "doc_id", "n_chars")),

    // BPE merge learning — the classic byte-pair-encoding training loop
    // (Sennrich et al. 2016), run over the DISTINCT-WORD frequency table,
    // never the corpus: at 100 TB the corpus is petabytes but the
    // vocabulary obeys Heaps' law (~millions of rows), so after one
    // corpus-wide word count every iteration aggregates a
    // vocabulary-sized table and ships exactly ONE row (the argmax pair)
    // to the driver. Merge application is a boundary-guarded literal
    // replace (' a b ' → ' ab ') iterated to fixpoint (3× covers the
    // longest overlap chain at word length ≤ ~16) — identical
    // left-to-right replace-all semantics on both engines, so the learned
    // merge sequence is bit-deterministic. Ties break (count DESC, pair
    // ASC). localCheckpoint truncates the growing replace lineage
    // (spark-perf finding: iterative loops re-derive the full chain
    // otherwise).
    "tok_bpe_learn" -> ((s, d) => {
      import s.implicits._
      bpeLearn(s, d)._2.toDF("step", "merge", "pair_count").orderBy("step")
    }),

    // BPE tokenization APPLIED corpus-wide: each document's token count
    // under the learned merge table. The per-word symbol count is
    // computed ONCE on the vocabulary table and broadcast-joined back to
    // the exploded corpus — at 100 TB the expensive merge application
    // never touches a corpus row, only the Heaps'-law vocabulary.
    "tok_bpe_apply" -> ((s, d) => {
      val wc = bpeLearn(s, d)._1
        .select(col("word"),
          size(split(trim(col("sp")), " ")).cast("long").as("n_sym"))
      Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
        .join(broadcast(wc), Seq("word"))
        .groupBy("doc_id").agg(sum("n_sym").as("n_bpe_tokens"))
    }),

    // Tokenizer EVAL summary — fertility (BPE tokens per word) and
    // compression (chars per BPE token), the two numbers that decide
    // whether a learned vocab is worth shipping (fertility near 1 ⟺
    // merges cover the corpus; chars/token ≈ bytes saved per step).
    // One corpus pass joined to the broadcast learned vocab, one
    // global aggregate — integer sums, two exact divisions.
    "tok_bpe_compression" -> ((s, d) => {
      val wc = bpeLearn(s, d)._1
        .select(col("word"),
          size(split(trim(col("sp")), " ")).cast("long").as("n_sym"))
      Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("word"))
        .join(broadcast(wc), Seq("word"))
        .agg(count(lit(1)).as("n_words"),
          sum(length(col("word"))).as("n_chars"),
          sum(col("n_sym")).as("n_bpe_tokens"))
        .select(col("n_words"), col("n_chars"), col("n_bpe_tokens"),
          round(col("n_chars").cast("double") / col("n_bpe_tokens"), 6)
            .as("chars_per_token"),
          round(col("n_bpe_tokens").cast("double") / col("n_words"), 6)
            .as("fertility"))
    }),

    // Triangle counting over the minhash candidate-pair graph — the
    // standard "how clustered are my near-duplicates" graph statistic.
    // DEGREE-oriented enumeration (GraftOps.triangles): on a skewed
    // near-dup graph a low-id boilerplate hub under id-orientation owns
    // every incident edge's out-direction and the e1⋈e2 wedge join
    // explodes quadratically on its key; orienting low-degree →
    // high-degree caps per-node wedge fan-out at O(sqrt(m)) while
    // emitting the identical id-sorted triangle set (oracle-pinned).
    "graph_triangles" -> ((s, d) => {
      // Materialize the candidate-pair edge list ONCE — it feeds the
      // degree count and all three legs of the triangle join;
      // unmaterialized, each consumer re-runs the whole minhash
      // pipeline. No output orderBy: the triangle set is the result,
      // order is not part of the contract (the harness sorts before
      // hashing) — a global sort here is a pure extra range-Exchange.
      val pr = pairTable(s, d)
      graft.api.GraftOps.triangles(pr, "left_id", "right_id")
    }),

    // Bounded-hop BFS from a seed set over the near-dup candidate graph
    // — "everything within k merge steps of these documents", the reach
    // query behind contamination spread and takedown-propagation audits.
    // Same iterative discipline as connectedComponents/pageRank: each
    // round is one equi-join frontier expansion + a min-dist groupBy,
    // localCheckpoint truncating the growing lineage. k=3 rounds; at
    // 100 TB the frontier join shuffles on node id and the edge table is
    // bucketable by `a`, so every round is a single co-located shuffle.
    "graph_bfs" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pr = pairTable(s, d)
      val e = pr.select(col("left_id").as("a"), col("right_id").as("b"))
        .union(pr.select(col("right_id"), col("left_id")))
        .localCheckpoint(true)
      var dist = docs.filter(col("doc_id") < 10)
        .select(col("doc_id").as("node"), lit(0L).as("dist"))
      // Round state rides RoundCut (serialized blocks, N-2 released as
      // soon as N materializes); the static edge table above stays a
      // plain checkpoint — it's read every round, never superseded.
      val rc = new graft.operators.RoundCut()
      for (i <- 1 to BfsRounds) {
        val next = dist.filter(col("dist") === (i - 1).toLong)
          .join(e, col("node") === col("a"))
          .select(col("b").as("node"), lit(i.toLong).as("dist"))
        dist = dist.union(next)
          .groupBy("node").agg(min("dist").as("dist"))
        // Final frontier flows straight to the caller — checkpointing it
        // would add one eager job for a once-consumed table.
        if (i < BfsRounds) dist = rc.cut(dist)
      }
      dist
    }),

    // BM25 ranked retrieval (Robertson k1=1.2, b=0.75, Lucene's +1 idf
    // so every contribution stays positive) for a fixed query-term set —
    // the retrieval scorer an inverted index (idx_inverted) exists to
    // serve. ONE corpus scan total: the per-doc aggregate computes doc
    // length AND the five query-term tfs as conditional sums in the same
    // partial-aggregation pass (the earlier dl/tf two-branch form
    // tokenized the corpus twice — measured 2× this one). The per-doc
    // row then unpivots its tf columns to (doc, term, tf) rows, so
    // df/idf/avgdl are tiny aggregates over doc-count-sized tables and
    // no join against a separate length table is needed — len rides on
    // the row. Determinism: idf and each per-term contribution round to
    // 6 places (the proven cross-engine ln discipline) and sum as exact
    // scaled longs; top-20 ranks by the exact long score with doc_id
    // tiebreak, so the selected set is engine-independent.
    "txt_bm25_topk" -> ((s, d) =>
      bm25TopK(Tables.documents(s, d), Seq("doc_id"), "text", 20)),

    // Count-min sketch heavy hitters: the sublinear frequency sketch
    // next to the exact count (the same exact-vs-sketch pairing as
    // agg_approx_distinct, but deterministic — md5-derived row hashes,
    // so both engines build the identical 4×256 table). The sketch is
    // built from the term-count table, not the token stream: summing
    // counts into cells is occurrence-equivalent, and at 100 TB the
    // expensive pass is the one corpus word count (Heaps'-law vocab
    // after it); cells partial-aggregate map-side to ≤1024 rows, the
    // candidate probe is a broadcast join. Estimate = min over the 4
    // rows — always ≥ exact, equal here unless 256 buckets collide.
    "sketch_cms_heavy" -> ((s, d) => {
      def bkt(r: Column, t: Column): Column =
        conv(substring(md5(concat(r.cast("string"), lit(":"), t)), 1, 2),
          16, 10).cast("long")
      // The vocab-sized count table feeds BOTH the sketch cells and the
      // candidate probe — checkpoint it so the corpus word count runs
      // once, not once per branch.
      val tc = Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("exact_cnt"))
        .localCheckpoint()
      val cells = tc
        .select(col("exact_cnt"), col("term"),
          explode(sequence(lit(0), lit(3))).as("r"))
        .select(col("exact_cnt"), col("r"), bkt(col("r"), col("term")).as("bkt"))
        .groupBy("r", "bkt").agg(sum("exact_cnt").as("cell_cnt"))
      tc.orderBy(col("exact_cnt").desc, col("term")).limit(30)
        .select(col("term"), col("exact_cnt"),
          explode(sequence(lit(0), lit(3))).as("r"))
        .withColumn("bkt", bkt(col("r"), col("term")))
        .join(broadcast(cells), Seq("r", "bkt"))
        .groupBy("term", "exact_cnt")
        .agg(min("cell_cnt").as("cms_est"))
    }),

    // Per-domain document cap (RefinedWeb/C4-style source balancing):
    // keep at most 10 docs per source, preferring longer documents with
    // a doc_id tiebreak. One PARTITIONED window — parallelism scales
    // with the domain count; a mega-domain streams its partition once.
    // At 100 TB, pre-shrink skewed domains with an approximate per-
    // domain length threshold before the exact window.
    "samp_domain_cap" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source")
        .orderBy(col("n_chars").desc, col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 10)
    }),

    // Exact phrase query from positional postings — the retrieval shape
    // an inverted index with positions (idx_inverted's natural
    // extension) serves: fetch the two terms' posting lists, equi-join
    // on (doc, adjacent position). Against a STORED index at 100 TB the
    // corpus scan disappears entirely — only the two posting lists are
    // read; the join key (doc_id, pos) co-partitions both sides.
    "idx_phrase" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(tokens(col("text"))).as(Seq("pos", "term")))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
          col("term"))
      val t1 = tok.filter(col("term") === PhraseW1)
        .select(col("doc_id"), col("pos"))
      val t2 = tok.filter(col("term") === PhraseW2)
        .select(col("doc_id"), (col("pos") - 1L).as("pos"))
      t1.join(t2, Seq("doc_id", "pos"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_hits"), min("pos").as("first_pos"))
    }),

    // Interpolated bigram language model, mean NLL per document — the
    // next step up from txt_unigram_logprob's perplexity filter:
    // p(w2|w1) = 0.75·c12/c1 + 0.25·c2/T, all counts exact corpus
    // counts. The bigram stream is one scan + one partitioned window;
    // count tables join back on their own keys (vocabulary-sized,
    // Heaps' law — broadcastable at any corpus scale). Per-position
    // -ln rounds to 6 places and sums as scaled longs (the proven
    // cross-engine ln discipline). The interpolation is evaluated as
    // ONE exact integer ratio (3·c12·T + c2·c1)/(4·c1·T) — float
    // sum-of-products ordering differs across engines and flipped a
    // 6-decimal rounding boundary; the integer form feeds ln
    // bit-identical arguments. (Products stay < 2^53 at test scale; a
    // 100 TB corpus would compute the ratio in DECIMAL first.)
    "txt_bigram_logprob" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val bg = Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(tokens(col("text"))).as(Seq("pos", "w1")))
        .withColumn("w2", lead(col("w1"), 1).over(w))
        .filter(col("w2").isNotNull)
        .select("doc_id", "w1", "w2")
      val uni = Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val tot = uni.agg(sum("c").cast("long").as("t"))
      val bc = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      bg.join(bc, Seq("w1", "w2"))
        .join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
        .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
        .crossJoin(broadcast(tot))
        .withColumn("nll", micro(-log(
            (lit(3L) * col("c12") * col("t") + col("c2") * col("c1"))
              .cast("double")
              / (lit(4L) * col("c1") * col("t")).cast("double"))))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum("nll").as("snll"))
        // snll/n can land EXACTLY on a half at the 6th decimal (it did:
        // 46861227/14), where Spark's decimal round and DuckDB's
        // scale-then-round disagree. So no engine round here: half-up
        // the 1e6-scaled mean in exact integer form, floor((2s+n)/2n),
        // then one exact division — bit-identical on any engine.
        .select(col("doc_id"), col("n_bigrams"),
          (floor((lit(2L) * col("snll") + col("n_bigrams")).cast("double")
              / (lit(2L) * col("n_bigrams")).cast("double"))
            / 1000000.0).as("mean_nll"))
    })
  )

  /** Fixed phrase for idx_phrase — shared with its oracle. */
  private val PhraseW1 = "order"
  private val PhraseW2 = "fast"

  /** BFS rounds for graph_bfs — shared with its generated oracle. */
  private val BfsRounds = 3

  /** Fixed query-term set for txt_bm25_topk — shared with its oracle. */
  private[queries] val Bm25Terms = Seq("spark", "window", "hash", "vector", "stream")

  /** Single-pass BM25 top-k over `units` (one text per keyCols row):
    * one tokenize pass computes unit length and the query-term tfs as
    * conditional sums, tf rows unpivot with length riding along,
    * df/idf/avgdl are tiny broadcasts, contributions round to 6 places
    * and sum as exact scaled longs, ranking ties break on the full key.
    * Shared by txt_bm25_topk (unit = document) and pipeline_rag_corpus
    * (unit = deduped chunk) so the determinism recipe and the
    * k1=1.2 / b=0.75 constants live in exactly one place. */
  private[queries] def bm25TopK(units: DataFrame, keyCols: Seq[String],
      textCol: String, k: Int): DataFrame = {
    val keys = keyCols.map(col)
    val perUnit = units
      .select(keys :+ explode(tokens(col(textCol))).as("term"): _*)
      .groupBy(keys: _*).agg(
        count(lit(1)).as("len"),
        Bm25Terms.zipWithIndex.map { case (t, i) =>
          sum(when(col("term") === t, 1L).otherwise(0L)).as(s"tf_$i")
        }: _*)
      .localCheckpoint()
    val stats = perUnit.agg(count(lit(1)).cast("long").as("n_docs"),
      sum("len").cast("long").as("tot_len"))
    val tf = perUnit
      .select(keys ++ Seq(col("len"),
        explode(array(Bm25Terms.zipWithIndex.map { case (t, i) =>
          struct(lit(t).as("term"), col(s"tf_$i").as("tf"))
        }: _*)).as("p")): _*)
      .select(keys ++ Seq(col("len"), col("p.term").as("term"),
        col("p.tf").as("tf")): _*)
      .filter(col("tf") > 0)
    val idf = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .select(col("term"),
        round(log((col("n_docs").cast("double")
          - col("df").cast("double") + 0.5)
          / (col("df").cast("double") + 0.5) + 1.0), 6).as("idf"),
        (col("tot_len").cast("double") / col("n_docs").cast("double"))
          .as("avgdl"))
    tf.join(broadcast(idf), "term")
      .withColumn("contrib",
        micro(col("idf") * (col("tf").cast("double") * 2.2
          / (col("tf").cast("double") + lit(1.2)
            * (lit(0.25) + lit(0.75)
              * (col("len").cast("double") / col("avgdl")))))))
      .groupBy(keys: _*)
      .agg(sum("contrib").as("s"),
        count(lit(1)).cast("long").as("n_terms"))
      .orderBy(col("s").desc +: keys: _*).limit(k)
      .select(keys ++ Seq(
        round(col("s").cast("double") / 1000000.0, 6).as("score"),
        col("n_terms")): _*)
  }

  /** Shared prefix of the corpus-layout pipelines: clean gate + exact
    * doc dedup → 64-token chunks → corpus-wide first-occurrence chunk
    * dedup. The (doc_id, chunk_id) tie-break IS the "first occurrence
    * wins" definition every oracle mirrors — defined once here, consumed
    * by pipeline_pretrain_corpus and pipeline_rag_corpus.
    *
    * A SharedStage core (r22): the deduped chunk table IS the staging
    * artifact a corpus-layout deployment persists between the packing
    * and retrieval jobs. Without it, pipeline_pretrain_corpus planned
    * this whole subtree TWICE in one query (packTokenRows' data path
    * AND its bucket-offset spine each re-ran the tokenizer gate battery
    * + chunk window — 2×23 plan nodes, 4 parquet scans), and
    * pipeline_rag_corpus re-derived it privately a third time. One
    * eager materialization per session; Verify sweeps between queries
    * so the oracle still sees each query derive it itself, and the
    * checkpointed plan is the exact plan both consumers built before
    * (deterministic: the occurrence window orders by the full
    * (doc_id, chunk_id) key inside each md5(chunk_text) partition). */
  private def cleanChunksDeduped(s: SparkSession, d: String): DataFrame =
    graft.operators.SharedStage(s, s"cleanChunks:$d") {
      import org.apache.spark.sql.expressions.Window
      val (gated, keep) = cleanGate(Tables.documents(s, d))
      val clean = gated.join(keep, Seq("doc_id"), "left_semi")
        .select("doc_id", "text")
      val wOcc = Window.partitionBy(md5(col("chunk_text")))
        .orderBy(col("doc_id"), col("chunk_id"))
      graft.api.GraftOps.chunkTokens(clean, "doc_id", "text", 64)
        .withColumn("occ", row_number().over(wOcc))
        .filter(col("occ") === 1)
        .select("doc_id", "chunk_id", "chunk_text", "n_tokens")
    }

  /** The BPE training loop shared by tok_bpe_learn / tok_bpe_apply:
    * returns (final word→spelling table, learned merges). One corpus
    * scan builds the word-frequency table; every iteration aggregates
    * only that vocabulary-sized table and ships ONE argmax row to the
    * driver. See tok_bpe_learn's Scaladoc for the determinism argument. */
  private def bpeLearn(s: SparkSession, d: String)
      : (DataFrame, Seq[(Long, String, Long)]) = {
    val chars = filter(split(col("word"), ""), c => c =!= "")
    var cur = Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .select(col("word"), col("cnt"),
        concat(lit(" "), array_join(chars, " "), lit(" </w> ")).as("sp"))
      .localCheckpoint(true)
    val merges = Seq.newBuilder[(Long, String, Long)]
    var step = 0
    var exhausted = false
    while (step < BpeSteps && !exhausted) {
      step += 1
      val syms = split(trim(col("sp")), " ")
      val prs = zip_with(
        slice(syms, lit(1), size(syms) - 1),
        slice(syms, lit(2), size(syms) - 1),
        (a, b) => concat(a, lit(" "), b))
      // limit(1)+headOption, not head(): an empty corpus (or one whose
      // spellings have all collapsed to a single symbol) has NO pair to
      // merge — training simply stops early with the merges learned so
      // far, matching the oracle chain where an empty p_i yields no
      // further merge rows. head() would crash on the first empty
      // backfill partition instead.
      val topOpt = cur.select(explode(prs).as("pr"), col("cnt"))
        .groupBy("pr").agg(sum("cnt").as("c"))
        .orderBy(col("c").desc, col("pr").asc)
        .limit(1).collect().headOption
      if (topOpt.isEmpty) { exhausted = true }
      else {
      val top = topOpt.get
      val pr = top.getString(0)
      merges += ((step.toLong, pr, top.getLong(1)))
      val find = lit(" " + pr + " ")
      val repl = lit(" " + pr.replace(" ", "") + " ")
      def rep(c0: Column): Column = replace(c0, find, repl)
      // No per-step checkpoint: the vocabulary table is already
      // materialized once, and re-deriving ≤ 3·BpeSteps nested replaces
      // over the Heaps'-law vocab is cheaper than BpeSteps eager
      // materialization jobs (measured — the original per-step
      // localCheckpoint doubled the loop's wall time at sf0.1).
      cur = cur.withColumn("sp", rep(rep(rep(col("sp")))))
      }
    }
    (cur, merges.result())
  }

  /** Merge steps for tok_bpe_learn — shared by the query and its
    * generated oracle so the two never drift. */
  private val BpeSteps = 6

  /** CTE chain replaying the BPE training loop (p_i = argmax pair over
    * w_{i-1}; w_i = fixpoint replace) up to w{BpeSteps}, generated from
    * BpeSteps so query and oracles share one source of truth. Shared by
    * the tok_bpe_learn and tok_bpe_apply oracles. */
  private def bpeChainCte: String = {
    val stages = (1 to BpeSteps).map { i =>
      val prev = s"w${i - 1}"
      s"""p$i AS (
         |  SELECT pr, sum(cnt) AS c FROM (
         |    SELECT cnt, unnest([syms[j] || ' ' || syms[j+1]
         |      for j in range(1, len(syms))]) AS pr
         |    FROM (SELECT cnt, string_split(trim(sp), ' ') AS syms
         |          FROM $prev))
         |  GROUP BY pr ORDER BY c DESC, pr ASC LIMIT 1),
         |w$i AS (
         |  SELECT word, cnt,
         |    replace(replace(replace(sp,
         |      ' '||pr||' ', ' '||replace(pr,' ','')||' '),
         |      ' '||pr||' ', ' '||replace(pr,' ','')||' '),
         |      ' '||pr||' ', ' '||replace(pr,' ','')||' ') AS sp
         |  FROM $prev CROSS JOIN p$i)""".stripMargin
    }.mkString(",\n")
    s"""$TokedCte,
       |wf AS (SELECT t AS word, count(*) AS cnt
       |  FROM (SELECT unnest(toks) AS t FROM toked) GROUP BY t),
       |w0 AS (SELECT word, cnt,
       |  ' ' || array_to_string(string_split(word, ''), ' ') || ' </w> '
       |    AS sp
       |  FROM wf),
       |$stages""".stripMargin
  }

  /** DuckDB twin of tok_bpe_learn: the unrolled chain's per-step argmax
    * rows. */
  private def bpeOracle: String = {
    val union = (1 to BpeSteps).map(i =>
      s"SELECT CAST($i AS BIGINT) AS step, pr AS merge, " +
        s"CAST(c AS BIGINT) AS pair_count FROM p$i").mkString(" UNION ALL ")
    s"""WITH $bpeChainCte
       |$union ORDER BY step""".stripMargin
  }

  /** DuckDB twin of tok_bpe_apply: per-word symbol counts from the final
    * merged spelling table w{BpeSteps}, joined back to the exploded
    * corpus — the same vocabulary-then-corpus shape as the Spark side. */
  private def bpeApplyOracle: String =
    s"""WITH $bpeChainCte,
       |wc AS (SELECT word,
       |  CAST(len(string_split(trim(sp), ' ')) AS BIGINT) AS n_sym
       |  FROM w$BpeSteps)
       |SELECT t.doc_id, CAST(sum(wc.n_sym) AS BIGINT) AS n_bpe_tokens
       |FROM (SELECT doc_id, unnest(toks) AS word FROM toked) t
       |JOIN wc ON t.word = wc.word
       |GROUP BY t.doc_id""".stripMargin

  /** Shared oracle CTE chain ending in `shfin` = (doc_id, simhash) —
    * read by dedup_simhash and dedup_simhash_pairs. */
  private val SimhashCte =
    s"""$TokedCte,
       |tok AS (SELECT doc_id, unnest(toks) AS tok FROM toked),
       |h AS (SELECT doc_id, substr(md5(tok), 1, 16) AS hx FROM tok),
       |bits AS (SELECT doc_id, b,
       |  strpos('0123456789abcdef', substr(hx, (b // 4) + 1, 1)) - 1 AS v
       |  FROM h CROSS JOIN (SELECT unnest(range(0, 64)) AS b)),
       |bitv AS (SELECT doc_id, b,
       |  CASE b % 4 WHEN 0 THEN (v // 8) % 2 WHEN 1 THEN (v // 4) % 2
       |    WHEN 2 THEN (v // 2) % 2 ELSE v % 2 END AS bv FROM bits),
       |agg AS (SELECT doc_id, b,
       |  CASE WHEN sum(2 * bv - 1) >= 0 THEN '1' ELSE '0' END AS ob
       |  FROM bitv GROUP BY doc_id, b),
       |shh AS (SELECT doc_id, string_agg(ob, '' ORDER BY b) AS simhash
       |  FROM agg GROUP BY doc_id),
       |shfin AS (SELECT d.doc_id,
       |  coalesce(shh.simhash, repeat('1', 64)) AS simhash
       |  FROM documents d LEFT JOIN shh ON d.doc_id = shh.doc_id)"""
      .stripMargin

  /** Shared oracle CTE chain ending in `scored` = (doc_id, source,
    * n_tokens, stop_ratio, lang_guess) — the quality/language gate both
    * pipeline queries filter on. Requires `toked` in scope. */
  private val CleanGateCte =
    """f AS (SELECT t.doc_id, d.source, len(t.toks) AS n_tokens,
      |  CASE WHEN len(t.toks) > 0 THEN
      |    CAST(len(list_filter(t.toks, x -> list_contains(
      |      ['the','a','and','of','to','in','is',
      |       'el','la','de','y','que','en','los',
      |       'der','die','und','das','ist','von','ein'], x)))
      |      AS DOUBLE) / len(t.toks) ELSE 0.0 END AS stop_ratio,
      |  len(list_filter(t.toks, x -> list_contains(
      |    ['the','a','and','of','to','in','is'], x))) AS s_en,
      |  len(list_filter(t.toks, x -> list_contains(
      |    ['el','la','de','y','que','en','los'], x))) AS s_es,
      |  len(list_filter(t.toks, x -> list_contains(
      |    ['der','die','und','das','ist','von','ein'], x))) AS s_de
      |  FROM documents d JOIN toked t ON d.doc_id = t.doc_id),
      |scored AS (SELECT doc_id, source, n_tokens, stop_ratio,
      |  CASE WHEN greatest(s_en, s_es, s_de) = 0 THEN 'und'
      |       WHEN s_en = greatest(s_en, s_es, s_de) THEN 'en'
      |       WHEN s_es = greatest(s_en, s_es, s_de) THEN 'es'
      |       ELSE 'de' END AS lang_guess FROM f)""".stripMargin

  /** Shared oracle CTE chain ending in `cm` = (src, cl): bounded (≤2-hop)
    * min-reachability over the minhash band candidate graph — the oracle
    * twin of GraftOps.connectedComponents(rounds = 2). The enclosing
    * statement must say WITH RECURSIVE. */
  private val CcCte =
    s"""$SigCte,
       |pr AS (SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       |    AND a.doc_id < b.doc_id),
       |e AS (SELECT left_id AS a, right_id AS b FROM pr
       |  UNION SELECT right_id, left_id FROM pr),
       |reach AS (
       |  SELECT a AS src, a AS dst, 0 AS dep
       |    FROM (SELECT DISTINCT a FROM e)
       |  UNION
       |  SELECT r.src, e2.b AS dst, r.dep + 1
       |    FROM reach r JOIN e e2 ON e2.a = r.dst WHERE r.dep < 2),
       |cm AS (SELECT src, min(dst) AS cl FROM reach GROUP BY src)"""
      .stripMargin

  private def bpeCompressionOracle: String =
    s"""WITH $bpeChainCte,
       |wc AS (SELECT word,
       |  CAST(len(string_split(trim(sp), ' ')) AS BIGINT) AS n_sym
       |  FROM w$BpeSteps),
       |t AS (SELECT t.word, wc.n_sym
       |  FROM (SELECT unnest(toks) AS word FROM toked) t
       |  JOIN wc ON t.word = wc.word)
       |SELECT count(*) AS n_words,
       |  CAST(sum(length(word)) AS BIGINT) AS n_chars,
       |  CAST(sum(n_sym) AS BIGINT) AS n_bpe_tokens,
       |  round(CAST(sum(length(word)) AS DOUBLE) / sum(n_sym), 6)
       |    AS chars_per_token,
       |  round(CAST(sum(n_sym) AS DOUBLE) / count(*), 6) AS fertility
       |FROM t""".stripMargin

  val oracle: Map[String, String] = Map(
    "tok_bpe_learn" -> bpeOracle,
    "tok_bpe_apply" -> bpeApplyOracle,
    "tok_bpe_compression" -> bpeCompressionOracle,
    "graph_bfs" ->
      s"""WITH RECURSIVE $SigCte,
         |pr AS (SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         |    AND a.doc_id < b.doc_id),
         |eg AS (SELECT left_id AS a, right_id AS b FROM pr
         |  UNION SELECT right_id, left_id FROM pr),
         |reach AS (
         |  SELECT doc_id AS node, 0 AS dep FROM documents WHERE doc_id < 10
         |  UNION
         |  SELECT eg.b, r.dep + 1 FROM reach r JOIN eg ON eg.a = r.node
         |  WHERE r.dep < $BfsRounds)
         |SELECT node, CAST(min(dep) AS BIGINT) AS dist
         |FROM reach GROUP BY node""".stripMargin,
    "txt_bm25_topk" ->
      s"""WITH $TokedCte,
         |tok AS (SELECT doc_id, unnest(toks) AS term FROM toked),
         |dl AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id),
         |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len) AS BIGINT) AS tot_len FROM dl),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
         |  WHERE term IN (${Bm25Terms.map("'" + _ + "'").mkString(", ")})
         |  GROUP BY doc_id, term),
         |idf AS (SELECT term,
         |  round(ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE)
         |      + CAST(0.5 AS DOUBLE))
         |    / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))
         |    + CAST(1.0 AS DOUBLE)), 6) AS idf,
         |  CAST(tot_len AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl
         |  FROM (SELECT term, count(*) AS df FROM tf GROUP BY term), stats),
         |sc AS (SELECT tf.doc_id, CAST(trunc(round(idf.idf
         |    * (CAST(tf.tf AS DOUBLE) * CAST(2.2 AS DOUBLE)
         |      / (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
         |        * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE)
         |          * (CAST(dl.len AS DOUBLE) / idf.avgdl)))), 6)
         |    * 1000000 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS contrib
         |  FROM tf JOIN idf USING (term) JOIN dl ON tf.doc_id = dl.doc_id),
         |g AS (SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS s,
         |  CAST(count(*) AS BIGINT) AS n_terms FROM sc GROUP BY doc_id)
         |SELECT doc_id, round(CAST(s AS DOUBLE) / 1000000, 6) AS score,
         |  n_terms
         |FROM g ORDER BY s DESC, doc_id LIMIT 20""".stripMargin,
    "sketch_cms_heavy" ->
      s"""WITH $TokedCte,
         |tc AS (SELECT t AS term, count(*) AS exact_cnt
         |  FROM (SELECT unnest(toks) AS t FROM toked) GROUP BY t),
         |rx AS (SELECT unnest(range(0, 4)) AS r),
         |hb AS (SELECT term, exact_cnt, r,
         |  substr(md5(CAST(r AS VARCHAR) || ':' || term), 1, 2) AS h
         |  FROM tc CROSS JOIN rx),
         |hv AS (SELECT term, exact_cnt, r,
         |  CAST(16 * (strpos('0123456789abcdef', substr(h, 1, 1)) - 1)
         |    + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1)
         |    AS BIGINT) AS bkt FROM hb),
         |cells AS (SELECT r, bkt, CAST(sum(exact_cnt) AS BIGINT)
         |  AS cell_cnt FROM hv GROUP BY r, bkt),
         |top AS (SELECT term, CAST(exact_cnt AS BIGINT) AS exact_cnt
         |  FROM tc ORDER BY exact_cnt DESC, term LIMIT 30)
         |SELECT t.term, t.exact_cnt, CAST(min(c.cell_cnt) AS BIGINT)
         |  AS cms_est
         |FROM top t JOIN hv ON hv.term = t.term
         |JOIN cells c ON c.r = hv.r AND c.bkt = hv.bkt
         |GROUP BY t.term, t.exact_cnt""".stripMargin,
    "samp_domain_cap" ->
      """SELECT doc_id, source, n_chars, rnk FROM (
        |  SELECT doc_id, source, n_chars,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rnk
        |  FROM documents)
        |WHERE rnk <= 10""".stripMargin,
    "idx_phrase" ->
      s"""WITH $TokedCte,
         |tok AS (SELECT doc_id, unnest(toks) AS term,
         |  generate_subscripts(toks, 1) AS pos FROM toked),
         |t1 AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos FROM tok
         |  WHERE term = '$PhraseW1'),
         |t2 AS (SELECT doc_id, CAST(pos - 1 AS BIGINT) AS pos FROM tok
         |  WHERE term = '$PhraseW2')
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
         |  CAST(min(pos) AS BIGINT) AS first_pos
         |FROM t1 JOIN t2 USING (doc_id, pos)
         |GROUP BY doc_id""".stripMargin,
    "txt_bigram_logprob" ->
      s"""WITH $TokedCte,
         |tok AS (SELECT doc_id, unnest(toks) AS w,
         |  generate_subscripts(toks, 1) AS pos FROM toked),
         |bgf AS (SELECT doc_id, w1, w2 FROM (
         |  SELECT doc_id, w AS w1,
         |    lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
         |  FROM tok) WHERE w2 IS NOT NULL),
         |uni AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM uni),
         |bc AS (SELECT w1, w2, count(*) AS c12 FROM bgf GROUP BY w1, w2),
         |sc AS (SELECT bgf.doc_id,
         |  CAST(trunc(round(-ln(
         |    CAST(3 * bc.c12 * tot.t + u2.c * u1.c AS DOUBLE)
         |    / CAST(4 * u1.c * tot.t AS DOUBLE)), 6)
         |    * 1000000 + 0.5) AS BIGINT) AS nll
         |  FROM bgf JOIN bc USING (w1, w2)
         |  JOIN uni u1 ON bgf.w1 = u1.w
         |  JOIN uni u2 ON bgf.w2 = u2.w CROSS JOIN tot)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  floor(CAST(2 * sum(nll) + count(*) AS DOUBLE)
         |    / CAST(2 * count(*) AS DOUBLE)) / 1000000 AS mean_nll
         |FROM sc GROUP BY doc_id""".stripMargin,
    "graph_triangles" ->
      s"""WITH $SigCte,
         |pr AS (SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         |    AND a.doc_id < b.doc_id)
         |SELECT e1.left_id AS a, e1.right_id AS b, e2.right_id AS c
         |FROM pr e1 JOIN pr e2 ON e2.left_id = e1.right_id
         |JOIN pr e3 ON e3.left_id = e1.left_id
         |  AND e3.right_id = e2.right_id
         |ORDER BY a, b, c""".stripMargin,
    "txt_token_stats" ->
      s"""WITH $TokedCte
         |SELECT d.doc_id, len(t.toks) AS n_tokens,
         |  len(list_filter(regexp_split_to_array(trim(d.text),
         |    '[^A-Za-z0-9]+'), x -> x != '')) AS n_subwords,
         |  length(d.text) - length(regexp_replace(d.text, '[.,!?;:]', '',
         |    'g')) AS punct_cnt
         |FROM documents d JOIN toked t ON d.doc_id = t.doc_id""".stripMargin,
    "txt_quality" ->
      s"""WITH $TokedCte,
         |f AS (SELECT d.doc_id, d.text, t.toks, len(t.toks) AS n_tokens,
         |  len(list_filter(t.toks, x -> list_contains(
         |    ['the','a','and','of','to','in','is',
         |     'el','la','de','y','que','en','los',
         |     'der','die','und','das','ist','von','ein'], x))) AS stops,
         |  length(d.text) - length(regexp_replace(d.text, '[.,!?;:]', '',
         |    'g')) AS punct
         |  FROM documents d JOIN toked t ON d.doc_id = t.doc_id)
         |SELECT doc_id, n_tokens,
         |  CASE WHEN n_tokens > 0
         |    THEN CAST(stops AS DOUBLE) / n_tokens ELSE 0.0 END AS stop_ratio,
         |  CASE WHEN length(text) > 0
         |    THEN CAST(punct AS DOUBLE) / length(text) ELSE 0.0 END
         |    AS punct_ratio,
         |  CASE WHEN n_tokens > 0
         |    THEN CAST(length(array_to_string(toks, '')) AS DOUBLE) / n_tokens
         |    ELSE 0.0 END AS mean_token_len
         |FROM f""".stripMargin,
    "txt_lang_id" ->
      s"""WITH $TokedCte,
         |sc AS (SELECT doc_id,
         |  len(list_filter(toks, x -> list_contains(
         |    ['the','a','and','of','to','in','is'], x))) AS s_en,
         |  len(list_filter(toks, x -> list_contains(
         |    ['el','la','de','y','que','en','los'], x))) AS s_es,
         |  len(list_filter(toks, x -> list_contains(
         |    ['der','die','und','das','ist','von','ein'], x))) AS s_de
         |  FROM toked)
         |SELECT doc_id,
         |  CASE WHEN greatest(s_en, s_es, s_de) = 0 THEN 'und'
         |       WHEN s_en = greatest(s_en, s_es, s_de) THEN 'en'
         |       WHEN s_es = greatest(s_en, s_es, s_de) THEN 'es'
         |       ELSE 'de' END AS lang_guess
         |FROM sc""".stripMargin,
    "txt_normalize" ->
      """SELECT doc_id, trim(regexp_replace(
        |  regexp_replace(lower(text), '[.,!?;:]', '', 'g'),
        |  '\s+', ' ', 'g')) AS norm_text
        |FROM documents""".stripMargin,
    "pipeline_code_routing" ->
      """WITH kept AS (SELECT min(doc_id) AS doc_id
        |  FROM documents GROUP BY md5(text)),
        |f AS (SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(regexp_extract_all(text, '[{}();=<>]')) AS BIGINT)
        |    AS n_sym,
        |  CAST(len(regexp_extract_all(lower(text),
        |    '\b(def|class|return|import|function|var|const)\b'))
        |    AS BIGINT) AS n_kw
        |  FROM documents),
        |r AS (SELECT f.doc_id, CASE WHEN n_chars > 0
        |    THEN round(CAST(n_sym AS DOUBLE) / n_chars, 6)
        |    ELSE 0.0 END AS sym_ratio, n_kw,
        |  k.doc_id IS NOT NULL AS kept
        |  FROM f LEFT JOIN kept k ON f.doc_id = k.doc_id)
        |SELECT doc_id, CASE WHEN NOT kept THEN 'drop_dup'
        |  WHEN sym_ratio > 0.05 OR n_kw >= 3 THEN 'code'
        |  ELSE 'prose' END AS route
        |FROM r""".stripMargin,
    "txt_readability" ->
      s"""WITH $TokedCte,
         |f AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words
         |  FROM toked),
         |g AS (SELECT d.doc_id, f.n_words,
         |  CAST(greatest(len(regexp_extract_all(d.text, '[.!?]+')), 1)
         |    AS BIGINT) AS n_sentences,
         |  CAST(len(regexp_extract_all(lower(d.text), '[aeiouy]+'))
         |    AS BIGINT) AS n_syllables
         |  FROM documents d JOIN f USING (doc_id))
         |SELECT doc_id, n_words, n_sentences, n_syllables,
         |  CASE WHEN n_words > 0 THEN round(206.835
         |    - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
         |    - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 6)
         |  END AS flesch
         |FROM g""".stripMargin,
    "txt_code_detect" ->
      """WITH f AS (SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(regexp_extract_all(text, '[{}();=<>]')) AS BIGINT)
        |    AS n_sym,
        |  CAST(len(regexp_extract_all(text, '(?m)^(    |\t)'))
        |    AS BIGINT) AS n_indent,
        |  CAST(len(regexp_extract_all(lower(text),
        |    '\b(def|class|return|import|function|var|const)\b'))
        |    AS BIGINT) AS n_kw
        |  FROM documents),
        |r AS (SELECT *, CASE WHEN n_chars > 0
        |  THEN round(CAST(n_sym AS DOUBLE) / n_chars, 6)
        |  ELSE 0.0 END AS sym_ratio FROM f)
        |SELECT doc_id, n_chars, n_sym, n_indent, n_kw, sym_ratio,
        |  sym_ratio > 0.05 OR n_kw >= 3 AS is_code
        |FROM r""".stripMargin,
    "txt_winnow_fp" ->
      s"""WITH $TokedCte,
         |pos AS (SELECT doc_id, unnest(toks) AS tok,
         |  generate_subscripts(toks, 1) AS pos FROM toked),
         |sgl AS (SELECT doc_id, pos,
         |  CASE WHEN lead(tok, 2) OVER w IS NOT NULL
         |    THEN concat_ws(' ', tok, lead(tok, 1) OVER w,
         |      lead(tok, 2) OVER w) END AS sgl
         |  FROM pos WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |h AS (SELECT doc_id, pos, substr(md5(sgl), 1, 8) AS h FROM sgl),
         |wm AS (SELECT doc_id, min(h) OVER (PARTITION BY doc_id
         |    ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
         |    AS wmin FROM h)
         |SELECT DISTINCT doc_id, wmin AS fp FROM wm
         |WHERE wmin IS NOT NULL""".stripMargin,
    "txt_fingerprint" ->
      """SELECT doc_id, md5(array_to_string(list_filter(
        |  regexp_split_to_array(trim(lower(text)), '\s+'), t -> t != ''),
        |  ' ')) AS fp
        |FROM documents""".stripMargin,
    "txt_ngram_novelty" ->
      s"""WITH $TokedCte, $ShingledCte,
         |grams AS (SELECT doc_id, unnest(list_distinct(shingles)) AS g
         |  FROM sh),
         |fo AS (SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g)
         |SELECT gr.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |  CAST(sum((gr.doc_id = fo.first_doc)::INT) AS BIGINT)
         |    AS n_novel,
         |  round(CAST(sum((gr.doc_id = fo.first_doc)::INT) AS DOUBLE)
         |    / count(*), 6) AS novelty
         |FROM grams gr JOIN fo ON gr.g = fo.g
         |GROUP BY gr.doc_id""".stripMargin,
    "txt_html_strip" ->
      """WITH h AS (SELECT doc_id,
        |  '<html><body><h1>Doc ' || CAST(doc_id AS VARCHAR) ||
        |  '</h1><p class="body">' || text ||
        |  ' &amp; more &lt;here&gt;</p><script>var x=1;</script>' ||
        |  '<style>p{color:red}</style></body></html>' AS html
        |  FROM documents)
        |SELECT doc_id,
        |  trim(regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(
        |              regexp_replace(
        |                regexp_replace(html,
        |                  '(?s)<script.*?</script>', ' ', 'g'),
        |                '(?s)<style.*?</style>', ' ', 'g'),
        |              '<[^>]+>', ' ', 'g'),
        |            '&amp;', '&', 'g'),
        |          '&lt;', '<', 'g'),
        |        '&gt;', '>', 'g'),
        |      '&quot;', '"', 'g'),
        |    '\s+', ' ', 'g')) AS clean_text,
        |  CAST(len(regexp_extract_all(html, '<[^>]+>')) AS BIGINT)
        |    AS n_tags
        |FROM h""".stripMargin,
    "txt_pii_scrub" ->
      """WITH b AS (SELECT doc_id,
        |  text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |  '@mail.example.com tel 55-555-' ||
        |  CAST(doc_id % 900 + 100 AS VARCHAR) || '-' ||
        |  CAST(doc_id % 9000 + 1000 AS VARCHAR) ||
        |  ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' AS blob
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(blob,
        |    '\b\d{2}-\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |    '[EMAIL]', 'g'),
        |    '\b\d{1,3}(?:\.\d{1,3}){3}\b', '[IP]', 'g') AS scrubbed,
        |  CAST(len(regexp_extract_all(blob,
        |    '\b\d{2}-\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phone,
        |  CAST(len(regexp_extract_all(blob,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |    AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(blob,
        |    '\b\d{1,3}(?:\.\d{1,3}){3}\b')) AS BIGINT) AS n_ip
        |FROM b""".stripMargin,
    "mm_image_features" ->
      """SELECT doc_id AS media_id,
        |  CAST(16 + doc_id % 32 AS INTEGER) AS width,
        |  CAST(16 + doc_id % 16 AS INTEGER) AS height,
        |  3 AS channels
        |FROM documents""".stripMargin,
    "mm_audio_features" ->
      """SELECT doc_id AS media_id,
        |  CAST(44 + (100 + doc_id % 50) * (1 + doc_id % 2) * 2 AS BIGINT)
        |    AS byte_len,
        |  CAST(8000 + (doc_id % 4) * 2000 AS INTEGER) AS sample_rate,
        |  CAST(1 + doc_id % 2 AS INTEGER) AS channels,
        |  CAST(100 + doc_id % 50 AS BIGINT) AS n_frames,
        |  CAST((100 + doc_id % 50) * 1000000
        |    // (8000 + (doc_id % 4) * 2000) AS BIGINT) AS duration_us
        |FROM documents""".stripMargin,
    "mm_video_features" ->
      """SELECT doc_id AS media_id,
        |  CAST(236 AS BIGINT) AS byte_len,
        |  CAST(600 + (doc_id % 5) * 300 AS INTEGER) AS timescale,
        |  CAST((2 + doc_id % 7) * 1000 AS BIGINT) AS duration_ms,
        |  CAST(320 + (doc_id % 4) * 160 AS INTEGER) AS width,
        |  CAST(240 + (doc_id % 3) * 120 AS INTEGER) AS height
        |FROM documents""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "dedup_minhash_bands" ->
      s"""WITH $SigCte
         |SELECT doc_id, band_idx, band_hash FROM bands""".stripMargin,
    "dedup_ppjoin" ->
      s"""WITH $TokedCte,
         |tok AS (SELECT DISTINCT t.doc_id, unnest(t.toks) AS term
         |  FROM toked t JOIN documents d ON t.doc_id = d.doc_id
         |  WHERE d.source = 'src0'),
         |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
         |  FROM tok GROUP BY doc_id),
         |sh AS (SELECT a.doc_id AS left_id, b.doc_id AS right_id,
         |  CAST(count(*) AS BIGINT) AS inter
         |  FROM tok a JOIN tok b ON a.term = b.term
         |    AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id),
         |j AS (SELECT left_id, right_id, inter,
         |  sa.sz + sb.sz - inter AS union_sz
         |  FROM sh JOIN sz sa ON sa.doc_id = sh.left_id
         |  JOIN sz sb ON sb.doc_id = sh.right_id)
         |SELECT left_id, right_id, inter, union_sz,
         |  round(CAST(inter AS DOUBLE) / union_sz, 6) AS jacc
         |FROM j
         |WHERE round(CAST(inter AS DOUBLE) / union_sz, 6) >= 0.9"""
        .stripMargin,
    // Unscoped naive shared-token join at the 0.95 threshold — the
    // prefix+length filtered plan must be result-transparent to it.
    "dedup_ppjoin_g" ->
      s"""WITH $TokedCte,
         |tok AS (SELECT DISTINCT doc_id, unnest(toks) AS term
         |  FROM toked),
         |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
         |  FROM tok GROUP BY doc_id),
         |sh AS (SELECT a.doc_id AS left_id, b.doc_id AS right_id,
         |  CAST(count(*) AS BIGINT) AS inter
         |  FROM tok a JOIN tok b ON a.term = b.term
         |    AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id),
         |j AS (SELECT left_id, right_id, inter,
         |  sa.sz + sb.sz - inter AS union_sz
         |  FROM sh JOIN sz sa ON sa.doc_id = sh.left_id
         |  JOIN sz sb ON sb.doc_id = sh.right_id)
         |SELECT left_id, right_id, inter, union_sz,
         |  round(CAST(inter AS DOUBLE) / union_sz, 6) AS jacc
         |FROM j
         |WHERE round(CAST(inter AS DOUBLE) / union_sz, 6) >= 0.95"""
        .stripMargin,
    // Set-level truth built independently: group docs BY their sorted
    // distinct token list (no md5 — the list itself is the key), key
    // each set by min(doc_id), then the naive shared-token join at set
    // level plus one self-row per >=2-member clique.
    "dedup_ppjoin_sets" ->
      s"""WITH $TokedCte,
         |st AS (SELECT list_sort(list_distinct(toks)) AS ta,
         |  CAST(min(doc_id) AS BIGINT) AS rk,
         |  CAST(count(*) AS BIGINT) AS n
         |  FROM toked WHERE len(list_distinct(toks)) > 0
         |  GROUP BY list_sort(list_distinct(toks))),
         |sz AS (SELECT rk, n, CAST(len(ta) AS BIGINT) AS sz FROM st),
         |tok AS (SELECT rk, unnest(ta) AS term FROM st),
         |sh AS (SELECT a.rk AS ka, b.rk AS kb,
         |  CAST(count(*) AS BIGINT) AS inter
         |  FROM tok a JOIN tok b ON a.term = b.term AND a.rk < b.rk
         |  GROUP BY a.rk, b.rk),
         |j AS (SELECT ka, kb, inter, sa.sz + sb.sz - inter AS union_sz,
         |  sa.n AS na, sb.n AS nb
         |  FROM sh JOIN sz sa ON sa.rk = sh.ka
         |  JOIN sz sb ON sb.rk = sh.kb)
         |SELECT ka AS set_a, kb AS set_b, inter, union_sz,
         |  round(CAST(inter AS DOUBLE) / union_sz, 6) AS jacc,
         |  na AS members_a, nb AS members_b, na * nb AS doc_pairs
         |FROM j
         |WHERE round(CAST(inter AS DOUBLE) / union_sz, 6) >= 0.95
         |UNION ALL
         |SELECT rk, rk, sz, sz, 1.0, n, n, n * (n - 1) // 2
         |FROM sz WHERE n >= 2""".stripMargin,
    "idx_band_upsert" ->
      s"""WITH $SigCte,
         |base AS (SELECT band_idx, band_hash,
         |  CAST(min(doc_id) AS BIGINT) AS owner FROM bands
         |  WHERE doc_id % 5 <> 0 GROUP BY band_idx, band_hash),
         |ing AS (SELECT band_idx, band_hash,
         |  CAST(min(doc_id) AS BIGINT) AS owner FROM bands
         |  WHERE doc_id % 5 = 0 GROUP BY band_idx, band_hash)
         |SELECT band_idx, band_hash, owner, 'base' AS generation
         |FROM base
         |UNION ALL
         |SELECT i.band_idx, i.band_hash, i.owner, 'ingest' AS generation
         |FROM ing i LEFT JOIN base b USING (band_idx, band_hash)
         |WHERE b.owner IS NULL""".stripMargin,
    // Same truth as dedup_minhash_bands on purpose: the row-local Spark
    // formulation must land on the identical band table.
    "dedup_bands_rowlocal" ->
      s"""WITH $SigCte
         |SELECT doc_id, band_idx, band_hash FROM bands""".stripMargin,
    "dedup_minhash_pairs" ->
      s"""WITH $SigCte
         |SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
         |FROM bands a JOIN bands b
         |  ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         |  AND a.doc_id < b.doc_id""".stripMargin,
    "dedup_first_in_horizon" ->
      s"""WITH $SigCte,
         |hits AS (SELECT DISTINCT a.doc_id FROM bands a
         |  JOIN bands b ON a.band_idx = b.band_idx
         |    AND a.band_hash = b.band_hash
         |    AND b.doc_id < a.doc_id
         |    AND b.doc_id >= a.doc_id - 30)
         |SELECT d.doc_id,
         |  d.doc_id IN (SELECT doc_id FROM hits) AS dup_in_horizon
         |FROM documents d""".stripMargin,
    "dedup_first_in_horizon_ts" ->
      s"""WITH $SigCte,
         |tsd AS (SELECT doc_id, TIMESTAMP '2024-01-01 00:00:00'
         |    + (doc_id * 37 % 97) * INTERVAL 1 MINUTE AS ts
         |  FROM documents),
         |tb AS (SELECT b.doc_id, b.band_idx, b.band_hash, t.ts
         |  FROM bands b JOIN tsd t ON b.doc_id = t.doc_id),
         |hits AS (SELECT DISTINCT a.doc_id FROM tb a
         |  JOIN tb b ON a.band_idx = b.band_idx
         |    AND a.band_hash = b.band_hash
         |    AND b.ts <= a.ts
         |    AND (b.ts < a.ts OR b.doc_id < a.doc_id)
         |    AND b.ts >= a.ts - INTERVAL 30 MINUTE)
         |SELECT t.doc_id, t.ts,
         |  t.doc_id IN (SELECT doc_id FROM hits) AS dup_in_horizon
         |FROM tsd t""".stripMargin,
    "dedup_edit_verified" ->
      s"""WITH $SigCte,
         |cand AS (SELECT DISTINCT a.doc_id AS left_id,
         |    b.doc_id AS right_id
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         |    AND a.doc_id < b.doc_id),
         |scored AS (SELECT c.left_id, c.right_id,
         |    CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist,
         |    round(CASE
         |      WHEN greatest(length(da.text), length(db.text)) = 0
         |        THEN 1.0
         |      ELSE 1.0 - CAST(levenshtein(da.text, db.text) AS DOUBLE)
         |        / greatest(length(da.text), length(db.text)) END, 6)
         |      AS edit_sim
         |  FROM cand c
         |    JOIN documents da ON c.left_id = da.doc_id
         |    JOIN documents db ON c.right_id = db.doc_id)
         |SELECT left_id, right_id, edit_dist, edit_sim,
         |  edit_sim >= 0.8 AS is_dup
         |FROM scored""".stripMargin,
    "tok_vocab_coverage" ->
      s"""WITH $TokedCte,
         |tok AS (SELECT unnest(toks) AS token FROM toked),
         |freq AS (SELECT token, count(*) AS freq FROM tok
         |  GROUP BY token),
         |total AS (SELECT CAST(sum(freq) AS BIGINT) AS total FROM freq),
         |top AS (SELECT token, freq, row_number() OVER (
         |    ORDER BY freq DESC, token) AS rnk
         |  FROM freq ORDER BY freq DESC, token LIMIT 100),
         |ks AS (SELECT unnest([10, 50, 100]) AS k)
         |SELECT CAST(ks.k AS BIGINT) AS k,
         |  CAST(sum(freq) AS BIGINT) AS covered, total.total,
         |  round(CAST(sum(freq) AS DOUBLE) / total.total, 6) AS coverage
         |FROM ks JOIN top ON top.rnk <= ks.k CROSS JOIN total
         |GROUP BY ks.k, total.total""".stripMargin,
    "txt_containment" ->
      s"""WITH $TokedCte, $ShingledCte,
         |ds AS (SELECT doc_id, list_distinct(shingles) AS sh FROM sh)
         |SELECT a.doc_id AS left_id, b.doc_id AS right_id,
         |  round(CASE WHEN len(a.sh) > 0
         |    THEN CAST(len(list_filter(a.sh,
         |      x -> list_contains(b.sh, x))) AS DOUBLE) / len(a.sh)
         |    ELSE 0.0 END, 6) AS containment_ab,
         |  round(CASE WHEN len(b.sh) > 0
         |    THEN CAST(len(list_filter(a.sh,
         |      x -> list_contains(b.sh, x))) AS DOUBLE) / len(b.sh)
         |    ELSE 0.0 END, 6) AS containment_ba
         |FROM ds a JOIN ds b ON b.doc_id = a.doc_id + 1""".stripMargin,
    "ngram_jaccard" ->
      s"""WITH $TokedCte, $ShingledCte,
         |ds AS (SELECT doc_id, list_distinct(shingles) AS sh FROM sh)
         |SELECT a.doc_id AS left_id, b.doc_id AS right_id,
         |  CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) > 0
         |    THEN CAST(len(list_filter(list_distinct(a.sh),
         |      x -> list_contains(b.sh, x))) AS DOUBLE) /
         |      len(list_distinct(list_concat(a.sh, b.sh)))
         |    ELSE 0.0 END AS jaccard
         |FROM ds a JOIN ds b ON b.doc_id = a.doc_id + 1""".stripMargin,
    "dedup_simhash" ->
      s"""WITH $SimhashCte
         |SELECT doc_id, simhash FROM shfin""".stripMargin,
    "dedup_simhash_pairs" ->
      s"""WITH $SimhashCte,
         |ch AS (SELECT doc_id,
         |  [CAST(CAST(substr(simhash, i*16+1, 16) AS BIT) AS BIGINT)
         |   for i in range(4)] AS cks FROM shfin),
         |bands AS (SELECT doc_id, unnest(range(4)) AS band_idx,
         |  unnest(cks) AS band_val FROM ch),
         |pairs AS (SELECT DISTINCT a.doc_id AS left_id,
         |    b.doc_id AS right_id
         |  FROM bands a JOIN bands b ON a.band_idx = b.band_idx
         |    AND a.band_val = b.band_val AND a.doc_id < b.doc_id),
         |hm AS (SELECT p.left_id, p.right_id,
         |  CAST(bit_count(xor(ca.cks[1], cb.cks[1]))
         |    + bit_count(xor(ca.cks[2], cb.cks[2]))
         |    + bit_count(xor(ca.cks[3], cb.cks[3]))
         |    + bit_count(xor(ca.cks[4], cb.cks[4])) AS BIGINT) AS hamming
         |  FROM pairs p JOIN ch ca ON p.left_id = ca.doc_id
         |  JOIN ch cb ON p.right_id = cb.doc_id)
         |SELECT left_id, right_id, hamming FROM hm
         |WHERE hamming <= 6""".stripMargin,
    "pipeline_clean_corpus" ->
      s"""WITH $TokedCte, $CleanGateCte
         |SELECT doc_id, source, n_tokens, lang_guess FROM scored
         |WHERE n_tokens >= 20 AND stop_ratio >= 0.05
         |  AND lang_guess <> 'und'
         |  AND doc_id IN (SELECT min(doc_id) FROM documents
         |                 GROUP BY md5(text))""".stripMargin,
    "pipeline_dedup_report" ->
      s"""WITH $TokedCte, $CleanGateCte,
         |keep AS (SELECT min(doc_id) AS doc_id FROM documents
         |  GROUP BY md5(text)),
         |gated AS (SELECT doc_id FROM scored
         |  WHERE n_tokens >= 20 AND stop_ratio >= 0.05
         |    AND lang_guess <> 'und'),
         |clean AS (SELECT g.doc_id FROM gated g
         |  JOIN keep k ON g.doc_id = k.doc_id),
         |ct AS (SELECT t.doc_id, t.toks FROM toked t
         |  JOIN clean c ON t.doc_id = c.doc_id WHERE len(t.toks) > 0),
         |bl AS (SELECT doc_id,
         |  [array_to_string(toks[(i-1)*64+1 : i*64], ' ')
         |   for i in range(1, CAST((len(toks)-1)//64 AS BIGINT) + 2)]
         |    AS gs
         |  FROM ct),
         |ex AS (SELECT doc_id, unnest(gs) AS chunk_text FROM bl)
         |SELECT (SELECT count(*) FROM documents) AS n_docs,
         |  (SELECT count(*) FROM keep) AS n_exact_unique,
         |  (SELECT count(*) FROM gated) AS n_quality_pass,
         |  (SELECT count(*) FROM clean) AS n_clean,
         |  (SELECT count(*) FROM ex) AS n_chunks,
         |  (SELECT count(DISTINCT md5(chunk_text)) FROM ex)
         |    AS n_unique_chunks""".stripMargin,
    "pipeline_pretrain_corpus" ->
      s"""WITH $TokedCte, $CleanGateCte,
         |clean AS (SELECT doc_id FROM scored
         |  WHERE n_tokens >= 20 AND stop_ratio >= 0.05
         |    AND lang_guess <> 'und'
         |    AND doc_id IN (SELECT min(doc_id) FROM documents
         |                   GROUP BY md5(text))),
         |ct AS (SELECT t.doc_id, t.toks FROM toked t
         |  JOIN clean c ON t.doc_id = c.doc_id WHERE len(t.toks) > 0),
         |bl AS (SELECT doc_id,
         |  [array_to_string(toks[(i-1)*64+1 : i*64], ' ')
         |   for i in range(1, CAST((len(toks)-1)//64 AS BIGINT) + 2)]
         |    AS gs,
         |  [least(64, len(toks) - (i-1)*64)
         |   for i in range(1, CAST((len(toks)-1)//64 AS BIGINT) + 2)]
         |    AS ls
         |  FROM ct),
         |ex AS (SELECT doc_id, generate_subscripts(gs, 1) - 1 AS chunk_id,
         |  unnest(gs) AS chunk_text, unnest(ls) AS n_tokens FROM bl),
         |occ AS (SELECT *, row_number() OVER (PARTITION BY md5(chunk_text)
         |  ORDER BY doc_id, chunk_id) AS occ FROM ex),
         |u AS (SELECT doc_id, chunk_id, n_tokens FROM occ WHERE occ = 1),
         |c2 AS (SELECT *, coalesce(sum(n_tokens) OVER (
         |    ORDER BY doc_id, chunk_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum0
         |  FROM u)
         |SELECT CAST(cum0 // 512 AS BIGINT) AS bin_id,
         |  count(*) AS n_chunks, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
         |FROM c2 GROUP BY bin_id""".stripMargin,
    "dedup_exact_keep" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id IN (SELECT min(doc_id) FROM documents
        |                 GROUP BY md5(text))""".stripMargin,
    // Bounded reachability (min id within ≤2 hops) — matches the Spark
    // side's 2-round label propagation by construction.
    "dedup_cluster_cc" ->
      s"""WITH RECURSIVE $CcCte
         |SELECT d.doc_id, coalesce(cm.cl, d.doc_id) AS cluster_id,
         |  coalesce(cm.cl, d.doc_id) = d.doc_id AS is_canonical
         |FROM documents d LEFT JOIN cm ON d.doc_id = cm.src""".stripMargin,
    "dedup_soft_weights" ->
      s"""WITH RECURSIVE $CcCte,
         |base AS (SELECT d.doc_id, coalesce(cm.cl, d.doc_id)
         |    AS cluster_id
         |  FROM documents d LEFT JOIN cm ON d.doc_id = cm.src),
         |sizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT)
         |    AS cluster_size
         |  FROM base GROUP BY cluster_id)
         |SELECT b.doc_id, b.cluster_id, s.cluster_size,
         |  round(1.0 / s.cluster_size, 6) AS sample_weight
         |FROM base b JOIN sizes s ON b.cluster_id = s.cluster_id"""
        .stripMargin,
    // Unbounded transitive closure (UNION dedups, so the recursion
    // reaches a fixpoint on its own) — the exact-CC twin of CcCte's
    // depth-2 variant.
    "graph_cc_exact" ->
      s"""WITH RECURSIVE $SigCte,
         |pr AS (SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         |    AND a.doc_id < b.doc_id),
         |e AS (SELECT left_id AS a, right_id AS b FROM pr
         |  UNION SELECT right_id, left_id FROM pr),
         |reach AS (
         |  SELECT a AS src, a AS dst FROM (SELECT DISTINCT a FROM e)
         |  UNION
         |  SELECT r.src, e2.b AS dst FROM reach r JOIN e e2 ON e2.a = r.dst),
         |cm AS (SELECT src, min(dst) AS cl FROM reach GROUP BY src)
         |SELECT d.doc_id, coalesce(cm.cl, d.doc_id) AS cluster_id
         |FROM documents d LEFT JOIN cm ON d.doc_id = cm.src""".stripMargin,
    // Incremental == batch: the SAME full-corpus truth as
    // graph_cc_exact — the contracted-delta path must reproduce it.
    "graph_cc_incremental" ->
      s"""WITH RECURSIVE $SigCte,
         |pr AS (SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         |    AND a.doc_id < b.doc_id),
         |e AS (SELECT left_id AS a, right_id AS b FROM pr
         |  UNION SELECT right_id, left_id FROM pr),
         |reach AS (
         |  SELECT a AS src, a AS dst FROM (SELECT DISTINCT a FROM e)
         |  UNION
         |  SELECT r.src, e2.b AS dst FROM reach r JOIN e e2 ON e2.a = r.dst),
         |cm AS (SELECT src, min(dst) AS cl FROM reach GROUP BY src)
         |SELECT d.doc_id, coalesce(cm.cl, d.doc_id) AS cluster_id
         |FROM documents d LEFT JOIN cm ON d.doc_id = cm.src""".stripMargin,
    // Same cluster map, argmax-quality retention within each cluster.
    "cluster_keep_best" ->
      s"""WITH RECURSIVE $CcCte,
         |base AS (SELECT d.doc_id, coalesce(cm.cl, d.doc_id) AS cluster_id,
         |  d.n_chars FROM documents d LEFT JOIN cm ON d.doc_id = cm.src),
         |r AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
         |  ORDER BY n_chars DESC, doc_id) AS rnk FROM base)
         |SELECT doc_id, cluster_id, n_chars, rnk = 1 AS keep FROM r"""
        .stripMargin,
    "txt_unigram_logprob" ->
      s"""WITH $TokedCte,
         |tok AS (SELECT doc_id, unnest(toks) AS term FROM toked),
         |cnt AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM cnt),
         |sc AS (SELECT doc_id,
         |  CAST(trunc(round(-ln(CAST(cnt AS DOUBLE) / total), 6)
         |    * 1000000 + 0.5) AS BIGINT) AS nll
         |  FROM tok JOIN cnt USING (term) CROSS JOIN tot)
         |SELECT doc_id, count(*) AS n_tokens,
         |  CAST((sum(nll) * 2 + count(*)) // (count(*) * 2) AS DOUBLE)
         |    / 1000000 AS mean_nll
         |FROM sc GROUP BY doc_id""".stripMargin,
    "samp_weighted" ->
      """WITH c AS (SELECT coalesce(lang, '') AS lk, count(*) AS n_docs
        |  FROM documents GROUP BY coalesce(lang, '')),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total,
        |  count(*) AS n_langs FROM c),
        |cut AS (SELECT lk,
        |  CAST(trunc(least(CAST(1 AS DOUBLE),
        |    (CAST(total AS DOUBLE) / n_langs) / n_docs) * 65536) AS BIGINT)
        |    AS cutoff FROM c, t),
        |ch AS (SELECT lk, CASE WHEN cutoff >= 65536 THEN 'g'
        |  ELSE printf('%04x', cutoff) END AS cut_hex FROM cut)
        |SELECT d.doc_id, d.lang FROM documents d
        |JOIN ch ON coalesce(d.lang, '') = ch.lk
        |WHERE substr(md5(coalesce(d.lang, '') || ':'
        |  || CAST(d.doc_id AS VARCHAR)), 1, 4) < ch.cut_hex""".stripMargin,
    "curriculum_order" ->
      """WITH p AS (SELECT doc_id,
        |  CASE WHEN n_chars < 150 THEN 1 WHEN n_chars < 300 THEN 2
        |       WHEN n_chars < 450 THEN 3 ELSE 4 END AS phase,
        |  md5(CAST(doc_id AS VARCHAR)) AS k FROM documents)
        |SELECT doc_id, CAST(phase AS BIGINT) AS phase,
        |  row_number() OVER (PARTITION BY phase ORDER BY k, doc_id) AS pos
        |FROM p""".stripMargin,
    "dedup_incremental" ->
      s"""WITH $SigCte,
         |exb AS (SELECT DISTINCT band_idx, band_hash FROM bands
         |  WHERE doc_id % 5 <> 0),
         |hits AS (SELECT DISTINCT b.doc_id FROM bands b
         |  JOIN exb ON b.band_idx = exb.band_idx
         |    AND b.band_hash = exb.band_hash
         |  WHERE b.doc_id % 5 = 0)
         |SELECT d.doc_id, d.lang, d.source,
         |  d.doc_id IN (SELECT doc_id FROM hits) AS near_dup_of_corpus
         |FROM documents d WHERE d.doc_id % 5 = 0""".stripMargin,
    "samp_importance" ->
      s"""WITH $TokedCte,
         |tok AS (SELECT t.doc_id, d.lang, unnest(t.toks) AS term
         |  FROM toked t JOIN documents d ON t.doc_id = d.doc_id),
         |vocab AS (SELECT term, count(*) AS c_all,
         |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS c_tgt
         |  FROM tok GROUP BY term),
         |tot AS (SELECT CAST(sum(c_all) AS BIGINT) AS t_all,
         |  CAST(sum(c_tgt) AS BIGINT) AS t_tgt,
         |  count(*) AS v FROM vocab),
         |sc AS (SELECT doc_id,
         |  CAST(trunc(llr * 1000000
         |    + CASE WHEN llr >= 0 THEN 0.5 ELSE -0.5 END) AS BIGINT) AS sllr
         |  FROM (SELECT tok.doc_id,
         |      round(ln(CAST(c_tgt + 1 AS DOUBLE) / (t_tgt + v))
         |        - ln(CAST(c_all + 1 AS DOUBLE) / (t_all + v)), 6) AS llr
         |    FROM tok JOIN vocab USING (term) CROSS JOIN tot)),
         |ag AS (SELECT doc_id, count(*) AS n_tokens,
         |  CAST(sum(sllr) AS BIGINT) AS ssum FROM sc GROUP BY doc_id)
         |SELECT doc_id, n_tokens,
         |  CAST((CASE WHEN ssum < 0 THEN -1 ELSE 1 END)
         |      * ((2 * abs(ssum) + n_tokens) // (2 * n_tokens))
         |    AS DOUBLE) / 1000000.0 AS mean_llr
         |FROM ag""".stripMargin,
    "dedup_minhash_eval" ->
      s"""WITH $SigCte,
         |pr AS (SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         |    AND a.doc_id < b.doc_id),
         |ag AS (SELECT p.left_id, p.right_id,
         |  CAST(sum(CASE WHEN x.band_hash = y.band_hash THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_bands_agree
         |  FROM pr p JOIN bands x ON x.doc_id = p.left_id
         |    JOIN bands y ON y.doc_id = p.right_id
         |      AND y.band_idx = x.band_idx
         |  GROUP BY p.left_id, p.right_id),
         |shr AS (SELECT DISTINCT doc_id, unnest(shingles) AS sgl FROM sh),
         |szs AS (SELECT doc_id, count(*) AS sz FROM shr GROUP BY doc_id),
         |itr AS (SELECT p.left_id, p.right_id, count(*) AS inter
         |  FROM pr p JOIN shr a ON a.doc_id = p.left_id
         |    JOIN shr b ON b.doc_id = p.right_id AND b.sgl = a.sgl
         |  GROUP BY p.left_id, p.right_id)
         |SELECT p.left_id, p.right_id, ag.n_bands_agree,
         |  CASE WHEN coalesce(l.sz, 0) + coalesce(r.sz, 0)
         |      - coalesce(itr.inter, 0) > 0
         |    THEN round(CAST(coalesce(itr.inter, 0) AS DOUBLE)
         |      / (coalesce(l.sz, 0) + coalesce(r.sz, 0)
         |         - coalesce(itr.inter, 0)), 6)
         |    ELSE CAST(1.0 AS DOUBLE) END AS jacc
         |FROM pr p
         |JOIN ag ON ag.left_id = p.left_id AND ag.right_id = p.right_id
         |LEFT JOIN szs l ON l.doc_id = p.left_id
         |LEFT JOIN szs r ON r.doc_id = p.right_id
         |LEFT JOIN itr ON itr.left_id = p.left_id
         |  AND itr.right_id = p.right_id""".stripMargin,
    "dedup_substring_spans" ->
      s"""WITH $TokedCte,
         |gl AS (SELECT doc_id,
         |  [md5(array_to_string(toks[i:i+7], ' '))
         |   for i in range(1, len(toks) - 6)] AS gs
         |  FROM toked WHERE len(toks) >= 8),
         |gr AS (SELECT doc_id AS id, generate_subscripts(gs, 1) - 1 AS pos,
         |  unnest(gs) AS g FROM gl),
         |occ AS (SELECT g, count(*) AS cnt FROM gr GROUP BY g),
         |rare AS (SELECT gr.* FROM gr JOIN occ ON gr.g = occ.g
         |  WHERE occ.cnt BETWEEN 2 AND 8),
         |pr AS (SELECT x.id AS a, x.pos AS pa, y.id AS b, y.pos AS pb
         |  FROM rare x JOIN rare y ON x.g = y.g WHERE x.id < y.id),
         |isl AS (SELECT *, pa - pb AS diag,
         |  pa - row_number() OVER (PARTITION BY a, b, pa - pb
         |    ORDER BY pa) AS isl FROM pr)
         |SELECT a AS doc_a, b AS doc_b, min(pa) AS start_a,
         |  min(pb) AS start_b, CAST(count(*) + 7 AS BIGINT) AS span_tokens
         |FROM isl GROUP BY a, b, diag, isl
         |HAVING count(*) >= 2""".stripMargin,
    "txt_span_removal" ->
      s"""WITH $TokedCte,
         |gl AS (SELECT doc_id,
         |  [md5(array_to_string(toks[i:i+7], ' '))
         |   for i in range(1, len(toks) - 6)] AS gs
         |  FROM toked WHERE len(toks) >= 8),
         |gr AS (SELECT doc_id AS id, generate_subscripts(gs, 1) - 1 AS pos,
         |  unnest(gs) AS g FROM gl),
         |occ AS (SELECT g, count(*) AS cnt FROM gr GROUP BY g),
         |rare AS (SELECT gr.* FROM gr JOIN occ ON gr.g = occ.g
         |  WHERE occ.cnt BETWEEN 2 AND 8),
         |pr AS (SELECT x.id AS a, x.pos AS pa, y.id AS b, y.pos AS pb
         |  FROM rare x JOIN rare y ON x.g = y.g WHERE x.id < y.id),
         |isl AS (SELECT *, pa - pb AS diag,
         |  pa - row_number() OVER (PARTITION BY a, b, pa - pb
         |    ORDER BY pa) AS isl FROM pr),
         |sp AS (SELECT b AS doc_id, min(pb) AS start_b,
         |    count(*) + 7 AS span_tokens
         |  FROM isl GROUP BY a, b, diag, isl HAVING count(*) >= 2),
         |rm AS (SELECT DISTINCT doc_id, pos FROM (
         |  SELECT doc_id, unnest(range(start_b, start_b + span_tokens))
         |    AS pos FROM sp)),
         |tokpos AS (SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos,
         |  unnest(toks) AS tok FROM toked),
         |kept AS (SELECT t.doc_id, count(*) AS n_kept,
         |    md5(array_to_string(list(t.tok ORDER BY t.pos), ' '))
         |      AS clean_hash
         |  FROM tokpos t LEFT JOIN rm
         |    ON rm.doc_id = t.doc_id AND rm.pos = t.pos
         |  WHERE rm.doc_id IS NULL GROUP BY t.doc_id)
         |SELECT t0.doc_id, CAST(len(t0.toks) AS BIGINT) AS n_tokens,
         |  coalesce(k.n_kept, 0) AS n_kept,
         |  coalesce(k.clean_hash, md5('')) AS clean_hash
         |FROM toked t0 LEFT JOIN kept k USING (doc_id)""".stripMargin,
    "txt_lang_confusion" ->
      s"""WITH $TokedCte,
         |sc AS (SELECT doc_id,
         |  len(list_filter(toks, x -> list_contains(
         |    ['the','a','and','of','to','in','is'], x))) AS s_en,
         |  len(list_filter(toks, x -> list_contains(
         |    ['el','la','de','y','que','en','los'], x))) AS s_es,
         |  len(list_filter(toks, x -> list_contains(
         |    ['der','die','und','das','ist','von','ein'], x))) AS s_de
         |  FROM toked),
         |pred AS (SELECT doc_id,
         |  CASE WHEN greatest(s_en, s_es, s_de) = 0 THEN 'und'
         |       WHEN s_en = greatest(s_en, s_es, s_de) THEN 'en'
         |       WHEN s_es = greatest(s_en, s_es, s_de) THEN 'es'
         |       ELSE 'de' END AS predicted
         |  FROM sc),
         |cells AS (SELECT coalesce(d.lang, '') AS actual, p.predicted,
         |    count(*) AS n
         |  FROM documents d JOIN pred p ON d.doc_id = p.doc_id
         |  GROUP BY coalesce(d.lang, ''), p.predicted)
         |SELECT actual, predicted, n,
         |  round(CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY actual)
         |    AS DOUBLE), 6) AS share
         |FROM cells""".stripMargin,
    "samp_temperature" ->
      """WITH c AS (SELECT coalesce(lang, '') AS lang, count(*) AS n_docs
        |  FROM documents GROUP BY coalesce(lang, '')),
        |sq AS (SELECT lang, n_docs,
        |  CAST(trunc(round(sqrt(n_docs), 6) * 1000000 + 0.5) AS BIGINT)
        |    AS sq FROM c),
        |den AS (SELECT CAST(sum(sq) AS BIGINT) AS den FROM sq)
        |SELECT lang, n_docs,
        |  floor((CAST(sq AS DOUBLE) * 2000000 + CAST(den AS DOUBLE))
        |    / (CAST(den AS DOUBLE) * 2)) / 1000000 AS weight
        |FROM sq, den""".stripMargin,
    "dedup_lines" ->
      s"""WITH $TokedCte,
         |bl AS (SELECT doc_id,
         |  [array_to_string(toks[(i-1)*16+1 : i*16], ' ')
         |   for i in range(1, CAST((len(toks)-1)//16 AS BIGINT) + 2)]
         |    AS blocks
         |  FROM toked WHERE len(toks) > 0),
         |ex AS (SELECT doc_id, generate_subscripts(blocks, 1) - 1
         |    AS chunk_id, unnest(blocks) AS chunk_text FROM bl),
         |occ AS (SELECT *, row_number() OVER (PARTITION BY md5(chunk_text)
         |  ORDER BY doc_id, chunk_id) AS occ FROM ex),
         |cnt AS (SELECT doc_id, count(*) AS n_blocks FROM ex
         |  GROUP BY doc_id),
         |kept AS (SELECT doc_id, count(*) AS n_kept,
         |  md5(array_to_string(list(chunk_text ORDER BY chunk_id), ' '))
         |    AS dedup_hash
         |  FROM occ WHERE occ = 1 GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(c.n_blocks, 0) AS n_blocks,
         |  coalesce(k.n_kept, 0) AS n_kept,
         |  coalesce(k.dedup_hash, md5('')) AS dedup_hash
         |FROM documents d
         |LEFT JOIN cnt c ON d.doc_id = c.doc_id
         |LEFT JOIN kept k ON d.doc_id = k.doc_id""".stripMargin,
    "pack_chunks" ->
      s"""WITH $TokedCte,
         |bl AS (SELECT doc_id,
         |  [least(64, len(toks) - (i-1)*64)
         |   for i in range(1, CAST((len(toks)-1)//64 AS BIGINT) + 2)]
         |    AS lens
         |  FROM toked WHERE len(toks) > 0),
         |ex AS (SELECT doc_id, generate_subscripts(lens, 1) - 1
         |    AS chunk_id, unnest(lens) AS n_tokens FROM bl),
         |c AS (SELECT *, coalesce(sum(n_tokens) OVER (
         |    ORDER BY doc_id, chunk_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum0
         |  FROM ex)
         |SELECT CAST(cum0 // 512 AS BIGINT) AS bin_id, count(*) AS n_chunks,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  round(CAST(sum(n_tokens) AS DOUBLE) / 512, 6) AS fill
         |FROM c GROUP BY bin_id""".stripMargin,
    "pack_shards" ->
      s"""WITH $TokedCte,
         |bl AS (SELECT doc_id,
         |  [least(64, len(toks) - (i-1)*64)
         |   for i in range(1, CAST((len(toks)-1)//64 AS BIGINT) + 2)]
         |    AS lens,
         |  [array_to_string(toks[(i-1)*64+1 : (i-1)*64+64], ' ')
         |   for i in range(1, CAST((len(toks)-1)//64 AS BIGINT) + 2)]
         |    AS texts
         |  FROM toked WHERE len(toks) > 0),
         |ex AS (SELECT doc_id, generate_subscripts(lens, 1) - 1
         |    AS chunk_id, unnest(lens) AS n_tokens,
         |    unnest(texts) AS chunk_text FROM bl),
         |c AS (SELECT *, coalesce(sum(n_tokens) OVER (
         |    ORDER BY doc_id, chunk_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum0
         |  FROM ex)
         |SELECT CAST(cum0 // 512 AS BIGINT) AS bin_id,
         |  count(*) AS n_chunks,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  md5(string_agg(chunk_text, '<eod>'
         |    ORDER BY doc_id, chunk_id)) AS shard_md5
         |FROM c GROUP BY bin_id""".stripMargin,
    "txt_tfidf_topk" ->
      s"""WITH $TokedCte,
         |tok AS (SELECT doc_id, unnest(toks) AS term FROM toked),
         |tf AS (SELECT doc_id, term, count(*) AS tf
         |  FROM tok GROUP BY doc_id, term),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |sc AS (SELECT tf.doc_id, tf.term,
         |    round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df), 6)
         |      AS score
         |  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n),
         |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, term) AS rnk FROM sc)
         |SELECT doc_id, term, score, rnk FROM r WHERE rnk <= 3""".stripMargin,
    "samp_split" ->
      """SELECT doc_id,
        |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
        |    AS BIGINT) % 100 AS bucket,
        |  CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
        |      1, 4)) AS BIGINT) % 100 < 80 THEN 'train'
        |    WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
        |      1, 4)) AS BIGINT) % 100 < 90 THEN 'val'
        |    ELSE 'test' END AS split
        |FROM documents""".stripMargin,
    // Mirrors canonicalizeUrl rule-for-rule with DuckDB regex/list
    // functions; the synth disguises come from the same doc_id
    // arithmetic as the Spark side.
    "txt_url_dedup" ->
      """WITH u0 AS (SELECT doc_id, doc_id // 4 AS b, doc_id % 4 AS m,
        |    (doc_id // 4) % 50 AS n FROM documents),
        |raw AS (SELECT doc_id, CASE m
        |    WHEN 0 THEN 'http://www.example' || n || '.com/page/' || b
        |      || '?id=' || b || '&z=1'
        |    WHEN 1 THEN 'HTTP://WWW.EXAMPLE' || n || '.COM:80/page/' || b
        |      || '/?z=1&id=' || b
        |    WHEN 2 THEN 'http://www.example' || n || '.com/page/' || b
        |      || '?utm_source=feed&id=' || b || '&z=1'
        |    ELSE 'http://www.example' || n || '.com/page/' || b
        |      || '?id=' || b || '&z=1&gclid=1#frag' END AS url
        |  FROM u0),
        |s0 AS (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS u
        |  FROM raw),
        |p AS (SELECT doc_id, url,
        |    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
        |      AS scheme,
        |    lower(regexp_extract(u,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS hp,
        |    regexp_replace(regexp_extract(u,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1),
        |      '/+$', '') AS path,
        |    regexp_extract(u, '\?([^#]*)', 1) AS q
        |  FROM s0),
        |k AS (SELECT doc_id, url,
        |    scheme || '://' ||
        |    CASE WHEN scheme = 'http' THEN regexp_replace(hp, ':80$', '')
        |      WHEN scheme = 'https' THEN regexp_replace(hp, ':443$', '')
        |      ELSE hp END || path ||
        |    CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS canonical_url
        |  FROM (SELECT *, array_to_string(list_sort(list_filter(
        |      string_split(q, '&'), x -> x <> '' AND NOT regexp_matches(
        |        x, '^(utm_|fbclid(=|$)|gclid(=|$))'))), '&') AS qs
        |    FROM p))
        |SELECT canonical_url, min(doc_id) AS keep_id,
        |  count(*) AS n_variants,
        |  CAST(count(DISTINCT url) AS BIGINT) AS n_forms
        |FROM k GROUP BY canonical_url""".stripMargin,
    "dedup_threshold_sweep" ->
      s"""WITH $SigCte,
         |ds AS (SELECT doc_id, list_distinct(shingles) AS s FROM sh),
         |pr AS (SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         |    AND a.doc_id < b.doc_id),
         |sc AS (SELECT pr.left_id, pr.right_id,
         |    CASE WHEN len(list_distinct(list_concat(a.s, b.s))) > 0
         |      THEN CAST(len(list_filter(list_distinct(a.s),
         |        x -> list_contains(b.s, x))) AS DOUBLE) /
         |        len(list_distinct(list_concat(a.s, b.s)))
         |      ELSE 0.0 END AS jac
         |  FROM pr JOIN ds a ON pr.left_id = a.doc_id
         |  JOIN ds b ON pr.right_id = b.doc_id),
         |taus AS (SELECT unnest([0.5, 0.7, 0.9]::DOUBLE[]) AS tau)
         |SELECT taus.tau, count(*) AS n_dup_pairs,
         |  CAST(count(DISTINCT right_id) AS BIGINT) AS n_docs_dropped
         |FROM sc CROSS JOIN taus WHERE sc.jac >= taus.tau
         |GROUP BY taus.tau""".stripMargin,
    "dq_split_leakage" ->
      s"""WITH $SigCte,
         |pr AS (SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         |    AND a.doc_id < b.doc_id),
         |sp AS (SELECT left_id, right_id,
         |    CASE WHEN CAST(('0x' || substr(md5(CAST(left_id AS VARCHAR)),
         |        1, 4)) AS BIGINT) % 100 < 80 THEN 'train'
         |      WHEN CAST(('0x' || substr(md5(CAST(left_id AS VARCHAR)),
         |        1, 4)) AS BIGINT) % 100 < 90 THEN 'val'
         |      ELSE 'test' END AS split_a,
         |    CASE WHEN CAST(('0x' || substr(md5(CAST(right_id AS VARCHAR)),
         |        1, 4)) AS BIGINT) % 100 < 80 THEN 'train'
         |      WHEN CAST(('0x' || substr(md5(CAST(right_id AS VARCHAR)),
         |        1, 4)) AS BIGINT) % 100 < 90 THEN 'val'
         |      ELSE 'test' END AS split_b
         |  FROM pr)
         |SELECT least(split_a, split_b) AS split_lo,
         |  greatest(split_a, split_b) AS split_hi,
         |  count(*) AS n_pairs
         |FROM sp GROUP BY least(split_a, split_b),
         |  greatest(split_a, split_b)""".stripMargin,
    "samp_reservoir" ->
      """WITH r AS (SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS pick_rank
        |  FROM documents)
        |SELECT doc_id, source, CAST(pick_rank AS BIGINT) AS pick_rank
        |FROM r WHERE pick_rank <= 20""".stripMargin,
    "samp_stratified" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE substr(md5(coalesce(lang, '') || ':'
        |    || CAST(doc_id AS VARCHAR)), 1, 2)
        |  < CASE WHEN lang = 'en' THEN '1a' ELSE '80' END""".stripMargin,
    "txt_entropy" ->
      s"""WITH $TokedCte,
         |tf AS (SELECT doc_id, t AS tok, count(*) AS c
         |  FROM (SELECT doc_id, unnest(toks) AS t FROM toked)
         |  GROUP BY doc_id, t),
         |h AS (SELECT doc_id, sum(c) AS n, count(*) AS n_uniq,
         |    sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS clogc
         |  FROM tf GROUP BY doc_id)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
         |  CAST(n_uniq AS BIGINT) AS n_unique,
         |  round(ln(CAST(n AS DOUBLE)) - clogc / n, 6) AS entropy
         |FROM h""".stripMargin,
    "txt_repetition" ->
      s"""WITH $TokedCte, $ShingledCte,
         |st AS (SELECT doc_id, len(shingles) AS n_sh,
         |  len(list_distinct(shingles)) AS n_uniq FROM sh)
         |SELECT doc_id, n_sh, n_uniq,
         |  round(CASE WHEN n_sh > 0
         |    THEN CAST(1 AS DOUBLE) - CAST(n_uniq AS DOUBLE) / n_sh
         |    ELSE CAST(0 AS DOUBLE) END, 6) AS rep_ratio
         |FROM st""".stripMargin,
    "idx_inverted" ->
      s"""WITH $TokedCte,
         |tok AS (SELECT DISTINCT doc_id, unnest(toks) AS token FROM toked)
         |SELECT token, count(*) AS df,
         |  array_to_string(list_sort(list(doc_id)), ',') AS postings
         |FROM tok GROUP BY token HAVING count(*) >= 10""".stripMargin,
    "vocab_topk" ->
      s"""WITH $TokedCte,
         |tok AS (SELECT unnest(toks) AS token FROM toked)
         |SELECT token, count(*) AS freq FROM tok GROUP BY token
         |ORDER BY freq DESC, token LIMIT 50""".stripMargin,
    "bigram_topk" ->
      s"""WITH $TokedCte,
         |bg AS (SELECT unnest([array_to_string(toks[i:i+1], ' ')
         |    for i in range(1, greatest(len(toks), 1))]) AS bigram
         |  FROM toked)
         |SELECT bigram, count(*) AS freq FROM bg GROUP BY bigram
         |ORDER BY freq DESC, bigram LIMIT 30""".stripMargin,
    "mm_features" ->
      """SELECT doc_id, octet_length(encode(text)) AS byte_len,
        |  sha256(text) AS content_hash,
        |  n_chars % 640 AS fake_width,
        |  octet_length(encode(text)) * 3 % 480 AS fake_height,
        |  3 AS channels
        |FROM documents""".stripMargin,
    "pipeline_rag_corpus" ->
      s"""WITH $TokedCte, $CleanGateCte,
         |keep AS (SELECT min(doc_id) AS doc_id FROM documents
         |  GROUP BY md5(text)),
         |gated AS (SELECT doc_id FROM scored
         |  WHERE n_tokens >= 20 AND stop_ratio >= 0.05
         |    AND lang_guess <> 'und'),
         |clean AS (SELECT g.doc_id FROM gated g
         |  JOIN keep k ON g.doc_id = k.doc_id),
         |ct AS (SELECT t.doc_id, t.toks, CAST(len(t.toks) AS BIGINT) AS n
         |  FROM toked t JOIN clean c ON t.doc_id = c.doc_id
         |  WHERE len(t.toks) > 0),
         |ch AS (SELECT doc_id,
         |  unnest(range(CAST(ceil(n / 64.0) AS BIGINT))) AS chunk_id,
         |  unnest([array_to_string(toks[i*64+1 : i*64+64], ' ')
         |          for i in range(CAST(ceil(n / 64.0) AS BIGINT))])
         |    AS chunk_text
         |  FROM ct),
         |uniq AS (SELECT * FROM (SELECT doc_id, chunk_id, chunk_text,
         |    row_number() OVER (PARTITION BY md5(chunk_text)
         |      ORDER BY doc_id, chunk_id) AS occ FROM ch)
         |  WHERE occ = 1),
         |tok2 AS (SELECT doc_id, chunk_id, unnest(list_filter(
         |    regexp_split_to_array(trim(chunk_text), '\\s+'), x -> x != ''))
         |    AS term FROM uniq),
         |dl AS (SELECT doc_id, chunk_id, count(*) AS len FROM tok2
         |  GROUP BY doc_id, chunk_id),
         |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len) AS BIGINT) AS tot_len FROM dl),
         |tf AS (SELECT doc_id, chunk_id, term, count(*) AS tf FROM tok2
         |  WHERE term IN (${Bm25Terms.map("'" + _ + "'").mkString(", ")})
         |  GROUP BY doc_id, chunk_id, term),
         |idf AS (SELECT term,
         |  round(ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE)
         |      + CAST(0.5 AS DOUBLE))
         |    / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))
         |    + CAST(1.0 AS DOUBLE)), 6) AS idf,
         |  CAST(tot_len AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl
         |  FROM (SELECT term, count(*) AS df FROM tf GROUP BY term), stats),
         |sc AS (SELECT tf.doc_id, tf.chunk_id, CAST(trunc(round(idf.idf
         |    * (CAST(tf.tf AS DOUBLE) * CAST(2.2 AS DOUBLE)
         |      / (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
         |        * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE)
         |          * (CAST(dl.len AS DOUBLE) / idf.avgdl)))), 6)
         |    * 1000000 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS contrib
         |  FROM tf JOIN idf USING (term)
         |  JOIN dl ON tf.doc_id = dl.doc_id AND tf.chunk_id = dl.chunk_id),
         |g AS (SELECT doc_id, chunk_id, CAST(sum(contrib) AS BIGINT) AS s,
         |  CAST(count(*) AS BIGINT) AS n_terms FROM sc
         |  GROUP BY doc_id, chunk_id)
         |SELECT doc_id, chunk_id,
         |  round(CAST(s AS DOUBLE) / 1000000, 6) AS score, n_terms
         |FROM g ORDER BY s DESC, doc_id, chunk_id LIMIT 10""".stripMargin,
    "mm_frame_sample" ->
      """WITH b AS (SELECT doc_id AS media_id,
        |    to_base64(encode(text)) AS s FROM documents),
        |f AS (SELECT media_id, i AS frame_idx,
        |    substr(s, CAST(i * 192 + 1 AS BIGINT), 192) AS frame_b64
        |  FROM b, LATERAL (SELECT unnest(
        |    range(0, CAST(ceil(length(s) / 192.0) AS BIGINT))) AS i))
        |SELECT media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |  md5(frame_b64) AS frame_hash
        |FROM f WHERE frame_idx % 2 = 0""".stripMargin,
    // Per-kind averages recomputed from the synth derivations
    // (mm_image/audio/video_features' arithmetic), same long-sum-then-
    // divide ordering as the Spark side.
    "pipeline_media_stats" ->
      """WITH img AS (SELECT 'image' AS kind,
        |    count(*) AS n_items,
        |    round(CAST(sum(16 + doc_id % 32) AS DOUBLE) / count(*), 6)
        |      AS avg_m1,
        |    round(CAST(sum(16 + doc_id % 16) AS DOUBLE) / count(*), 6)
        |      AS avg_m2
        |  FROM documents),
        |aud AS (SELECT 'audio' AS kind, count(*) AS n_items,
        |    round(CAST(sum((100 + doc_id % 50) * 1000000
        |      // (8000 + (doc_id % 4) * 2000)) AS DOUBLE) / count(*), 6)
        |      AS avg_m1,
        |    round(CAST(sum(1 + doc_id % 2) AS DOUBLE) / count(*), 6)
        |      AS avg_m2
        |  FROM documents),
        |vid AS (SELECT 'video' AS kind, count(*) AS n_items,
        |    round(CAST(sum((2 + doc_id % 7) * 1000) AS DOUBLE)
        |      / count(*), 6) AS avg_m1,
        |    round(CAST(sum(320 + (doc_id % 4) * 160) AS DOUBLE)
        |      / count(*), 6) AS avg_m2
        |  FROM documents)
        |SELECT * FROM img UNION ALL SELECT * FROM aud
        |UNION ALL SELECT * FROM vid""".stripMargin,
    // Recomputes synthMp4Frames' layout: sample k of doc has size
    // 20 + (id+k) mod 30, starts at the running size sum, and mdat
    // byte j is (17j + id) mod 256.
    "mm_frame_bytes" ->
      """WITH p AS (SELECT doc_id, 3 + doc_id % 4 AS n FROM documents),
        |s AS (SELECT doc_id, kk.k, 20 + (doc_id + kk.k) % 30 AS sz
        |  FROM p, LATERAL (SELECT unnest(range(0, n)) AS k) kk),
        |r AS (SELECT doc_id, k, sz,
        |    CAST(coalesce(sum(sz) OVER (PARTITION BY doc_id ORDER BY k
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS st
        |  FROM s),
        |bytes AS (SELECT doc_id, k, sz, st, jj.j,
        |    (17 * jj.j + doc_id) % 256 AS v
        |  FROM r, LATERAL (SELECT unnest(range(st, st + sz)) AS j) jj)
        |SELECT doc_id AS media_id, CAST(k AS BIGINT) AS sample_idx,
        |  CAST(sz AS BIGINT) AS n_bytes,
        |  CAST(sum(v) AS BIGINT) AS byte_sum,
        |  CAST(min(CASE WHEN j = st THEN v END) AS INTEGER)
        |    AS first_byte,
        |  CAST(min(CASE WHEN j = st + sz - 1 THEN v END) AS INTEGER)
        |    AS last_byte
        |FROM bytes GROUP BY doc_id, k, sz, st""".stripMargin,
    // Recomputes synthMp4FramesShared's frames analytically (sizes and
    // bytes seeded by fam = doc_id % 5, count by doc_id), md5s the
    // same unsigned-decimal join the Spark extractor hashes, and
    // replays the hash self-join + Jaccard.
    "mm_frame_dedup" ->
      """WITH p AS (SELECT doc_id, doc_id % 5 AS fam,
        |    3 + doc_id % 4 AS n FROM documents),
        |s AS (SELECT doc_id, fam, kk.k, 20 + (fam + kk.k) % 30 AS sz
        |  FROM p, LATERAL (SELECT unnest(range(0, n)) AS k) kk),
        |r AS (SELECT doc_id, fam, k, sz,
        |    CAST(coalesce(sum(sz) OVER (PARTITION BY doc_id ORDER BY k
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS st
        |  FROM s),
        |bytes AS (SELECT doc_id, k, jj.j,
        |    (17 * jj.j + fam) % 256 AS v
        |  FROM r, LATERAL (SELECT unnest(range(st, st + sz)) AS j) jj),
        |fh AS (SELECT doc_id, k,
        |    md5(string_agg(CAST(v AS VARCHAR), ',' ORDER BY j)) AS fhash
        |  FROM bytes GROUP BY doc_id, k),
        |nf AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nf
        |  FROM fh GROUP BY doc_id),
        |pr AS (SELECT a.doc_id AS left_id, b.doc_id AS right_id,
        |    CAST(count(*) AS BIGINT) AS n_shared
        |  FROM fh a JOIN fh b ON a.fhash = b.fhash
        |    AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT pr.left_id, pr.right_id, pr.n_shared,
        |  round(CAST(pr.n_shared AS DOUBLE)
        |    / CAST(l.nf + r.nf - pr.n_shared AS DOUBLE), 6) AS jaccard
        |FROM pr JOIN nf l ON pr.left_id = l.doc_id
        |  JOIN nf r ON pr.right_id = r.doc_id""".stripMargin,
    // Same frame-hash derivation, then UNBOUNDED min-label
    // reachability over the distinct pair graph (UNION dedups, so the
    // recursion reaches its own fixpoint) — the oracle twin of
    // connectedComponentsFixpoint; the Spark side's star edge set
    // spans the same components as this all-pairs closure by
    // construction — and argmax-frames retention within each cluster.
    "mm_video_keep_best" ->
      """WITH RECURSIVE p AS (SELECT doc_id, doc_id % 5 AS fam,
        |    3 + doc_id % 4 AS n FROM documents),
        |s AS (SELECT doc_id, fam, kk.k, 20 + (fam + kk.k) % 30 AS sz
        |  FROM p, LATERAL (SELECT unnest(range(0, n)) AS k) kk),
        |r AS (SELECT doc_id, fam, k, sz,
        |    CAST(coalesce(sum(sz) OVER (PARTITION BY doc_id ORDER BY k
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS st
        |  FROM s),
        |bytes AS (SELECT doc_id, k, jj.j,
        |    (17 * jj.j + fam) % 256 AS v
        |  FROM r, LATERAL (SELECT unnest(range(st, st + sz)) AS j) jj),
        |fh AS (SELECT doc_id, k,
        |    md5(string_agg(CAST(v AS VARCHAR), ',' ORDER BY j)) AS fhash
        |  FROM bytes GROUP BY doc_id, k),
        |nf AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nf
        |  FROM fh GROUP BY doc_id),
        |pr AS (SELECT DISTINCT a.doc_id AS li, b.doc_id AS ri
        |  FROM fh a JOIN fh b ON a.fhash = b.fhash
        |    AND a.doc_id < b.doc_id),
        |e AS (SELECT li AS a, ri AS b FROM pr
        |  UNION SELECT ri, li FROM pr),
        |reach AS (
        |  SELECT a AS src, a AS dst
        |    FROM (SELECT DISTINCT a FROM e)
        |  UNION
        |  SELECT rr.src, e2.b AS dst
        |    FROM reach rr JOIN e e2 ON e2.a = rr.dst),
        |cm AS (SELECT src, min(dst) AS cl FROM reach GROUP BY src),
        |base AS (SELECT nf.doc_id,
        |    coalesce(cm.cl, nf.doc_id) AS cluster_id, nf.nf
        |  FROM nf LEFT JOIN cm ON nf.doc_id = cm.src),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
        |  ORDER BY nf DESC, doc_id) AS rnk FROM base)
        |SELECT doc_id AS media_id, cluster_id, nf, rnk = 1 AS keep
        |FROM rk""".stripMargin,
    // Same keep-best chain, rolled up per cluster into the retention
    // report.
    "pipeline_video_retention" ->
      """WITH RECURSIVE p AS (SELECT doc_id, doc_id % 5 AS fam,
        |    3 + doc_id % 4 AS n FROM documents),
        |s AS (SELECT doc_id, fam, kk.k, 20 + (fam + kk.k) % 30 AS sz
        |  FROM p, LATERAL (SELECT unnest(range(0, n)) AS k) kk),
        |r AS (SELECT doc_id, fam, k, sz,
        |    CAST(coalesce(sum(sz) OVER (PARTITION BY doc_id ORDER BY k
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS st
        |  FROM s),
        |bytes AS (SELECT doc_id, k, jj.j,
        |    (17 * jj.j + fam) % 256 AS v
        |  FROM r, LATERAL (SELECT unnest(range(st, st + sz)) AS j) jj),
        |fh AS (SELECT doc_id, k,
        |    md5(string_agg(CAST(v AS VARCHAR), ',' ORDER BY j)) AS fhash
        |  FROM bytes GROUP BY doc_id, k),
        |nf AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nf
        |  FROM fh GROUP BY doc_id),
        |pr AS (SELECT DISTINCT a.doc_id AS li, b.doc_id AS ri
        |  FROM fh a JOIN fh b ON a.fhash = b.fhash
        |    AND a.doc_id < b.doc_id),
        |e AS (SELECT li AS a, ri AS b FROM pr
        |  UNION SELECT ri, li FROM pr),
        |reach AS (
        |  SELECT a AS src, a AS dst
        |    FROM (SELECT DISTINCT a FROM e)
        |  UNION
        |  SELECT rr.src, e2.b AS dst
        |    FROM reach rr JOIN e e2 ON e2.a = rr.dst),
        |cm AS (SELECT src, min(dst) AS cl FROM reach GROUP BY src),
        |base AS (SELECT nf.doc_id,
        |    coalesce(cm.cl, nf.doc_id) AS cluster_id, nf.nf
        |  FROM nf LEFT JOIN cm ON nf.doc_id = cm.src),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
        |  ORDER BY nf DESC, doc_id) AS rnk FROM base)
        |SELECT cluster_id, count(*) AS n_videos,
        |  CAST(sum(nf) AS BIGINT) AS n_frames_total,
        |  min(CASE WHEN rnk = 1 THEN doc_id END) AS kept_media_id,
        |  max(CASE WHEN rnk = 1 THEN nf END) AS kept_nf,
        |  CAST(sum(nf) AS BIGINT)
        |    - max(CASE WHEN rnk = 1 THEN nf END) AS frames_dropped
        |FROM rk GROUP BY cluster_id""".stripMargin,
    // Recomputes synthWav's data bytes: sample k's low byte is
    // (62k + sr) mod 256 and high byte (62k + 31 + sr) mod 256
    // (byte i = (31i + sr) mod 256 at i = 2k, 2k+1), sign-extended
    // 16-bit LE; windows of 50 frames over fr frames of ch channels.
    "mm_audio_energy" ->
      """WITH p AS (SELECT doc_id, 8000 + (doc_id % 4) * 2000 AS sr,
        |    1 + doc_id % 2 AS ch, 100 + doc_id % 50 AS fr
        |  FROM documents),
        |k AS (SELECT doc_id, sr, ch, fr, kk.k
        |  FROM p, LATERAL (SELECT unnest(range(0, fr * ch)) AS k) kk),
        |smp AS (SELECT doc_id, ch, fr, k,
        |    (62 * k + sr) % 256 + 256 * ((62 * k + 31 + sr) % 256)
        |      AS raw
        |  FROM k),
        |v AS (SELECT doc_id, fr,
        |    (k // ch) // 50 AS w,
        |    CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS val
        |  FROM smp)
        |SELECT doc_id AS media_id, CAST(w AS BIGINT) AS window_idx,
        |  CAST(least(50, fr - w * 50) AS BIGINT) AS n_frames,
        |  CAST(sum(abs(val)) AS BIGINT) AS abs_sum
        |FROM v GROUP BY doc_id, w, fr""".stripMargin,
    // Ground truth from synthWavSegments' closed form: window w is
    // silent iff (id+w) mod 3 == 0; a voiced run starts at w = 0 or
    // after a silent window; the Spark side must RECOVER this from
    // decoded PCM energy.
    "mm_audio_segments" ->
      """WITH p AS (SELECT doc_id, 8 + doc_id % 5 AS nw FROM documents),
        |win AS (SELECT doc_id AS media_id, kk.w AS window_idx,
        |    (doc_id + kk.w) % 3 = 0 AS is_silent,
        |    CASE WHEN (doc_id + kk.w) % 3 != 0
        |        AND (kk.w = 0 OR (doc_id + kk.w - 1) % 3 = 0)
        |      THEN 1 ELSE 0 END AS starts
        |  FROM p, LATERAL (SELECT unnest(range(0, nw)) AS w) kk)
        |SELECT media_id, CAST(window_idx AS BIGINT) AS window_idx,
        |  is_silent,
        |  CASE WHEN NOT is_silent THEN
        |    CAST(sum(starts) OVER (PARTITION BY media_id
        |      ORDER BY window_idx ROWS UNBOUNDED PRECEDING) - 1
        |      AS BIGINT) END AS segment_id
        |FROM win""".stripMargin,
    // Both modalities' closed forms rolled up: video scenes per doc =
    // ceil(n/len); audio segments per doc = count of voiced-run
    // starts under the (id+w) mod 3 silence map.
    "pipeline_segmentation_report" ->
      """WITH pv AS (SELECT doc_id, 6 + doc_id % 5 AS n,
        |    2 + doc_id % 3 AS len FROM documents),
        |vv AS (SELECT count(*) AS n_items,
        |    CAST(sum(n) AS BIGINT) AS n_units,
        |    CAST(sum((n + len - 1) // len) AS BIGINT) AS n_segments
        |  FROM pv),
        |pa AS (SELECT doc_id, 8 + doc_id % 5 AS nw FROM documents),
        |aw AS (SELECT doc_id, kk.w,
        |    (doc_id + kk.w) % 3 != 0
        |      AND (kk.w = 0 OR (doc_id + kk.w - 1) % 3 = 0) AS st
        |  FROM pa, LATERAL (SELECT unnest(range(0, nw)) AS w) kk),
        |aa AS (SELECT doc_id, count(*) AS units,
        |    sum(CASE WHEN st THEN 1 ELSE 0 END) AS segs
        |  FROM aw GROUP BY doc_id),
        |av AS (SELECT count(*) AS n_items,
        |    CAST(sum(units) AS BIGINT) AS n_units,
        |    CAST(sum(segs) AS BIGINT) AS n_segments FROM aa),
        |u AS (SELECT 'video' AS modality, * FROM vv
        |  UNION ALL SELECT 'audio', * FROM av)
        |SELECT modality, n_items, n_units, n_segments,
        |  CAST(CAST(round(CAST(n_units * 1000000 AS DOUBLE)
        |    / n_segments, 0) AS BIGINT) AS DOUBLE) / 1000000.0
        |    AS units_per_segment
        |FROM u ORDER BY modality""".stripMargin,
    // Replays synthWavFamilies end-to-end: md5(fam) 16-bit seed →
    // byte pattern (i·step + base) mod 256 → signed-16LE samples →
    // the two full 50-frame window sums → quantized signature →
    // signature-bucket pairs → exact prefix verdict.
    "mm_audio_dedup" ->
      s"""WITH $AudioSigCte
         |SELECT a.media_id AS left_id, b.media_id AS right_id,
         |  CAST(abs(a.s0 - b.s0) AS BIGINT) AS d0,
         |  CAST(abs(a.s1 - b.s1) AS BIGINT) AS d1,
         |  a.s0 = b.s0 AND a.s1 = b.s1 AS is_dup
         |FROM sg a JOIN sg b ON a.sig = b.sig
         |  AND a.media_id < b.media_id""".stripMargin,
    // Same signature chain → exact-prefix dup edges → recursive CC →
    // keep the longest cut (nf_total = 100 + 25·(id mod 4), the
    // closed form of the decoded window-frame total).
    "mm_audio_keep_best" ->
      s"""WITH RECURSIVE $AudioSigCte,
         |idup AS (SELECT a.media_id AS li, b.media_id AS ri
         |  FROM sg a JOIN sg b ON a.sig = b.sig
         |    AND a.media_id < b.media_id
         |    AND a.s0 = b.s0 AND a.s1 = b.s1),
         |e AS (SELECT li AS a, ri AS b FROM idup
         |  UNION SELECT ri, li FROM idup),
         |reach AS (
         |  SELECT a AS src, a AS dst
         |    FROM (SELECT DISTINCT a FROM e)
         |  UNION
         |  SELECT rr.src, e2.b AS dst
         |    FROM reach rr JOIN e e2 ON e2.a = rr.dst),
         |cm AS (SELECT src, min(dst) AS cl FROM reach GROUP BY src),
         |nft AS (SELECT media_id,
         |    CAST(100 + 25 * (media_id % 4) AS BIGINT) AS nf_total
         |  FROM p),
         |base AS (SELECT n.media_id,
         |    coalesce(cm.cl, n.media_id) AS cluster_id, n.nf_total
         |  FROM nft n LEFT JOIN cm ON n.media_id = cm.src),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
         |  ORDER BY nf_total DESC, media_id) AS rnk FROM base)
         |SELECT media_id, cluster_id, nf_total, rnk = 1 AS keep
         |FROM rk""".stripMargin,
    // The cross-modal rollup: all three modality chains (video frame
    // hashes, image aHash bands, audio signatures — CTEs prefixed to
    // coexist) each end in a ranked keep table, summarized to one row
    // per modality.
    "pipeline_media_retention" ->
      s"""WITH RECURSIVE
         |vp AS (SELECT doc_id, doc_id % 5 AS fam,
         |    3 + doc_id % 4 AS n FROM documents),
         |vs AS (SELECT doc_id, fam, kk.k, 20 + (fam + kk.k) % 30 AS sz
         |  FROM vp, LATERAL (SELECT unnest(range(0, n)) AS k) kk),
         |vr AS (SELECT doc_id, fam, k, sz,
         |    CAST(coalesce(sum(sz) OVER (PARTITION BY doc_id ORDER BY k
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS vst
         |  FROM vs),
         |vbytes AS (SELECT doc_id, k, jj.j,
         |    (17 * jj.j + fam) % 256 AS v
         |  FROM vr, LATERAL (SELECT unnest(range(vst, vst + sz)) AS j) jj),
         |vfh AS (SELECT doc_id, k,
         |    md5(string_agg(CAST(v AS VARCHAR), ',' ORDER BY j)) AS fhash
         |  FROM vbytes GROUP BY doc_id, k),
         |vnf AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nf
         |  FROM vfh GROUP BY doc_id),
         |vpr AS (SELECT DISTINCT a.doc_id AS li, b.doc_id AS ri
         |  FROM vfh a JOIN vfh b ON a.fhash = b.fhash
         |    AND a.doc_id < b.doc_id),
         |ve AS (SELECT li AS a, ri AS b FROM vpr
         |  UNION SELECT ri, li FROM vpr),
         |vreach AS (
         |  SELECT a AS src, a AS dst
         |    FROM (SELECT DISTINCT a FROM ve)
         |  UNION
         |  SELECT rr.src, e2.b AS dst
         |    FROM vreach rr JOIN ve e2 ON e2.a = rr.dst),
         |vcm AS (SELECT src, min(dst) AS cl FROM vreach GROUP BY src),
         |vbase AS (SELECT vnf.doc_id,
         |    coalesce(vcm.cl, vnf.doc_id) AS cluster_id, vnf.nf
         |  FROM vnf LEFT JOIN vcm ON vnf.doc_id = vcm.src),
         |vrk AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
         |  ORDER BY nf DESC, doc_id) AS rnk FROM vbase),
         |$ImageAHashCte,
         |idup AS (SELECT c.left_id AS li, c.right_id AS ri
         |  FROM icand c
         |    JOIN iah la ON c.left_id = la.media_id
         |    JOIN iah ra ON c.right_id = ra.media_id
         |  WHERE hamming(la.ahash, ra.ahash) <= 3),
         |ie AS (SELECT li AS a, ri AS b FROM idup
         |  UNION SELECT ri, li FROM idup),
         |ireach AS (
         |  SELECT a AS src, a AS dst
         |    FROM (SELECT DISTINCT a FROM ie)
         |  UNION
         |  SELECT rr.src, e2.b AS dst
         |    FROM ireach rr JOIN ie e2 ON e2.a = rr.dst),
         |icm AS (SELECT src, min(dst) AS cl FROM ireach GROUP BY src),
         |ipxt AS (SELECT media_id,
         |    CAST((16 + 8*((media_id % 4) % 3))
         |      * (16 + 8*((media_id % 4) % 3)) AS BIGINT) AS pixels
         |  FROM fams),
         |ibase AS (SELECT p2.media_id,
         |    coalesce(icm.cl, p2.media_id) AS cluster_id, p2.pixels
         |  FROM ipxt p2 LEFT JOIN icm ON p2.media_id = icm.src),
         |irk AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
         |  ORDER BY pixels DESC, media_id) AS rnk FROM ibase),
         |$AudioSigCte,
         |adup AS (SELECT a.media_id AS li, b.media_id AS ri
         |  FROM sg a JOIN sg b ON a.sig = b.sig
         |    AND a.media_id < b.media_id
         |    AND a.s0 = b.s0 AND a.s1 = b.s1),
         |ae AS (SELECT li AS a, ri AS b FROM adup
         |  UNION SELECT ri, li FROM adup),
         |areach AS (
         |  SELECT a AS src, a AS dst
         |    FROM (SELECT DISTINCT a FROM ae)
         |  UNION
         |  SELECT rr.src, e2.b AS dst
         |    FROM areach rr JOIN ae e2 ON e2.a = rr.dst),
         |acm AS (SELECT src, min(dst) AS cl FROM areach GROUP BY src),
         |anft AS (SELECT media_id,
         |    CAST(100 + 25 * (media_id % 4) AS BIGINT) AS nf_total
         |  FROM p),
         |abase AS (SELECT n2.media_id,
         |    coalesce(acm.cl, n2.media_id) AS cluster_id, n2.nf_total
         |  FROM anft n2 LEFT JOIN acm ON n2.media_id = acm.src),
         |ark AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
         |  ORDER BY nf_total DESC, media_id) AS rnk FROM abase),
         |vsum AS (SELECT 'video' AS modality,
         |  CAST(count(*) AS BIGINT) AS n_items,
         |  CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
         |  CAST(sum(CASE WHEN rnk = 1 THEN 0 ELSE 1 END) AS BIGINT)
         |    AS n_dropped,
         |  CAST(sum(CASE WHEN rnk = 1 THEN nf ELSE 0 END) AS BIGINT)
         |    AS kept_quality,
         |  CAST(sum(nf) AS BIGINT) AS total_quality FROM vrk),
         |isum AS (SELECT 'image' AS modality,
         |  CAST(count(*) AS BIGINT) AS n_items,
         |  CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
         |  CAST(sum(CASE WHEN rnk = 1 THEN 0 ELSE 1 END) AS BIGINT)
         |    AS n_dropped,
         |  CAST(sum(CASE WHEN rnk = 1 THEN pixels ELSE 0 END)
         |    AS BIGINT) AS kept_quality,
         |  CAST(sum(pixels) AS BIGINT) AS total_quality FROM irk),
         |asum AS (SELECT 'audio' AS modality,
         |  CAST(count(*) AS BIGINT) AS n_items,
         |  CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
         |  CAST(sum(CASE WHEN rnk = 1 THEN 0 ELSE 1 END) AS BIGINT)
         |    AS n_dropped,
         |  CAST(sum(CASE WHEN rnk = 1 THEN nf_total ELSE 0 END)
         |    AS BIGINT) AS kept_quality,
         |  CAST(sum(nf_total) AS BIGINT) AS total_quality FROM ark)
         |SELECT * FROM vsum UNION ALL SELECT * FROM isum
         |UNION ALL SELECT * FROM asum ORDER BY modality""".stripMargin,
    // Composes the three gate oracles verbatim: classifier margin
    // (micro-quantized hashing trick), clip cosine (pattern-grid band
    // sums vs embedding dims), and the image keep-best chain (band
    // candidates → Hamming → recursive CC → pixel argmax).
    "pipeline_pair_curation" ->
      s"""WITH RECURSIVE $TokedCte,
         |ptok AS (SELECT doc_id, unnest(toks) AS term FROM toked),
         |pwb AS (SELECT doc_id,
         |  (((strpos('0123456789abcdef', substr(md5(term),1,1)) - 1) * 4096
         |   + (strpos('0123456789abcdef', substr(md5(term),2,1)) - 1) * 256
         |   + (strpos('0123456789abcdef', substr(md5(term),3,1)) - 1) * 16
         |   + (strpos('0123456789abcdef', substr(md5(term),4,1)) - 1))
         |    * 2654435761) % 2001 - 1000 AS w
         |  FROM ptok),
         |cls AS (SELECT doc_id,
         |  CAST(round(CAST(sum(w) * 1000 AS DOUBLE) / count(*), 0)
         |    AS BIGINT) > 0 AS txt_keep
         |  FROM pwb GROUP BY doc_id),
         |cpx AS (SELECT doc_id, x.x, y.y,
         |    (doc_id * 31 + x.x * 7 + y.y * 13) % 256 AS v
         |  FROM documents,
         |    LATERAL (SELECT unnest(range(0, 32)) AS x) x,
         |    LATERAL (SELECT unnest(range(0, 32)) AS y) y),
         |cbnd AS (SELECT doc_id, y // 4 AS band,
         |    CAST(sum(v) AS BIGINT) AS bsum
         |  FROM cpx GROUP BY doc_id, y // 4),
         |civ AS (SELECT doc_id,
         |    list(CAST(bsum AS DOUBLE) ORDER BY band) AS bl,
         |    CAST(sum(bsum) AS BIGINT) AS tot
         |  FROM cbnd GROUP BY doc_id),
         |cic AS (SELECT doc_id,
         |    [x - CAST(tot AS DOUBLE) / 8.0 for x in bl] AS c FROM civ),
         |ctv AS (SELECT vec_id, embedding[1:8]::DOUBLE[] AS t
         |  FROM embeddings),
         |cjn AS (SELECT doc_id, list_dot_product(c, t) AS dp,
         |    sqrt(list_dot_product(c, c)) AS ni,
         |    sqrt(list_dot_product(t, t)) AS nt
         |  FROM cic JOIN ctv ON doc_id = vec_id),
         |clp AS (SELECT doc_id, round(CASE WHEN ni > 0 AND nt > 0
         |    THEN dp / (ni * nt) ELSE 0.0 END, 6) > 0 AS clip_keep
         |  FROM cjn),
         |$ImageAHashCte,
         |idup AS (SELECT c.left_id AS li, c.right_id AS ri
         |  FROM icand c
         |    JOIN iah la ON c.left_id = la.media_id
         |    JOIN iah ra ON c.right_id = ra.media_id
         |  WHERE hamming(la.ahash, ra.ahash) <= 3),
         |e AS (SELECT li AS a, ri AS b FROM idup
         |  UNION SELECT ri, li FROM idup),
         |reach AS (
         |  SELECT a AS src, a AS dst
         |    FROM (SELECT DISTINCT a FROM e)
         |  UNION
         |  SELECT rr.src, e2.b AS dst
         |    FROM reach rr JOIN e e2 ON e2.a = rr.dst),
         |cm AS (SELECT src, min(dst) AS cl FROM reach GROUP BY src),
         |pxt AS (SELECT media_id,
         |    CAST((16 + 8*((media_id % 4) % 3))
         |      * (16 + 8*((media_id % 4) % 3)) AS BIGINT) AS pixels
         |  FROM fams),
         |base AS (SELECT p.media_id,
         |    coalesce(cm.cl, p.media_id) AS cluster_id, p.pixels
         |  FROM pxt p LEFT JOIN cm ON p.media_id = cm.src),
         |img AS (SELECT media_id AS doc_id,
         |    row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY pixels DESC, media_id) = 1 AS img_keep
         |  FROM base)
         |SELECT d.doc_id,
         |  coalesce(cls.txt_keep, false) AS txt_keep,
         |  coalesce(clp.clip_keep, false) AS clip_keep,
         |  coalesce(img.img_keep, false) AS img_keep,
         |  coalesce(cls.txt_keep, false) AND coalesce(clp.clip_keep, false)
         |    AND coalesce(img.img_keep, false) AS keep
         |FROM documents d
         |  LEFT JOIN cls ON d.doc_id = cls.doc_id
         |  LEFT JOIN clp ON d.doc_id = clp.doc_id
         |  LEFT JOIN img ON d.doc_id = img.doc_id""".stripMargin,
    // Recomputes the pixel grid (id·31 + x·7 + y·13 mod 256), the 8×8
    // block sums, and the integer-exact threshold bsum·64 > gsum.
    "mm_image_phash" ->
      """WITH px AS (SELECT doc_id, x.x, y.y,
        |    (doc_id * 31 + x.x * 7 + y.y * 13) % 256 AS v
        |  FROM documents,
        |    LATERAL (SELECT unnest(range(0, 32)) AS x) x,
        |    LATERAL (SELECT unnest(range(0, 32)) AS y) y),
        |g AS (SELECT doc_id, sum(v) AS gsum FROM px GROUP BY doc_id),
        |b AS (SELECT doc_id, (y // 4) * 8 + (x // 4) AS blk,
        |    sum(v) AS bsum
        |  FROM px GROUP BY doc_id, (y // 4) * 8 + (x // 4))
        |SELECT b.doc_id AS media_id,
        |  string_agg(CASE WHEN bsum * 64 > gsum THEN '1' ELSE '0' END,
        |    '' ORDER BY blk) AS ahash
        |FROM b JOIN g ON b.doc_id = g.doc_id
        |GROUP BY b.doc_id""".stripMargin,
    "mm_image_dedup" ->
      s"""WITH $ImageAHashCte
         |SELECT c.left_id, c.right_id, c.n_bands_shared,
         |  CAST(hamming(la.ahash, ra.ahash) AS BIGINT) AS hamming,
         |  hamming(la.ahash, ra.ahash) <= 3 AS is_dup
         |FROM icand c
         |  JOIN iah la ON c.left_id = la.media_id
         |  JOIN iah ra ON c.right_id = ra.media_id""".stripMargin,
    "mm_image_keep_best" ->
      s"""WITH RECURSIVE $ImageAHashCte,
         |idup AS (SELECT c.left_id AS li, c.right_id AS ri
         |  FROM icand c
         |    JOIN iah la ON c.left_id = la.media_id
         |    JOIN iah ra ON c.right_id = ra.media_id
         |  WHERE hamming(la.ahash, ra.ahash) <= 3),
         |e AS (SELECT li AS a, ri AS b FROM idup
         |  UNION SELECT ri, li FROM idup),
         |reach AS (
         |  SELECT a AS src, a AS dst
         |    FROM (SELECT DISTINCT a FROM e)
         |  UNION
         |  SELECT rr.src, e2.b AS dst
         |    FROM reach rr JOIN e e2 ON e2.a = rr.dst),
         |cm AS (SELECT src, min(dst) AS cl FROM reach GROUP BY src),
         |pxt AS (SELECT media_id,
         |    CAST((16 + 8*((media_id % 4) % 3))
         |      * (16 + 8*((media_id % 4) % 3)) AS BIGINT) AS pixels
         |  FROM fams),
         |base AS (SELECT p.media_id,
         |    coalesce(cm.cl, p.media_id) AS cluster_id, p.pixels
         |  FROM pxt p LEFT JOIN cm ON p.media_id = cm.src),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
         |  ORDER BY pixels DESC, media_id) AS rnk FROM base)
         |SELECT media_id, cluster_id, pixels, rnk = 1 AS keep
         |FROM rk""".stripMargin,
    // Replays the image tower from the pattern-grid closed form (the
    // mm_image_phash px convention): per-band integer gray sums,
    // mean-centered with the exact tot/8.0, cosine against the first
    // 8 embedding dims.
    "mm_clip_filter" ->
      """WITH px AS (SELECT doc_id, x.x, y.y,
        |    (doc_id * 31 + x.x * 7 + y.y * 13) % 256 AS v
        |  FROM documents,
        |    LATERAL (SELECT unnest(range(0, 32)) AS x) x,
        |    LATERAL (SELECT unnest(range(0, 32)) AS y) y),
        |bands AS (SELECT doc_id, y // 4 AS band,
        |    CAST(sum(v) AS BIGINT) AS bsum
        |  FROM px GROUP BY doc_id, y // 4),
        |iv AS (SELECT doc_id,
        |    list(CAST(bsum AS DOUBLE) ORDER BY band) AS bl,
        |    CAST(sum(bsum) AS BIGINT) AS tot
        |  FROM bands GROUP BY doc_id),
        |ic AS (SELECT doc_id,
        |    [x - CAST(tot AS DOUBLE) / 8.0 for x in bl] AS c FROM iv),
        |tv AS (SELECT vec_id, embedding[1:8]::DOUBLE[] AS t
        |  FROM embeddings),
        |j AS (SELECT doc_id, list_dot_product(c, t) AS dp,
        |    sqrt(list_dot_product(c, c)) AS ni,
        |    sqrt(list_dot_product(t, t)) AS nt
        |  FROM ic JOIN tv ON doc_id = vec_id),
        |sc AS (SELECT doc_id, round(CASE WHEN ni > 0 AND nt > 0
        |    THEN dp / (ni * nt) ELSE 0.0 END, 6) AS clip_score FROM j)
        |SELECT doc_id, clip_score, clip_score > 0 AS keep
        |FROM sc""".stripMargin,
    // Ground truth from synthMp4Scenes' closed form — scene of frame
    // k is k DIV L; the Spark side must RECOVER this from demuxed
    // bytes and content hashes.
    "mm_scene_cuts" ->
      """WITH p AS (SELECT doc_id, 6 + doc_id % 5 AS n,
        |    2 + doc_id % 3 AS len FROM documents)
        |SELECT doc_id AS media_id, CAST(kk.k AS BIGINT) AS frame_idx,
        |  CAST(kk.k // len AS BIGINT) AS scene_id,
        |  kk.k % len = 0 AS is_scene_start
        |FROM p, LATERAL (SELECT unnest(range(0, n)) AS k) kk""".stripMargin,
    // Recomputes synthMp4Stts' derivation: media timescale, two stts
    // runs (n1 at d1 ticks, n2 at d2), sample k's decode ticks = k·d1
    // inside run 1, n1·d1 + (k−n1)·d2 inside run 2; t_ms floors
    // ticks·1000/mts like the Spark integer math. Stride 2 keeps even k.
    "mm_scene_keyframes" ->
      """WITH p AS (SELECT doc_id, 6 + doc_id % 5 AS n,
        |    2 + doc_id % 3 AS len FROM documents),
        |f AS (SELECT doc_id AS media_id, CAST(kk.k AS BIGINT)
        |    AS frame_idx, CAST(kk.k // len AS BIGINT) AS scene_id
        |  FROM p, LATERAL (SELECT unnest(range(0, n)) AS k) kk)
        |SELECT media_id, scene_id, min(frame_idx) AS start_idx,
        |  max(frame_idx) AS end_idx, CAST(count(*) AS BIGINT)
        |    AS n_frames,
        |  CAST((min(frame_idx) + max(frame_idx)) // 2 AS BIGINT)
        |    AS key_idx
        |FROM f GROUP BY media_id, scene_id""".stripMargin,
    "mm_frame_times" ->
      """WITH p AS (SELECT doc_id,
        |    1000 + (doc_id % 3) * 500 AS mts,
        |    3 + (doc_id % 3) AS n1, 100 + (doc_id % 5) * 20 AS d1,
        |    2 + (doc_id % 2) AS n2, 40 + (doc_id % 7) * 10 AS d2
        |  FROM documents),
        |e AS (SELECT doc_id, mts, n1, d1, n2, d2, k
        |  FROM p, LATERAL (SELECT unnest(range(0, n1 + n2)) AS k))
        |SELECT doc_id AS media_id, CAST(k AS BIGINT) AS sample_idx,
        |  CAST((CASE WHEN k < n1 THEN k * d1
        |    ELSE n1 * d1 + (k - n1) * d2 END) * 1000 // mts AS BIGINT)
        |    AS t_ms
        |FROM e WHERE k % 2 = 0""".stripMargin,
    "mm_av_sync" ->
      """WITH p AS (SELECT doc_id,
        |    1000 + (doc_id % 3) * 500 AS mts,
        |    3 + (doc_id % 3) AS n1, 100 + (doc_id % 5) * 20 AS d1,
        |    2 + (doc_id % 2) AS n2, 40 + (doc_id % 7) * 10 AS d2
        |  FROM documents),
        |e AS (SELECT doc_id, mts, n1, d1, n2, d2, k
        |  FROM p, LATERAL (SELECT unnest(range(0, n1 + n2)) AS k)),
        |fr AS (SELECT doc_id AS media_id, CAST(k AS BIGINT) AS sample_idx,
        |  CAST((CASE WHEN k < n1 THEN k * d1
        |    ELSE n1 * d1 + (k - n1) * d2 END) * 1000 // mts AS BIGINT)
        |    AS t_ms
        |  FROM e WHERE k % 2 = 0),
        |fr2 AS (SELECT media_id, sample_idx, t_ms, t_ms * 4 AS t_q
        |  FROM fr),
        |aw AS (SELECT doc_id AS media_id, w
        |  FROM (SELECT doc_id, 8 + (doc_id % 5) AS nw FROM documents),
        |  LATERAL (SELECT unnest(range(0, nw)) AS w)),
        |seg0 AS (SELECT media_id, w, (media_id + w) % 3 = 0 AS is_silent
        |  FROM aw),
        |seg1 AS (SELECT media_id, w, is_silent,
        |  lag(is_silent) OVER (PARTITION BY media_id ORDER BY w)
        |    AS prev_sil FROM seg0),
        |seg AS (SELECT media_id, w, is_silent,
        |  CASE WHEN NOT is_silent THEN CAST(sum(CASE WHEN NOT is_silent
        |    AND (prev_sil IS NULL OR prev_sil) THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY media_id ORDER BY w
        |      ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) END AS segment_id
        |  FROM seg1),
        |wins AS (SELECT media_id, w * 25 AS t_q,
        |  CAST(w AS BIGINT) AS window_idx, is_silent, segment_id
        |  FROM seg)
        |SELECT fr2.media_id, fr2.sample_idx, fr2.t_ms,
        |  wins.window_idx, wins.segment_id, NOT wins.is_silent AS voiced
        |FROM fr2 ASOF LEFT JOIN wins
        |  ON fr2.media_id = wins.media_id AND fr2.t_q >= wins.t_q""".stripMargin,
    "txt_decontaminate" ->
      s"""WITH $TokedCte,
         |grams AS (SELECT doc_id,
         |  unnest([array_to_string(toks[i+1:i+8], ' ')
         |          for i in range(greatest(len(toks) - 7, 0))]) AS g
         |  FROM toked),
         |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0)
         |SELECT doc_id, count(DISTINCT g) AS n_shared_grams
         |FROM grams JOIN bench USING (g)
         |WHERE doc_id % 20 <> 0
         |GROUP BY doc_id""".stripMargin,
    "pipeline_contamination_report" ->
      s"""WITH $TokedCte,
         |grams AS (SELECT doc_id,
         |  unnest([array_to_string(toks[i+1:i+8], ' ')
         |          for i in range(greatest(len(toks) - 7, 0))]) AS g
         |  FROM toked),
         |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0),
         |fl AS (SELECT doc_id, count(DISTINCT g) AS n_shared_grams
         |  FROM grams JOIN bench USING (g)
         |  WHERE doc_id % 20 <> 0 GROUP BY doc_id)
         |SELECT d.source, CAST(count(*) AS BIGINT) AS n_train_docs,
         |  CAST(sum(CASE WHEN fl.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_contaminated,
         |  CAST(coalesce(sum(fl.n_shared_grams), 0) AS BIGINT)
         |    AS total_shared_grams,
         |  round(CAST(sum(CASE WHEN fl.doc_id IS NOT NULL
         |    THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
         |    AS contaminated_share
         |FROM documents d LEFT JOIN fl ON d.doc_id = fl.doc_id
         |WHERE d.doc_id % 20 <> 0 GROUP BY d.source""".stripMargin,
    "txt_gopher_quality" ->
      s"""WITH $TokedCte,
         |m AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words,
         |  round(CASE WHEN len(toks) > 0 THEN
         |      CAST(list_sum(list_transform(toks, t -> length(t)))
         |        AS DOUBLE) / len(toks)
         |    ELSE 0.0 END, 6) AS mean_word_len,
         |  CAST(len(list_filter(toks, t -> list_contains(
         |    ['the','be','to','of','and','a','in','that','have','with'],
         |    lower(t)))) AS BIGINT) AS n_stop
         |  FROM toked)
         |SELECT doc_id, n_words, mean_word_len, n_stop,
         |  n_words BETWEEN 30 AND 100000
         |    AND mean_word_len BETWEEN 3.0 AND 5.0
         |    AND n_stop >= 2 AS keep
         |FROM m""".stripMargin,
    // Replays the hashing trick nibble-by-nibble (the seed16 md5-parse
    // convention) and the integer milli-weight arithmetic; the margin
    // is quantized to integer micro-units (round-0 of wsum·1000/n,
    // both engines round ties away from zero) before the final /1e6 —
    // the same exact chain as the Spark side, bitwise.
    "txt_classifier_score" ->
      s"""WITH $TokedCte,
         |tok AS (SELECT doc_id, unnest(toks) AS term FROM toked),
         |b AS (SELECT doc_id,
         |  (((strpos('0123456789abcdef', substr(md5(term),1,1)) - 1) * 4096
         |   + (strpos('0123456789abcdef', substr(md5(term),2,1)) - 1) * 256
         |   + (strpos('0123456789abcdef', substr(md5(term),3,1)) - 1) * 16
         |   + (strpos('0123456789abcdef', substr(md5(term),4,1)) - 1))
         |    * 2654435761) % 2001 - 1000 AS w
         |  FROM tok),
         |m AS (SELECT doc_id, count(*) AS n_tokens,
         |  CAST(round(CAST(sum(w) * 1000 AS DOUBLE) / count(*), 0)
         |    AS BIGINT) AS mm
         |  FROM b GROUP BY doc_id)
         |SELECT doc_id, n_tokens,
         |  CAST(mm AS DOUBLE) / 1000000.0 AS margin, mm > 0 AS keep
         |FROM m""".stripMargin,
    "tok_fertility" ->
      """WITH f AS (SELECT coalesce(lang, '') AS lang,
        |  CAST(len(list_filter(regexp_split_to_array(trim(text),
        |    '\s+'), t -> t != '')) AS BIGINT) AS nw,
        |  CAST(coalesce(list_sum(list_transform(
        |    list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      t -> t != ''),
        |    t -> (length(t) + 3) // 4)), 0) AS BIGINT) AS ns
        |  FROM documents),
        |g AS (SELECT lang, count(*) AS n_docs,
        |  CAST(sum(nw) AS BIGINT) AS n_words,
        |  CAST(sum(ns) AS BIGINT) AS n_subwords FROM f GROUP BY lang)
        |SELECT lang, n_docs, n_words, n_subwords,
        |  CAST(CAST(round(CAST(n_subwords * 1000 AS DOUBLE) / n_words,
        |    0) AS BIGINT) AS DOUBLE) / 1000.0 AS fertility
        |FROM g WHERE n_words > 0""".stripMargin,
    // The txt_unigram_logprob NLL chain, micro-quantized per doc, then
    // quantile_cont cuts (the agg_percentiles parity: exact linear
    // interpolation on both engines) and strict-greater bucketing.
    "txt_perplexity_bucket" ->
      s"""WITH $TokedCte,
         |tok AS (SELECT doc_id, unnest(toks) AS term FROM toked),
         |cnt AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM cnt),
         |sc AS (SELECT doc_id,
         |  CAST(trunc(round(-ln(CAST(cnt AS DOUBLE) / total), 6)
         |    * 1000000 + 0.5) AS BIGINT) AS nll
         |  FROM tok JOIN cnt USING (term) CROSS JOIN tot),
         |pd AS (SELECT doc_id, CAST(round(CAST(sum(nll) AS DOUBLE)
         |    / count(*), 0) AS BIGINT) AS mnll_micro
         |  FROM sc GROUP BY doc_id),
         |q AS (SELECT quantile_cont(mnll_micro, 0.25) AS q1,
         |  quantile_cont(mnll_micro, 0.5) AS q2,
         |  quantile_cont(mnll_micro, 0.75) AS q3 FROM pd),
         |bk AS (SELECT doc_id, mnll_micro,
         |  CAST(mnll_micro > q1 AS BIGINT)
         |    + CAST(mnll_micro > q2 AS BIGINT)
         |    + CAST(mnll_micro > q3 AS BIGINT) AS bucket
         |  FROM pd CROSS JOIN q)
         |SELECT bucket, count(*) AS n_docs,
         |  CAST(CAST(round(CAST(sum(mnll_micro) AS DOUBLE) / count(*),
         |    0) AS BIGINT) AS DOUBLE) / 1000000.0 AS mean_nll
         |FROM bk GROUP BY bucket""".stripMargin,
    "chunk_docs" ->
      s"""WITH $TokedCte,
         |t AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n
         |  FROM toked WHERE len(toks) > 0)
         |SELECT doc_id,
         |  unnest(range(CAST(ceil(n / 64.0) AS BIGINT))) AS chunk_id,
         |  unnest([array_to_string(toks[i*64+1 : i*64+64], ' ')
         |          for i in range(CAST(ceil(n / 64.0) AS BIGINT))])
         |    AS chunk_text,
         |  unnest([least(CAST(64 AS BIGINT), n - i*64)
         |          for i in range(CAST(ceil(n / 64.0) AS BIGINT))])
         |    AS n_tokens
         |FROM t""".stripMargin,
    // Rebuilds the punctuated text from the same arithmetic, then
    // mirrors the parse: sentinel split, per-sentence token count,
    // prefix-sum offset bucketing, ordered reassembly.
    "txt_sentence_chunk" ->
      s"""WITH $TokedCte,
         |b AS (SELECT doc_id, toks, len(toks) AS n, 5 + doc_id % 5 AS L
         |  FROM toked WHERE len(toks) > 0),
         |p AS (SELECT doc_id,
         |    array_to_string([array_to_string(toks[i*L+1 : i*L+L], ' ')
         |      for i in range(0, (n - 1) // L + 1)], '. ') || '.'
         |      AS ptext
         |  FROM b),
         |sx AS (SELECT doc_id, i - 1 AS sent_idx, sents[i] AS sentence
         |  FROM (SELECT doc_id, list_filter(string_split(
         |      regexp_replace(ptext, '([.!?])\\s+', '\\1' || chr(1),
         |        'g'), chr(1)), x -> trim(x) <> '') AS sents FROM p),
         |    LATERAL (SELECT unnest(range(1, len(sents) + 1)) AS i)),
         |tk AS (SELECT doc_id, sent_idx, sentence,
         |    CAST(len(list_filter(regexp_split_to_array(trim(sentence),
         |      '\\s+'), t -> t != '')) AS BIGINT) AS n_tok FROM sx),
         |cm AS (SELECT *, coalesce(sum(n_tok) OVER (PARTITION BY doc_id
         |    ORDER BY sent_idx
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS cum_prev FROM tk)
         |SELECT doc_id, CAST(cum_prev // 16 AS BIGINT) AS chunk_id,
         |  CAST(count(*) AS BIGINT) AS n_sentences,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  string_agg(sentence, ' ' ORDER BY sent_idx) AS chunk_text
         |FROM cm GROUP BY doc_id, cum_prev // 16""".stripMargin,
    "chunk_sliding" ->
      s"""WITH $TokedCte,
         |t AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n
         |  FROM toked WHERE len(toks) > 0),
         |k AS (SELECT doc_id, toks, n,
         |    unnest(range(greatest(CAST(ceil((n - 64) / 48.0) AS BIGINT),
         |      0) + 1)) AS k
         |  FROM t)
         |SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
         |  array_to_string(toks[k*48 + 1 : k*48 + 64], ' ') AS chunk_text,
         |  CAST(least(64, n - k*48) AS BIGINT) AS n_tokens
         |FROM k""".stripMargin,
    "shuf_deterministic" ->
      """SELECT doc_id, row_number() OVER (
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS pos
        |FROM documents""".stripMargin,
    "samp_mixture_weights" ->
      """WITH c AS (SELECT lang, count(*) AS n_docs
        |  FROM documents GROUP BY lang),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total,
        |  count(*) AS n_langs FROM c)
        |SELECT lang, n_docs,
        |  round(CAST(n_docs AS DOUBLE) / total, 6) AS share,
        |  round((CAST(total AS DOUBLE) / n_langs) / n_docs, 6) AS weight
        |FROM c, t""".stripMargin,
    "txt_vocab_growth" ->
      s"""WITH $TokedCte,
         |nd AS (SELECT max(doc_id) AS mx FROM documents),
         |td AS (SELECT DISTINCT term, dec FROM (
         |  SELECT unnest(toks) AS term,
         |    CAST(least((doc_id * 10) // (mx + 1), 9) AS BIGINT) AS dec
         |  FROM toked, nd)),
         |seen AS (SELECT dec AS decile, CAST(count(*) AS BIGINT)
         |    AS seen_terms FROM td GROUP BY dec),
         |fs AS (SELECT term, CAST(min(dec) AS BIGINT) AS decile
         |  FROM td GROUP BY term),
         |fresh AS (SELECT decile, CAST(count(*) AS BIGINT) AS new_terms
         |  FROM fs GROUP BY decile),
         |g AS (SELECT seen.decile, seen.seen_terms,
         |  CAST(coalesce(fresh.new_terms, 0) AS BIGINT) AS new_terms
         |  FROM seen LEFT JOIN fresh ON seen.decile = fresh.decile)
         |SELECT decile, seen_terms, new_terms,
         |  CAST(sum(new_terms) OVER (ORDER BY decile
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
         |FROM g""".stripMargin,
    "tok_len_histogram" ->
      s"""WITH $TokedCte,
         |n AS (SELECT CAST(len(toks) AS BIGINT) AS n_tok FROM toked),
         |b AS (SELECT n_tok, CASE WHEN n_tok <= 16 THEN '<=16'
         |  WHEN n_tok <= 32 THEN '<=32' WHEN n_tok <= 64 THEN '<=64'
         |  WHEN n_tok <= 128 THEN '<=128' WHEN n_tok <= 256 THEN '<=256'
         |  ELSE '>256' END AS bucket FROM n),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM b)
         |SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  round(CAST(count(*) AS DOUBLE) / total, 6) AS share
         |FROM b, t GROUP BY bucket, total""".stripMargin,
    "samp_epoch_plan" ->
      s"""WITH $TokedCte,
         |c AS (SELECT source, CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
         |  CAST(1 + CAST(regexp_extract(source, '[0-9]+') AS BIGINT) % 5
         |    AS BIGINT) AS w
         |  FROM toked JOIN documents USING (doc_id)
         |  GROUP BY source),
         |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tok,
         |  CAST(sum(w) AS BIGINT) AS tot_w FROM c),
         |p AS (SELECT source, n_tokens, w,
         |  least(round(4.0 * CAST(tot_tok AS DOUBLE) * CAST(w AS DOUBLE)
         |    / CAST(tot_w * n_tokens AS DOUBLE), 6), 4.0) AS epochs
         |  FROM c, t),
         |p2 AS (SELECT source, n_tokens, w, epochs,
         |  CAST(floor(epochs * CAST(n_tokens AS DOUBLE) + 0.5) AS BIGINT)
         |    AS planned_tokens FROM p),
         |pt AS (SELECT CAST(sum(planned_tokens) AS BIGINT) AS ptot FROM p2)
         |SELECT source, n_tokens, w, epochs, planned_tokens,
         |  round(CAST(planned_tokens AS DOUBLE) / ptot, 6) AS planned_share
         |FROM p2, pt""".stripMargin,
    "samp_effective_tokens" ->
      s"""WITH $TokedCte,
         |kept AS (SELECT min(doc_id) AS doc_id
         |  FROM documents GROUP BY md5(text)),
         |n AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok
         |  FROM toked),
         |j AS (SELECT d.source, n.n_tok, k.doc_id IS NOT NULL AS kept
         |  FROM documents d JOIN n ON d.doc_id = n.doc_id
         |  LEFT JOIN kept k ON d.doc_id = k.doc_id)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT)
         |    AS n_dropped,
         |  CAST(sum(n_tok) AS BIGINT) AS raw_tokens,
         |  CAST(sum(CASE WHEN kept THEN n_tok ELSE 0 END) AS BIGINT)
         |    AS effective_tokens,
         |  round(CAST(sum(CASE WHEN kept THEN n_tok ELSE 0 END)
         |    AS DOUBLE) / sum(n_tok), 6) AS retention
         |FROM j GROUP BY source""".stripMargin,
    "pipeline_train_manifest" ->
      s"""WITH $TokedCte,
         |c AS (SELECT source, CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
         |  CAST(1 + CAST(regexp_extract(source, '[0-9]+') AS BIGINT) % 5
         |    AS BIGINT) AS w
         |  FROM toked JOIN documents USING (doc_id)
         |  GROUP BY source),
         |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tok,
         |  CAST(sum(w) AS BIGINT) AS tot_w FROM c),
         |p AS (SELECT source, n_tokens,
         |  least(round(4.0 * CAST(tot_tok AS DOUBLE) * CAST(w AS DOUBLE)
         |    / CAST(tot_w * n_tokens AS DOUBLE), 6), 4.0) AS epochs
         |  FROM c, t),
         |u AS (SELECT source, n_tokens, epochs,
         |  CAST(ceil(epochs) AS BIGINT) AS n_passes FROM p),
         |x AS (SELECT source, n_tokens, epochs, CAST(pass AS BIGINT)
         |    AS pass
         |  FROM u, LATERAL (SELECT unnest(range(1, n_passes + 1))
         |    AS pass)),
         |f AS (SELECT source, pass, epochs,
         |  round(least(epochs - CAST(pass - 1 AS DOUBLE), 1.0), 6)
         |    AS pass_fraction, n_tokens FROM x)
         |SELECT source, pass, epochs, pass_fraction,
         |  CAST(floor(pass_fraction * CAST(n_tokens AS DOUBLE) + 0.5)
         |    AS BIGINT) AS pass_tokens
         |FROM f""".stripMargin)
}
