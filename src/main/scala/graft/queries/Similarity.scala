package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.expressions.VectorExpressions.vecDot
import graft.functions.VectorFunctions.{asDouble, hyperplaneBitFast}

/** Approximate-nearest-neighbor / similarity search over
  * `embeddings.parquet` (ArrayType(FloatType), dim 64).
  *
  * Three tiers, mirroring how ANN scales to 100 TB:
  *  - brute-force cosine top-k: the correctness baseline. The query set is
  *    broadcast, so the fact side streams once with no shuffle; cost is
  *    O(N·|Q|) — fine for small Q, the oracle for everything else.
  *  - IVF top-k: candidates restricted to the query's coarse cell (the
  *    `label` column stands in for a k-means centroid assignment, which at
  *    scale is a one-time clustering job). Probing 1/k of the data turns
  *    an O(N) scan into O(N/cells) per query.
  *  - random-hyperplane LSH bucketing: content-derived 8-bit signature →
  *    co-bucketed vectors are candidate neighbors; bucket id is computable
  *    per-row (no model state), so it shards embarrassingly.
  *
  * Scores are rounded to 6 decimals on BOTH engines so fold-order ulp
  * noise can never flip a rank; ranking ties break on candidate id.
  */
object Similarity {

  /** Shared preprocessing: unit-normalized vectors (+ optional label) so
    * cosine == one native dot product per candidate pair.
    *
    * A SharedStage core since r22 (VERDICT r21 item 3): the IVF/kmeans
    * compositions re-derived this frame up to three times per plan
    * (kmeansCentroids references it twice, kmeansAssign once, each
    * expansion a full scan + per-row dot/sqrt/64-element divide), and
    * every one of the ~17 emb_* consumers re-derived it per query. In
    * any real vector pipeline the normalized table IS the stored
    * serving artifact (normalize once, serve many) — same discipline
    * as the stored IVF centroids/cells below. One materialization per
    * session, attributed by Bench via core_builds; Verify sweeps
    * between queries, so correctness runs stay independent. Downstream
    * plans read the checkpointed rows (Scan ExistingRDD), which are
    * row-identical to the inline derivation — oracle hashes unchanged
    * by construction.
    *
    * The scan is spread (Tables.spreadCpuDense, guide §2.5) before the
    * normalization: the single-row-group input plans one task, so
    * without it the core's localCheckpoint holds ONE partition and
    * every downstream consumer runs its O(N·k) dot-product scoring on
    * one core (emb_bitext_mine profiled as a single 1.3 s one-task
    * stage). The exchange is paid once per session at core build; all
    * ~17 consumers inherit the parallel layout. Row set unchanged —
    * ranking ties break on ids and centroid sums are exact DECIMAL,
    * so partition order cannot flip any result. */
  private def unitVecs(s: SparkSession, d: String): DataFrame =
    graft.operators.SharedStage(s, s"unitVecs:$d") {
      unitNormalize(Tables.tableSpread(s, d, "embeddings")
          .select(col("vec_id"), col("label"),
            asDouble(col("embedding")).as("v")),
        "v", "nrm", "u", "vec_id", "label")
    }

  /** (`keep`…, `to`): the vector column `v` divided by its L2 norm;
    * rows whose norm is zero drop out. The norm rides as column `nrm`,
    * whose name shows in the plan. */
  private def unitNormalize(df: DataFrame, v: String, nrm: String,
      to: String, keep: String*): DataFrame =
    df.withColumn(nrm, sqrt(vecDot(col(v), col(v))))
      .filter(col(nrm) > 0)
      .select(keep.map(col) :+
        transform(col(v), x => x / col(nrm)).as(to): _*)

  /** (`keys`…, raw): per key, the component-wise sum of the vector
    * column `v`, summed through DECIMAL(20,15) so partial-aggregation
    * order can never wiggle an ulp, as a dense array in index order — a
    * mean direction before normalization. */
  private def exactVectorSum(df: DataFrame, v: String,
      keys: String*): DataFrame =
    df.select(keys.map(col) :+ posexplode(col(v)).as(Seq("idx", "val")): _*)
      .groupBy((keys :+ "idx").map(col): _*)
      .agg(sum(col("val").cast(DecimalType(20, 15))).cast("double")
        .as("sv"))
      .groupBy(keys.map(col): _*)
      .agg(transform(array_sort(collect_list(struct(col("idx"),
        col("sv")))), x => x.getField("sv")).as("raw"))

  /** The IVF probe's cell ranking: every query (q_id, q_u) against
    * every broadcast centroid (cid, cu), ranked per query by rounded
    * cosine with the cell id as tiebreak — (q_id, q_u, cid, crn),
    * crn 1 the nearest cell. */
  private def rankedCells(q0: DataFrame, cents: DataFrame): DataFrame =
    q0.crossJoin(broadcast(cents))
      .select(col("q_id"), col("q_u"), col("cid"),
        round(vecDot(col("q_u"), col("cu")), 6).as("csc"))
      .withColumn("crn", row_number().over(Window.partitionBy("q_id")
        .orderBy(col("csc").desc, col("cid"))))
      .select("q_id", "q_u", "cid", "crn")

  /** The Matryoshka truncation of (vec_id, u): the first 16 dims,
    * re-normalized, as (vec_id, `carry`…, ut); zero-norm prefixes drop
    * out. */
  private def truncUnit16(e: DataFrame, carry: String*): DataFrame = {
    val keep = "vec_id" +: carry
    unitNormalize(
      e.select(keep.map(col) :+ slice(col("u"), 1, 16).as("t16"): _*),
      "t16", "tn", "ut", keep: _*)
  }

  /** Within-cell search over (vec_id, u, `cellCol`): each of the first
    * five vectors (vec_id < 5) scored against every other vector of its
    * own cell, ranked by score with the candidate id as tiebreak —
    * (q_id, cand_id, score, rnk), every candidate, not just the top. */
  private def cellRanked(cells: DataFrame, cellCol: String): DataFrame = {
    val q = cells.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col(cellCol).as("q_cell"),
        col("u").as("q_u"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("score").desc, col("cand_id"))
    cells.join(broadcast(q), col(cellCol) === col("q_cell") &&
        col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        round(vecDot(col("u"), col("q_u")), 6).as("score"))
      .withColumn("rnk", row_number().over(w).cast("long"))
  }

  /** The emb_dim_stats core (see its registry comment): per-dimension
    * mean / variance / whitening scale from exact micro-unit DECIMAL
    * sums. Shared by the fit query and emb_whiten_apply. */
  private def dimStats(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(posexplode(col("embedding")).as(Seq("dim0", "vf")))
      .select((col("dim0") + 1).cast("long").as("dim"),
        col("vf").cast("double").as("v"))
      .withColumn("vm",
        (col("v") * 1000000.0
          + when(col("v") >= 0, 0.5).otherwise(-0.5)).cast("long"))
      .groupBy("dim").agg(
        count(lit(1)).cast("long").as("n"),
        sum(col("vm").cast(DecimalType(38, 0))).as("sm"),
        sum((col("vm").cast(DecimalType(19, 0))
          * col("vm").cast(DecimalType(19, 0)))).as("sq"))
      .select(col("dim"), col("n"),
        round(col("sm").cast("double") / 1000000.0 / col("n"), 6)
          .as("mean"),
        round(col("sq").cast("double") / 1.0e12 / col("n")
          - (col("sm").cast("double") / 1000000.0 / col("n"))
          * (col("sm").cast("double") / 1000000.0 / col("n")), 6)
          .as("variance"),
        round(lit(1.0) / sqrt(col("sq").cast("double") / 1.0e12 / col("n")
          - (col("sm").cast("double") / 1000000.0 / col("n"))
          * (col("sm").cast("double") / 1000000.0 / col("n"))
          + lit(1.0e-9)), 6).as("inv_std"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Delegates to the user-facing API so the oracle guards GraftOps.
    "emb_cosine_topk" -> ((s, d) => {
      val e = unitVecs(s, d)
      graft.api.GraftOps.cosineTopK(e, e.filter(col("vec_id") < 5),
        "vec_id", "u", 10)
    }),

    // Hybrid retrieval via reciprocal-rank fusion (the Elastic/Vespa
    // hybrid-search shape): the lexical list (BM25 over the fixed term
    // query) and the semantic list (cosine top-k for the query vector)
    // are fused rank-wise — rrf(d) = Σ 1/(60+rank_i(d)) over the lists
    // containing d, in exact micro-units so the two engines agree
    // bit-for-bit. Each retriever inherits its own 100 TB posture
    // (BM25: broadcast idf over one corpus pass; ANN: IVF cells); the
    // fusion itself touches only the two ≤50-row lists, so it is free
    // at any scale — the whole point of fusing ranks instead of
    // incomparable scores.
    "rag_hybrid_rrf" -> ((s, d) => {
      val wL = Window.orderBy(col("score").desc, col("doc_id"))
      val lex = TextOps.bm25TopK(Tables.documents(s, d), Seq("doc_id"),
        "text", 50)
        .select(col("doc_id"),
          row_number().over(wL).cast("long").as("lex_rnk"))
      val e = unitVecs(s, d)
      val sem = graft.api.GraftOps.cosineTopK(e,
        e.filter(col("vec_id") === 0L), "vec_id", "u", 50)
        .select(col("cand_id").as("doc_id"), col("rnk").as("sem_rnk"))
      lex.join(sem, Seq("doc_id"), "full_outer")
        .withColumn("rrf_micro",
          floor(coalesce(lit(1000000.0)
              / (lit(60.0) + col("lex_rnk").cast("double")), lit(0.0))
            + coalesce(lit(1000000.0)
              / (lit(60.0) + col("sem_rnk").cast("double")), lit(0.0))
            + lit(0.5)).cast("long"))
        .orderBy(col("rrf_micro").desc, col("doc_id")).limit(20)
    }),

    // Margin-based bitext mining (the parallel-corpus miner behind
    // CCMatrix-style datasets): for every non-English document vector,
    // its 4 nearest English neighbors; the top-1 is a translation-pair
    // candidate scored by the RATIO margin top1 / mean(top-4) — absolute
    // cosine is uncalibrated across hubs, the margin is not. Scores are
    // summed as exact micro-longs (order-free) so the margin is one
    // deterministic division. Candidate generation here is the
    // broadcast brute-force baseline; at 100 TB the same (q_id,
    // cand_id, score, rnk) contract comes from the IVF cell join
    // (emb_ivf_topk) with margin arithmetic unchanged.
    "emb_bitext_mine" -> ((s, d) => {
      val lang = Tables.documents(s, d)
        .select(col("doc_id").as("vec_id"), col("lang"))
      val e = unitVecs(s, d).join(lang, "vec_id")
      val en = e.filter(col("lang") === "en")
      val non = e.filter(col("lang") =!= "en")
      graft.api.GraftOps.cosineTopK(en, non, "vec_id", "u", 4)
        .withColumn("micro",
          floor(col("score") * 1000000.0 + 0.5).cast("long"))
        .groupBy("q_id")
        .agg(min_by(col("cand_id"), col("rnk")).as("best_en"),
          min_by(col("micro"), col("rnk")).as("top1_micro"),
          sum("micro").as("sum_micro"),
          count(lit(1)).cast("long").as("k"))
        .join(non.select(col("vec_id").as("q_id"), col("lang")), "q_id")
        .select(col("q_id"), col("lang"), col("best_en"),
          round(col("top1_micro").cast("double") / 1000000.0, 6)
            .as("top1_cos"),
          round(col("k").cast("double") * col("top1_micro").cast("double")
            / col("sum_micro").cast("double"), 6).as("margin"))
        .withColumn("keep", col("margin") >= lit(1.05))
    }),

    // Per-DIMENSION corpus statistics — the fit step of embedding
    // whitening/centering (and the per-dim drift baseline): mean,
    // variance, and the whitening scale 1/√(var+ε) for each of the 64
    // dimensions. The explode is corpus×dim rows but partial-aggregates
    // map-side to dim-count rows per partition, so the shuffle moves
    // ~64 rows per task regardless of corpus size. Exactness recipe:
    // values quantized to micro-units (the int8-quantize trunc±0.5
    // pattern), then summed as DECIMAL integers — order-free and
    // engine-exact; the final mean/variance are fixed-order double ops
    // on those exact sums.
    "emb_dim_stats" -> ((s, d) => dimStats(s, d)),

    // APPLY the whitening transform emb_dim_stats fits: sample vectors
    // standardized per-dimension (z = (v − mean)·inv_std, using the
    // 6-decimal published stats so fit and apply agree across engines),
    // re-quantized to micro-units and fingerprinted in dim order. The
    // 64-row stats table BROADCASTS against the exploded sample — the
    // apply pass is one scan at any corpus size; per-vector reassembly
    // is a bounded 64-element sort inside its own group.
    "emb_whiten_apply" -> ((s, d) => {
      val sample = Tables.embeddings(s, d)
        .filter(col("vec_id") < 10L)
        .select(col("vec_id"), posexplode(col("embedding"))
          .as(Seq("dim0", "vf")))
        .select(col("vec_id"), (col("dim0") + 1).cast("long").as("dim"),
          col("vf").cast("double").as("v"))
      sample.join(broadcast(dimStats(s, d)), "dim")
        .withColumn("z", (col("v") - col("mean")) * col("inv_std"))
        .withColumn("zm", (col("z") * 1000000.0
          + when(col("z") >= 0, 0.5).otherwise(-0.5)).cast("long"))
        .groupBy("vec_id")
        .agg(count(lit(1)).cast("long").as("n_dims"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("dim"), col("zm")))),
            x => x.getField("zm").cast("string")), ",")).as("z_md5"))
    }),

    // HARD-NEGATIVE MINING for contrastive training: each query
    // vector's closest candidates with a DIFFERENT label — the
    // "semantically near but wrong" examples an embedding model trains
    // against. Same broadcast-query brute-force shape as
    // emb_cosine_topk with the label-disagreement predicate pushed
    // into the candidate stream; at 100 TB the candidate generator
    // swaps for the IVF cell join with the same predicate.
    "samp_negative_mining" -> ((s, d) => {
      val e = unitVecs(s, d)
      val q = e.filter(col("vec_id") < 20L)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("u").as("q_u"))
      val w = Window.partitionBy("q_id")
        .orderBy(col("score").desc, col("cand_id"))
      e.select(col("vec_id").as("cand_id"), col("label").as("cand_label"),
          col("u"))
        .crossJoin(broadcast(q))
        .filter(col("cand_label") =!= col("q_label"))
        .select(col("q_id"), col("q_label"), col("cand_id"),
          col("cand_label"),
          round(vecDot(col("u"), col("q_u")), 6).as("score"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
    }),

    // IVF cell-BALANCE report — the index-health metric that decides
    // nlist/re-training: per coarse cell its size, corpus share, and
    // balance factor (size ÷ ideal uniform size; 1.0 is perfect, a hot
    // cell >2 means probes over-scan and the centroids need refitting).
    // One partial-aggregated groupBy to cell-count rows + a broadcast
    // 1-row total — the report costs one corpus pass at any scale.
    "emb_ivf_balance" -> ((s, d) => {
      val cells = Tables.embeddings(s, d)
        .groupBy("label").agg(count(lit(1)).as("n_vecs"))
      val tot = cells.agg(sum("n_vecs").as("total"),
        count(lit(1)).as("n_cells"))
      cells.crossJoin(broadcast(tot))
        .select(col("label"), col("n_vecs"),
          round(col("n_vecs").cast("double") / col("total"), 6)
            .as("share"),
          round(col("n_vecs").cast("double") * col("n_cells")
            / col("total"), 6).as("balance"))
    }),

    // Distributed POWER ITERATION (one step toward the top principal
    // component, the core of PCA/spectral embedding at scale): center
    // with the emb_dim_stats means, project every vector onto a fixed
    // deterministic start direction w₀ = 1/8·(1…1) (unit for dim 64),
    // and accumulate v₁[d] = Σₓ (x'·w₀)·x'[d] — a plain per-dimension
    // aggregation, which is why this runs at 100 TB: one corpus pass,
    // map-side partial sums, a 64-row shuffle. Determinism recipe:
    // the per-row term quantizes to micro-units and sums as DECIMAL
    // (order-free); the in-row dot and the 64-term norm both run as
    // SEQUENTIAL array folds (vecDot == list_dot_product),
    // never as a row-order-dependent double aggregate.
    "emb_power_iter" -> ((s, d) => {
      val m = dimStats(s, d).agg(transform(
        array_sort(collect_list(struct(col("dim"), col("mean")))),
        x => x.getField("mean")).as("means"))
      val xp = Tables.embeddings(s, d)
        .crossJoin(broadcast(m))
        .select(col("vec_id"),
          zip_with(asDouble(col("embedding")), col("means"),
            (a, b) => a - b).as("xp"))
        .withColumn("sx",
          round(vecDot(col("xp"), array_repeat(lit(0.125), 64)), 6))
      val v1 = xp
        .select(col("sx"), posexplode(col("xp")).as(Seq("dim0", "xpd")))
        .select((col("dim0") + 1).cast("long").as("dim"),
          ((col("sx") * col("xpd")) * 1000000.0
            + when(col("sx") * col("xpd") >= 0, 0.5).otherwise(-0.5))
            .cast("long").as("tm"))
        .groupBy("dim")
        .agg(sum(col("tm").cast(DecimalType(38, 0))).as("v1m"))
      val nr = v1.agg(transform(
          array_sort(collect_list(struct(col("dim"),
            (col("v1m").cast("double") / 1000000.0).as("v")))),
          x => x.getField("v")).as("vs"))
        .select(sqrt(vecDot(col("vs"), col("vs"))).as("nrm"))
      v1.crossJoin(broadcast(nr))
        .select(col("dim"),
          round(col("v1m").cast("double") / 1000000.0, 6).as("v1"),
          round((col("v1m").cast("double") / 1000000.0) / col("nrm"), 6)
            .as("v1_unit"))
    }),

    // TRIPLET MINING — the (anchor, positive, negative) samples metric
    // learning trains on: per anchor, the nearest SAME-label vector
    // (hardest positive is debatable; nearest is the convention for
    // in-batch mining) and the nearest DIFFERENT-label vector (the hard
    // negative), with the triplet margin pos−neg that a margin-loss
    // curriculum sorts by. One scored candidate pass feeds both ranked
    // subsets — the broadcast brute-force shape; the IVF cell join is
    // the at-scale candidate generator, margin arithmetic unchanged.
    "samp_triplet_mining" -> ((s, d) => {
      val e = unitVecs(s, d)
      val q = e.filter(col("vec_id") < 20L)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("u").as("q_u"))
      val scored = e.select(col("vec_id").as("cand_id"),
          col("label").as("cand_label"), col("u"))
        .crossJoin(broadcast(q))
        .filter(col("cand_id") =!= col("q_id"))
        .select(col("q_id"), col("q_label"), col("cand_id"),
          col("cand_label"),
          round(vecDot(col("u"), col("q_u")), 6).as("score"))
        .localCheckpoint()
      val w = Window.partitionBy("q_id")
        .orderBy(col("score").desc, col("cand_id"))
      def top1(df: DataFrame, idAs: String, scoreAs: String) = df
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") === 1)
        .select(col("q_id"), col("q_label"),
          col("cand_id").as(idAs), col("score").as(scoreAs))
      top1(scored.filter(col("cand_label") === col("q_label")),
          "pos_id", "pos_score")
        .join(top1(scored.filter(col("cand_label") =!= col("q_label")),
          "neg_id", "neg_score").drop("q_label"), Seq("q_id"))
        .select(col("q_id"), col("q_label"), col("pos_id"),
          col("pos_score"), col("neg_id"), col("neg_score"),
          round(col("pos_score") - col("neg_score"), 6).as("margin"))
    }),

    "emb_ivf_topk" -> ((s, d) =>
      cellRanked(unitVecs(s, d), "label").filter(col("rnk") <= 5)),

    // Embedding-cosine near-dup: candidate pairs restricted to the same
    // coarse cell (label = IVF centroid stand-in), kept above a cosine
    // threshold. The cell restriction makes this O(Σ|cell|²) instead of
    // O(N²) — same bucketing argument as MinHash-LSH banding. Vectors
    // are unit-normalized ONCE up front so each pair costs a single dot
    // product (3× fewer array folds than cosine-per-pair — measured).
    // Threshold 0.3 is tuned to this synthetic data's similarity range;
    // production near-dup uses ~0.95 — the operator shape is identical.
    "dedup_embedding" -> ((s, d) => {
      // Unit-normalize ONCE (per vector, not per pair), then each pair
      // costs a single dot-product fold — measured fastest of three
      // formulations (cosine-per-pair: 3 folds/pair; exploded skinny
      // self-join + hash agg: a 12.7M-row per-cell cross product through
      // SMJ, 5× slower despite full codegen). At larger cells, switch to
      // a native BLAS/Expression batch — the cell restriction (O(Σ|cell|²))
      // is what actually carries this to 100 TB.
      val e = unitVecs(s, d)
      val a = e.select(col("vec_id").as("left_id"), col("label"),
        col("u").as("ua"))
      val b = e.select(col("vec_id").as("right_id"),
        col("label").as("label_b"), col("u").as("ub"))
      a.join(b, col("label") === col("label_b") &&
          col("left_id") < col("right_id"))
        .select(col("left_id"), col("right_id"),
          round(vecDot(col("ua"), col("ub")), 6).as("score"))
        .filter(col("score") >= 0.3)
    }),

    // Unit-norm projection — the preprocessing step real ANN indexes
    // assume; rounded 6dp both engines so elementwise compare is exact.
    // The vector is emitted as a comma-joined DECIMAL(12,6) string: the
    // driver's comparator hashes a pandas frame, which cannot sort
    // array-typed cells (CORRECTNESS_r02 err) — scalar columns only.
    "emb_normalize" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), asDouble(col("embedding")).as("vec"))
      val nrm = sqrt(vecDot(col("vec"), col("vec")))
      val unit = when(nrm === 0.0, col("vec"))
        .otherwise(transform(col("vec"), x => round(x / nrm, 6)))
      e.select(col("vec_id"), round(nrm, 6).as("norm"),
        concat_ws(",",
          transform(unit, x => x.cast(DecimalType(12, 6)).cast("string")))
          .as("unit_vec"))
    }),

    // 8 planes × one native dot against a driver-precomputed ±1 literal
    // each — replaces the interpreted HOF that hashed md5("plane:dim")
    // per element per ROW (bit-identical; see hyperplaneBitFast).
    "emb_lsh_bucket" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), asDouble(col("embedding")).as("vec"))
      val bits = (0 until 8).map(p =>
        hyperplaneBitFast(col("vec"), p, EmbDim).cast("string"))
      e.select(col("vec_id"), concat(bits: _*).as("bucket"))
    }),

    // One spherical k-means iteration (k=4): deterministic seed
    // centroids (first k ids) → assign (argmax cosine) → recompute
    // centroids → reassign. This is the "one-time clustering job" that
    // produces emb_ivf_topk's coarse cells. Fully declarative: scoring
    // is a broadcast of the k tiny centroids against the fact side (at
    // scale MLlib instead collects k·dim floats to the driver per
    // iteration — same cost shape); the argmax is a per-vector window
    // over k rows; the centroid update sums components through
    // DECIMAL(20,15) so partial-aggregation order can never wiggle an
    // ulp (components are unit-bounded, so the integer part fits ~1e5
    // members per cluster — widen for more).
    "emb_kmeans_iter" -> ((s, d) =>
      storedCells(s, d).select("vec_id", "cluster", "score")),

    // IVF index MAINTENANCE — the ANN analogue of idx_band_upsert
    // (r17 VERDICT item 4): vectors already in the stored
    // cell table (vec_id % 5 != 0 stands in for the indexed corpus)
    // keep their cells under FIRST-WINS per vec_id; an ingest batch is
    // assigned against the STORED centroids — serving, not retraining
    // — and only genuinely new ids insert (anti-join on vec_id, the
    // partition-pruned probe shape at 100 TB). The ingest OFFERS
    // overlap the base generation (r18 VERDICT item 5: disjoint
    // generations made the anti-join vacuous): ids with % 7 == 0 that
    // the base already owns are re-offered carrying a deliberately
    // PERTURBED assignment (cluster+100, score −1), so if the
    // keep-existing rule were violated the perturbed values would
    // leak into the output and break the hash — the DuckDB twin must
    // reproduce first-wins, not just the assignment math. `drifted`
    // flags an ingest vector whose best-cell score fell below the
    // threshold: it no longer belongs to any trained cell.
    "idx_ivf_upsert" -> ((s, d) => {
      val cells = storedCells(s, d) // the stored trained index
        .select(col("vec_id"), col("cluster"), col("score"))
      val base = cells.filter(col("vec_id") % 5 =!= 0)
      val offers = cells
        .filter(col("vec_id") % 5 === 0 || col("vec_id") % 7 === 0)
        .select(col("vec_id"),
          when(col("vec_id") % 5 =!= 0, col("cluster") + 100L)
            .otherwise(col("cluster")).as("cluster"),
          when(col("vec_id") % 5 =!= 0, lit(-1.0))
            .otherwise(col("score")).as("score"))
      val fresh = offers
        .join(base.select("vec_id"), Seq("vec_id"), "left_anti")
      base.withColumn("generation", lit("base"))
        .unionByName(fresh.withColumn("generation", lit("ingest")))
        .withColumn("drifted",
          col("generation") === "ingest" && col("score") < 0.5)
    }),

    // IVF search over the k-means cells just produced — the composed
    // end-to-end ANN path (cluster → probe own cell → top-k), replacing
    // emb_ivf_topk's label stand-in with real learned cells.
    "emb_ivf_kmeans_topk" -> ((s, d) =>
      cellRanked(storedCells(s, d).select("vec_id", "u", "cluster"),
        "cluster").filter(col("rnk") <= 5)),

    // Symmetric int8 scalar quantization (the memory lever for ANN at
    // scale: 4× smaller vectors, dot products on integers). Per-row
    // projection — scale = 127/max|x|, code = round-half-away(x·scale) —
    // plus the reconstruction L2 error. Rounding is spelled as
    // trunc(x + ±0.5) on BOTH engines because Spark's round() and
    // DuckDB's round() need not agree with each other at exact .5
    // (and DuckDB CAST(double AS BIGINT) rounds while Spark's truncates).
    "emb_quantize_int8" -> ((s, d) =>
      graft.api.GraftOps.quantizeInt8(
        Tables.embeddings(s, d)
          .select(col("vec_id"), asDouble(col("embedding")).as("v")),
        "vec_id", "v")),

    // kNN label prediction — similarity search APPLIED: each query
    // vector takes the majority label of its 10 nearest neighbors
    // (ties: more votes, then smaller label), scored against its true
    // label. The search itself is the brute-force broadcast path
    // (cosineTopK's shape); swap in the IVF probe for the 100 TB
    // variant — the voting/eval layer is identical.
    "emb_knn_label" -> ((s, d) => {
      val e = unitVecs(s, d)
      val q = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("u").as("q_u"))
      val wK = Window.partitionBy("q_id")
        .orderBy(col("score").desc, col("cand_id"))
      val wV = Window.partitionBy("q_id")
        .orderBy(col("votes").desc, col("c_label"))
      e.select(col("vec_id").as("cand_id"), col("label").as("c_label"),
          col("u"))
        .crossJoin(broadcast(q))
        .filter(col("cand_id") =!= col("q_id"))
        .select(col("q_id"), col("q_label"), col("cand_id"), col("c_label"),
          round(vecDot(col("u"), col("q_u")), 6).as("score"))
        .withColumn("rnk", row_number().over(wK)).filter(col("rnk") <= 10)
        .groupBy("q_id", "q_label", "c_label")
        .agg(count(lit(1)).as("votes"))
        .withColumn("rn", row_number().over(wV)).filter(col("rn") === 1)
        .select(col("q_id"), col("q_label"), col("c_label").as("pred_label"),
          col("votes"), (col("c_label") === col("q_label")).as("correct"))
    }),

    // Clustering evaluation: label purity per k-means cell — majority
    // true label, its share of the cell, and cell size. The eval loop
    // that tells you whether the IVF cells are semantically coherent
    // (exact counts; one double division).
    "emb_cluster_purity" -> ((s, d) => {
      val a = storedCells(s, d).select("vec_id", "cluster")
        .join(unitVecs(s, d).select("vec_id", "label"), "vec_id")
      val counts = a.groupBy("cluster", "label")
        .agg(count(lit(1)).as("n"))
      val wTop = Window.partitionBy("cluster")
        .orderBy(col("n").desc, col("label"))
      counts
        .withColumn("cell_n", sum(col("n")).over(Window.partitionBy("cluster")))
        .withColumn("rn", row_number().over(wTop)).filter(col("rn") === 1)
        .select(col("cluster"), col("label").as("majority_label"),
          col("cell_n"),
          round(col("n").cast("double") / col("cell_n").cast("double"), 6)
            .as("purity"))
    }),

    // SemDeDup (Abbas et al. 2023): semantic dedup = k-means cells →
    // within-cell pairwise cosine ≥ τ → drop every member that has a
    // LOWER-id neighbor above τ = 0.3 (tuned to this synthetic data like
    // dedup_embedding; production uses ~0.95). Greedy min-id canonical —
    // the same keep-rule as dedup_exact. The cell restriction is what scales:
    // candidate pairs are O(Σ|cell|²) like the MinHash bands / IVF
    // probes, never corpus² — and GraftOps.semanticDupIds decomposes
    // any cell above 4096 members into block PAIRS (triangle join), so
    // a hot cell's inherent quadratic distributes across bounded tasks
    // while every pair is still compared exactly once (the sf1 gate
    // caught the earlier salt-split approximation losing 363 dups when
    // the 4-cell clustering crossed the cap at 20k vectors; the result
    // is now bit-identical to the unbounded join at every scale).
    // Reuses the learned k-means cells (shared kmeansAssign), so
    // the whole chain cluster → pair → drop is the production
    // semantic-dedup path in one declarative plan.
    "dedup_semantic" -> ((s, d) => {
      val cells = storedCells(s, d).select("vec_id", "u", "cluster")
      val dropped = graft.api.GraftOps
        .semanticDupIds(cells, "vec_id", "u", "cluster", 0.3)
        .select(col("right_id").as("vec_id"))
        .withColumn("dup", lit(true))
      cells.select("vec_id", "cluster")
        .join(dropped, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cluster"),
          (!coalesce(col("dup"), lit(false))).as("keep"))
    }),

    // Matryoshka truncation eval (Kusupati et al. 2022): how much
    // recall@10 survives when vectors are cut to their first 16 dims
    // (renormalized)? The memory/latency lever MRL embeddings promise —
    // this measures it per query against the full-dim ranking. Both
    // rankings are the brute-force broadcast path; at 100 TB the
    // truncated pass is the cheap first stage of a two-stage
    // retrieve-then-rerank cascade.
    "emb_mrl_recall" -> ((s, d) => {
      val e = unitVecs(s, d).select("vec_id", "u")
      val t = truncUnit16(e)
      def topk(corpus: DataFrame, vc: String): DataFrame =
        graft.api.GraftOps.cosineTopK(corpus,
          corpus.filter(col("vec_id") < 5), "vec_id", vc, 10)
          .select("q_id", "cand_id")
      val full  = topk(e, "u")
      val trunc = topk(t, "ut")
      full.join(trunc, Seq("q_id", "cand_id"), "left_semi")
        .groupBy("q_id").agg(count(lit(1)).as("n_overlap"))
        .select(col("q_id"), col("n_overlap"),
          round(col("n_overlap").cast("double") / 10.0, 6).as("recall_at_10"))
    }),

    // IVF with nprobe=2 — the real multi-cell probe a production IVF
    // index runs: rank the k-means CELLS per query by centroid cosine,
    // search the best TWO (recovering near-boundary neighbors that the
    // own-cell-only emb_ivf_kmeans_topk misses), then top-5 across the
    // union. Each vector lives in exactly one cell, so the two probed
    // cells are disjoint — no candidate dedup needed. At scale the
    // centroid ranking is a broadcast k-row table per query and the
    // probe joins on the cell id — nprobe multiplies candidates
    // scanned, never corpus passes.
    "emb_ivf_nprobe" -> ((s, d) => {
      val cells = storedCells(s, d).select("vec_id", "u", "cluster")
      val cents = storedCentroids(s, d)
      val q0 = cells.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("u").as("q_u"))
      val probes = rankedCells(q0, cents)
        .filter(col("crn") <= 2)
        .select(col("q_id"), col("q_u"), col("cid").as("q_cluster"))
      val w = Window.partitionBy("q_id")
        .orderBy(col("score").desc, col("cand_id"))
      cells.join(broadcast(probes),
          col("cluster") === col("q_cluster") &&
          col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("cand_id"),
          round(vecDot(col("u"), col("q_u")), 6).as("score"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 5)
    }),

    // The IVF TUNING CURVE — recall@10 as a function of nprobe
    // ∈ {1, 2, 4}, the measurement every IVF deployment runs to pick
    // its latency/recall point (emb_ivf_nprobe is one point of this
    // curve; this emits the curve). One cell ranking per query feeds
    // all three probe widths via a 3-row broadcast k-join; candidates
    // join on the cell id (never a corpus scan per probe width); the
    // brute-force top-10 baseline is computed ONCE and semi-joined.
    // The assignment table is checkpointed — three consumers.
    "emb_nprobe_sweep" -> ((s, d) => {
      val cells = storedCells(s, d).select("vec_id", "u", "cluster")
        .localCheckpoint()
      val cents = storedCentroids(s, d)
      val q0 = cells.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("u").as("q_u"))
      val ranked = rankedCells(q0, cents)
      val ks = s.createDataFrame(Seq(1, 2, 4).map(Tuple1(_))).toDF("np")
      val probes = ranked.join(broadcast(ks), col("crn") <= col("np"))
        .select(col("np"), col("q_id"), col("q_u"),
          col("cid").as("q_cluster"))
      val wTop = Window.partitionBy("np", "q_id")
        .orderBy(col("score").desc, col("cand_id"))
      val cand = cells.join(broadcast(probes),
          col("cluster") === col("q_cluster") &&
            col("vec_id") =!= col("q_id"))
        .select(col("np"), col("q_id"), col("vec_id").as("cand_id"),
          round(vecDot(col("u"), col("q_u")), 6).as("score"))
        .withColumn("rnk", row_number().over(wTop))
        .filter(col("rnk") <= 10)
        .select("np", "q_id", "cand_id")
      val bf = graft.api.GraftOps.cosineTopK(cells,
          cells.filter(col("vec_id") < 5), "vec_id", "u", 10)
        .select("q_id", "cand_id")
      val hits = cand.join(bf, Seq("q_id", "cand_id"), "left_semi")
        .groupBy("np", "q_id").agg(count(lit(1)).as("h"))
      val grid = ks.crossJoin(q0.select("q_id"))
      grid.join(hits, Seq("np", "q_id"), "left")
        .groupBy("np").agg(
          count(lit(1)).as("n_queries"),
          round(sum(coalesce(col("h"), lit(0L))).cast("double") /
            (count(lit(1)) * 10.0), 6).as("avg_recall"))
        .select(col("np").cast("long").as("np"), col("n_queries"),
          col("avg_recall"))
    }),

    // The COMPOSED production ANN serving topology — IVF retrieval ×
    // MRL cascade, the two halves emb_ivf_nprobe and emb_cascade_rerank
    // each measure alone, joined end-to-end: (1) rank k-means cells per
    // query by centroid cosine and probe the best TWO (nprobe=2);
    // (2) coarse-score ONLY vectors in the probed cells with the cheap
    // 16-dim MRL truncation — the candidate stream arrives via an
    // equi-JOIN on the cell id, so unlike emb_cascade_rerank's coarse
    // stage nothing here scans the corpus per query: cost is
    // 2·(N/cells)·16 multiplies per query; (3) rerank the ≤50 coarse
    // survivors with the full 64-dim vector (50 rows per query
    // regardless of corpus size) and keep top-5; (4) emit recall@5
    // against the brute-force full-dim ranking — the eval baseline,
    // which is the ONE documented corpus-wide pass (broadcast queries,
    // exactly emb_mrl_recall's measurement shape; drop it in production
    // serving). At 100 TB: centroids broadcast, cells partition the
    // corpus, the cascade touches 2 cells coarse + 50 rows fine.
    "emb_ivf_cascade" -> ((s, d) => {
      // The assignment table feeds FOUR consumers (truncated index,
      // query set, fine rerank, brute-force eval); materialize it once
      // or the whole k-means subtree re-derives per consumer (~6× in
      // the unchecked plan — audited).
      val cells = storedCells(s, d).select("vec_id", "u", "cluster")
        .localCheckpoint()
      val cents = storedCentroids(s, d)
      val t = truncUnit16(cells, "cluster")
      val q0 = cells.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("u").as("q_u"))
      val probes = rankedCells(q0, cents)
        .filter(col("crn") <= 2)
        .select(col("q_id"), col("cid").as("q_cluster"))
      val qt = t.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("ut").as("q_t"))
      val probeQ = probes.join(qt, Seq("q_id"))
      val wCoarse = Window.partitionBy("q_id")
        .orderBy(col("c_score").desc, col("cand_id"))
      val coarse = t.join(broadcast(probeQ),
          col("cluster") === col("q_cluster") &&
          col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("cand_id"),
          round(vecDot(col("ut"), col("q_t")), 6).as("c_score"))
        .withColumn("c_rnk", row_number().over(wCoarse).cast("long"))
        .filter(col("c_rnk") <= 50)
      val wFine = Window.partitionBy("q_id")
        .orderBy(col("score").desc, col("cand_id"))
      val fine = coarse
        .join(cells.select(col("vec_id").as("cand_id"), col("u")),
          Seq("cand_id"))
        .join(broadcast(q0), Seq("q_id"))
        .select(col("q_id"), col("cand_id"), col("c_rnk"),
          round(vecDot(col("u"), col("q_u")), 6).as("score"))
        .withColumn("rnk", row_number().over(wFine).cast("long"))
        .filter(col("rnk") <= 5)
      val bf = graft.api.GraftOps.cosineTopK(cells,
          cells.filter(col("vec_id") < 5), "vec_id", "u", 5)
        .select("q_id", "cand_id")
      val rec = fine.join(bf, Seq("q_id", "cand_id"), "left_semi")
        .groupBy("q_id").agg(count(lit(1)).as("n_overlap"))
      fine.join(rec, Seq("q_id"), "left")
        .select(col("q_id"), col("cand_id"), col("score"), col("rnk"),
          col("c_rnk"),
          round(coalesce(col("n_overlap"), lit(0L)).cast("double") / 5.0, 6)
            .as("recall_at_5"))
    }),

    // Index-SIZE tuning evidence for the IVF path — the k analogue of
    // emb_nprobe_sweep's nprobe curve (r11 item 5): the same one-
    // iteration k-means index built at the toy k=4 AND at the
    // production heuristic k=⌈√n⌉ (FAISS/ScaNN's default cell count:
    // balances N/k probe cost against k centroid-scoring cost —
    // O(N/√N·√N) total), each probed nprobe=1, each emitting recall@5
    // against brute force plus the per-query candidate volume. The
    // output makes the trade quantitative: k=4 probes n/4 vectors per
    // query for near-perfect recall; k=√n probes ~√n for less — pick
    // by SLA. Per-query recalls/costs aggregate as INTEGER sums before
    // one final division so no cross-engine float fold order exists.
    // The n→k step is a count() action (config-sized, not a collect);
    // at 100 TB the index build is N·k broadcast-centroid dots + one
    // posexplode centroid update — the standard IVF training cost, run
    // once, amortized over every query thereafter.
    "emb_ivf_k_recall" -> ((s, d) => {
      val n = Tables.embeddings(s, d).count()
      val kBig = math.ceil(math.sqrt(n.toDouble)).toInt
      // .distinct: for n <= 16, ceil(sqrt(n)) collapses to the toy
      // k=4 — without it the two branches union into duplicate rows
      // while the oracle's GROUP BY kv collapses them (engines would
      // diverge on tiny corpora). The oracle mirrors with DISTINCT.
      // The per-k branches are independent and each pays an eager
      // cells checkpoint (index build) at construction — build them
      // from a thread pool so the training jobs overlap (guide §2.6);
      // the union order below stays the declared Seq order.
      import scala.concurrent.{Await, Future, ExecutionContext}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      // The brute-force ground truth is k-INDEPENDENT (it scores the
      // normalized corpus against the 5 probe vectors — the index
      // never participates), yet each per-k branch re-derived it from
      // its own cells frame: two full N·5 scoring passes + two window
      // sorts per execution for identical ≤25 rows (guide §2.4,
      // remove duplicated subtrees). Derive it ONCE from the unitVecs
      // core (row-identical to any branch's cells projection: u passes
      // through kmeansAssign untouched) on its own future so it
      // overlaps the index builds, checkpoint the ≤25-row result, and
      // let both branches' recall joins read it.
      val eAll = unitVecs(s, d).select("vec_id", "u")
      val bfF = Future {
        graft.api.GraftOps.cosineTopK(eAll,
            eAll.filter(col("vec_id") < 5), "vec_id", "u", 5)
          .select("q_id", "cand_id")
          .localCheckpoint()
      }
      val branches = Seq(4, kBig).distinct.map { k => Future {
        // k == ServedK IS the stored trained index — read the shared
        // ivfCells core like every other IVF consumer instead of
        // re-running the N·k assignment scoring privately (guide §2.4;
        // the content is the same builder, kmeansAssign(s, d, ServedK),
        // already eagerly checkpointed by SharedStage).
        val cells =
          if (k == ServedK) storedCells(s, d)
            .select("vec_id", "u", "cluster")
          else kmeansAssign(s, d, k).select("vec_id", "u", "cluster")
            .localCheckpoint()
        val cand = cellRanked(cells, "cluster")
        val top = cand.filter(col("rnk") <= 5).select("q_id", "cand_id")
        val bf = Await.result(bfF, Duration.Inf)
        val rec = top.join(bf, Seq("q_id", "cand_id"), "left_semi")
          .groupBy("q_id").agg(count(lit(1)).as("n_overlap"))
        val nc = cand.groupBy("q_id").agg(count(lit(1)).as("n_cands"))
        cells.filter(col("vec_id") < 5).select(col("vec_id").as("q_id"))
          .join(rec, Seq("q_id"), "left").join(nc, Seq("q_id"), "left")
          .agg(count(lit(1)).as("n_queries"),
            sum(coalesce(col("n_overlap"), lit(0L))).as("so"),
            sum(coalesce(col("n_cands"), lit(0L))).as("sc"))
          .select(lit(k.toLong).as("k_cells"), col("n_queries"),
            round(col("so").cast("double")
              / (col("n_queries") * 5.0), 6).as("avg_recall"),
            round(col("sc").cast("double")
              / col("n_queries").cast("double"), 6).as("avg_cands"))
      } }
      try branches.map(Await.result(_, Duration.Inf))
        .reduce(_.unionAll(_))
      finally pool.shutdown()
    }),

    // SEMANTIC decontamination — the embedding-space complement of the
    // n-gram txt_decontaminate: flag corpus vectors whose cosine
    // similarity to ANY held-out benchmark vector reaches tau
    // (paraphrased contamination that shares no 8-gram). The benchmark
    // side (vec_id % 20 == 0 stands in for the eval set) is BROADCAST —
    // the realistic asymmetry, identical to the n-gram variant: the
    // corpus streams once with no shuffle before the per-doc aggregate,
    // so cost is corpus-linear at any scale. Emits the max-similarity
    // evidence per flagged vector (threshold 0.35 sits in this
    // synthetic data's tail; production uses ~0.9 — shape unchanged).
    "emb_decontaminate" -> ((s, d) => {
      val e = unitVecs(s, d).select("vec_id", "u")
      val bench = e.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("b_id"), col("u").as("b_u"))
      e.filter(col("vec_id") % 20 =!= 0)
        .crossJoin(broadcast(bench))
        .select(col("vec_id"),
          round(vecDot(col("u"), col("b_u")), 6).as("cos"))
        .filter(col("cos") >= 0.35)
        .groupBy("vec_id")
        .agg(max("cos").as("max_cos"),
          count(lit(1)).as("n_bench_hits"))
    }),

    // Two-stage retrieve→rerank cascade — the 100 TB ANN serving shape
    // that emb_mrl_recall (truncation quality) and emb_ivf_kmeans_topk
    // (coarse cells) each measure half of, composed end-to-end: stage 1
    // retrieves a WIDE top-50 per query with the CHEAP 16-dim MRL
    // truncation (4× fewer multiplies per candidate — at scale this is
    // the compressed-index scan), stage 2 re-scores ONLY those 50
    // survivors with the full 64-dim vector and keeps top-5. The fine
    // pass touches 50 rows per query regardless of corpus size — the
    // cascade asymmetry that makes full-precision scoring affordable.
    // c_rnk (coarse position) rides along so the output shows which
    // coarse candidates the fine pass promoted/demoted.
    "emb_cascade_rerank" -> ((s, d) => {
      val e = unitVecs(s, d).select("vec_id", "u")
      val t = truncUnit16(e)
      val coarse = graft.api.GraftOps.cosineTopK(t,
          t.filter(col("vec_id") < 5), "vec_id", "ut", 50)
        .select(col("q_id"), col("cand_id"), col("score").as("c_score"),
          col("rnk").as("c_rnk"))
      val qf = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("u").as("q_u"))
      val wFine = Window.partitionBy("q_id")
        .orderBy(col("score").desc, col("cand_id"))
      coarse
        .join(e.select(col("vec_id").as("cand_id"), col("u")),
          Seq("cand_id"))
        .join(broadcast(qf), Seq("q_id"))
        .select(col("q_id"), col("cand_id"), col("c_rnk"),
          round(vecDot(col("u"), col("q_u")), 6).as("score"))
        .withColumn("rnk", row_number().over(wFine).cast("long"))
        .filter(col("rnk") <= 5)
        .select("q_id", "cand_id", "score", "rnk", "c_rnk")
    }),

    // Product quantization (the other ANN memory lever next to int8:
    // 64 dims → 8 subspace codes, 8 bytes per vector at codebook size
    // 256). Deterministic toy codebook — the first 4 vectors' subvectors
    // per subspace (a real build k-means's each subspace; the assignment
    // path below is the part that runs over the full corpus at scale).
    // Each (vector, subspace) picks the L2-nearest centroid via the
    // expanded ‖x−c‖² = x·x − 2x·c + c·c dots (broadcast codebook,
    // per-key window argmin); the reconstruction error sums the chosen
    // d² as exact scaled longs so partition order can't wiggle an ulp.
    "emb_pq" -> ((s, d) => {
      val e = unitVecs(s, d).select("vec_id", "u")
      val subs = pqSubvectors(e, col("vec_id"), "x")
      val cents = pqSubvectors(e.filter(col("vec_id") < 4),
        col("vec_id").as("cid"), "c")
      pqCodes(subs, cents)
        .groupBy("vec_id").agg(
          array_join(transform(
            array_sort(collect_list(struct(col("sub"), col("cid")))),
            s0 => s0.getField("cid").cast("string")), ",").as("code"),
          round(sqrt(
            sum((col("d2") * 1000000.0 + 0.5).cast("long")).cast("double")
              / 1000000.0), 6).as("err"))
    }),

    // IVF + PQ COMPOSED — the production billion-scale ANN shape
    // (FAISS IVFPQ): coarse quantizer restricts the scan to nprobe=2
    // cells, PQ codes stand in for the vectors inside them, and the
    // query never touches a full vector until the final exact re-rank
    // of the ADC top-R. The pieces exist above in isolation
    // (emb_ivf_nprobe: cell probe; emb_pq: codes); what this adds is
    // the ADC (asymmetric distance computation) join: the query
    // precomputes d²(q_sub, centroid) for every (subspace, code) —
    // 8×4 values per query, a BROADCAST table — and a candidate's
    // approximate distance is then a pure 8-row lookup-sum over its
    // codes, no vector arithmetic per candidate. At 100 TB that is
    // the entire point: the scan side reads 8 BYTES per vector (the
    // codes) instead of 256, and the only per-candidate work is an
    // integer add. Codes here encode the raw unit vectors (residual
    // encoding vs the cell centroid is the production refinement; the
    // plan shape is identical). ADC partial sums ride exact scaled
    // longs (the emb_pq discipline) so partition order can't wiggle
    // an ulp; every window carries a full tiebreak.
    "emb_ivf_pq" -> ((s, d) => ivfPqTopK(s, d)),

    // IVFPQ RECALL@5 — the acceptance measurement for the composed
    // index above (quantization + nprobe both cost recall; this is
    // the number that decides whether 8×4 codes and 2 probes are
    // enough, exactly as emb_ivf_k_recall decides the cell count).
    // Ground truth is the exact brute-force top-5 over the full
    // corpus (queries broadcast, fact side streams once); overlap via
    // left-semi join, per-query rows so a single pathological query
    // is visible instead of averaged away.
    "emb_ivf_pq_recall" -> ((s, d) => {
      val pq = ivfPqTopK(s, d).select("q_id", "cand_id")
      val e = unitVecs(s, d).select("vec_id", "u")
      val q0 = e.filter(col("vec_id") < 5)
      val bf = graft.api.GraftOps.cosineTopK(e, q0, "vec_id", "u", 5)
        .select("q_id", "cand_id")
      val ov = pq.join(bf, Seq("q_id", "cand_id"), "left_semi")
        .groupBy("q_id").agg(count(lit(1)).as("n_overlap"))
      q0.select(col("vec_id").as("q_id")).join(ov, Seq("q_id"), "left")
        .select(col("q_id"),
          coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
          round(coalesce(col("n_overlap"), lit(0L)).cast("double") / 5.0,
            6).as("recall"))
    }),

    // EMBEDDING DRIFT CHECK — the dq gate an embedding pipeline runs
    // between corpus snapshots (encoder re-trained? upstream filter
    // changed? a cell silently emptied?): split the corpus into two
    // halves (vec_id parity stands in for yesterday/today), compare
    // per-cell population share and centroid direction. Centroids use
    // the kmeansCentroids discipline (DECIMAL(20,15) sums, unit
    // normalization) so partition order is exact; share is
    // micro-quantized. Cost: ONE posexplode + groupBy per corpus pass
    // and a cells-sized join — corpus-linear, no pair term. The FLAG
    // uses the population share (outside [0.4, 0.6]); the centroid
    // cosine is REPORTED as evidence but not gated on, because this
    // corpus's labels are not directionally tight (mean of near-random
    // unit vectors ≈ 0, so the normalized-mean direction is noise and
    // cos(u0,u1) sits near 0 for every label — first run measured
    // −0.21..0.30; a cos threshold would flag everything). In
    // production, with real clusters, the cosine term joins the gate.
    "dq_embedding_drift" -> ((s, d) => {
      val e = Tables.embeddings(s, d).select(
        col("label").cast("long").as("label"),
        asDouble(col("embedding")).as("v"),
        (col("vec_id") % 2).as("half"))
      val sums = unitNormalize(exactVectorSum(e, "v", "label", "half"),
        "raw", "nrm", "cu", "label", "half")
      val cnts = e.groupBy("label", "half").agg(count(lit(1)).as("n"))
      val c0 = sums.filter(col("half") === 0)
        .select(col("label"), col("cu").as("u0"))
      val c1 = sums.filter(col("half") === 1)
        .select(col("label"), col("cu").as("u1"))
      val n0 = cnts.filter(col("half") === 0)
        .select(col("label"), col("n").as("n_old"))
      val n1 = cnts.filter(col("half") === 1)
        .select(col("label"), col("n").as("n_new"))
      c0.join(c1, "label").join(n0, "label").join(n1, "label")
        .select(col("label"), col("n_old"), col("n_new"),
          (round((col("n_new") * 1000000L).cast("double")
              / (col("n_old") + col("n_new")), 0)
            .cast("long").cast("double") / 1000000.0).as("share_new"),
          round(vecDot(col("u0"), col("u1")), 6).as("centroid_cos"))
        .withColumn("drift",
          col("share_new") < 0.4 || col("share_new") > 0.6)
    }))

  /** The 8 PQ subvectors of `src`'s unit vector `u`, one row each:
    * (`id`, sub, `vecAs`). */
  private def pqSubvectors(src: DataFrame, id: Column,
      vecAs: String): DataFrame =
    src.select(id, posexplode(
      transform(sequence(lit(0), lit(EmbDim / 8 - 1)),
        j => slice(col("u"), j * 8 + 1, lit(8)))).as(Seq("sub", vecAs)))

  /** ‖x−c‖² from the expanded x·x − 2x·c + c·c dots, rounded to 6. */
  private def pqDist(x: Column, c: Column): Column =
    round(vecDot(x, x) - vecDot(x, c) * 2.0 + vecDot(c, c), 6)

  /** Each (vec_id, sub)'s PQ code: the subvector `x` against every
    * broadcast codebook entry (cid, sub, c), the L2-nearest kept with
    * the code id as tiebreak — (vec_id, sub, cid, d2, rn). */
  private def pqCodes(subs: DataFrame, book: DataFrame): DataFrame =
    subs.join(broadcast(book), "sub")
      .select(col("vec_id"), col("sub"), col("cid"),
        pqDist(col("x"), col("c")).as("d2"))
      .withColumn("rn", row_number().over(Window.partitionBy("vec_id", "sub")
        .orderBy(col("d2"), col("cid"))))
      .filter(col("rn") === 1)

  /** The composed IVFPQ pipeline behind emb_ivf_pq / emb_ivf_pq_recall:
    * coarse probe (nprobe=2) → ADC lookup-sum over PQ codes → exact
    * re-rank of the ADC top-20 to top-5. */
  private def ivfPqTopK(s: SparkSession, d: String): DataFrame = {
      val cells = storedCells(s, d).select("vec_id", "u", "cluster")
        .localCheckpoint() // three consumers: codes, candidates, rerank
      val cents = storedCentroids(s, d)
      val subs = pqSubvectors(cells.select(col("vec_id"), col("u")),
        col("vec_id"), "x")
      val csubs = pqSubvectors(cells.filter(col("vec_id") < 4)
        .select(col("vec_id").as("cid"), col("u")), col("cid"), "c")
      val codes = pqCodes(subs, csubs)
        .select(col("vec_id"), col("sub"), col("cid"))
      val q0 = cells.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("u").as("q_u"))
      val probes = rankedCells(q0, cents)
        .filter(col("crn") <= 2)
        .select(col("q_id"), col("cid").as("q_cluster"))
      val qsubs = pqSubvectors(
        q0.select(col("q_id"), col("q_u").as("u")), col("q_id"), "qx")
      val adc = qsubs.join(broadcast(csubs), "sub")
        .select(col("q_id"), col("sub"), col("cid"),
          pqDist(col("qx"), col("c")).as("qd2"))
      val cand = cells.select(col("vec_id").as("cand_id"), col("cluster"))
        .join(broadcast(probes), col("cluster") === col("q_cluster") &&
          col("cand_id") =!= col("q_id"))
        .select("q_id", "cand_id")
      val wAdc = Window.partitionBy("q_id")
        .orderBy(col("adc_d2"), col("cand_id"))
      val approx = cand
        .join(codes.withColumnRenamed("vec_id", "cand_id"), Seq("cand_id"))
        .join(broadcast(adc), Seq("q_id", "sub", "cid"))
        .groupBy("q_id", "cand_id")
        .agg(round(
          sum((col("qd2") * 1000000.0 + 0.5).cast("long")).cast("double")
            / 1000000.0, 6).as("adc_d2"))
        .withColumn("arn", row_number().over(wAdc))
        .filter(col("arn") <= 20)
      val wFine = Window.partitionBy("q_id")
        .orderBy(col("score").desc, col("cand_id"))
      approx
        .join(cells.select(col("vec_id").as("cand_id"), col("u")),
          Seq("cand_id"))
        .join(broadcast(q0), Seq("q_id"))
        .select(col("q_id"), col("cand_id"), col("adc_d2"),
          round(vecDot(col("u"), col("q_u")), 6).as("score"))
        .withColumn("rnk", row_number().over(wFine).cast("long"))
        .filter(col("rnk") <= 5)
  }

  /** embeddings.parquet vector dimensionality (fixed; asserted in
    * VectorFunctionsSpec against the data). */
  private val EmbDim = 64

  /** One spherical k-means iteration → (vec_id, u, cluster, score).
    * Deterministic seed centroids (first k ids), argmax-cosine
    * assignment as a k-row window, centroid update summed through
    * DECIMAL(20,15) for partition-order exactness. Shared by
    * emb_kmeans_iter and emb_ivf_kmeans_topk. */
  /** The updated (post-one-iteration) centroid table (cid, cu) the
    * assignment in `kmeansAssign` ranks against — exposed separately so
    * multi-cell probing (emb_ivf_nprobe) can rank CELLS per query the
    * way a real IVF index does. */
  private def kmeansCentroids(s: SparkSession, d: String,
      k: Int = 4): DataFrame = {
    val e = unitVecs(s, d).select("vec_id", "u")
    val c0 = e.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("u").as("cu"))
    val a0 = nearestCentroid(e, c0)
      .select(col("vec_id"), col("b.u").as("u"), col("b.cid").as("cl"))
    exactVectorSum(a0, "u", "cl")
      .withColumn("nrm", sqrt(vecDot(col("raw"), col("raw"))))
      .select(col("cl").as("cid"),
        transform(col("raw"), x => x / col("nrm")).as("cu"))
  }

  /** Each unit vector (vec_id, u) against every centroid (cid, cu):
    * per vec_id, `b` = max(struct(sc, -cid, cid, u)) — the largest
    * rounded cosine sc, ties to the smallest cid; later struct fields
    * never participate (cid is unique per vec_id). A max(struct)
    * AGGREGATE, not a row_number window (r22, guide §2.3: aggregate
    * before you shuffle): the window shape exchanged and sorted all N·k
    * scored rows WITH the 64-double vector riding along (at sf0.1's
    * k=√n branch: 682k rows ≈ 350 MB through one exchange, 19.8 CPU-s
    * in the profile); the aggregate partially reduces to one row per
    * vec_id map-side (the broadcast crossJoin keeps a vector's every
    * centroid score in one partition), so the exchange carries N rows,
    * not N·k. */
  private def nearestCentroid(e: DataFrame, c: DataFrame): DataFrame =
    e.crossJoin(broadcast(c))
      .select(col("vec_id"), col("u"), col("cid"),
        round(vecDot(col("u"), col("cu")), 6).as("sc"))
      .groupBy("vec_id")
      .agg(max(struct(col("sc"), (-col("cid")).as("nc"),
        col("cid"), col("u"))).as("b"))

  /** The STORED trained IVF index — centroids and cell assignments as
    * SharedStage cores (the bandIndex/pairTable discipline applied to
    * the ANN side): in deployment a trained index is THE canonical
    * stored artifact — it is trained once and served, never retrained
    * per query — while until r17 every IVF/kmeans consumer re-ran
    * the k-means iteration privately. One build per session
    * (centroids feed the cell build, chained cores); Bench attributes
    * the cold training via core_builds/core_build_cost_s, Verify's
    * sweep keeps correctness runs independent, and the per-query warm
    * plan is the actual serving path: probe ranking + in-cell scan. */
  /** The served index configuration. The core keys embed BOTH
    * parameters the trained frames depend on (k and the iteration
    * count), so a key can never silently serve a frame trained under
    * different parameters — the set-similarity key discipline (r17
    * VERDICT item 7). A non-served k (the emb_kmeans_k sweep's ad-hoc
    * values) deliberately BYPASSES the cores: sweeps probing candidate
    * configurations must not populate session state, only the one
    * served configuration is stored. */
  private val ServedK = 4
  private val ServedIters = 1

  private def storedCentroids(s: SparkSession, d: String): DataFrame =
    graft.operators.SharedStage(s,
      s"ivfCentroids:$d:k=$ServedK:iters=$ServedIters") {
      kmeansCentroids(s, d, ServedK)
    }

  private def storedCells(s: SparkSession, d: String): DataFrame =
    graft.operators.SharedStage(s,
      s"ivfCells:$d:k=$ServedK:iters=$ServedIters") {
      kmeansAssign(s, d, ServedK)
    }

  private def kmeansAssign(s: SparkSession, d: String,
      k: Int = 4): DataFrame = {
    val e = unitVecs(s, d).select("vec_id", "u")
    val c1 =
      if (k == ServedK) storedCentroids(s, d)
      else kmeansCentroids(s, d, k)
    nearestCentroid(e, c1)
      .select(col("vec_id"), col("b.u").as("u"),
        col("b.cid").as("cluster"), col("b.sc").as("score"))
  }

  /** Shared oracle CTE matching unitVecs. */
  private val UnitCte =
    """e AS (SELECT vec_id, label,
      |  [x / sqrt(list_dot_product(v, v)) for x in v] AS u
      |  FROM (SELECT vec_id, label, embedding::DOUBLE[] AS v
      |        FROM embeddings)
      |  WHERE sqrt(list_dot_product(v, v)) > 0)""".stripMargin

  /** Shared oracle CTE chain matching dimStats, ending in `st` =
    * (dim, n, mean, variance, inv_std). */
  private val DimStatsCte =
    """dx AS (SELECT CAST(generate_subscripts(embedding, 1) AS BIGINT)
      |    AS dim, CAST(unnest(embedding) AS DOUBLE) AS v
      |  FROM embeddings),
      |dq AS (SELECT dim, CAST(trunc(v * 1000000.0 + CASE WHEN v >= 0
      |    THEN CAST(0.5 AS DOUBLE) ELSE CAST(-0.5 AS DOUBLE) END)
      |    AS BIGINT) AS vm FROM dx),
      |dg AS (SELECT dim, CAST(count(*) AS BIGINT) AS n,
      |  sum(CAST(vm AS DECIMAL(38, 0))) AS sm,
      |  sum(CAST(vm AS DECIMAL(19, 0)) * CAST(vm AS DECIMAL(19, 0)))
      |    AS sq
      |  FROM dq GROUP BY dim),
      |st AS (SELECT dim, n,
      |  round(CAST(sm AS DOUBLE) / 1000000.0 / n, 6) AS mean,
      |  round(CAST(sq AS DOUBLE) / 1.0e12 / n
      |    - (CAST(sm AS DOUBLE) / 1000000.0 / n)
      |    * (CAST(sm AS DOUBLE) / 1000000.0 / n), 6) AS variance,
      |  round(1.0 / sqrt(CAST(sq AS DOUBLE) / 1.0e12 / n
      |    - (CAST(sm AS DOUBLE) / 1000000.0 / n)
      |    * (CAST(sm AS DOUBLE) / 1000000.0 / n)
      |    + 1.0e-9), 6) AS inv_std
      |  FROM dg)""".stripMargin

  /** Shared oracle CTE chain: one spherical k-means iteration ending in
    * `a2` = (vec_id, u, cluster, score) — the assignment table both
    * emb_kmeans_iter and emb_ivf_kmeans_topk read. */
  private val KmeansCte =
    s"""$UnitCte,
       |c0 AS (SELECT vec_id AS cid, u AS cu FROM e WHERE vec_id < 4),
       |a0 AS (SELECT e.vec_id, e.u,
       |  (SELECT s.cid FROM (SELECT c0.cid,
       |      round(list_dot_product(e.u, c0.cu), 6) AS sc FROM c0) s
       |   ORDER BY s.sc DESC, s.cid LIMIT 1) AS cl FROM e),
       |sums AS (SELECT cl, idx,
       |  CAST(sum(CAST(val AS DECIMAL(20,15))) AS DOUBLE) AS sv
       |  FROM (SELECT cl, unnest(u) AS val,
       |        generate_subscripts(u, 1) AS idx FROM a0)
       |  GROUP BY cl, idx),
       |craw AS (SELECT cl AS cid, list(sv ORDER BY idx) AS raw
       |  FROM sums GROUP BY cl),
       |c1 AS (SELECT cid,
       |  [x / sqrt(list_dot_product(raw, raw)) for x in raw] AS cu
       |  FROM craw),
       |a2 AS (SELECT e.vec_id, e.u,
       |  (SELECT s.cid FROM (SELECT c1.cid,
       |      round(list_dot_product(e.u, c1.cu), 6) AS sc FROM c1) s
       |   ORDER BY s.sc DESC, s.cid LIMIT 1) AS cluster,
       |  (SELECT s.sc FROM (SELECT c1.cid,
       |      round(list_dot_product(e.u, c1.cu), 6) AS sc FROM c1) s
       |   ORDER BY s.sc DESC, s.cid LIMIT 1) AS score
       |  FROM e)""".stripMargin

  val oracle: Map[String, String] = Map(
    "emb_cosine_topk" ->
      s"""WITH $UnitCte,
         |q AS (SELECT vec_id AS q_id, u AS q_u FROM e WHERE vec_id < 5),
         |sc AS (SELECT q.q_id, e.vec_id AS cand_id,
         |    round(list_dot_product(e.u, q.q_u), 6) AS score
         |  FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY score DESC, cand_id) AS rnk FROM sc)
         |SELECT q_id, cand_id, score, rnk FROM r WHERE rnk <= 10""".stripMargin,
    "rag_hybrid_rrf" ->
      s"""WITH ${TextOps.TokedCte},
         |tok AS (SELECT doc_id, unnest(toks) AS term FROM toked),
         |dl AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id),
         |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len) AS BIGINT) AS tot_len FROM dl),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
         |  WHERE term IN (${TextOps.Bm25Terms.map("'" + _ + "'").mkString(", ")})
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
         |g AS (SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS s
         |  FROM sc GROUP BY doc_id),
         |lex AS (SELECT doc_id, lex_rnk FROM (SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS BIGINT)
         |      AS lex_rnk FROM g) WHERE lex_rnk <= 50),
         |$UnitCte,
         |q AS (SELECT vec_id AS q_id, u AS q_u FROM e WHERE vec_id = 0),
         |sc2 AS (SELECT q.q_id, e.vec_id AS cand_id,
         |    round(list_dot_product(e.u, q.q_u), 6) AS score
         |  FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id),
         |sem AS (SELECT cand_id AS doc_id, rnk AS sem_rnk FROM
         |  (SELECT cand_id, CAST(row_number() OVER (PARTITION BY q_id
         |    ORDER BY score DESC, cand_id) AS BIGINT) AS rnk FROM sc2)
         |  WHERE rnk <= 50),
         |f AS (SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
         |    lex_rnk, sem_rnk
         |  FROM lex FULL JOIN sem ON lex.doc_id = sem.doc_id)
         |SELECT doc_id, lex_rnk, sem_rnk,
         |  CAST(floor(coalesce(1000000.0 / (60.0 + CAST(lex_rnk AS DOUBLE)),
         |      0.0)
         |    + coalesce(1000000.0 / (60.0 + CAST(sem_rnk AS DOUBLE)), 0.0)
         |    + 0.5) AS BIGINT) AS rrf_micro
         |FROM f ORDER BY rrf_micro DESC, doc_id LIMIT 20""".stripMargin,
    "emb_bitext_mine" ->
      s"""WITH $UnitCte,
         |dlang AS (SELECT doc_id, lang FROM documents),
         |e2 AS (SELECT e.vec_id, e.u, dlang.lang
         |  FROM e JOIN dlang ON e.vec_id = dlang.doc_id),
         |en AS (SELECT * FROM e2 WHERE lang = 'en'),
         |non AS (SELECT * FROM e2 WHERE lang <> 'en'),
         |sc AS (SELECT non.vec_id AS q_id, en.vec_id AS cand_id,
         |    round(list_dot_product(en.u, non.u), 6) AS score
         |  FROM non CROSS JOIN en WHERE en.vec_id <> non.vec_id),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id
         |    ORDER BY score DESC, cand_id) AS BIGINT) AS rnk FROM sc),
         |k4 AS (SELECT q_id, cand_id, rnk,
         |  CAST(floor(score * 1000000.0 + 0.5) AS BIGINT) AS micro
         |  FROM r WHERE rnk <= 4),
         |m AS (SELECT q_id, arg_min(cand_id, rnk) AS best_en,
         |  arg_min(micro, rnk) AS top1_micro,
         |  CAST(sum(micro) AS BIGINT) AS sum_micro,
         |  CAST(count(*) AS BIGINT) AS k FROM k4 GROUP BY q_id)
         |SELECT m.q_id, non.lang, m.best_en,
         |  round(CAST(top1_micro AS DOUBLE) / 1000000.0, 6) AS top1_cos,
         |  round(CAST(k AS DOUBLE) * CAST(top1_micro AS DOUBLE)
         |    / CAST(sum_micro AS DOUBLE), 6) AS margin,
         |  round(CAST(k AS DOUBLE) * CAST(top1_micro AS DOUBLE)
         |    / CAST(sum_micro AS DOUBLE), 6) >= 1.05 AS keep
         |FROM m JOIN non ON m.q_id = non.vec_id""".stripMargin,
    "emb_dim_stats" ->
      s"""WITH $DimStatsCte
         |SELECT dim, n, mean, variance, inv_std FROM st""".stripMargin,
    "emb_whiten_apply" ->
      s"""WITH $DimStatsCte,
         |sample AS (SELECT vec_id,
         |  CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
         |  CAST(unnest(embedding) AS DOUBLE) AS v
         |  FROM embeddings WHERE vec_id < 10),
         |z AS (SELECT vec_id, sample.dim,
         |  (v - mean) * inv_std AS z
         |  FROM sample JOIN st ON sample.dim = st.dim),
         |zm AS (SELECT vec_id, dim, CAST(trunc(z * 1000000.0
         |  + CASE WHEN z >= 0 THEN CAST(0.5 AS DOUBLE)
         |    ELSE CAST(-0.5 AS DOUBLE) END) AS BIGINT) AS zm FROM z)
         |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_dims,
         |  md5(string_agg(CAST(zm AS VARCHAR), ',' ORDER BY dim)) AS z_md5
         |FROM zm GROUP BY vec_id""".stripMargin,
    "samp_negative_mining" ->
      s"""WITH $UnitCte,
         |q AS (SELECT vec_id AS q_id, label AS q_label, u AS q_u
         |  FROM e WHERE vec_id < 20),
         |sc AS (SELECT q.q_id, q.q_label, e.vec_id AS cand_id,
         |    e.label AS cand_label,
         |    round(list_dot_product(e.u, q.q_u), 6) AS score
         |  FROM e CROSS JOIN q WHERE e.label <> q.q_label),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id
         |    ORDER BY score DESC, cand_id) AS BIGINT) AS rnk FROM sc)
         |SELECT q_id, q_label, cand_id, cand_label, score, rnk
         |FROM r WHERE rnk <= 3""".stripMargin,
    "samp_triplet_mining" ->
      s"""WITH $UnitCte,
         |q AS (SELECT vec_id AS q_id, label AS q_label, u AS q_u
         |  FROM e WHERE vec_id < 20),
         |sc AS (SELECT q.q_id, q.q_label, e.vec_id AS cand_id,
         |    e.label AS cand_label,
         |    round(list_dot_product(e.u, q.q_u), 6) AS score
         |  FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id),
         |pos AS (SELECT q_id, q_label, cand_id AS pos_id,
         |    score AS pos_score FROM (SELECT *, row_number() OVER (
         |    PARTITION BY q_id ORDER BY score DESC, cand_id) AS rnk
         |    FROM sc WHERE cand_label = q_label) WHERE rnk = 1),
         |neg AS (SELECT q_id, cand_id AS neg_id, score AS neg_score
         |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY score DESC, cand_id) AS rnk
         |    FROM sc WHERE cand_label <> q_label) WHERE rnk = 1)
         |SELECT q_id, q_label, pos_id, pos_score, neg_id, neg_score,
         |  round(pos_score - neg_score, 6) AS margin
         |FROM pos JOIN neg USING (q_id)""".stripMargin,
    "emb_power_iter" ->
      s"""WITH $DimStatsCte,
         |ma AS (SELECT list(mean ORDER BY dim) AS means FROM st),
         |xp AS (SELECT vec_id, list_transform(generate_series(1, 64),
         |    i -> CAST(embedding[i] AS DOUBLE) - means[i]) AS xp
         |  FROM embeddings, ma),
         |sxt AS (SELECT vec_id, xp, round(list_dot_product(xp,
         |    list_transform(generate_series(1, 64), i -> 0.125)), 6)
         |    AS sx FROM xp),
         |t AS (SELECT sx, CAST(generate_subscripts(xp, 1) AS BIGINT)
         |    AS dim, unnest(xp) AS xpd FROM sxt),
         |tm AS (SELECT dim, CAST(trunc((sx * xpd) * 1000000.0
         |  + CASE WHEN sx * xpd >= 0 THEN CAST(0.5 AS DOUBLE)
         |    ELSE CAST(-0.5 AS DOUBLE) END) AS BIGINT) AS tm FROM t),
         |v1 AS (SELECT dim, sum(CAST(tm AS DECIMAL(38, 0))) AS v1m
         |  FROM tm GROUP BY dim),
         |va AS (SELECT list(CAST(v1m AS DOUBLE) / 1000000.0
         |  ORDER BY dim) AS vs FROM v1),
         |nr AS (SELECT sqrt(list_dot_product(vs, vs)) AS nrm FROM va)
         |SELECT dim, round(CAST(v1m AS DOUBLE) / 1000000.0, 6) AS v1,
         |  round((CAST(v1m AS DOUBLE) / 1000000.0) / nrm, 6) AS v1_unit
         |FROM v1, nr""".stripMargin,
    "emb_ivf_balance" ->
      """WITH c AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vecs
        |  FROM embeddings GROUP BY label),
        |t AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS total,
        |  CAST(count(*) AS BIGINT) AS n_cells FROM c)
        |SELECT label, n_vecs,
        |  round(CAST(n_vecs AS DOUBLE) / total, 6) AS share,
        |  round(CAST(n_vecs AS DOUBLE) * n_cells / total, 6) AS balance
        |FROM c, t""".stripMargin,
    "emb_ivf_topk" ->
      s"""WITH $UnitCte,
         |q AS (SELECT vec_id AS q_id, label AS q_label, u AS q_u
         |  FROM e WHERE vec_id < 5),
         |sc AS (SELECT q.q_id, e.vec_id AS cand_id,
         |    round(list_dot_product(e.u, q.q_u), 6) AS score
         |  FROM e JOIN q ON e.label = q.q_label AND e.vec_id <> q.q_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY score DESC, cand_id) AS rnk FROM sc)
         |SELECT q_id, cand_id, score, rnk FROM r WHERE rnk <= 5""".stripMargin,
    "emb_ivf_k_recall" ->
      s"""WITH $UnitCte,
         |ks AS (SELECT DISTINCT kv FROM (
         |  SELECT CAST(4 AS BIGINT) AS kv
         |  UNION ALL
         |  SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM embeddings)),
         |c0 AS (SELECT ks.kv, e.vec_id AS cid, e.u AS cu
         |  FROM e JOIN ks ON e.vec_id < ks.kv),
         |a0 AS (SELECT ks.kv, e.vec_id, e.u,
         |    (SELECT s.cid FROM (SELECT c0.cid,
         |        round(list_dot_product(e.u, c0.cu), 6) AS sc
         |        FROM c0 WHERE c0.kv = ks.kv) s
         |     ORDER BY s.sc DESC, s.cid LIMIT 1) AS cl
         |  FROM e CROSS JOIN ks),
         |sums AS (SELECT kv, cl, idx,
         |    CAST(sum(CAST(val AS DECIMAL(20,15))) AS DOUBLE) AS sv
         |  FROM (SELECT kv, cl, unnest(u) AS val,
         |        generate_subscripts(u, 1) AS idx FROM a0)
         |  GROUP BY kv, cl, idx),
         |craw AS (SELECT kv, cl AS cid, list(sv ORDER BY idx) AS raw
         |  FROM sums GROUP BY kv, cl),
         |c1 AS (SELECT kv, cid,
         |  [x / sqrt(list_dot_product(raw, raw)) for x in raw] AS cu
         |  FROM craw),
         |a2 AS (SELECT ks.kv, e.vec_id, e.u,
         |    (SELECT s.cid FROM (SELECT c1.cid,
         |        round(list_dot_product(e.u, c1.cu), 6) AS sc
         |        FROM c1 WHERE c1.kv = ks.kv) s
         |     ORDER BY s.sc DESC, s.cid LIMIT 1) AS cluster
         |  FROM e CROSS JOIN ks),
         |q AS (SELECT kv, vec_id AS q_id, cluster AS q_cl, u AS q_u
         |  FROM a2 WHERE vec_id < 5),
         |cand AS (SELECT a2.kv, q.q_id, a2.vec_id AS cand_id,
         |    round(list_dot_product(a2.u, q.q_u), 6) AS score
         |  FROM a2 JOIN q ON a2.kv = q.kv AND a2.cluster = q.q_cl
         |    AND a2.vec_id <> q.q_id),
         |topk AS (SELECT kv, q_id, cand_id FROM (
         |    SELECT kv, q_id, cand_id, row_number() OVER (
         |      PARTITION BY kv, q_id ORDER BY score DESC, cand_id) AS rnk
         |    FROM cand) WHERE rnk <= 5),
         |bf AS (SELECT kv, q_id, cand_id FROM (
         |    SELECT q.kv, q.q_id, e.vec_id AS cand_id, row_number() OVER (
         |      PARTITION BY q.kv, q.q_id
         |      ORDER BY round(list_dot_product(e.u, q.q_u), 6) DESC,
         |        e.vec_id) AS rnk
         |    FROM q JOIN e ON e.vec_id <> q.q_id) WHERE rnk <= 5),
         |rec AS (SELECT t.kv, t.q_id, CAST(count(*) AS BIGINT) AS n_overlap
         |  FROM topk t JOIN bf b ON t.kv = b.kv AND t.q_id = b.q_id
         |    AND t.cand_id = b.cand_id
         |  GROUP BY t.kv, t.q_id),
         |nc AS (SELECT kv, q_id, CAST(count(*) AS BIGINT) AS n_cands
         |  FROM cand GROUP BY kv, q_id)
         |SELECT q.kv AS k_cells, CAST(count(*) AS BIGINT) AS n_queries,
         |  round(CAST(sum(coalesce(n_overlap, 0)) AS DOUBLE)
         |    / (count(*) * 5.0), 6) AS avg_recall,
         |  round(CAST(sum(coalesce(n_cands, 0)) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE), 6) AS avg_cands
         |FROM q LEFT JOIN rec ON q.kv = rec.kv AND q.q_id = rec.q_id
         |  LEFT JOIN nc ON q.kv = nc.kv AND q.q_id = nc.q_id
         |GROUP BY q.kv""".stripMargin,
    "dedup_embedding" ->
      s"""WITH $UnitCte
         |SELECT a.vec_id AS left_id, b.vec_id AS right_id,
         |  round(list_dot_product(a.u, b.u), 6) AS score
         |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE round(list_dot_product(a.u, b.u), 6) >= 0.3""".stripMargin,
    "emb_normalize" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS vec
        |  FROM embeddings),
        |n AS (SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS nrm
        |  FROM e),
        |u AS (SELECT vec_id, round(nrm, 6) AS norm,
        |  CASE WHEN nrm = 0 THEN vec
        |    ELSE [round(x / nrm, 6) for x in vec] END AS uvec
        |FROM n)
        |SELECT vec_id, norm,
        |  array_to_string(
        |    [CAST(CAST(y AS DECIMAL(12,6)) AS VARCHAR) for y in uvec],
        |    ',') AS unit_vec
        |FROM u""".stripMargin,
    "emb_lsh_bucket" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS vec
        |  FROM embeddings),
        |b AS (SELECT vec_id,
        |  [CASE WHEN list_sum([CASE WHEN substr(md5(p || ':' || (i-1)), 1, 1)
        |        IN ('0','2','4','6','8','a','c','e')
        |        THEN vec[i] ELSE -vec[i] END
        |      for i in range(1, len(vec) + 1)]) >= 0
        |    THEN '1' ELSE '0' END
        |   for p in range(0, 8)] AS bits
        |  FROM e)
        |SELECT vec_id, array_to_string(bits, '') AS bucket FROM b""".stripMargin,
    "emb_kmeans_iter" ->
      s"""WITH $KmeansCte
         |SELECT vec_id, cluster, score FROM a2""".stripMargin,
    "idx_ivf_upsert" ->
      s"""WITH $KmeansCte,
         |b AS (SELECT vec_id, cluster, score FROM a2
         |  WHERE vec_id % 5 <> 0),
         |o AS (SELECT vec_id,
         |    CASE WHEN vec_id % 5 <> 0 THEN cluster + 100
         |      ELSE cluster END AS cluster,
         |    CASE WHEN vec_id % 5 <> 0 THEN CAST(-1.0 AS DOUBLE)
         |      ELSE score END AS score
         |  FROM a2 WHERE vec_id % 5 = 0 OR vec_id % 7 = 0),
         |f AS (SELECT * FROM o
         |  WHERE vec_id NOT IN (SELECT vec_id FROM b))
         |SELECT vec_id, cluster, score, 'base' AS generation,
         |  FALSE AS drifted FROM b
         |UNION ALL
         |SELECT vec_id, cluster, score, 'ingest' AS generation,
         |  score < 0.5 AS drifted FROM f""".stripMargin,
    "emb_ivf_kmeans_topk" ->
      s"""WITH $KmeansCte,
         |q AS (SELECT vec_id AS q_id, cluster AS q_cluster, u AS q_u
         |  FROM a2 WHERE vec_id < 5),
         |sc AS (SELECT q.q_id, a.vec_id AS cand_id,
         |    round(list_dot_product(a.u, q.q_u), 6) AS score
         |  FROM a2 a JOIN q
         |    ON a.cluster = q.q_cluster AND a.vec_id <> q.q_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY score DESC, cand_id) AS rnk FROM sc)
         |SELECT q_id, cand_id, score, rnk FROM r WHERE rnk <= 5"""
        .stripMargin,
    "emb_quantize_int8" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |  FROM embeddings),
        |m AS (SELECT vec_id, v,
        |  CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
        |    THEN CAST(127 AS DOUBLE)
        |      / list_max(list_transform(v, x -> abs(x)))
        |    ELSE CAST(1 AS DOUBLE) END AS scale
        |  FROM e)
        |SELECT vec_id, round(scale, 6) AS scale,
        |  array_to_string([CAST(trunc(x * scale + CASE WHEN x >= 0
        |      THEN CAST(0.5 AS DOUBLE) ELSE CAST(-0.5 AS DOUBLE) END)
        |      AS BIGINT) for x in v], ',') AS codes,
        |  round(sqrt(list_sum([
        |    (x - CAST(trunc(x * scale + CASE WHEN x >= 0
        |        THEN CAST(0.5 AS DOUBLE) ELSE CAST(-0.5 AS DOUBLE) END)
        |        AS BIGINT) / scale)
        |    * (x - CAST(trunc(x * scale + CASE WHEN x >= 0
        |        THEN CAST(0.5 AS DOUBLE) ELSE CAST(-0.5 AS DOUBLE) END)
        |        AS BIGINT) / scale)
        |    for x in v])), 6) AS l2_err
        |FROM m""".stripMargin,
    "emb_cluster_purity" ->
      s"""WITH $KmeansCte,
         |c AS (SELECT a2.cluster, e.label, count(*) AS n
         |  FROM a2 JOIN e ON a2.vec_id = e.vec_id
         |  GROUP BY a2.cluster, e.label),
         |t AS (SELECT *, CAST(sum(n) OVER (PARTITION BY cluster)
         |    AS BIGINT) AS cell_n,
         |  row_number() OVER (PARTITION BY cluster
         |    ORDER BY n DESC, label) AS rn FROM c)
         |SELECT cluster, label AS majority_label, cell_n,
         |  round(CAST(n AS DOUBLE) / CAST(cell_n AS DOUBLE), 6) AS purity
         |FROM t WHERE rn = 1""".stripMargin,
    "emb_knn_label" ->
      s"""WITH $UnitCte,
         |q AS (SELECT vec_id AS q_id, label AS q_label, u AS q_u
         |  FROM e WHERE vec_id < 50),
         |sc AS (SELECT q.q_id, q.q_label, e.vec_id AS cand_id,
         |    e.label AS c_label,
         |    round(list_dot_product(e.u, q.q_u), 6) AS score
         |  FROM e, q WHERE e.vec_id <> q.q_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |  ORDER BY score DESC, cand_id) AS rnk FROM sc),
         |v AS (SELECT q_id, q_label, c_label, count(*) AS votes
         |  FROM r WHERE rnk <= 10 GROUP BY q_id, q_label, c_label),
         |p AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |  ORDER BY votes DESC, c_label) AS rn FROM v)
         |SELECT q_id, q_label, c_label AS pred_label, votes,
         |  c_label = q_label AS correct
         |FROM p WHERE rn = 1""".stripMargin,
    "dedup_semantic" ->
      s"""WITH $KmeansCte,
         |dropped AS (SELECT DISTINCT b.vec_id
         |  FROM a2 a JOIN a2 b ON a.cluster = b.cluster
         |    AND a.vec_id < b.vec_id
         |  WHERE round(list_dot_product(a.u, b.u), 6) >= 0.3)
         |SELECT a2.vec_id, a2.cluster,
         |  a2.vec_id NOT IN (SELECT vec_id FROM dropped) AS keep
         |FROM a2""".stripMargin,
    "emb_mrl_recall" ->
      s"""WITH $UnitCte,
         |t AS (SELECT vec_id,
         |    [x / sqrt(list_dot_product(t16, t16)) for x in t16] AS ut
         |  FROM (SELECT vec_id, u[1:16] AS t16 FROM e)
         |  WHERE sqrt(list_dot_product(t16, t16)) > 0),
         |qf AS (SELECT vec_id AS q_id, u AS q_v FROM e WHERE vec_id < 5),
         |ff AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY score DESC, cand_id) AS rnk
         |  FROM (SELECT q.q_id, e.vec_id AS cand_id,
         |      round(list_dot_product(e.u, q.q_v), 6) AS score
         |    FROM e CROSS JOIN qf q WHERE e.vec_id <> q.q_id)),
         |qt AS (SELECT vec_id AS q_id, ut AS q_v FROM t WHERE vec_id < 5),
         |tt AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY score DESC, cand_id) AS rnk
         |  FROM (SELECT q.q_id, t.vec_id AS cand_id,
         |      round(list_dot_product(t.ut, q.q_v), 6) AS score
         |    FROM t CROSS JOIN qt q WHERE t.vec_id <> q.q_id))
         |SELECT f.q_id, count(*) AS n_overlap,
         |  round(CAST(count(*) AS DOUBLE) / 10, 6) AS recall_at_10
         |FROM (SELECT q_id, cand_id FROM ff WHERE rnk <= 10) f
         |JOIN (SELECT q_id, cand_id FROM tt WHERE rnk <= 10) x
         |  ON f.q_id = x.q_id AND f.cand_id = x.cand_id
         |GROUP BY f.q_id""".stripMargin,
    "emb_ivf_nprobe" ->
      s"""WITH $KmeansCte,
         |q AS (SELECT vec_id AS q_id, u AS q_u FROM a2 WHERE vec_id < 5),
         |pc AS (SELECT q_id, q_u, cid FROM (
         |  SELECT q.q_id, q.q_u, c.cid,
         |    row_number() OVER (PARTITION BY q.q_id
         |      ORDER BY round(list_dot_product(q.q_u, c.cu), 6) DESC,
         |        c.cid) AS crn
         |  FROM q CROSS JOIN c1 c) WHERE crn <= 2),
         |sc AS (SELECT p.q_id, a.vec_id AS cand_id,
         |    round(list_dot_product(a.u, p.q_u), 6) AS score
         |  FROM a2 a JOIN pc p
         |    ON a.cluster = p.cid AND a.vec_id <> p.q_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY score DESC, cand_id) AS rnk FROM sc)
         |SELECT q_id, cand_id, score, rnk FROM r WHERE rnk <= 5"""
        .stripMargin,
    "emb_nprobe_sweep" ->
      s"""WITH $KmeansCte,
         |q AS (SELECT vec_id AS q_id, u AS q_u FROM a2 WHERE vec_id < 5),
         |rankedc AS (SELECT q.q_id, q.q_u, c.cid, row_number() OVER (
         |    PARTITION BY q.q_id
         |    ORDER BY round(list_dot_product(q.q_u, c.cu), 6) DESC,
         |      c.cid) AS crn
         |  FROM q CROSS JOIN c1 c),
         |ks AS (SELECT unnest([1, 2, 4]) AS np),
         |probes AS (SELECT ks.np, r.q_id, r.q_u, r.cid
         |  FROM rankedc r JOIN ks ON r.crn <= ks.np),
         |cand AS (SELECT np, q_id, cand_id FROM (
         |  SELECT p.np, p.q_id, a.vec_id AS cand_id,
         |    row_number() OVER (PARTITION BY p.np, p.q_id
         |      ORDER BY round(list_dot_product(a.u, p.q_u), 6) DESC,
         |        a.vec_id) AS rnk
         |  FROM a2 a JOIN probes p ON a.cluster = p.cid
         |    AND a.vec_id <> p.q_id) WHERE rnk <= 10),
         |bf AS (SELECT q_id, cand_id FROM (
         |  SELECT q.q_id, a.vec_id AS cand_id, row_number() OVER (
         |      PARTITION BY q.q_id
         |      ORDER BY round(list_dot_product(a.u, q.q_u), 6) DESC,
         |        a.vec_id) AS bfr
         |  FROM a2 a CROSS JOIN q WHERE a.vec_id <> q.q_id)
         |  WHERE bfr <= 10),
         |hit AS (SELECT c.np, c.q_id, count(*) AS h
         |  FROM cand c JOIN bf ON c.q_id = bf.q_id
         |    AND c.cand_id = bf.cand_id
         |  GROUP BY c.np, c.q_id),
         |grid AS (SELECT ks.np, q.q_id FROM ks CROSS JOIN q)
         |SELECT CAST(g.np AS BIGINT) AS np,
         |  CAST(count(*) AS BIGINT) AS n_queries,
         |  round(CAST(sum(coalesce(h, 0)) AS DOUBLE)
         |    / (count(*) * 10.0), 6) AS avg_recall
         |FROM grid g LEFT JOIN hit ON g.np = hit.np
         |  AND g.q_id = hit.q_id
         |GROUP BY g.np""".stripMargin,
    "emb_ivf_cascade" ->
      s"""WITH $KmeansCte,
         |t AS (SELECT vec_id, cluster,
         |    [x / sqrt(list_dot_product(t16, t16)) for x in t16] AS ut
         |  FROM (SELECT vec_id, cluster, u[1:16] AS t16 FROM a2)
         |  WHERE sqrt(list_dot_product(t16, t16)) > 0),
         |q AS (SELECT vec_id AS q_id, u AS q_u FROM a2 WHERE vec_id < 5),
         |pc AS (SELECT q_id, cid FROM (
         |  SELECT q.q_id, c.cid,
         |    row_number() OVER (PARTITION BY q.q_id
         |      ORDER BY round(list_dot_product(q.q_u, c.cu), 6) DESC,
         |        c.cid) AS crn
         |  FROM q CROSS JOIN c1 c) WHERE crn <= 2),
         |qt AS (SELECT vec_id AS q_id, ut AS q_t FROM t WHERE vec_id < 5),
         |coarse AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY c_score DESC, cand_id) AS c_rnk
         |  FROM (SELECT p.q_id, t.vec_id AS cand_id,
         |      round(list_dot_product(t.ut, qt.q_t), 6) AS c_score
         |    FROM t JOIN pc p ON t.cluster = p.cid
         |    JOIN qt ON qt.q_id = p.q_id
         |    WHERE t.vec_id <> p.q_id)),
         |fine AS (SELECT c.q_id, c.cand_id,
         |    CAST(c.c_rnk AS BIGINT) AS c_rnk,
         |    round(list_dot_product(a.u, q.q_u), 6) AS score
         |  FROM (SELECT q_id, cand_id, c_rnk FROM coarse WHERE c_rnk <= 50)
         |    c
         |  JOIN a2 a ON a.vec_id = c.cand_id
         |  JOIN q ON q.q_id = c.q_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY score DESC, cand_id) AS rnk FROM fine),
         |res AS (SELECT q_id, cand_id, score, CAST(rnk AS BIGINT) AS rnk,
         |    c_rnk
         |  FROM r WHERE rnk <= 5),
         |bf AS (SELECT q_id, cand_id FROM (
         |  SELECT q.q_id, a.vec_id AS cand_id,
         |    row_number() OVER (PARTITION BY q.q_id
         |      ORDER BY round(list_dot_product(a.u, q.q_u), 6) DESC,
         |        a.vec_id) AS bfr
         |  FROM a2 a CROSS JOIN q WHERE a.vec_id <> q.q_id)
         |  WHERE bfr <= 5),
         |rec AS (SELECT res.q_id, CAST(count(*) AS BIGINT) AS n_overlap
         |  FROM res JOIN bf ON res.q_id = bf.q_id
         |    AND res.cand_id = bf.cand_id
         |  GROUP BY res.q_id)
         |SELECT res.q_id, res.cand_id, res.score, res.rnk, res.c_rnk,
         |  round(CAST(coalesce(rec.n_overlap, 0) AS DOUBLE) / 5, 6)
         |    AS recall_at_5
         |FROM res LEFT JOIN rec ON res.q_id = rec.q_id""".stripMargin,
    "emb_decontaminate" ->
      s"""WITH $UnitCte,
         |b AS (SELECT vec_id AS b_id, u AS b_u FROM e
         |  WHERE vec_id % 20 = 0),
         |sc AS (SELECT e.vec_id,
         |    round(list_dot_product(e.u, b.b_u), 6) AS cos
         |  FROM e CROSS JOIN b WHERE e.vec_id % 20 <> 0)
         |SELECT vec_id, max(cos) AS max_cos,
         |  CAST(count(*) AS BIGINT) AS n_bench_hits
         |FROM sc WHERE cos >= 0.35 GROUP BY vec_id""".stripMargin,
    "emb_cascade_rerank" ->
      s"""WITH $UnitCte,
         |t AS (SELECT vec_id,
         |    [x / sqrt(list_dot_product(t16, t16)) for x in t16] AS ut
         |  FROM (SELECT vec_id, u[1:16] AS t16 FROM e)
         |  WHERE sqrt(list_dot_product(t16, t16)) > 0),
         |qt AS (SELECT vec_id AS q_id, ut AS q_t FROM t WHERE vec_id < 5),
         |coarse AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY c_score DESC, cand_id) AS c_rnk
         |  FROM (SELECT q.q_id, t.vec_id AS cand_id,
         |      round(list_dot_product(t.ut, q.q_t), 6) AS c_score
         |    FROM t CROSS JOIN qt q WHERE t.vec_id <> q.q_id)),
         |qf AS (SELECT vec_id AS q_id, u AS q_u FROM e WHERE vec_id < 5),
         |fine AS (SELECT c.q_id, c.cand_id,
         |    CAST(c.c_rnk AS BIGINT) AS c_rnk,
         |    round(list_dot_product(e2.u, q.q_u), 6) AS score
         |  FROM (SELECT q_id, cand_id, c_rnk FROM coarse WHERE c_rnk <= 50)
         |    c
         |  JOIN e e2 ON e2.vec_id = c.cand_id
         |  JOIN qf q ON q.q_id = c.q_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY score DESC, cand_id) AS rnk FROM fine)
         |SELECT q_id, cand_id, score, CAST(rnk AS BIGINT) AS rnk, c_rnk
         |FROM r WHERE rnk <= 5""".stripMargin,
    "emb_pq" ->
      s"""WITH $UnitCte,
         |subs AS (SELECT vec_id, j AS sub, u[j*8+1 : j*8+8] AS x
         |  FROM e, (SELECT unnest(range(0, 8)) AS j)),
         |cents AS (SELECT vec_id AS cid, j AS sub, u[j*8+1 : j*8+8] AS c
         |  FROM e, (SELECT unnest(range(0, 8)) AS j) WHERE vec_id < 4),
         |sc AS (SELECT s.vec_id, s.sub, c.cid,
         |  round(list_dot_product(s.x, s.x)
         |    - list_dot_product(s.x, c.c) * 2
         |    + list_dot_product(c.c, c.c), 6) AS d2
         |  FROM subs s JOIN cents c ON s.sub = c.sub),
         |best AS (SELECT *, row_number() OVER (PARTITION BY vec_id, sub
         |  ORDER BY d2, cid) AS rn FROM sc)
         |SELECT vec_id,
         |  array_to_string(list(CAST(cid AS VARCHAR) ORDER BY sub), ',')
         |    AS code,
         |  round(sqrt(CAST(sum(CAST(trunc(d2 * 1000000 + 0.5) AS BIGINT))
         |    AS DOUBLE) / 1000000), 6) AS err
         |FROM best WHERE rn = 1 GROUP BY vec_id""".stripMargin,
    // Replays the full IVFPQ pipeline: k-means cells (KmeansCte → a2 +
    // c1), PQ code assignment, the per-query ADC table, the capped
    // ADC ranking, and the exact re-rank — same scaled-long sums and
    // tiebreaks as the Spark plan.
    "emb_ivf_pq" ->
      s"""WITH $IvfPqCte
         |SELECT q_id, cand_id, adc_d2, score, CAST(rnk AS BIGINT) AS rnk
         |FROM fin WHERE rnk <= 5""".stripMargin,
    // Exact brute-force top-5 ground truth vs the IVFPQ result; the
    // left join keeps a zero-overlap query visible as recall 0.
    "emb_ivf_pq_recall" ->
      s"""WITH $IvfPqCte,
         |bf AS (SELECT q_id, cand_id FROM (
         |    SELECT q.q_id, ce.vec_id AS cand_id,
         |      row_number() OVER (PARTITION BY q.q_id
         |        ORDER BY round(list_dot_product(ce.u, q.q_u), 6) DESC,
         |          ce.vec_id) AS brn
         |    FROM e ce, q WHERE ce.vec_id != q.q_id) WHERE brn <= 5),
         |ov AS (SELECT f.q_id, count(*) AS n_overlap
         |  FROM (SELECT q_id, cand_id FROM fin WHERE rnk <= 5) f
         |  JOIN bf ON bf.q_id = f.q_id AND bf.cand_id = f.cand_id
         |  GROUP BY f.q_id)
         |SELECT q.q_id,
         |  CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
         |  round(coalesce(ov.n_overlap, 0) / 5.0, 6) AS recall
         |FROM q LEFT JOIN ov ON q.q_id = ov.q_id""".stripMargin,
    // Replays the halved-corpus centroid comparison with the same
    // DECIMAL sums, unit normalization, micro-quantized share, and
    // thresholds.
    "dq_embedding_drift" ->
      """WITH ed AS (SELECT CAST(label AS BIGINT) AS label,
        |    embedding::DOUBLE[] AS v, vec_id % 2 AS half
        |  FROM embeddings),
        |sums AS (SELECT label, half, idx,
        |    CAST(sum(CAST(val AS DECIMAL(20,15))) AS DOUBLE) AS sv
        |  FROM (SELECT label, half, unnest(v) AS val,
        |        generate_subscripts(v, 1) AS idx FROM ed)
        |  GROUP BY label, half, idx),
        |craw AS (SELECT label, half, list(sv ORDER BY idx) AS raw
        |  FROM sums GROUP BY label, half),
        |cu AS (SELECT label, half,
        |    [x / sqrt(list_dot_product(raw, raw)) for x in raw] AS u
        |  FROM craw WHERE sqrt(list_dot_product(raw, raw)) > 0),
        |cnts AS (SELECT label, half, count(*) AS n
        |  FROM ed GROUP BY label, half),
        |m AS (SELECT a.label,
        |    n0.n AS n_old, n1.n AS n_new,
        |    CAST(CAST(round(CAST(n1.n * 1000000 AS DOUBLE)
        |      / (n0.n + n1.n), 0) AS BIGINT) AS DOUBLE) / 1000000.0
        |      AS share_new,
        |    round(list_dot_product(a.u, b.u), 6) AS centroid_cos
        |  FROM cu a
        |    JOIN cu b ON a.label = b.label AND a.half = 0 AND b.half = 1
        |    JOIN cnts n0 ON n0.label = a.label AND n0.half = 0
        |    JOIN cnts n1 ON n1.label = a.label AND n1.half = 1)
        |SELECT label, n_old, n_new, share_new, centroid_cos,
        |  share_new < 0.4 OR share_new > 0.6 AS drift
        |FROM m""".stripMargin)

  /** Shared oracle CTE chain for the IVFPQ pipeline, ending in
    * `fin` = (q_id, cand_id, adc_d2, score, rnk) — also exposes `e`
    * (unit vectors) and `q` (the query set) for downstream CTEs. */
  private lazy val IvfPqCte =
      s"""$KmeansCte,
         |subs AS (SELECT vec_id, j AS sub, u[j*8+1 : j*8+8] AS x
         |  FROM e, (SELECT unnest(range(0, 8)) AS j)),
         |cents AS (SELECT vec_id AS cid, j AS sub, u[j*8+1 : j*8+8] AS c
         |  FROM e, (SELECT unnest(range(0, 8)) AS j) WHERE vec_id < 4),
         |csc0 AS (SELECT s.vec_id, s.sub, c.cid,
         |  round(list_dot_product(s.x, s.x)
         |    - list_dot_product(s.x, c.c) * 2
         |    + list_dot_product(c.c, c.c), 6) AS d2
         |  FROM subs s JOIN cents c ON s.sub = c.sub),
         |codes AS (SELECT vec_id, sub, cid FROM (SELECT *,
         |    row_number() OVER (PARTITION BY vec_id, sub
         |      ORDER BY d2, cid) AS rn FROM csc0) WHERE rn = 1),
         |q AS (SELECT vec_id AS q_id, u AS q_u FROM e WHERE vec_id < 5),
         |probes AS (SELECT q_id, cid AS q_cluster FROM (
         |    SELECT q.q_id, c1.cid,
         |      row_number() OVER (PARTITION BY q.q_id
         |        ORDER BY round(list_dot_product(q.q_u, c1.cu), 6) DESC,
         |          c1.cid) AS crn
         |    FROM q, c1) WHERE crn <= 2),
         |qsubs AS (SELECT q_id, j AS sub, q_u[j*8+1 : j*8+8] AS qx
         |  FROM q, (SELECT unnest(range(0, 8)) AS j)),
         |adc AS (SELECT qs.q_id, qs.sub, c.cid,
         |  round(list_dot_product(qs.qx, qs.qx)
         |    - list_dot_product(qs.qx, c.c) * 2
         |    + list_dot_product(c.c, c.c), 6) AS qd2
         |  FROM qsubs qs JOIN cents c ON qs.sub = c.sub),
         |cand AS (SELECT p.q_id, a2.vec_id AS cand_id
         |  FROM a2 JOIN probes p ON a2.cluster = p.q_cluster
         |  WHERE a2.vec_id != p.q_id),
         |s1 AS (SELECT cand.q_id, cand.cand_id,
         |  round(CAST(sum(CAST(trunc(qd2 * 1000000 + 0.5) AS BIGINT))
         |    AS DOUBLE) / 1000000, 6) AS adc_d2
         |  FROM cand
         |    JOIN codes ON codes.vec_id = cand.cand_id
         |    JOIN adc ON adc.q_id = cand.q_id
         |      AND adc.sub = codes.sub AND adc.cid = codes.cid
         |  GROUP BY cand.q_id, cand.cand_id),
         |topr AS (SELECT * FROM (SELECT *,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY adc_d2, cand_id) AS arn FROM s1)
         |  WHERE arn <= 20),
         |rr AS (SELECT t.q_id, t.cand_id, t.adc_d2,
         |    round(list_dot_product(ce.u, q.q_u), 6) AS score
         |  FROM topr t
         |    JOIN e ce ON ce.vec_id = t.cand_id
         |    JOIN q ON q.q_id = t.q_id),
         |fin AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY score DESC, cand_id) AS rnk FROM rr)""".stripMargin
}
