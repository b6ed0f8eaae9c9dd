package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.DecimalType

/** Structured Streaming layer (SURVEY §2.10 extension — the reference is
  * batch-only; the `events` table exists to prove the streaming-shaped
  * capability).
  *
  * The windowed aggregations are the SAME functions EventOps registers for
  * batch: one definition, two execution modes — that is the Spark-first
  * answer to "streaming support". The streaming entry points add a
  * watermark, which bounds state: at 100 TB/day the state store only holds
  * windows newer than the watermark horizon, and late data past it is
  * dropped deterministically.
  */
object EventStream {
  private val D182 = DecimalType(18, 2)

  /** Tumbling event-time aggregation; batch and streaming share this. */
  def tumblingAgg(events: DataFrame, windowDur: String): DataFrame =
    events
      .groupBy(window(col("ts"), windowDur).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(D182)).cast("double").as("total"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("total"))

  /** Streaming variant: watermark bounds the state store and admits
    * bounded-late data. Append-mode capable (final windows only). */
  def tumblingStream(events: DataFrame, windowDur: String,
      watermarkDelay: String): DataFrame =
    tumblingAgg(events.withWatermark("ts", watermarkDelay), windowDur)

  /** Sliding event-time aggregation (each event lands in dur/slide
    * windows); same code drives batch (EventOps.ev_sliding) and, with a
    * watermark, streaming. */
  def slidingAgg(events: DataFrame, windowDur: String, slide: String)
      : DataFrame =
    events
      .groupBy(window(col("ts"), windowDur, slide).as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(D182)).cast("double").as("total"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("total"))

  def slidingStream(events: DataFrame, windowDur: String, slide: String,
      watermarkDelay: String): DataFrame =
    slidingAgg(events.withWatermark("ts", watermarkDelay), windowDur, slide)

  /** Session-window aggregation (gap-merged); session_window is
    * streaming-capable — with a watermark the state store holds only
    * open sessions. Same code as EventOps.ev_session_window. */
  def sessionAgg(events: DataFrame, gap: String): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(D182)).cast("double").as("session_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"),
        col("session_value"))

  def sessionStream(events: DataFrame, gap: String,
      watermarkDelay: String): DataFrame =
    sessionAgg(events.withWatermark("ts", watermarkDelay), gap)

  /** Streaming exact deduplication — the streaming twin of
    * `GraftOps.dedupExact`: first event per key wins, and
    * dropDuplicatesWithinWatermark evicts a key's dedup state once the
    * watermark passes it, so state is bounded by the lateness horizon ×
    * key arrival rate rather than growing with the whole history (the
    * property that keeps this runnable forever on a 100 TB/day feed;
    * plain dropDuplicates would hold every key seen). */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
      watermarkDelay: String, tsCol: String = "ts"): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Streaming near-dup ingest gate — the streaming twin of the batch
    * `dedup_incremental` query: each arriving doc's LSH bands probe a
    * STATIC stored band index (the corpus index `dedup_minhash_bands`
    * materializes) with a stream-static left-semi join, and band hits
    * collapse to one verdict row per doc. The bands are computed with
    * the row-local GraftOps.rowLocalBands projection — bit-identical
    * to the batch pipeline's window/groupBy formulation (spec-pinned
    * and oracle-pinned via `dedup_bands_rowlocal`), which a stream
    * cannot run (non-time windows and multi-stage aggregations are
    * unsupported on streaming Datasets). State is only the per-doc keys
    * inside the watermark horizon; the static index side holds no
    * state. At 100 TB/day the probe is a broadcast lookup when the
    * index's distinct band keys fit, else a co-partitioned join against
    * a bucketed index table — either way the stream side never
    * shuffles twice. */
  def nearDupGateStream(docs: DataFrame, bandIndex: DataFrame,
      watermarkDelay: String): DataFrame =
    graft.api.GraftOps
      .rowLocalBands(docs.withWatermark("ts", watermarkDelay),
        "doc_id", "text", carryCols = Seq("ts"))
      .join(bandIndex.select("band_idx", "band_hash"),
        Seq("band_idx", "band_hash"), "left_semi")
      .dropDuplicatesWithinWatermark("doc_id")
      .select(col("doc_id"), col("ts"))

  /** Streaming MAINTENANCE of the stored MinHash band index — the
    * stream twin of the batch `idx_band_upsert` write path (r16
    * VERDICT item 6): until now the batch path wrote the index and
    * the streaming gates only READ it; this foreachBatch sink closes
    * the loop so an ingest stream keeps the index current under the
    * same FIRST-WINS ownership invariant the batch Scaladoc states —
    * an existing bucket keeps its canonical owner; only genuinely new
    * buckets insert.
    *
    * Exactly-once recipe (`Sinks.writeBatchIdempotent`'s shape,
    * specialized to an anti-joined upsert): each micro-batch computes
    * its band buckets with per-batch min-doc owners, anti-joins
    * against the buckets owned by STRICTLY EARLIER batches
    * (`batch_id < current` — partition-pruned, no index rescan), and
    * DYNAMIC-overwrites its own `batch_id=` partition with the
    * survivors. A replayed batch (restart between sink write and
    * checkpoint commit) sees the same earlier-batch ownership set —
    * its own prior write is excluded by the strict inequality, NOT
    * consulted — so it recomputes the identical survivor set and
    * overwrites its own partition byte-for-byte: ownership can never
    * be stolen by a replay, and no duplicate bucket rows can appear.
    * Relies on Structured Streaming's guarantee that a given batchId
    * replays the same source offsets. Both sides aggregate/probe on
    * the same (band_idx, band_hash) key — one co-partitioned shuffle
    * family per micro-batch, which is the entire write path at
    * 100 TB, exactly like the batch upsert. */
  def upsertBandIndexBatch(indexPath: String)
      (docsBatch: DataFrame, batchId: Long): Unit = {
    val spark = docsBatch.sparkSession
    val fresh = graft.api.GraftOps
      .minhashBands(docsBatch, "doc_id", "text")
      .groupBy("band_idx", "band_hash")
      .agg(min("doc_id").cast("long").as("owner"))
    val earlier =
      try spark.read.parquet(indexPath)
        .filter(col("batch_id") < batchId)
        .select("band_idx", "band_hash")
      catch {
        // Missing path AND schema-less path both mean "no earlier
        // ownership": a directory that exists but holds no parquet
        // footers (zero-row first micro-batch wrote only _SUCCESS, or
        // a crash left an empty dir) throws UNABLE_TO_INFER_SCHEMA on
        // every later batch — without this arm the stream would fail
        // permanently, including on replay.
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage.contains("PATH_NOT_FOUND") ||
              e.getMessage.toLowerCase.contains("path does not exist") ||
              e.getMessage.contains("UNABLE_TO_INFER_SCHEMA") ||
              e.getMessage.toLowerCase.contains("unable to infer schema") =>
          spark.emptyDataFrame
            .select(lit(0).as("band_idx"), lit("").as("band_hash"))
            .limit(0)
      }
    fresh.join(earlier, Seq("band_idx", "band_hash"), "left_anti")
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(indexPath)
  }

  /** Driver for `upsertBandIndexBatch`: a doc stream (doc_id, text)
    * maintaining the stored band index at `indexPath`, restartable
    * from `checkpointDir`. The gates (`nearDupGateStream`,
    * `dedup_incremental`'s probe shape) read the same path. */
  def bandIndexMaintenanceStream(docs: DataFrame, indexPath: String,
      checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch(upsertBandIndexBatch(indexPath) _)
      .option("checkpointLocation", checkpointDir)
      .start()

  /** Streaming IVF index maintenance — the ANN twin of
    * [[upsertBandIndexBatch]] (r17 VERDICT item 4): new embeddings are
    * assigned to the STORED, already-trained centroids (the serving
    * contract — a trained index is served, never retrained per batch)
    * and upserted into the cell table under FIRST-WINS per `vec_id`:
    * a vec_id that already holds a cell keeps it, even if a later
    * batch re-offers the id with different bytes — reassignment would
    * silently flip every downstream probe's candidate set.
    *
    * Same exactly-once recipe as the band index: anti-join against
    * STRICTLY EARLIER batches (`batch_id < current`, partition-pruned),
    * then dynamic-overwrite this batch's own partition — a replayed
    * micro-batch recomputes the identical survivor set and overwrites
    * itself byte-for-byte, so replay can never reassign or duplicate.
    *
    * Drift counter — the retrain trigger: each batch also writes a
    * one-row summary under `cellsPath/_drift` (leading underscore ⇒
    * invisible to cell readers) recording what share of its NEW
    * vectors scored below `driftThreshold` against their best cell.
    * A rising share means the incoming distribution has left the
    * trained cells and the index needs retraining; the summary
    * partition is overwritten by the same batch id, so the signal is
    * replay-stable too.
    *
    * Assignment semantics are byte-identical to the stored-core batch
    * assignment (Similarity's kmeansAssign: unit-normalize, zero-norm
    * rows dropped, `round(dot, 6)` score, ties to the lowest cid) —
    * pinned by the `idx_ivf_upsert` registry twin's DuckDB oracle.
    * Scale: centroids are k rows (broadcast); the batch does one
    * narrow scan + one anti-join keyed on vec_id. */
  def upsertIvfCellsBatch(cellsPath: String, centroids: DataFrame,
      driftThreshold: Double = 0.5)
      (vecsBatch: DataFrame, batchId: Long): Unit = {
    val spark = vecsBatch.sparkSession
    graft.expressions.VectorExpressions.register(spark)
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      call_function("graft_vec_dot", a, b)
    val wBest = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("sc").desc, col("cid"))
    val assigned = vecsBatch
      .select(col("vec_id").cast("long").as("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .filter(col("nrm") > 0)
      .select(col("vec_id"), transform(col("v"), x => x / col("nrm")).as("u"))
      .crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("cid"),
        round(dot(col("u"), col("cu")), 6).as("sc"))
      .withColumn("rn", row_number().over(wBest)).filter(col("rn") === 1)
      .select(col("vec_id"), col("cid").as("cluster"),
        col("sc").as("score"))
      // one batch may re-offer an id it already holds; resolve the
      // batch-local duplicate deterministically with the assignment's
      // own tie order (score desc, then lowest cid) — same bytes
      // collapse to one row either way, different bytes can't flap
      .groupBy("vec_id")
      .agg(max(struct(col("score"), (-col("cluster")).as("nc"))).as("b"))
      .select(col("vec_id"), (-col("b.nc")).cast("long").as("cluster"),
        col("b.score").as("score"))
    val earlier =
      try spark.read.parquet(cellsPath)
        .filter(col("batch_id") < batchId)
        .select("vec_id")
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage.contains("PATH_NOT_FOUND") ||
              e.getMessage.toLowerCase.contains("path does not exist") ||
              e.getMessage.contains("UNABLE_TO_INFER_SCHEMA") ||
              e.getMessage.toLowerCase.contains("unable to infer schema") =>
          spark.emptyDataFrame
            .select(lit(0L).as("vec_id")).limit(0)
      }
    val fresh = assigned
      .join(earlier, Seq("vec_id"), "left_anti")
      .withColumn("drifted", col("score") < driftThreshold)
      .withColumn("batch_id", lit(batchId))
      .localCheckpoint() // one evaluation: written AND summarized below
    fresh.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(cellsPath)
    // Global agg, not groupBy(batch_id): a batch whose vectors are all
    // re-offers or zero-norm has NO fresh rows, and a groupBy would
    // emit no summary at all — a stream dominated by re-offered ids
    // would look healthy instead of stagnant (r18 ADVICE). The global
    // agg yields exactly one row per processed batch (n_new = 0
    // included), stamped with the literal batch id.
    fresh
      .agg(count(lit(1)).as("n_new"),
        coalesce(sum(when(col("drifted"), 1L).otherwise(0L)), lit(0L))
          .as("n_drifted"))
      .select(lit(batchId).as("batch_id"), col("n_new"), col("n_drifted"),
        when(col("n_new") > 0,
          round(col("n_drifted").cast("double") / col("n_new"), 6))
          .otherwise(lit(0.0)).as("drift_share"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(s"$cellsPath/_drift")
  }

  /** Driver for [[upsertIvfCellsBatch]]: a vector stream
    * (vec_id, embedding) maintaining the stored cell table at
    * `cellsPath` against the fixed trained `centroids`, restartable
    * from `checkpointDir`. */
  def ivfCellsMaintenanceStream(vecs: DataFrame, centroids: DataFrame,
      cellsPath: String, checkpointDir: String,
      driftThreshold: Double = 0.5)
      : org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream
      .foreachBatch(upsertIvfCellsBatch(cellsPath, centroids,
        driftThreshold) _)
      .option("checkpointLocation", checkpointDir)
      .start()

  /** The retrain-trigger signal [[upsertIvfCellsBatch]] maintains:
    * per-batch drift summaries, newest first. */
  def ivfDriftStats(spark: org.apache.spark.sql.SparkSession,
      cellsPath: String): DataFrame =
    spark.read.parquet(s"$cellsPath/_drift")
      .orderBy(col("batch_id").desc)

  /** Streaming import classifier — the stream side of
    * `jobs.ImportJob.importDelta`: entity rows arrive as a stream of
    * (`idCol`, `hashCol`) where the hash is the full-document content
    * hash (the importDelta/docId discipline), and each row is
    * classified against the STORED snapshot's (id, hash) table by a
    * stream-static LEFT join: absent id ⇒ `inserted`, present with a
    * different hash ⇒ `changed`, same hash ⇒ `unchanged`. Deletes are
    * a batch-reconciliation concern — a stream cannot observe absence
    * (that's importDelta's full-outer leg). STATELESS: one join per
    * micro-batch, no watermark, no state store; the snapshot side is a
    * broadcast lookup when it fits, else a co-partitioned join against
    * a bucketed snapshot table. Sink through `Sinks.
    * writeBatchIdempotent` for exactly-once into a plain store.
    * Carries every other stream column through untouched. */
  def importClassifyStream(rows: DataFrame, snapshot: DataFrame,
      idCol: String = "id", hashCol: String = "h"): DataFrame =
    rows.join(
        snapshot.select(col(idCol), col(hashCol).as("__snap_h")),
        Seq(idCol), "left")
      .withColumn("status",
        when(col("__snap_h").isNull, "inserted")
          .when(col("__snap_h") =!= col(hashCol), "changed")
          .otherwise("unchanged"))
      .drop("__snap_h")

  /** Near-dup gate against a LIVE index — the self-referential upgrade
    * of `nearDupGateStream`'s static probe: the corpus IS the stream,
    * and a document is flagged when some EARLIER document inside the
    * `horizon` shares a MinHash band with it (first-occurrence-wins,
    * streaming form). Shape: one rowLocalBands projection feeds BOTH
    * sides of a watermarked stream-stream join whose time condition
    * (`idx.ts < doc.ts`, `idx.ts >= doc.ts − horizon`) bounds the
    * state store to horizon + watermark worth of band rows per key —
    * the same state-bounding contract as `attributionJoin`. One
    * verdict per doc via dropDuplicatesWithinWatermark (a doc matching
    * on several bands or several predecessors is still one dup).
    * Emits the FLAGGED docs (the dups); the novel set is the input
    * minus these, which the caller already holds. At 100 TB/day both
    * sides shuffle once on the band key; the hot-band discipline of
    * the batch path (bucket caps) applies when a boilerplate band
    * floods a key — cap upstream with the same count-window salt. */
  def nearDupSelfGateStream(docs: DataFrame, horizon: String,
      watermarkDelay: String): DataFrame = {
    val probe = graft.api.GraftOps
      .rowLocalBands(docs.withWatermark("ts", watermarkDelay),
        "doc_id", "text", carryCols = Seq("ts"))
    val idx = graft.api.GraftOps
      .rowLocalBands(docs.withWatermark("ts", watermarkDelay),
        "doc_id", "text", carryCols = Seq("ts"))
      .select(col("doc_id").as("i_doc"), col("ts").as("i_ts"),
        col("band_idx").as("i_band_idx"),
        col("band_hash").as("i_band_hash"))
    // "Earlier" = (ts, doc_id) lexicographic, not strict ts alone:
    // ts ties are routine in real streams (same-second ingest), and
    // strict `i_ts < ts` would leave BOTH tied docs unflagged while
    // the batch twin (ordered by doc_id) flags the later id. The
    // range conjuncts `i_ts <= ts` / `i_ts >= ts − horizon` stay
    // top-level AND terms so the state-bound extraction still sees
    // a closed event-time interval (the state-eviction contract);
    // the id tiebreak rides along as a residual predicate.
    probe.join(idx,
        col("band_idx") === col("i_band_idx") &&
          col("band_hash") === col("i_band_hash") &&
          col("i_doc") =!= col("doc_id") &&
          col("i_ts") <= col("ts") &&
          (col("i_ts") < col("ts") || col("i_doc") < col("doc_id")) &&
          col("i_ts") >= col("ts") - expr(s"INTERVAL $horizon"),
        "leftSemi")
      .dropDuplicatesWithinWatermark("doc_id")
      .select(col("doc_id"), col("ts"))
  }

  /** IMAGE ingest dedup gate — the media twin of `nearDupGateStream`:
    * an image stream (media_id, ts, ahash) is screened against a
    * STATIC corpus band index (the batch aHash pipeline's 4×16-bit
    * bands, mm_image_dedup's proposal key). The perceptual hash is
    * computed at the ingest edge (pixel decode is mapPartitions work a
    * micro-batch cannot express over a stream's `.rdd`; real ingest
    * tiers hash at the edge for exactly this reason) — the GATE's job
    * is banding + probe, which is pure projections + one left-semi
    * join, the stream-safe subset. Within-distance-3 dups are
    * guaranteed to share a band (the pigeonhole rule MultimodalSpec
    * pins), so the gate's recall over the index equals the batch
    * pair path's. One verdict per media via
    * dropDuplicatesWithinWatermark; state is bounded by the watermark.
    * At 100 TB/day the index side is a broadcast when its distinct
    * bands fit, else a co-partitioned bucketed table — the stream
    * side shuffles once on the band key either way. Emits FLAGGED
    * (dup-suspect) media; exact Hamming verification happens
    * downstream on the flagged minority, batch-side. */
  def imageDupGateStream(images: DataFrame, bandIndex: DataFrame,
      watermarkDelay: String): DataFrame =
    images.withWatermark("ts", watermarkDelay)
      .select(col("media_id"), col("ts"),
        posexplode(array((0 to 3).map(b =>
          substring(col("ahash"), b * 16 + 1, 16)): _*))
          .as(Seq("band_idx", "band_val")))
      .join(bandIndex.select("band_idx", "band_val"),
        Seq("band_idx", "band_val"), "left_semi")
      .dropDuplicatesWithinWatermark("media_id")
      .select(col("media_id"), col("ts"))

  /** AUDIO ingest dedup gate — completes the streaming gate matrix
    * (text bands / image bands / audio signatures): a clip stream
    * (media_id, ts, sig) carrying the edge-computed quantized
    * energy-profile signature (mm_audio_dedup's proposal key) probes
    * the static corpus signature index with one left-semi join. Same
    * contract as `imageDupGateStream`: the gate proposes, exact
    * window-sum verification runs downstream batch-side on the
    * flagged minority; state bounded by the watermark. */
  def audioDupGateStream(clips: DataFrame, sigIndex: DataFrame,
      watermarkDelay: String): DataFrame =
    clips.withWatermark("ts", watermarkDelay)
      .join(sigIndex.select("sig"), Seq("sig"), "left_semi")
      .dropDuplicatesWithinWatermark("media_id")
      .select(col("media_id"), col("ts"))

  /** LEARNED-quality admission gate at ingest — the streaming twin of
    * `txt_classifier_score`: every arriving document is scored by the
    * frozen hashed-feature linear model and tagged keep/drop. The
    * margin is `TextFunctions.classifierMarginMicro` — the SAME
    * row-local expression the batch registry query runs, so batch and
    * stream share one arithmetic definition (bit-identical margins;
    * StreamingSpec pins it). STATELESS: a pure projection, no
    * watermark state, no shuffle — at 100 TB/day this is the first
    * and cheapest cut in the ingest chain, composable in front of the
    * stateful dedup gates. Token-less documents pass through with a
    * null margin and keep = false (visible, never silently dropped —
    * the pipeline_pair_curation convention). */
  def admissionGateStream(docs: DataFrame): DataFrame = {
    val mm = graft.functions.TextFunctions
      .classifierMarginMicro(col("text"))
    docs.select(col("doc_id"), col("ts"),
        (mm.cast("double") / 1000000.0).as("margin"))
      .withColumn("keep",
        coalesce(col("margin") > 0, lit(false)))
  }

  /** Streaming attribution — the streaming shape of the batch as-of join
    * (GraftOps.asofJoin / j11): each purchase left-outer joins the
    * clicks of the same user within the preceding `horizon`. Both sides
    * are watermarked and the join condition bounds the click's age, so
    * the state store only retains `horizon + watermark` worth of clicks
    * per user — the condition every unbounded stream-stream join needs
    * to avoid infinite state. Emits one row per (purchase, click-in-
    * horizon) pair, click columns null when no click preceded the
    * purchase (Spark emits the null row once the watermark proves no
    * match can arrive).
    *
    * Unlike batch as-of, a stream can't pick "the latest" click at emit
    * time without a second stateful stage; downstream takes max(click_ts)
    * per purchase — same final answer, streaming-incremental shape. */
  def attributionJoin(purchases: DataFrame, clicks: DataFrame,
      horizon: String, watermarkDelay: String): DataFrame = {
    val p = purchases.select(col("user_id"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", watermarkDelay)
    val c = clicks.select(col("user_id").as("c_user"),
        col("ts").as("c_ts"), col("event_id").as("click_id"))
      .withWatermark("c_ts", watermarkDelay)
    p.join(c,
      col("user_id") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $horizon"),
      "leftOuter")
      .select(col("purchase_id"), col("user_id"), col("p_ts"),
        col("click_id"), col("c_ts"))
  }

  /** Streaming sessionization with CUSTOM state — flatMapGroupsWithState
    * + event-time timeout. Unlike session_window (which Spark manages),
    * this owns the state machine: in-batch events fold into the open
    * session (closing + emitting when the gap is exceeded), the open
    * session is parked in the state store with a timeout at
    * `end + gap`, and when the watermark passes that point the session
    * is emitted and its state evicted. State per key is one small tuple,
    * partitioned by user_id — horizontal scale comes from key count.
    * This is the shape for logic session_window can't express
    * (dynamic gaps, per-session caps, CEP-ish rules). */
  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp,
    value: Double)
  case class OpenSession(startUs: Long, endUs: Long, n: Long, total: Double)
  case class ClosedSession(user_id: Long, session_start: java.sql.Timestamp,
    session_end: java.sql.Timestamp, n_events: Long, session_value: Double)

  def sessionizeWithState(events: Dataset[SessionEvent], gapMinutes: Int)
      : Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes.toLong * 60 * 1000000
    def close(uid: Long, s: OpenSession): ClosedSession =
      ClosedSession(uid, new java.sql.Timestamp(s.startUs / 1000),
        new java.sql.Timestamp(s.endUs / 1000), s.n, s.total)
    events
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (uid, rows, state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val out = close(uid, state.get)
            state.remove()
            Iterator(out)
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.value))
            var open = state.getOption
            val closed = Seq.newBuilder[ClosedSession]
            sorted.foreach { e =>
              val us = e.ts.getTime * 1000
              open match {
                case Some(s) if us - s.endUs <= gapUs =>
                  open = Some(OpenSession(s.startUs, math.max(s.endUs, us),
                    s.n + 1, s.total + e.value))
                case Some(s) =>
                  closed += close(uid, s)
                  open = Some(OpenSession(us, us, 1L, e.value))
                case None =>
                  open = Some(OpenSession(us, us, 1L, e.value))
              }
            }
            open.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp((s.endUs + gapUs) / 1000)
            }
            closed.result().iterator
          }
      }
  }

  /** Per-user running totals via mapGroupsWithState — the custom-state
    * primitive for logic windows can't express (counters, sessions with
    * dynamic gaps, CEP-ish patterns). State is one small tuple per key,
    * partitioned by user_id, so it scales horizontally with keys. */
  case class UserEvent(user_id: Long, value: Double)
  case class UserTotal(user_id: Long, n: Long, total: Double)

  def runningTotals(events: Dataset[UserEvent]): Dataset[UserTotal] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserTotal, UserTotal](
        GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[UserTotal]) =>
          val prev = state.getOption.getOrElse(UserTotal(uid, 0L, 0.0))
          var n = prev.n
          var tot = prev.total
          rows.foreach { e => n += 1; tot += e.value }
          val next = UserTotal(uid, n, tot)
          state.update(next)
          next
      }
  }
}
