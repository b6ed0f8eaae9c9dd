package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
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

  /** Tumbling event-time aggregation; batch and streaming share this.
    * A tumbling window is a sliding one whose slide equals its length
    * (`window(ts, d)` is `window(ts, d, d)`). */
  def tumblingAgg(events: DataFrame, windowDur: String): DataFrame =
    slidingAgg(events, windowDur, windowDur)

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
    * the condition every unbounded stream-stream join needs. One
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
}
