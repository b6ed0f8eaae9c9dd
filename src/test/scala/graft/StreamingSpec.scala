package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.EventStream

/** Structured Streaming variant: the SAME tumblingAgg used in batch
  * (EventOps.ev_tumbling) runs incrementally over a MemoryStream and must
  * produce identical final windows. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$min%02d:$sec%02d")

  test("tumblingStream over MemoryStream equals batch tumblingAgg") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (ts(1), "a", 1.0), (ts(4), "a", 2.0), (ts(11), "a", 4.0),
      (ts(12), "b", 8.0), (ts(25), "a", 16.0))

    val stream = MemoryStream[(Timestamp, String, Double)]
    stream.addData(rows)
    val sdf = stream.toDF().toDF("ts", "event_type", "value")
    val q = EventStream.tumblingStream(sdf, "10 minutes", "0 seconds")
      .writeStream.format("memory").queryName("tumbling_out")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("tumbling_out")
      .select("window_start", "event_type", "n", "total")
      .as[(Timestamp, String, Long, Double)].collect().toSet
    val batch = EventStream.tumblingAgg(
      rows.toDF("ts", "event_type", "value"), "10 minutes")
      .as[(Timestamp, String, Long, Double)].collect().toSet
    assert(streamed == batch)
    assert(batch == Set(
      (ts(0), "a", 2L, 3.0), (ts(10), "a", 1L, 4.0),
      (ts(10), "b", 1L, 8.0), (ts(20), "a", 1L, 16.0)))
  }

  test("late data beyond the watermark is DROPPED in append mode — " +
      "the state-eviction contract that bounds memory at 100 TB") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String, Double)]
    val sdf = stream.toDF().toDF("ts", "event_type", "value")
    // Append mode: a window only emits once the watermark passes its
    // end, and its state is then evicted — later stragglers have
    // nowhere to land. Complete mode (above) would instead keep all
    // state and ACCEPT the late row; both behaviors are by design and
    // this pins the append/eviction side.
    val q = EventStream.tumblingStream(sdf, "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("late_out")
      .outputMode("append").start()
    try {
      stream.addData((ts(1), "a", 1.0), (ts(4), "a", 2.0))
      q.processAllAvailable()
      // Advance event time far enough that watermark (max ts − 5 min)
      // passes the [00:00, 00:10) window end → it emits and evicts.
      stream.addData((ts(31), "a", 100.0))
      q.processAllAvailable()
      val emitted = spark.table("late_out")
        .select("window_start", "n", "total")
        .as[(Timestamp, Long, Double)].collect().toSet
      assert(emitted == Set((ts(0), 2L, 3.0)),
        s"first window must emit exactly once: $emitted")
      // A straggler INSIDE the closed window arrives after eviction…
      stream.addData((ts(7), "a", 999.0))
      q.processAllAvailable()
      stream.addData((ts(55), "a", 0.5))
      q.processAllAvailable()
      val after = spark.table("late_out")
        .select("window_start", "n", "total")
        .as[(Timestamp, Long, Double)].collect().toSet
      // …and its 999.0 appears NOWHERE: the closed window is not
      // re-emitted and no new window absorbs it.
      assert(!after.exists(_._3 == 999.0) &&
        after.count(_._1 == ts(0)) == 1,
        s"late row must be dropped, window emitted once: $after")
    } finally q.stop()
  }

  test("slidingStream over MemoryStream equals batch slidingAgg") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq((ts(1), "a", 1.0), (ts(7), "a", 2.0), (ts(12), "b", 4.0))
    val stream = MemoryStream[(Timestamp, String, Double)]
    stream.addData(rows)
    val sdf = stream.toDF().toDF("ts", "event_type", "value")
    val q = EventStream
      .slidingStream(sdf, "10 minutes", "5 minutes", "0 seconds")
      .writeStream.format("memory").queryName("sliding_out")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("sliding_out")
      .as[(Timestamp, String, Long, Double)].collect().toSet
    val batch = EventStream
      .slidingAgg(rows.toDF("ts", "event_type", "value"),
        "10 minutes", "5 minutes")
      .as[(Timestamp, String, Long, Double)].collect().toSet
    // 2 windows per event; a@00:01 and a@00:07 share [00:00,00:10) → 5
    assert(streamed == batch && batch.size == 5)
  }

  test("sessionStream over MemoryStream merges gap-adjacent events") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq((1L, ts(0), 1.0), (1L, ts(20), 2.0), (1L, ts(55), 4.0))
    val stream = MemoryStream[(Long, Timestamp, Double)]
    stream.addData(rows)
    val sdf = stream.toDF().toDF("user_id", "ts", "value")
    val q = EventStream.sessionStream(sdf, "30 minutes", "0 seconds")
      .writeStream.format("memory").queryName("session_out")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("session_out")
      .select("user_id", "n_events", "session_value")
      .as[(Long, Long, Double)].collect().toSet
    // ts(0) and ts(20) merge (gap 20m < 30m); ts(55) starts a new session
    assert(out == Set((1L, 2L, 3.0), (1L, 1L, 4.0)))
  }

  test("dedupStream keeps first event per key and bounds state by " +
    "watermark") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String, Double)]
    val q = EventStream.dedupStream(
      stream.toDF().toDF("ts", "event_id", "value"), Seq("event_id"),
      "10 minutes")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      // e1 twice in one batch + once again later within the watermark
      // horizon → exactly one survivor.
      stream.addData((ts(0), "e1", 1.0), (ts(1), "e1", 2.0),
        (ts(2), "e2", 4.0))
      q.processAllAvailable()
      stream.addData((ts(3), "e1", 8.0))
      q.processAllAvailable()
      // far-future event advances the watermark past e1's state; a
      // REarrival after eviction is admitted again (the documented
      // within-watermark contract — exactly-once only inside the horizon).
      stream.addData((ts(59, 59), "e3", 16.0))
      q.processAllAvailable()
      stream.addData((Timestamp.valueOf("2024-01-01 01:10:00"), "e1", 32.0))
      q.processAllAvailable()
      val out = spark.table("dedup_out")
        .select("event_id", "value").as[(String, Double)].collect().toSeq
      assert(out.count(_._1 == "e1") == 2, s"got $out") // pre+post eviction
      assert(out.filter(_._1 == "e1").map(_._2).toSet == Set(1.0, 32.0))
      assert(out.count(_._1 == "e2") == 1)
    } finally q.stop()
  }

  test("a watermark sized by ev_disorder_report's max lateness admits " +
      "every event; an undersized one drops the stragglers") {
    implicit val sqlCtx = spark.sqlContext
    // Disordered arrival sequence (minutes): two stragglers arrive 14
    // minutes after newer events have advanced the stream's max.
    val arrivals = Seq(ts(1), ts(4), ts(25), ts(11), ts(27), ts(13))
    // ev_disorder_report's lateness definition, inline: running max
    // event-time over ARRIVAL order minus own event-time, clamped at 0.
    val lateMs = arrivals.scanLeft(Long.MinValue)((m, t) =>
      math.max(m, t.getTime)).zip(arrivals)
      .map { case (prevMax, t) =>
        if (prevMax == Long.MinValue) 0L
        else math.max(0L, prevMax - t.getTime)
      }
    assert(lateMs.max == 14L * 60 * 1000)

    def admitted(delay: String): Long = {
      val name = s"wm_${delay.replaceAll("[^0-9]", "")}"
      val stream = MemoryStream[(Timestamp, String, Double)]
      val q = EventStream.tumblingStream(
        stream.toDF().toDF("ts", "event_type", "value"),
        "10 minutes", delay)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        // One micro-batch per row so the watermark advances with the
        // arrival order, exactly like the report's running max.
        arrivals.foreach { t =>
          stream.addData((t, "a", 1.0)); q.processAllAvailable()
        }
        // Far-future flush closes every real window (its own window
        // never emits before stop and is excluded from the count).
        stream.addData((Timestamp.valueOf("2024-01-01 02:00:00"), "z", 0.0))
        q.processAllAvailable()
        spark.table(name).agg(sum("n")).as[Long].head()
      } finally q.stop()
    }
    // Sized from the measured disorder: nothing dropped.
    assert(admitted("14 minutes") == arrivals.length)
    // Undersized: the two 14-minute stragglers' windows were already
    // closed when they arrived — dropped.
    assert(admitted("0 seconds") == arrivals.length - 2)
  }

  test("streaming attribution reduces to the batch as-of join") {
    implicit val sqlCtx = spark.sqlContext
    import graft.api.GraftOps
    // Same dataset through both paths: GraftOps.asofJoin picks THE
    // latest prior click; an event-time interval join over the streams
    // emits ALL in-horizon clicks — reducing those pairs by
    // max(click_ts) must agree.
    val clicks = Seq((1L, ts(5), 100L), (1L, ts(20), 101L),
      (2L, ts(10), 200L))
    val purchases = Seq((1L, ts(30), 10L), (2L, ts(40), 20L),
      (3L, ts(50), 30L))
    val cs = MemoryStream[(Long, Timestamp, Long)]
    val ps = MemoryStream[(Long, Timestamp, Long)]
    val p = ps.toDF().toDF("user_id", "p_ts", "purchase_id")
      .withWatermark("p_ts", "0 seconds")
    val c = cs.toDF().toDF("c_user", "c_ts", "click_id")
      .withWatermark("c_ts", "0 seconds")
    val q = p.join(c,
        col("user_id") === col("c_user") && col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL '1' HOUR"),
        "leftOuter")
      .writeStream.format("memory").queryName("attr_equiv_out")
      .outputMode("append").start()
    try {
      cs.addData(clicks); ps.addData(purchases)
      q.processAllAvailable()
      // Advance watermarks so unmatched purchases emit their null rows.
      cs.addData((9L, ts(59, 59), 999L)); ps.addData((9L, ts(59, 59), 99L))
      q.processAllAvailable()
      val streamed = spark.table("attr_equiv_out")
        .filter($"purchase_id" < 99L)
        .groupBy("purchase_id")
        .agg(max(struct($"c_ts", $"click_id")).getField("click_id")
          .as("click_id"))
        .as[(Long, Option[Long])].collect().toMap
      val batch = GraftOps.asofJoin(
        purchases.toDF("user_id", "ts", "event_id"),
        clicks.toDF("user_id", "ts", "click_id"),
        "user_id", "ts", Seq("click_id"))
        .select("event_id", "asof_click_id")
        .as[(Long, Option[Long])].collect().toMap
      assert(streamed == batch, s"streamed $streamed vs batch $batch")
      assert(batch == Map(10L -> Some(101L), 20L -> Some(200L),
        30L -> None))
    } finally q.stop()
  }

  test("rowlocal minhash bands are bit-identical to the batch pipeline") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "entirely different text about spark execution plans here"),
      (4L, "short"), (5L, "")).toDF("doc_id", "text")
    val batch = graft.api.GraftOps.minhashBands(docs, "doc_id", "text")
      .as[(Long, Int, String)].collect().toSet
    val rowlocal = graft.api.GraftOps
      .rowLocalBands(docs, "doc_id", "text")
      .as[(Long, Int, String)].collect().toSet
    assert(rowlocal == batch)
    assert(batch.size == 20) // 5 docs × 4 bands, incl. empty/short docs
  }

  test("nearDupGateStream flags stream docs whose bands hit the stored " +
    "corpus index, once per doc") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "one two three four five six seven eight nine"))
      .toDF("doc_id", "text")
    val index = graft.api.GraftOps
      .minhashBands(corpus, "doc_id", "text").localCheckpoint()
    val stream = MemoryStream[(Long, Timestamp, String)]
    val q = EventStream.nearDupGateStream(
      stream.toDF().toDF("doc_id", "ts", "text"), index, "10 minutes")
      .writeStream.format("memory").queryName("neardup_out")
      .outputMode("append").start()
    try {
      // 100 duplicates corpus doc 10 (all bands agree → 4 hits, must
      // collapse to ONE verdict row); 101 is novel (no band can match).
      stream.addData(
        (100L, ts(0), "alpha beta gamma delta epsilon zeta eta theta"),
        (101L, ts(1), "completely novel never indexed words appear now"))
      q.processAllAvailable()
      val out = spark.table("neardup_out")
        .select("doc_id").as[Long].collect().toSeq
      assert(out == Seq(100L), s"got $out")
    } finally q.stop()
  }

  test("nearDupSelfGateStream: the index IS the stream — a doc is " +
      "flagged iff an EARLIER in-horizon doc shares a band") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, String)]
    val q = EventStream.nearDupSelfGateStream(
      stream.toDF().toDF("doc_id", "ts", "text"),
      horizon = "30 minutes", watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("selfgate_out")
      .outputMode("append").start()
    try {
      val textA = "alpha beta gamma delta epsilon zeta eta theta"
      val textB = "one two three four five six seven eight nine"
      stream.addData(
        (1L, ts(0), textA),            // first occurrence — novel
        (2L, ts(5), textA),            // dup of 1 (earlier, in horizon)
        (3L, ts(6), textB),            // first occurrence — novel
        (4L, ts(7), "wholly unrelated prose nothing shared here at all"))
      q.processAllAvailable()
      // 50 min: dup of 3 but OUTSIDE the 30-min horizon → novel again
      // (the time bound is what keeps join state finite); 6 is an
      // in-horizon dup of 5's re-occurrence. 99 only advances the
      // watermark so every earlier verdict is final in append mode.
      stream.addData((5L, ts(50), textB), (6L, ts(55), textB))
      q.processAllAvailable()
      // Timestamp TIE: same-second ingest is routine. "Earlier" is
      // (ts, doc_id) lexicographic, so of two tied dups the HIGHER
      // doc_id is flagged and the lower is the kept first occurrence
      // — matching the batch twin's doc_id order; strict ts alone
      // would silently keep both.
      val textC = "tied arrival text shared by two same second docs"
      stream.addData((8L, ts(90), textC), (7L, ts(90), textC))
      q.processAllAvailable()
      stream.addData((99L, ts(150),
        "watermark pusher with its own unique never repeated words"))
      q.processAllAvailable()
      val got = spark.table("selfgate_out")
        .select("doc_id").as[Long].collect().toSeq.sorted
      assert(got == Seq(2L, 6L, 8L),
        s"flag exactly the earlier-in-horizon band matches, got $got")
    } finally q.stop()
  }

  test("nearDupSelfGateStream over the real corpus equals the " +
      "oracle-checked batch twin dedup_first_in_horizon") {
    // The strongest closure for the live-index gate: the stream
    // operator, fed the sf0.001 documents with the SAME arrival proxy
    // the batch twin encodes (doc_id minutes apart, 30-minute
    // horizon), must flag exactly the twin's dup_in_horizon set — and
    // the twin itself is DuckDB-hash-gated, so the streaming semantics
    // are transitively oracle-verified.
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val base = ts(0).getTime
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
      .sortBy(_._1)
      .map { case (id, tx) =>
        (id, new Timestamp(base + id * 60000L), tx) }
    val stream = MemoryStream[(Long, Timestamp, String)]
    val q = EventStream.nearDupSelfGateStream(
      stream.toDF().toDF("doc_id", "ts", "text"),
      horizon = "30 minutes", watermarkDelay = "5 minutes")
      .writeStream.format("memory").queryName("selfgate_corpus")
      .outputMode("append").start()
    try {
      stream.addData(docs)
      q.processAllAvailable()
      // Watermark pusher: unique text far in the future finalizes
      // every real verdict in append mode.
      stream.addData((999999L,
        new Timestamp(base + 1000L * 60000L),
        "unique watermark advancing text never shared with anything"))
      q.processAllAvailable()
      val got = spark.table("selfgate_corpus")
        .select("doc_id").as[Long].collect().toSet - 999999L
      val want = SparkEntry.queries("dedup_first_in_horizon")(spark, sfDir)
        .filter(col("dup_in_horizon"))
        .select("doc_id").as[Long].collect().toSet
      assert(got == want,
        s"stream vs batch twin: extra=${got -- want} missing=${want -- got}")
      assert(want.nonEmpty, "vacuous: the twin found no in-horizon dups")
    } finally q.stop()
  }

  test("nearDupSelfGateStream on EVENT-TIME inputs equals the " +
      "oracle-checked twin dedup_first_in_horizon_ts") {
    // Same closure as above but with the ts twin's NON-monotone
    // event-time assignment (ts = base + (doc_id*37 mod 97) minutes):
    // arrival order differs from id order and distinct docs share
    // instants, so this parity run exercises the interval arithmetic
    // over real timestamps AND the (ts, doc_id) lexicographic
    // tiebreak — the two behaviors the id-proxy parity test cannot
    // reach. The twin is DuckDB-hash-gated, so passing here makes the
    // stream gate's event-time semantics transitively oracle-verified.
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val base = ts(0).getTime
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
      .sortBy(_._1)
      .map { case (id, tx) =>
        (id, new Timestamp(base + (id * 37 % 97) * 60000L), tx) }
    val stream = MemoryStream[(Long, Timestamp, String)]
    val q = EventStream.nearDupSelfGateStream(
      stream.toDF().toDF("doc_id", "ts", "text"),
      horizon = "30 minutes", watermarkDelay = "5 minutes")
      .writeStream.format("memory").queryName("selfgate_ts")
      .outputMode("append").start()
    try {
      stream.addData(docs)
      q.processAllAvailable()
      stream.addData((999999L,
        new Timestamp(base + 1000L * 60000L),
        "unique watermark advancing text never shared with anything"))
      q.processAllAvailable()
      val got = spark.table("selfgate_ts")
        .select("doc_id").as[Long].collect().toSet - 999999L
      val want = SparkEntry.queries("dedup_first_in_horizon_ts")(
          spark, sfDir)
        .filter(col("dup_in_horizon"))
        .select("doc_id").as[Long].collect().toSet
      assert(got == want,
        s"stream vs ts twin: extra=${got -- want} missing=${want -- got}")
      assert(want.nonEmpty, "vacuous: the ts twin found no dups")
      // The fixture must actually exercise a tie: at least two distinct
      // docs sharing an instant (97 slots over ~60+ docs guarantees it
      // by pigeonhole, but assert rather than assume).
      val slots = docs.map(d => d._2.getTime).groupBy(identity)
      assert(slots.values.exists(_.size > 1),
        "no ts tie in the fixture — the tiebreak path went untested")
    } finally q.stop()
  }

  test("importClassifyStream: stream-static classification matches the " +
      "batch importDelta rule, statelessly") {
    implicit val sqlCtx = spark.sqlContext
    val snapshot = Seq((1L, "h1"), (2L, "h2"), (3L, "h3")).toDF("id", "h")
    val stream = MemoryStream[(Long, String, String)]
    val sdf = stream.toDF().toDF("id", "h", "payload")
    val q = EventStream.importClassifyStream(sdf, snapshot)
      .writeStream.format("memory").queryName("impcls")
      .outputMode("append").start()
    stream.addData((1L, "h1", "p1"), (2L, "h2x", "p2"), (9L, "h9", "p9"))
    try {
      q.processAllAvailable()
      // batch-rule parity: id present+same hash / present+different /
      // absent -- deletes are importDelta's full-outer leg, not the
      // stream's (absence is unobservable in a stream)
      val got = spark.table("impcls").collect()
        .map(r => (r.getLong(r.fieldIndex("id")),
          r.getString(r.fieldIndex("status")))).toMap
      assert(got == Map(1L -> "unchanged", 2L -> "changed",
        9L -> "inserted"), s"classification drifted: $got")
      // payload columns pass through untouched
      val p9 = spark.table("impcls").filter(col("id") === 9L)
        .select("payload").as[String].collect()
      assert(p9.toSeq == Seq("p9"))
      // STATELESS contract: a stream-static join holds no state store
      assert(q.lastProgress.stateOperators.isEmpty ||
        q.lastProgress.stateOperators.length == 0,
        "import classifier must not allocate streaming state")
    } finally q.stop()
  }
}
