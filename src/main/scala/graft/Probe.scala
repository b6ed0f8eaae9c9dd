package graft

import scala.collection.mutable
import scala.util.matching.Regex

import org.apache.spark.GraftMetricsHook
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.operators.SharedStage

/** Diagnostic main: one session, one task-metrics listener, five modes.
  *
  * Usage: runMain graft.Probe <mode> <sfDir> [args]
  *
  *   ab <sfDir> <repeats> <q1,q2,...>
  *       Order-controlled A/B for drift attribution — the PLANS.md
  *       protocol (quiet host, both run orders, >= 3 repeats) as one
  *       command. Runs the queries in the GIVEN order, then REVERSED,
  *       `repeats` timed repeats each, printing one line per repeat plus
  *       /proc/loadavg markers around each order block. A query slow
  *       only AFTER a neighbor is state/warm-up bleed (codegen, memory
  *       pressure); slow in both orders under low load1 is a real plan
  *       regression; lockstep drift with high load1 is co-tenancy. One
  *       query with `repeats` = N times it cold, then warm.
  *   stages <sfDir> <q1,q2,...>
  *       Per-stage profile — where the time actually goes, without the
  *       Spark UI. Runs each query cold then warm and prints its job
  *       and stage counts, then every stage's wall-clock, summed task
  *       time, task count, input/shuffle bytes and spill, sorted by wall
  *       time (the 25 longest).
  *   shuffle <sfDir> [outJson]
  *       Shuffle-volume audit of every registered query (artifact
  *       shuffle_audit.json, gated against shuffle_ref.json).
  *   plan <sfDir> [q1,q2,...]
  *       Formatted physical plans, to audit filters pushed to the scan,
  *       broadcast vs sort-merge joins, codegen spans and the absence
  *       of cartesian products.
  *   approx <sfDir> [sfDir...]
  *       agg_approx_percentiles' headroom under two source layouts.
  *
  * The timing modes (ab, stages) keep SharedStage cores between runs,
  * as Bench does: "warm" means a long-lived session. `shuffle` drops
  * them so each row carries its query's whole cost.
  */
object Probe {
  /** Task metrics summed over TaskEnd events. */
  final case class Cost(tasks: Long = 0, taskMs: Long = 0, input: Long = 0,
      shuffleWrite: Long = 0, shuffleRead: Long = 0, memSpill: Long = 0,
      diskSpill: Long = 0) {
    def +(o: Cost): Cost = Cost(tasks + o.tasks, taskMs + o.taskMs,
      input + o.input, shuffleWrite + o.shuffleWrite,
      shuffleRead + o.shuffleRead, memSpill + o.memSpill,
      diskSpill + o.diskSpill)
    def -(o: Cost): Cost = Cost(tasks - o.tasks, taskMs - o.taskMs,
      input - o.input, shuffleWrite - o.shuffleWrite,
      shuffleRead - o.shuffleRead, memSpill - o.memSpill,
      diskSpill - o.diskSpill)
  }

  final case class Stage(name: String = "", wallMs: Long = -1,
      cost: Cost = Cost())

  /** The run's task metrics: a running total, one row per stage and a
    * count of jobs, from the same events the Spark UI shows. Events
    * arrive asynchronously, so read through [[measure]], which drains
    * the listener bus first. */
  final class TaskMetrics extends SparkListener {
    private var sum = Cost()
    private val byStage = mutable.Map.empty[Int, Stage]
    private var nJobs = 0L
    def total: Cost = synchronized(sum)
    def stages: Map[Int, Stage] = synchronized(byStage.toMap)
    def jobs: Long = synchronized(nJobs)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      synchronized(nJobs += 1)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) synchronized {
        val c = Cost(1, m.executorRunTime, m.inputMetrics.bytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled,
          m.diskBytesSpilled)
        sum += c
        val st = byStage.getOrElse(e.stageId, Stage())
        byStage(e.stageId) = st.copy(cost = st.cost + c)
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val i = e.stageInfo
        val wall = for (a <- i.submissionTime; b <- i.completionTime)
          yield b - a
        // AQE submits each query stage from a future, so the call site
        // names nearly every stage after that future; the operator
        // scopes name the stage's scan, exchange or codegen stage.
        val scopes = GraftMetricsHook.scopeNames(i)
        val name =
          if (scopes.nonEmpty) scopes.mkString(" > ")
          else i.name.takeWhile(_ != '\n')
        byStage(i.stageId) = byStage.getOrElse(i.stageId, Stage()).copy(
          name = name.take(90),
          wallMs = wall.getOrElse(-1L))
      }
  }

  /** Runs `body` between two listener-bus drains and returns its result,
    * the task cost of everything it ran, and the stages it ran. Draining
    * first and last keeps a slow delivery from bleeding one query's
    * metrics into the next query's delta. */
  def measure[T](spark: SparkSession, metrics: TaskMetrics)(body: => T)
      : (T, Cost, Map[Int, Stage]) = {
    GraftMetricsHook.drainListenerBus(spark.sparkContext, 60000L)
    val (c0, s0) = (metrics.total, metrics.stages.keySet)
    val r = body
    GraftMetricsHook.drainListenerBus(spark.sparkContext, 60000L)
    (r, metrics.total - c0, metrics.stages -- s0)
  }

  /** One timed run: seconds, whether it succeeded, and the SharedStage
    * cores it built. */
  final case class Run(seconds: Double, ok: Boolean, coreBuilds: Int)

  /** The one timer of Bench, Probe and ScaleProbe: builds `df` and fully
    * materializes it through the `noop` sink — every column of every
    * row, no driver collect, no count-only pruning. A failure is logged
    * and returned as `ok = false`, never thrown. The clock stops before
    * the sweep that drops the run's dead blocks; `keepCores` keeps the
    * SharedStage cores for the next run, as a long-lived session
    * would. */
  def noopRun(spark: SparkSession, name: String, keepCores: Boolean = true)(
      df: => DataFrame): Run = {
    val b0 = SharedStage.totalBuilds(spark)
    val t0 = System.nanoTime()
    val ok =
      try { df.write.mode("overwrite").format("noop").save(); true }
      catch { case e: Throwable =>
        System.err.println(s"[run] $name failed: ${e.getMessage}")
        false
      }
    val dt = (System.nanoTime() - t0) / 1e9
    val built = SharedStage.totalBuilds(spark) - b0
    SharedStage.sweep(spark, keepCores)
    Run(dt, ok, built)
  }

  /** Host 1-minute load average, or -1 where /proc/loadavg is absent. */
  def load1: Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** A committed pin file as name -> value, one entry per match of
    * `entry` (group 1 the name, group 2 the value). Pins are only
    * comparable at their own scale factor: a missing or unreadable
    * file, or one pinned at another sf than `sfDir`, reads as empty. */
  def readPins(path: String, sfDir: String, entry: Regex)
      : Map[String, Double] =
    try {
      val s = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
      val pinSf = "\"sf\":\\s*\"([^\"]+)\"".r.findFirstMatchIn(s)
        .map(_.group(1)).getOrElse("")
      if (pinSf != sfDir) Map.empty
      else entry.findAllMatchIn(s)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    } catch { case _: Throwable => Map.empty }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: Probe <ab|stages|shuffle|plan|approx> <sfDir> [args]")
    val (sfDir, rest) = (args(1), args.drop(2).toSeq)
    val spark = GraftSession()
    val metrics = new TaskMetrics
    spark.sparkContext.addSparkListener(metrics)
    try args(0) match {
      case "ab" =>
        require(rest.size == 2, "usage: Probe ab <sfDir> <repeats> <q1,q2,...>")
        ab(spark, sfDir, rest(0).toInt, queryNames(rest.drop(1)))
      case "stages" => stages(spark, metrics, sfDir, queryNames(rest))
      case "shuffle" => shuffle(spark, metrics, sfDir,
        rest.headOption.getOrElse("shuffle_audit.json"))
      case "plan" => plan(spark, sfDir,
        if (rest.nonEmpty) queryNames(rest)
        else Seq("f1_pushdown_filter", "q1_agg", "q3_topk", "q5_join_agg",
          "j5_semi_join", "dedup_minhash_pairs", "emb_cosine_topk",
          "ev_tumbling", "members_doc", "menu_items_doc"))
      case "approx" => approx(spark, sfDir +: rest)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    } finally spark.stop()
  }

  private def queryNames(args: Seq[String]): Seq[String] = {
    val names = args.flatMap(_.split(",")).filter(_.nonEmpty)
    val bad = names.filterNot(SparkEntry.queries.contains)
    require(names.nonEmpty && bad.isEmpty,
      s"no or unknown queries: ${bad.mkString(",")}")
    names
  }

  private def ab(spark: SparkSession, sfDir: String, reps: Int,
      names: Seq[String]): Unit = {
    Tables.warmup(spark, sfDir)
    for ((order, tag) <- Seq((names, "given"), (names.reverse, "reversed"))) {
      println(f"[ab] order=$tag load1=$load1%.2f")
      for (r <- 1 to reps; q <- order) {
        val t = noopRun(spark, q)(SparkEntry.queries(q)(spark, sfDir))
        println(f"[ab] $tag rep=$r $q%-24s ${t.seconds}%8.3f s" +
          (if (t.ok) "" else " FAILED"))
      }
      println(f"[ab] order=$tag done load1=$load1%.2f")
    }
  }

  private def stages(spark: SparkSession, metrics: TaskMetrics,
      sfDir: String, names: Seq[String]): Unit = {
    def mb(b: Long): String = f"${b / 1048576.0}%8.1f"
    Tables.warmup(spark, sfDir)
    for (n <- names; tag <- Seq("cold", "warm")) {
      GraftMetricsHook.drainListenerBus(spark.sparkContext, 60000L)
      val j0 = metrics.jobs
      val (t, _, st) = measure(spark, metrics)(
        noopRun(spark, n)(SparkEntry.queries(n)(spark, sfDir)))
      val failed = if (t.ok) "" else " FAILED"
      println(f"\n===== $n $tag=${t.seconds}%.2fs$failed " +
        f"jobs=${metrics.jobs - j0} stages=${st.size} =====")
      println("  wall_ms task_ms tasks  input_MB  shRd_MB  shWr_MB spill_MB  stage")
      st.toSeq.sortBy(-_._2.wallMs).take(25).foreach { case (id, s) =>
        val c = s.cost
        println(f"  ${s.wallMs}%7d ${c.taskMs}%7d ${c.tasks}%5d " +
          f"${mb(c.input)} ${mb(c.shuffleRead)} ${mb(c.shuffleWrite)} " +
          f"${mb(c.memSpill + c.diskSpill)}  [$id] ${s.name}")
      }
    }
  }

  /** Shuffle-volume audit: runs every registered query once and
    * attributes, per query, the bytes that actually moved — input read
    * from parquet, shuffle written, shuffle read, and spill.
    *
    * Rationale: wall-clock benches (Bench) measure THIS host; at 1000
    * executors the dominant cost is the network, and the quantity that
    * predicts it is shuffle bytes as a fraction of input bytes. A query
    * whose plan LOOKS one-exchange can still move the whole corpus
    * twice (e.g. a wide pre-aggregation projection defeating map-side
    * combine); this audit measures it instead of trusting the plan
    * shape. The artifact is a per-query regression trap: a change that
    * silently doubles a query's shuffled bytes shows up here even when
    * local wall-clock hides it behind 32 fast cores.
    *
    * Attribution: each query runs inside [[measure]], and every query
    * runs self-contained — all persisted blocks, SharedStage cores
    * included, are swept between queries, so the next query pays for
    * (and is billed for) its own materializations; the sweep itself
    * moves no data. The untimed table warm-up keeps parquet footer
    * reads off the first query's input bytes. Spill is recorded
    * separately: non-zero spill at local scale flags a per-partition
    * working set that would OOM or thrash a real executor at 100 TB
    * partition sizes. */
  private def shuffle(spark: SparkSession, metrics: TaskMetrics,
      sfDir: String, outJson: String): Unit = {
    Tables.warmup(spark, sfDir)
    // Failed queries are recorded in the artifact, not just stderr:
    // the constrained-memory registry pass (r16 VERDICT item 4) runs
    // this same audit at a deliberately small heap, and "which queries
    // died and which spilled" IS that artifact's payload.
    val failed = mutable.LinkedHashMap.empty[String, String]
    val rows = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        // Static shuffle-exchange count from the FINAL DataFrame's
        // executed plan (fn may run whole jobs building it — loop
        // queries — so fn is called exactly once and the plan is read
        // off the same instance that is then executed), by node walk
        // (ExchangeCount: broadcasts and reuses do not count). Loop
        // queries whose registered frame is a checkpoint scan count 0
        // here (their exchanges ran inside the loop); the byte columns
        // carry their true cost. This is the registry-wide plan-shape
        // trap: a refactor that quietly adds an Exchange to a
        // one-shuffle query moves this number even when AQE/local
        // speed hides it from wall-clock.
        var exchanges = -1
        val (ok, cost, _) = measure(spark, metrics) {
          try {
            val df = fn(spark, sfDir)
            exchanges = ExchangeCount.shuffleExchanges(
              df.queryExecution.executedPlan)
            df.write.mode("overwrite").format("noop").save()
            true
          } catch { case e: Throwable =>
            System.err.println(s"[audit] $name failed: ${e.getMessage}")
            failed.put(name, s"${e.getClass.getSimpleName}: " +
              String.valueOf(e.getMessage).replaceAll("[\"\\\\\n\r]", " ")
                .take(160))
            false
          }
        }
        SharedStage.sweep(spark, keepCores = false)
        if (ok) Some((name, cost, exchanges)) else None
    }

    def fmtMB(b: Long): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(b / 1048576.0))
    // Standing reference gate (r16 VERDICT item 3): shuffle_ref.json
    // is a COMMITTED known-good audit (same format as this artifact's
    // "queries" map); any query whose shuffle-written bytes grow
    // >1.5x over its pin — with a 1 MB absolute floor so kilobyte
    // jitter from compression/codegen layout never flags — self-flags
    // in the artifact. Shuffle bytes predict the 1000-executor cost,
    // and they are deterministic enough to pin where wall-clock is
    // not. Discipline mirrors bench_ref: a flag means adjudicate the
    // plan change, then re-pin deliberately — never bump blind. Only
    // comparable at the pin's scale factor.
    val refShuffle = readPins("shuffle_ref.json", sfDir,
      ("\"([A-Za-z0-9_]+)\":\\s*\\{\"input_mb\":[^}]*" +
        "\"shuffle_write_mb\":\\s*([0-9.]+)").r)
    val flagged = rows.flatMap { case (n, c, _) =>
      val swMb = c.shuffleWrite / 1048576.0
      refShuffle.get(n).collect {
        case ref if swMb > ref * 1.5 && swMb - ref > 1.0 =>
          // Divide by max(ref, 1 MB): a 0.00 MB pin (111 of the
          // committed pins) would otherwise yield Infinity, which
          // String.format renders as a bare non-JSON token exactly
          // when the gate fires. Against the 1 MB floor the ratio
          // stays finite and reads as "MB over the floor".
          n -> (swMb / math.max(ref, 1.0))
      }
    }.sortBy(-_._2)
    def ratio(c: Cost): Double =
      if (c.input > 0) c.shuffleWrite.toDouble / c.input else 0.0
    val qjson = rows.map { case (n, c, ex) =>
      val r =
        if (c.input > 0)
          String.format(java.util.Locale.ROOT, "%.4f", Double.box(ratio(c)))
        else "0.0"
      s"""  "$n": {"input_mb": ${fmtMB(c.input)}, "shuffle_write_mb": ${fmtMB(c.shuffleWrite)}, "shuffle_read_mb": ${fmtMB(c.shuffleRead)}, "spill_mem_mb": ${fmtMB(c.memSpill)}, "spill_disk_mb": ${fmtMB(c.diskSpill)}, "tasks": ${c.tasks}, "exchanges": $ex, "shuffle_over_input": $r}"""
    }.mkString("{\n", ",\n", "\n}")
    val flaggedJson = flagged.map { case (n, r) =>
      "\"" + n + "\":" + String.format(java.util.Locale.ROOT, "%.2f",
        Double.box(r))
    }.mkString("{", ",", "}")
    val failedJson = failed.map { case (n, m) =>
      "\"" + n + "\": \"" + m + "\""
    }.mkString("{", ", ", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson),
      s"""{"sf": "$sfDir", "cpus": ${GraftSession.cpus}, """ +
        s""""ref_queries": ${refShuffle.size}, """ +
        s""""n_failed": ${failed.size}, "failed": $failedJson, """ +
        s""""flagged_vs_ref": $flaggedJson,\n"queries": $qjson\n}\n""")

    if (flagged.nonEmpty) {
      println(s"[audit] SHUFFLE REGRESSION vs shuffle_ref.json " +
        s"(${flagged.size} queries >1.5x pin):")
      flagged.foreach { case (n, r) =>
        println(f"[audit]   $n%-28s ${r}%.2fx pin") }
    } else if (refShuffle.nonEmpty)
      println(s"[audit] shuffle_ref gate: ${refShuffle.size} pins, " +
        "0 flagged")
    val zero = rows.count(_._2.shuffleWrite == 0)
    val spilled = rows.filter(r => r._2.memSpill + r._2.diskSpill > 0)
    println(s"[audit] sf=$sfDir queries=${rows.size} " +
      s"zero_shuffle=$zero spilling=${spilled.size}")
    println("[audit] top 25 by shuffle_write:")
    rows.sortBy(-_._2.shuffleWrite).take(25).foreach { case (n, c, _) =>
      println(f"[audit]   $n%-28s input=${fmtMB(c.input)}%9s MB  " +
        f"write=${fmtMB(c.shuffleWrite)}%9s MB  " +
        f"read=${fmtMB(c.shuffleRead)}%9s MB  w/in=${ratio(c)}%6.2f")
    }
    if (spilled.nonEmpty) {
      println("[audit] queries that spilled:")
      spilled.sortBy(r => -(r._2.memSpill + r._2.diskSpill)).foreach {
        case (n, c, _) => println(s"[audit]   $n mem=${fmtMB(c.memSpill)} " +
          s"MB disk=${fmtMB(c.diskSpill)} MB")
      }
    }
  }

  private def plan(spark: SparkSession, sfDir: String,
      names: Seq[String]): Unit =
    names.foreach { n =>
      println(s"\n========== $n ==========")
      println(SparkEntry.queries(n)(spark, sfDir).queryExecution
        .explainString(ExplainMode.fromString("formatted")))
    }

  /** How much headroom does agg_approx_percentiles' within_tol contract
    * have under different source partitionings? The oracle asserts the
    * boolean is TRUE, so any layout change to the scan feeding the GK
    * sketch must keep |ap−ex| within 10% of |ex| at EVERY scale factor.
    * Prints the observed relative error per group for the file-split
    * layout and a defaultParallelism round-robin spread, so the margin
    * is measured instead of assumed. */
  private def approx(spark: SparkSession, dirs: Seq[String]): Unit =
    for (d <- dirs; spread <- Seq(false, true)) {
      val base = Tables.lineitem(spark, d)
        .select("l_returnflag", "l_extendedprice")
      val l = if (spread)
        base.repartition(spark.sparkContext.defaultParallelism)
      else base
      val g = l.groupBy("l_returnflag").agg(
        expr("percentile(l_extendedprice, array(0.5D, 0.9D))").as("ex"),
        expr("approx_percentile(l_extendedprice, array(0.5D, 0.9D), 100)")
          .as("ap"))
      def relErr(i: Int) = abs(element_at(col("ap"), i) -
        element_at(col("ex"), i)) / abs(element_at(col("ex"), i))
      g.select(col("l_returnflag"), relErr(1), relErr(2))
        .collect().foreach { r =>
          println(f"$d spread=$spread flag=${r.getString(0)} " +
            f"p50=${r.getDouble(1)}%.5f p90=${r.getDouble(2)}%.5f")
        }
    }
}
