package layerbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

object Util {
  def sha256(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_))
      .mkString

  def sha256(s: String): String = sha256(s.getBytes(UTF_8))

  /** Order-independent digest of a result: row count plus the sha256 of
    * its rows serialized as JSON with columns sorted by name, then the
    * rows sorted. */
  def resultDigest(df: DataFrame): String = {
    val rows = df.select(df.columns.sorted.map(col): _*).toJSON.collect()
      .sorted
    s"${rows.length}:${sha256(rows.mkString("\n"))}"
  }

  private val opIds = new AtomicLong(0)
  def nextOp(): Long = opIds.incrementAndGet()

  def recursiveDelete(p: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(p)
    path.getFileSystem(new org.apache.hadoop.conf.Configuration())
      .delete(path, true)
  }

  /** Unpersist every cached RDD except live `SharedStage` cores, as
    * `graft.Bench` does between queries. */
  def sweep(spark: SparkSession): Unit = {
    val keep = graft.operators.SharedStage.liveRddIds(spark)
    spark.sparkContext.getPersistentRDDs.values
      .filterNot(r => keep(r.id)).foreach(_.unpersist(blocking = true))
  }

  def errorOf(t: Throwable): String =
    s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(200)}"
}

import Util._

/** The analytics path: registry queries built through
  * `SparkEntry.queries` and executed into the `noop` sink, one at a
  * time. One cold pass in the fresh session, `WarmupPasses` warm-up
  * passes, then `warmPasses(seconds)` warm passes, each pass in a
  * seeded order. */
object Registry extends Workload {
  /** A build-dominant keep-best plan whose `SharedStage` core is built
    * cold and reused warm (mm_image_keep_best), an execute-dominant
    * join (q5_join_agg) and two small plans. */
  val Queries: Seq[String] = Seq(
    "mm_image_keep_best", "q5_join_agg", "q1_agg", "j1_inner_join")

  /** Nominal time of one warm pass on a 4-core host. */
  val NominalPassS = 1.0

  /** Passes keep speeding up for several passes after the cold one
    * while the JIT compiles; these run untimed. */
  val WarmupPasses = 2

  /** The number of timed warm passes is fixed by `seconds`, not by the
    * clock, so every run takes its median over the same pass positions. */
  def warmPasses(seconds: Double): Int =
    math.max(2, math.round(seconds / NominalPassS).toInt)

  def run(spark: SparkSession, a: Main.Args, rng: scala.util.Random)
      : Map[String, Any] = {
    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    def runOne(q: String, phase: String, pass: Int): Unit = {
      val op = nextOp()
      val builds0 = graft.operators.SharedStage.totalBuilds(spark)
      val t0 = Clock.now
      var t1 = t0
      var err: String = null
      try Spans("query", op) {
        val df = Spans("queries.build") {
          graft.SparkEntry.queries(q)(spark, a.data)
        }
        t1 = Clock.now
        Spans("exec") { df.write.mode("overwrite").format("noop").save() }
      } catch { case t: Throwable => err = errorOf(t) }
      val t2 = Clock.now
      sweep(spark)
      ops += Map("kind" -> "query", "name" -> q, "phase" -> phase,
        "pass" -> pass, "op" -> op, "start" -> t0, "end" -> t2,
        "build_ms" -> (t1 - t0), "exec_ms" -> (t2 - t1),
        "shared_stage_builds" ->
          (graft.operators.SharedStage.totalBuilds(spark) - builds0),
        "ok" -> (err == null), "error" -> err)
    }

    def pass(phase: String, n: Int): Unit =
      rng.shuffle(Queries).foreach(runOne(_, phase, n))
    val start = Clock.now
    pass("cold", 0)
    (1 to WarmupPasses).foreach(pass("warmup", _))
    (1 to warmPasses(a.seconds)).foreach(i => pass("warm", WarmupPasses + i))
    val end = Clock.now

    val checks = Queries.sorted.map { q =>
      val got =
        try resultDigest(graft.SparkEntry.queries(q)(spark, a.data))
        catch { case t: Throwable => errorOf(t) }
      sweep(spark)
      Map("name" -> q, "got" -> got)
    }
    Map("window" -> Seq(start, end), "ops" -> ops.toSeq, "checks" -> checks)
  }
}

/** The three ETL delivery paths in one long-lived session, in order:
  *
  *  1. the cold batch import: `ImportJob.writeImportFiles` (one
  *     `mmj-<org>.json` per organization) plus one `writeImportDocsV2`
  *     store batch, the first operation of the fresh session;
  *  2. `ImportService` over loopback HTTP for `ServiceShare` of the
  *     run's seconds: one closed-loop client posts a seeded script (one
  *     400, one 404, extracts over org-0..org-4), while one open-loop
  *     prober thread sends `GET /healthcheck` on the reference's 5 s
  *     schedule, timed from when each probe was due;
  *  3. stream ingest for `StreamShare` of the run's seconds: a
  *     generator appends rows on a fixed schedule (open loop) to a
  *     memory stream running `dedupStream`, then `importClassifyStream`
  *     against a stored snapshot, into `Sinks.writeBatchIdempotent`; a
  *     drain of a fixed backlog follows;
  *  4. `warmImports` warm batch imports.
  *
  * Outputs are checked after all phases. */
object EtlPaths extends Workload {
  val ServiceShare = 0.1
  val StreamShare = 0.6
  override val warmupTables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "lineitem")

  def run(spark: SparkSession, a: Main.Args, rng: scala.util.Random)
      : Map[String, Any] = {
    recursiveDelete(s"${a.work}/import")
    val start = Clock.now
    val cold = ImportPhase.run(spark, a, Seq("cold"))
    val svc = ServicePhase.run(spark, a, rng, a.seconds * ServiceShare)
    val str = StreamPhase.run(spark, a, rng, a.seconds * StreamShare)
    val warm = ImportPhase.run(spark, a,
      Seq.fill(ImportPhase.warmImports(a.seconds))("warm"))
    val end = Clock.now
    val results = Seq(cold, svc, str, warm).map(_())
    Map("window" -> Seq(start, end),
      "ops" -> results.flatMap(_.getOrElse("ops", Nil)
        .asInstanceOf[Seq[Map[String, Any]]]),
      "checks" -> results.flatMap(_("checks")
        .asInstanceOf[Seq[Map[String, Any]]])) ++
      results.flatMap(_ - "ops" - "checks")
  }

  def diskBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum
  }
}

/** Each phase runs its timed part and returns the check to run after
  * the window, which yields the phase's fields of the record. */
object ImportPhase {
  /** Nominal time of one warm import on a 4-core host. */
  val NominalWarmS = 5.0

  /** As with the registry's warm passes, the number of warm imports is
    * fixed by `seconds`, not by the clock. */
  def warmImports(seconds: Double): Int =
    math.max(2, math.round(seconds / NominalWarmS).toInt)

  /** One import per entry of `phases`, each into fresh directories
    * under `<work>/import`. */
  def run(spark: SparkSession, a: Main.Args, phases: Seq[String])
      : () => Map[String, Any] = {
    val runs = phases.map(importOnce(spark, a, _))
    () => {
      val results = runs.map(_())
      Map("ops" -> results.map(_._1), "checks" -> results.flatMap(_._2),
        "import" -> results.head._3)
    }
  }

  /** One full import, `writeImportFiles` plus one `writeImportDocsV2`
    * store batch, into fresh directories named after its operation id.
    * Returns the check to run after the window: (op, checks, sizes). */
  def importOnce(spark: SparkSession, a: Main.Args, phase: String)
      : () => (Map[String, Any], Seq[Map[String, Any]], Map[String, Any]) = {
    val op = nextOp()
    val outDir = s"${a.work}/import/$op/out"
    val store = s"${a.work}/import/$op/store"
    val t0 = Clock.now
    var t1 = t0
    var err: String = null
    var files: Seq[String] = Nil
    try Spans("import", op) {
      files = Spans("import_job.files") {
        graft.jobs.ImportJob.writeImportFiles(spark, a.data, outDir)
      }
      t1 = Clock.now
      Spans("import_job.store") {
        graft.jobs.ImportJob.writeImportDocsV2(spark, a.data, store, 0L)
      }
    } catch { case t: Throwable => err = errorOf(t) }
    val t2 = Clock.now

    () => {
      import spark.implicits._
      val fileChecks = files.sorted.map { f =>
        val b = Files.readAllBytes(Paths.get(f))
        Map("name" -> s"import_${Paths.get(f).getFileName}",
          "got" -> sha256(b))
      }
      // The store batch read back through the connector.
      val docs = spark.read.format("graft-docs").load(store)
        .select("_id", "doc").as[(String, String)].collect().sortBy(_._1)
      (Map("kind" -> "import", "phase" -> phase, "pass" -> op, "op" -> op,
          "start" -> t0, "end" -> t2, "files_ms" -> (t1 - t0),
          "store_ms" -> (t2 - t1), "ok" -> (err == null), "error" -> err),
        fileChecks :+ Map("name" -> "import_store_docs",
          "got" -> sha256(docs.map(d => s"${d._1} ${d._2}").mkString("\n"))),
        Map("file_bytes" -> files.map(f => Files.size(Paths.get(f))).sum,
          "files" -> files.size,
          "store_disk_bytes" -> EtlPaths.diskBytes(store)))
    }
  }
}

object ServicePhase {
  val ProbeEveryMs = 5000L
  val HealthLimitMs = 2000.0

  final case class Reply(status: Int, body: String)

  def send(url: String, method: String, form: String): Reply = {
    val c = URI.create(url).toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    if (form != null) {
      c.setDoOutput(true)
      c.setRequestProperty("Content-Type",
        "application/x-www-form-urlencoded")
      val os = c.getOutputStream
      try os.write(form.getBytes(UTF_8)) finally os.close()
    }
    val status = c.getResponseCode
    val in = if (status >= 400) c.getErrorStream else c.getInputStream
    val body = if (in == null) "" else
      try new String(in.readAllBytes(), UTF_8) finally in.close()
    Reply(status, body)
  }

  /** The request script: (form body, expected status, check name). A
    * missing parameter (400) and an unknown organization (404) come
    * first in a seeded order among the first extracts; then extracts
    * for a seeded organization each. A 200 body plus the line end the
    * batch import's text writer adds must equal that organization's
    * `mmj-<org>.json` from the batch import. */
  def script(rng: scala.util.Random): Iterator[(String, Int, String)] = {
    def extract() = {
      val org = s"org-${rng.nextInt(5)}"
      (s"organization_id=$org&dispensary_id=d-${rng.nextInt(50)}", 200,
        s"import_mmj-$org.json")
    }
    rng.shuffle(Seq(("organization_id=org-1", 400, "body_400"),
        ("organization_id=org-99&dispensary_id=d-1", 404, "body_404"),
        extract())).iterator ++ Iterator.continually(extract())
  }

  def run(spark: SparkSession, a: Main.Args, rng: scala.util.Random,
      seconds: Double): () => Map[String, Any] = {
    val outDir = s"${a.work}/service_out"
    val store = s"${a.work}/service_store"
    Seq(outDir, store).foreach(recursiveDelete)
    Files.createDirectories(Paths.get(outDir))
    val ops = new ConcurrentLinkedQueue[Map[String, Any]]()
    val server = Spans("service.start") {
      graft.jobs.ImportService.start(spark, a.data, outDir, store)
    }
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    try {
      val start = Clock.now
      val deadline = start + seconds * 1000
      val stop = new AtomicBoolean(false)
      // A probe that is still waiting when the next one is due delays
      // that one's send, not its due time: latency counts from the due
      // time.
      val prober = new Thread(() => {
        var k = 0L
        while (!stop.get()) {
          val due = start + k * ProbeEveryMs
          while (!stop.get() && Clock.now < due)
            Thread.sleep(math.min(50L, math.max(1L, (due - Clock.now).toLong)))
          if (!stop.get()) {
            val sent = Clock.now
            val r = try send(s"$base/healthcheck", "GET", null)
              catch { case t: Throwable => Reply(-1, errorOf(t)) }
            val t1 = Clock.now
            Spans.record("service.health", 0L, sent, t1)
            ops.add(Map("kind" -> "health", "due" -> due, "start" -> sent,
              "end" -> t1, "latency_ms" -> (t1 - due),
              "over_limit" -> (t1 - due > HealthLimitMs),
              "ok" -> (r.status == 200), "status" -> r.status,
              "check" -> Map("name" -> "body_health",
                "got" -> sha256(r.body))))
          }
          k += 1
        }
      })
      prober.start()

      // At least the three scripted requests, so 400, 404 and an extract
      // are checked on every run.
      val requests = script(rng)
      var sent = 0
      while (sent < 3 || Clock.now < deadline) {
        val (form, want, check) = requests.next()
        val op = nextOp()
        val t0 = Clock.now
        val r = Spans("service.request", op) {
          try send(s"$base/import/extract", "POST", form)
          catch { case t: Throwable => Reply(-1, errorOf(t)) }
        }
        val t1 = Clock.now
        ops.add(Map("kind" -> "request", "op" -> op, "start" -> t0,
          "end" -> t1, "latency_ms" -> (t1 - t0), "status" -> r.status,
          "ok" -> (r.status == want),
          "check" -> Map("name" -> check, "got" ->
            sha256(if (want == 200) r.body + "\n" else r.body))))
        sent += 1
      }
      stop.set(true)
      prober.join()
    } finally server.stop(0)

    () => {
      val all = ops.asScala.toSeq.sortBy(_("start").asInstanceOf[Double])
      val served = all.count(o =>
        o("kind") == "request" && o("status") == 200)
      val stored = spark.read.format("graft-docs").load(store)
      val batches = stored.select("batch_id").distinct().count()
      Map("ops" -> all,
        "checks" -> Seq(Map("name" -> "service_store_batches",
          "got" -> batches.toString, "want" -> served.toString)),
        "service" -> Map("store_batches" -> batches))
    }
  }
}

object StreamPhase {
  val TickMs = 20L
  val RowsPerTick = 10
  val SnapshotRows = 20000
  val BacklogRows = 20000
  val DupShare = 0.1
  val WarmupShare = 0.2

  type Row = (Long, String, Timestamp, Double, String)

  def run(spark: SparkSession, a: Main.Args, rng: scala.util.Random,
      seconds: Double): () => Map[String, Any] = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val snapPath = s"${a.work}/stream_snapshot"
    val sink = s"${a.work}/stream_sink"
    val ckpt = s"${a.work}/stream_ckpt"
    Seq(snapPath, sink, ckpt).foreach(recursiveDelete)
    Spans("stream.snapshot") {
      (0 until SnapshotRows).map(i => (i.toLong, s"h$i")).toDF("id", "h")
        .coalesce(1).write.parquet(snapPath)
    }
    val snapshot = spark.read.parquet(snapPath)

    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Row]
    val commits = new java.util.concurrent.ConcurrentHashMap[Long, Double]()
    val writer = graft.sinks.Sinks.writeBatchIdempotent(sink) _
    val query = graft.streaming.EventStream.importClassifyStream(
        graft.streaming.EventStream.dedupStream(
          input.toDF().toDF("id", "h", "ts", "due_ms", "phase"),
          Seq("id"), "30 seconds"),
        snapshot)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, id: Long) =>
        Spans("stream.batch", id) { Spans("sinks.write") { writer(df, id) } }
        commits.put(id, Clock.now)
        ()
      }
      .start()

    // Row ids: a seeded draw over 1.5x the snapshot's id range, so
    // inserted, changed and unchanged rows all occur; a changed row
    // carries a different hash. DupShare of rows re-send a recent id.
    val sent = mutable.ArrayBuffer[Row]()
    var fresh = 0L
    def tick(due: Double, n: Int, phase: String): Unit = {
      val rows = (0 until n).map { _ =>
        if (sent.nonEmpty && rng.nextDouble() < DupShare) {
          val r = sent(sent.length - 1 - rng.nextInt(sent.length.min(50)))
          (r._1, r._2, new Timestamp(due.toLong), due, phase)
        } else {
          val id = fresh * 3 / 2 + rng.nextInt(2)
          fresh += 1
          val h = if (rng.nextDouble() < 0.3) s"h${id}x" else s"h$id"
          (id, h, new Timestamp(due.toLong), due, phase)
        }
      }
      sent ++= rows
      input.addData(rows)
    }

    val late = mutable.ArrayBuffer[Double]()
    var loopStart = 0.0
    var drainStart = 0.0
    try {
      Spans("stream.open_loop") {
        val start = Clock.now
        loopStart = start
        val loopEnd = start + seconds * 1000
        var k = 0L
        var due = start
        while (due < loopEnd) {
          val wait = (due - Clock.now).toLong
          if (wait > 0) Thread.sleep(wait)
          late += Clock.now - due
          tick(due, RowsPerTick, "loop")
          k += 1
          due = start + k * TickMs
        }
        query.processAllAvailable()
      }
      Spans("stream.drain") {
        drainStart = Clock.now
        tick(drainStart, BacklogRows, "drain")
        query.processAllAvailable()
      }
    } finally query.stop()

    () => {
      val got = spark.read.parquet(sink)
        .select("id", "h", "due_ms", "phase", "status", "batch_id")
        .as[(Long, String, Double, String, String, Long)].collect()
      // One entry per micro-batch that wrote open-loop rows: its commit
      // time and the due time of its oldest row. `run.py` takes one lag
      // sample per batch; batches holding rows due in the first
      // WarmupShare of the open loop meet the stream's first
      // compilations and are checked but not timed.
      val batches = got.filter(_._4 == "loop").groupBy(_._6).toSeq.sortBy(_._1)
        .map { case (id, rs) => Map("id" -> id, "commit" -> commits.get(id),
          "oldest_due" -> rs.map(_._3).min, "loop_rows" -> rs.length) }
      val drainEnd = got.filter(_._4 == "drain")
        .map(r => commits.get(r._6)).maxOption.getOrElse(drainStart)

      // Expected: the first row per id, classified in one batch pass.
      val firsts = sent.groupBy(_._1).values.map(_.head).toSeq
      val want = graft.streaming.EventStream.importClassifyStream(
          firsts.map(r => (r._1, r._2)).toDF("id", "h"), snapshot)
        .select("id", "status").as[(Long, String)].collect().toMap
      val have = got.groupBy(_._1)
      val lost = want.keySet.count(id => !have.contains(id))
      val dups = have.values.map(_.length - 1).sum
      val wrong = have.count { case (id, rs) =>
        !want.get(id).contains(rs.head._5) }
      def counts(xs: Iterable[String]) = xs.groupBy(identity).toSeq.sorted
        .map { case (st, n) => s"$st=${n.size}" }.mkString(",")
      Map(
        "checks" -> Seq(
          Map("name" -> "stream_status_counts", "got" -> counts(got.map(_._5)),
            "want" -> counts(want.values)),
          Map("name" -> "stream_lost_rows", "got" -> lost.toString,
            "want" -> "0"),
          Map("name" -> "stream_duplicate_rows", "got" -> dups.toString,
            "want" -> "0"),
          Map("name" -> "stream_misclassified_rows", "got" -> wrong.toString,
            "want" -> "0")),
        "stream" -> Map("rows" -> want.size, "failed_rows" -> (lost + dups + wrong),
          "batches" -> batches,
          "timed_from" -> (loopStart + seconds * 1000 * WarmupShare),
          "generator_late_ms" -> late.toSeq,
          "drain_rows" -> got.count(_._4 == "drain"),
          "drain_ms" -> (drainEnd - drainStart)))
    }
  }
}
