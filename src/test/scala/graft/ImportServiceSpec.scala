package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.GraftMetricsHook
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.scalatest.BeforeAndAfterAll

import graft.jobs.{ImportJob, ImportService}

/** S8's runnable service twin (r19 VERDICT item 6): the reference's
  * Flask entry points (server.py:6-16) answered end-to-end over a real
  * loopback socket — healthcheck byte parity, the extract POST
  * returning the same payload bytes [[ImportJob.writeImportFiles]]
  * serializes, the mmj-<org>.json file artifact, the doc-store insert
  * leg landing one fresh batch per request, the 400/404/405 error
  * contract, a 404 answered from the organization spine, and a
  * healthcheck that does not wait behind a running extract. */
class ImportServiceSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  private val d = "/root/testdata/sf0.001"
  private var server: com.sun.net.httpserver.HttpServer = _
  private var base: String = _
  private var outDir: String = _
  private var store: String = _
  private val client = HttpClient.newHttpClient()

  override def beforeAll(): Unit = {
    super.beforeAll()
    outDir = java.nio.file.Files
      .createTempDirectory("graft-svc-out").toString
    store = java.nio.file.Files
      .createTempDirectory("graft-svc-store").toString + "/imports"
    server = ImportService.start(spark, d, outDir, store)
    base = s"http://127.0.0.1:${server.getAddress.getPort}"
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop(0)
    super.afterAll()
  }

  private def get(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"$base$path")).GET()
      .build(), HttpResponse.BodyHandlers.ofString())

  private def post(path: String, form: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"$base$path"))
      .header("Content-Type", "application/x-www-form-urlencoded")
      .POST(HttpRequest.BodyPublishers.ofString(form)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("GET /healthcheck returns the reference's exact body " +
      "(server.py:13-16)") {
    val r = get("/healthcheck")
    assert(r.statusCode() == 200)
    assert(r.body() == """{ "success": true, "status": 200 }""")
  }

  test("POST /import/extract returns the org's payload bytes, writes " +
      "the mmj-<org>.json artifact, and inserts one store batch per " +
      "request (server.py:6-11, etl_import.py:63-71)") {
    val r = post("/import/extract",
      "organization_id=org-1&dispensary_id=disp-9")
    assert(r.statusCode() == 200, s"extract failed: ${r.body()}")
    // response body == the serialization writeImportFiles pins
    import org.apache.spark.sql.functions._
    val want = ImportJob.payloads(spark, d)
      .filter(col("organizationId") === "org-1")
      .select(to_json(col("payload"),
        Map("ignoreNullFields" -> "false")))
      .as[String].collect().head
    assert(r.body() == want, "response body drifted from the payload")
    // file artifact parity (the reference's open().write leg)
    val fileBytes = java.nio.file.Files.readString(
      java.nio.file.Paths.get(outDir, "mmj-org-1.json"))
    assert(fileBytes == want, "file artifact drifted")
    // store insert leg: one batch, the content-hash id discipline
    val stored = spark.read.format("graft-docs").load(store)
      .as[(String, String, Long)].collect()
    assert(stored.length == 1 && stored.head._2 == want)
    // a second extraction of another org appends a NEW batch
    val r2 = post("/import/extract",
      "organization_id=org-2&dispensary_id=disp-9")
    assert(r2.statusCode() == 200)
    val batches = spark.read.format("graft-docs").load(store)
      .select("batch_id").as[Long].collect().toSet
    assert(batches == Set(0L, 1L), s"batches: $batches")
  }

  test("error contract: missing params 400, unknown org 404, wrong " +
      "method 405") {
    val missing = post("/import/extract", "organization_id=org-1")
    assert(missing.statusCode() == 400)
    // a bad percent-escape is the client's error too: the same 400 body
    val malformed = post("/import/extract",
      "organization_id=%zz&dispensary_id=d")
    assert(malformed.statusCode() == 400, malformed.body())
    assert(malformed.body() == missing.body())
    assert(post("/import/extract",
      "organization_id=org-999&dispensary_id=d").statusCode() == 404)
    assert(get("/import/extract").statusCode() == 405)
  }

  test("an unknown organization is answered from the spine alone: no " +
      "payload job, the same 404 body") {
    val sc = spark.sparkContext
    GraftMetricsHook.drainListenerBus(sc, 60000L)
    val jobs = new AtomicInteger
    val rows = new AtomicLong
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          rows.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    sc.addSparkListener(l)
    val r =
      try {
        val r = post("/import/extract",
          "organization_id=org-99&dispensary_id=d-1")
        GraftMetricsHook.drainListenerBus(sc, 60000L)
        r
      } finally sc.removeSparkListener(l)
    assert(r.statusCode() == 404)
    assert(r.body() == """{ "success": false, "status": 404, """ +
      """"error": "unknown organization_id" }""")
    // the region table alone: one job over its few rows
    assert(jobs.get == 1, s"${jobs.get} jobs")
    assert(rows.get <= Tables.region(spark, d).count(), s"${rows.get} rows")
  }

  test("a healthcheck sent during an extract returns before the " +
      "extract does") {
    val sc = spark.sparkContext
    GraftMetricsHook.drainListenerBus(sc, 60000L)
    // the spine check is the extract's first job, the payload plan's
    // jobs follow it
    val started = new CountDownLatch(2)
    val lastStart = new AtomicLong
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        lastStart.accumulateAndGet(e.time, math.max)
        started.countDown()
      }
    }
    sc.addSparkListener(l)
    try {
      val extract = client.sendAsync(
        HttpRequest.newBuilder(URI.create(s"$base/import/extract"))
          .header("Content-Type", "application/x-www-form-urlencoded")
          .POST(HttpRequest.BodyPublishers.ofString(
            "organization_id=org-3&dispensary_id=disp-1")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(started.await(120, TimeUnit.SECONDS), "the extract never ran")
      val h = get("/healthcheck")
      val answered = System.currentTimeMillis()
      assert(!extract.isDone, "the extract finished before the healthcheck")
      assert(h.statusCode() == 200)
      assert(extract.get(120, TimeUnit.SECONDS).statusCode() == 200)
      // on the server, too: the extract still started jobs after the
      // healthcheck was answered
      GraftMetricsHook.drainListenerBus(sc, 60000L)
      assert(lastStart.get > answered, "the healthcheck waited")
    } finally sc.removeSparkListener(l)
  }
}
