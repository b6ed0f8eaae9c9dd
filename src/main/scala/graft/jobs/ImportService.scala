package graft.jobs

import java.net.InetSocketAddress
import java.net.URLDecoder
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** S8 — the reference's REST entry point, runnable end-to-end
  * (server.py:6-16): a minimal JDK-built-in HTTP service (zero new
  * dependencies, same `com.sun.net.httpserver` the loopback specs use)
  * wrapping [[ImportJob]]:
  *
  *  - `POST /import/extract` with a form-encoded body carrying
  *    `organization_id` and `dispensary_id` (server.py:8-11) runs the
  *    extract for that organization: the payload is serialized in the
  *    file form ([[ImportJob.fileJson]]), written to
  *    `outDir/mmj-<org>.json` (etl_import.py:63-64), appended to the
  *    `graft-docs` store as a fresh monotonic batch (the
  *    utils.py:123-146 insert leg, via the connector's commit
  *    protocol), and returned as the response body — the reference
  *    returns the serialized payload itself (etl_import.py:71).
  *    Missing parameters → 400; an unknown organization → 404 (the
  *    reference would 500 on a KeyError; a typed client error is the
  *    sane-semantics divergence, same policy as SURVEY §7.4).
  *  - `GET /healthcheck` returns the reference's exact body
  *    (server.py:13-16).
  *
  * Scoping note: the reference scopes entity extracts by
  * `dispensary_id` AND `organization_id`; the testdata model carries
  * only the organization axis (see [[ImportJob.productDocs]]'s
  * documented divergence), so `dispensary_id` is required for wire
  * parity but does not further scope.
  *
  * Handlers run on a small pool ([[HandlerThreads]]), not on the
  * server's dispatcher thread. Extracts serialize through one lock:
  * extraction writes a store batch, and the connector's contract is
  * single-writer per store. `/healthcheck`, 400, 404 and 405 replies
  * never take the lock, so they do not wait behind a running extract;
  * a 404 reads only the organization spine
  * ([[ImportJob.organizations]]). The driver-side collect is ONE row
  * (the requested org's payload). */
object ImportService {

  /** Handler threads: up to [[HandlerThreads]], daemon, and each exits
    * after [[HandlerIdleSeconds]] idle, so a stopped server leaves no
    * live thread behind. */
  private val HandlerThreads = 4
  private val HandlerIdleSeconds = 10L

  private def handlerPool(): java.util.concurrent.ExecutorService = {
    val n = new AtomicLong()
    val pool = new java.util.concurrent.ThreadPoolExecutor(
      HandlerThreads, HandlerThreads,
      HandlerIdleSeconds, java.util.concurrent.TimeUnit.SECONDS,
      new java.util.concurrent.LinkedBlockingQueue[Runnable](),
      (r: Runnable) => {
        val t = new Thread(r, s"import-service-${n.getAndIncrement()}")
        t.setDaemon(true)
        t
      })
    pool.allowCoreThreadTimeOut(true)
    pool
  }

  def start(spark: SparkSession, dataDir: String, outDir: String,
      store: String, port: Int = 0): HttpServer = {
    val server = HttpServer.create(
      new InetSocketAddress("127.0.0.1", port), 0)
    val lock = new Object
    // Resume past the store's committed history: a restarted service
    // must append fresh batches, not replay-overwrite batch 0.
    val committed = graft.sinks.GraftDocs.committedBatches(
      spark.sparkContext.hadoopConfiguration, store, Seq.empty)
    val nextBatch = new AtomicLong(
      if (committed.isEmpty) 0L else committed.map(_._1).max + 1L)

    def respond(ex: HttpExchange, status: Int, body: String): Unit = {
      val bytes = body.getBytes(UTF_8)
      ex.sendResponseHeaders(status, bytes.length.toLong)
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
      ex.close()
    }

    def formParams(ex: HttpExchange): Map[String, String] = {
      val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      body.split("&").iterator
        .map(_.split("=", 2))
        .collect { case Array(k, v) =>
          URLDecoder.decode(k, UTF_8) -> URLDecoder.decode(v, UTF_8) }
        .toMap
    }

    def notFound(ex: HttpExchange): Unit =
      respond(ex, 404, s"""{ "success": false, "status": 404, """ +
        s""""error": "unknown organization_id" }""")

    server.createContext("/healthcheck", (ex: HttpExchange) => {
      if (ex.getRequestMethod == "GET")
        respond(ex, 200, """{ "success": true, "status": 200 }""")
      else respond(ex, 405, """{ "success": false, "status": 405 }""")
    })

    server.createContext("/import/extract", (ex: HttpExchange) => {
      try {
        if (ex.getRequestMethod != "POST")
          respond(ex, 405, """{ "success": false, "status": 405 }""")
        else {
          // A bad escape (`%zz`) throws in URLDecoder: the client sent
          // no usable parameters, so it gets the 400 below.
          val params =
            try formParams(ex)
            catch {
              case _: IllegalArgumentException => Map.empty[String, String]
            }
          (params.get("organization_id"), params.get("dispensary_id"))
          match {
            case (Some(orgId), Some(_)) =>
              // An unknown org is answered from the spine alone; a known
              // one is re-checked by the extract itself.
              val known = !ImportJob.organizations(spark, dataDir)
                .filter(col("organizationId") === orgId).isEmpty
              if (known) lock.synchronized {
                ImportJob.described(spark,
                    s"ImportService extract: $orgId") {
                  val row = ImportJob.payloads(spark, dataDir)
                    .filter(col("organizationId") === orgId)
                    .select(ImportJob.fileJson(col("payload")))
                    .collect()
                  if (row.isEmpty) notFound(ex)
                  else {
                    val json = row(0).getString(0)
                    // etl_import.py:63-64 — the per-org file artifact
                    val dest = new org.apache.hadoop.fs.Path(
                      s"$outDir/mmj-$orgId.json")
                    val fs = dest.getFileSystem(
                      spark.sparkContext.hadoopConfiguration)
                    val os = fs.create(dest, true)
                    try os.write(json.getBytes(UTF_8)) finally os.close()
                    // utils.py:123-146 — the doc-store insert leg, one
                    // fresh monotonic batch per extraction request; the
                    // wire bytes are the document, `_id` their hash
                    import spark.implicits._
                    Seq(json).toDF("doc")
                      .select(ImportJob.jsonDoc(col("doc")): _*)
                      .write.format("graft-docs")
                      .option("path", store)
                      .option("batchId", nextBatch.getAndIncrement())
                      .mode("append").save()
                    respond(ex, 200, json)
                  }
                }
              }
              else notFound(ex)
            case _ =>
              respond(ex, 400,
                """{ "success": false, "status": 400, """ +
                  """"error": "organization_id and dispensary_id """ +
                  """are required" }""")
          }
        }
      } catch {
        case e: Exception =>
          respond(ex, 500,
            s"""{ "success": false, "status": 500, "error": """ +
              s""""${e.getClass.getSimpleName}" }""")
      }
    })
    server.setExecutor(handlerPool())
    server.start()
    server
  }
}
