package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.GraftMetricsHook
import org.apache.spark.scheduler.{SparkListener,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

import graft.jobs.ImportJob

/** One extraction per batch import: the files leg extracts and
  * materializes both serialized forms, the store leg of the same import
  * writes them without reading a table, and every other case (a new
  * import, a rewritten input, a store-only call) extracts afresh. Both
  * outputs are byte-compared with an independent `to_json` over
  * [[ImportJob.payloads]]. */
class ImportSnapshotSpec extends SparkSpec {
  import spark.implicits._

  private val src = "/root/testdata/sf0.001"

  /** A private copy of the six tables the payload reads, so a test may
    * rewrite one. */
  private def inputs(): String = {
    val dir = Files.createTempDirectory("graft-snap-in")
    Seq("region", "nation", "customer", "supplier", "part", "lineitem")
      .foreach(t => Files.copy(Paths.get(src, s"$t.parquet"),
        dir.resolve(s"$t.parquet")))
    dir.toString
  }

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Input records that the tasks `body` ran read from files: those of
    * stages with a file scan (`FileScanRDD`) in their lineage. Spark
    * counts a read of materialized blocks as input too, so stages that
    * only read a snapshot are left out. */
  private def inputRows[T](body: => T): (T, Long) = {
    val sc = spark.sparkContext
    GraftMetricsHook.drainListenerBus(sc, 60000L)
    val scans = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val rows = new AtomicLong
    val l = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name == "FileScanRDD"))
          scans.add(e.stageInfo.stageId)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null && scans.contains(e.stageId))
          rows.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    sc.addSparkListener(l)
    try {
      val r = body
      GraftMetricsHook.drainListenerBus(sc, 60000L)
      (r, rows.get)
    } finally sc.removeSparkListener(l)
  }

  /** org → file bytes, as the text writer leaves them. */
  private def wantFiles(d: String, epoch: Long): Map[String, String] =
    ImportJob.payloads(spark, d, epoch)
      .select(col("organizationId"),
        to_json(col("payload"), Map("ignoreNullFields" -> "false")))
      .as[(String, String)].collect()
      .map { case (o, j) => s"mmj-$o.json" -> (j + "\n") }.toMap

  /** `_id` → store document. */
  private def wantDocs(d: String, epoch: Long): Map[String, String] =
    ImportJob.payloads(spark, d, epoch)
      .select(sha2(to_json(col("payload")), 256), to_json(col("payload")))
      .as[(String, String)].collect().toMap

  private def gotFiles(files: Seq[String]): Map[String, String] =
    files.map(f => Paths.get(f).getFileName.toString ->
      new String(Files.readAllBytes(Paths.get(f)), "UTF-8")).toMap

  private def gotDocs(store: String): Map[String, String] =
    spark.read.format("graft-docs").load(store).select("_id", "doc")
      .as[(String, String)].collect().toMap

  /** Ids of the context's persisted RDDs: a snapshot's blocks. */
  private def persisted(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private val epoch = ImportJob.PinnedExtractEpoch

  test("a files+store import reads its tables only in the files leg, " +
      "and both outputs equal to_json(payloads) in their forms") {
    val d = inputs()
    val store = tmp("graft-snap-store") + "/imports"
    val before = persisted()
    val (files, filesRows) =
      inputRows(ImportJob.writeImportFiles(spark, d, tmp("graft-snap-out")))
    val snapshot = persisted() -- before
    assert(snapshot.nonEmpty, "the files leg materialized nothing")
    val (_, storeRows) =
      inputRows(ImportJob.writeImportDocsV2(spark, d, store))
    assert(filesRows > 0L)
    assert(storeRows == 0L, s"the store leg read $storeRows input rows")
    assert((persisted() intersect snapshot).isEmpty,
      "the store leg kept the snapshot's blocks")
    assert(gotFiles(files) == wantFiles(d, epoch))
    assert(gotDocs(store) == wantDocs(d, epoch))
  }

  test("every import extracts again, even when the previous store leg " +
      "never ran") {
    val d = inputs()
    val store = tmp("graft-snap-store") + "/imports"
    val before = persisted()
    ImportJob.writeImportFiles(spark, d, tmp("graft-snap-out"))
    val first = persisted() -- before
    val (files, filesRows) =
      inputRows(ImportJob.writeImportFiles(spark, d, tmp("graft-snap-out")))
    assert(filesRows > 0L, "the second files leg reused earlier rows")
    assert((persisted() intersect first).isEmpty,
      "a replaced snapshot kept its blocks")
    val (_, storeRows) =
      inputRows(ImportJob.writeImportDocsV2(spark, d, store))
    assert(storeRows == 0L)
    // the slot is empty after a store leg: a second one extracts
    val (_, againRows) = inputRows(
      ImportJob.writeImportDocsV2(spark, d, store, batchId = 1L))
    assert(againRows > 0L)
    assert(gotFiles(files) == wantFiles(d, epoch))
    assert(gotDocs(store) == wantDocs(d, epoch))
  }

  test("an input table rewritten between the legs makes the store leg " +
      "extract again and store the new data") {
    val d = inputs()
    val store = tmp("graft-snap-store") + "/imports"
    val files = ImportJob.writeImportFiles(spark, d, tmp("graft-snap-out"))
    assert(files.size == 5)
    // drop one region, hence one organization, from the inputs
    val staged = tmp("graft-snap-region") + "/region.parquet"
    Tables.region(spark, d).filter(col("r_regionkey") =!= 4)
      .coalesce(1).write.parquet(staged)
    Files.delete(Paths.get(d, "region.parquet"))
    Files.move(Paths.get(staged), Paths.get(d, "region.parquet"))
    val (_, storeRows) =
      inputRows(ImportJob.writeImportDocsV2(spark, d, store))
    assert(storeRows > 0L, "the store leg wrote the stale snapshot")
    val want = wantDocs(d, epoch)
    assert(want.size == 4)
    assert(gotDocs(store) == want)
  }

  test("a store leg extracts by itself with no snapshot, or with one " +
      "from another data directory or stamp") {
    val d = inputs()
    val other = inputs()
    val alone = tmp("graft-snap-store") + "/imports"
    val (_, aloneRows) =
      inputRows(ImportJob.writeImportDocsV2(spark, d, alone))
    assert(aloneRows > 0L)
    assert(gotDocs(alone) == wantDocs(d, epoch))

    ImportJob.writeImportFiles(spark, other, tmp("graft-snap-out"))
    val (_, otherRows) =
      inputRows(ImportJob.writeImportDocsV2(spark, d, alone, batchId = 1L))
    assert(otherRows > 0L, "a snapshot of another directory was used")

    val stamped = tmp("graft-snap-store") + "/imports"
    ImportJob.writeImportFiles(spark, d, tmp("graft-snap-out"))
    val (_, stampRows) = inputRows(ImportJob.writeImportDocsV2(spark, d,
      stamped, extractedEpoch = epoch + 1L))
    assert(stampRows > 0L, "a snapshot of another stamp was used")
    assert(gotDocs(stamped) == wantDocs(d, epoch + 1L))
  }
}
