package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.GraftMetricsHook
import org.apache.spark.scheduler.{SparkListener,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._

import graft.jobs.ImportJob

/** One extraction per batch import: the files leg extracts and
  * materializes both serialized forms, the store leg of the same import
  * writes them without reading a table, and every other case (a new
  * import, a rewritten input, a store-only call) extracts afresh. Both
  * outputs are byte-compared with an independent `to_json` over
  * [[ImportJob.payloads]].
  *
  * One payload plan per input listing: repeated calls with the same
  * session, data directory, stamp and input files reuse the held plan
  * (their executions read the same relation instances) but still run
  * and read the tables; any other call, or a rewritten table, gets a
  * plan of its own. */
class ImportSnapshotSpec extends SparkSpec {
  import spark.implicits._

  private val src = "/root/testdata/sf0.001"

  /** A private copy of the six tables the payload reads, so a test may
    * rewrite one. */
  private def inputs(): String = copyOf(src)

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

  /** The file relations a plan reads: the same instances in two plans
    * mean the second reused the first's built plan. */
  private def relations(plan: LogicalPlan): Seq[AnyRef] = plan.collect {
    case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
      r.relation
  }

  private def sameRelations(a: Seq[AnyRef], b: Seq[AnyRef]): Boolean =
    a.nonEmpty && a.size == b.size && a.zip(b).forall(p => p._1 eq p._2)

  private def sharedRelations(a: Seq[AnyRef], b: Seq[AnyRef]): Boolean =
    a.exists(x => b.exists(_ eq x))

  /** The analyzed plans of the `localCheckpoint` executions `body`
    * ran: a files leg's extraction. */
  private def checkpointPlans[T](body: => T): (T, Seq[LogicalPlan]) = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val sc = spark.sparkContext
    GraftMetricsHook.drainListenerBus(sc, 60000L)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "localCheckpoint") plans.add(qe.analyzed)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val r = body
      GraftMetricsHook.drainListenerBus(sc, 60000L)
      (r, plans.toArray(Array.empty[LogicalPlan]).toSeq)
    } finally spark.listenerManager.unregister(l)
  }

  /** A fresh copy of the six tables of `d`: a directory no plan was
    * built for. */
  private def copyOf(d: String): String = {
    val dir = Files.createTempDirectory("graft-snap-in")
    Seq("region", "nation", "customer", "supplier", "part", "lineitem")
      .foreach { t =>
        val from = Paths.get(d, s"$t.parquet")
        Files.walk(from).forEach(f =>
          Files.copy(f, dir.resolve(s"$t.parquet")
            .resolve(from.relativize(f).toString)))
      }
    dir.toString
  }

  /** Replace table `t` of `d` with `df`'s rows, written aside first
    * (so `df` may read the table it replaces). */
  private def rewrite(d: String, t: String, df: DataFrame): Unit = {
    val staged = tmp("graft-snap-rewrite") + s"/$t.parquet"
    df.coalesce(1).write.parquet(staged)
    val old = Paths.get(d, s"$t.parquet")
    Files.walk(old).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
    Files.move(Paths.get(staged), old)
  }

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
    rewrite(d, "region",
      Tables.region(spark, d).filter(col("r_regionkey") =!= 4))
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

  test("two imports with unchanged inputs reuse the held payload plan, " +
      "and the second one still reads its input rows") {
    val d = inputs()
    val a = ImportJob.payloads(spark, d)
    val b = ImportJob.payloads(spark, d)
    assert(a.queryExecution ne b.queryExecution,
      "two calls share one QueryExecution")
    assert(sameRelations(relations(a.queryExecution.analyzed),
      relations(b.queryExecution.analyzed)), "the second call rebuilt")
    val ((_, firstPlans), _) = inputRows(checkpointPlans(
      ImportJob.writeImportFiles(spark, d, tmp("graft-snap-out"))))
    val ((files, secondPlans), secondRows) = inputRows(checkpointPlans(
      ImportJob.writeImportFiles(spark, d, tmp("graft-snap-out"))))
    assert(firstPlans.size == 1 && secondPlans.size == 1)
    assert(sameRelations(relations(firstPlans.head),
      relations(secondPlans.head)), "the second import rebuilt its plan")
    assert(sameRelations(relations(a.queryExecution.analyzed),
      relations(secondPlans.head)))
    assert(secondRows > 0L, "the second import read no input rows")
    assert(gotFiles(files) == wantFiles(copyOf(d), epoch))
  }

  test("a table rewritten between two imports (a region dropped, a " +
      "customer changed in place) makes the next import build a new " +
      "plan that writes the new data") {
    val d = inputs()
    val (_, before) = checkpointPlans(
      ImportJob.writeImportFiles(spark, d, tmp("graft-snap-out")))
    def importNow(): (Seq[String], String, Seq[LogicalPlan]) = {
      val store = tmp("graft-snap-store") + "/imports"
      val (files, plans) = checkpointPlans(
        ImportJob.writeImportFiles(spark, d, tmp("graft-snap-out")))
      ImportJob.writeImportDocsV2(spark, d, store)
      (files, store, plans)
    }

    rewrite(d, "region",
      Tables.region(spark, d).filter(col("r_regionkey") =!= 4))
    val (files, store, dropped) = importNow()
    assert(!sharedRelations(relations(before.head), relations(dropped.head)),
      "the import after the rewrite reused the stale plan")
    val fresh = copyOf(d)
    assert(files.size == 4)
    assert(gotFiles(files) == wantFiles(fresh, epoch))
    assert(gotDocs(store) == wantDocs(fresh, epoch))

    // one customer renamed, every other row and the row count unchanged
    val cust = Tables.customer(spark, d)
    val key = cust.agg(min("c_custkey")).as[Long].head()
    rewrite(d, "customer", cust.withColumn("c_name",
      when(col("c_custkey") === key, lit("Renamed Customer"))
        .otherwise(col("c_name"))))
    val (files2, store2, changed) = importNow()
    assert(!sharedRelations(relations(dropped.head),
      relations(changed.head)), "the import after the rewrite reused " +
      "the stale plan")
    val fresh2 = copyOf(d)
    assert(gotFiles(files2) == wantFiles(fresh2, epoch))
    assert(gotDocs(store2) == wantDocs(fresh2, epoch))
    assert(gotFiles(files2).values.exists(_.contains("Renamed Customer")))
  }

  test("another session, data directory or stamp never gets the held " +
      "payload plan") {
    val d = inputs()
    def rels(df: DataFrame) =
      relations(df.queryExecution.analyzed)
    // each check first makes (spark, d, epoch)'s plan the held one
    def held() = rels(ImportJob.payloads(spark, d))
    assert(sameRelations(held(), held()), "the same key did not reuse it")
    assert(!sharedRelations(held(),
      rels(ImportJob.payloads(spark.newSession(), d))),
      "another session reused it")
    assert(!sharedRelations(held(), rels(ImportJob.payloads(spark,
      inputs()))), "another data directory reused it")
    assert(!sharedRelations(held(), rels(ImportJob.payloads(spark, d,
      epoch + 1L))), "another stamp reused it")
  }
}
