package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.jobs.ImportJob
import graft.sinks.Sinks

/** The DataSource V2 document store (`format("graft-docs")`), batch
  * write and batch read: commit protocol semantics — idempotent
  * replayed batches, the `_SUCCESS` gate, monotonic ids, a failed
  * replay that keeps the committed batch whole — schema enforcement,
  * the scan's batch_id pruning over Spark's JSON source (file packing,
  * splitting and statistics included), plus the ImportJob leg that
  * writes through it (r17 VERDICT item 3). */
class DocStoreV2Spec extends SparkSpec {
  import spark.implicits._

  private val DocSchema = StructType(Seq(
    StructField("_id", StringType, nullable = false),
    StructField("doc", StringType, nullable = true)))

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/store"

  private def readStore(path: String) =
    spark.read.schema(DocSchema).json(path)

  /** Runs `body` with the JSON source's file split target at `bytes`. */
  private def withSplitBytes[A](bytes: String)(body: => A): A = {
    val key = "spark.sql.files.maxPartitionBytes"
    spark.conf.set(key, bytes)
    try body finally spark.conf.unset(key)
  }

  private def scanPartitions(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2
        .BatchScanExec => b.inputPartitions.size
    }.head

  test("batch write lands under its batch_id partition and reads back " +
      "value-exactly, including JSON-hostile characters") {
    val store = tmp("graft-docs-batch")
    val docs = Seq(
      ("a1", """{"k":"plain"}"""),
      ("a2", "line1\nline2\t\"quoted\" \\slash ctl"),
      ("a3", null)).toDF("_id", "doc")
    docs.write.format("graft-docs")
      .option("path", store).option("batchId", 7L)
      .mode("append").save()
    val back = readStore(store)
    // the batch_id layout surfaces as a partition column for free
    assert(back.columns.toSet == Set("_id", "doc", "batch_id"))
    val rows = back.select("_id", "doc").as[(String, String)]
      .collect().toMap
    assert(rows == Map("a1" -> """{"k":"plain"}""",
      "a2" -> "line1\nline2\t\"quoted\" \\slash ctl",
      "a3" -> null),
      s"round-trip mismatch: $rows")
    assert(back.select("batch_id").distinct.as[Long].collect()
      .toSeq == Seq(7L))
  }

  test("a replayed batch id replaces its own partition; a new batch id " +
      "appends — the idempotent-restart contract") {
    val store = tmp("graft-docs-replay")
    def write(ids: Seq[String], batchId: Long): Unit =
      ids.map(i => (i, s"""{"v":"$i"}""")).toDF("_id", "doc")
        .write.format("graft-docs")
        .option("path", store).option("batchId", batchId)
        .mode("append").save()
    write(Seq("a", "b"), 0L)
    write(Seq("c"), 1L)
    val committed = readStore(store)
      .as[(String, String, Long)].collect().toSet
    assert(committed.map(r => (r._1, r._3)) ==
      Set(("a", 0L), ("b", 0L), ("c", 1L)))
    // replay batch 0 (retried job / restarted driver): store unchanged
    write(Seq("a", "b"), 0L)
    assert(readStore(store).as[(String, String, Long)].collect().toSet
      == committed, "replaying batch 0 changed the store")
    // a replayed batch REPLACES its partition — a shrunken recompute
    // cannot leave stale rows behind
    write(Seq("a"), 0L)
    assert(readStore(store).filter(col("batch_id") === 0L)
      .select("_id").as[String].collect().toSeq == Seq("a"),
      "replaced batch 0 left stale rows")
    // a crashed publish's orphaned swap dir (staged but never swapped)
    // is swept by the replayed publish of the same id
    val orphan = java.nio.file.Paths.get(store, "_staging",
      ".publish-0-deadbeef")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.writeString(orphan.resolve("part-x.jsonl"), "junk")
    write(Seq("a"), 0L)
    assert(!java.nio.file.Files.exists(orphan),
      "replayed publish did not sweep its crashed predecessor's orphan")
  }

  test("the fixed store schema is enforced at plan time") {
    val store = tmp("graft-docs-schema")
    val e = intercept[Exception] {
      Seq((1, "x")).toDF("id", "doc")
        .write.format("graft-docs").option("path", store)
        .mode("append").save()
    }
    assert(e.getMessage.contains("graft-docs serves"),
      s"wrong error: ${e.getMessage}")
    val e2 = intercept[Exception] {
      Seq(("a", "x")).toDF("_id", "doc")
        .write.format("graft-docs").mode("append").save()
    }
    assert(e2.getMessage.toLowerCase.contains("path"),
      s"wrong error: ${e2.getMessage}")
    // the connector is batch-only: a stream cannot start against it
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-docs-schema-ckpt").toString
    val e3 = intercept[Exception] {
      MemoryStream[(String, String)].toDF().toDF("_id", "doc")
        .writeStream.format("graft-docs")
        .option("path", store).option("checkpointLocation", ckpt)
        .start()
    }
    assert(e3.getMessage.contains("streamed writing"),
      s"wrong error: ${e3.getMessage}")
  }

  test("native read path: equals the raw-JSON read, prunes batch_id " +
      "partitions at the directory level, prunes columns, and keeps " +
      "_id predicates post-scan") {
    val store = tmp("graft-docs-read")
    for (b <- 0L to 2L)
      Seq((s"id-$b-1", s"doc-$b-1"), (s"id-$b-2", "x\n\"y\\z"))
        .toDF("_id", "doc")
        .write.format("graft-docs")
        .option("path", store).option("batchId", b)
        .mode("append").save()

    // full native read == the schema'd json read of the same layout
    val native = spark.read.format("graft-docs").load(store)
    assert(native.schema.fieldNames.toSeq ==
      Seq("_id", "doc", "batch_id"))
    assert(native.as[(String, String, Long)].collect().toSet ==
      readStore(store).as[(String, String, Long)].collect().toSet)

    // batch_id >= 1 must plan only the two matching directories'
    // files — pruning happens when the scan is built, not post-scan.
    // A 1-byte split target gives every stored byte its own partition,
    // so the partition count is a direct proxy for bytes planned.
    withSplitBytes("1") {
      val perFile = spark.read.format("graft-docs").load(store)
      val pruned = perFile.filter(col("batch_id") >= 1L)
      val scans = pruned.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2
          .BatchScanExec => b
      }
      assert(scans.nonEmpty, "no BatchScanExec in the native read plan")
      val all = perFile.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2
          .BatchScanExec => b
      }
      assert(scans.head.inputPartitions.size <
        all.head.inputPartitions.size,
        s"batch_id predicate did not prune partitions " +
          s"(${scans.head.inputPartitions.size} of " +
          s"${all.head.inputPartitions.size})")
      assert(pruned.select("batch_id").distinct.as[Long].collect()
        .toSet == Set(1L, 2L))
    }

    // column pruning: a projection narrower than the store schema
    assert(spark.read.format("graft-docs").load(store)
      .select("_id").as[String].collect().toSet ==
      (for (b <- 0 to 2; i <- 1 to 2) yield s"id-$b-$i").toSet)

    // a declined (_id) predicate still evaluates correctly post-scan
    assert(native.filter(col("_id") === "id-1-2")
      .select("doc").as[String].collect().toSeq == Seq("x\n\"y\\z"))
  }

  test("bin-packing: many tiny committed files collapse into few " +
      "partitions at a byte target; per-file parity holds " +
      "(r18 VERDICT item 4)") {
    val store = tmp("graft-docs-pack")
    // 12 batches × 1 tiny file — the many-tiny-micro-batch shape
    for (b <- 0L until 12L)
      Seq((s"p$b", s"v$b")).toDF("_id", "doc")
        .write.format("graft-docs")
        .option("path", store).option("batchId", b)
        .mode("append").save()
    def read() = spark.read.format("graft-docs").load(store)
    val packed = scanPartitions(read())
    assert(packed < 12,
      s"12 tiny files should pack into fewer partitions, got $packed")
    // at 1 byte the JSON source splits files; every target reads each
    // row once (a pack spanning batches keeps per-file batch_id)
    val split = withSplitBytes("1")(scanPartitions(read()))
    assert(split > 12, s"a 1-byte target should split files, got $split")
    val expect = (0L until 12L).map(b => (s"p$b", s"v$b", b)).sorted
    def rowsAt(t: Option[String]) = {
      def rows = read().as[(String, String, Long)].collect().toSeq
      t.fold(rows)(withSplitBytes(_)(rows))
    }
    for (t <- Seq(Some("1"), Some("60"), None))
      assert(rowsAt(t).sorted == expect,
        s"target $t changed the rows")
  }

  test("a batch without its _SUCCESS marker is invisible to reads") {
    val store = tmp("graft-docs-marker")
    Seq(("m0", "d0")).toDF("_id", "doc")
      .write.format("graft-docs")
      .option("path", store).option("batchId", 0L)
      .mode("append").save()
    // simulate a mid-publish/crashed batch: data file, no marker
    val partial = java.nio.file.Paths.get(store, "batch_id=1")
    java.nio.file.Files.createDirectories(partial)
    java.nio.file.Files.writeString(partial.resolve("part-x.jsonl"),
      """{"_id":"ghost","doc":"half"}""" + "\n")

    val seen = spark.read.format("graft-docs").load(store)
      .select("_id").as[String].collect().toSet
    assert(seen == Set("m0"), s"un-markered batch leaked into $seen")
  }

  test("a store with no committed batch reads as zero rows of the " +
      "store schema, whether its path is missing or its only batch " +
      "lacks the _SUCCESS marker") {
    val missing = tmp("graft-docs-missing")
    val unmarked = tmp("graft-docs-unmarked")
    val partial = java.nio.file.Paths.get(unmarked, "batch_id=0")
    java.nio.file.Files.createDirectories(partial)
    java.nio.file.Files.writeString(partial.resolve("part-x.jsonl"),
      """{"_id":"ghost","doc":"half"}""" + "\n")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(missing)))
    for (store <- Seq(missing, unmarked)) {
      val df = spark.read.format("graft-docs").load(store)
      assert(df.schema.map(f => (f.name, f.dataType)) == Seq(
        "_id" -> StringType, "doc" -> StringType, "batch_id" -> LongType),
        s"$store: ${df.schema}")
      assert(df.collect().isEmpty, s"$store read rows")
      assert(df.filter(col("batch_id") >= 0L).select("batch_id")
        .as[Long].collect().isEmpty, s"$store read batch ids")
    }
  }

  test("batch ids must be monotonic per store: a fresh id below the " +
      "max committed id is rejected at commit; replays pass " +
      "(r18 ADVICE)") {
    val store = tmp("graft-docs-monotonic")
    def write(id: String, b: Long): Unit =
      Seq((id, "d")).toDF("_id", "doc")
        .write.format("graft-docs")
        .option("path", store).option("batchId", b)
        .mode("append").save()
    write("a", 5L)
    val e = intercept[Exception] { write("late", 3L) }
    def msgs(t: Throwable): String = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).map(c => "" + c.getMessage).mkString(" | ")
    assert(msgs(e).contains("monotonically increasing"),
      s"wrong error: ${msgs(e)}")
    // the failed commit must not have published anything
    assert(spark.read.format("graft-docs").load(store)
      .select("batch_id").distinct.as[Long].collect().toSeq == Seq(5L))
    write("a", 5L) // replay of an existing id is legal
    write("b", 6L) // and the store continues forward
    assert(spark.read.format("graft-docs").load(store)
      .select("_id").as[String].collect().toSet == Set("a", "b"))
  }

  test("a replay that crashed between delete(dest) and swap is not " +
      "locked out by the monotonic guard (r19 ADVICE): the orphaned " +
      "staging dir is evidence of a prior replay") {
    val store = tmp("graft-docs-lockout")
    def write(id: String, b: Long): Unit =
      Seq((id, "d")).toDF("_id", "doc")
        .write.format("graft-docs")
        .option("path", store).option("batchId", b)
        .mode("append").save()
    write("a", 1L); write("b", 2L); write("c", 3L)
    // Simulate a replayed publish of id=2 that crashed AFTER moving
    // dest aside but BEFORE rename(tmp, dest): the id is gone from the
    // committed set (and below max=3), only its staged swap dir
    // remains.
    val dest = java.nio.file.Paths.get(store, "batch_id=2")
    def rmTree(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
    rmTree(dest)
    val orphan = java.nio.file.Paths.get(store, "_staging",
      ".publish-2-cafecafe")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.writeString(
      orphan.resolve("part-x.jsonl"), "junk")
    // The next replay of id=2 must publish, not trip the guard.
    write("b2", 2L)
    assert(!java.nio.file.Files.exists(orphan),
      "replay did not sweep its crashed predecessor's staging dir")
    assert(readStore(store).as[(String, String, Long)].collect()
      .toSet.map((r: (String, String, Long)) => (r._1, r._3)) ==
      Set(("a", 1L), ("b2", 2L), ("c", 3L)),
      "crashed replay's batch is permanently unpublishable")
  }

  test("a replayed publish that fails at any filesystem step keeps " +
      "the committed batch whole") {
    // Each step of the replay publish fails once, in order: the task
    // file's rename into the swap dir, the _SUCCESS create, moving the
    // old batch aside, and the swap rename.
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.failpublish.impl", classOf[FailingPublishFs].getName)
    conf.setBoolean("fs.failpublish.impl.disable.cache", true)
    try for (step <- FailingPublishFs.Steps) {
      val store = tmp(s"graft-docs-fail-$step")
      def write(ids: Seq[String]): Unit =
        ids.map(i => (i, s"d-$i")).toDF("_id", "doc")
          .write.format("graft-docs")
          .option("path", s"failpublish://$store").option("batchId", 0L)
          .mode("append").save()
      def read(): Set[(String, String, Long)] =
        spark.read.format("graft-docs").load(store)
          .as[(String, String, Long)].collect().toSet
      write(Seq("old1", "old2"))
      val before = read()
      assert(before.size == 2)
      FailingPublishFs.failing = step
      intercept[Exception](write(Seq("new1")))
      assert(FailingPublishFs.failing == "", s"$step: step not reached")
      assert(read() == before, s"$step: the committed batch changed")
      write(Seq("new1"))
      assert(read() == Set(("new1", "d-new1", 0L)),
        s"$step: a later replay did not publish")
    } finally {
      FailingPublishFs.failing = ""
      conf.unset("fs.failpublish.impl")
      conf.unset("fs.failpublish.impl.disable.cache")
    }
  }

  test("the scan reports its post-pruning size from commit metadata, " +
      "so store reads plan on their true bytes") {
    val store = tmp("graft-docs-stats")
    for (b <- 0L to 1L)
      Seq((s"s$b", "x" * 200)).toDF("_id", "doc")
        .write.format("graft-docs")
        .option("path", store).option("batchId", b)
        .mode("append").save()
    def sizeOf(df: org.apache.spark.sql.DataFrame): BigInt =
      df.queryExecution.optimizedPlan.stats.sizeInBytes
    val full = sizeOf(spark.read.format("graft-docs").load(store))
    // within 4x of the real on-disk bytes (Spark pads per-column),
    // and nowhere near the "unknown" default (spark.sql.defaultSizeInBytes
    // = Long.MaxValue) that would bar broadcast planning forever
    val onDisk = 2 * 220 // two ~220-byte jsonl files
    assert(full >= onDisk / 2 && full <= onDisk * 8L,
      s"scan stats $full not anchored to the ~$onDisk on-disk bytes")
    val pruned = sizeOf(spark.read.format("graft-docs").load(store)
      .filter(col("batch_id") === 0L))
    assert(pruned < full,
      s"batch_id pruning must shrink the estimate ($pruned vs $full)")
  }

  test("ImportJob writes through the connector: same ids and payload " +
      "bytes as Sinks.docId and to_json, replayed batch idempotent") {
    val d = "/root/testdata/sf0.001"
    val store = tmp("graft-docs-import")
    ImportJob.writeImportDocsV2(spark, d, store)
    val v2 = readStore(store).select("_id", "doc")
      .as[(String, String)].collect().toMap
    // the store form's exact (content-hash id, serialized payload)
    val expect = ImportJob.payloads(spark, d)
      .select(Sinks.docId(col("payload")).cast("string"),
        to_json(col("payload")))
      .as[(String, String)].collect().toMap
    assert(v2 == expect, "V2 store differs from the store-form contract")
    // replayed import (same batchId): byte-identical store
    ImportJob.writeImportDocsV2(spark, d, store)
    assert(readStore(store).select("_id", "doc")
      .as[(String, String)].collect().toMap == expect)
    // a new extraction stamp is a NEW batch — appends, never mutates
    ImportJob.writeImportDocsV2(spark, d, store, batchId = 1L,
      extractedEpoch = 1700000001L)
    val after = readStore(store)
    assert(after.count() == expect.size * 2L)
    assert(after.filter(col("batch_id") === 0L).count() == expect.size)
  }
}

/** The local file system under the `failpublish` scheme. The first
  * operation of the `graft-docs` publish step named by `failing` fails
  * (a rename returns false, the `_SUCCESS` create throws), then
  * `failing` clears, so every later operation works. */
class FailingPublishFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.Path
  override def getUri(): java.net.URI = java.net.URI.create("failpublish:///")
  override def getScheme(): String = "failpublish"
  private def fails(step: String, hit: Boolean): Boolean =
    FailingPublishFs.synchronized {
      val now = hit && FailingPublishFs.failing == step
      if (now) FailingPublishFs.failing = ""
      now
    }
  override def rename(src: Path, dst: Path): Boolean =
    !(fails("task-file", dst.getParent.getName.startsWith(".publish-")) ||
      fails("move-aside", src.getName.startsWith("batch_id=")) ||
      fails("swap", dst.getName.startsWith("batch_id="))) &&
      super.rename(src, dst)
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream =
    if (fails("marker", f.getName == "_SUCCESS"))
      throw new java.io.IOException(s"create $f failed")
    else super.create(f, overwrite, bufferSize, replication, blockSize,
      progress)
}

object FailingPublishFs {
  val Steps = Seq("task-file", "marker", "move-aside", "swap")
  @volatile var failing: String = ""
}
