package graft

import org.apache.spark.sql.functions._
import com.fasterxml.jackson.databind.JsonNode
import graft.jobs.ImportJob
import graft.sinks.Sinks

/** End-to-end import payload job (etl_import.py:21-64 parity — r14
  * VERDICT item 2) and the document-collection insert contract
  * (utils.py:123-146) for those payloads through the JDBC unique-id
  * insert, `Sinks.insertDocCollectionJdbc`.
  *
  * The payload files are golden BYTE-compared: sha256 pins over the
  * driver's seed-42 sf0.001 testdata (deterministic by construction —
  * pinned extraction stamp, id-sorted arrays, alphabetical keys), plus
  * structural assertions that diagnose WHAT drifted when a pin breaks:
  * file-per-org naming, sort_keys=True at every nesting level, and
  * count reconciliation against the oracle-green flattened entry. */
class ImportJobSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"
  private lazy val outDir =
    java.nio.file.Files.createTempDirectory("graft-mmj").toString
  private lazy val files = ImportJob.writeImportFiles(spark, d, outDir)

  test("writeImportFiles writes exactly one mmj-{org}.json per org") {
    assert(files.map(f => new java.io.File(f).getName).sorted ==
      (0 to 4).map(i => s"mmj-org-$i.json"),
      s"unexpected file set: $files")
  }

  test("every payload document is sort_keys=True at every level with " +
      "the reference's top-level shape") {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    def assertSorted(n: JsonNode, path: String): Unit = {
      if (n.isObject) {
        val names = {
          val it = n.fieldNames(); val b = Seq.newBuilder[String]
          while (it.hasNext) b += it.next()
          b.result()
        }
        assert(names == names.sorted,
          s"keys not sorted at $path: $names")
        names.foreach(k => assertSorted(n.get(k), s"$path.$k"))
      } else if (n.isArray) {
        (0 until n.size()).foreach(i =>
          assertSorted(n.get(i), s"$path[$i]"))
      }
    }
    files.foreach { f =>
      val root = om.readTree(new java.io.File(f))
      val top = {
        val it = root.fieldNames(); val b = Seq.newBuilder[String]
        while (it.hasNext) b += it.next()
        b.result()
      }
      assert(top == Seq("employees", "extractedDate", "imported",
        "members", "organizationId", "physicians", "products",
        "settings", "summary", "validated", "vendors"),
        s"top-level shape drifted in $f: $top")
      assertSorted(root, new java.io.File(f).getName)
      assert(root.get("extractedDate").asLong ==
        ImportJob.PinnedExtractEpoch)
      assert(!root.get("validated").asBoolean &&
        !root.get("imported").asBoolean)
      // zeroed summary block, one entry per entity (etl_import.py:33-58)
      val sum = root.get("summary")
      Seq("employees", "members", "physicians", "products", "settings",
        "vendors").foreach { e =>
        assert(sum.get(e).get("validated").asInt == 0)
        assert(sum.get(e).get("errors").size() == 0)
      }
    }
  }

  test("payload entity counts reconcile with the flattened oracle twin") {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val flat = SparkEntry.queries("payload_import")(spark, d).collect()
      .map(r => r.getString(r.fieldIndex("organization_id")) -> r).toMap
    files.foreach { f =>
      val root = om.readTree(new java.io.File(f))
      val orgId = root.get("organizationId").asText
      val row = flat(orgId)
      def n(c: String) = row.getLong(row.fieldIndex(c))
      assert(root.get("members").size() == n("n_members"))
      assert(root.get("employees").size() == n("n_employees"))
      assert(root.get("products").size() == n("n_products"))
      assert(root.get("vendors").size() == n("n_vendors"))
      assert(root.get("physicians").size() == n("n_physicians"))
      assert(root.get("settings").size() == n("n_settings"))
      // arrays are id-ascending (the payload's determinism contract)
      Seq("members", "employees", "products", "vendors", "physicians",
        "settings").foreach { e =>
        val ids = (0 until root.get(e).size())
          .map(i => root.get(e).get(i).get("id").asLong)
        assert(ids == ids.sorted, s"$e not id-sorted in $orgId")
      }
    }
  }

  test("golden byte-compare: payload files match their pinned sha256") {
    def sha(f: String): String = {
      val bytes = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(f))
      java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
        .map("%02x".format(_)).mkString
    }
    val actual = files.map(f => new java.io.File(f).getName -> sha(f))
    val pinned = Seq(
      "mmj-org-0.json" -> "851db00f6e7ba6542761651c1d839db35dff611c65aaa905f4a574ae77695472",
      "mmj-org-1.json" -> "6759294634551b35321d4d2cf1c6889739f81e59db483265e0f222f5dd6ae40c",
      "mmj-org-2.json" -> "d93ca06e9e0b3b9deb4f00f8cc22044e8e15e324b507633be6cff78437f9be08",
      "mmj-org-3.json" -> "935e7603d2477acac791ab28fb79554cbc3e477c598860793543f4acc29421f8",
      "mmj-org-4.json" -> "5a2760455575dd4607f72b9177e6a88f34a9e3505fa87f0c2c9bf617667a6f4c")
    assert(actual == pinned,
      s"payload bytes drifted; actual pins:\n${actual.map(p =>
        "\"" + p._1 + "\" -> \"" + p._2 + "\",").mkString("\n")}")
  }

  test("an organization with no entities gets a payload with EMPTY " +
      "entity lists, not nulls (the reference extract returns [])") {
    // The sf0.001 testdata populates every org, so the typed-empty-
    // array coalesce would otherwise be dead code in tests. Synthesize
    // a table dir whose region table carries an extra region 9 with no
    // nations/customers/suppliers/parts behind it.
    val dir = java.nio.file.Files
      .createTempDirectory("graft-emptyorg").toString
    val src = "/root/testdata/sf0.001"
    graft.Tables.names.filter(_ != "region").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    val reg = spark.read.parquet(s"$src/region.parquet")
    val extra = reg.limit(1).select(
      lit(9).cast(reg.schema("r_regionkey").dataType).as("r_regionkey")
        +: reg.schema.fieldNames.filter(_ != "r_regionkey")
          .map(c => reg.col(c)): _*)
    reg.unionByName(extra.select(reg.columns.map(col): _*))
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    val p9 = ImportJob.payloads(spark, dir)
      .filter(col("organizationId") === "org-9").collect()
    assert(p9.length == 1, "org-9 payload row missing")
    val payload = p9.head.getStruct(p9.head.fieldIndex("payload"))
    Seq("members", "employees", "products", "vendors", "physicians",
      "settings").foreach { e =>
      val arr = payload.getSeq[Any](payload.fieldIndex(e))
      assert(arr != null && arr.isEmpty,
        s"$e must be an EMPTY list for an empty org, got $arr")
    }
    val flat = ImportJob.flattenedSummary(spark, dir)
      .filter(col("organization_id") === "org-9").collect().head
    Seq("n_members", "n_employees", "n_products", "n_vendors",
      "n_physicians", "n_settings").foreach(c =>
      assert(flat.getLong(flat.fieldIndex(c)) == 0L, s"$c nonzero"))
    // and the file contract writes mmj-org-9.json with "members":[]
    val out = java.nio.file.Files
      .createTempDirectory("graft-emptyorg-out").toString
    val files = ImportJob.writeImportFiles(spark, dir, out)
    assert(files.exists(_.endsWith("mmj-org-9.json")))
    val body = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(files.find(_.endsWith("mmj-org-9.json")).get)))
    assert(body.contains("\"members\":[]") &&
      body.contains("\"settings\":[]"), body.take(200))
  }

  test("writeImportFiles throws when renaming a part file to its " +
      "mmj-{org}.json fails, and the stage's part files survive") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.failrename.impl", classOf[FailingRenameFs].getName)
    conf.setBoolean("fs.failrename.impl.disable.cache", true)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-mmj-rename").toString
    try {
      val e = intercept[java.io.IOException](
        ImportJob.writeImportFiles(spark, d, s"failrename://$dir"))
      assert(e.getMessage.contains("part-") && e.getMessage.contains("mmj-"),
        e.getMessage)
      val parts = java.nio.file.Files.walk(
          java.nio.file.Paths.get(dir, "_stage"))
        .filter(p => p.getFileName.toString.startsWith("part-"))
        .count()
      assert(parts == 5, s"expected the 5 orgs' part files, found $parts")
    } finally {
      conf.unset("fs.failrename.impl")
      conf.unset("fs.failrename.impl.disable.cache")
    }
  }

  test("a failed part-file rename keeps every org's previous " +
      "mmj-{org}.json in place") {
    // The third org's rename fails after the first two orgs' new files
    // are already in place: those two must move back as well.
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.failpartrename.impl", classOf[FailingPartRenameFs].getName)
    conf.setBoolean("fs.failpartrename.impl.disable.cache", true)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-mmj-keep").toString
    def file(i: Int) = java.nio.file.Paths.get(dir, s"mmj-org-$i.json")
    (0 to 4).foreach(i =>
      java.nio.file.Files.write(file(i), s"previous $i".getBytes("UTF-8")))
    try {
      val e = intercept[java.io.IOException](
        ImportJob.writeImportFiles(spark, d, s"failpartrename://$dir"))
      assert(e.getMessage.contains("mmj-org-2.json"), e.getMessage)
      (0 to 4).foreach { i =>
        assert(java.nio.file.Files.exists(file(i)), s"mmj-org-$i.json gone")
        assert(new String(java.nio.file.Files.readAllBytes(file(i)),
          "UTF-8") == s"previous $i", s"mmj-org-$i.json changed")
      }
    } finally {
      conf.unset("fs.failpartrename.impl")
      conf.unset("fs.failpartrename.impl.disable.cache")
    }
  }

  test("every job of writeImportFiles carries the files leg's job " +
      "description, and the caller's description comes back after it") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        descs.add(String.valueOf(
          e.properties.getProperty("spark.job.description")))
    }
    val out = java.nio.file.Files
      .createTempDirectory("graft-mmj-desc").toString
    org.apache.spark.GraftMetricsHook.drainListenerBus(sc, 60000L)
    sc.setJobDescription("the caller's")
    sc.addSparkListener(l)
    try {
      ImportJob.writeImportFiles(spark, d, out)
      org.apache.spark.GraftMetricsHook.drainListenerBus(sc, 60000L)
      assert(sc.getLocalProperty("spark.job.description") == "the caller's")
    } finally {
      sc.removeSparkListener(l)
      sc.setJobDescription(null)
    }
    val seen = descs.toArray.toSeq.map(_.toString)
    assert(seen.nonEmpty, "no job started")
    assert(seen.forall(_.startsWith("ImportJob files leg")),
      s"jobs without the files leg's description: ${seen.distinct}")
  }

  test("document-collection insert contract: content-hash unique ids, " +
      "idempotent replay, append-only growth (utils.py:123-146)") {
    // Embedded in-memory Derby with a PRIMARY KEY on `_id` stands in for
    // the reference's MongoDB unique index.
    System.setProperty("derby.stream.error.file",
      System.getProperty("java.io.tmpdir") + "/derby.log")
    val url = "jdbc:derby:memory:graftimportpk;create=true"
    def sql[T](f: java.sql.Connection => T): T = {
      val conn = java.sql.DriverManager.getConnection(url)
      try f(conn) finally conn.close()
    }
    sql { c =>
      val st = c.createStatement()
      try st.execute("DROP TABLE imports") catch { case _: Exception => () }
      st.execute("""CREATE TABLE imports (
        "_id" VARCHAR(64) PRIMARY KEY, "doc" CLOB)""")
      st.close()
    }
    def stored(): Seq[(String, String)] = sql { c =>
      val rs = c.createStatement()
        .executeQuery("""SELECT "_id", "doc" FROM imports""")
      val b = Seq.newBuilder[(String, String)]
      while (rs.next()) b += ((rs.getString(1), rs.getString(2)))
      b.result()
    }
    val payloads = ImportJob.payloads(spark, d)
    // first insert: all five org payloads land with distinct ids
    val n1 = Sinks.insertDocCollectionJdbc(payloads, col("payload"), url,
      "imports")
    assert(n1 == 5L, s"first insert appended $n1 of 5")
    val stored1 = stored()
    assert(stored1.map(_._1).distinct.length == 5,
      "_id collision in store after first insert")
    // replayed batch (restart between write and ack): zero appended,
    // store unchanged — the content-hash inversion of the reference's
    // regenerate-until-unique loop
    val n2 = Sinks.insertDocCollectionJdbc(payloads, col("payload"), url,
      "imports")
    assert(n2 == 0L, s"replay appended $n2 docs — not idempotent")
    assert(stored().length == 5)
    // a genuinely new document (different extraction stamp ⇒ different
    // payload bytes ⇒ different hash) appends without touching the rest
    val n3 = Sinks.insertDocCollectionJdbc(
      ImportJob.payloads(spark, d, extractedEpoch = 1700000001L)
        .filter(col("organizationId") === "org-0"),
      col("payload"), url, "imports")
    assert(n3 == 1L)
    val after = stored()
    assert(after.length == 6 && after.map(_._1).distinct.length == 6)
    assert(stored1.toSet.subsetOf(after.toSet), "earlier docs were touched")
    // round trip: stored docs are the exact serialized payloads
    val expect = payloads
      .select(to_json(col("payload")).as("doc")).collect()
      .map(_.getString(0)).sorted
    val got = stored1.map(_._2).sorted
    assert(got == expect.toSeq, "stored docs differ from payloads")
  }
}

/** The local file system under the `failrename` scheme, whose `rename`
  * into an `mmj-*` name reports failure by returning false, as Hadoop
  * file systems do. Every other rename (the write's own commit) works. */
class FailingRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri(): java.net.URI = java.net.URI.create("failrename:///")
  override def getScheme(): String = "failrename"
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean =
    !dst.getName.startsWith("mmj-") && super.rename(src, dst)
}

/** The local file system under the `failpartrename` scheme, whose
  * `rename` of a `part-` file to `mmj-org-2.json` reports failure by
  * returning false. Every other rename works, so the orgs renamed before
  * it, and moved-aside files, can move back. */
class FailingPartRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri(): java.net.URI =
    java.net.URI.create("failpartrename:///")
  override def getScheme(): String = "failpartrename"
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean =
    !(src.getName.startsWith("part-") &&
      dst.getName == "mmj-org-2.json") && super.rename(src, dst)
}
