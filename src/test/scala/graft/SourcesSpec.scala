package graft

import org.apache.spark.sql.functions._
import graft.sinks.Sinks

/** Source coverage beyond the parquet harness tables: schema evolution
  * across sink batches, the reference's JDBC read (tenant-filter
  * pushdown, latin-1 charset) and the pluggable media fetcher. */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("mergeSchema surfaces evolved columns, old files read as null") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ev")
      .toString + "/out"
    // Each Sinks.writeBatchIdempotent batch owns its batch_id=N files, so
    // a batch that adds a column leaves the earlier footers as written.
    Sinks.writeBatchIdempotent(dir)(Seq((1L, "a")).toDF("id", "v"), 0L)
    Sinks.writeBatchIdempotent(dir)(
      Seq((2L, "b", 9L)).toDF("id", "v", "added"), 1L)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
      .select("id", "v", "added", "batch_id")
      .as[(Long, String, Option[Long], Long)].collect().sortBy(_._1)
    assert(merged.toSeq ==
      Seq((1L, "a", None, 0L), (2L, "b", Some(9L), 1L)))
  }

  // --- JDBC (the reference's actual source modality, utils.py:24-31) ---
  // Embedded in-memory Derby (ships with the Spark distribution) stands
  // in for the reference's MySQL: same Spark JDBC relation, same
  // pushdown machinery.
  private lazy val jdbcUrl: String = {
    System.setProperty("derby.stream.error.file",
      System.getProperty("java.io.tmpdir") + "/derby.log")
    val url = "jdbc:derby:memory:graftjdbc;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute("DROP TABLE members") catch { case _: Exception => () }
      st.execute(
        "CREATE TABLE members (id BIGINT, dispensary_id BIGINT, " +
          "name VARCHAR(64))")
      val ps = conn.prepareStatement("INSERT INTO members VALUES (?, ?, ?)")
      (1 to 100).foreach { i =>
        ps.setLong(1, i.toLong)
        ps.setLong(2, if (i % 3 == 0) 42L else 7L)
        ps.setString(3, s"m$i")
        ps.executeUpdate()
      }
      ps.close(); st.close()
    } finally conn.close()
    url
  }

  test("jdbcTable reads partitioned and pushes the tenant filter down") {
    val df = Tables.jdbcTable(spark, jdbcUrl, "members",
        "id", 1L, 100L, 4, new java.util.Properties())
      .filter(col("dispensary_id") === 42L)
    // The tenant predicate must reach the source as a generated WHERE —
    // the reference hand-inlines `WHERE dispensary_id={id}`; here
    // Catalyst does it (PushedFilters on the JDBC scan node).
    val physical = df.queryExecution.executedPlan.toString.toLowerCase
    assert(physical.contains("pushedfilters") &&
      physical.contains("dispensary_id"),
      s"tenant filter not pushed into the JDBC scan:\n$physical")
    assert(physical.contains("numpartitions=4"),
      s"JDBC read not sharded:\n$physical")
    val rows = df.select("id", "name").as[(Long, String)].collect().sorted
    assert(rows.length == 33 && rows.forall { case (id, _) => id % 3 == 0 })
  }

  test("jdbcTable charset option is accepted (latin-1 source note)") {
    // members.py:22-23 ingests latin-1; the option lands as the MySQL
    // driver's characterEncoding property. Derby ignores unknown
    // properties, so this asserts the plumbing doesn't break the read.
    val df = Tables.jdbcTable(spark, jdbcUrl, "members",
        "id", 1L, 100L, 2, new java.util.Properties(),
        charset = Some("latin1"))
    assert(df.count() == 100)
  }

  test("jdbcTable round-trips actual latin-1 text (every 8-bit char " +
      "survives the scan)") {
    // The r11 stretch item: the charset option was only asserted as
    // accepted, never exercised against latin-1 BYTES. Derby is
    // Unicode-native (the encoding conversion a MySQL server would do
    // happens in its driver), so what this pins is the rest of the
    // path: non-ASCII survives PreparedStatement → store → Spark JDBC
    // partition read → InternalRow UTF-8 → collect, for every
    // printable ISO-8859-1 code point at once.
    val latin = "Café Müñoz ÀÉÎÕÜ ßàéîõü ¡¿§°±½" +
      (0xA1 to 0xFF).map(_.toChar).mkString
    // Self-check the fixture really is latin-1-representable.
    assert(new String(latin.getBytes("ISO-8859-1"), "ISO-8859-1") == latin)
    val conn = java.sql.DriverManager.getConnection(jdbcUrl)
    try {
      val st = conn.createStatement()
      try st.execute("DROP TABLE latin_docs")
      catch { case _: Exception => () }
      st.execute("CREATE TABLE latin_docs (id BIGINT, body VARCHAR(256))")
      st.close()
      val ps = conn.prepareStatement("INSERT INTO latin_docs VALUES (?, ?)")
      ps.setLong(1, 1L); ps.setString(2, latin)
      ps.executeUpdate(); ps.close()
    } finally conn.close()
    val got = Tables.jdbcTable(spark, jdbcUrl, "latin_docs",
        "id", 1L, 2L, 2, new java.util.Properties(),
        charset = Some("latin1"))
      .select("body").as[String].head()
    assert(got == latin,
      s"latin-1 text mangled by the JDBC path:\n got  $got\n want $latin")
  }

  test("fetchMedia streams each partition's URLs through the pluggable " +
      "transport: exact payloads, per-row fault isolation, size cap") {
    import graft.sources.MediaFetch
    // URLs built by the same template op the entity pipelines use.
    val urls = spark.range(0, 40).toDF("id")
      .select(graft.functions.Scalars.imageUrl("https://media.example",
        col("id"), "large", concat(lit("p"), col("id"), lit(".jpg")))
        .as("url"))
    val got = MediaFetch.fetchMedia(urls, "url", MediaFetch.fakeTransport)
      .as[(String, Array[Byte], Long, Boolean, String)].collect()
    assert(got.length == 40 && got.forall(_._4))
    // Closed-form payload check (the transport's contract), including
    // one payload much larger than blockSize — proving the 8192-block
    // loop reassembles multi-block bodies, not just one read().
    got.foreach { case (url, payload, n, _, _) =>
      val want = url.length * 700 % 100000
      assert(n == want && payload.length == want)
      assert(payload(0) == (url.length % 256).toByte)
      if (want > 1)
        assert(payload(want - 1) ==
          (((want - 1) * 31 + url.length) % 256).toByte)
    }
    assert(got.exists(_._3 > 8192), "fixture never exceeded one block")

    // A dead URL yields an error ROW; the stage (and its neighbors)
    // survive — the reference logs-and-continues, a task must too.
    val mixed = Seq("https://media.example/ok/1/large/a.jpg",
      "https://media.example/missing/2/large/b.jpg").toDF("url")
    val rows = MediaFetch.fetchMedia(mixed, "url",
        MediaFetch.fakeTransport)
      .as[(String, Array[Byte], Long, Boolean, String)]
      .collect().sortBy(_._1)
    // sorted by url: ".../missing/..." precedes ".../ok/...".
    assert(!rows(0)._4 && rows(1)._4)
    assert(rows(0)._5.contains("FileNotFoundException"))

    // Oversized payload → error row, not an OOM'd executor.
    val capped = MediaFetch.fetchMedia(
      Seq("https://media.example/ok/1/large/a.jpg").toDF("url"),
      "url", MediaFetch.fakeTransport, maxBytes = 16L)
      .as[(String, Array[Byte], Long, Boolean, String)].head()
    assert(!capped._4 && capped._5.contains("maxBytes"))

    // A transport that returns 0 bytes forever (a broken non-blocking
    // wrapper) must become an error ROW after the bounded zero-read
    // budget — not an infinitely spinning task.
    val stalling: MediaFetch.Transport = _ => new java.io.InputStream {
      override def read(): Int = 0
      override def read(b: Array[Byte], off: Int, len: Int): Int = 0
    }
    val stalled = MediaFetch.fetchMedia(
      Seq("https://media.example/ok/1/large/a.jpg").toDF("url"),
      "url", stalling)
      .as[(String, Array[Byte], Long, Boolean, String)].head()
    assert(!stalled._4 && stalled._5.contains("stalled"))
  }
}
