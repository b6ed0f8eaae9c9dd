package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory. Every main and the test suite build
  * their session here, so the oracle gate (Verify), the bench and the
  * specs run under the same confs; only the core count differs. */
object GraftSession {
  /** Local cores: SPARK_GRAFT_CPUS, default 32. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** Every conf a graft session is built with at `cpus` local cores. */
  def confs(cpus: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    // naive parquet timestamps are UTC instants (oracle parity):
    // read them as TIMESTAMP, not TIMESTAMP_NTZ
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    // events.parquet is TIMESTAMP(NANOS), which the parquet reader
    // rejects unless read as a long (Tables.events converts it)
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // AQE coalescing's BYTE floor (default 1m) decides post-shuffle
    // parallelism, but this engine's expensive stages are CPU-dense
    // and byte-light (set verify, pair scoring, demux) — at sf0.1 a
    // 1-2 MB exchange coalesced to ONE task serialized a 54 s verify
    // stage while 31 cores idled (StageProfile r21, guide §2.2/2.6).
    // A 16k floor lets parallelism-first coalescing actually reach
    // defaultParallelism on small exchanges; at production shuffle
    // sizes the size-based target dominates and this is a no-op.
    // Registry queries re-pin it per query (SparkEntry.withFloor).
    SparkEntry.MinPartKey -> SparkEntry.aqeFloor)

  def apply(cpus: Int = GraftSession.cpus): SparkSession = {
    val s = SparkSession.builder().appName("graft").config(confs(cpus))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
