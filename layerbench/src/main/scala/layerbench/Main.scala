package layerbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: sets up one session in the fresh JVM, runs
  * one workload through the program's public entry points for a fixed
  * window, checks outputs after the window, and writes one raw JSON
  * record (operations, spans, listener events, checks, host context).
  * `run.py` turns that record into metrics.
  *
  * Usage: layerbench.Main <workload> <seed> <seconds> <trace 0|1>
  *   <cpus> <dataDir> <workDir> <outFile>
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, cpus: Int, data: String, work: String, out: String)

  def load1: Double =
    try Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** (steal, total) jiffies of all CPUs from /proc/stat: time the
    * hypervisor ran something else while this guest's CPUs were ready. */
  def cpuSteal: (Long, Long) =
    try {
      val f = Files.readString(Paths.get("/proc/stat")).linesIterator.next()
        .split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case _: Throwable => (0L, 0L) }

  private def procField(file: String, key: String): Double =
    try {
      val m = s"$key:\\s+(\\d+) kB".r
        .findFirstMatchIn(Files.readString(Paths.get(file)))
      m.map(_.group(1).toDouble / 1024.0).getOrElse(-1.0)
    } catch { case _: Throwable => -1.0 }

  /** The SQL confs `graft.Bench` sets, at `local[cpus]`. */
  def newSession(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("layerbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        "16k")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Touch each source table once, as `graft.Bench` does, so reader
    * and codegen initialization is not billed to the first operation. */
  def warmup(spark: SparkSession, dataDir: String, tables: Seq[String])
      : Unit =
    tables.foreach { t =>
      (if (t == "events") graft.Tables.events(spark, dataDir)
       else graft.Tables.table(spark, dataDir, t)).limit(1)
        .write.mode("overwrite").format("noop").save()
    }

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1).toLong, argv(2).toDouble, argv(3) == "1",
      argv(4).toInt, argv(5), argv(6), argv(7))
    val workload: Workload = a.workload match {
      case "registry_mix" => Registry
      case "etl_paths" => EtlPaths
      case other => throw new IllegalArgumentException(
        s"unknown workload $other")
    }
    val rec = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "cpus" -> a.cpus)
    val load0 = load1
    val steal0 = cpuSteal
    rec("jvm_s") = (Clock.now - java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime) / 1000.0

    // The set-up is cold: the JVM's first session pays class loading and
    // JIT, as a user's first session does.
    val t0 = Clock.now
    val spark = newSession(a.cpus)
    val t1 = Clock.now
    warmup(spark, a.data, workload.warmupTables)
    val t2 = Clock.now
    rec("setup") = Map("session_s" -> (t1 - t0) / 1000.0,
      "warmup_s" -> (t2 - t1) / 1000.0)

    val jobs = new JobListener
    val phases = new PhaseListener
    val streams = new StreamListener
    if (a.trace) {
      spark.sparkContext.addSparkListener(jobs)
      spark.listenerManager.register(phases)
      spark.streams.addListener(streams)
    }

    System.gc() // the workload starts from a collected heap
    val res = workload.run(spark, a, new scala.util.Random(a.seed))
    // Heap the program still holds once the workload is done: only live
    // objects (caches, shared stages, leaks). The pause lets Spark's
    // context cleaner drop blocks whose references the first collection
    // cleared; the second one frees them.
    System.gc()
    Thread.sleep(500)
    System.gc()
    rec("retained_heap_mb") = java.lang.management.ManagementFactory
      .getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    if (a.trace) {
      // Listener events arrive asynchronously: wait until none are new.
      def seen = jobs.jobs.size + jobs.stages.size + phases.execs.size +
        streams.progress.size
      var last = -1
      var waits = 0
      while (seen != last && waits < 50) {
        last = seen
        Thread.sleep(100)
        waits += 1
      }
      rec("spans") = Spans.all.map(_.toMap)
      rec("jobs") = jobs.jobs.asScala.toSeq
      rec("stages") = jobs.stages.asScala.toSeq
      rec("executions") = phases.execs.asScala.toSeq
      rec("progress") = streams.progress.asScala.toSeq
    }
    rec ++= res
    rec("host") = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "load1_before" -> load0, "load1_after" -> load1,
      "cpu_steal_frac" -> {
        val (s1, t1) = cpuSteal
        (s1 - steal0._1).toDouble / math.max(1L, t1 - steal0._2)
      },
      "mem_available_mb" -> procField("/proc/meminfo", "MemAvailable"),
      "xmx_mb" -> Runtime.getRuntime.maxMemory() / 1048576.0,
      "jvm_args" -> java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "rss_peak_mb" -> procField("/proc/self/status", "VmHWM"))
    rec("sql_conf") = spark.conf.getAll
    spark.stop()
    Files.writeString(Paths.get(a.out), Json(rec), UTF_8)
  }
}

/** One workload: runs for `a.seconds` and returns the fields it adds to
  * the record: `window` (start, end in epoch ms), `ops` (one map per
  * timed operation) and `checks` (output checks made after the window,
  * each with `name`, `got` and, where the expected value is computed in
  * the run rather than pinned, `want`). */
trait Workload {
  /** Tables the set-up touches: every source table by default. */
  val warmupTables: Seq[String] = graft.Tables.names
  def run(spark: SparkSession, a: Main.Args, rng: scala.util.Random)
      : Map[String, Any]
}
