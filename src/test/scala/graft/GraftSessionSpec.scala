package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftMetricsHook
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions.col

/** The session factory and the Probe listener, pinned: the test session
  * runs under the confs the mains run under, and Probe's per-query cost
  * is exactly the task metrics of the query it measured. */
class GraftSessionSpec extends SparkSpec {
  test("the test session carries every GraftSession conf; only the " +
      "cpus-derived master and shuffle partitions differ from the mains'") {
    // What the session was built with: the per-query AQE pin rewrites
    // the floor in the live SQL conf, the context's conf keeps it.
    val built = spark.sparkContext.getConf
    GraftSession.confs(cpus = 2).foreach { case (k, v) =>
      assert(built.getOption(k).contains(v), k)
    }
    val mains = GraftSession.confs(GraftSession.cpus)
    val differ = mains.collect {
      case (k, v) if !built.getOption(k).contains(v) => k
    }.toSet
    assert(differ.subsetOf(
      Set("spark.master", "spark.sql.shuffle.partitions")), differ)
  }

  test("Probe.measure's delta equals the task metrics of a two-stage " +
      "query run alone, after an earlier query") {
    assert(spark.streams.active.isEmpty, "a running stream adds tasks")
    val sc = spark.sparkContext
    val metrics = new Probe.TaskMetrics
    val raw = new ConcurrentLinkedQueue[SparkListenerTaskEnd]
    val rawListener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = raw.add(e)
    }
    sc.addSparkListener(metrics)
    try {
      // An earlier query, so the delta has a non-zero total to subtract.
      sc.parallelize(1 to 100, 4).map(i => (i % 3, i)).groupByKey().count()
      GraftMetricsHook.drainListenerBus(sc, 60000L)
      assert(metrics.total.tasks > 0)
      sc.addSparkListener(rawListener)
      val (_, cost, stages) = Probe.measure(spark, metrics) {
        sc.parallelize(1 to 1000, 3).map(i => (i % 5, 1))
          .reduceByKey(_ + _, 2).collect()
      }
      val events = raw.asScala.toSeq.map(_.taskMetrics)
      assert(stages.size == 2)
      assert(stages.values.map(_.cost.tasks).toSeq.sorted == Seq(2, 3))
      assert(cost.tasks == 5 && events.size == 5)
      assert(cost.shuffleWrite > 0)
      assert(cost.shuffleWrite ==
        events.map(_.shuffleWriteMetrics.bytesWritten).sum)
      assert(cost.shuffleRead ==
        events.map(_.shuffleReadMetrics.totalBytesRead).sum)
      assert(cost.taskMs == events.map(_.executorRunTime).sum)
      // An AQE DataFrame aggregation: AQE submits its stages from a
      // future, so they are named from their operator scopes, not from
      // that future's call site.
      val (_, _, aqe) = Probe.measure(spark, metrics) {
        spark.range(0, 1000, 1, 3).groupBy((col("id") % 5).as("k"))
          .count().collect()
      }
      val names = aqe.values.map(_.name).toSeq
      assert(names.nonEmpty && names.forall(!_.contains(" at ")), names)
      assert(names.exists(_.contains("Exchange")), names)
    } finally {
      sc.removeSparkListener(rawListener)
      sc.removeSparkListener(metrics)
    }
  }
}
