package layerbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same axis as the epoch-ms times Spark's listener events carry. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** Minimal JSON writer for the raw run record (maps, sequences,
  * numbers, strings, booleans and null). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => str(other.toString)
  }
}

/** One timed interval recorded by the harness around its own call into
  * a layer. Spans of one operation share `op`; `parent` is the span
  * that caused this one (0 at the root). */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    start: Double, end: Double) {
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent,
    "op" -> op, "name" -> name, "start" -> start, "end" -> end)
}

/** In-memory span recorder. The parent of a new span is the innermost
  * open span on the same thread; the whole list is written out once,
  * when the run ends. */
object Spans {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  /** Run `body` inside a span named `name`. `op` defaults to the
    * enclosing span's operation id. */
  def apply[T](name: String, op: Long = -1L)(body: => T): T = {
    val outer = stack.get()
    val opId =
      if (op >= 0) op else outer.headOption.map(_._2).getOrElse(0L)
    val id = ids.incrementAndGet()
    stack.set((id, opId) :: outer)
    val t0 = Clock.now
    try body
    finally {
      done.add(Span(id, outer.headOption.map(_._1).getOrElse(0L), opId,
        name, t0, Clock.now))
      stack.set(outer)
    }
  }

  /** Record an interval measured elsewhere (another thread's clock
    * reads) as a root span. */
  def record(name: String, op: Long, start: Double, end: Double): Unit =
    done.add(Span(ids.incrementAndGet(), 0L, op, name, start, end))

  def all: Seq[Span] = done.asScala.toSeq.sortBy(_.start)
}

/** The three Spark public-API listeners of a traced run. They only
  * append to in-memory queues; the record is assembled when the run
  * ends. */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobStarts =
    scala.collection.concurrent.TrieMap.empty[Int, (Long, Boolean)]
  private val stageTasks =
    scala.collection.concurrent.TrieMap.empty[Int, Array[Double]]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val shared = e.stageInfos.exists(_.details.contains(
      "graft.operators.SharedStage"))
    jobStarts.put(e.jobId, (e.time, shared))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStarts.remove(e.jobId).foreach { case (t0, shared) =>
      jobs.add(Map("id" -> e.jobId, "start" -> t0.toDouble,
        "end" -> e.time.toDouble, "shared_stage" -> shared,
        "ok" -> (e.jobResult == JobSucceeded)))
    }

  // Per stage: tasks, run ms, cpu ms, gc ms, input bytes, input rows,
  // shuffle read/write bytes, spill bytes, max task run ms, output bytes.
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = stageTasks.getOrElseUpdate(e.stageId, new Array[Double](11))
      a.synchronized {
        a(0) += 1
        a(1) += m.executorRunTime
        a(2) += m.executorCpuTime / 1e6
        a(3) += m.jvmGCTime
        a(4) += m.inputMetrics.bytesRead
        a(5) += m.inputMetrics.recordsRead
        a(6) += m.shuffleReadMetrics.totalBytesRead
        a(7) += m.shuffleWriteMetrics.bytesWritten
        a(8) += m.memoryBytesSpilled + m.diskBytesSpilled
        a(9) = a(9).max(m.executorRunTime.toDouble)
        a(10) += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val a = stageTasks.remove(i.stageId).getOrElse(new Array[Double](11))
    stages.add(Map("id" -> i.stageId,
      "start" -> i.submissionTime.map(_.toDouble).orNull,
      "end" -> i.completionTime.map(_.toDouble).orNull,
      "tasks" -> a(0), "run_ms" -> a(1), "cpu_ms" -> a(2), "gc_ms" -> a(3),
      "input_bytes" -> a(4), "input_rows" -> a(5),
      "shuffle_read_bytes" -> a(6), "shuffle_write_bytes" -> a(7),
      "spill_bytes" -> a(8), "max_task_ms" -> a(9),
      "output_bytes" -> a(10)))
  }
}

/** Catalyst phase times of every execution, from `qe.tracker`. */
final class PhaseListener extends QueryExecutionListener {
  val execs = new ConcurrentLinkedQueue[Map[String, Any]]()

  private def record(fn: String, qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) =>
      k -> Map("start" -> p.startTimeMs.toDouble,
        "end" -> p.endTimeMs.toDouble)
    }
    val nodes =
      try qe.optimizedPlan.collect { case p => p }.size
      catch { case _: Throwable => 0 }
    execs.add(Map("func" -> fn, "ok" -> ok, "phases" -> phases,
      "plan_nodes" -> nodes))
  }

  override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
    record(fn, qe, ok = true)
  override def onFailure(fn: String, qe: QueryExecution,
      e: Exception): Unit = record(fn, qe, ok = false)
}

/** Micro-batch durations and state-store size of every progress. */
final class StreamListener extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    progress.add(Map("batch" -> p.batchId,
      "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      "rows" -> p.numInputRows,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) =>
        k -> v.longValue() }.toMap,
      "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
      "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum))
  }
}
