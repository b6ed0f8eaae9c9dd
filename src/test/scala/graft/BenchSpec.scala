package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.Bench.QStat
import graft.Probe.Run

/** Bench's statistics and its stdout line, pinned without Spark. */
class BenchSpec extends AnyFunSuite {
  private def stat(runs: Run*): QStat = QStat(runs, 0, 0.0, 0.0)

  test("a failed repeat never sets the min; all-failed reads 9999.0") {
    val s = stat(Run(0.1, ok = false, 0), Run(3.0, ok = true, 0),
      Run(2.0, ok = true, 0))
    assert(s.min == 2.0)
    assert(s.failures == 1)
    assert(s.times == Seq(0.1, 3.0, 2.0))
    val dead = stat(Run(0.1, ok = false, 0), Run(0.2, ok = false, 0))
    assert(dead.min == 9999.0)
    assert(dead.failures == 2)
  }

  test("coreCost is the cold min minus the warm min, 0 when not separable") {
    assert(stat(Run(5.0, ok = true, 2), Run(1.5, ok = true, 0),
      Run(1.0, ok = true, 0)).coreCost == 4.0)
    // no warm repeat, no cold repeat, or the cold one failed
    assert(stat(Run(5.0, ok = true, 1), Run(4.0, ok = true, 1))
      .coreCost == 0.0)
    assert(stat(Run(1.0, ok = true, 0), Run(1.2, ok = true, 0))
      .coreCost == 0.0)
    assert(stat(Run(5.0, ok = false, 1), Run(1.0, ok = true, 0))
      .coreCost == 0.0)
    // a cold repeat faster than every warm one claims no cost
    assert(stat(Run(0.5, ok = true, 1), Run(1.0, ok = true, 0))
      .coreCost == 0.0)
  }

  test("the pin reader is empty for a missing file or another sf") {
    val entry = "\"([A-Za-z0-9_]+)\":\\s*([0-9]+\\.[0-9]+)".r
    val f = Files.createTempFile("pins", ".json")
    try {
      Files.writeString(f, "{\"q1_agg\": 0.25,\n \"q3_topk\": 1.5,\n" +
        " \"sf\": \"/data/sf0.1\"}")
      assert(Probe.readPins(f.toString, "/data/sf0.1", entry) ==
        Map("q1_agg" -> 0.25, "q3_topk" -> 1.5))
      assert(Probe.readPins(f.toString, "/data/sf0.01", entry).isEmpty)
    } finally Files.delete(f)
    assert(Probe.readPins(f.toString, "/data/sf0.1", entry).isEmpty)
  }

  test("isInflated needs both the 1.5x ratio and the clamped slack") {
    assert(Bench.slackFor(0.1) == 0.1)
    assert(Bench.slackFor(0.3) == 0.15)
    assert(Bench.slackFor(1.0) == 0.2)
    // ratio boundary: a 1.0 s pin, slack 0.2
    assert(!Bench.isInflated(1.5, 1.0))
    assert(Bench.isInflated(1.51, 1.0))
    // slack boundary: a 0.1 s pin is 1.9x at 0.19 but only 0.09 over
    assert(!Bench.isInflated(0.19, 0.1))
    assert(Bench.isInflated(0.21, 0.1))
    // pins of 50 ms or less belong to the micro class
    assert(!Bench.isInflated(1.0, 0.05))
    assert(Bench.isMicroOutlier(0.2, 0.05))
    assert(!Bench.isMicroOutlier(0.06, 0.015)) // 4x but only 45 ms over
  }

  test("the stdout line drops the fastest queries, keeps total over all " +
      "and stays within 1600 chars") {
    val mins = (0 until 287).map(i => f"registry_query_$i%03d" -> (i + 1) * 0.01)
    val fields = ""","sf":"/data/sf0.1","load1_start":1.000"""
    val line = Bench.stdoutLine(mins, fields)
    assert(line.length <= 1600)
    assert(line.startsWith(
      s"""{"metric":"total","value":${Bench.fmt(mins.map(_._2).sum)},"""))
    assert(line.endsWith(fields + "}"))
    val kept = "\"(registry_query_\\d+)\":".r.findAllMatchIn(line)
      .map(_.group(1)).toSeq
    assert(kept.size < mins.size)
    assert(line.contains(s""""queries_omitted":${mins.size - kept.size}"""))
    assert(kept.toSet == mins.takeRight(kept.size).map(_._1).toSet)
    assert(kept == kept.sorted)
    val small = Bench.stdoutLine(mins.take(3), fields)
    assert(!small.contains("queries_omitted"))
    assert(small.contains("\"registry_query_000\":0.010"))
  }
}
