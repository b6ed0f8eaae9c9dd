package graft

import java.nio.file.{Files, Paths}

/** Benchmark main: times every registered query on
  * the tables in SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Every query runs exactly SPARK_GRAFT_BENCH_REPEAT times (default 3)
  * through [[Probe.noopRun]], in name order, in one session whose
  * SharedStage cores live for the whole pass. Its recorded time is the
  * MIN OVER SUCCESSFUL repeats: a repeat that throws never sets the min
  * (a 0.1 s failure would shadow a 10 s success), and a query whose
  * every repeat failed reads 9999.0, so the failure is loud in `total`.
  * Every query gets the same estimator; nothing is re-measured because
  * it looked slow.
  *
  * bench_full.json records, per query: all repeat `times`, its
  * execution `order`, `failures`, the host's `load1_pre` and
  * `mem_avail_gib` sampled just before its first repeat, `vs_ref` (min
  * over its bench_ref.json pin) and `core_builds` (SharedStage cores
  * each repeat built, so a slow cold repeat is attributable). The
  * run-level readouts are:
  *   - `core_build_cost_s`: the one-time core builds, summed per query
  *     as its cheapest cold repeat minus its cheapest warm one; `total`
  *     sums the mins, so total + core_build_cost_s is the end-to-end
  *     cost;
  *   - `inflated_vs_ref`: queries with a pin above 50 ms whose min is
  *     over 1.5x the pin AND over it by more than [[slackFor]];
  *   - `suspect_contention`: ten or more such queries at once — the
  *     lockstep signature of a loaded host, not of one code change;
  *   - `drift_p50`/`drift_max`: min/pin over the other pins above
  *     50 ms, so creep below the flag threshold stays visible;
  *   - `micro_drift_p50`/`micro_drift_max` and `micro_outliers`: the
  *     same for pins of 50 ms or less (outlier: over 3x and 50 ms over
  *     the pin), kept out of the contention flag;
  *   - `cpus`, `load1_start`/`load1_max`/`load1_end`: the host.
  *
  * A flag says a min moved against its pin, not why. Whether that is
  * contention or a regression is answered with `graft.Probe ab`, which
  * interleaves the queries in both orders with load recorded. The run
  * also regenerates QUERIES.md. Set REPEAT=1 for a quick local loop. */
object Bench {
  /** One query's repeats, in run order, and the host state sampled just
    * before the first of them. */
  final case class QStat(runs: Seq[Probe.Run], order: Int, loadPre: Double,
      memPre: Double) {
    def times: Seq[Double] = runs.map(_.seconds)
    def okTimes: Seq[Double] = runs.filter(_.ok).map(_.seconds)
    def coreBuilds: Seq[Int] = runs.map(_.coreBuilds)
    def failures: Int = runs.size - okTimes.size
    def min: Double = if (okTimes.nonEmpty) okTimes.min else 9999.0
    // The one-time SharedStage core cost this query paid: its cheapest
    // cold (core-building) repeat minus its cheapest warm one. Cores
    // live for the pass, so each core is counted once. Zero when there
    // is no cold or no warm successful repeat: the cost is then not
    // separable, and claiming one would be a guess.
    def coreCost: Double = {
      val ok = runs.filter(_.ok)
      val cold = ok.filter(_.coreBuilds > 0).map(_.seconds)
      val warm = ok.filter(_.coreBuilds == 0).map(_.seconds)
      if (cold.nonEmpty && warm.nonEmpty) (cold.min - warm.min).max(0.0)
      else 0.0
    }
  }

  /** Absolute slack over a pin before it can flag: 0.5·pin clamped to
    * [0.1, 0.2] s, so this host's ~0.1 s scheduler jitter on trivial
    * queries never flags while a small pin still cannot drift multi-x. */
  def slackFor(pin: Double): Double = (0.5 * pin).max(0.1).min(0.2)

  def isInflated(min: Double, pin: Double): Boolean =
    pin > 0.05 && min / pin > 1.5 && min - pin > slackFor(pin)

  def isMicroOutlier(min: Double, pin: Double): Boolean =
    pin > 0 && pin <= 0.05 && min / pin > 3.0 && min - pin > 0.05

  // Locale.ROOT: a comma-decimal locale would emit 52,123 and break JSON.
  def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** The stdout line. Consumers read it from a bounded tail window of
    * the output (~2000 chars), so it stays within 1600: 3-decimal mins,
    * and when they do not all fit the FASTEST queries leave the map
    * (`queries_omitted`) while `total` still sums every query. `fields`
    * are the `,"key":value` pairs that follow the map. */
  def stdoutLine(mins: Seq[(String, Double)], fields: String): String = {
    val total = mins.map(_._2).sum
    val bySlowest = mins.sortBy(-_._2)
    def render(n: Int): String = {
      val m = bySlowest.take(n).sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      val om =
        if (n < mins.size) s""","queries_omitted":${mins.size - n}""" else ""
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$m$om$fields}"""
    }
    Iterator.range(mins.size, 0, -1).map(render).find(_.length <= 1600)
      .getOrElse(render(1))
  }

  /** (median, max) of `ratios`, or (-1, -1) when there are none. */
  private def p50Max(ratios: Seq[Double]): (Double, Double) =
    if (ratios.isEmpty) (-1.0, -1.0)
    else { val r = ratios.sorted; (r(r.size / 2), r.last) }

  // Host MemAvailable (GiB), so a memory squeeze is attributable per query.
  private def memAvailGiB: Double =
    try "MemAvailable:\\s+(\\d+) kB".r
      .findFirstMatchIn(Files.readString(Paths.get("/proc/meminfo")))
      .map(_.group(1).toDouble / 1048576.0).getOrElse(-1.0)
    catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val repeats = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEAT", "3")
      .toInt.max(1)
    val cpus = GraftSession.cpus
    val spark = GraftSession(cpus)
    Tables.warmup(spark, sfDir)
    val loadStart = Probe.load1
    // bench_ref.json is a committed, deliberately chosen known-good run
    // (not simply the previous artifact, which may itself be degraded):
    // every "name": float pair except the "total" summary is a pin.
    val refMins = Probe.readPins("bench_ref.json", sfDir,
      "\"([A-Za-z0-9_]+)\":\\s*([0-9]+\\.[0-9]+)".r) - "total"
    val results = SparkEntry.queries.toSeq.sortBy(_._1).zipWithIndex.map {
      case ((name, fn), order) =>
        val (loadPre, memPre) = (Probe.load1, memAvailGiB)
        val runs = (1 to repeats)
          .map(_ => Probe.noopRun(spark, name)(fn(spark, sfDir)))
        name -> QStat(runs, order, loadPre, memPre)
    }
    val loadEnd = Probe.load1
    val loadMax = results.map(_._2.loadPre).max
    val total = results.map(_._2.min).sum
    val coreBuildCost = results.map(_._2.coreCost).sum
    def vsPin(pinned: (Double, Double) => Boolean) = results.collect {
      case (k, s) if refMins.get(k).exists(pinned(s.min, _)) =>
        k -> s.min / refMins(k)
    }
    val inflated = vsPin(isInflated).sortBy(-_._2)
    val contention = inflated.size >= 10
    val (driftP50, driftMax) = p50Max(vsPin((m, r) =>
      r > 0.05 && !isInflated(m, r)).map(_._2))
    val (microP50, microMax) =
      p50Max(vsPin((_, r) => r > 0 && r <= 0.05).map(_._2))
    val microOutliers = vsPin(isMicroOutlier)
    def obj(kv: Seq[(String, Double)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")

    val fails = results.map(_._2.failures).sum
    val fields =
      (if (fails > 0) s""","repeat_failures":$fails""" else "") +
      (if (contention) s""","suspect_contention":${inflated.size}""" else "") +
      (if (coreBuildCost > 0.005)
        s""","core_build_cost_s":${fmt(coreBuildCost)}""" else "") +
      (if (driftP50 >= 0)
        s""","drift_p50":${fmt(driftP50)},"drift_max":${fmt(driftMax)}"""
      else "") +
      (if (microP50 >= 0)
        s""","micro_drift_p50":${fmt(microP50)},"micro_drift_max":${fmt(microMax)}"""
      else "") +
      s""","sf":"$sfDir","load1_start":${fmt(loadStart)},""" +
      s""""load1_max":${fmt(loadMax)},"load1_end":${fmt(loadEnd)}"""

    val full = results.map { case (k, s) =>
      val vr = refMins.get(k)
        .map(r => s""","vs_ref":${fmt(s.min / r)}""").getOrElse("")
      val cb = if (s.coreBuilds.exists(_ > 0))
        s""","core_builds":${s.coreBuilds.mkString("[", ",", "]")}"""
      else ""
      "\"" + k + "\":{\"min\":" + s.min + ",\"times\":" +
        s.times.map(fmt).mkString("[", ",", "]") +
        ",\"order\":" + s.order + ",\"failures\":" + s.failures +
        ",\"load1_pre\":" + fmt(s.loadPre) +
        ",\"mem_avail_gib\":" + fmt(s.memPre) + vr + cb + "}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get("bench_full.json"),
      s"""{"total":$total,"sf":"$sfDir","cpus":$cpus,""" +
        s""""load1_start":$loadStart,"load1_max":$loadMax,""" +
        s""""load1_end":$loadEnd,"suspect_contention":$contention,""" +
        s""""inflated_vs_ref":${obj(inflated)},""" +
        s""""core_build_cost_s":${fmt(coreBuildCost)},""" +
        s""""drift_p50":${fmt(driftP50)},"drift_max":${fmt(driftMax)},""" +
        s""""micro_drift_p50":${fmt(microP50)},""" +
        s""""micro_drift_max":${fmt(microMax)},""" +
        s""""micro_outliers":${obj(microOutliers)},""" +
        s""""ref_queries":${refMins.size},""" +
        s""""queries":$full}""" + "\n")
    // Generated registry index: one line per registered query — family,
    // oracle discipline, bench time. Checked in; regenerate by running
    // Bench.
    val famNames = Seq("agg", "dedup", "emb", "ev", "graph", "samp",
      "txt", "tok", "mm", "pack", "chunk", "pipeline", "pii", "sketch",
      "scale", "shuf", "curriculum", "dq", "sql", "cluster")
    val idxRows = results.map { case (k, s) =>
      val fam = k.split("_").headOption.filter(famNames.contains)
        .getOrElse(k.split("_").headOption.getOrElse(k) match {
          case p if p.matches("[a-z]\\d*") => "relational"
          case p => p
        })
      val otype =
        if (SparkEntry.oracleSql.contains(k)) "DuckDB hash-match"
        else "spec/rows-only"
      s"| $k | $fam | $otype | ${fmt(s.min)} |"
    }.mkString("\n")
    Files.writeString(Paths.get("QUERIES.md"),
      s"# Query index — generated by graft.Bench ($sfDir, local[$cpus])\n\n" +
        s"${results.size} registered queries; times are min over " +
        "successful repeats, seconds.\n\n" +
        "| query | family | oracle | bench (s) |\n|---|---|---|---|\n" +
        idxRows + "\n")
    println(stdoutLine(results.map { case (k, s) => k -> s.min }, fields))
    spark.stop()
  }
}
