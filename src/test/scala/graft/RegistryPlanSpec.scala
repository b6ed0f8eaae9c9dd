package graft

import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Registry-wide plan-shape gate: EVERY registered query's physical
  * plan must be free of CartesianProductExec — the one join shape that
  * cannot survive 100 TB. Broadcast nested-loop joins are allowed
  * (they are the designed shape for bounded-side inequality joins:
  * prefix-sum/-max offsets, top-k query broadcasts, range targets);
  * an unbounded-by-unbounded cartesian is not. This generalizes the
  * per-batch `Probe plan` reads into a standing regression trap: a future
  * edit that drops a join condition or un-broadcasts a bounded side
  * fails here, not in a 100× production run.
  *
  * COVERAGE (r14 ADVICE): many queries localCheckpoint intermediate
  * stages eagerly, truncating lineage — the final executedPlan then
  * starts at a LogicalRDD and an upstream cartesian would be invisible
  * to the final-plan scan alone. Dataset.checkpoint runs through
  * withAction, so a QueryExecutionListener observes the PRE-checkpoint
  * QueryExecution of every eager checkpoint fired while the registry
  * plans are constructed (including RoundCut's per-round cuts inside
  * iterative queries); those plans are audited here too, closing the
  * blind spot instead of documenting it. */
class RegistryPlanSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("no registry query plans a CartesianProduct — final plans AND " +
      "every eager checkpoint stage upstream of them") {
    val ckptHits =
      new java.util.concurrent.ConcurrentLinkedQueue[String]
    val nCkpt = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        if (funcName.toLowerCase.contains("checkpoint")) {
          nCkpt.incrementAndGet()
          val cart =
            qe.executedPlan.collect { case c: CartesianProductExec => c }
          if (cart.nonEmpty)
            ckptHits.add(qe.executedPlan.toString.linesIterator
              .take(12).mkString("\n"))
        }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
        case (name, mk) =>
          val plan = mk(spark, sf).queryExecution.executedPlan
          val hits = plan.collect { case c: CartesianProductExec => c }
          if (hits.nonEmpty) Some(name) else None
      }
      assert(offenders.isEmpty,
        s"cartesian products in: ${offenders.mkString(", ")}")
      // Listener events post asynchronously — drain the shared
      // listener bus before reading the audit. The old heuristic
      // (3×200 ms stable samples of nCkpt) could observe a stable 0
      // on a loaded host whose bus was >600 ms behind and trip the
      // broken-hook assert flakily (r15 ADVICE); waitUntilEmpty is
      // the bus's own quiescence primitive. The execution-listener
      // bus drains off the same LiveListenerBus queues, so an empty
      // bus means every posted execution event has been delivered.
      org.apache.spark.GraftMetricsHook.drainListenerBus(
        spark.sparkContext, 60000L)
      assert(nCkpt.get() > 0,
        "checkpoint audit saw zero checkpoint executions — the " +
          "listener hook is broken (queries are known to checkpoint)")
      assert(ckptHits.isEmpty,
        s"cartesian product inside a checkpointed stage:\n" +
          ckptHits.toArray.mkString("\n---\n"))
    } finally spark.listenerManager.unregister(listener)
  }

  test("flagship registered queries keep their pinned shuffle-exchange " +
      "counts") {
    // End-to-end twin of the `Probe shuffle` artifact's `exchanges`
    // column, pinned in CI for a representative spread of families so
    // a refactor that quietly adds an Exchange to a flagship query
    // fails HERE, not in a post-hoc artifact diff. The count is a
    // NODE WALK over the executed plan (ExchangeCount — broadcast and
    // reused excluded, AQE/stage/subquery subtrees descended; r16
    // ADVICE replaced the treeString regex, whose text format was not
    // a stable API) at sf0.001 — stable for fixed code; a changed
    // number means re-derive the plan and record WHY in PLANS.md,
    // never bump the pin blind. Counts can legitimately differ at
    // larger SFs (AQE swaps broadcast joins to shuffle joins past the
    // threshold); the pin is for shape stability, not for the sf0.1
    // artifact's numbers.
    val pinned = Map(
      "s1_filtered_scan" -> 0, "f1_pushdown_filter" -> 0,
      "members_doc" -> 0, "j5_semi_join" -> 0,
      "q1_agg" -> 1, "dedup_exact" -> 1, "j11_asof_join" -> 1,
      "samp_reservoir" -> 1, "ev_sessionize" -> 1,
      "emb_cosine_topk" -> 1,
      "agg_bitmap_distinct" -> 2,
      // dedup_minhash_pairs was pinned 3 until r17; its pair table is
      // now the shared pairTable core (stored-state discipline), so
      // the registered frame is the core's checkpoint scan — the
      // generation exchanges run inside the core build, like other
      // loop/core queries (see pairTable's Scaladoc for the WHY).
      "dedup_minhash_pairs" -> 0, "txt_ngram_novelty" -> 3,
      "j16_bloom_join" -> 3)
    val bad = pinned.toSeq.sortBy(_._1).flatMap { case (name, want) =>
      val got = ExchangeCount.shuffleExchanges(
        SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan)
      if (got == want) None else Some(s"$name: pinned $want, got $got")
    }
    assert(bad.isEmpty, s"exchange-count drift:\n${bad.mkString("\n")}")
  }
}
