package graft.operators

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Materialized-stage layer (r13 VERDICT item 8): lets compositions
  * DECLARE a shared upstream instead of re-deriving it per registry
  * entry.
  *
  * The registry contract is one-query-one-plan — `mm_video_keep_best`
  * and `pipeline_video_retention` each build their own full plan, so
  * the keep-best core (demux → star edges → fixpoint CC) runs twice
  * when both queries execute in one session. That is correct and
  * cheap at sf0.1 (~2 s), but in a real deployment the shared stage
  * is the expensive part and the composition should pay it once.
  *
  * `SharedStage(key)(build)` memoizes the stage's EAGER localCheckpoint
  * per (session, key): the first caller materializes, later callers
  * read the stored blocks. Liveness is checked against the
  * checkpointed RDD's storage level, NOT assumed: sweeping harnesses
  * unpersist RDDs between queries, and a swept localCheckpoint cannot
  * be recomputed (truncated lineage), so a dead entry is silently
  * REBUILT rather than returned. Verify sweeps EVERYTHING between
  * queries (correctness runs want maximal independence), so each
  * Verify query still derives its stages itself; Bench excludes the
  * alive stages from its sweep (`sweep(keepCores = true)`, r15 item 6),
  * so a shared core is built once per bench pass — the long-lived-
  * session semantics — and the repeat that paid the build is recorded
  * (core_builds). In a long-lived session (notebook, service, test
  * suite) consecutive consumers share one materialization. Oracle
  * hashes are unchanged by construction — the memoized plan IS the
  * plan each query built before, checkpoint included.
  *
  * Scale note: the stage is node-local blocks (localCheckpoint), the
  * right tool at one-session scope. A multi-job deployment sharing
  * across drivers should replace the body with a parquet/Delta
  * staging table — the call sites would not change.
  */
object SharedStage {
  private val cache =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]
  private val builds =
    scala.collection.concurrent.TrieMap.empty[String, Int]

  // Entries are keyed by an id handed out once per session object and
  // never reused: identityHashCode is not unique, so two live sessions
  // could share entries, and a new session could inherit a stopped
  // one's entries (whose RDDs still read as persisted). The map holds
  // sessions weakly, so it does not keep a finished session alive.
  private val nextId = new AtomicLong()
  private val ids = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Long]())

  private def prefix(session: SparkSession): String =
    s"${ids.computeIfAbsent(session, _ => nextId.incrementAndGet())}:"

  private def alive(df: DataFrame): Boolean =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.getStorageLevel != StorageLevel.NONE
      case _ => false
    }

  def apply(session: SparkSession, key: String)
      (build: => DataFrame): DataFrame = {
    val k = prefix(session) + key
    // Double-checked: queries that build plan branches from a thread
    // pool (emb_ivf_k_recall's per-k futures, importDelta) may race to
    // the same core; without the lock both would materialize and one
    // build would leak until the session sweep. Builds are rare and
    // the lock is object-wide — a concurrent build of a DIFFERENT key
    // waits, which is acceptable for one-per-session materializations.
    cache.get(k).filter(alive).getOrElse(synchronized {
      cache.get(k).filter(alive).getOrElse {
        val built = build.localCheckpoint()
        cache.put(k, built)
        builds.updateWith(k) { c => Some(c.getOrElse(0) + 1) }
        built
      }
    })
  }

  /** How many times `key`'s stage has been MATERIALIZED in `session`
    * (cache hits don't count) — the observable the sharing spec pins:
    * two consumers, one build. */
  def buildsFor(session: SparkSession, key: String): Int =
    builds.getOrElse(prefix(session) + key, 0)

  /** Total stage materializations in `session` across all keys. A
    * harness diffs this around a query run to attribute cold-core
    * builds to the repeat that paid them (Bench's core_builds field). */
  def totalBuilds(session: SparkSession): Int = {
    val p = prefix(session)
    builds.collect { case (k, v) if k.startsWith(p) => v }.sum
  }

  /** RDD ids of the currently-ALIVE memoized stages for `session`:
    * the RDDs `sweep(keepCores = true)` keeps. */
  def liveRddIds(session: SparkSession): Set[Int] = {
    val p = prefix(session)
    cache.collect {
      case (k, df) if k.startsWith(p) && alive(df) =>
        df.queryExecution.analyzed match {
          case lr: LogicalRDD => lr.rdd.id
        }
    }.toSet
  }

  /** Unpersist every persisted RDD of `session`'s context, except the
    * live cores when `keepCores`. Iterative queries localCheckpoint
    * intermediates whose blocks are only reclaimed when the dead RDD is
    * GC'd, so across 100+ queries they silently eat the unified memory
    * pool and make UNRELATED later queries spill; a harness sweeps
    * after each query, when its DataFrames are dead. BLOCKING: r8's
    * tail showed RDD-reclaim warnings bleeding into later queries —
    * the blocks must be gone before the next timer starts. Keeping
    * the cores (r15 VERDICT item 6) is the long-lived-session meaning
    * of "warm": sweeping them forced every repeat of every SharedStage
    * pipeline to rebuild its cores cold (media_retention's 5.5→24 s
    * repeat swings). Dropping them too makes each query pay — and be
    * billed for — its own materializations. */
  def sweep(session: SparkSession, keepCores: Boolean): Unit = {
    val keep = if (keepCores) liveRddIds(session) else Set.empty[Int]
    session.sparkContext.getPersistentRDDs.values
      .filterNot(r => keep.contains(r.id))
      .foreach(_.unpersist(blocking = true))
  }
}
