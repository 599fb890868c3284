package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.storage.StorageLevel

/** The two spread pins of the iterating families' shared relations
  * (adjacency lists, degree tables, round edge sets), plus the pin
  * lifecycle. Both modes are EAGER — every partition is materialized
  * before any consumer plans against it, so every consumer reads the
  * same computed rows — and both land with the full shuffle width
  * (the §43/§47 discipline assertion, checked on every call).
  *
  *  - [[checkpoint]]: AQE-exempt hash spread + `localCheckpoint()`.
  *    Cuts lineage, so it is right for anything seeded by a
  *    nondeterministic draw; the checkpoint erases the partitioning.
  *  - [[keyed]]: hash spread + per-partition sort + eager `persist`.
  *    Keeps the partitioning visible to the planner, so a join or
  *    groupBy on the same keys runs exchange-free over the cached
  *    side every round. Deterministic derivations only.
  *
  * One-off pins with no width requirement call `localCheckpoint()`
  * directly. */
object Pin {

  /** Checkpoint mode: [[Dedup.spread]] on `keys`, then an eager
    * `localCheckpoint()` — for the iterating families' byte-light,
    * CPU-heavy round inputs (textrank, hits, bfs, sssp, lpa, kcore,
    * walks). AQE's byte-proportional sizing would coalesce these to
    * ONE task and serialize every round's expansion join; the
    * explicit repartition-by-num is AQE-exempt, so the checkpoint
    * lands with the full shuffle width at ANY data size. */
  def checkpoint(df: DataFrame, tag: String, keys: Column*): DataFrame =
    assertSpread(Dedup.spread(df, keys: _*).localCheckpoint(), tag)

  /** Keyed mode: pin a DETERMINISTIC relation so that its hash
    * partitioning and per-partition sort order SURVIVE into every
    * consumer's plan (the round-12 discovery, guide §2.4, "remove
    * shuffles outright"): `localCheckpoint` erases partitioning
    * (`LogicalRDD` reports `UnknownPartitioning`), so every per-round
    * join in the iterating graph families re-exchanged the FULL
    * adjacency every round. An eager `persist` keeps the logical
    * plan, and `InMemoryTableScan` reports the cached plan's
    * `outputPartitioning`/`outputOrdering` — so a join or groupBy
    * keyed on `keys` runs with ZERO exchange and ZERO sort on the
    * pinned side (the probe plan shows SortMergeJoin directly over
    * InMemoryTableScan). Persist keeps lineage, so an evicted
    * partition is recomputed — fine for hash-repartitioned
    * derivations, wrong for anything seeded by a nondeterministic
    * draw (those use [[checkpoint]]).
    *
    * `width` multiplies the session shuffle width — for pair-expansion
    * inputs whose consumer stage AMPLIFIES rows (a wedge join emits
    * Σ deg²/2 rows from Σ deg inputs): the consumer's partial-agg
    * hash state is amplification-sized, so the stage width must scale
    * with the amplification, not the input bytes, or the agg spills
    * (measured: link_predict's wedge stage spilled 810 MB at width 32
    * and zero at width 128 — guide §5). */
  def keyed(df: DataFrame, tag: String, keys: Seq[Column],
            width: Int = 1): DataFrame = {
    // no-cross-run-cache tripwire: persist matches by canonicalized
    // plan, so a pinned subtree built PURELY from source scans would
    // be silently served from cache on a bench's second timed run —
    // exactly the cross-run memoization the driver contract bans.
    // Every caller must sit above a lineage-unique leaf (a
    // `localCheckpoint()` produces a fresh RDD per run, so plans never
    // match across runs). Fail loudly instead of quietly reusing.
    require(df.queryExecution.analyzed.exists {
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      // literal in-memory relations (tests, VALUES) carry their data
      // in the plan itself — a cache hit re-serves the same literals,
      // so there is no file re-read being skipped
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        true
      case _ => false
    },
      "Pin.keyed requires a checkpointed (lineage-unique) input below " +
        "it; pinning a pure-source derivation would let a cached plan " +
        "serve a later run without recomputing")
    val p = df.repartition(
        width * df.sparkSession.sessionState.conf.numShufflePartitions,
        keys: _*)
      .sortWithinPartitions(keys: _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    assertSpread(p, tag)
  }

  /** The discipline check alone: a round-pinned relation in an
    * iterating family must carry more than one partition whenever
    * the session is parallel at all — the regression tripwire that
    * fires if a future edit, a spread rewrite, or a Spark-upgrade AQE
    * change silently collapses it (SpreadDisciplineSpec drives the
    * whole registry through it). */
  private[graft] def assertSpread(pinned: DataFrame,
                                  tag: String): DataFrame = {
    val want =
      pinned.sparkSession.sessionState.conf.numShufflePartitions
    val got = pinned.rdd.getNumPartitions
    require(want <= 1 || got > 1,
      s"[$tag] iterating-round input landed on $got partition(s) " +
        s"with numShufflePartitions=$want — the AQE single-task trap " +
        "(SCALE.md §43/§47); a spread was dropped or rewritten")
    pinned
  }

  /** `localCheckpoint()` UNLESS `df` already sits shallowly on a
    * checkpoint/local leaf — i.e. only narrow ops
    * (project/filter/alias) above a LogicalRDD or LocalRelation, so
    * re-evaluation is a cheap scan and a second checkpoint would only
    * copy rows AND fork the lineage (forked lineage = derived
    * [[keyed]] caches that can no longer dedup through the
    * CacheManager; see graph_walks_biased_extended / clustering_coeff,
    * round 13). "Shallow" matters: merely containing a checkpoint
    * somewhere below (coEdges pins its guarded front under the
    * quadratic pair join) must still pin, or the expensive derivation
    * re-runs per consumer. */
  def ensure(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def shallow(p: LogicalPlan): Boolean = p match {
      case pr: Project => shallow(pr.child)
      case f: Filter => shallow(f.child)
      case s: SubqueryAlias => shallow(s.child)
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      case _: LocalRelation => true
      case _ => false
    }
    if (shallow(df.queryExecution.analyzed)) df else df.localCheckpoint()
  }

  /** Release every relation [[keyed]] registered in the session's
    * CacheManager — the lifecycle hook a long-lived caller (a day-2
    * service, a REPL) must invoke between logical units of work
    * (ADVICE r12: the pins are strong CacheManager refs, so neither
    * periodicGC nor the ContextCleaner can reclaim them; without this
    * every graph/walk/link-predict call leaks a MEMORY_AND_DISK cache
    * entry for the session lifetime). The bench harnesses (Bench,
    * BenchQuiet, BenchOne) already apply this per trial — it is also
    * their anti-gaming discipline: clearing between runs forces every
    * timed window to pay its own cache build. Queries in flight
    * recompute from lineage (persist keeps it), so this is always
    * safe, only ever a perf trade. */
  def releaseAll(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sharedState.cacheManager.clearCache()
}
