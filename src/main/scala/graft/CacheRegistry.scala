package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped registry for persisted relations shared across gated
  * queries (minhash signatures, simhash fingerprints, quantized vectors,
  * per-doc prefix arrays, …).
  *
  * Why it exists: each gated query function rebuilds its DataFrame from
  * scratch per call, so a bare `.persist()` at the shared-relation site
  * re-registers an identical plan with the CacheManager on every call —
  * a stream of "Asked to cache already cached data" warnings and, across
  * a 50-query Verify/Bench session, a cache whose lifecycle nobody owns
  * (round-5 bench showed unrelated queries degrading >2× under that
  * churn). The registry makes the lifecycle explicit: ONE persisted
  * DataFrame instance per (session, key), built lazily, reused by every
  * consumer, releasable by key or wholesale.
  *
  * Keys are semantic ("dedup.sigCols:<sfDir>") rather than plan-derived:
  * two calls that build the same relation for the same fixture dir share
  * an entry even though their plan objects differ.
  */
object CacheRegistry {
  /** A registered frame and what releasing it takes, stored as ONE map
    * value so registration and release can never see half an entry.
    * Checkpoint-backed entries additionally hold localCheckpoint RDD
    * blocks that a Dataset.unpersist does NOT release (the persist cache
    * and the checkpointed RDD are separate storage entries); `cleanup`
    * frees those too, keeping the lifecycle contract complete for
    * cachedCheckpointed entries (r18 advisory).
    */
  private final case class Entry(frame: DataFrame, cleanup: () => Unit) {
    def release(): Unit = { frame.unpersist(false); cleanup() }
  }
  private val entries = new ConcurrentHashMap[String, Entry]()

  private def k(spark: SparkSession, key: String): String =
    s"${System.identityHashCode(spark)}:$key"

  /** Unpersist every checkpoint RDD a frame's analyzed plan wraps (the
    * lazy `localCheckpoint` output is a LogicalRDD over a persisted RDD).
    */
  private def unpersistCheckpointRdds(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(false)
      case _ => ()
    }

  /** Get-or-build the session's entry for `key`.
    *
    * get + putIfAbsent rather than computeIfAbsent: builders nest (a
    * registered relation may itself consume another registered relation —
    * simhashPairs builds on simhash), and computeIfAbsent holds the bucket
    * lock across the build, turning that nesting into
    * IllegalStateException("Recursive update"). The unlocked race is
    * benign: a losing duplicate entry is released whole before the winner
    * is returned, so exactly one persisted instance survives per key.
    */
  private def register(spark: SparkSession, key: String)(build: => Entry): DataFrame = {
    val fullKey = k(spark, key)
    val existing = entries.get(fullKey)
    if (existing != null) existing.frame
    else {
      val built = build
      val raced = entries.putIfAbsent(fullKey, built)
      if (raced == null) built.frame else { built.release(); raced.frame }
    }
  }

  /** Return the session's persisted frame for `key`, building + persisting
    * it on first use. MEMORY_AND_DISK: evictable under pressure, never OOM.
    */
  def cached(spark: SparkSession, key: String)(build: => DataFrame): DataFrame =
    register(spark, key)(Entry(build.persist(StorageLevel.MEMORY_AND_DISK), () => ()))

  /** [[cached]] for a lineage-truncated relation: the built plan is cut
    * behind a LAZY `localCheckpoint` before persisting, so consumers embed
    * a one-node LogicalRDD instead of the full build lineage (guide §3.3
    * — the r18 fix for multi-embedded pair caches whose per-run
    * re-analysis cost ~1.1 s of driver time per consumer). Unlike a bare
    * `build.localCheckpoint` inside [[cached]], the checkpoint RDD is
    * tracked here so release/releaseAll free its blocks too.
    *
    * Caveats (r18 advisory, documented contract): under AQE the "lazy"
    * checkpoint is only plan-lazy — Dataset.checkpoint calls
    * `physicalPlan.execute()`, and AdaptiveSparkPlanExec materializes all
    * non-final query stages at frame-CONSTRUCTION time, so the build's
    * shuffles run when the first consumer constructs, not when it
    * executes (fine for the bench/verify drivers, which always execute).
    * And a truncated lineage cannot be recomputed: on a cluster, losing
    * an executor that held checkpoint blocks makes the relation
    * unrecoverable — this entry point is for session-scoped derived
    * relations whose rebuild-from-parquet is the session restart itself.
    */
  def cachedCheckpointed(spark: SparkSession, key: String)(build: => DataFrame): DataFrame =
    register(spark, key) {
      val cp = build.localCheckpoint(false)
      Entry(cp.persist(StorageLevel.MEMORY_AND_DISK), () => unpersistCheckpointRdds(cp))
    }

  /** Unpersist and drop one entry (no-op if absent). Blocking=false: let
    * executors free blocks asynchronously.
    */
  def release(spark: SparkSession, key: String): Unit =
    Option(entries.remove(k(spark, key))).foreach(_.release())

  /** Unpersist and drop every entry registered for this session. */
  def releaseAll(spark: SparkSession): Unit = {
    val prefix = s"${System.identityHashCode(spark)}:"
    entries.keySet().forEach { key =>
      if (key.startsWith(prefix)) Option(entries.remove(key)).foreach(_.release())
    }
  }
}
