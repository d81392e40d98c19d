package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Scale-adaptive scan parallelization (optimization guide §2.5 "input
  * skew: one huge unsplittable file … repartition immediately after the
  * read", §1.2 step 1).
  *
  * The gate/bench fixtures are ONE parquet file per table with ONE row
  * group (sf0.1 lineitem: 11 MB, 600 k rows), so every scan is a single
  * task and everything Catalyst fuses into the scan stage — tokenize,
  * shingle, decimal math, broadcast-join probes, partial aggregation —
  * runs on 1 of 32 cores while 31 idle. At cluster scale the same tables
  * are thousands of splits and the scan stage parallelizes by itself.
  *
  * [[widen]] closes that gap without hard-coding either regime: it
  * estimates the scan's task count from the file layout with Spark's own
  * split formula (Σ ceil(bytes / maxPartitionBytes), the planner's
  * FilePartition math) and only when that estimate cannot feed
  * `defaultParallelism` tasks does it insert ONE hash repartition on a
  * caller-chosen high-cardinality key. Properties that make this the
  * scale-safe form:
  *
  *   - at 100 TB the estimate is ≫ cores, so the exchange DISAPPEARS —
  *     this is not a local[32] constant, it is "repartition iff the
  *     input layout under-feeds the session's parallelism";
  *   - the key is a real column (doc_id, l_orderkey …), never rand():
  *     retried map tasks reproduce the same routing (SPARK-38388), and a
  *     downstream groupBy/join on the same key can reuse the exchange
  *     outright (guide §2.4);
  *   - callers project BEFORE widening, so the exchange carries only the
  *     columns the query needs (guide §2.3 "project before the
  *     exchange").
  *
  * Results are unchanged by construction (hash repartition is a row-set
  * no-op and every gated aggregate is integer-exact by the parity rules);
  * the DuckDB gate re-verifies every consumer.
  */
object Par {

  /** Estimated scan task count for a parquet file/directory: Spark's
    * split formula over the leaf files (ceil per file — a split never
    * crosses a file boundary). One filesystem stat per call; no job.
    */
  def scanTasks(spark: SparkSession, path: String): Long = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val maxSplit = math.max(1L, spark.sessionState.conf.filesMaxPartitionBytes)
    val it = fs.listFiles(p, true)
    var tasks = 0L
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (!name.startsWith("_") && !name.startsWith("."))
        tasks += (f.getLen + maxSplit - 1) / maxSplit
    }
    math.max(tasks, 1L)
  }

  /** `df` hash-repartitioned on `keys` to the session's default
    * parallelism iff the scan behind `path` under-feeds it; `df`
    * untouched otherwise (the cluster-scale branch).
    */
  def widen(spark: SparkSession, df: DataFrame, path: String, keys: Column*): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    if (scanTasks(spark, path) < target) df.repartition(target, keys: _*)
    else df
  }

  /** Persist-time partitioning normalization for derived relations that
    * go into the CacheRegistry: a keyed REBALANCE whose partition count
    * AQE sizes to the DATA, not to the build lineage or to
    * `spark.sql.shuffle.partitions`. The value is KEY + PROPORTIONALITY:
    * a relation whose build ends in a narrow projection over broadcast
    * joins inherits an arbitrary lineage partitioning, while persisting
    * it keyed keeps same-key consumer joins cheap (guide §2.4) and the
    * AQE sizing keeps a tiny relation in ONE cached partition instead of
    * `shuffle.partitions` near-empty ones.
    *
    * Why rebalance and not `repartition(keys)` (the r18 first cut, a
    * measured regression): a by-col repartition is user-specified, so
    * AQE preserves its partition count even inside cached plans — a
    * 256-row pair relation persisted as 32 near-empty partitions, and
    * every one of the triangle audit's ~10 sub-jobs paid 64+ empty task
    * launches per evaluation (g_dup_triangles_simhash 0.95 s at r17 →
    * 2.4 s; stage-listener evidence in OPTIMIZATION_r18.md). REBALANCE
    * is the hint built for exactly this (AQE-sized keyed output); it
    * needs `canChangeCachedPlanOutputPartitioning=true` to act inside a
    * cached plan — set once per session by [[GraftExtensions.register]]
    * (r18 advisory: the first cut set it HERE as a side effect, making
    * every cached plan's partitioning order-dependent on whether a
    * rightsize call had happened yet). Measured matrix:
    * repartition/any-conf -> 32, rebalance+true -> 1 for an 80 KB
    * relation. At cluster scale AQE
    * targets `advisoryPartitionSizeInBytes`, so a large relation keeps
    * many partitions — the count follows the data at every scale.
    */
  def rightsize(df: DataFrame, keys: Column*): DataFrame =
    df.hint("rebalance", keys: _*)

  /** [[widen]] for a standard `$sfDir/<table>.parquet` fixture table. */
  def widenTable(spark: SparkSession, df: DataFrame, sfDir: String,
      table: String, keys: Column*): DataFrame =
    widen(spark, df, s"$sfDir/$table.parquet", keys: _*)
}
