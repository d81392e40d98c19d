package graft

import org.apache.spark.sql.functions._

/** The two runtime-filtering levers a 100 TB deployment leans on, pinned
  * at test scale so the gated query family is known to be eligible for
  * them — these are the engine-side analogues of the reference's
  * driver-fed side filters (`BroadcastWrapper` re-broadcasting hot-key
  * sets, `one-group-state/src/main/scala/cluster/DGrouping.scala:214-288`):
  *
  *   - Dynamic partition pruning: a dimension-side predicate prunes the
  *     partitioned fact scan at RUNTIME through the join, reading only
  *     the matching partition directories. At 100 TB this is the
  *     difference between scanning one day and scanning three years.
  *   - Runtime bloom-filter injection: a selective dimension filter is
  *     folded into a bloom filter and pushed into the fact side of a
  *     shuffle join, dropping non-matching rows BEFORE the exchange.
  *     The production thresholds (10 MB creation side / 10 GB scan
  *     side) are deliberately far above local fixtures, so the spec
  *     lowers them to force injection and pins plan shape + equality —
  *     proving the queries stay eligible, not that local runs need it.
  *
  * Both demonstrations assert result equality against the lever turned
  * off: runtime filters must never change semantics.
  */
class RuntimeFilterSpec extends SparkSpec {

  test("dynamic partition pruning reaches the partitioned fact scan through the join") {
    val s = spark
    import s.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-dpp").toString
    // Day-partitioned fact layout (the WritePathSpec layout contract,
    // here keyed by a dense day id), plus a small dim carrying the
    // selective predicate — the filter lives ONLY on the dim side.
    // NOTE: partition-directory values read back as INT — the dim key
    // must match exactly (a cast on the partition column defeats DPP).
    (0L until 2000L).map(i => (i, (i % 10).toInt, i * 3 % 97))
      .toDF("event_id", "day", "value")
      .write.mode("overwrite").partitionBy("day").parquet(out)
    // The dim must be a real scan (a LocalRelation folds the selective
    // filter away before the pruning rule can see it).
    val dimPath = java.nio.file.Files.createTempDirectory("graft-dpp-dim").toString
    (0 until 10).map(d => (d, if (d == 3 || d == 7) "keep" else "drop"))
      .toDF("day", "flag")
      .write.mode("overwrite").parquet(dimPath)
    val dim = s.read.parquet(dimPath)
    val fact = s.read.parquet(out)
    val joined = fact.join(broadcast(dim).where($"flag" === "keep"), "day")
      .groupBy("day").agg(count(lit(1)).as("n"), sum("value").as("sv"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected a dynamicpruning partition filter in:\n$plan")
    // Semantics: identical to pruning by literal after the fact.
    val expected = fact.where($"day".isin(3, 7))
      .groupBy("day").agg(count(lit(1)).as("n"), sum("value").as("sv"))
    assert(rows(joined) === rows(expected))
  }

  test("runtime bloom filter injects into the fact side of a selective shuffle join") {
    val sfDir = "/root/testdata/sf0.001"
    def q() = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir)
        .where(col("o_orderpriority") === "1-URGENT"), // selective dim-side slice
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("qty"))
    val base = withBloom(enabled = false)(rows(q()))
    withConfs(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force a shuffle join
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // creationSideThreshold is a MAXIMUM (the filter-building side must
      // stay under it — production default 10MB); only the application-
      // side MINIMUM needs lowering for a local-scale fixture.
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0") {
      val df = q()
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        s"expected an injected runtime bloom filter in:\n$optimized")
      assert(rows(df) === base)
    }
  }

  private def withBloom(enabled: Boolean)(body: => Set[Seq[Any]]): Set[Seq[Any]] = {
    var out: Set[Seq[Any]] = null
    withConfs("spark.sql.optimizer.runtime.bloomFilter.enabled" -> enabled.toString) {
      out = body
    }
    out
  }
}
