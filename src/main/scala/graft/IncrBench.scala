package graft

/** Day-2 cost measurement for incremental cluster maintenance
  * (Dedup.incrementalClustersSplit): with the day-1 state (corpus
  * labels) already stored, how much does folding a new batch in cost,
  * versus re-running connected components over everything?
  *
  * Three timed figures per batch fraction (mod = 100 → 1% batch,
  * mod = 2 → the gate's 50% worst case):
  *   - full: the complete recompute (simhash pairs + full CC + join) —
  *     the day-1 / naive-day-2 cost;
  *   - day1: building the stored state for the split (untimed prelude
  *     in production — it IS the previous full run's output);
  *   - day2: the incremental step alone — batch-bands ⋈ all-bands probe,
  *     reduced-graph CC, label-map join, full label materialization.
  *
  * Usage: runMain graft.IncrBench [sfDir]  (default testdata-sf1)
  */
object IncrBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "testdata-sf1"
    val spark = Harness.session(32)
    import graft.operators.Dedup
    // Warm the shared fingerprint cache outside every timing (a stored
    // corpus would have fingerprints on disk; the batch's are its own
    // tiny cost) — isolates pair-generation + CC, the costs that differ.
    Harness.minSeconds(1)(Dedup.simhash(spark, sfDir))
    val tFull = Harness.minSeconds(1)(Dedup.dedupClusters(spark, sfDir))
    val results = Seq(100L, 2L).map { mod =>
      val tDay1 = Harness.minSeconds(1)(Dedup.corpusLabelsFor(spark, sfDir, mod))
      val tDay2 = Harness.minSeconds(1)(Dedup.incrementalClustersSplit(spark, sfDir, mod))
      s""""mod$mod":{"day1":$tDay1,"day2":$tDay2}"""
    }
    println(s"""{"metric":"incr_clusters","sf":"$sfDir","full":$tFull,${results.mkString(",")}}""")
    spark.stop()
  }
}
