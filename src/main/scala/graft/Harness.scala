package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one session contract and query runner every dev main measures
  * under, so a gated number means the same thing whichever tool printed
  * it: `local[cpus]` with `shuffle.partitions = cpus`, UTC, UI off,
  * `nanosAsLong`, and the graft functions registered.
  */
object Harness {
  type Query = (SparkSession, String) => DataFrame

  /** One timed run: `planS` is frame build plus analysis, optimization and
    * physical planning (`executedPlan`); `execS` is the `toRdd.count()`
    * that follows (which still holds AQE re-planning between stages).
    */
  final case class Timing(planS: Double, execS: Double, rows: Long) {
    def totalS: Double = planS + execS
  }

  /** The shared session. `SPARK_GRAFT_CPUS` overrides `defaultCpus`;
    * `extra` carries a tool's own confs (FAIR scheduling, the RocksDB
    * state store).
    */
  def session(defaultCpus: Int, extra: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // Input-split sizing for the scaled single-file fixtures (r15): the
      // sf10 tree is one 8 MB-row-group parquet file per table, and the
      // 128 MB default packs a whole 60 MB text table into ONE scan task
      // — every explode stage (trigrams, shingles, BM25) then runs
      // single-threaded however many cores the session has. Set 4-8m for
      // testdata-sf10 runs; the gate-scale fixtures keep the default.
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES", "128m"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Earlier fixture generations stored events.ts as TIMESTAMP(NANOS);
      // read it as epoch-nanos Long (Shapes.eventTimeMs handles both).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    val spark = extra.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(spark)
    spark
  }

  /** The gated queries named in the comma-separated `only` (all of them
    * when absent), in fixed name order so per-query numbers line up
    * across runs and rounds.
    */
  def select(only: Option[String]): Seq[(String, Query)] = {
    val names = only.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries.toSeq
      .filter { case (name, _) => names.forall(_.contains(name)) }
      .sortBy(_._1)
  }

  /** Untimed sweep: execute every query once before any timing starts.
    * Beyond JVM/JIT/parquet-reader warmup, this pre-builds every
    * CacheRegistry relation the queries touch, so no timed query is
    * charged its shared chain's cold build — without it the
    * alphabetically FIRST consumer of a registry key absorbs the whole
    * chain (r13: cold g_degree_hist read 4.3 s, warm ≤1.1 s), which makes
    * single-run records and per-query budgets order-fragile.
    * SPARK_GRAFT_COLD=1 skips the sweep for deliberate cold measurement.
    */
  def warm(spark: SparkSession, sfDir: String, queries: Seq[(String, Query)]): Unit =
    if (!sys.env.get("SPARK_GRAFT_COLD").contains("1"))
      queries.foreach { case (_, fn) => time(fn(spark, sfDir)) }

  /** Builds the frame, forces its physical plan, then executes it.
    * `toRdd.count()` forces every operator in the plan; a bare
    * `Dataset.count()` would let Catalyst collapse pure projections into
    * a metadata-only row count and under-report map-only queries. Build
    * the frame per run: re-timing one memoized QueryExecution would skip
    * every stage whose shuffle output is already on disk.
    */
  def time(build: => DataFrame): Either[Throwable, Timing] =
    try {
      val t0 = System.nanoTime()
      val qe = build.queryExecution
      qe.executedPlan
      val t1 = System.nanoTime()
      val rows = qe.toRdd.count()
      Right(Timing((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9, rows))
    } catch { case e: Throwable => Left(e) }

  /** The min over `runs` timed runs of [[time]], in total seconds; rethrows
    * the first error, for tools whose measured frames must all succeed.
    */
  def minSeconds(runs: Int)(build: => DataFrame): Double =
    (1 to runs).map(_ => time(build).fold(throw _, _.totalS)).min
}
