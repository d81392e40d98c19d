package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_QUERIES=a,b times a subset. SPARK_GRAFT_BENCH_RUNS=k
    // (default 3) repeats the whole suite k times in ONE session, printing
    // one JSON line per run, then a FINAL line whose per-query map is the
    // across-runs MIN. The min is the noise-proof official record: a
    // transient external-load spike on one run cannot inflate it, while a
    // genuine plan regression shows up in every run and therefore in the
    // min too. Runs 2+ also prove the persisted-relation lifecycle
    // converges to a warm steady state instead of accumulating. The
    // driver's contract (last line = the round's numbers) is unchanged.
    val runs = sys.env.get("SPARK_GRAFT_BENCH_RUNS").map(_.toInt).getOrElse(3)
    val spark = Harness.session(32)
    val selected = Harness.select(sys.env.get("SPARK_GRAFT_QUERIES"))
    Harness.warm(spark, sfDir, selected)
    // Every emitted line carries an "errors" array naming queries that
    // THREW during that run (final line: union across runs). A thrown
    // query has no time in the "queries" map — it must never masquerade
    // as a green timing — and tools/bench_guard.py fails any record whose
    // errors list is non-empty.
    // run_id ties the compact stdout summary to the BENCH_FULL.json it
    // points at: the full file is overwritten every run, so the guard
    // refuses a pointer whose run_id differs from the pointed file's
    // (round-11 advice — a stale pointer made the guard self-compare).
    val runId = s"${System.currentTimeMillis()}-${ProcessHandle.current().pid()}"
    def obj(m: Map[String, Double]): String =
      m.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    def record(results: Map[String, Double], errors: Set[String], extra: String = ""): String = {
      val errs = errors.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
      val total = if (results.nonEmpty) results.values.sum else 0.0
      s"""{"metric":"total","value":$total,"unit":"sec",$extra"queries":${obj(results)},"errors":$errs,"sf":"$sfDir","run_id":"$runId"}"""
    }
    val perRun = (1 to runs).map { _ =>
      val timed = selected.map { case (name, fn) => name -> Harness.time(fn(spark, sfDir)) }
      val results = timed.collect { case (name, Right(t)) => name -> t }.toMap
      val errors = timed.collect { case (name, Left(_)) => name }.toSet
      println(record(results.map { case (k, t) => k -> t.totalS }, errors))
      (results, errors)
    }
    // Official record: per-query MIN across runs, with "plan_s" (frame
    // build + physical planning) taken from the run that gave each min.
    // With 190 queries the full JSON line is larger than the driver's
    // 2000-char stdout tail, so the full record goes to a file and the
    // very LAST stdout line is a compact summary — guaranteed to fit the
    // tail and json-parse — whose "full" field names that file. "plan_s"
    // precedes "queries" so tools/bench_guard.py's line scrape still
    // captures whole lines.
    val best = perRun.flatMap(_._1.toSeq)
      .groupMapReduce(_._1)(_._2)((a, b) => if (b.totalS < a.totalS) b else a)
    val finalResults = best.map { case (k, t) => k -> t.totalS }
    val finalErrors = perRun.flatMap(_._2).toSet
    val full = record(finalResults, finalErrors,
      s""""plan_s":${obj(best.map { case (k, t) => k -> t.planS })},""")
    println(full)
    // Anchor the full-record path. The official record is an IMMUTABLE
    // per-run snapshot — bench_records/BENCH_FULL-<runId>.json — so a
    // round record's "full" pointer can never silently name a LATER
    // run's data (the r11/r12 stale-pointer problem: BENCH_FULL.json was
    // a single mutable file every run overwrote). BENCH_FULL.json is
    // still refreshed as a convenience alias for "the latest run", but
    // the stdout pointer names the snapshot. SPARK_GRAFT_BENCH_OUT
    // overrides the snapshot path; default root is the repo, falling
    // back to cwd if absent (e.g. running from a checkout elsewhere).
    val bytes = (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val fullPath = sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .map(java.nio.file.Paths.get(_))
      .getOrElse {
        val repoRoot = java.nio.file.Paths.get("/root/repo")
        val root =
          if (java.nio.file.Files.isDirectory(repoRoot)) repoRoot
          else java.nio.file.Paths.get(".")
        java.nio.file.Files.write(root.resolve("BENCH_FULL.json"), bytes)
        val dir = root.resolve("bench_records")
        java.nio.file.Files.createDirectories(dir)
        dir.resolve(s"BENCH_FULL-$runId.json")
      }
    java.nio.file.Files.write(fullPath, bytes)
    val errs = finalErrors.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (finalResults.nonEmpty) finalResults.values.sum else 0.0
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${finalResults.size},"errors":$errs,"sf":"$sfDir","run_id":"$runId","full":"${fullPath.toAbsolutePath}"}""")
    spark.stop()
  }
}
