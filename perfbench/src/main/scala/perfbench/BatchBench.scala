package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.collection.mutable
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** `batch_gated`: a fixed, name-ordered sample of the gated queries, run
  * back to back by one client (closed loop) over the fixture copy in
  * data/sf0.01.
  *
  * Set-up, three times, is a fresh session and an untimed sweep that writes
  * every result to parquet; run.py compares the last sweep's files with
  * the recorded DuckDB oracle results. Each
  * timed execution forces the whole plan with `toRdd.count()` (as
  * graft.Bench does) and must return the oracle's row count.
  */
object BatchBench {
  /** Every twenty-fourth gated query in name order (8 of 190), spanning
    * the query families.
    */
  val Queries: Seq[String] = Seq(
    "a_asof_join", "a_order_count_distribution", "a_top_customers",
    "d_modality_agreement", "p_chunk_docs", "p_vocab_freq", "s_feature_recall",
    "s_text_lsh_topk")
  /** The tail reported as latency_tail_ms, over the 8 per-query times. */
  val TailQuantile = 0.75

  val SetupRepeats = 3

  def run(ctx: Ctx, out: Outcome): Unit = {
    val dataDir = ctx.root.resolve("data").resolve("sf0.01").toString
    val checkDir = ctx.work.resolve("batch-check")
    val expectedRows = readRows(ctx.root.resolve("data").resolve("oracle").resolve("rows.json"))
    val fns = graft.SparkEntry.queries
    val missing = Queries.filterNot(fns.contains) ++ Queries.filterNot(expectedRows.contains)
    require(missing.isEmpty, s"no query or no oracle for ${missing.distinct.mkString(",")}")

    // Set-up, repeated: a fresh session and the check sweep, which builds
    // every registry relation and fills the codegen cache before timing
    // starts. The last sweep's output is the one checked.
    val setups = (1 to SetupRepeats).map { _ =>
      val s0 = System.nanoTime()
      val spark = ctx.session(s"local[${ctx.cores}]")
      Queries.foreach { q =>
        try fns(q)(spark, dataDir).write.mode("overwrite").parquet(checkDir.resolve(q).toString)
        catch { case t: Throwable => out.fail(s"$q: check sweep threw ${t.getClass.getSimpleName}") }
      }
      (System.nanoTime() - s0) / 1e9
    }
    val spark = ctx.spark
    out.setupS = Stats.median(setups)
    out.info("setup_repeats_s") = setups.toList
    out.phaseEnd("setup")
    out.info("check_dir") = checkDir.toString
    out.info("queries") = Queries.toList

    // Timed passes, closed loop, fixed order. After the first pass, traced
    // runs trace passes in the order untraced, traced, traced, untraced
    // (repeated), so that passes still speeding up as the JIT warms weigh
    // on both kinds alike and the tracing overhead is measured in the same
    // run.
    val perQuery = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    Queries.foreach(q => perQuery(q) = mutable.ArrayBuffer())
    val passS = Seq.newBuilder[(Boolean, Double)]
    val tracer = ctx.tracer
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    var pass = 0
    var frameBuildS = 0.0
    var analyzeS, optimizeS, planS = 0.0
    var compileNs = 0L
    val tracedMs = mutable.ArrayBuffer[(Long, Long)]()
    val nanosPerMs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    while (pass < 3 || System.nanoTime() < deadline || (ctx.trace && pass % 4 != 1)) {
      val traced = ctx.trace && (pass % 4 == 2 || pass % 4 == 3)
      val compile0 = CodeGenerator.compileTime
      val pass0Ms = System.currentTimeMillis()
      val passEndMs = ctx.traced(traced) {
        Queries.foreach { q =>
          val id = s"$q#$pass"
          val t0 = System.nanoTime()
          out.attempted += 1
          try {
            val df = tracer.span(id, "operators.frame_build", "query")(fns(q)(spark, dataDir))
            val qe = df.queryExecution
            val n =
              if (traced) {
                val t1 = System.nanoTime()
                qe.optimizedPlan
                val t2 = System.nanoTime()
                qe.executedPlan
                val t3 = System.nanoTime()
                val rows = tracer.span(id, "exec.run", "query")(qe.toRdd.count())
                qe.tracker.phases.get("analysis").foreach { ph =>
                  tracer.add(Span(id, "driver.analyze", "operators.frame_build",
                    ph.startTimeMs * 1000000L + nanosPerMs, ph.endTimeMs * 1000000L + nanosPerMs))
                  analyzeS += ph.durationMs / 1000.0
                }
                tracer.add(Span(id, "driver.optimize", "query", t1, t2))
                tracer.add(Span(id, "driver.plan", "query", t2, t3))
                frameBuildS += (t1 - t0) / 1e9
                optimizeS += (t2 - t1) / 1e9
                planS += (t3 - t2) / 1e9
                rows
              } else qe.toRdd.count()
            if (n != expectedRows(q)) out.fail(s"$q: $n rows, oracle has ${expectedRows(q)}")
          } catch {
            case t: Throwable => out.fail(s"$q: threw ${t.getClass.getSimpleName}: ${t.getMessage}")
          }
          val t9 = System.nanoTime()
          tracer.add(Span(id, "query", "", t0, t9))
          perQuery(q) += (t9 - t0) / 1e9
        }
        System.currentTimeMillis()
      }
      if (traced) compileNs += CodeGenerator.compileTime - compile0
      // A traced pass's wait for the listener bus is not part of it.
      passS += ((traced, Queries.map(perQuery(_).last).sum))
      if (traced) tracedMs += ((pass0Ms, passEndMs))
      pass += 1
    }

    out.phaseEnd("passes")

    // Each query's figure is its fastest untraced execution (min-of-N):
    // passes still speed up as the JIT warms, and a slower execution of
    // the same plan is warm-up or interference from outside the query.
    val passes = passS.result()
    val untracedPasses = passes.filterNot(_._1).map(_._2)
    val best = Queries.map(q => q -> perQuery(q).zip(passes)
      .collect { case (t, (false, _)) => t }.min)
    val qBest = best.map(_._2)
    out.endToEnd("throughput_per_s") = Queries.size / qBest.sum
    out.endToEnd("latency_p50_ms") = Stats.quantile(qBest, 0.5) * 1000
    out.endToEnd("latency_tail_ms") = Stats.quantile(qBest, TailQuantile) * 1000
    out.info("passes") = passes.size
    out.info("pass_s") = passes.map(_._2).toList
    out.info("latency_samples") = qBest.size
    out.info("per_query_min_s") = collection.immutable.ListMap(best: _*)

    if (ctx.trace) {
      val tracedPasses = passes.filter(_._1).map(_._2)
      val n = math.max(1, tracedPasses.size).toDouble
      val l = out.perLayer
      l("operators.frame_build_s") = frameBuildS / n
      l("cache.cached_bytes") = spark.sparkContext.getRDDStorageInfo
        .map(i => (i.memSize + i.diskSize).toDouble).sum
      l("driver.analyze_s") = analyzeS / n
      l("driver.optimize_s") = optimizeS / n
      l("driver.plan_s") = planS / n
      l("driver.codegen_compile_s") = compileNs / 1e9 / n
      StreamBench.execLayers(l, ctx.exec, tracedMs.toSeq, ctx.cores, n)
      val laterUntraced = untracedPasses.drop(1)
      l("trace.overhead_pct") =
        (tracedPasses.sum / tracedPasses.size / (laterUntraced.sum / laterUntraced.size) - 1) * 100
      // Single-thread baseline: the same passes on local[1].
      val one = ctx.session("local[1]")
      Queries.foreach(q => fns(q)(one, dataDir).queryExecution.toRdd.count())
      val o0 = System.nanoTime()
      Queries.foreach(q => fns(q)(one, dataDir).queryExecution.toRdd.count())
      l("exec.speedup_vs_1core") = (System.nanoTime() - o0) / 1e9 / Stats.median(untracedPasses)
      StreamBench.idleStreamLayers(l)
    }
  }

  /** `{"name": rows, ...}` as written by record_oracles.py. */
  private def readRows(path: java.nio.file.Path): Map[String, Long] = {
    val text = new String(Files.readAllBytes(path), UTF_8)
    "\"([^\"]+)\"\\s*:\\s*(\\d+)".r.findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
  }
}
