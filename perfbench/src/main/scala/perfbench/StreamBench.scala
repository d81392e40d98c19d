package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import graft.sources.WireFormat
import graft.streaming.StreamingParity
import graft.streaming.StreamingParity.{PwEvent, Q2Result}

/** The streaming workloads: Q2 (min count per word over complete 3-port
  * windows), fed with reference wire records from an in-JVM generator
  * through a MemoryStream source, parsed by `WireFormat.parsePortWord` and
  * grouped by `StreamingParity.q2TransformWithState`.
  *
  * One run: set-up (three times: start a session and the query and commit
  * its first trigger; the third is kept), one untimed closed-loop block,
  * a closed-loop drain phase that measures capacity, then an open-loop
  * phase at the fixed rate that measures emit latency, then a flush and
  * the output check against the batch contract over the same events.
  */
object StreamBench {
  /** Wall ms between generator ticks. */
  val TickWallMs = 10L
  /** Logical (event-time) ms per wall ms: a 1000-ms window spans 250 ms
    * of wall time, so a run closes enough windows to rank its latencies.
    */
  val TimeScale = 4L
  /** Open-loop rate of both group workloads, rows per wall second. */
  val GroupRate = 4000
  /** The key space of SkewBench's uniform twin (SKEWBENCH.md): many keys,
    * so that hashing spreads the uniform workload evenly over the state
    * partitions and the hot word is the only source of skew.
    */
  val GroupWords = 997
  /** Rows per closed-loop block. A block is one window, so the hot word's
    * half of it lands in one state partition. At this size per-row work,
    * not the fixed per-trigger cost, takes most of a block; about a third
    * of it runs in the state partitions, where the hot one shows.
    */
  val DrainBlockRows = 200000
  /** Timed closed-loop blocks (four in traced runs): a fixed amount of
    * work, over the same windows in every run.
    */
  val DrainBlocks = 3
  /** Share of --seconds spent in the open-loop phase. */
  val OpenShare = 0.5
  /** Share of the open-loop phase left out of the latency figures while
    * the pipeline settles from the closed loop to the fixed rate.
    */
  val OpenSettleShare = 0.1
  val SetupRepeats = 3
  /** The emit-latency tail: a run emits well over a thousand rows, so at
    * least ten lie beyond it.
    */
  val TailQuantile = 0.99

  private val TickLogicalMs = TickWallMs * TimeScale
  private val TicksPerWindow = (StreamingParity.SlotMs / TickLogicalMs).toInt
  private val OpenTickRows = (GroupRate * TickWallMs / 1000).toInt
  private val DrainTickRows = DrainBlockRows / TicksPerWindow

  /** One emitted row: its trigger, sink time, the generator tick of its
    * last contributing event, and its values.
    */
  final case class Emitted(batch: Long, sinkNanos: Long, lastTick: Long, row: Q2Result)

  /** A started Q2 query over a MemoryStream of wire messages. */
  final class Pipeline(spark: SparkSession, gen: PwGen, ckpt: String) {
    import spark.implicits._
    val emitted = mutable.ArrayBuffer[Emitted]()
    /** Rows committed per source offset. */
    private val rowsAtOffset = mutable.ArrayBuffer[Long]()
    // k partitions, like a topic read by k tasks; without a count the
    // source makes one task per addData call.
    private val input = MemoryStream[String](spark, spark.sparkContext.defaultParallelism)(Encoders.STRING)

    def offer(ticks: Seq[Array[String]], rows: Long): Unit = {
      input.addData(ticks.flatten)
      rowsAtOffset += rowsOffered + rows
    }
    def rowsOffered: Long = rowsAtOffset.lastOption.getOrElse(0L)
    /** Rows whose source offsets the progress report committed. */
    def rowsCommitted(p: StreamingQueryProgress): Long = {
      val off = Option(p.sources.head.endOffset).map(_.trim).filter(_.matches("-?\\d+"))
        .map(_.toLong).getOrElse(-1L)
      if (off < 0) 0L else rowsAtOffset(math.min(off.toInt, rowsAtOffset.size - 1))
    }

    val query: StreamingQuery = StreamingParity
      .q2TransformWithState(WireFormat.parsePortWord(input.toDS()).as[PwEvent])
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .foreachBatch { (ds: Dataset[Q2Result], batch: Long) =>
        val out = ds.collect()
        val now = System.nanoTime()
        val rows = out.map { r =>
          Emitted(batch, now, gen.lastTick((Integer.parseInt(r.word.substring(1)), r.ltw)), r)
        }
        emitted.synchronized(emitted ++= rows)
        ()
      }
      .start()
  }

  def run(ctx: Ctx, out: Outcome, hotShare: Double): Unit = {
    val ckptRoot = ctx.work.resolve("checkpoints")
    var nCkpt = 0
    def ckpt(): String = { nCkpt += 1; ckptRoot.resolve(s"q2-${ProcessHandle.current().pid()}-$nCkpt").toString }
    var gen: PwGen = null
    def newGen(): Unit = gen = new PwGen(ctx.seed, GroupWords, hotShare, TickLogicalMs)
    def block(): Seq[Array[String]] = (0 until TicksPerWindow).map(_ => gen.tick(DrainTickRows))
    def offerBlock(p: Pipeline, b: Seq[Array[String]]): Unit = p.offer(b, DrainBlockRows.toLong)
    // The first trigger of a query: one window at the open-loop rate.
    def firstWindow(p: Pipeline): Unit = {
      p.offer((0 until TicksPerWindow).map(_ => gen.tick(OpenTickRows)), TicksPerWindow.toLong * OpenTickRows)
      p.query.processAllAvailable()
    }

    // Set-up, repeated: session start, generator prep, query start, first
    // trigger committed.
    var p: Pipeline = null
    var listener: ProgressListener = null
    val setups = (1 to SetupRepeats).map { rep =>
      val t0 = System.nanoTime()
      val spark = ctx.session(s"local[${ctx.cores}]")
      listener = new ProgressListener
      spark.streams.addListener(listener)
      newGen()
      p = new Pipeline(spark, gen, ckpt())
      firstWindow(p)
      val dt = (System.nanoTime() - t0) / 1e9
      if (rep < SetupRepeats) p.query.stop()
      dt
    }
    val spark = ctx.spark
    out.setupS = Stats.median(setups)
    out.info("setup_repeats_s") = setups.toList
    out.phaseEnd("setup")
    // One untimed block first: the first full-size block runs slower
    // than the rest (state store and JIT warm-up).
    drain(ctx, p, () => block(), offerBlock(p, _), 1, alternate = false)
    val firstMeasuredBatch = p.query.lastProgress.batchId + 1
    out.phaseEnd("warm_up")
    val drainBlocks = mutable.ArrayBuffer[Seq[Array[String]]]()
    val blocks = drain(ctx, p, () => {
      val b = block()
      if (ctx.trace) drainBlocks += b
      b
    }, offerBlock(p, _), DrainBlocks, alternate = ctx.trace)
    def blockRate(bs: Seq[Drained]): Double = DrainBlockRows / (Stats.median(bs.map(_.ns.toDouble)) / 1e9)
    val drainRate = blockRate(blocks.filterNot(_.traced))
    out.endToEnd("throughput_per_s") = drainRate
    out.info("drain_blocks") = blocks.size
    out.phaseEnd("drain")
    out.info("drain_block_rows") = DrainBlockRows
    out.info("drain_block_s") = blocks.map(_.ns / 1e9).toList
    out.info("drain_block_traced") = blocks.map(_.traced).toList

    // Open loop at the fixed rate.
    val openTicks = ((ctx.seconds * OpenShare * 1000) / TickWallMs).toInt
    val firstOpenTick = gen.ticksGenerated
    val pre = (0 until openTicks).map(_ => gen.tick(OpenTickRows))
    val feeder = new OpenLoopFeeder(pre.map(t => () => p.offer(Seq(t), OpenTickRows.toLong)), TickWallMs)
    feeder.start()
    feeder.join()
    val backlog = p.rowsOffered - p.rowsCommitted(p.query.lastProgress)
    p.query.processAllAvailable()
    val lastBatch = p.query.lastProgress.batchId
    p.query.stop()
    listener.awaitBatch(p.query.runId, lastBatch)
    val progress = listener.progress(p.query.runId).filter(_.batchId >= firstMeasuredBatch)
    out.phaseEnd("open_loop_and_flush")

    // Emit latency: sink time minus the due time of the tick that created
    // the row's last contributing event.
    val settled = firstOpenTick + (openTicks * OpenSettleShare).toLong
    val open = p.emitted.filter(_.lastTick >= settled).sortBy(_.lastTick)
    val lat = open.map(e => (e.sinkNanos - feeder.dueNanos(e.lastTick - firstOpenTick)) / 1e6).toSeq
    // Steady load: the first and second halves of the phase see the same
    // latency; a growing backlog would show as a later half that is slower.
    out.info("latency_p50_ms_halves") = lat.splitAt(lat.size / 2).productIterator
      .map(h => Stats.median(h.asInstanceOf[Seq[Double]])).toList
    out.endToEnd("latency_p50_ms") = Stats.quantile(lat, 0.5)
    out.endToEnd("latency_tail_ms") = Stats.quantile(lat, TailQuantile)
    out.info("latency_samples") = lat.size
    out.info("open_loop_rate_rows_per_s") = GroupRate
    out.info("gen_lag_ms_p99") = Stats.quantile(feeder.lagMs.toSeq, 0.99)
    out.info("gen_backlog_rows_end") = backlog

    out.info("triggers") = progress.map(pr => collection.immutable.ListMap(
      "batch" -> pr.batchId, "input_rows" -> pr.numInputRows,
      "trigger_ms" -> pr.durationMs.get("triggerExecution"),
      "add_batch_ms" -> pr.durationMs.get("addBatch"),
      "watermark" -> pr.eventTime.get("watermark"))).toList

    // Output check against the batch contract, over the windows the final
    // watermark closed; no emitted row may disagree with the contract.
    out.attempted = progress.size.toLong
    val wm = progress.lastOption.flatMap(pr => Option(pr.eventTime.get("watermark")))
      .map(s => java.time.Instant.parse(s).toEpochMilli).getOrElse(0L)
    val want = {
      import spark.implicits._
      StreamingParity.q2Batch(spark.createDataset(spark.sparkContext.parallelize(gen.events, ctx.cores)))
        .as[Q2Result].collect().toSeq
    }
    val wantSet = want.toSet
    val got = p.emitted.toSeq
    val gotSet = got.map(_.row).toSet
    val wrongBatches = got.filterNot(e => wantSet.contains(e.row)).map(_.batch).distinct
    wrongBatches.foreach(b => out.fail(s"trigger $b emitted rows the batch contract does not have"))
    if (gotSet.size != got.size) out.fail(s"${got.size - gotSet.size} rows emitted twice")
    val closed = want.filter(r => (r.ltw + 1) * StreamingParity.SlotMs < wm)
    val missing = closed.count(r => !gotSet.contains(r))
    if (missing > 0) out.fail(s"$missing rows of closed windows never emitted")
    if (closed.isEmpty) out.fail("no window closed; nothing was checked")
    out.info("checked_closed_rows") = closed.size
    out.info("emitted_rows") = got.size
    out.info("final_watermark_ms") = wm
    out.phaseEnd("check")

    if (ctx.trace) {
      val l = out.perLayer
      l("operators.frame_build_s") = 0.0
      l("cache.cached_bytes") = spark.sparkContext.getRDDStorageInfo
        .map(i => (i.memSize + i.diskSize).toDouble).sum
      l("driver.analyze_s") = 0.0
      l("driver.optimize_s") = 0.0
      l("driver.plan_s") = 0.0
      val traced = blocks.filter(_.traced)
      l("driver.codegen_compile_s") = traced.map(_.compileNs).sum / 1e9
      execLayers(l, ctx.exec, traced.map(b => (b.startMs, b.endMs)), ctx.cores, 1.0)
      l("trace.overhead_pct") = (drainRate / blockRate(traced) - 1) * 100
      l("sources.parse_rows_per_s") = parseRate(ctx.tracer, spark, drainBlocks.toSeq.flatten ++ pre,
        drainBlocks.size.toLong * DrainBlockRows + pre.size.toLong * OpenTickRows)
      def dur(pr: StreamingQueryProgress, k: String): Double =
        Option(pr.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      def ops(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long): Seq[Double] =
        progress.map(_.stateOperators.map(f).sum.toDouble)
      l("streaming.batches") = progress.size
      l("streaming.trigger_ms_p50") = Stats.quantile(progress.map(dur(_, "triggerExecution")), 0.5)
      l("streaming.trigger_ms_p99") = Stats.quantile(progress.map(dur(_, "triggerExecution")), 0.99)
      l("streaming.add_batch_ms") = Stats.median(progress.map(dur(_, "addBatch")))
      l("streaming.query_planning_ms") = Stats.median(progress.map(dur(_, "queryPlanning")))
      l("streaming.wal_commit_ms") = Stats.median(progress.map(dur(_, "walCommit")))
      l("streaming.state_rows_max") = (0.0 +: ops(_.numRowsTotal)).max
      l("streaming.state_bytes_max") = (0.0 +: ops(_.memoryUsedBytes)).max
      l("streaming.state_update_ms") = Stats.median(ops(_.allUpdatesTimeMs))
      l("streaming.state_removal_ms") = Stats.median(ops(_.allRemovalsTimeMs))
      l("streaming.state_commit_ms") = Stats.median(ops(_.commitTimeMs))
      l("streaming.late_dropped_rows") = ops(_.numRowsDroppedByWatermark).sum
      l("streaming.watermark_lag_ms_p99") = Stats.quantile(progress.flatMap { pr =>
        for (mx <- Option(pr.eventTime.get("max")); w <- Option(pr.eventTime.get("watermark")))
          yield (java.time.Instant.parse(mx).toEpochMilli - java.time.Instant.parse(w).toEpochMilli).toDouble
      }, 0.99)
      l("streaming.output_rows") = got.size
      l("gen.lag_ms_p99") = Stats.quantile(feeder.lagMs.toSeq, 0.99)
      l("gen.backlog_rows_end") = backlog
      traceTriggers(ctx.tracer, progress)
      // Single-thread baseline: a short closed-loop drain on local[1].
      val one = ctx.session("local[1]")
      newGen()
      val p1 = new Pipeline(one, gen, ckpt())
      firstWindow(p1)
      drain(ctx, p1, () => block(), offerBlock(p1, _), 1, alternate = false)
      val oneRate = blockRate(drain(ctx, p1, () => block(), offerBlock(p1, _), 2, alternate = false))
      p1.query.stop()
      l("exec.speedup_vs_1core") = drainRate / oneRate
    }
  }

  /** Rows per second of the wire parser alone, timed over a static copy
    * of the run's messages (median of three).
    */
  private def parseRate(tracer: Tracer, spark: SparkSession, msgs: Seq[Array[String]], rows: Long): Double = {
    import spark.implicits._
    val cached = spark.createDataset(msgs.flatten).cache()
    cached.count()
    val parsed = WireFormat.parsePortWord(cached)
    tracer.enabled = true
    val times = (1 to 3).map { i =>
      val t0 = System.nanoTime()
      tracer.span(s"parse#$i", "sources.parse", "")(parsed.queryExecution.toRdd.count())
      (System.nanoTime() - t0) / 1e9
    }
    tracer.enabled = false
    cached.unpersist()
    rows / Stats.median(times)
  }

  /** Trigger spans from progress reports: the phases of `durationMs`
    * laid end to end from the trigger's start, in execution order.
    */
  private def traceTriggers(tracer: Tracer, progress: Seq[StreamingQueryProgress]): Unit = {
    val offset = System.nanoTime() - System.currentTimeMillis() * 1000000L
    val phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
    tracer.enabled = true
    progress.foreach { pr =>
      val id = s"q2#${pr.batchId}"
      val start = java.time.Instant.parse(pr.timestamp).toEpochMilli * 1000000L + offset
      val total = Option(pr.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      tracer.add(Span(id, "streaming.trigger", "", start, start + total * 1000000L))
      var t = start
      phases.foreach { ph =>
        Option(pr.durationMs.get(ph)).map(_.longValue).foreach { ms =>
          tracer.add(Span(id, s"streaming.$ph", "streaming.trigger", t, t + ms * 1000000L))
          t += ms * 1000000L
        }
      }
    }
    tracer.enabled = false
  }

  /** Execution-layer totals over the traced wall-clock intervals, divided
    * by `per` (the number of traced passes on batch; 1 on streams).
    */
  def execLayers(l: mutable.LinkedHashMap[String, Double], e: ExecListener,
      intervals: Seq[(Long, Long)], cores: Int, per: Double): Unit = {
    val t = e.totals(intervals, per)
    t.foreach { case (k, v) => l(k) = v }
    val wallS = intervals.map { case (a, b) => b - a }.sum / 1000.0 / per
    l("exec.core_util") = if (wallS > 0) t("exec.run_s") / (wallS * cores) else 0.0
  }

  /** One closed-loop block: whether it was traced, its offer-to-commit
    * wall time, and the codegen compile time spent in it.
    */
  final case class Drained(traced: Boolean, startMs: Long, endMs: Long, ns: Long, compileNs: Long)

  /** Closed loop: the next block is offered once the query has committed
    * the previous one and gone idle, so each block costs its own trigger
    * plus the no-data trigger that advances the watermark after it. With
    * `alternate`, blocks go untraced, traced, traced, untraced (repeated);
    * only traced blocks run with the tracer and the task listener attached.
    */
  private def drain(ctx: Ctx, p: Pipeline, next: () => Seq[Array[String]],
      offer: Seq[Array[String]] => Unit, blocks: Int, alternate: Boolean): Seq[Drained] = {
    val epochOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    def ms(ns: Long): Long = (ns - epochOffsetNs) / 1000000L
    val out = mutable.ArrayBuffer[Drained]()
    while (out.size < blocks || (alternate && out.size % 4 != 0)) {
      val traced = alternate && (out.size % 4 == 1 || out.size % 4 == 2)
      val b = next()
      val c0 = CodeGenerator.compileTime
      val (t0, t1) = ctx.traced(traced) {
        val t0 = System.nanoTime()
        ctx.tracer.span(s"block#${out.size}", "stream.block", "") {
          offer(b)
          p.query.processAllAvailable()
        }
        (t0, System.nanoTime())
      }
      out += Drained(traced, ms(t0), ms(t1), t1 - t0, CodeGenerator.compileTime - c0)
    }
    out.toSeq
  }

  /** The stream-only layers, idle on the batch workload. */
  def idleStreamLayers(l: mutable.LinkedHashMap[String, Double]): Unit =
    Seq("sources.parse_rows_per_s", "streaming.batches", "streaming.trigger_ms_p50",
      "streaming.trigger_ms_p99", "streaming.add_batch_ms", "streaming.query_planning_ms",
      "streaming.wal_commit_ms", "streaming.state_rows_max", "streaming.state_bytes_max",
      "streaming.state_update_ms", "streaming.state_removal_ms", "streaming.state_commit_ms",
      "streaming.late_dropped_rows", "streaming.watermark_lag_ms_p99",
      "streaming.state_partition_skew", "streaming.output_rows", "gen.lag_ms_p99",
      "gen.backlog_rows_end").foreach(l(_) = 0.0)
}
