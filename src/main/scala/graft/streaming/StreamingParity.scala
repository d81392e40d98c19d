package graft.streaming


import graft.Shapes
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** File-source ingestion of the shared `events` fixture as a stream — the
  * offline stand-in for the reference's Kafka direct source (S1): the same
  * `readStream → shape-adapt → window/aggregate` pipeline would point at
  * `format("kafka")` in production with no downstream change.
  */
object EventStreams {
  import org.apache.spark.sql.types._

  /** Streaming schema for events.parquet, taken from a (metadata-only)
    * batch read of the same fixture so the two paths can never disagree
    * about the physical `ts` type again. The live fixture carries
    * TIMESTAMP(MICROS) → TimestampType; an epoch-nanos-Long fixture (read
    * under `spark.sql.legacy.parquet.nanosAsLong=true`) would arrive as
    * LongType — `Shapes.eventTimeMs` dispatches on whichever shows up.
    */
  def eventsSchema(spark: SparkSession, sfDir: String): StructType =
    graft.Tables.events(spark, sfDir).schema

  /** Streaming `(event_time ms, port, word)` shape from the fixture dir —
    * the SAME Shapes.portWord projection the batch queries read, so batch
    * and stream agree by construction.
    */
  def portWordStream(spark: SparkSession, sfDir: String): DataFrame =
    // Glob form: FileStreamSource requires a directory basePath; the glob
    // anchors it at sfDir while matching only the events table (works
    // whether events.parquet is a single file or a directory).
    Shapes.portWord(spark.readStream.schema(eventsSchema(spark, sfDir))
      .parquet(s"$sfDir/events*"))
}

/** Structured-Streaming parity for the reference's streaming core
  * (SURVEY.md §2.7–2.8): event-time tumbling windows, per-source
  * punctuation low-watermarks, trigger-time emission with completeness
  * policy, and the forked stateful operator (C4, `MyStateSpecWithIndex` +
  * `MyMapWithStateWithIndexRDD`).
  *
  * The reference hand-builds all of it on DStreams: punctuation control
  * rows interleaved with data (state/src/main/scala/cluster/naive/
  * HashJoin.scala:54-63), executor-singleton watermark timetables
  * (state/src/main/scala/timetable/MyStateJoinUtils.scala:25-65), and a
  * forked mapWithState that scans and evicts window state on trigger
  * (state/src/main/scala/org/apache/spark/streaming/rdd/
  * MyMapWithStateWithIndexRDD.scala:63-148). In Structured Streaming the
  * engine owns every piece: `withWatermark` is the punctuation timetable
  * (global watermark = min over inputs, same min-over-ports rule), append
  * mode is the emit-once-per-closed-window contract, and watermark
  * eviction is the state cleanup.
  *
  * The Q2 shape ("per (word, window) min over per-port counts;
  * incomplete window → 0",
  * state/src/main/scala/cluster/naive/HashJoin.scala:89-103) has one
  * implementation per plan family:
  *
  *   1. [[q2WindowedAgg]] — the declarative form: a watermark per source,
  *      union, then two chained windowed aggregations in append mode
  *      (Spark 4 supports stacked stateful aggs on the same event-time
  *      window). The only Q2 stream with map-side partial aggregation,
  *      and the only one that runs on the default state store.
  *   2. [[q2TransformWithState]] — the reference-shaped form: explicit
  *      keyed state (one ValueState of open (word, window, port) counts
  *      per word bucket), closing a window in the micro-batch whose own
  *      rows pass its end, with event-time timers as the fallback — the
  *      engine-managed analogue of C4's punctuation-driven
  *      scan-emit-evict loop, including its "data come late ignore" rule.
  *
  * Both are asserted equal to the batch form [[q2Batch]] (the gated
  * RefQueries.q2Plan) on in-order input by StreamingParitySpec
  * (MemoryStream fixtures from FIXTURES.md §4).
  */
object StreamingParity {

  /** Input record: the reference's `"ts port word"` stream shape with
    * event_time in logical ms (FIXTURES.md §1.1).
    */
  case class PwEvent(event_time: Long, port: Int, word: String)

  /** Emitted result per closed (word, window). */
  case class Q2Result(word: String, ltw: Long, min_cnt: Long)

  /** Window width in ms (reference `logic_time_slot`); the port arity
    * is Shapes.PortsNum.
    */
  val SlotMs: Long = 1000L

  private def withEventTs(events: Dataset[PwEvent]): DataFrame =
    events.toDF()
      .withColumn("event_ts", timestamp_millis(col("event_time")))
      .withColumn("ltw", expr(s"event_time div $SlotMs"))

  /** Declarative Q2 over one or more `(event_time ms, port, word)`
    * sources (any integral `port` type): windowed count per (word, port,
    * window), re-aggregated to min-with-completeness per (word, window),
    * append mode. Delay 0 ms = the reference's assumption of per-source
    * in-order timestamps (SURVEY.md §2.8).
    *
    * Several sources are the reference's core watermark invention made
    * engine-native: each source carries its OWN punctuation timetable and
    * the trigger fires at the MIN over sources
    * (state/src/main/scala/timetable/MyStateJoinUtils.scala:25-65, min at
    * :35/:58). Each input gets its own `withWatermark` BEFORE the union,
    * and Structured Streaming's default multi-watermark policy
    * (`spark.sql.streaming.multipleWatermarkPolicy = min`) combines them —
    * a laggard source holds back emission for every key, exactly the
    * reference's completeness contract. (Watermarking AFTER the union
    * would instead track the global max — the wrong semantics.)
    */
  def q2WindowedAgg(sources: Seq[DataFrame], slotMs: Long = SlotMs): DataFrame =
    sources
      .map(_.withColumn("event_ts", timestamp_millis(col("event_time")))
        .withWatermark("event_ts", "0 milliseconds"))
      .reduce(_ union _)
      .groupBy(window(col("event_ts"), s"$slotMs milliseconds"),
        col("word"), col("port"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("window"), col("word"))
      .agg(Shapes.minIfComplete(col("cnt")).as("min_cnt"))
      .select(col("word"),
        expr(s"unix_millis(window.start) div $slotMs").as("ltw"),
        col("min_cnt"))

  /** Late/out-of-order observability: total rows the engine dropped for
    * arriving behind the watermark, summed across every stateful operator
    * and every progress update of the query so far. The reference LOGGED
    * each out-of-order violation as it discarded the row
    * (state/src/main/scala/timetable/MyStateJoinUtils.scala:44-45 — "data
    * come late ignore"); Structured Streaming surfaces the same event as
    * the per-operator `numRowsDroppedByWatermark` counter in
    * StreamingQueryProgress, so a pipeline can alert on late-data volume
    * instead of silently losing it. A row dropped at the first stateful
    * operator never reaches the second, so the sum counts each late row
    * once. (recentProgress is a bounded buffer —
    * spark.sql.streaming.numRecentProgressUpdates, default 100; a
    * production monitor would stream these via StreamingQueryListener
    * rather than poll.)
    */
  def rowsDroppedByWatermark(
      query: org.apache.spark.sql.streaming.StreamingQuery): Long =
    query.recentProgress.iterator
      .flatMap(_.stateOperators)
      .map(_.numRowsDroppedByWatermark).sum

  /** Q2's row as the stateful operator reads it: word, window, port. */
  case class WordPort(word: String, ltw: Long, port: Int)

  /** One word bucket's open entries as parallel arrays: `counts(i)` rows
    * of `words(i)` in window `ltws(i)` on port `ports(i)`, one entry per
    * distinct (word, ltw, port). Arrays, not a map: transformWithState
    * checks each state schema through Avro, whose map keys must be
    * strings.
    */
  case class BucketCounts(words: Array[String], ltws: Array[Long],
      ports: Array[Int], counts: Array[Long])

  /** Built once per JVM: an encoder built in `init()` runs Scala
    * reflection in every task of every trigger.
    */
  lazy val bucketCountsEncoder: org.apache.spark.sql.Encoder[BucketCounts] =
    org.apache.spark.sql.Encoders.product[BucketCounts]

  /** Word buckets of [[q2TransformWithState]]: a row's state key is
    * `pmod(hash(word), Buckets)`.
    *   - It is part of the state key, so changing it breaks a restart from
    *     an existing checkpoint.
    *   - 64 spreads evenly over the shuffle partitions and caps Q2's state
    *     parallelism at 64 tasks.
    *   - At the benchmark's rate (997 words, 4000 rows/s) nearly every
    *     bucket gets rows of each tick, so a bucket's own rows carry the
    *     event-time frontier.
    */
  val Buckets: Int = 64

  private lazy val q2Log = org.slf4j.LoggerFactory.getLogger(classOf[Q2StatefulProcessor])

  /** Reference-shaped Q2 on the transformWithState API (typed state
    * handles + event-time timers, RocksDB-only): the engine-native
    * analogue of the reference's forked mapWithState operator (C4). State
    * is one [[BucketCounts]] per word bucket ([[Buckets]]). A bucket's own
    * rows play the reference's punctuation rows: each batch closes every
    * window below its largest window in the bucket (and below the
    * watermark's window); one event-time timer per (bucket, window) closes
    * the windows of a bucket that sees no later row
    * (state/src/main/scala/cluster/optimized/HashJoin.scala:77-99).
    *
    * Late rule, the reference's "data come late ignore"
    * (state/src/main/scala/timetable/MyStateJoinUtils.scala:44-45): a row
    * whose window ended at or before the eviction watermark is dropped and
    * counted in one WARN line per bucket, not in
    * `numRowsDroppedByWatermark`. So a row counts if and only if its
    * window is open at the start of its batch, whatever the bucket count:
    * a window closed early in batch n ends at or before batch n's largest
    * event time, which is batch n+1's eviction watermark. For in-order
    * input (Q2's 0 ms delay) nothing is dropped, and a window closes in
    * the batch whose own rows pass its end, one trigger before the
    * engine's lagging watermark would close it. Out-of-order rows that the
    * engine's late filter still admits are dropped, as the watermark
    * contract allows.
    *
    * Cost model, per bucket and batch: one state get and one put (or
    * clear), the rows counted in memory in between, one timer put per
    * opened window and one delete per window closed early — at most
    * [[Buckets]] timers per window. Grouping by a bucket column needs no
    * per-row key function, so no `AppendColumns` deserialize and
    * serialize before the shuffle. A hot word's share of a batch still
    * lands on one task.
    */
  class Q2StatefulProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Int, WordPort, Q2Result] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig}
    import scala.collection.mutable

    @transient private var open: org.apache.spark.sql.streaming.ValueState[BucketCounts] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[BucketCounts](
        "bucketCounts", bucketCountsEncoder, TTLConfig.NONE)

    /** The stored entries, one mutable count per (word, ltw, port). */
    private def load(): mutable.HashMap[WordPort, Array[Long]] = {
      val entries = mutable.HashMap.empty[WordPort, Array[Long]]
      val b = open.get() // null: no open window
      if (b != null) b.words.indices.foreach { i =>
        entries(WordPort(b.words(i), b.ltws(i), b.ports(i))) = Array(b.counts(i))
      }
      entries
    }

    /** Stores the entries of windows from `limit` on and returns the
      * results of the windows below it (computed before it returns).
      */
    private def close(entries: mutable.HashMap[WordPort, Array[Long]],
        limit: Long): Iterator[Q2Result] = {
      val (closed, kept) = entries.partition(_._1.ltw < limit)
      if (kept.isEmpty) open.clear()
      else {
        val ks = kept.toArray
        open.update(BucketCounts(ks.map(_._1.word), ks.map(_._1.ltw),
          ks.map(_._1.port), ks.map(_._2(0))))
      }
      closed.groupMap(e => (e._1.word, e._1.ltw))(_._2(0)).iterator
        .map { case ((word, ltw), counts) => Q2Result(word, ltw, Shapes.minIfComplete(counts)) }
    }

    override def handleInputRows(bucket: Int, rows: Iterator[WordPort],
        timers: TimerValues): Iterator[Q2Result] = {
      val firstOpen = timers.getCurrentWatermarkInMs() / SlotMs
      val entries = load()
      val stored = entries.keysIterator.map(_.ltw).toSet
      var late = 0L
      var maxLtw = firstOpen
      rows.foreach { r =>
        if (r.ltw < firstOpen) late += 1
        else {
          entries.getOrElseUpdate(r, Array(0L))(0) += 1
          if (r.ltw > maxLtw) maxLtw = r.ltw
        }
      }
      if (late > 0) q2Log.warn(s"Q2 bucket $bucket: data come late ignore: " +
        s"$late rows in windows that ended at or before the watermark " +
        s"${timers.getCurrentWatermarkInMs()} ms")
      val opened = entries.keysIterator.map(_.ltw).filter(_ >= maxLtw).toSet -- stored
      opened.foreach(ltw => getHandle.registerTimer((ltw + 1) * SlotMs))
      stored.filter(_ < maxLtw).foreach(ltw => getHandle.deleteTimer((ltw + 1) * SlotMs))
      close(entries, maxLtw)
    }

    override def handleExpiredTimer(bucket: Int, timers: TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[Q2Result] =
      close(load(), info.getExpiryTimeInMs() / SlotMs)
  }

  def q2TransformWithState(events: Dataset[PwEvent]): Dataset[Q2Result] = {
    val spark = events.sparkSession
    import spark.implicits._
    withEventTs(events)
      .select(col("event_ts"), col("word"), col("ltw"), col("port"),
        pmod(hash(col("word")), lit(Buckets)).as("bucket"))
      .withWatermark("event_ts", "0 milliseconds")
      .groupBy(col("bucket")).as[Int, WordPort]
      .transformWithState(new Q2StatefulProcessor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append())
  }

  /** Keyed star-join record: the reference's `"ts z x"` stream shape
    * (star-join-stateless wire form, HHJoin.scala:39-45).
    */
  case class ZxEvent(event_time: Long, z: String, x: Long)

  /** Stream-stream windowed equi-join — the reference's actual join mode:
    * its star joins run over live Kafka streams, pairing rows of the same
    * key within the same logical window
    * (star-join-stateless/src/main/scala/cluster/HHJoin.scala:59-78;
    * stateful form state/src/main/scala/cluster/naive/HashJoin.scala:89-103).
    * Engine-native form: per-input watermark + tumbling-window column on
    * each side, inner join on (z, window). Window equality acts as the
    * event-time constraint, so the engine evicts each side's join state as
    * the (min-over-sources) watermark passes the window end — the
    * reference's timetable-driven state cleanup, owned by the engine.
    * Inner-join rows emit as soon as both sides have arrived (the
    * reference's pair emission at trigger), and the output is exactly the
    * batch join of the same rows.
    */
  def streamWindowJoin(a: Dataset[ZxEvent], b: Dataset[ZxEvent],
      joinType: String = "inner"): DataFrame = {
    def shape(in: Dataset[ZxEvent], side: String): DataFrame =
      in.toDF()
        .withColumn(s"ts_$side", timestamp_millis(col("event_time")))
        .withWatermark(s"ts_$side", "0 milliseconds")
        .select(col(s"ts_$side"),
          window(col(s"ts_$side"), s"$SlotMs milliseconds").as(s"w_$side"),
          col("z").as(s"z_$side"), col("x").as(s"x_$side"))
    // Outer types are engine-legal here because the window-equality
    // constraint bounds both sides' state: a left row's null-padded
    // emission happens when the watermark closes its window (the engine
    // then KNOWS no match can still arrive) — matched rows still emit
    // eagerly.
    shape(a, "a").join(shape(b, "b"),
        col("z_a") === col("z_b") && col("w_a") === col("w_b"), joinType)
      .select(col("z_a").as("z"),
        expr(s"unix_millis(w_a.start) div $SlotMs").as("ltw"),
        col("x_a"), col("x_b"))
  }

  /** Three-way form — the reference's star join R0 ⋈ R1 ⋈ R2 on (z,
    * window) (HHJoin.scala:59-78). Spark ≥ 3.5 supports chained
    * stream-stream joins (multiple stateful operators); each pairwise join
    * keeps the window-equality constraint so state stays bounded.
    */
  def streamStarJoin(r0: Dataset[ZxEvent], r1: Dataset[ZxEvent],
      r2: Dataset[ZxEvent]): DataFrame = {
    def shape(in: Dataset[ZxEvent], side: String): DataFrame =
      in.toDF()
        .withColumn(s"ts_$side", timestamp_millis(col("event_time")))
        .withWatermark(s"ts_$side", "0 milliseconds")
        .select(col(s"ts_$side"),
          window(col(s"ts_$side"), s"$SlotMs milliseconds").as(s"w_$side"),
          col("z").as(s"z_$side"), col("x").as(s"x_$side"))
    shape(r0, "a")
      .join(shape(r1, "b"), col("z_a") === col("z_b") && col("w_a") === col("w_b"))
      .join(shape(r2, "c"), col("z_a") === col("z_c") && col("w_a") === col("w_c"))
      .select(col("z_a").as("z"),
        expr(s"unix_millis(w_a.start) div $SlotMs").as("ltw"),
        col("x_a"), col("x_b"), col("x_c"))
  }

  /** Event record with identity + value — the a_interval_join stream
    * shape. */
  case class IdEvent(event_time: Long, event_id: Long, value: Double)

  /** Streaming twin of a_interval_join. The engine REQUIRES an equality
    * predicate in stream-stream joins ("Stream-stream join without
    * equality predicate is not supported") — a bare time-range condition
    * is not a legal join key — so the batch side's bin-bucketing
    * composition is not an optimization here but the admission ticket:
    * the SAME ≤2-bin anchor explode + single-bin probe mapping gives the
    * equi-key the engine demands, with the range residual and the
    * exactly-once bin-distinctness argument carried over unchanged. The
    * event-time range condition on the two watermarked columns then
    * bounds join state: an anchor's state is dropped once the probe
    * watermark passes t + W, a probe row's once the anchor watermark
    * passes its timestamp — one window of stream volume per side, the
    * streaming analogue of the batch plan's per-bin density bound.
    * Logically a self-join of one event stream; the spec feeds the same
    * rows to both inputs.
    */
  def intervalJoinStream(anchors: Dataset[IdEvent], probe: Dataset[IdEvent]): DataFrame = {
    val W = graft.operators.Analytics.ContextWindowMs
    // The bin columns are wrapped in coalesce(·, -1): they can never BE
    // null (event_time is a primitive Long), but the optimizer's inferred
    // nullability for the exploded jbin differed between a fresh start
    // and a checkpoint restart (false vs true), and the stream-stream
    // join STORES row schemas in the state store —
    // STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE on restart. coalesce with a
    // non-null literal pins nullable=false identically in every
    // incarnation, making join state restart-stable.
    val a = anchors.toDF()
      .where(col("value") >= graft.operators.Analytics.AnchorMinValue)
      .select(timestamp_millis(col("event_time")).as("ts_a"),
        col("event_id").as("anchor_id"),
        expr(s"event_time div ${W}L").as("b0"))
      .withColumn("jbin0", explode(array(col("b0"), col("b0") + 1)))
      .withColumn("jbin", coalesce(col("jbin0"), lit(-1L)))
      .drop("jbin0")
      .withWatermark("ts_a", "0 milliseconds")
    val p = probe.toDF()
      .select(timestamp_millis(col("event_time")).as("ts_p"), col("event_id"),
        coalesce(expr(s"event_time div ${W}L"), lit(-1L)).as("bin"))
      .withWatermark("ts_p", "0 milliseconds")
    a.join(p,
        col("bin") === col("jbin") &&
          col("ts_p") >= col("ts_a") &&
          col("ts_p") < col("ts_a") + expr(s"INTERVAL $W MILLISECONDS") &&
          col("event_id") =!= col("anchor_id"))
      .select(col("anchor_id"), col("event_id"),
        (unix_millis(col("ts_p")) - unix_millis(col("ts_a"))).as("delta_ms"))
  }

  /** Streaming twin of q3_sliding_count: the engine's native HOPPING
    * window — window(ts, 2×slot, 1×slot) assigns each event to its two
    * covering windows and keeps ONE windowed count in append mode, state
    * bounded by open windows × keys and evicted as the watermark passes
    * each window's end. Same output key as the batch explode form:
    * hop = window-start div slot. The batch plan amplifies rows 2× then
    * partial-aggregates; the stream amortizes the same 2× into its
    * state updates — both are the inherent size/hop cost and nothing
    * else.
    */
  def slidingCountStream(events: Dataset[ZxEvent]): DataFrame =
    events.toDF()
      .withColumn("event_ts", timestamp_millis(col("event_time")))
      .withWatermark("event_ts", "0 milliseconds")
      .groupBy(
        window(col("event_ts"), s"${2 * SlotMs} milliseconds", s"$SlotMs milliseconds"),
        col("z"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("z"),
        expr(s"unix_millis(window.start) div $SlotMs").as("hop"),
        col("cnt"))

  /** The batch contract for [[slidingCountStream]] — RefQueries'
    * explode(sequence) plan over the same in-memory rows, slot = SlotMs.
    */
  def slidingCountBatch(events: Dataset[ZxEvent]): DataFrame =
    events.toDF()
      .select(col("z"),
        explode(sequence(
          expr(s"event_time div $SlotMs") - 1,
          expr(s"event_time div $SlotMs"))).as("hop"))
      .groupBy("z", "hop").agg(count(lit(1)).as("cnt"))

  /** Per-window streaming star cardinality — the stateful reference
    * variant's shape (per (key, window) count product, emitted once when
    * the window closes): watermark + ONE windowed conditional aggregation
    * in append mode. Specced equal to the batch
    * RefQueries.q4WindowedCardinality on closed windows.
    */
  def q4WindowedCardinalityStream(events: Dataset[PwEvent]): DataFrame =
    withEventTs(events)
      .withWatermark("event_ts", "0 milliseconds")
      .groupBy(window(col("event_ts"), s"$SlotMs milliseconds"),
        col("word").as("z"))
      .agg(
        sum(when(col("port") === 0, 1L).otherwise(0L)).as("c0"),
        sum(when(col("port") === 1, 1L).otherwise(0L)).as("c1"),
        sum(when(col("port") === 2, 1L).otherwise(0L)).as("c2"))
      .select(col("z"),
        expr(s"unix_millis(window.start) div $SlotMs").as("ltw"),
        (col("c0") * col("c1") * col("c2")).as("card"))

  /** Streaming sessionization — the engine-native twin of the batch
    * gaps-and-islands form (operators/Analytics.sessionize): the engine's
    * session_window merges events within the gap and closes a session
    * when the watermark passes its end (last event + gap). State is
    * bounded by the watermark — the only sessionization that survives an
    * unbounded stream. Keyed by `word` here (the spec's fixture key); the
    * batch form keys by user — the shape is identical.
    */
  def sessionWindowStream(events: Dataset[PwEvent], gapMs: Long): DataFrame =
    withEventTs(events)
      .withWatermark("event_ts", "0 milliseconds")
      .groupBy(session_window(col("event_ts"), s"$gapMs milliseconds"), col("word"))
      .agg(min("event_time").as("session_start"),
        max("event_time").as("session_end"),
        count(lit(1)).as("n_events"))
      .select(col("word"), col("session_start"), col("session_end"), col("n_events"))

  // ------------------------------------------------------------------
  // Streaming calendar-spine gap fill (r15) — the continuous form of
  // Analytics.gapFill, and the one transformWithState capability no
  // other twin demonstrates: TIMER-DRIVEN ROW SYNTHESIS. Every other
  // stateful operator here emits only in response to input; a gap-fill
  // must emit rows for hours in which a key received NOTHING — the
  // reference's trigger-emission idea (C4: state scanned and emitted at
  // punctuation time, independent of arrivals) in its modern engine
  // form. Per key (event type z): a MapState buffers open-hour sums; a
  // ValueState carries the last closed hour and the LOCF value; ONE
  // event-time timer per key is kept armed at the next hour boundary,
  // and each expiry closes every hour the watermark has passed — real
  // hours drain their buffered sum, silent hours SYNTHESIZE a row
  // carrying the LOCF value with is_gap=1. State per key is 2 scalars +
  // the open-hour map (bounded by watermark delay / slot), so total
  // state is O(|live keys|) — the StreamSoak bound.
  //
  // Contract vs the batch form (spec-pinned): batch builds its spine
  // from the GLOBAL [lo, hi] hour range, so it emits leading gap rows
  // for a key before that key's first event; a stream cannot know a
  // key exists before its first arrival, so the streaming spine starts
  // at each key's own first hour — parity holds on every (z, h) with
  // h ≥ first-event-hour(z), closed by the final watermark. Slot width
  // is a parameter (the batch twin's GapFillSlotMs in production;
  // seconds in the spec fixture).
  // ------------------------------------------------------------------

  /** A synthesized-or-real spine row (matches Analytics.gapFill columns). */
  case class GapRow(z: String, h: Long, filled_sum: Long, is_gap: Long)

  class GapFillStatefulProcessor(slotMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (java.sql.Timestamp, String, Long), GapRow] {
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig}
    import org.apache.spark.sql.{Encoders, streaming}

    @transient private var pending: streaming.MapState[Long, Long] = _
    @transient private var lastClosed: streaming.ValueState[Long] = _
    @transient private var lastSum: streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      pending = getHandle.getMapState[Long, Long](
        "openHourSums", Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)
      lastClosed = getHandle.getValueState[Long](
        "lastClosedHour", Encoders.scalaLong, TTLConfig.NONE)
      lastSum = getHandle.getValueState[Long](
        "locfSum", Encoders.scalaLong, TTLConfig.NONE)
    }

    /** Close every hour the watermark has passed (real or synthesized),
      * then re-arm the chain's single timer at the next hour boundary.
      */
    private def closeUpTo(key: String, wmMs: Long): Iterator[GapRow] = {
      val out = scala.collection.mutable.ArrayBuffer[GapRow]()
      var h = lastClosed.get() + 1
      while ((h + 1) * slotMs <= wmMs) {
        if (pending.containsKey(h)) {
          val s = pending.getValue(h)
          pending.removeKey(h)
          lastSum.update(s)
          out += GapRow(key, h, s, 0L)
        } else {
          out += GapRow(key, h,
            if (lastSum.exists()) lastSum.get() else 0L, 1L)
        }
        lastClosed.update(h)
        h += 1
      }
      getHandle.registerTimer((h + 1) * slotMs)
      out.iterator
    }

    override def handleInputRows(
        key: String,
        rows: Iterator[(java.sql.Timestamp, String, Long)],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[GapRow] = {
      val isFirst = !lastClosed.exists()
      var minH = Long.MaxValue
      rows.foreach { case (ts, _, x) =>
        val h = Math.floorDiv(ts.getTime, slotMs)
        if (isFirst || h > lastClosed.get()) {
          pending.updateValue(h,
            (if (pending.containsKey(h)) pending.getValue(h) else 0L) + x)
          if (h < minH) minH = h
        } // else: below the already-closed horizon (engine late filter
          //       races) — drop, exactly as the batch's watermark would
      }
      if (isFirst && minH != Long.MaxValue) {
        // First contact: the spine starts at this key's first hour.
        // closeUpTo both handles the laggard case (watermark already
        // past — emit immediately) and arms the timer chain.
        lastClosed.update(minH - 1)
        closeUpTo(key, timers.getCurrentWatermarkInMs())
      } else Iterator.empty // the standing timer chain will close hours
    }

    override def handleExpiredTimer(
        key: String,
        timers: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[GapRow] =
      closeUpTo(key, timers.getCurrentWatermarkInMs())
  }

  /** The continuous gap-fill: ZxEvent (event_time ms, z, x = floored
    * value) → dense per-key hourly spine, LOCF-filled, append-only.
    */
  def gapFillStream(events: Dataset[ZxEvent], slotMs: Long): Dataset[GapRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(timestamp_millis(col("event_time")).as("event_ts"),
        col("z"), col("x"))
      .withWatermark("event_ts", "0 milliseconds")
      .as[(java.sql.Timestamp, String, Long)]
      .groupByKey(_._2)
      .transformWithState(new GapFillStatefulProcessor(slotMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append())
  }

  // ------------------------------------------------------------------
  // Streaming conversion funnel — the streaming twin of
  // Analytics.funnel's ordered view → click → purchase semantics, as
  // keyed arbitrary state: per user, the earliest view, the earliest
  // click at-or-after it, the earliest purchase at-or-after that.
  //
  // Exactness contract (documented, spec-pinned): within a micro-batch
  // the per-user iterator is SORTED by (event_time, event_type) before
  // folding, so intra-batch disorder is harmless; ACROSS batches the
  // fold is exact when batches arrive in event-time order (each batch's
  // events no earlier than the last — the same per-source in-order
  // assumption as the q2 parity's 0 ms watermark). A late cross-batch
  // view below the recorded t1 could admit clicks that were already
  // discarded; an engine replaying history would need the batch operator
  // (the same honest partial contract as streamingNearDupGuard).
  // Update mode: each batch re-emits the user's deepest reached stage
  // (0 = nothing yet) — consumers read the latest row per user.
  // ------------------------------------------------------------------

  /** A streaming user event: arrival event time + type. */
  case class UserEvent(event_time: Long, user_id: Long, event_type: String)

  /** Funnel state: earliest qualifying ms per stage. */
  case class FunnelTimes(t1: Option[Long], t2: Option[Long], t3: Option[Long])

  /** Emitted per user per batch: deepest stage reached so far. */
  case class FunnelProgress(user_id: Long, stage: Long)

  /** The one funnel fold shared by the in-order and the watermark-buffered
   * funnel processors, so the two can't silently drift.
   *
   * Sorts the batch's rows by (time, stage rank): the fold is then
   * identical to the batch operator's min-with-ordering semantics within
   * this batch. Ties fold earlier stages FIRST — the batch >= contract
   * admits a click at the exact timestamp of the first view, so the view
   * must land in state before the click is judged (and likewise click
   * before purchase).
   *
   * Memory contract: `rows.toSeq.sortBy` materializes ONE KEY's share of
   * ONE micro-batch in task memory. That is bounded by the trigger
   * interval × that key's event rate — not by total state or corpus size —
   * so even a 50%-hot user (the SkewBench scenario) holds as long as
   * triggers are sized sanely. A deployment with pathological single-key
   * micro-batches should pre-sort via sortWithinPartitions upstream and
   * fold incrementally instead.
   *
   * Returns (new state, deepest stage reached: 0–3). */
  private[graft] def foldFunnel(
      init: FunnelTimes, rows: Iterator[UserEvent]): (FunnelTimes, Long) = {
    val stageRank = Map("view" -> 1, "click" -> 2, "purchase" -> 3)
    var s = init
    rows.toSeq.sortBy(e => (e.event_time, stageRank.getOrElse(e.event_type, 9)))
      .foreach { e =>
        e.event_type match {
          case "view" =>
            if (s.t1.forall(e.event_time < _)) s = s.copy(t1 = Some(e.event_time))
          case "click" =>
            if (s.t1.exists(_ <= e.event_time) && s.t2.forall(e.event_time < _))
              s = s.copy(t2 = Some(e.event_time))
          case "purchase" =>
            if (s.t2.exists(_ <= e.event_time) && s.t3.forall(e.event_time < _))
              s = s.copy(t3 = Some(e.event_time))
          case _ => ()
        }
      }
    val stage: Long =
      if (s.t3.isDefined) 3L else if (s.t2.isDefined) 2L
      else if (s.t1.isDefined) 1L else 0L
    (s, stage)
  }

  // ------------------------------------------------------------------
  // In-order funnel on transformWithState: the three stage times in a
  // typed ValueState handle. TimeMode.None: the fold is arrival-driven and
  // the funnel never closes, only deepens — no timers of either kind
  // (ProcessingTime mode measured as a continuous empty-batch trigger loop
  // under processAllAvailable; None quiesces).
  // ------------------------------------------------------------------
  class FunnelStatefulProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, UserEvent, FunnelProgress] {
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig}
    import org.apache.spark.sql.{Encoders, streaming}

    @transient private var times: streaming.ValueState[FunnelTimes] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      times = getHandle.getValueState[FunnelTimes](
        "funnelTimes", Encoders.product[FunnelTimes], TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[UserEvent],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[FunnelProgress] = {
      val (s, stage) = foldFunnel(
        Option(times.get()).getOrElse(FunnelTimes(None, None, None)), rows)
      times.update(s)
      Iterator.single(FunnelProgress(key, stage))
    }
  }

  def funnelTransformWithState(events: Dataset[UserEvent]): Dataset[FunnelProgress] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new FunnelStatefulProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  // ------------------------------------------------------------------
  // OUT-OF-ORDER funnel — the watermark-buffered variant.
  // funnelTransformWithState folds each micro-batch immediately, which
  // assumes cross-batch in-order arrival (an earlier-timestamped event
  // arriving in a LATER batch would be judged against state that already
  // folded newer events). This processor instead BUFFERS arrivals in a
  // ListState and folds only on event-time timer expiry, taking exactly
  // the buffered events at or below the current watermark — at that
  // point nothing older can still arrive (the engine's late filter
  // drops it), so folding the watermark-closed prefix in (time, stage)
  // order is identical to the batch fold no matter how the replay was
  // shuffled across batches. State is bounded by the watermark delay:
  // the buffer holds at most delay × per-key rate events, and each
  // timer fire drains the closed prefix into the three O(1) stage
  // times. Sort-on-timer via transformWithState event-time timers —
  // one timer per key at the max buffered event time, re-armed while
  // anything stays pending.
  // ------------------------------------------------------------------
  class BufferedFunnelProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, UserEvent, FunnelProgress] {
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig}
    import org.apache.spark.sql.{Encoders, streaming}

    @transient private var times: streaming.ValueState[FunnelTimes] = _
    @transient private var pending: streaming.ListState[UserEvent] = _
    // The single currently-armed timer per key. Without it, every input
    // batch registered a NEW timer and never deleted the previous one,
    // so stale timers accumulated and each later expiry re-ran the fold
    // against an empty/unchanged buffer, emitting duplicate
    // FunnelProgress rows and doing O(buffer) ListState rewrites per
    // stale fire. Invariant now: at most one live timer per key, at the
    // max buffered event time; re-arming deletes the old one first.
    @transient private var armed: streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      times = getHandle.getValueState[FunnelTimes](
        "funnelTimes", Encoders.product[FunnelTimes], TTLConfig.NONE)
      pending = getHandle.getListState[UserEvent](
        "pending", Encoders.product[UserEvent], TTLConfig.NONE)
      armed = getHandle.getValueState[Long](
        "armedTimer", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(
        key: Long,
        rows: Iterator[UserEvent],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[FunnelProgress] = {
      val incoming = rows.toArray
      if (incoming.nonEmpty) {
        pending.appendList(incoming)
        // Fire once the watermark passes everything buffered so far.
        // armed always equals the max buffered event time, so the new
        // target needs no ListState scan.
        val target = incoming.map(_.event_time).max
        if (!armed.exists()) {
          getHandle.registerTimer(target); armed.update(target)
        } else if (armed.get() < target &&
            armed.get() > timers.getCurrentWatermarkInMs()) {
          // Re-arm only while the armed timer is still in the FUTURE
          // relative to the batch watermark. An armed timer already <=
          // the watermark is due to fire THIS batch (input rows process
          // before timer expiry within a micro-batch): deleting it here
          // would defer the watermark-closed fold to the new, later
          // target — and at stream tail those rows might never emit.
          // Leaving it alone lets handleExpiredTimer fold the closed
          // prefix and re-arm at the max of what remains (which includes
          // the rows just appended), preserving the one-live-timer
          // invariant.
          getHandle.deleteTimer(armed.get())
          getHandle.registerTimer(target); armed.update(target)
        }
      }
      Iterator.empty
    }

    override def handleExpiredTimer(
        key: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[FunnelProgress] = {
      val wm = timerValues.getCurrentWatermarkInMs()
      val (ready, later) = pending.get().toSeq.partition(_.event_time <= wm)
      pending.clear()
      if (later.nonEmpty) {
        pending.appendList(later.toArray)
        val target = later.map(_.event_time).max
        getHandle.registerTimer(target)
        armed.update(target)
      } else armed.clear()
      // Nothing closed by this watermark => stage unchanged: emit
      // nothing rather than a duplicate unchanged-progress row.
      if (ready.isEmpty) Iterator.empty
      else {
        val (s, stage) = foldFunnel(
          Option(times.get()).getOrElse(FunnelTimes(None, None, None)), ready.iterator)
        times.update(s)
        Iterator.single(FunnelProgress(key, stage))
      }
    }
  }

  /** The out-of-order funnel: watermark delay = the disorder bound the
    * deployment tolerates; events later than that are dropped by the
    * engine (the standard watermark contract), everything inside it
    * folds exactly as in batch.
    */
  def funnelOutOfOrder(events: Dataset[UserEvent], delayMs: Long): Dataset[FunnelProgress] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.toDF()
      .withColumn("event_ts", timestamp_millis(col("event_time")))
      .withWatermark("event_ts", s"$delayMs milliseconds")
      .select(col("event_time"), col("user_id"), col("event_type"))
      .as[UserEvent]
      .groupByKey(_.user_id)
      .transformWithState(new BufferedFunnelProcessor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Update())
  }

  // ------------------------------------------------------------------
  // Stream-static enrichment join: a live event stream joined against a
  // STATIC dimension (user → segment), then windowed-counted per
  // segment — the canonical "enrich the stream against reference data"
  // shape. The static side is a plain batch DataFrame: the engine
  // re-plans it per micro-batch (picking broadcast for a small dim) and
  // requires no state for the join itself; the only streaming state is
  // the downstream windowed count, evicted by the watermark. At 100 TB/
  // day the static dim is the thing you'd bucket or broadcast; the
  // stream never shuffles for the join when the dim broadcasts.
  // ------------------------------------------------------------------
  def segmentWindowCounts(events: Dataset[UserEvent], userSegments: DataFrame): DataFrame =
    events.toDF()
      .withColumn("event_ts", timestamp_millis(col("event_time")))
      .withWatermark("event_ts", "0 milliseconds")
      .join(userSegments, "user_id") // stream-static: stateless, per-batch planned
      .groupBy(window(col("event_ts"), s"$SlotMs milliseconds"), col("segment"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("segment"),
        expr(s"unix_millis(window.start) div $SlotMs").as("ltw"),
        col("n_events"))

  /** The batch contract for [[segmentWindowCounts]]. */
  def segmentWindowCountsBatch(events: Dataset[UserEvent], userSegments: DataFrame): DataFrame =
    events.toDF()
      .join(userSegments, "user_id")
      .withColumn("ltw", expr(s"event_time div $SlotMs"))
      .groupBy("segment", "ltw").agg(count(lit(1)).as("n_events"))

  // ------------------------------------------------------------------
  // Online per-user anomaly detection — the streaming arm of
  // Analytics.outliers' exact-integer 2-sigma rule, as running moments
  // in keyed state: each event is judged against the (n, Σx, Σx²) of
  // everything its user has sent UP TO AND INCLUDING it (prefix
  // population stats — the batch rule's formula over the prefix).
  // Honest contract, spec-pinned: prefix flags converge to the batch
  // flags as history accumulates but are not equal to them (the batch
  // rule sees the full corpus; an online detector cannot) — the same
  // documented-divergence pattern as streamingNearDupGuard. All state is
  // three Longs per user; all arithmetic stays exact 64-bit.
  // ------------------------------------------------------------------

  /** A measured streaming event. */
  case class MeasuredEvent(event_time: Long, user_id: Long, x: Long)

  /** Running per-user moments. */
  case class Moments(n: Long, s: Long, q: Long)

  /** An event flagged at arrival: deviation beyond 2 prefix-sigmas. */
  case class Flagged(user_id: Long, event_time: Long, x: Long, n: Long)

  def outlierStream(events: Dataset[MeasuredEvent]): Dataset[Flagged] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Moments, Flagged](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (user, rows, state: GroupState[Moments]) =>
          var m = state.getOption.getOrElse(Moments(0L, 0L, 0L))
          val out = scala.collection.mutable.ArrayBuffer[Flagged]()
          // Deterministic intra-batch order; event_id-free ties break on x.
          // Same per-key micro-batch memory contract as foldFunnel above.
          rows.toSeq.sortBy(e => (e.event_time, e.x)).foreach { e =>
            m = Moments(m.n + 1, m.s + e.x, m.q + e.x * e.x)
            val dev = e.x * m.n - m.s
            if (dev * dev > 4L * (m.n * m.q - m.s * m.s))
              out += Flagged(user, e.event_time, e.x, m.n)
          }
          state.update(m)
          out.iterator
      }
  }
  // CHAINED stateful aggregation — dropDuplicates on (user, day) under
  // the watermark (state = one row per live (user, day), evicted when
  // the day closes), then a windowed count. The streaming arm of
  // Analytics.retention's activity relation; append mode emits each
  // closed day exactly once. At 100 TB/day the distinct state is bounded
  // by |active users| per live day — the exact-DAU formulation; the
  // documented overflow swap is approx_count_distinct in update mode.
  // ------------------------------------------------------------------
  def dailyActiveStream(events: Dataset[UserEvent]): DataFrame = {
    val dayMs = graft.operators.Analytics.DayMs
    events.toDF()
      // Day-truncated event time as THE watermark column: streaming
      // dropDuplicates only evicts state when an event-time column is
      // among the dedup keys, so deduping on (user, day_ts) — not a
      // derived integer day — is what bounds the state to live days.
      .withColumn("day_ts",
        timestamp_millis(expr(s"(event_time div $dayMs) * $dayMs")))
      .withWatermark("day_ts", "0 milliseconds")
      .dropDuplicates("user_id", "day_ts")
      .groupBy(window(col("day_ts"), s"$dayMs milliseconds"))
      .agg(count(lit(1)).as("n_users"))
      .select(expr(s"unix_millis(window.start) div $dayMs").as("day"),
        col("n_users"))
  }

  /** The batch contract for [[dailyActiveStream]] over the same events. */
  def dailyActiveBatch(events: Dataset[UserEvent]): DataFrame = {
    val dayMs = graft.operators.Analytics.DayMs
    events.toDF()
      .withColumn("day", expr(s"event_time div $dayMs"))
      .select("user_id", "day").distinct()
      .groupBy("day").agg(count(lit(1)).as("n_users"))
  }

  /** The batch-mode contract both streaming forms must match: the gated
    * RefQueries.q2Plan over the same records at SlotMs.
    */
  def q2Batch(events: Dataset[PwEvent]): DataFrame =
    graft.operators.RefQueries.q2Plan(events.toDF(), SlotMs)

  // ------------------------------------------------------------------
  // Streaming exact dedup — the streaming arm of the dedup family
  // (operators/Dedup): keep the first occurrence of each text fingerprint.
  // `dropDuplicatesWithinWatermark` bounds the dedup state by event time
  // (state for fingerprints older than the watermark is evicted), which is
  // the only formulation that survives an unbounded 100 TB/day stream.
  // ------------------------------------------------------------------

  /** A streaming document: arrival event time + text. */
  case class StreamDoc(event_time: Long, doc_id: Long, text: String)

  // ------------------------------------------------------------------
  // Streaming Count-Min maintenance — the continuous twin of the
  // Sketches counter grid (t_cms_sketch_stats' `counters` relation).
  // CMS counters are ADDITIVE, so the mergeable-summary contract that
  // makes the batch grid one partial-aggregated shuffle makes the
  // streaming grid a plain streaming groupBy count: the state store
  // holds ≤ depth·width counter rows FOREVER — the sketch's whole point
  // is that this bound is corpus-independent — and each micro-batch's
  // update is absorbed map-side before touching state. Complete output
  // mode (normally a scale hazard) is safe here precisely because the
  // result relation is grid-bounded; no watermark because the sketch is
  // a running total, not a windowed aggregate. Shares Sketches'
  // expression builders, so the streamed grid is bit-identical to the
  // batch grid over the same documents (pinned in the spec).
  // ------------------------------------------------------------------
  def cmsCounterStream(docs: Dataset[StreamDoc]): DataFrame = {
    import graft.operators.Sketches
    docs.toDF()
      .select(explode(expr(graft.functions.Parity.tokensSpark("text"))).as("tok"))
      .select(expr(Sketches.tok31Spark("tok")).as("h"))
      .select(posexplode(array(Sketches.cmsCellExprs("h").map(expr): _*)))
      .toDF("j", "cell")
      .groupBy("j", "cell").agg(count(lit(1)).as("cnt"))
  }

  // ------------------------------------------------------------------
  // Streaming vocabulary maintenance — the continuous twin of
  // Curation.incrementalVocab (p_incremental_vocab): the (token, tf)
  // running count as a streaming aggregate. The batch operator merges a
  // day-2 delta into a stored vocab with one vocab-sized full-outer
  // sum; the stream IS that merge executed every micro-batch by the
  // state store — each trigger's explode is absorbed map-side (partial
  // aggregation) before touching state, so per-trigger state I/O is
  // bounded by the trigger's DISTINCT tokens, not its occurrences.
  // State is VOCAB-bounded — one row per distinct token ever seen, the
  // cms_stream argument one size up (corpus unbounded, key domain
  // bounded: millions of tokens vs trillions of occurrences) — and the
  // soak measures the plateau. No watermark: a running total, not a
  // windowed aggregate. df is deliberately NOT maintained, same reason
  // as the batch twin (distinct-over-docs is not self-maintainable from
  // the aggregate alone; the (token, doc) keyset relation is the
  // production answer).
  // ------------------------------------------------------------------
  def vocabStream(docs: Dataset[StreamDoc]): DataFrame =
    docs.toDF()
      .select(explode(expr("split(text, ' ')")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("tf"))

  // ------------------------------------------------------------------
  // Streaming quality histogram — the continuous twin of
  // TextAnalysis.qualityHistogram (t_quality_histogram): the per-bin
  // doc count as an update-mode running aggregate. Scores live in [0,1]
  // by construction, so the 100 integer bins bound the state store at
  // ≤ 100 rows FOREVER — the cms_stream argument with an even smaller
  // grid — and each trigger's docs collapse map-side (partial agg)
  // before touching state. This is the relation a continuous curation
  // pipeline watches to re-derive quality cutpoints per trigger
  // (the t_quality_deciles_approx analysis on live data) without ever
  // sorting or retaining rows. Same score arithmetic as the batch twin
  // (identical expressions), pinned bin-identical in the spec.
  // ------------------------------------------------------------------
  def qualityHistogramStream(docs: Dataset[StreamDoc]): DataFrame = {
    import graft.operators.TextAnalysis
    docs.toDF()
      .withColumn("toks", expr(graft.functions.Parity.tokensSpark("text")))
      .withColumn("quality_score", expr(
        "0.4 * (CAST(size(array_distinct(toks)) AS DOUBLE) / size(toks))" +
          " + 0.3 * (1.0 - abs(CAST(" + TextAnalysis.stopCountSpark("toks") +
          " AS DOUBLE) / size(toks) - 0.2))" +
          " + 0.3 * (CAST(least(size(toks), 100) AS DOUBLE) / 100.0)"))
      .withColumn("bin", least(floor(col("quality_score") * 100.0),
        lit(TextAnalysis.QualityBins - 1)).cast("long"))
      .groupBy("bin").agg(count(lit(1)).as("n_docs"))
  }

  // ------------------------------------------------------------------
  // Streaming dedup-plan decision grid — the continuous twin of
  // Dedup.adaptiveJaccardDecision's statistic (d_adaptive_jaccard_*).
  // The batch form reads a CMS grid over the corpus shingle stream to
  // decide exact-vs-prefix BEFORE materializing any pair row; on a
  // continuously-ingested corpus the same grid is an update-mode
  // streaming count over the shingle cells: additive counters, so each
  // trigger's shingles collapse map-side and state stays ≤ depth·width
  // rows (196 608 at the decision width) FOREVER — constant-bounded
  // like cms_stream, sized for a load-bearing estimate. Per trigger a
  // consumer reads the ≤ depth-row aggregate and calls the SAME
  // Dedup.decideJaccardArm formula the batch face uses — the C1-style
  // feedback loop (AdaptiveAgg) applied to join-plan selection: the
  // day-N ingest pipeline always knows, before it runs, whether the
  // next full-dedup pass can afford exactness.
  // ------------------------------------------------------------------
  def shingleCmsStream(docs: Dataset[StreamDoc]): DataFrame = {
    import graft.operators.Dedup
    docs.toDF()
      .select(explode(graft.functions.TextHashOps.shingleHashes(
        col("text"), Dedup.ShingleW)).as("sh"))
      .select(posexplode(array(Dedup.adaptiveCellExprs("sh").map(expr): _*)))
      .toDF("j", "cell")
      .groupBy("j", "cell").agg(count(lit(1)).as("cnt"))
  }

  def streamingDedup(docs: Dataset[StreamDoc]): DataFrame =
    docs.toDF()
      .withColumn("event_ts", timestamp_millis(col("event_time")))
      .withColumn("fp", graft.functions.TextHashOps.polyHash(col("text")))
      .withWatermark("event_ts", "10 seconds")
      .dropDuplicatesWithinWatermark("fp")
      .select("doc_id", "fp")

  // ------------------------------------------------------------------
  // Streaming chunker — the continuous twin of Curation.chunkDocs
  // (p_chunk_docs). Chunking is a pure per-row projection (chunk-id
  // sequence explode + slice + fingerprint, no state, no watermark
  // required), so it runs identically in a micro-batch plan: documents
  // arriving on a stream chunk in flight, and each chunk leaves with
  // the fingerprint that downstream streaming dedup
  // ([[streamingDedup]] on chunk_fp) consumes. Stateless per-row
  // operators are the cheapest kind of streaming operator — no store,
  // no eviction, exactly the per-batch plan of the batch twin.
  // ------------------------------------------------------------------
  def chunkStream(docs: Dataset[StreamDoc]): DataFrame = {
    import graft.operators.Curation.{ChunkSize, ChunkStride}
    docs.toDF()
      .select(col("doc_id"),
        expr(graft.functions.Parity.tokensSpark("text")).as("toks"))
      .withColumn("n_tokens", expr("size(toks)").cast("long"))
      .select(col("doc_id"), col("toks"), col("n_tokens"),
        explode(expr(
          s"sequence(0L, CASE WHEN n_tokens <= $ChunkSize THEN 0L " +
            s"ELSE (n_tokens - $ChunkSize + $ChunkStride - 1) div $ChunkStride END)"))
          .as("chunk_id"))
      .withColumn("chunk_start", col("chunk_id") * lit(ChunkStride))
      .withColumn("chunk_text",
        expr(s"concat_ws(' ', slice(toks, CAST(chunk_start + 1 AS INT), $ChunkSize))"))
      .select(col("doc_id"), col("chunk_id"), col("chunk_start"),
        least(lit(ChunkSize), col("n_tokens") - col("chunk_start")).as("chunk_tokens"),
        expr(graft.functions.Parity.charPolyHashSpark("chunk_text")).as("chunk_fp"))
  }

  // ------------------------------------------------------------------
  // Streaming upsert — the continuous twin of Curation.upsertMerge
  // (p_upsert_merge): a change stream of (doc_id, version, fp) rows
  // folds into latest-version-wins keyed state; each arrival emits the
  // key's CURRENT winner classified as "inserted" (first sight of the
  // key) or "updated" (version strictly above the held one), while a
  // stale or replayed arrival (version ≤ held) emits nothing and never
  // downgrades state — the idempotence MERGE INTO requires under
  // at-least-once replay. TimeMode.None: winner-fold is arrival-driven,
  // versions carry the ordering, no timers. Typed ValueState holds one
  // (version, fp) pair per live key — state is the current-corpus
  // keyset, the same footprint the batch winner-join materializes.
  // ------------------------------------------------------------------

  /** A change-stream row: key, monotone version, text fingerprint. */
  case class DocChange(doc_id: Long, version: Long, fp: Long)

  /** An emitted current winner with its change class. */
  case class DocCurrent(doc_id: Long, version: Long, fp: Long, status: String)

  class UpsertStatefulProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, DocChange, DocCurrent] {
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig}
    import org.apache.spark.sql.{Encoders, streaming}

    @transient private var cur: streaming.ValueState[DocChange] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      cur = getHandle.getValueState[DocChange](
        "currentDoc", Encoders.product[DocChange], TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[DocChange],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[DocCurrent] = {
      val held = Option(cur.get())
      // Intra-batch: fold to the batch's max version first (a batch may
      // carry both the insert and its revision); emit ONE row per batch
      // per key at most — the winner after the whole batch.
      val best = rows.maxBy(_.version)
      held match {
        case Some(h) if best.version <= h.version => Iterator.empty
        case prior =>
          cur.update(best)
          Iterator.single(DocCurrent(key, best.version, best.fp,
            if (prior.isEmpty) "inserted" else "updated"))
      }
    }
  }

  def upsertStream(changes: Dataset[DocChange]): Dataset[DocCurrent] = {
    val spark = changes.sparkSession
    import spark.implicits._
    changes.groupByKey(_.doc_id)
      .transformWithState(new UpsertStatefulProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  case class DimChange(key: Long, version: Long, valid_from: Long, value: Long)
  case class Scd2Row(key: Long, version: Long, value: Long,
      valid_from: Long, valid_to: Long, is_current: Long)

  /** Streaming SCD-2 maintenance — the continuous twin of
    * `Analytics.scd2Build`: a CDC change stream of dimension versions
    * becomes the type-2 interval table incrementally. Typed ValueState
    * holds each key's OPEN version; an arriving higher version emits TWO
    * rows — the previous version re-emitted CLOSED (valid_to = new
    * valid_from − 1, is_current 0) and the new version OPEN — which an
    * upserting sink (MERGE on (key, version)) folds into exactly the
    * batch twin's interval table. Contract mirrors [[upsertStream]]:
    * versions are consumed in nondecreasing order per key (the CDC
    * ordering guarantee); an intra-batch burst folds in version order
    * inside one invocation; stale/replayed versions (≤ the held one)
    * emit nothing — at-least-once idempotence. State = ONE row per
    * dimension key on RocksDB, independent of history length: closed
    * intervals live in the sink, not the store.
    */
  class Scd2StatefulProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, DimChange, Scd2Row] {
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig}
    import org.apache.spark.sql.{Encoders, streaming}

    @transient private var cur: streaming.ValueState[DimChange] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      cur = getHandle.getValueState[DimChange](
        "openVersion", Encoders.product[DimChange], TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[DimChange],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[Scd2Row] = {
      var held = Option(cur.get())
      val fresh = rows.toSeq.sortBy(_.version)
        .filter(c => held.forall(_.version < c.version))
      var out = Vector.empty[Scd2Row]
      fresh.foreach { c =>
        if (held.forall(_.version < c.version)) {
          held.foreach { h =>
            out :+= Scd2Row(key, h.version, h.value, h.valid_from,
              c.valid_from - 1, 0L)
          }
          out :+= Scd2Row(key, c.version, c.value, c.valid_from,
            graft.operators.Analytics.Scd2OpenYear, 1L)
          held = Some(c)
        }
      }
      held.foreach(cur.update)
      out.iterator
    }
  }

  case class FactEvent(event_time: Long, fact_id: Long, key: Long, at: Long)

  /** Streaming point-in-time enrichment — the consumer side of the SCD-2
    * pair: a fact stream joins the STATIC type-2 dimension on the key
    * with the validity interval as a residual predicate (intervals per
    * key are disjoint, so each fact matches at most one version).
    * Stateless stream-static inner join — the dimension is the state,
    * owned by storage, refreshed by whatever maintains it (in a live
    * deployment, the [[scd2Stream]] sink); facts with no covering
    * version (`at` before the first valid_from) drop, exactly as in the
    * batch as-of join. At 100 TB the dim broadcasts or both sides hash
    * on the key — the residual never widens the join.
    */
  def scd2AsofStream(facts: Dataset[FactEvent], dim: DataFrame): DataFrame =
    facts.toDF().join(dim,
        col("key") === dim("custkey") &&
          col("at") >= dim("valid_from") && col("at") <= dim("valid_to"))
      .select(col("fact_id"), col("key"), col("at"),
        col("version"), col("bal_cents"))

  def scd2Stream(changes: Dataset[DimChange]): Dataset[Scd2Row] = {
    val spark = changes.sparkSession
    import spark.implicits._
    changes.groupByKey(_.key)
      .transformWithState(new Scd2StatefulProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  /** A document entering the packer: event_time = doc_id (the file
    * source's replay order IS the pack order). */
  case class PackDoc(event_time: Long, doc_id: Long, source: String, text: String)
  /** One packed doc — identical shape to Curation.packSequences rows. */
  case class PackedDoc(doc_id: Long, source: String, shard: Long,
      n_tokens: Long, tok_start: Long, seq_id: Long, seq_off: Long)
  private[streaming] case class PackRow(
      doc_id: Long, source: String, shard: Long, n_tokens: Long)
  /** Per-(source, shard) packer state: the running token total and the
    * highest doc_id consumed (the ordering-contract witness). */
  case class PackState(last_doc: Long, total: Long)

  /** Streaming sequence packing — the continuous twin of
    * [[graft.operators.Curation.packSequences]] (r16 verdict #4: the one
    * major curation operator without a continuous form). The batch
    * form's per-(source, shard) running token sum is EXACTLY one
    * ValueState scalar pair per shard: each arriving doc reads the
    * shard's running total as its tok_start, derives (seq_id, seq_off)
    * by the same CtxLen arithmetic, and advances the total — no window,
    * no sort, no buffered rows. Ordering contract (the upsertStream /
    * scd2Stream discipline): docs arrive in nondecreasing doc_id order
    * per (source, shard) across micro-batches — the file-source replay
    * order when event_time = doc_id — and an intra-batch burst is
    * sorted by doc_id inside one invocation; an at-least-once replay of
    * the MOST RECENT doc is absorbed idempotently (equal doc_id = same
    * doc, already packed), while any older arrival raises (the state
    * carries last_doc as the witness) instead of silently packing a
    * different permutation than the batch form. State = TWO longs per
    * (source, shard) — |corpus|/ShardSize·|sources| entries, the
    * smallest plateau in the soak protocol; at 100 TB the shard count
    * is the file count of the bucketed write, never row-proportional.
    */
  class PackStatefulProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        (String, Long), PackRow, PackedDoc] {
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig}
    import org.apache.spark.sql.{Encoders, streaming}

    @transient private var st: streaming.ValueState[PackState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[PackState](
        "packState", Encoders.product[PackState], TTLConfig.NONE)

    override def handleInputRows(
        key: (String, Long),
        rows: Iterator[PackRow],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[PackedDoc] = {
      val held = Option(st.get()).getOrElse(PackState(Long.MinValue, 0L))
      var last = held.last_doc
      var total = held.total
      val out = rows.toArray.sortBy(_.doc_id).iterator.flatMap { r =>
        // At-least-once delivery may replay the most recent doc (doc_ids
        // are unique keys, so an equal id IS the same doc): absorb it
        // idempotently — its PackedDoc was already emitted and the state
        // already advanced past it. A replay OLDER than last still
        // raises: re-emitting its offsets consistently would need
        // per-doc state, and silently repacking would permute the
        // sequence vs the batch form (r17 advisory).
        if (r.doc_id == last) None
        else {
          require(r.doc_id > last,
            s"packStream: doc ${r.doc_id} arrived after ${last} in shard $key — " +
              "the nondecreasing-doc_id replay contract is violated")
          last = r.doc_id
          val start = total
          total += r.n_tokens
          Some(PackedDoc(r.doc_id, r.source, r.shard, r.n_tokens, start,
            start / graft.operators.Curation.CtxLen,
            start % graft.operators.Curation.CtxLen))
        }
      }.toArray
      st.update(PackState(last, total))
      out.iterator
    }
  }

  def packStream(docs: Dataset[PackDoc]): Dataset[PackedDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.toDF()
      .select(col("doc_id"), col("source"),
        (col("doc_id") / lit(graft.operators.Curation.ShardSize)).cast("long")
          .as("shard"),
        expr(s"size(${graft.functions.Parity.tokensSpark("text")})").cast("long")
          .as("n_tokens"))
      .as[PackRow]
      .groupByKey(r => (r.source, r.shard))
      .transformWithState(new PackStatefulProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  /** Streaming NEAR-dup guard: drop an arriving doc whose 60-bit SimHash
    * equals one already seen inside the watermark. The per-row SimHash64
    * kernel makes the fingerprint available before any grouping exists —
    * the prerequisite for streaming use. Contract vs the batch family:
    * high precision (equal fingerprints ⇒ near-identical token
    * multisets), deliberately partial recall (a Hamming-1..3 neighbor
    * passes the guard) — the honest streaming tradeoff; batch banded
    * pairs + clustering remain the full-recall ground truth. The spec
    * pins the precision half (same-fingerprint drops, distinct keeps).
    */
  def streamingNearDupGuard(docs: Dataset[StreamDoc]): DataFrame =
    docs.toDF()
      .withColumn("event_ts", timestamp_millis(col("event_time")))
      .withColumn("simhash", graft.functions.TextHashOps.simHash(col("text")))
      .withWatermark("event_ts", "10 seconds")
      .dropDuplicatesWithinWatermark("simhash")
      .select("doc_id", "simhash")

  /** Streaming arm of d_incremental_neardup: arriving docs are checked
    * against a STATIC corpus via the same MinHash band machinery, as a
    * stream-static inner join — stateless per micro-batch (no join state
    * at all: the static side is the state, owned by storage, refreshed by
    * whatever maintains the corpus). Each arriving doc fingerprints
    * in-flight (the per-row MinHashSigs/shingle kernels need no
    * aggregation — the property that makes them streaming-legal), explodes
    * its 8 band keys, probes the corpus band index, dedupes candidates by
    * the first-colliding-band predicate, and verifies TRUE shingle Jaccard
    * via one array_intersect per candidate — emitting the verified reject
    * pairs (doc_id, corpus_id) immediately in append mode. The per-doc
    * verdict aggregation (n_nd, nd_min) is the batch form's job; a
    * streaming sink gets the raw reject relation. `corpus` is any static
    * (doc_id, text) relation.
    */
  def streamingNearDupIngest(docs: Dataset[StreamDoc], corpus: DataFrame): DataFrame = {
    import graft.functions.{Parity, TextHashOps}
    import graft.operators.Dedup
    def enriched(df: DataFrame): DataFrame = {
      val base = df
        .withColumn("sig", TextHashOps.minhashSigs(col("text"), Dedup.ShingleW))
        .where(size(col("sig")) > 0)
        .withColumn("sh_arr", TextHashOps.shingleHashes(col("text"), Dedup.ShingleW))
      (0 until Parity.NumBands).foldLeft(base)((d, b) =>
        d.withColumn(s"bk$b", expr(Parity.bandKeySpark("sig", b))))
    }
    def banded(df: DataFrame): DataFrame = {
      val bandCols = (0 until Parity.NumBands).map(b =>
        struct(lit(b).as("band"), col(s"bk$b").as("bkey")))
      df.withColumn("bk", explode(array(bandCols: _*)))
        .withColumn("band", col("bk.band")).withColumn("bkey", col("bk.bkey"))
        .drop("bk", "sig", "text")
    }
    val stream = banded(enriched(docs.toDF()))
    val stat = banded(enriched(corpus.select(col("doc_id").as("corpus_id"), col("text"))))
      .withColumnRenamed("sh_arr", "c_sh_arr")
    val firstBand = (0 until Parity.NumBands).foldRight(lit(-1): org.apache.spark.sql.Column) {
      case (i, rest) =>
        when(col(s"a.bk$i") === col(s"b.bk$i"), lit(i)).otherwise(rest)
    }
    stream.as("a").join(stat.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey"))
      .where(col("a.band") === firstBand)
      .withColumn("inter", size(array_intersect(col("sh_arr"), col("c_sh_arr"))).cast("long"))
      .withColumn("na", size(col("sh_arr")).cast("long"))
      .withColumn("nb", size(col("c_sh_arr")).cast("long"))
      .where(col("inter") * Dedup.JaccDen >
        (col("na") + col("nb") - col("inter")) * Dedup.JaccNum)
      .select(col("doc_id"), col("corpus_id"), col("inter"))
  }

  case class StreamVec(event_time: Long, vec_id: Long, embedding: Array[Float])

  /** One micro-batch of online k-NN classification — the pure batch plan
    * [[knnClassifyStream]] reuses per trigger, and the continuous twin of
    * `s_knn_classify`: arriving query vectors are classified against a
    * STATIC labeled corpus via the multiprobe sign-LSH index (stream side
    * broadcast — it is the small relation; the corpus never shuffles),
    * exact-integer cosine ranking, top-K majority vote with the batch
    * twin's (votes desc, label asc) tiebreak via one max-of-struct.
    */
  def classifyVecBatch(batch: DataFrame, corpus: DataFrame): DataFrame = {
    import graft.functions.Parity
    import graft.functions.VectorOps.longDot
    import graft.operators.Similarity
    def prep(df: DataFrame): DataFrame =
      df.withColumn("v", graft.functions.VectorOps.quantize(col("embedding")))
        .withColumn("norm", longDot(col("v"), col("v")))
        .withColumn("bucket", expr(Parity.lshBucketSpark("v")))
    val corp = prep(corpus).select(col("vec_id").as("c_id"),
      col("label").cast("long").as("label"), col("v"), col("norm"), col("bucket"))
    val probeOffsets = lit(0) +: (0 until Parity.NumPlanes).map(j => lit(1 << j))
    val q = prep(batch)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("norm").as("qn"), col("bucket"))
      .withColumn("probe", explode(array(probeOffsets: _*)))
      .withColumn("pbucket", expr("int(bucket ^ probe)"))
      .drop("bucket")
    val topk = broadcast(q)
      .join(corp, col("pbucket") === corp("bucket") && col("query_id") =!= col("c_id"))
      .withColumn("dot", longDot(col("qv"), col("v")))
      .withColumn("cos", expr(Parity.cosineSpark("dot", "qn", "norm")))
      .withColumn("rnk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("cos").desc, col("c_id"))))
      .where(col("rnk") <= Similarity.TopK)
    topk.groupBy("query_id", "label").agg(count(lit(1)).as("votes"))
      .groupBy("query_id")
      .agg(max(struct(col("votes"), (-col("label")).as("neg"))).as("top"))
      .select(col("query_id"),
        (-col("top.neg")).cast("long").as("pred_label"),
        col("top.votes").as("votes"))
  }

  /** Online-inference deployment shape: per-trigger classification of a
    * query-vector stream against the static corpus index. The rank
    * window and the two-level vote are batch operators, so the streaming
    * form IS the batch plan applied per micro-batch through foreachBatch
    * — the standard Structured Streaming model-scoring pattern (and the
    * same "static side is the state, owned by storage" contract as
    * [[streamingNearDupIngest]]). `onBatch` receives each trigger's
    * classified (query_id, pred_label, votes) relation.
    */
  def knnClassifyStream(queries: Dataset[StreamVec], corpus: DataFrame)(
      onBatch: DataFrame => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    queries.toDF().writeStream.outputMode(OutputMode.Update())
      .foreachBatch((b: DataFrame, _: Long) =>
        if (!b.isEmpty) onBatch(classifyVecBatch(b, corpus)))

  /** Retrieval serving: per-trigger BM25 ranking of a query-document
    * stream against the static corpus index — the lexical sibling of
    * [[knnClassifyStream]], same deployment shape (static side owned by
    * storage + registry-persisted index relations built once across
    * triggers; the rank window is a batch operator, so the streaming
    * form IS [[graft.operators.Retrieval.bm25ServeBatch]] per
    * micro-batch through foreachBatch). `onBatch` receives each
    * trigger's (query_id, neighbor_id, rnk, score) relation.
    */
  def bm25ServeStream(queries: Dataset[StreamDoc], sfDir: String)(
      onBatch: DataFrame => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    queries.toDF().writeStream.outputMode(OutputMode.Update())
      .foreachBatch((b: DataFrame, _: Long) =>
        if (!b.isEmpty) onBatch(graft.operators.Retrieval.bm25ServeBatch(
          b.sparkSession, sfDir,
          b.select(col("doc_id").as("query_id"), col("text")))))

  /** A media file arriving on the wire: payload + routing metadata. */
  case class StreamMedia(event_time: Long, media_id: Long, kind: String,
      payload: Array[Byte])

  /** Feature-tier ANN serving — the continuous form of `s_feature_topk`
    * (r17 verdict Next #5): arriving media decode to their 12-dim
    * feature vectors IN the trigger (the mapPartitions decode is
    * per-row, streaming-legal), are centered with the FROZEN corpus
    * means and bucketed under the frozen plane grid (the
    * `s_incremental_ivf_codes` day-2 discipline — a small trigger's own
    * means are noise and would land queries on a different grid than
    * the corpus was indexed under), then probe the static corpus bucket
    * index per trigger. Same deployment shape as [[knnClassifyStream]]/
    * [[bm25ServeStream]]: stream-static, stateless per batch — the
    * index IS the state, owned by storage; the soak line proves
    * state ≈ 0. `onBatch` receives each trigger's
    * (query_id, neighbor_id, rnk, dot) relation.
    */
  def featureServeStream(media: Dataset[StreamMedia],
      idx: graft.multimodal.Multimodal.FeatureServeIndex)(
      onBatch: DataFrame => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    media.toDF().writeStream.outputMode(OutputMode.Update())
      .foreachBatch { (b: DataFrame, _: Long) =>
        if (!b.isEmpty) {
          val s = b.sparkSession
          import s.implicits._
          val feats = graft.multimodal.Multimodal.extractFeatures(
            b.select("media_id", "kind", "payload")
              .as[graft.multimodal.Multimodal.MediaFile]).toDF()
          onBatch(graft.multimodal.Multimodal.featureServeBatch(
            idx, feats, graft.operators.Similarity.TopK))
        }
      }

  // ------------------------------------------------------------------
  // Per-batch statistics feedback — the reference's BroadcastWrapper loop
  // (C1, one-group-stateless/src/main/scala/cluster/BroadcastWrapper.scala:
  // 14-37): every micro-batch the driver aggregates per-key stats, updates
  // a mutable broadcast, and the next batch's partitioner reads it. The
  // Structured Streaming analogue is foreachBatch: the per-batch DataFrame
  // aggregation lands in driver-visible state (here an AtomicReference; in
  // production a Delta/kafka-compacted lookup joined stream-static).
  // ------------------------------------------------------------------

  /** One batch's heavy-hitter snapshot: keys with share > 0.2/m of the
    * batch (reference threshold, APKGrouping.scala:94-100, m = 12).
    */
  case class BatchStats(batchId: Long, total: Long, heavyHitters: Set[String])

  /** Start the Q3-shaped stream with a per-batch heavy-hitter feedback
    * sink; `latest` always holds the most recent batch's stats (what the
    * reference re-broadcast to its partitioners each interval).
    */
  def heavyHitterFeedback(
      events: Dataset[PwEvent],
      latest: java.util.concurrent.atomic.AtomicReference[BatchStats]) = {
    events.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: Dataset[PwEvent], batchId: Long) =>
        latest.set(heavyHitterBatchStats(batch.toDF(), batchId))
        ()
      }
  }

  /** One batch's stats with the heavy filter IN THE PLAN: the driver
    * receives a single scalar total plus only the heavy rows (at most
    * 60 keys can each hold > 1/60 of the batch). The previous form
    * collect_list'ed the FULL key set to the driver every batch — a
    * per-batch driver OOM at realistic key cardinality. The grouped
    * counts are persisted across the two actions (scalar total, then the
    * executor-side `cnt·60 > total` filter) so the batch aggregates once.
    */
  def heavyHitterBatchStats(batch: DataFrame, batchId: Long): BatchStats = {
    val counts = batch.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val total = counts.agg(coalesce(sum("cnt"), lit(0L)).as("total"))
        .collect().head.getAs[Long]("total")
      val hot = counts.where(col("cnt") * 60L > lit(total))
        .select("word").collect().map(_.getString(0)).toSet
      BatchStats(batchId, total, hot)
    } finally {
      counts.unpersist()
      ()
    }
  }
}
