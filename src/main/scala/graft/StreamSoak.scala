package graft

import graft.streaming.StreamingParity
import graft.streaming.StreamingParity.{IdEvent, StreamDoc, UserEvent}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming state-scale soak — the streaming analogue of the GenScale
  * batch headroom pass: replay the sf1 fixture through the RocksDB-backed
  * streaming twins via the parquet FILE SOURCE (time-range shards written
  * in ascending mtime order, so the source's oldest-first pickup replays
  * micro-batches in event-time order; within-shard disorder stays, which
  * is exactly what the watermark machinery must absorb), and record what
  * the 100 TB question actually asks of streaming operators: how much
  * STATE each one holds at 10× data, and what per-batch latency looks
  * like as that state grows.
  *
  * One JSON line per operator:
  *   {"op":…,"batches":…,"input_rows":…,"wall_sec":…,
  *    "batch_ms":{min,avg,max},"state_rows_max":…,"state_bytes_max":…}
  * state_rows/bytes are the engine's StateOperatorProgress numbers
  * (summed across the query's state operators, max over batches).
  *
  * Soaked twins (the four RocksDB-state shapes from round 7):
  *   - interval_join: stream-stream bin-equi interval containment —
  *     join state bounded by the watermark horizon, evicted as it moves;
  *   - funnel_ooo: transformWithState event-time-timer funnel — buffer
  *     ListState bounded by delay × per-key rate, ValueState per user;
  *   - daily_active: dropDuplicates(user, day) + windowed count — state
  *     = live (user, day) pairs, evicted per day;
  *   - neardup_ingest: stream-static band probe — ZERO state rows by
  *     design (the static corpus IS the state; the line proves it).
  */
object StreamSoak {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/testdata-sf1")
    val shards = sys.env.get("SPARK_GRAFT_SOAK_SHARDS").map(_.toInt).getOrElse(16)
    val work = java.nio.file.Files.createTempDirectory("graft-soak").toString
    val spark = Harness.session(16, Harness.RocksDbStateStore)
    import spark.implicits._

    // ---- Inputs: equal-width time-range shards, written SEQUENTIALLY so
    // file mtimes ascend with event time and the source replays in order.
    // `strictOrder` (the pack feed): ONE file per shard with an explicitly
    // stamped, strictly-ascending mtime — the default two-files-per-shard
    // write leaves near-identical mtimes, and an mtime TIE that splits or
    // reorders a shard's files across triggers would spuriously trip
    // packStream's ordering raise (r17 advisory); the watermark-absorbing
    // ops don't care, so they keep the cheaper parallel write.
    def writeShards(df: DataFrame, dir: String, strictOrder: Boolean = false): Unit = {
      val mm = df.agg(min("event_time"), max("event_time")).head
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      val step = (hi - lo) / shards + 1
      val seen = scala.collection.mutable.Set[String]()
      (0 until shards).foreach { i =>
        df.where(col("event_time") >= lo + i * step &&
            col("event_time") < lo + (i + 1) * step)
          .coalesce(if (strictOrder) 1 else 2).write.mode("append").parquet(dir)
        if (strictOrder) {
          val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array())
            .filter(_.getName.endsWith(".parquet"))
          files.filterNot(f => seen.contains(f.getName)).foreach { f =>
            require(f.setLastModified(1700000000000L + i * 60000L),
              s"cannot stamp mtime on ${f.getName}")
            seen += f.getName
          }
        }
      }
    }

    val raw = Tables.events(spark, sfDir)
    val userDf = raw.select(Shapes.eventTimeMs(raw).as("event_time"),
      col("user_id"), col("event_type"))
    val idDf = raw.select(Shapes.eventTimeMs(raw).as("event_time"),
      col("event_id"), col("value"))
    // Docs: odd ids arrive as the stream, even ids are the static corpus
    // (the d_incremental_dedup parity convention); arrival time is
    // id-derived — the probe is stateless, ordering is irrelevant.
    val docsAll = Tables.documents(spark, sfDir)
    val docStreamDf = docsAll.where(col("doc_id") % 2 === 1)
      .select(col("doc_id").as("event_time"), col("doc_id"), col("text"))
    val corpus = docsAll.where(col("doc_id") % 2 === 0).select("doc_id", "text")

    // Pack feed: ALL docs in doc_id replay order (event_time = doc_id —
    // packStream's nondecreasing-per-shard contract rides the file
    // source's mtime order).
    val packDf = docsAll.select(col("doc_id").as("event_time"),
      col("doc_id"), col("source"), col("text"))

    val userDir = s"$work/in/user"; val idDir = s"$work/in/id"
    val docDir = s"$work/in/doc"; val packDir = s"$work/in/pack"
    writeShards(userDf, userDir); writeShards(idDf, idDir)
    writeShards(docStreamDf, docDir)
    writeShards(packDf, packDir, strictOrder = true)

    def streamDf(dir: String, like: DataFrame): DataFrame =
      spark.readStream.schema(like.schema)
        .option("maxFilesPerTrigger", "2").parquet(dir)

    def measure(name: String,
        q: org.apache.spark.sql.streaming.StreamingQuery,
        extra: => String = ""): Unit = {
      val t0 = System.nanoTime()
      q.processAllAvailable()
      val wall = (System.nanoTime() - t0) / 1e9
      val ps = q.recentProgress.filter(_.numInputRows > 0)
      q.stop()
      val batchMs = ps.map(_.durationMs.get("triggerExecution").toLong)
      val stateRows = ps.map(_.stateOperators.map(_.numRowsTotal).sum)
      val stateBytes = ps.map(_.stateOperators.map(_.memoryUsedBytes).sum)
      def mm(xs: Seq[Long]): String =
        if (xs.isEmpty) """{"min":0,"avg":0,"max":0}"""
        else s"""{"min":${xs.min},"avg":${xs.sum / xs.length},"max":${xs.max}}"""
      println(
        s"""{"op":"$name","batches":${ps.length},""" +
        s""""input_rows":${ps.map(_.numInputRows).sum},""" +
        s""""wall_sec":${math.round(wall * 10) / 10.0},""" +
        s""""batch_ms":${mm(batchMs.toSeq)},""" +
        s""""state_rows_max":${if (stateRows.isEmpty) 0 else stateRows.max},""" +
        s""""state_bytes_max":${if (stateBytes.isEmpty) 0 else stateBytes.max}""" +
        extra + "}")
    }

    // SPARK_GRAFT_SOAK_ONLY=a,b restricts the protocol to named ops —
    // the sf10 soak replays only the boundedness stories that matter at
    // that decade instead of paying the full 12-op protocol twice.
    val soakOnly = sys.env.get("SPARK_GRAFT_SOAK_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Every op name the protocol registers, whether or not it runs — a
    // SOAK_ONLY typo (or a renamed op) must fail fast, not produce an
    // empty-but-green soak record (r16 advisory).
    val registered = scala.collection.mutable.Set[String]()
    def runSoak(name: String, out: => DataFrame, mode: OutputMode): Unit = {
      registered += name
      if (soakOnly.forall(_.contains(name)))
        measure(name, out.writeStream
          .outputMode(mode)
          .option("checkpointLocation", s"$work/ckpt/$name")
          .format("noop")
          .start())
    }

    runSoak("interval_join",
      StreamingParity.intervalJoinStream(
        streamDf(idDir, idDf).as[IdEvent], streamDf(idDir, idDf).as[IdEvent]),
      OutputMode.Append())
    runSoak("funnel_ooo",
      StreamingParity.funnelOutOfOrder(
        streamDf(userDir, userDf).as[UserEvent], 3600000L).toDF(),
      OutputMode.Update())
    runSoak("daily_active",
      StreamingParity.dailyActiveStream(streamDf(userDir, userDf).as[UserEvent]),
      OutputMode.Update())
    runSoak("neardup_ingest",
      StreamingParity.streamingNearDupIngest(
        streamDf(docDir, docStreamDf).as[StreamDoc], corpus),
      OutputMode.Append())
    // Stateless chunker: per-row explode/slice/fingerprint — the line
    // documents zero state and pure scan-rate latency.
    runSoak("chunk_stream",
      StreamingParity.chunkStream(streamDf(docDir, docStreamDf).as[StreamDoc]),
      OutputMode.Append())
    // Sequence packer: state = TWO longs per (source, shard) — the
    // smallest plateau in the protocol (⌈|docs|/ShardSize⌉·|sources per
    // shard range| entries however many docs replay); the state-rows
    // column is the packer's bounded-memory claim, measured.
    runSoak("pack_stream",
      StreamingParity.packStream(
        streamDf(packDir, packDf).as[StreamingParity.PackDoc]).toDF(),
      OutputMode.Update())
    // Feature-ANN serve (r18): stream-static and stateless per trigger —
    // the frozen corpus index is the state, owned by storage, so the
    // engine state columns must read ~0 however many media replay; the
    // line records per-trigger serve latency (decode + frozen-mean
    // centering + bucket probe per batch) and the emitted rank rows.
    // The feed is SERVICE-RATE (every 25th media as the query stream,
    // the whole corpus as the index): serving is a query-stream shape —
    // and the 12-dim feature sign-grid is MEASURED near-saturated at
    // sf1 (25 occupied buckets over 50 k media, top bucket 22 k — the
    // BASELINE.md r18 histogram), so per-query cost is bucket-bound and
    // a corpus-sized query feed would quadratically multiply that
    // known saturation, measuring the grid's limitation twice instead
    // of serve latency once.
    registered += "feature_serve"
    if (soakOnly.forall(_.contains("feature_serve"))) {
      val mediaDf = graft.multimodal.Multimodal
        .mediaFromDocuments(spark, sfDir).toDF()
        .where(col("media_id") % 25 === 1)
        .select(col("media_id").as("event_time"), col("media_id"),
          col("kind"), col("payload"))
      val mediaDir = s"$work/in/media"
      writeShards(mediaDf, mediaDir)
      val idx = graft.multimodal.Multimodal.featureServeIndexOf(
        graft.multimodal.Multimodal.extractFeatures(
          graft.multimodal.Multimodal.mediaFromDocuments(spark, sfDir)).toDF())
      var serveOutRows = 0L
      measure("feature_serve",
        StreamingParity.featureServeStream(
            streamDf(mediaDir, mediaDf).as[StreamingParity.StreamMedia], idx) {
            df => serveOutRows += df.count(); () }
          .option("checkpointLocation", s"$work/ckpt/feature_serve")
          .start(),
        s""","out_rows":$serveOutRows""")
      idx.corpus.unpersist()
    }

    // Count-Min stream: state = the counter grid, ≤ depth·width rows
    // however many documents replay — the state-rows column IS the
    // sketch's bounded-memory claim, measured.
    runSoak("cms_stream",
      StreamingParity.cmsCounterStream(streamDf(docDir, docStreamDf).as[StreamDoc]),
      OutputMode.Update())
    // Dedup-plan decision grid: state = the 3×65536 decision-CMS cells
    // over the streamed shingle relation — constant-bounded however
    // many documents replay (the cms_stream contract at the
    // load-bearing width); the measured plateau is the occupied-cell
    // count the per-trigger decideJaccardArm read folds over.
    runSoak("shingle_cms_stream",
      StreamingParity.shingleCmsStream(streamDf(docDir, docStreamDf).as[StreamDoc]),
      OutputMode.Update())
    // Vocab maintenance stream: state = one row per DISTINCT token ever
    // seen — vocab-bounded (the cms_stream argument one size up); the
    // state-rows plateau measured here is the fixture's vocabulary
    // size, flat across replayed batches however many occurrences pass.
    runSoak("vocab_stream",
      StreamingParity.vocabStream(streamDf(docDir, docStreamDf).as[StreamDoc]),
      OutputMode.Update())
    // Quality-histogram stream: state = the fixed 100-bin score grid —
    // ≤ 100 rows however many documents replay (the smallest bounded
    // grid in the surface); the plateau measured here is the number of
    // OCCUPIED score bins, the relation live cutpoint re-derivation
    // reads per trigger.
    runSoak("quality_hist_stream",
      StreamingParity.qualityHistogramStream(
        streamDf(docDir, docStreamDf).as[StreamDoc]),
      OutputMode.Update())
    // Gap-fill stream (r15): timer-driven ROW SYNTHESIS — rows are
    // emitted for silent hours with no input at all. State per live key
    // = two scalars + the open-hour map (bounded by watermark delay /
    // slot) + one armed timer, so the state-rows plateau measured here
    // is O(|event types|) however many events replay; output volume
    // follows the hour spine, not the input rate.
    val zxDf = raw.select(Shapes.eventTimeMs(raw).as("event_time"),
      col("event_type").as("z"), expr("CAST(floor(value) AS BIGINT)").as("x"))
    val zxDir = s"$work/in/zx"
    writeShards(zxDf, zxDir)
    runSoak("gap_fill_stream",
      StreamingParity.gapFillStream(
        streamDf(zxDir, zxDf).as[StreamingParity.ZxEvent], 3600000L).toDF(),
      OutputMode.Append())

    // SCD-2 CDC replay: the customer change feed (v1 all keys, v2 for
    // key%4==1, v3 for key%8==1) written in version order so the file
    // source honors the per-key nondecreasing-version contract; state =
    // ONE open-version row per dimension key on RocksDB.
    val custDf = Tables.customer(spark, sfDir)
      .select(col("c_custkey").cast("long").as("key"),
        (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long").as("value"))
    val dimDir = s"$work/in/dim"
    custDf.select(col("key"), lit(1L).as("version"),
        lit(1992L).as("valid_from"), col("value"))
      .coalesce(2).write.mode("append").parquet(dimDir)
    custDf.where(col("key") % 4 === 1).select(col("key"), lit(2L).as("version"),
        lit(1994L).as("valid_from"), (col("value") + 1000L).as("value"))
      .coalesce(2).write.mode("append").parquet(dimDir)
    custDf.where(col("key") % 8 === 1).select(col("key"), lit(3L).as("version"),
        lit(1996L).as("valid_from"), (col("value") + 2000L).as("value"))
      .coalesce(2).write.mode("append").parquet(dimDir)
    val dimLike = custDf.select(col("key"), lit(1L).as("version"),
      lit(1992L).as("valid_from"), col("value"))
    runSoak("scd2_stream",
      StreamingParity.scd2Stream(
        streamDf(dimDir, dimLike).as[StreamingParity.DimChange]).toDF(),
      OutputMode.Update())

    // Adaptive strategy loop (the r12 operator): the foreachBatch
    // feedback twin holds DRIVER state (strategies/headSets maps — the
    // BroadcastWrapper analogue), not a state store, so the engine
    // state columns read 0 and the line instead reports the loop's own
    // footprint: per-window decisions taken, how many windows ratcheted
    // to salted, and the driver map sizes. Hour slots keep the stats
    // relation at ≤ |hours in the fixture| rows per batch (the 100 TB
    // discipline: the driver sees window STATS, never data rows).
    val pwDf = raw.select(Shapes.eventTimeMs(raw).as("event_time"),
      pmod(col("user_id"), lit(32)).cast("int").as("port"),
      col("event_type").as("word"))
    val pwDir = s"$work/in/pw"
    writeShards(pwDf, pwDir)
    val adaptiveState = new graft.streaming.AdaptiveAgg.ControlState
    var adaptiveOutRows = 0L
    registered += "adaptive_agg" // runs unconditionally below, still a legal SOAK_ONLY name
    measure("adaptive_agg",
      graft.streaming.AdaptiveAgg.adaptiveWindowedCount(
          streamDf(pwDir, pwDf).as[StreamingParity.PwEvent],
          adaptiveState,
          df => { adaptiveOutRows += df.count(); () },
          slotMs = 3600000L)
        .option("checkpointLocation", s"$work/ckpt/adaptive_agg")
        .start(), {
        val ds = adaptiveState.decisions
        s""","decisions":${ds.length}""" +
        s""","salted_windows":${adaptiveState.strategies.valuesIterator.count(_ == 1)}""" +
        s""","driver_state_rows":${adaptiveState.strategies.size +
            adaptiveState.headSets.valuesIterator.map(_.size).sum}""" +
        s""","out_rows":$adaptiveOutRows"""
      })

    // Fail fast on unmatched SOAK_ONLY names — after the whole protocol
    // has registered, so the error can list the legal set.
    soakOnly.foreach { only =>
      val unknown = only -- registered
      require(unknown.isEmpty,
        s"SPARK_GRAFT_SOAK_ONLY names ${unknown.mkString(", ")} match no " +
          s"registered soak op (known: ${registered.toSeq.sorted.mkString(", ")})")
    }
    spark.stop()
  }
}
