package graft

import graft.streaming.{LocalCheckpointFileManager, StreamingParity}
import graft.streaming.StreamingParity.{PwEvent, Q2Result}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, expr, max, struct}
import org.apache.spark.sql.streaming.OutputMode

/** Streaming Q2 parity (SURVEY.md Phase 3): append-mode emission of
  * closed event-time windows must equal the batch CASE-expression form,
  * exactly once per window — the contract of the reference's C4 operator.
  *
  * Scenario (FIXTURES.md §4): per-port in-order timestamps, ports
  * interleaved out of window order across sources; a final sentinel event
  * far in the future closes every earlier window.
  */
class StreamingParitySpec extends SparkSpec {

  // Windows are 1000 ms (StreamingParity.SlotMs). Window 0: word A on all
  // 3 ports (counts 2,1,1) → min 1; word B on ports 0,1 → incomplete → 0.
  // Window 1: word A on port 0 only → 0. Sentinel at t=10_500 stays open.
  private val batch1 = Seq(
    PwEvent(10, 0, "A"), PwEvent(20, 0, "A"), PwEvent(30, 1, "A"),
    PwEvent(40, 2, "A"), PwEvent(50, 0, "B"), PwEvent(60, 1, "B"))
  private val batch2 = Seq(PwEvent(1010, 0, "A"))
  private val sentinel = Seq(PwEvent(10500, 0, "SENTINEL"))

  private val expectedClosed = Set(
    Q2Result("A", 0L, 1L), Q2Result("B", 0L, 0L), Q2Result("A", 1L, 0L))

  test("windowed-aggregation form matches the batch contract on closed windows") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val input = MemoryStream[PwEvent]
    val query = StreamingParity.q2WindowedAgg(Seq(input.toDF()))
      .writeStream.format("memory").queryName("q2_agg")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(batch1); query.processAllAvailable()
      input.addData(batch2); query.processAllAvailable()
      input.addData(sentinel); query.processAllAvailable()
      val got = s.table("q2_agg").as[Q2Result].collect()
      assert(got.length === got.toSet.size, "duplicate emissions")
      assert(got.toSet === expectedClosed)
    } finally query.stop()
  }

  test("transformWithState (typed handles + event-time timers) matches the Q2 contract") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    // transformWithState requires the RocksDB state store provider.
    withConfs(Harness.RocksDbStateStore) {
      val input = MemoryStream[PwEvent]
      val query = StreamingParity.q2TransformWithState(input.toDS())
        .writeStream.format("memory").queryName("q2_tws")
        .outputMode(OutputMode.Append()).start()
      try {
        input.addData(batch1); query.processAllAvailable()
        input.addData(batch2); query.processAllAvailable()
        input.addData(sentinel); query.processAllAvailable()
        val got = s.table("q2_tws").as[Q2Result].collect()
        assert(got.length === got.toSet.size, "duplicate emissions")
        assert(got.toSet === expectedClosed)
      } finally query.stop()
    }
  }

  test("transformWithState Q2 adds a later micro-batch to a hot key's open window state") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    // Word H, window 0: 3000 rows in one micro-batch, uneven over the
    // ports (1800 / 900 / 300, times 1..600), then 710 more in the next
    // (port 1 +10, port 2 +700, times 601..990: above the first batch's
    // watermark of 600, so none is late). Per-port totals 1800 / 910 /
    // 1000 → min 910: losing either batch changes the answer. Word C has
    // state on ports 0 and 1 only when its port-2 row arrives.
    def rows(n: Int, port: Int, word: String, t0: Long, span: Int): Seq[PwEvent] =
      (0 until n).map(i => PwEvent(t0 + i % span, port, word))
    val first = rows(1800, 0, "H", 1, 600) ++ rows(900, 1, "H", 1, 600) ++
      rows(300, 2, "H", 1, 600) ++ rows(3, 0, "C", 100, 10) ++ rows(2, 1, "C", 200, 10)
    val second = rows(10, 1, "H", 601, 390) ++ rows(700, 2, "H", 601, 390) ++
      rows(1, 2, "C", 700, 1) ++ rows(4, 0, "H", 1500, 100)
    withConfs(Harness.RocksDbStateStore) {
      val input = MemoryStream[PwEvent]
      val query = StreamingParity.q2TransformWithState(input.toDS())
        .writeStream.format("memory").queryName("q2_tws_hot")
        .outputMode(OutputMode.Append()).start()
      try {
        input.addData(first); query.processAllAvailable()
        input.addData(second); query.processAllAvailable()
        input.addData(sentinel); query.processAllAvailable()
        val got = s.table("q2_tws_hot").as[Q2Result].collect()
        assert(got.length === got.toSet.size, "duplicate emissions")
        val want = StreamingParity.q2Batch((first ++ second ++ sentinel).toDS())
          .as[Q2Result].collect().toSet.filter(_.ltw < 10L)
        assert(want === Set(
          Q2Result("H", 0L, 910L), Q2Result("C", 0L, 1L), Q2Result("H", 1L, 0L)))
        assert(got.toSet === want)
      } finally query.stop()
    }
  }

  test("sliding hopping-window count stream matches the batch explode form on closed windows") {
    import graft.streaming.StreamingParity.ZxEvent
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val input = MemoryStream[ZxEvent]
    val query = StreamingParity.slidingCountStream(input.toDS())
      .writeStream.format("memory").queryName("slide_cnt")
      .outputMode(OutputMode.Append()).start()
    try {
      // Window [0,2000) closes after batch1 (wm 2100 ≥ 2000) with the two
      // "a" rows; window [1000,3000) spans both batches (2100 + nothing
      // from batch2); the sentinel closes everything below 99s.
      val batch1 = Seq(ZxEvent(1100, "a", 1), ZxEvent(1900, "a", 2), ZxEvent(2100, "b", 3))
      val batch2 = Seq(ZxEvent(3100, "a", 4), ZxEvent(3200, "b", 5))
      val sentinel = Seq(ZxEvent(99000, "zz", 0))
      input.addData(batch1); query.processAllAvailable()
      input.addData(batch2); query.processAllAvailable()
      input.addData(sentinel); query.processAllAvailable()
      val got = s.table("slide_cnt").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      // Batch contract over the same rows, restricted to closed windows:
      // window end (hop+2)·slot ≤ final watermark (= max event time).
      val wm = 99000L
      val expected = StreamingParity
        .slidingCountBatch((batch1 ++ batch2 ++ sentinel).toDS()).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .filter { case (_, hop, _) => (hop + 2) * StreamingParity.SlotMs <= wm }
        .toSet
      assert(got === expected)
    } finally query.stop()
  }

  test("stream-stream interval join matches the batch bin-bucketed form") {
    import graft.streaming.StreamingParity.IdEvent
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val W = graft.operators.Analytics.ContextWindowMs
    val minV = graft.operators.Analytics.AnchorMinValue
    // Same shape as the batch spec: anchor 10 at t=1000 catches events at
    // +1 and +W-1, excludes the boundary at +W and itself; anchor 20 sits
    // on a bin boundary. Rows split across two micro-batches, both inputs
    // fed the same rows (logical self-join).
    val rows1 = Seq(
      IdEvent(1000, 10, minV), IdEvent(1001, 11, 1.0),
      IdEvent(500, 14, 1.0))
    val rows2 = Seq(
      IdEvent(1000 + W - 1, 12, 1.0), IdEvent(1000 + W, 13, 1.0),
      IdEvent(2 * W, 20, minV + 1), IdEvent(2 * W + 5, 21, 1.0))
    val a = MemoryStream[IdEvent]
    val p = MemoryStream[IdEvent]
    val query = StreamingParity.intervalJoinStream(a.toDS(), p.toDS())
      .writeStream.format("memory").queryName("ij_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      a.addData(rows1); p.addData(rows1); query.processAllAvailable()
      a.addData(rows2); p.addData(rows2); query.processAllAvailable()
      val got = s.table("ij_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === Set((10L, 11L, 1L), (10L, 12L, W - 1L), (20L, 21L, 5L)))
      assert(got.size === s.table("ij_stream").count(), "duplicate emissions")
    } finally query.stop()
  }

  test("streaming near-dup ingest rejects arrivals against the static corpus only") {
    import graft.streaming.StreamingParity.StreamDoc
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    // Static corpus: doc 0 carries the shared text, doc 2 is unrelated.
    val corpus = Seq((0L, shared),
      (2L, "completely unrelated corpus words in this document body"))
      .toDF("doc_id", "text")
    val input = MemoryStream[StreamDoc]
    val query = StreamingParity.streamingNearDupIngest(input.toDS(), corpus)
      .writeStream.format("memory").queryName("nd_ingest")
      .outputMode(OutputMode.Append()).start()
    try {
      // Batch 1: doc 1 duplicates corpus doc 0 (every band collides, true
      // J = 1 — rejected), doc 3 shares nothing (survives even if a band
      // were to collide). Batch 2: doc 5 duplicates corpus doc 0 again —
      // the STATIC check re-fires per batch; stream-stream dups (1 vs 5)
      // never pair.
      input.addData(Seq(StreamDoc(1000, 1, shared),
        StreamDoc(2000, 3, "one two three four five six seven eight nine")))
      query.processAllAvailable()
      input.addData(Seq(StreamDoc(3000, 5, shared)))
      query.processAllAvailable()
      val got = s.table("nd_ingest").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === Set((1L, 0L), (5L, 0L)))
      assert(s.table("nd_ingest").count() === 2, "exactly-once per pair")
    } finally query.stop()
  }

  test("streaming dedup keeps the first occurrence per fingerprint") {
    import graft.streaming.StreamingParity.StreamDoc
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val input = MemoryStream[StreamDoc]
    val query = StreamingParity.streamingDedup(input.toDS())
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(Seq(
        StreamDoc(1000, 0, "alpha beta"), StreamDoc(2000, 1, "alpha beta"),
        StreamDoc(3000, 2, "gamma")))
      query.processAllAvailable()
      input.addData(Seq(StreamDoc(4000, 3, "gamma"), StreamDoc(5000, 4, "delta")))
      query.processAllAvailable()
      val kept = s.table("dedup_stream").collect().map(_.getLong(0)).toSet
      assert(kept === Set(0L, 2L, 4L))
    } finally query.stop()
  }

  test("streaming CMS grid equals the batch grid over the same documents") {
    import graft.streaming.StreamingParity.StreamDoc
    import graft.operators.Sketches
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val P = graft.functions.Parity.P
    val input = MemoryStream[StreamDoc]
    val query = StreamingParity.cmsCounterStream(input.toDS())
      .writeStream.format("memory").queryName("cms_stream")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(Seq(
        StreamDoc(1000, 0, "alpha beta alpha"), StreamDoc(2000, 1, "gamma beta")))
      query.processAllAvailable()
      input.addData(Seq(StreamDoc(3000, 2, "alpha delta")))
      query.processAllAvailable()
      val got = s.table("cms_stream").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      // the batch grid, folded in the driver from the same tokens
      val occ = Seq("alpha beta alpha", "gamma beta", "alpha delta")
        .flatMap(_.split(" ", -1))
        .map(t => t.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % P))
      val want = occ.flatMap(h => Sketches.cmsCoeffs.zipWithIndex.map {
        case ((a, b), j) => (j, ((a * h + b) % P) % Sketches.CmsWidth)
      }).groupBy(identity).map { case ((j, c), v) => (j, c, v.size.toLong) }.toSet
      assert(got === want)
      // the sketch contract: state is grid-bounded however much streams in
      assert(got.size <= Sketches.CmsDepth * Sketches.CmsWidth)
    } finally query.stop()
  }

  test("streaming quality histogram: bin-identical to the batch twin, " +
      "state bounded by the 100-bin grid") {
    import graft.streaming.StreamingParity.StreamDoc
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val texts = Map(
      0L -> "the cat sat on the mat",
      1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "a a a a a a a a",
      3L -> "of the and to in is on the quick brown fox")
    val dir = writeFixture(documents =
      texts.toSeq.sortBy(_._1).map { case (id, t) => doc(id, t) })
    val input = MemoryStream[StreamDoc]
    val query = StreamingParity.qualityHistogramStream(input.toDS())
      .writeStream.format("memory").queryName("qhist_stream")
      .outputMode(OutputMode.Complete()).start()
    try {
      def table(): Map[Long, Long] = s.table("qhist_stream").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      input.addData(Seq(
        StreamDoc(1000, 0, texts(0L)), StreamDoc(2000, 1, texts(1L))))
      query.processAllAvailable()
      input.addData(Seq(
        StreamDoc(3000, 2, texts(2L)), StreamDoc(4000, 3, texts(3L))))
      query.processAllAvailable()
      // streamed grid == the batch operator's histogram over the same
      // docs (summed across sources), bin for bin
      val batch = graft.operators.TextAnalysis.qualityHistogram(s, dir)
        .collect().map(r => r.getAs[Long]("bin") -> r.getAs[Long]("n_docs"))
        .groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).sum }
      assert(table() === batch)
      // the state relation is grid-bounded: ≤ 100 rows regardless of
      // how many docs streamed, and every bin id is in [0, 99]
      assert(table().size <= graft.operators.TextAnalysis.QualityBins)
      assert(table().keys.forall(b => b >= 0L && b <= 99L))
    } finally query.stop()
  }

  test("streaming vocab maintenance: per-trigger table equals the batch " +
      "stored/merged vocab (stored ⊕ Δ ≡ recompute, continuously)") {
    import graft.streaming.StreamingParity.StreamDoc
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    // Same day-1/day-2 convention as Curation.incrementalVocab: even
    // doc_ids are the stored corpus, odd ids the day-2 batch.
    val texts = Map(
      0L -> "alpha beta alpha", 2L -> "gamma beta",
      1L -> "alpha delta", 3L -> "beta beta epsilon")
    val dir = writeFixture(documents =
      texts.toSeq.sortBy(_._1).map { case (id, t) => doc(id, t) })
    val input = MemoryStream[StreamDoc]
    val query = StreamingParity.vocabStream(input.toDS())
      .writeStream.format("memory").queryName("vocab_stream")
      .outputMode(OutputMode.Complete()).start()
    try {
      def table(): Map[String, Long] = s.table("vocab_stream").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // trigger 1: the stored corpus — table == day-1 vocab
      input.addData(Seq(
        StreamDoc(1000, 0, texts(0L)), StreamDoc(2000, 2, texts(2L))))
      query.processAllAvailable()
      val day1 = Seq(0L, 2L).flatMap(id => texts(id).split(" ", -1))
        .groupBy(x => x).map { case (t, v) => t -> v.size.toLong }
      assert(table() === day1)
      // trigger 2: the day-2 batch arrives — table == full recompute,
      // token for token (the state store performed the batch twin's
      // full-outer merge)
      input.addData(Seq(
        StreamDoc(3000, 1, texts(1L)), StreamDoc(4000, 3, texts(3L))))
      query.processAllAvailable()
      val full = graft.operators.Curation.vocabFreq(s, dir).collect()
        .map(r => r.getAs[String]("token") -> r.getAs[Long]("tf")).toMap
      assert(table() === full)
      // and the merged totals agree with the gated incremental form's
      // tf column (its tf_batch rows are exactly the trigger-2 tokens)
      val incr = graft.operators.Curation.incrementalVocab(s, dir).collect()
        .map(r => r.getAs[String]("token") ->
          (r.getAs[Long]("tf"), r.getAs[Long]("tf_batch"))).toMap
      assert(incr.view.mapValues(_._1).toMap === full)
      val day2Tokens = Seq(1L, 3L).flatMap(id => texts(id).split(" ", -1)).toSet
      assert(incr.filter(_._2._2 > 0).keySet === day2Tokens)
    } finally query.stop()
  }

  test("streaming decision grid: per-trigger arm choice equals the batch " +
      "adaptive-Jaccard decision over the docs seen so far") {
    import graft.streaming.StreamingParity.StreamDoc
    import graft.operators.{Dedup, Sketches}
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    def words(p: String, n: Int) = (0 until n).map(i => s"$p$i").mkString(" ")
    val day1 = Seq(0L -> words("a", 12), 1L -> words("b", 12))
    val day2 = Seq(2L -> words("a", 12), 3L -> words("c", 12))
    val input = MemoryStream[StreamDoc]
    val query = StreamingParity.shingleCmsStream(input.toDS())
      .writeStream.format("memory").queryName("shcms_stream")
      .outputMode(OutputMode.Complete()).start()
    try {
      // the per-trigger consumer read: ≤ depth rows off the grid table,
      // folded through the SAME formula the batch face uses
      def streamDecision(): (Long, Long, String) = {
        val grid = s.table("shcms_stream").collect()
          .map(r => (r.getInt(0), r.getLong(2)))
        assert(grid.length <= Sketches.CmsDepth * Dedup.AdaptiveCmsWidth)
        Dedup.decideJaccardArm(grid.groupBy(_._1).values.toSeq
          .map(cells => (cells.map(c => c._2 * c._2).sum, cells.map(_._2).sum)))
      }
      def batchDecision(docsSoFar: Seq[(Long, String)]): (Long, Long, String) = {
        val dir = writeFixture(documents =
          docsSoFar.map { case (id, t) => doc(id, t) })
        val r = Dedup.adaptiveJaccardDecision(s, dir).collect().head
        (r.getAs[Long]("est_sjs"), r.getAs[Long]("sum_df"),
          r.getAs[String]("arm"))
      }
      input.addData(day1.map { case (id, t) => StreamDoc(1000 + id, id, t) })
      query.processAllAvailable()
      assert(streamDecision() === batchDecision(day1))
      input.addData(day2.map { case (id, t) => StreamDoc(2000 + id, id, t) })
      query.processAllAvailable()
      assert(streamDecision() === batchDecision(day1 ++ day2))
      // the fixture is tiny, so the rule must land on the exact arm —
      // the prefix branch is pinned by the sf1 gate of the batch face
      assert(streamDecision()._3 === "exact")
    } finally query.stop()
  }

  test("streaming chunker emits the batch twin's chunks with identical fingerprints") {
    import graft.streaming.StreamingParity.StreamDoc
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    def words(n: Int): String = (0 until n).map(i => s"w$i").mkString(" ")
    val input = MemoryStream[StreamDoc]
    val query = StreamingParity.chunkStream(input.toDS())
      .writeStream.format("memory").queryName("chunk_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(Seq(StreamDoc(1000, 0, words(150))))
      query.processAllAvailable()
      input.addData(Seq(StreamDoc(2000, 1, words(5))))
      query.processAllAvailable()
      val got = s.table("chunk_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
      // The batch twin over the same documents (text-identical fixture).
      val dir = writeFixture(documents = Seq(doc(0, words(150)), doc(1, words(5))))
      val batch = graft.operators.Curation.chunkDocs(s, dir).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id"),
          r.getAs[Long]("chunk_start"), r.getAs[Long]("chunk_tokens"),
          r.getAs[Long]("chunk_fp"))).toSet
      assert(got === batch)
      assert(got.size === 4) // 3 chunks for the 150-token doc + 1 short doc
    } finally query.stop()
  }

  test("streaming kNN classify: per-trigger majority votes over the static corpus") {
    import graft.streaming.StreamingParity.StreamVec
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    // Corpus: four vectors along one direction (one LSH bucket), labels
    // 3×1 vs 1×0 — every aligned query must classify as 1 with 3 votes.
    val v = Array.tabulate(16)(i => (i % 5 - 2) * 0.2f)
    val corpusDir = writeFixture(embeddings = Seq(
      EmbRow(0, v.clone(), 1), EmbRow(1, v.clone(), 1),
      EmbRow(2, v.clone(), 1), EmbRow(3, v.clone(), 0)))
    val corpus = s.read.parquet(s"$corpusDir/embeddings.parquet")
    val results = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    val input = MemoryStream[StreamVec]
    val query = StreamingParity.knnClassifyStream(input.toDS(), corpus) { out =>
      results.synchronized {
        results ++= out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      }
    }.start()
    try {
      input.addData(Seq(StreamVec(1000, 100, v.clone())))
      query.processAllAvailable()
      val afterFirst = results.synchronized(results.toList)
      input.addData(Seq(StreamVec(2000, 101, v.clone())))
      query.processAllAvailable()
      // First trigger classified query 100 alone; the second trigger
      // classified 101 without re-emitting 100 (per-batch semantics).
      assert(afterFirst === List((100L, 1L, 3L)))
      assert(results.synchronized(results.toList).sorted ===
        List((100L, 1L, 3L), (101L, 1L, 3L)))
      // The vote matches the batch plan run on the same rows directly.
      val batch = StreamingParity.classifyVecBatch(
        Seq((100L, v.toSeq)).toDF("vec_id", "embedding")
          .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding")),
        corpus).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
      assert(batch === List((100L, 1L, 3L)))
    } finally query.stop()
  }

  test("streaming BM25 serve ranks per trigger exactly like the batch serve plan") {
    import graft.streaming.StreamingParity.StreamDoc
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val doc0 = Tables.documents(s, sfDir).where(col("doc_id") === 0)
      .select("text").head().getString(0)
    val results = scala.collection.mutable.ListBuffer[(Long, Long, Long, Long)]()
    val input = MemoryStream[StreamDoc]
    val query = StreamingParity.bm25ServeStream(input.toDS(), sfDir) { out =>
      val rows = out.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2).toLong, r.getLong(3)))
      results.synchronized(results ++= rows)
    }.start()
    try {
      input.addData(Seq(StreamDoc(1000, 900, doc0)))
      query.processAllAvailable()
      val afterFirst = results.synchronized(results.toList)
      assert(afterFirst.nonEmpty && afterFirst.forall(_._1 == 900L))
      // the query IS corpus doc 0's text — that doc must make the top-k
      assert(afterFirst.exists(_._2 == 0L))
      input.addData(Seq(StreamDoc(2000, 901, "zzzz qqqq")))
      query.processAllAvailable()
      val all = results.synchronized(results.toList)
      // alien-vocab query shares no terms → ranks nothing (inverted-index
      // semantics), and trigger 2 re-emits nothing for query 900
      assert(!all.exists(_._1 == 901L) && all.sorted === afterFirst.sorted)
      // streamed rows ≡ the batch serve plan on the same query rows
      val batch = graft.operators.Retrieval.bm25ServeBatch(s, sfDir,
        Seq((900L, doc0)).toDF("query_id", "text")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong, r.getLong(3)))
        .toList
      assert(all.sorted === batch.sorted)
    } finally query.stop()
  }

  test("streaming feature-ANN serve: frozen-stat centering, per-trigger ranks ≡ the batch serve plan") {
    import graft.multimodal.Multimodal
    import graft.streaming.StreamingParity.StreamMedia
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    // Static corpus = even media (the incremental-dedup parity split);
    // the index freezes the corpus means / plane grid / bucket relation.
    val allMedia = Multimodal.mediaFromDocuments(s, sfDir)
    val idx = Multimodal.featureServeIndexOf(
      Multimodal.extractFeatures(allMedia.filter(_.media_id % 2 == 0L)).toDF())
    // Arriving media: three odd ids across two triggers, one of them the
    // planted Y4M (23) so the serve path exercises a REAL video decode.
    val qIds = Set(1L, 23L, 45L)
    val qMedia = allMedia.filter(m => qIds.contains(m.media_id)).collect()
      .map(m => StreamMedia(m.media_id, m.media_id, m.kind, m.payload))
      .sortBy(_.media_id)
    val results = scala.collection.mutable.ListBuffer[(Long, Long, Long, Long)]()
    val input = MemoryStream[StreamMedia]
    val query = StreamingParity.featureServeStream(input.toDS(), idx) { out =>
      val rows = out.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2).toLong, r.getLong(3)))
      results.synchronized(results ++= rows)
    }.start()
    try {
      input.addData(Seq(qMedia(0)))
      query.processAllAvailable()
      val afterFirst = results.synchronized(results.toList)
      assert(afterFirst.nonEmpty && afterFirst.forall(_._1 == 1L))
      input.addData(qMedia.drop(1).toSeq)
      query.processAllAvailable()
      val all = results.synchronized(results.toList)
      // per-batch semantics: trigger 2 added only the new queries
      assert(all.count(_._1 == 1L) === afterFirst.size)
      // neighbors come from the static corpus side only
      assert(all.forall(_._2 % 2 == 0L))
      // streamed rows ≡ the batch serve plan over the same query features
      val batch = Multimodal.featureServeBatch(idx,
        Multimodal.extractFeatures(
          allMedia.filter(m => qIds.contains(m.media_id))).toDF(),
        graft.operators.Similarity.TopK).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong, r.getLong(3)))
        .toList
      assert(all.sorted === batch.sorted)
      assert(batch.exists(_._1 == 23L), "the Y4M query must rank someone")
    } finally {
      query.stop()
      idx.corpus.unpersist()
      ()
    }
  }

  test("foreachBatch feedback publishes per-batch heavy hitters (C1 analogue)") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val latest = new java.util.concurrent.atomic.AtomicReference[StreamingParity.BatchStats]()
    val input = MemoryStream[PwEvent]
    val query = StreamingParity.heavyHitterFeedback(input.toDS(), latest).start()
    try {
      // 60 rows: HOT×2 (share 1/30 > 1/60 → heavy), COLD×1 (exactly 1/60,
      // strict > → not), 57 filler.
      val batch = Seq(PwEvent(10, 0, "HOT"), PwEvent(20, 0, "HOT"), PwEvent(30, 0, "COLD")) ++
        (0 until 57).map(i => PwEvent(40 + i, 0, "FILL"))
      input.addData(batch); query.processAllAvailable()
      val got = latest.get()
      assert(got.total === 60L)
      assert(got.heavyHitters === Set("HOT", "FILL"))
    } finally query.stop()
  }

  test("file-source stream over the shared events fixture matches batch q2 on closed windows") {
    val s = spark
    import s.implicits._
    val sfDir = "/root/testdata/sf0.001"
    withConfs("spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      val query = StreamingParity.q2WindowedAgg(
          Seq(graft.streaming.EventStreams.portWordStream(s, sfDir)),
          graft.Shapes.LogicTimeSlotMs)
        .writeStream.format("memory").queryName("q2_file")
        .outputMode(OutputMode.Append()).start()
      try {
        query.processAllAvailable()
        val got = s.table("q2_file").as[Q2Result].collect().toSet
        val batch = graft.operators.RefQueries.q2WindowedMinComplete(s, sfDir)
          .as[Q2Result].collect().toSet
        // Closed = window end <= final watermark (= max event time).
        val maxTs = graft.Shapes.portWordEvents(s, sfDir)
          .agg(org.apache.spark.sql.functions.max("event_time")).head().getLong(0)
        val closed = batch.filter(r =>
          (r.ltw + 1) * graft.Shapes.LogicTimeSlotMs <= maxTs)
        assert(got === closed)
        assert(closed.nonEmpty)
      } finally query.stop()
    }
  }

  test("Trigger.AvailableNow processes only new files across incremental runs") {
    import org.apache.spark.sql.streaming.Trigger
    val s = spark
    import s.implicits._
    // The nightly-batch ingestion pattern: a growing directory, each run
    // drains exactly the unseen files via the checkpointed file-source
    // log, then exits — incremental ETL with streaming exactly-once
    // semantics but batch-job lifecycle.
    val in = java.nio.file.Files.createTempDirectory("graft-avail-in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-avail-ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft-avail-out").toString
    val schema = "doc_id LONG, text STRING"
    def run(): Unit = {
      val q = s.readStream.schema(schema).parquet(in)
        .withColumn("fp", graft.functions.TextHashOps.polyHash(col("text")))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .outputMode(OutputMode.Append()).start()
      q.awaitTermination()
    }
    def sinkIds(): Seq[Long] =
      s.read.parquet(out).collect().map(_.getLong(0)).toSeq
    Seq((0L, "alpha"), (1L, "beta")).toDF("doc_id", "text")
      .write.mode("append").parquet(in)
    run()
    assert(sinkIds().sorted === Seq(0L, 1L))
    Seq((2L, "gamma")).toDF("doc_id", "text")
      .write.mode("append").parquet(in)
    run()
    // The second run drains ONLY the new file: old docs appear exactly
    // once across both runs (no reprocessing, no duplicates).
    assert(sinkIds().sorted === Seq(0L, 1L, 2L))
  }

  test("checkpointed query restarts without duplicate emissions (S4 contract)") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft-ckpt-out").toString
    val input = MemoryStream[PwEvent]
    def start() = StreamingParity.q2TransformWithState(input.toDS())
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    def sinkRows() =
      try s.read.parquet(out).as[Q2Result].collect().toSeq
      catch { case _: Exception => Seq.empty[Q2Result] }
    withConfs(Harness.RocksDbStateStore) {
      // First incarnation: ingest window 0 and advance the watermark past it.
      val q1 = start()
      try {
        input.addData(batch1); q1.processAllAvailable()
        input.addData(batch2); q1.processAllAvailable()
      } finally q1.stop()
      val afterFirst = sinkRows()
      // Restart from the checkpoint; the file sink's commit log must carry
      // over — closed windows are not re-emitted.
      val q2 = start()
      try {
        input.addData(sentinel); q2.processAllAvailable()
        val all = sinkRows()
        assert(all.size === all.toSet.size, "duplicate emission across restart")
        assert(all.toSet === expectedClosed)
        assert(afterFirst.nonEmpty && afterFirst.toSet.subsetOf(expectedClosed))
      } finally q2.stop()
    }
  }

  test("streaming SCD-2: close-and-open emissions fold to the batch interval table") {
    import graft.streaming.StreamingParity.{DimChange, Scd2Row}
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    withConfs(Harness.RocksDbStateStore) {
      // key 1 evolves across two triggers; key 2 bursts v1+v2 in ONE
      // batch (intra-batch fold); the v1 replay in b2 must emit nothing.
      val b1 = Seq(DimChange(1, 1, 1992, 100),
        DimChange(2, 1, 1992, 500), DimChange(2, 2, 1995, 600))
      val b2 = Seq(DimChange(1, 2, 1994, 200), DimChange(1, 1, 1992, 100))
      val input = MemoryStream[DimChange]
      val query = StreamingParity.scd2Stream(input.toDS())
        .writeStream.format("memory").queryName("scd2_tws")
        .outputMode(OutputMode.Update()).start()
      val emitted = try {
        input.addData(b1); query.processAllAvailable()
        val afterB1 = s.table("scd2_tws").as[Scd2Row].collect().toSeq
        // b1: key1 open v1; key2 v1 open + closed-in-batch + v2 open.
        assert(afterB1.toSet === Set(
          Scd2Row(1, 1, 100, 1992, 9999, 1),
          Scd2Row(2, 1, 500, 1992, 9999, 1),
          Scd2Row(2, 1, 500, 1992, 1994, 0),
          Scd2Row(2, 2, 600, 1995, 9999, 1)))
        input.addData(b2); query.processAllAvailable()
        s.table("scd2_tws").as[Scd2Row].collect().toSeq
      } finally query.stop()
      // Upserting-sink fold: the LAST emission per (key, version) is the
      // final interval row — and it tiles like the batch build.
      val folded = emitted.zipWithIndex
        .groupBy(e => (e._1.key, e._1.version))
        .map { case (_, es) => es.maxBy(_._2)._1 }.toSet
      assert(folded === Set(
        Scd2Row(1, 1, 100, 1992, 1993, 0),
        Scd2Row(1, 2, 200, 1994, 9999, 1),
        Scd2Row(2, 1, 500, 1992, 1994, 0),
        Scd2Row(2, 2, 600, 1995, 9999, 1)))
      // Exactly one open row per key; intervals chain.
      folded.groupBy(_.key).foreach { case (_, rs) =>
        assert(rs.count(_.is_current == 1L) === 1)
        val sorted = rs.toSeq.sortBy(_.version)
        sorted.sliding(2).filter(_.length == 2).foreach { w =>
          assert(w(0).valid_to + 1 === w(1).valid_from)
        }
      }
    }
  }

  test("streaming as-of enrichment joins each fact to its covering SCD-2 version") {
    import graft.streaming.StreamingParity.FactEvent
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    // Static dim built by the gated batch query on the real fixture.
    val sfDir = "/root/testdata/sf0.001"
    val dim = graft.operators.Analytics.scd2Build(s, sfDir)
    val keys = dim.select("custkey").distinct().limit(2).as[Long].collect()
    val multiKey = dim.groupBy("custkey").count().where($"count" >= 2)
      .select("custkey").as[Long].head()
    val input = MemoryStream[FactEvent]
    val query = StreamingParity.scd2AsofStream(input.toDS(), dim)
      .writeStream.format("memory").queryName("asof_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      // One fact inside the first interval, one in the open interval,
      // one before any interval (drops).
      input.addData(Seq(
        FactEvent(1000, 1, multiKey, 1993),
        FactEvent(1000, 2, multiKey, 2005),
        FactEvent(1000, 3, keys(0), 1800)))
      query.processAllAvailable()
      val got = s.table("asof_stream").collect()
        .map(r => r.getAs[Long]("fact_id") ->
          ((r.getAs[Long]("version"), r.getAs[Long]("at")))).toMap
      // Every emitted fact matched exactly one version; the covering
      // interval is recomputed from the dim relation itself.
      val intervals = dim.where($"custkey" === multiKey)
        .select("version", "valid_from", "valid_to").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      def cover(at: Long) =
        intervals.filter(i => at >= i._2 && at <= i._3).map(_._1).toSeq
      assert(got(1L)._1 === cover(1993).head)
      assert(got(2L)._1 === cover(2005).head)
      assert(cover(2005) === Seq(intervals.map(_._1).max)) // the open row
      assert(!got.contains(3L)) // pre-history fact drops
      assert(got.size === 2)
    } finally query.stop()
  }

  test("streaming upsert: latest version wins, stale replays emit nothing") {
    import graft.streaming.StreamingParity.{DocChange, DocCurrent}
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    withConfs(Harness.RocksDbStateStore) {
      // key 3 carries its insert AND revision in one batch (intra-batch
      // fold → single emission at v2); key 2's b2 row and key 1's b3 row
      // are at-least-once replays that must not emit or downgrade.
      val b1 = Seq(DocChange(1, 1, 11), DocChange(2, 1, 21),
        DocChange(3, 1, 31), DocChange(3, 2, 32))
      val b2 = Seq(DocChange(1, 2, 12), DocChange(4, 1, 41), DocChange(2, 1, 21))
      val b3 = Seq(DocChange(1, 1, 11))
      val input = MemoryStream[DocChange]
      val query = StreamingParity.upsertStream(input.toDS())
        .writeStream.format("memory").queryName("upsert_tws")
        .outputMode(OutputMode.Update()).start()
      val emitted = try {
        input.addData(b1); query.processAllAvailable()
        input.addData(b2); query.processAllAvailable()
        input.addData(b3); query.processAllAvailable()
        s.table("upsert_tws").as[DocCurrent].collect().toSeq
      } finally query.stop()
      // Exactly one emission per effective change — the stale rows are
      // swallowed by the version guard.
      assert(emitted.size === 5)
      assert(emitted.count(_.status == "inserted") === 4)
      assert(emitted.filter(_.status == "updated").map(d => (d.doc_id, d.version, d.fp))
        === Seq((1L, 2L, 12L)))
      // The last emission per key IS the batch latest-version-wins fold
      // over the full change log (the p_upsert_merge winner rule).
      val finalByKey = emitted.groupBy(_.doc_id)
        .map { case (k, es) => k -> es.maxBy(_.version) }
      val batchWinners = (b1 ++ b2 ++ b3).toDF()
        .groupBy("doc_id").agg(max(struct($"version", $"fp")).as("w"))
        .select($"doc_id", $"w.version", $"w.fp").as[(Long, Long, Long)]
        .collect().map(t => t._1 -> (t._2, t._3)).toMap
      assert(finalByKey.map { case (k, d) => k -> ((d.version, d.fp)) } === batchWinners)
    }
  }

  test("out-of-order funnel converges to the batch fold on a shuffled replay") {
    import graft.streaming.StreamingParity.{UserEvent, FunnelProgress, FunnelTimes}
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    withConfs(Harness.RocksDbStateStore) {
      // A replay SHUFFLED across batches: user 1's funnel arrives
      // purchase-first, click next batch, view last — the in-order
      // processors would misfold this (click@3000 judged before its
      // view@1000 is in state); the buffered form must not. User 2's
      // click arrives BEFORE its view too, in the same late batch.
      // All disorder sits inside the 10 s watermark delay.
      val b1 = Seq(UserEvent(5000, 1, "purchase"), UserEvent(6000, 2, "purchase"))
      val b2 = Seq(UserEvent(3000, 1, "click"), UserEvent(4000, 2, "click"))
      val b3 = Seq(UserEvent(1000, 1, "view"), UserEvent(2000, 2, "view"))
      val sentinel = Seq(UserEvent(100000, 99, "view"))
      val all = b1 ++ b2 ++ b3 ++ sentinel
      val input = MemoryStream[UserEvent]
      val query = StreamingParity.funnelOutOfOrder(input.toDS(), delayMs = 10000L)
        .writeStream.format("memory").queryName("funnel_ooo")
        .outputMode(OutputMode.Update()).start()
      val got = try {
        Seq(b1, b2, b3, sentinel).foreach { b =>
          input.addData(b); query.processAllAvailable()
        }
        s.table("funnel_ooo").as[FunnelProgress].collect()
          .groupBy(_.user_id).map { case (u, ps) => u -> ps.map(_.stage).max }
      } finally query.stop()
      // Expected = the batch fold over each user's full event set.
      val expected = all.groupBy(_.user_id).map { case (u, evs) =>
        u -> StreamingParity.foldFunnel(FunnelTimes(None, None, None), evs.iterator)._2
      }.filter { case (u, _) => got.contains(u) }
      assert(got === expected)
      // And the disorder was real: both funnel users fully convert.
      assert(got(1L) === 3L)
      assert(got(2L) === 3L)
    }
  }

  test("SCD-2 stream state survives a checkpointed restart (close emitted for restored version)") {
    import graft.streaming.StreamingParity.{DimChange, Scd2Row}
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft-scd2-ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft-scd2-out").toString
    withConfs(Harness.RocksDbStateStore) {
      val input = MemoryStream[DimChange]
      def start() = StreamingParity.scd2Stream(input.toDS())
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[Scd2Row], _: Long) =>
          df.write.mode("append").parquet(out); ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Update()).start()
      // Incarnation 1: v1 opens; its row lands in the state store.
      val q1 = start()
      try { input.addData(Seq(DimChange(1, 1, 1992, 100))); q1.processAllAvailable() }
      finally q1.stop()
      // Incarnation 2 (same checkpoint): v2 must CLOSE the restored v1 —
      // without recovery there is no held version and no close row; the
      // v1 replay must stay swallowed across the restart.
      val q2 = start()
      val rows = try {
        input.addData(Seq(DimChange(1, 2, 1994, 200), DimChange(1, 1, 1992, 100)))
        q2.processAllAvailable()
        s.read.parquet(out).as[Scd2Row].collect().toSeq
      } finally q2.stop()
      val folded = rows.groupBy(r => (r.key, r.version))
        .map { case (_, es) => es.minBy(_.valid_to) }.toSet
      assert(folded === Set(
        Scd2Row(1, 1, 100, 1992, 1993, 0),
        Scd2Row(1, 2, 200, 1994, 9999, 1)))
      assert(rows.size === 3) // open v1, close v1, open v2 — no replay rows
    }
  }

  test("funnel state survives a checkpointed restart") {
    import graft.streaming.StreamingParity.{UserEvent, FunnelProgress}
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft-funnel-ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft-funnel-out").toString
    val input = MemoryStream[UserEvent]
    // foreachBatch: the memory sink refuses checkpoint recovery and the
    // file sink refuses Update mode — foreachBatch is the standard
    // recovery-capable sink for a stateful update stream.
    def start() = StreamingParity.funnelTransformWithState(input.toDS())
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[FunnelProgress], _: Long) =>
        df.write.mode("append").parquet(out); ()
      }
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Update()).start()
    val stages = withConfs(Harness.RocksDbStateStore) {
      // Incarnation 1: user 1 views. Stage 1 lands in the state store.
      val q1 = start()
      try { input.addData(Seq(UserEvent(100, 1, "view"))); q1.processAllAvailable() }
      finally q1.stop()
      // Incarnation 2 (fresh query, same checkpoint): the click must find
      // the RESTORED t1 — without state recovery it would be rejected (no
      // prior view) and the user would report stage 0.
      val q2 = start()
      try {
        input.addData(Seq(UserEvent(200, 1, "click"))); q2.processAllAvailable()
        s.read.parquet(out).as[FunnelProgress].collect()
          .groupBy(_.user_id).map { case (u, ps) => u -> ps.map(_.stage).max }
      } finally q2.stop()
    }
    assert(stages === Map(1L -> 2L))
  }

  test("stream-stream interval join state survives a checkpointed restart") {
    import graft.streaming.StreamingParity.IdEvent
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val minV = graft.operators.Analytics.AnchorMinValue
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ij-ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft-ij-out").toString
    val a = MemoryStream[IdEvent]
    val p = MemoryStream[IdEvent]
    def start() = StreamingParity.intervalJoinStream(a.toDS(), p.toDS())
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.write.mode("append").parquet(out); ()
      }
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    // Incarnation 1: the anchor arrives; the only probe row precedes it
    // (no pair yet). The anchor's join state lands in the state store.
    val q1 = start()
    try {
      a.addData(Seq(IdEvent(10000, 1, minV)))
      p.addData(Seq(IdEvent(5000, 99, 1.0)))
      q1.processAllAvailable()
    } finally q1.stop()
    // Incarnation 2 (fresh query, same checkpoint): an in-window probe
    // event must pair with the RESTORED anchor state — without join-state
    // recovery there is nothing to match and the pair is lost.
    val q2 = start()
    val got = try {
      p.addData(Seq(IdEvent(10005, 2, 1.0)))
      q2.processAllAvailable()
      s.read.parquet(out).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    } finally q2.stop()
    assert(got === Set((1L, 2L, 5L)))
  }

  test("two-source q2: a laggard source holds back emission (trigger = min over sources, C3)") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val a = MemoryStream[PwEvent]
    val b = MemoryStream[PwEvent]
    val query = StreamingParity.q2WindowedAgg(Seq(a.toDF(), b.toDF()))
      .writeStream.format("memory").queryName("q2_two_sources")
      .outputMode(OutputMode.Append()).start()
    def emitted(): Set[Q2Result] = s.table("q2_two_sources").as[Q2Result].collect().toSet
    try {
      // Window 0 is complete only across BOTH sources: A brings ports 0/1,
      // B brings port 2. "B" (port 0, source A only) must close as 0.
      a.addData(Seq(
        PwEvent(10, 0, "A"), PwEvent(20, 0, "A"), PwEvent(30, 1, "A"),
        PwEvent(40, 0, "B")))
      query.processAllAvailable()
      assert(emitted().isEmpty, "no source advanced past window 0 yet")
      // Source A races 10 windows ahead. Under the reference's trigger=min
      // contract (MyStateJoinUtils.scala:25-65) NOTHING may emit while B
      // lags at watermark 0 — under a max policy window 0 would close here
      // (the anti-case the q2WindowedAgg scaladoc warns about).
      a.addData(Seq(PwEvent(10500, 0, "SENT_A")))
      query.processAllAvailable()
      assert(emitted().isEmpty, "laggard source B must hold back every window")
      // B reaches only event-time 30: min watermark = 30 < window-0 end.
      b.addData(Seq(PwEvent(30, 2, "A")))
      query.processAllAvailable()
      assert(emitted().isEmpty, "min watermark (30) still inside window 0")
      // B passes window 0: min(10500, 10600) = 10500 closes windows 0..9
      // with counts merged across sources.
      b.addData(Seq(PwEvent(10600, 0, "SENT_B")))
      query.processAllAvailable()
      assert(emitted() === Set(Q2Result("A", 0L, 1L), Q2Result("B", 0L, 0L)),
        "closed windows must merge counts from both sources")
    } finally query.stop()
  }

  /** Q2's keyed state in a checkpoint, read with Spark's stock checkpoint
    * file manager. The reference exposes live per-window state via
    * stateSnapshots() (MyMapWithStateWithIndexDstream.scala:65-69);
    * Structured Streaming's analogue is the statestore batch source over
    * the checkpoint. Keys are word buckets; each value is the processor's
    * `bucketCounts` ValueState, whose parallel arrays are regrouped here
    * into one port → count map per (word, ltw).
    */
  private def portCountsState(ckpt: String): Map[(String, Long), Map[Int, Long]] =
    withoutConf(LocalCheckpointFileManager.ConfKey) {
      spark.read.format("statestore")
        .option("stateVarName", "bucketCounts")
        .load(ckpt)
        .select(col("value.words"), col("value.ltws"), col("value.ports"), col("value.counts"))
        .collect()
        .flatMap { r =>
          val (words, ltws) = (r.getSeq[String](0), r.getSeq[Long](1))
          val (ports, counts) = (r.getSeq[Int](2), r.getSeq[Long](3))
          words.indices.map(i => (words(i), ltws(i)) -> (ports(i) -> counts(i)))
        }
        .groupMap(_._1)(_._2)
        .map { case (k, pcs) => k -> pcs.toMap }
    }

  test("Q2 on the local checkpoint manager recovers across a restart; stock readers read it") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft-local-ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft-local-ckpt-out").toString
    // Window 1 of A gets its port-0 row before the restart and its port-1
    // and port-2 rows after: min 1 only if the restored state held port 0.
    val batch3 = Seq(PwEvent(1100, 1, "A"), PwEvent(1200, 2, "A"),
      PwEvent(1300, 2, "A"), PwEvent(2100, 0, "B"))
    val input = MemoryStream[PwEvent]
    def start() = StreamingParity.q2TransformWithState(input.toDS())
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    def run(batches: Seq[PwEvent]*): Unit =
      withConfs(Harness.RocksDbStateStore, LocalCheckpointFileManager.ConfKey ->
          classOf[LocalCheckpointFileManager].getName) {
        val q = start()
        try batches.foreach { b => input.addData(b); q.processAllAvailable() }
        finally q.stop()
      }
    run(batch1, batch2)
    assert(portCountsState(ckpt).get(("A", 1L)) === Some(Map(0 -> 1L)))
    run(batch3, sentinel)
    val got = s.read.parquet(out).as[Q2Result].collect().toSeq
    assert(got.size === got.toSet.size, "duplicate emission across restart")
    val want = StreamingParity.q2Batch((batch1 ++ batch2 ++ batch3 ++ sentinel).toDS())
      .as[Q2Result].collect().toSet.filter(_.ltw < 10L)
    assert(want.contains(Q2Result("A", 1L, 1L)))
    assert(got.toSet === want)
    val state = portCountsState(ckpt)
    assert(state.get(("SENTINEL", 10L)) === Some(Map(0 -> 1L)))
    assert(state.keySet.subsetOf(want.map(r => (r.word, r.ltw)) + (("SENTINEL", 10L))))
  }

  test("checkpointed state reads back via the statestore source (C5 contract)") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft-statestore").toString
    val input = MemoryStream[PwEvent]
    withConfs(Harness.RocksDbStateStore) {
      val query = StreamingParity.q2TransformWithState(input.toDS())
        .writeStream.format("memory").queryName("q2_state_snapshot")
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).start()
      try {
        input.addData(batch1); query.processAllAvailable()
        input.addData(batch2); query.processAllAvailable()
      } finally query.stop()
    }
    val state = portCountsState(ckpt)
    // Which of window 0's groups already timed out depends on whether an
    // empty batch ran after the watermark advanced; window 1 (end 2000 >
    // final watermark 1010) MUST still be open with A's single port-0 row.
    assert(state.keySet.subsetOf(Set(("A", 0L), ("B", 0L), ("A", 1L))))
    assert(state.contains(("A", 1L)), "open window must be present in state")
    assert(state(("A", 1L)) === Map(0 -> 1L))
    state.get(("A", 0L)).foreach(c => assert(c === Map(0 -> 2L, 1 -> 1L, 2 -> 1L)))
    state.get(("B", 0L)).foreach(c => assert(c === Map(0 -> 1L, 1 -> 1L)))
  }

  test("transformWithState Q2 closes a window late in one batch and counts distinct ports") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    // The reference's ports. Without no-data batches, a data batch's late
    // filter uses the watermark the previous batch ran with, its eviction
    // watermark (the processor's) the one the previous batch produced.
    // Batch 2 below runs with late filter 1200 and eviction watermark
    // 5000, so its window-1 rows (end 2000) get past the engine's filter
    // but are late for the processor, which drops every row whose window
    // ended at or before the eviction watermark: A keeps its state from
    // batch 0 (ports p1, p2: incomplete, 0), L and F get no window. K
    // closes by its timer or by its bucket's window-1 rows, S and X too.
    val (p1, p2, p3, p4) = (10105, 10107, 10109, 10111)
    val batches = Seq(
      Seq(PwEvent(1100, p1, "A"), PwEvent(1150, p2, "A"), PwEvent(100, p1, "K"),
        PwEvent(110, p2, "K"), PwEvent(120, p3, "K"), PwEvent(1200, p1, "S")),
      Seq(PwEvent(5000, p1, "X")),
      Seq(PwEvent(1500, p3, "A"), PwEvent(1600, p3, "A"),
        PwEvent(1300, p1, "L"), PwEvent(1400, p2, "L"), PwEvent(1500, p3, "L")) ++
        Seq(p1, p2, p3, p4, p1, p2, p3, p4).map(PwEvent(1300, _, "F")),
      Seq(PwEvent(10500, p1, "SENTINEL")),
      Seq(PwEvent(10600, p1, "SENTINEL")))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-late-close").toString
    withConfs(Harness.RocksDbStateStore,
        "spark.sql.streaming.noDataMicroBatches.enabled" -> "false") {
      val input = MemoryStream[PwEvent]
      val query = StreamingParity.q2TransformWithState(input.toDS())
        .writeStream.format("memory").queryName("q2_tws_late_close")
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).start()
      try batches.foreach { b => input.addData(b); query.processAllAvailable() }
      finally query.stop()
    }
    val got = s.table("q2_tws_late_close").as[Q2Result].collect().toSeq
    val onTime = batches.patch(2, Nil, 1)
    val want = StreamingParity.q2Batch(onTime.flatten.toDS())
      .as[Q2Result].collect().toSet.filter(_.ltw < 10L)
    assert(want === Set(Q2Result("K", 0L, 1L), Q2Result("A", 1L, 0L),
      Q2Result("S", 1L, 0L), Q2Result("X", 5L, 0L)))
    assert(got.size === got.toSet.size, "duplicate emissions")
    assert(got.toSet === want)
    assert(portCountsState(ckpt).keySet === Set(("SENTINEL", 10L)))
  }

  test("transformWithState Q2 closes a window in the batch whose own rows pass its end") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    // One batch: word A's window-0 rows and one A row in window 1. The
    // batch's eviction watermark is still 0, so no timer can fire; the
    // window-1 row alone closes window 0, with no later trigger.
    val batch = batch1.filter(_.word == "A") :+ PwEvent(1010, 0, "A")
    withConfs(Harness.RocksDbStateStore,
        "spark.sql.streaming.noDataMicroBatches.enabled" -> "false") {
      val input = MemoryStream[PwEvent]
      val query = StreamingParity.q2TransformWithState(input.toDS())
        .writeStream.format("memory").queryName("q2_tws_same_batch")
        .outputMode(OutputMode.Append()).start()
      try {
        input.addData(batch); query.processAllAvailable()
        val got = s.table("q2_tws_same_batch").as[Q2Result].collect().toSeq
        val want = StreamingParity.q2Batch(batch.toDS()).as[Q2Result].collect()
          .filter(_.ltw == 0L).toSeq
        assert(want === Seq(Q2Result("A", 0L, 1L)))
        assert(got === want)
      } finally query.stop()
    }
  }

  /** Writes a checkpoint with an earlier Q2 layout (its processor over the
    * per-(word, window) `groupByKey` plan), restarts from it through
    * [[StreamingParity.q2TransformWithState]] and returns the error.
    */
  private def restartError(old: org.apache.spark.sql.streaming.StatefulProcessor[
      (String, Long), (java.sql.Timestamp, String, Long, Int), Q2Result])
      : org.apache.spark.sql.streaming.StreamingQueryException = {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft-old-layout").toString
    val out = java.nio.file.Files.createTempDirectory("graft-old-layout-out").toString
    val input = MemoryStream[PwEvent]
    def write(ds: org.apache.spark.sql.Dataset[Q2Result]) =
      ds.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).start()
    withConfs(Harness.RocksDbStateStore) {
      val first = write(input.toDF()
        .withColumn("event_ts", expr("timestamp_millis(event_time)"))
        .withColumn("ltw", expr(s"event_time div ${StreamingParity.SlotMs}"))
        .select(col("event_ts"), col("word"), col("ltw"), col("port"))
        .withWatermark("event_ts", "0 milliseconds")
        .as[(java.sql.Timestamp, String, Long, Int)]
        .groupByKey { case (_, word, ltw, _) => (word, ltw) }
        .transformWithState(old,
          org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append()))
      try { input.addData(batch1); first.processAllAvailable() }
      finally first.stop()
      val restarted = write(StreamingParity.q2TransformWithState(input.toDS()))
      try {
        input.addData(batch2 ++ sentinel)
        intercept[org.apache.spark.sql.streaming.StreamingQueryException](
          restarted.processAllAvailable())
      } finally restarted.stop()
    }
  }

  // The state schema check sees a (word, ltw) key where the bucket
  // layout keeps an int.
  test("Q2 refuses to restart from a checkpoint of the old MapState layout") {
    val err = restartError(new StreamingParitySpec.MapStateQ2Processor)
    assert(err.getMessage.contains("STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE"), err.getMessage)
  }

  test("Q2 refuses to restart from a checkpoint of the per-(word, window) ValueState layout") {
    val err = restartError(new StreamingParitySpec.WindowValueStateQ2Processor)
    assert(err.getMessage.contains("STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE"), err.getMessage)
  }

  test("per-trigger Q1: each micro-batch equals the batch plan on that batch's rows") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    // The reference Q1 is per-processing-batch, not cumulative
    // (stateless/src/main/scala/cluster/HashJoin.scala:11-12): every
    // trigger recomputes min-of-counts over ONLY that batch's rows.
    // foreachBatch + the shared q1Plan is that contract verbatim.
    val perBatch = scala.collection.concurrent.TrieMap.empty[Long, Set[(String, Long)]]
    val input = MemoryStream[PwEvent]
    val query = input.toDS().writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[PwEvent], id: Long) =>
        val out = graft.operators.RefQueries.q1Plan(batch.toDF())
          .as[(String, Long)].collect().toSet
        if (out.nonEmpty) perBatch.put(id, out)
        ()
      }.start()
    try {
      input.addData(batch1); query.processAllAvailable()
      input.addData(batch2 ++ Seq(PwEvent(1020, 1, "A"), PwEvent(1030, 1, "A")))
      query.processAllAvailable()
      val got = perBatch.values.toSeq
      // Batch 1: A counts (2,1,1) → 1; B counts (1,1) → 1.
      // Batch 2: A counts port0=1, port1=2 → 1 — NOT cumulative (a
      // cumulative plan would see A's port-2 count and differ on B).
      assert(got.contains(Set(("A", 1L), ("B", 1L))))
      assert(got.contains(Set(("A", 1L))))
      assert(perBatch.size === 2)
    } finally query.stop()
  }

  test("stream-stream windowed join equals the batch join (J1 over live streams)") {
    import graft.streaming.StreamingParity.ZxEvent
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val a = MemoryStream[ZxEvent]
    val b = MemoryStream[ZxEvent]
    val query = StreamingParity.streamWindowJoin(a.toDS(), b.toDS())
      .writeStream.format("memory").queryName("ss_join")
      .outputMode(OutputMode.Append()).start()
    try {
      // Window 0: key K on both sides (2×1 pairs), key L only on a.
      // Window 1: key K on both sides again — must NOT pair across windows.
      a.addData(Seq(ZxEvent(10, "K", 1), ZxEvent(20, "K", 2), ZxEvent(30, "L", 3),
        ZxEvent(1010, "K", 4)))
      query.processAllAvailable()
      b.addData(Seq(ZxEvent(40, "K", 10), ZxEvent(1040, "K", 11)))
      query.processAllAvailable()
      val got = s.table("ss_join").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got === Set(
        ("K", 0L, 1L, 10L), ("K", 0L, 2L, 10L), ("K", 1L, 4L, 11L)))
    } finally query.stop()
  }

  test("left-outer stream join null-pads unmatched rows only at window close") {
    import graft.streaming.StreamingParity.ZxEvent
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val a = MemoryStream[ZxEvent]
    val b = MemoryStream[ZxEvent]
    val query = StreamingParity.streamWindowJoin(a.toDS(), b.toDS(), "left_outer")
      .writeStream.format("memory").queryName("ss_left")
      .outputMode(OutputMode.Append()).start()
    def emitted(): Set[(String, Long, Long, Option[Long])] =
      s.table("ss_left").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    try {
      // K matches in window 0; L never matches. The null-padded L row may
      // only appear after BOTH watermarks pass window 0 — not before.
      a.addData(Seq(ZxEvent(10, "K", 1), ZxEvent(20, "L", 2)))
      query.processAllAvailable()
      b.addData(Seq(ZxEvent(30, "K", 10)))
      query.processAllAvailable()
      assert(emitted() === Set(("K", 0L, 1L, Some(10L))),
        "unmatched row must not null-pad while its window is open")
      a.addData(Seq(ZxEvent(5000, "SENT_A", 0)))
      b.addData(Seq(ZxEvent(5000, "SENT_B", 0)))
      query.processAllAvailable()
      // One more batch advances the watermark past window 0 on both sides.
      a.addData(Seq(ZxEvent(6000, "SENT_A2", 0)))
      b.addData(Seq(ZxEvent(6000, "SENT_B2", 0)))
      query.processAllAvailable()
      assert(emitted().contains(("L", 0L, 2L, None)),
        "closed window must release the null-padded unmatched row")
    } finally query.stop()
  }

  test("three-way stream star join pairs all relations per (z, window)") {
    import graft.streaming.StreamingParity.ZxEvent
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val r0 = MemoryStream[ZxEvent]
    val r1 = MemoryStream[ZxEvent]
    val r2 = MemoryStream[ZxEvent]
    val query = StreamingParity.streamStarJoin(r0.toDS(), r1.toDS(), r2.toDS())
      .writeStream.format("memory").queryName("ss_star")
      .outputMode(OutputMode.Append()).start()
    try {
      // Window 0, key K: 2×1×2 = 4 star rows; key M missing from r2 → none.
      r0.addData(Seq(ZxEvent(10, "K", 1), ZxEvent(20, "K", 2), ZxEvent(30, "M", 3)))
      query.processAllAvailable()
      r1.addData(Seq(ZxEvent(40, "K", 10), ZxEvent(50, "M", 11)))
      query.processAllAvailable()
      r2.addData(Seq(ZxEvent(60, "K", 100), ZxEvent(70, "K", 101)))
      query.processAllAvailable()
      val got = s.table("ss_star").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
      val expected = for (xa <- Set(1L, 2L); xc <- Set(100L, 101L))
        yield ("K", 0L, xa, 10L, xc)
      assert(got === expected)
    } finally query.stop()
  }

  test("streaming near-dup guard drops same-fingerprint docs within the watermark") {
    import graft.streaming.StreamingParity.StreamDoc
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val input = MemoryStream[StreamDoc]
    val query = StreamingParity.streamingNearDupGuard(input.toDS())
      .writeStream.format("memory").queryName("neardup_guard")
      .outputMode(OutputMode.Append()).start()
    try {
      // Token-multiset permutations share the SimHash exactly → doc 1
      // drops. Doc 2 differs in most tokens → distinct fingerprint, kept.
      input.addData(Seq(
        StreamDoc(1000, 0, "alpha beta gamma delta"),
        StreamDoc(2000, 1, "delta gamma beta alpha"),
        StreamDoc(3000, 2, "completely different words here")))
      query.processAllAvailable()
      input.addData(Seq(StreamDoc(4000, 3, "alpha beta gamma delta")))
      query.processAllAvailable()
      val kept = s.table("neardup_guard").collect().map(_.getLong(0)).toSet
      assert(kept === Set(0L, 2L))
    } finally query.stop()
  }

  test("stream-static enrichment join broadcasts the dimension (stateless)") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    // The dimension-enrichment shape: every micro-batch joins against the
    // static relation with NO streaming state (broadcast per batch) — the
    // production pattern for attaching reference data to a 100 TB/day
    // stream without a stateful join.
    val dim = Seq((0, "us"), (1, "eu"), (2, "apac")).toDF("port", "region")
    val input = MemoryStream[PwEvent]
    val query = input.toDS().toDF()
      .join(org.apache.spark.sql.functions.broadcast(dim), Seq("port"))
      .select("word", "event_time", "region")
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(Seq(PwEvent(10, 0, "A"), PwEvent(20, 2, "B")))
      query.processAllAvailable()
      input.addData(Seq(PwEvent(30, 1, "C")))
      query.processAllAvailable()
      val got = s.table("enriched").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
      assert(got === Set(("A", 10L, "us"), ("B", 20L, "apac"), ("C", 30L, "eu")))
    } finally query.stop()
  }

  test("streaming count-product (Q4) converges to the batch star cardinality") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val input = MemoryStream[PwEvent]
    // Complete mode: the running per-key counts are exactly the
    // reference's cardinality state (HHJoin.scala:59-78), re-aggregated
    // by the engine each trigger.
    val query = graft.operators.RefQueries.q4CardinalityPlan(input.toDS().toDF())
      .writeStream.format("memory").queryName("q4_stream")
      .outputMode(OutputMode.Complete()).start()
    def table() = s.table("q4_stream").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    try {
      input.addData(Seq(PwEvent(10, 0, "A"), PwEvent(20, 0, "A"), PwEvent(30, 1, "A")))
      query.processAllAvailable()
      // Port 2 empty → zero product, exactly the batch semantics.
      assert(table() === Set(("A", 0L)))
      input.addData(Seq(PwEvent(40, 2, "A"), PwEvent(50, 2, "A"), PwEvent(60, 0, "B")))
      query.processAllAvailable()
      val all = Seq(
        PwEvent(10, 0, "A"), PwEvent(20, 0, "A"), PwEvent(30, 1, "A"),
        PwEvent(40, 2, "A"), PwEvent(50, 2, "A"), PwEvent(60, 0, "B"))
      val batch = graft.operators.RefQueries.q4CardinalityPlan(all.toDF())
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(table() === batch)
      assert(table() === Set(("A", 4L), ("B", 0L)))
    } finally query.stop()
  }

  test("windowed streaming cardinality emits each closed window's count product once") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val input = MemoryStream[PwEvent]
    val query = StreamingParity.q4WindowedCardinalityStream(input.toDS())
      .writeStream.format("memory").queryName("q4_windowed")
      .outputMode(OutputMode.Append()).start()
    try {
      // Window 0: A on ports (2,1,1) → card 2; B on port 0 only → card 0.
      // Window 1: A on port 0 → card 0. Sentinel closes windows 0 and 1.
      input.addData(batch1); query.processAllAvailable()
      input.addData(batch2); query.processAllAvailable()
      input.addData(sentinel); query.processAllAvailable()
      val got = s.table("q4_windowed").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(got.length === got.toSet.size, "duplicate emissions")
      assert(got.toSet === Set(("A", 0L, 2L), ("B", 0L, 0L), ("A", 1L, 0L)))
    } finally query.stop()
  }

  test("streaming output equals the batch form restricted to closed windows") {
    val s = spark
    import s.implicits._
    val all = batch1 ++ batch2 ++ sentinel
    val batch = StreamingParity.q2Batch(all.toDS()).as[Q2Result].collect().toSet
    // Watermark after the sentinel = 10_500 → every window ending ≤ 10_500
    // is closed; only the sentinel's own window (ltw 10) stays open.
    val closed = batch.filter(_.ltw < 10L)
    assert(closed === expectedClosed)
  }

  test("stream-static segment enrichment matches the batch join on closed windows") {
    import graft.streaming.StreamingParity.UserEvent
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val segments = Seq((1L, "gold"), (2L, "gold"), (3L, "silver"))
      .toDF("user_id", "segment") // user 4 absent: inner join drops it
    val slot = StreamingParity.SlotMs
    val b1 = Seq(
      UserEvent(slot + 10, 1, "e"), UserEvent(slot + 20, 2, "e"),
      UserEvent(slot + 30, 3, "e"), UserEvent(slot + 40, 4, "e"))
    val b2 = Seq(UserEvent(2 * slot + 10, 1, "e"), UserEvent(2 * slot + 20, 3, "e"))
    val sentinelB = Seq(UserEvent(5 * slot, 1, "e"))
    val input = MemoryStream[UserEvent]
    val query = StreamingParity.segmentWindowCounts(input.toDS(), segments)
      .writeStream.format("memory").queryName("seg_stream")
      .outputMode(OutputMode.Append()).start()
    val got = try {
      input.addData(b1); query.processAllAvailable()
      input.addData(b2); query.processAllAvailable()
      input.addData(sentinelB); query.processAllAvailable()
      s.table("seg_stream").collect()
        .map(r => (r.getAs[String]("segment"), r.getAs[Long]("ltw"),
          r.getAs[Long]("n_events"))).toSet
    } finally query.stop()
    val batch = StreamingParity
      .segmentWindowCountsBatch((b1 ++ b2 ++ sentinelB).toDS(), segments)
      .collect()
      .map(r => (r.getAs[String]("segment"), r.getAs[Long]("ltw"),
        r.getAs[Long]("n_events"))).toSet
    assert(got === batch.filter(_._2 < 5L)) // sentinel's own window stays open
    assert(got === Set(("gold", 1L, 2L), ("silver", 1L, 1L),
      ("gold", 2L, 1L), ("silver", 2L, 1L)))
  }

  test("online outliers flag against prefix moments, exactly as a driver fold") {
    import graft.streaming.StreamingParity.{MeasuredEvent, Flagged}
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    // user 1: a stable run of FIVE 10s (a single deviant among n−1
    // constants sits at z = sqrt(n−1), so 4 constants put the spike at
    // exactly 2 sigma — NOT flagged under the strict rule; 5 put it at
    // sqrt(5) sigma), then a spike of 100 in batch 2, then another 10
    // (not an outlier against the grown prefix). user 2: only two
    // constant events — zero variance, 0 > 0 never flags.
    val b1 = Seq(
      MeasuredEvent(100, 1, 10), MeasuredEvent(200, 1, 10),
      MeasuredEvent(300, 1, 10), MeasuredEvent(400, 1, 10),
      MeasuredEvent(450, 1, 10),
      MeasuredEvent(100, 2, 7), MeasuredEvent(200, 2, 7))
    val b2 = Seq(MeasuredEvent(500, 1, 100), MeasuredEvent(600, 1, 10))
    val input = MemoryStream[MeasuredEvent]
    val query = StreamingParity.outlierStream(input.toDS())
      .writeStream.format("memory").queryName("outlier_stream")
      .outputMode(OutputMode.Append()).start()
    val got = try {
      input.addData(b1); query.processAllAvailable()
      input.addData(b2); query.processAllAvailable()
      s.table("outlier_stream").as[Flagged].collect().toSet
    } finally query.stop()
    // Driver fold over the same (time, x)-sorted prefix.
    def fold(evs: Seq[MeasuredEvent]): Set[Flagged] = {
      val out = scala.collection.mutable.Set[Flagged]()
      evs.groupBy(_.user_id).foreach { case (u, es) =>
        var (n, sm, q) = (0L, 0L, 0L)
        es.sortBy(e => (e.event_time, e.x)).foreach { e =>
          n += 1; sm += e.x; q += e.x * e.x
          val dev = e.x * n - sm
          if (dev * dev > 4L * (n * q - sm * sm)) out += Flagged(u, e.event_time, e.x, n)
        }
      }
      out.toSet
    }
    assert(got === fold(b1 ++ b2))
    // The spike is flagged at arrival; the post-spike 10 is not.
    assert(got.exists(f => f.user_id == 1L && f.x == 100L))
    assert(!got.exists(f => f.user_id == 1L && f.event_time == 600L))
    assert(!got.exists(_.user_id == 2L))
  }

  test("streaming daily-active-users emits each closed day once, equal to batch") {
    import graft.streaming.StreamingParity.UserEvent
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val day = graft.operators.Analytics.DayMs
    // day 1: users 1,1,2 (dup collapses) → 2; day 2: users 2,3 → 2;
    // sentinel on day 4 closes them both (watermark 0 ms). Day 1, not
    // day 0: a day_ts of exactly epoch 0 collides with the initial
    // watermark value and the engine's late filter drops it — epoch 0
    // is a test artifact, not a production timestamp.
    val b1 = Seq(
      UserEvent(day + 10, 1, "e"), UserEvent(day + 20, 1, "e"),
      UserEvent(day + 30, 2, "e"))
    val b2 = Seq(UserEvent(2 * day + 10, 2, "e"), UserEvent(2 * day + 20, 3, "e"))
    val sentinelB = Seq(UserEvent(4 * day, 99, "e"))
    val input = MemoryStream[UserEvent]
    val query = StreamingParity.dailyActiveStream(input.toDS())
      .writeStream.format("memory").queryName("dau_stream")
      .outputMode(OutputMode.Append()).start()
    val got = try {
      input.addData(b1); query.processAllAvailable()
      input.addData(b2); query.processAllAvailable()
      input.addData(sentinelB); query.processAllAvailable()
      s.table("dau_stream").collect()
        .map(r => (r.getAs[Long]("day"), r.getAs[Long]("n_users")))
    } finally query.stop()
    assert(got.length === got.toSet.size, "duplicate day emissions")
    val batch = StreamingParity.dailyActiveBatch((b1 ++ b2 ++ sentinelB).toDS())
      .collect().map(r => (r.getAs[Long]("day"), r.getAs[Long]("n_users"))).toSet
    // Closed days only (the sentinel's own day stays open).
    assert(got.toSet === batch.filter(_._1 < 4L))
    assert(got.toSet === Set((1L, 2L), (2L, 2L)))
  }

  test("streaming funnel matches the batch funnel on in-order batches") {
    import graft.streaming.StreamingParity.{UserEvent, FunnelProgress}
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    // Intra-batch disorder (click arrives before its view in the batch;
    // the same-timestamp click/view tie for user 2 must admit the click,
    // per the batch >= contract); batch 2 is later in event time.
    val b1 = Seq(
      UserEvent(200, 1, "click"), UserEvent(100, 1, "view"),
      UserEvent(200, 1, "purchase"),
      UserEvent(100, 2, "click"), UserEvent(100, 2, "view"),
      UserEvent(300, 3, "view"),
      UserEvent(100, 4, "purchase"))
    val b2 = Seq(
      UserEvent(400, 3, "purchase"), UserEvent(500, 4, "view"),
      UserEvent(600, 2, "purchase"))
    val input = MemoryStream[UserEvent]
    val finalStages = withConfs(Harness.RocksDbStateStore) {
      val query = StreamingParity.funnelTransformWithState(input.toDS())
        .writeStream.format("memory").queryName("funnel_stream")
        .outputMode(OutputMode.Update()).start()
      try {
        input.addData(b1); query.processAllAvailable()
        input.addData(b2); query.processAllAvailable()
        // Stage is monotone per user, so the latest emission = the max.
        s.table("funnel_stream").as[FunnelProgress].collect()
          .groupBy(_.user_id).map { case (u, rs) => u -> rs.map(_.stage).max }
      } finally query.stop()
    }
    assert(finalStages === Map(1L -> 3L, 2L -> 3L, 3L -> 1L, 4L -> 1L))
    // Twin contract: cumulative stage counts equal the BATCH funnel run
    // over the same events written as a fixture.
    val dir = writeFixture(events = (b1 ++ b2).zipWithIndex.map { case (e, i) =>
      event(i.toLong, e.event_time, e.user_id, e.event_type)
    })
    val batchCounts = graft.operators.Analytics.funnel(spark, dir).collect()
      .map(r => r.getAs[Long]("stage") -> r.getAs[Long]("n_users")).toMap
    val streamCounts = (1L to 3L).map(st =>
      st -> finalStages.values.count(_ >= st).toLong).toMap
    assert(streamCounts === batchCounts)
  }

  test("late rows are counted by the watermark-drop metric, not silently lost") {
    // The reference logged every out-of-order violation it discarded
    // (MyStateJoinUtils.scala:44-45); the engine form is the
    // numRowsDroppedByWatermark counter. Plant a row behind the watermark
    // and assert it is (a) excluded from results and (b) counted dropped.
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val input = MemoryStream[PwEvent]
    val query = StreamingParity.q2WindowedAgg(Seq(input.toDF()))
      .writeStream.format("memory").queryName("q2_late")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(batch1); query.processAllAvailable()
      input.addData(sentinel); query.processAllAvailable() // watermark -> 10500
      val before = StreamingParity.rowsDroppedByWatermark(query)
      input.addData(Seq(PwEvent(100, 1, "LATE"))); query.processAllAvailable()
      val after = StreamingParity.rowsDroppedByWatermark(query)
      assert(after - before === 1L, "the late row must be counted dropped")
      val words = s.table("q2_late").select("word").as[String].collect().toSet
      assert(!words.contains("LATE"), "the late row must not reach results")
    } finally query.stop()
  }

  test("gap-fill stream synthesizes LOCF rows for silent hours via event-time timers") {
    import graft.streaming.StreamingParity.{GapRow, ZxEvent}
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    withConfs(Harness.RocksDbStateStore) {
      val input = MemoryStream[ZxEvent]
      val query = StreamingParity.gapFillStream(input.toDS(), 1000L)
        .writeStream.format("memory").queryName("gap_tws")
        .outputMode(OutputMode.Append()).start()
      try {
        // key a: slots 1, 2, then three silent slots, then slot 6;
        // key b: one event in slot 2 then silence — every later row of b
        //   must be timer-SYNTHESIZED (no input for b ever again).
        input.addData(Seq(ZxEvent(1500, "a", 5), ZxEvent(2500, "a", 3),
          ZxEvent(2200, "b", 10)))
        query.processAllAvailable()
        input.addData(Seq(ZxEvent(6500, "a", 7)))
        query.processAllAvailable()
        // sentinel advances the watermark to 9999 → slots ≤ 8 close
        input.addData(Seq(ZxEvent(9999, "zz", 1)))
        query.processAllAvailable()
        val got = s.table("gap_tws").as[GapRow].collect()
        assert(got.length === got.toSet.size, "duplicate emissions")
        assert(got.toSet === Set(
          GapRow("a", 1, 5, 0), GapRow("a", 2, 3, 0),
          GapRow("a", 3, 3, 1), GapRow("a", 4, 3, 1), GapRow("a", 5, 3, 1),
          GapRow("a", 6, 7, 0), GapRow("a", 7, 7, 1), GapRow("a", 8, 7, 1),
          GapRow("b", 2, 10, 0),
          GapRow("b", 3, 10, 1), GapRow("b", 4, 10, 1), GapRow("b", 5, 10, 1),
          GapRow("b", 6, 10, 1), GapRow("b", 7, 10, 1), GapRow("b", 8, 10, 1)))
      } finally query.stop()
    }
  }

  test("gap-fill stream sums an open hour's rows within and across micro-batches") {
    import graft.streaming.StreamingParity.{GapRow, ZxEvent}
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    withConfs(Harness.RocksDbStateStore) {
      val input = MemoryStream[ZxEvent]
      val query = StreamingParity.gapFillStream(input.toDS(), 1000L)
        .writeStream.format("memory").queryName("gap_sum")
        .outputMode(OutputMode.Append()).start()
      try {
        // key a: three rows in slot 1 (watermark → 1300, slot 1 open) ...
        input.addData(Seq(ZxEvent(1100, "a", 2), ZxEvent(1200, "a", 3),
          ZxEvent(1300, "a", 4)))
        query.processAllAvailable()
        // ... two more for the still-open slot 1 and one in slot 2; key b
        // first arrives here, two rows in slot 1 (watermark → 2500) ...
        input.addData(Seq(ZxEvent(1400, "a", 5), ZxEvent(1500, "a", 6),
          ZxEvent(2500, "a", 1), ZxEvent(1450, "b", 4), ZxEvent(1460, "b", 5)))
        query.processAllAvailable()
        // ... and two more for a's still-open slot 2
        input.addData(Seq(ZxEvent(2600, "a", 10), ZxEvent(2700, "a", 1)))
        query.processAllAvailable()
        // sentinel advances the watermark to 9999 → slots ≤ 8 close
        input.addData(Seq(ZxEvent(9999, "zz", 1)))
        query.processAllAvailable()
        val got = s.table("gap_sum").as[GapRow].collect()
        assert(got.length === got.toSet.size, "duplicate emissions")
        assert(got.toSet === Set(
          GapRow("a", 1, 20, 0), GapRow("a", 2, 12, 0),
          GapRow("a", 3, 12, 1), GapRow("a", 4, 12, 1), GapRow("a", 5, 12, 1),
          GapRow("a", 6, 12, 1), GapRow("a", 7, 12, 1), GapRow("a", 8, 12, 1),
          GapRow("b", 1, 9, 0),
          GapRow("b", 2, 9, 1), GapRow("b", 3, 9, 1), GapRow("b", 4, 9, 1),
          GapRow("b", 5, 9, 1), GapRow("b", 6, 9, 1), GapRow("b", 7, 9, 1),
          GapRow("b", 8, 9, 1)))
      } finally query.stop()
    }
  }

  test("gap-fill stream equals the batch spine on closed hours from each key's first hour") {
    import graft.streaming.StreamingParity.{GapRow, ZxEvent}
    import graft.operators.Analytics
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val slot = Analytics.GapFillSlotMs
    // Hour-scale fixture: two types with interleaved silence. Values are
    // integral so floor(value) is exact on both paths.
    val evs = Seq(
      event(1, slot * 1 + 5, 1, "click", 4.0),
      event(2, slot * 1 + 9, 2, "click", 2.0),
      event(3, slot * 3 + 1, 1, "view", 7.0),
      event(4, slot * 5 + 2, 2, "click", 1.0),
      event(5, slot * 8 + 3, 1, "view", 9.0))
    val dir = writeFixture(events = evs)
    val batch = Analytics.gapFill(spark, dir).collect()
      .map(r => GapRow(r.getAs[String]("z"), r.getAs[Long]("h"),
        r.getAs[Long]("filled_sum"), r.getAs[Long]("is_gap")))
    withConfs(Harness.RocksDbStateStore) {
      val input = MemoryStream[ZxEvent]
      val query = StreamingParity.gapFillStream(input.toDS(), slot)
        .writeStream.format("memory").queryName("gap_parity")
        .outputMode(OutputMode.Append()).start()
      try {
        input.addData(evs.map(e =>
          ZxEvent(e.ts.getTime, e.event_type, e.value.toLong)))
        query.processAllAvailable()
        // push the watermark past the batch spine's hi so every batch
        // hour closes on the stream side
        input.addData(Seq(ZxEvent(slot * 11, "zz", 1)))
        query.processAllAvailable()
        val hi = batch.map(_.h).max
        val firstHour = Map("click" -> 1L, "view" -> 3L)
        val got = s.table("gap_parity").as[GapRow].collect()
          .filter(g => g.z != "zz" && g.h <= hi).toSet
        // batch spine starts every key at the GLOBAL lo; the stream can
        // only start a key at its first arrival — parity from there on
        val want = batch.filter(g => g.h >= firstHour(g.z)).toSet
        assert(got === want)
        // and the leading rows the stream cannot know about are exactly
        // the batch's pre-first-arrival zero-fill gap rows
        assert(batch.filterNot(g => g.h >= firstHour(g.z))
          .forall(g => g.filled_sum == 0 && g.is_gap == 1))
      } finally query.stop()
    }
  }

  test("pack stream equals batch packSequences over the fixture corpus") {
    import graft.streaming.StreamingParity.{PackDoc, PackedDoc}
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    withConfs(Harness.RocksDbStateStore) {
    val sfDir = "/root/testdata/sf0.001"
    val docs = Tables.documents(s, sfDir)
      .select("doc_id", "source", "text").collect()
      .map(r => PackDoc(r.getLong(0), r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_.doc_id)
    val input = MemoryStream[PackDoc]
    val query = StreamingParity.packStream(input.toDS())
      .writeStream.format("memory").queryName("pack_parity")
      .outputMode(OutputMode.Update()).start()
    try {
      // Replay in doc_id order across THREE micro-batches — the running
      // totals must thread through the state store across triggers.
      val (b1, rest) = docs.splitAt(docs.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 2)
      Seq(b1, b2, b3).foreach { b =>
        input.addData(b.toSeq); query.processAllAvailable()
      }
      val got = s.table("pack_parity").as[PackedDoc].collect().toSet
      val want = graft.operators.Curation.packSequences(s, sfDir)
        .as[PackedDoc].collect().toSet
      assert(got === want)
      assert(got.size === docs.length, "exactly one packed row per doc")
    } finally query.stop()
    }
  }

  test("pack stream state survives a checkpointed restart (tok_start resumes)") {
    import graft.streaming.StreamingParity.{PackDoc, PackedDoc}
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    withConfs(Harness.RocksDbStateStore) {
    val ckpt = java.nio.file.Files.createTempDirectory("graft-pack-ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft-pack-out").toString
    val input = MemoryStream[PackDoc]
    def start() = StreamingParity.packStream(input.toDS())
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[PackedDoc], _: Long) =>
        df.write.mode("append").parquet(out); ()
      }
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Update()).start()
    // Incarnation 1: doc 1 (3 tokens) lands; the shard total becomes 3.
    val q1 = start()
    try { input.addData(Seq(PackDoc(1, 1, "web", "a b c"))); q1.processAllAvailable() }
    finally q1.stop()
    // Incarnation 2 (same checkpoint): doc 2 must start at the RESTORED
    // total 3 — a fresh processor without recovery would pack it at 0.
    val q2 = start()
    val rows = try {
      input.addData(Seq(PackDoc(2, 2, "web", "d e")))
      q2.processAllAvailable()
      s.read.parquet(out).as[PackedDoc].collect().toSeq
    } finally q2.stop()
    assert(rows.toSet === Set(
      PackedDoc(1, "web", 0, 3, 0, 0, 0),
      PackedDoc(2, "web", 0, 2, 3, 0, 3)))
    }
  }

  test("pack stream raises on an out-of-order doc instead of mispacking") {
    import graft.streaming.StreamingParity.PackDoc
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    withConfs(Harness.RocksDbStateStore) {
    val input = MemoryStream[PackDoc]
    val query = StreamingParity.packStream(input.toDS())
      .writeStream.format("memory").queryName("pack_ooo")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(Seq(PackDoc(5, 5, "web", "a b c")))
      query.processAllAvailable()
      // doc 4 arrives AFTER doc 5 in the same (source, shard): the
      // replay contract is violated — the packer must raise, not pack a
      // permutation the batch form would never produce.
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        input.addData(Seq(PackDoc(4, 4, "web", "d e")))
        query.processAllAvailable()
      }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Seq.empty else t +: causes(t.getCause)
      assert(causes(ex).exists(_.getMessage != null) &&
        causes(ex).exists(c => c.getMessage != null &&
          c.getMessage.contains("replay contract is violated")))
    } finally query.stop()
    }
  }

  test("pack stream absorbs an at-least-once replay of the most recent doc") {
    import graft.streaming.StreamingParity.{PackDoc, PackedDoc}
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    withConfs(Harness.RocksDbStateStore) {
    val input = MemoryStream[PackDoc]
    val query = StreamingParity.packStream(input.toDS())
      .writeStream.format("memory").queryName("pack_replay")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(Seq(PackDoc(5, 5, "web", "a b c")))
      query.processAllAvailable()
      // doc 5 delivered AGAIN (at-least-once source): equal doc_id is the
      // same doc — it was already packed, so the replay must emit nothing
      // and must NOT raise (r17 advisory: the raise-on-equal contradicted
      // the documented nondecreasing contract).
      input.addData(Seq(PackDoc(5, 5, "web", "a b c")))
      query.processAllAvailable()
      // and the stream keeps packing: doc 6 starts at the total doc 5
      // left (3 tokens), proving the replay advanced no state.
      input.addData(Seq(PackDoc(6, 6, "web", "d e")))
      query.processAllAvailable()
      val rows = s.sql("SELECT * FROM pack_replay")
        .as[PackedDoc].collect().toSeq
      assert(rows.size === 2)
      assert(rows.toSet === Set(
        PackedDoc(5, "web", 0, 3, 0, 0, 0),
        PackedDoc(6, "web", 0, 2, 3, 0, 3)))
    } finally query.stop()
    }
  }
}

object StreamingParitySpec {
  /** One (word, window)'s per-port counts in the per-window layout. */
  case class PortCounts(ports: Array[Int], counts: Array[Long])

  /** The layout before the word-bucket state: one `PortCounts` ValueState
    * per (word, window) key. Kept only to write a checkpoint of that
    * layout; nothing closes its windows.
    */
  class WindowValueStateQ2Processor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        (String, Long), (java.sql.Timestamp, String, Long, Int), Q2Result] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}

    @transient private var portCounts: ValueState[PortCounts] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      portCounts = getHandle.getValueState[PortCounts](
        "portCounts", Encoders.product[PortCounts], TTLConfig.NONE)

    override def handleInputRows(key: (String, Long),
        rows: Iterator[(java.sql.Timestamp, String, Long, Int)],
        timers: TimerValues): Iterator[Q2Result] = {
      val stored = portCounts.get() // null: first contact
      val counts = scala.collection.mutable.Map.from(
        if (stored == null) Nil else stored.ports.toSeq.zip(stored.counts))
      rows.foreach { case (_, _, _, port) => counts(port) = counts.getOrElse(port, 0L) + 1L }
      if (stored == null) getHandle.registerTimer((key._2 + 1) * StreamingParity.SlotMs)
      portCounts.update(PortCounts(counts.keys.toArray, counts.values.toArray))
      Iterator.empty
    }
  }


  /** The `portCounts` layout before the per-window ValueState: a MapState
    * of port -> count per (word, window) key. Kept only to write an
    * old-layout checkpoint; nothing closes its windows.
    */
  class MapStateQ2Processor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        (String, Long), (java.sql.Timestamp, String, Long, Int), Q2Result] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{MapState, TimeMode, TimerValues, TTLConfig}

    @transient private var counts: MapState[Int, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[Int, Long](
        "portCounts", Encoders.scalaInt, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: (String, Long),
        rows: Iterator[(java.sql.Timestamp, String, Long, Int)],
        timers: TimerValues): Iterator[Q2Result] = {
      if (!counts.exists()) getHandle.registerTimer((key._2 + 1) * StreamingParity.SlotMs)
      rows.foreach { case (_, _, _, port) =>
        counts.updateValue(port, (if (counts.containsKey(port)) counts.getValue(port) else 0L) + 1L)
      }
      Iterator.empty
    }
  }
}
