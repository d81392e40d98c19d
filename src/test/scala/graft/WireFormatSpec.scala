package graft

import graft.sources.WireFormat
import org.apache.spark.sql.functions._

class WireFormatSpec extends SparkSpec {

  test("port-word wire parsing: `;`-joined records, reference format") {
    val s = spark
    import s.implicits._
    val raw = Seq("1001 0 A;1002 1 A;1003 0 B", "2004 2 A;").toDS()
    val got = rows(WireFormat.parsePortWord(raw))
    assert(got === Set(
      Seq(1001L, 0, "A"), Seq(1002L, 1, "A"), Seq(1003L, 0, "B"),
      Seq(2004L, 2, "A")))
  }

  test("strict parsing routes malformed segments to the reject relation") {
    val s = spark
    import s.implicits._
    val raw = Seq(
      "10 0 alpha;1 2",            // second segment: missing word
      "20 notanint beta;30 1 ok",  // first segment: non-numeric port
      "40 2 gamma extra;;50 0 d"   // first segment: 4 fields; blank drops
    ).toDS()
    val (good, rejects) = WireFormat.parsePortWordWithRejects(raw)
    assert(rows(good) === Set(
      Seq(10L, 0, "alpha"), Seq(30L, 1, "ok"), Seq(50L, 0, "d")))
    assert(rows(rejects) === Set(
      Seq("1 2"), Seq("20 notanint beta"), Seq("40 2 gamma extra")))
    // The permissive parser would have NULLed, not dropped — the strict
    // split conserves every non-blank segment exactly once.
    assert(good.count() + rejects.count() === 6)
  }

  test("wire batches parse identically from a text-file source") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-wire-text").toString
    Seq("1001 0 A;1002 1 A", "2004 2 B;").toDF("value")
      .write.mode("overwrite").text(dir)
    val got = rows(WireFormat.parsePortWord(s.read.text(dir).as[String]))
    assert(got === Set(Seq(1001L, 0, "A"), Seq(1002L, 1, "A"), Seq(2004L, 2, "B")))
  }

  test("events from CSV run the same Q1 plan as parquet") {
    val s = spark
    import s.implicits._
    // Format breadth: the loaders are plans over relations, not formats —
    // the same shape adapter + Q1 plan runs over a CSV copy of events.
    val sfDir = "/root/testdata/sf0.001"
    val csvDir = java.nio.file.Files.createTempDirectory("graft-events-csv").toString
    val ev = Shapes.portWordEvents(s, sfDir)
    ev.write.mode("overwrite").option("header", "true").csv(csvDir)
    val fromCsv = s.read.option("header", "true")
      .schema("event_time LONG, port INT, word STRING").csv(csvDir)
    assert(rows(graft.operators.RefQueries.q1Plan(fromCsv)) ===
      rows(graft.operators.RefQueries.q1Plan(ev)))
  }

  test("documents from JSON lines run the same dedup plan as parquet") {
    val s = spark
    import s.implicits._
    // Format breadth, document side: a JSONL copy of the documents table
    // feeds the same fingerprint-groupBy dedup logic (the operators are
    // plans over relations; only the scan differs). Spark's JSON reader
    // with an explicit schema is the 100 TB shape (schema inference would
    // be a second full scan).
    val dir = writeFixture(documents = Seq(
      doc(0, "same text"), doc(1, "same text"), doc(2, "other text")))
    val jsonDir = java.nio.file.Files.createTempDirectory("graft-docs-json").toString
    graft.Tables.documents(s, dir).write.mode("overwrite").json(jsonDir)
    val fromJson = s.read
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .json(jsonDir)
    val dedupOverJson = fromJson
      .select(col("doc_id"), graft.functions.TextHashOps.polyHash(col("text")).as("fp"))
      .groupBy("fp")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dup_cnt"))
      .select("keep_id", "dup_cnt")
    assert(rows(dedupOverJson) === rows(graft.operators.Dedup.exactDedup(s, dir)))
    assert(rows(dedupOverJson) === Set(Seq(0L, 2L), Seq(2L, 1L)))
  }

  test("keyed zx wire parsing: relation id from the message key") {
    val s = spark
    import s.implicits._
    val raw = Seq(("0", "1001 AAA 999;1002 BBB 5"), ("2", "1003 AAA 3")).toDS()
    val got = rows(WireFormat.parseKeyedZx(raw))
    assert(got === Set(
      Seq(1001L, 0, "AAA", 999L), Seq(1002L, 0, "BBB", 5L),
      Seq(1003L, 2, "AAA", 3L)))
  }

  test("wire-parsed stream feeds q1 semantics end to end") {
    val s = spark
    import s.implicits._
    val raw = Seq("1 0 A;2 0 A;3 1 A;4 2 B").toDS()
    val got = WireFormat.parsePortWord(raw)
      .groupBy("word", "port").agg(count(lit(1)).as("cnt"))
      .groupBy("word").agg(min("cnt").as("min_cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("A" -> 1L, "B" -> 1L))
  }

  test("raw wire stream → parse → windowed Q2: the reference pipeline end to end") {
    import graft.streaming.StreamingParity
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val input = MemoryStream[String]
    val parsed = WireFormat.parsePortWord(input.toDS())
    val query = StreamingParity.q2WindowedAgg(Seq(parsed))
      .writeStream.format("memory").queryName("q2_wire")
      .outputMode(OutputMode.Append()).start()
    try {
      // Window 0 complete for A (ports 0,1,2), incomplete for B; sentinel
      // closes it.
      input.addData("10 0 A;20 0 A;30 1 A;40 2 A;50 0 B;60 1 B")
      query.processAllAvailable()
      input.addData("10500 0 SENTINEL")
      query.processAllAvailable()
      val got = s.table("q2_wire").as[StreamingParity.Q2Result].collect().toSet
      assert(got === Set(
        StreamingParity.Q2Result("A", 0L, 1L),
        StreamingParity.Q2Result("B", 0L, 0L)))
    } finally query.stop()
  }

  test("codegen quantize == interpreted transform quantize") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(3)
    val df = Seq.fill(40)(Array.fill(16)((rnd.nextFloat() - 0.5f) * 2f)).toDF("v")
    val diff = df.select(
        graft.functions.VectorOps.quantize(col("v")).as("kernel"),
        expr(graft.functions.Parity.quantizeSpark("v")).as("hof"))
      .where(col("kernel") =!= col("hof"))
    assert(diff.count() === 0)
  }
}
