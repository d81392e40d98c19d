package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One timed region. All spans of one query execution or one trigger share
  * `id`; `parent` names the enclosing span of the same id ("" for a root).
  */
final case class Span(id: String, name: String, parent: String, startNs: Long, endNs: Long)

/** In-memory span recorder, written once at exit. Recording is on only in
  * traced runs and only while `enabled` is set.
  */
final class Tracer {
  @volatile var enabled = false
  private val spans = mutable.ArrayBuffer[Span]()

  def add(s: Span): Unit = if (enabled) spans.synchronized(spans += s)

  def span[T](id: String, name: String, parent: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally add(Span(id, name, parent, t0, System.nanoTime()))
  }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Seconds per span name, minus the time covered by its direct children. */
  def selfSeconds: Map[String, Double] = {
    val byId = all.groupBy(_.id)
    val out = mutable.LinkedHashMap[String, Double]()
    for ((_, group) <- byId; s <- group) {
      val kids = group.filter(_.parent == s.name)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        .filter(iv => iv._2 > iv._1).sortBy(_._1)
      var covered = 0L
      var curS = 0L
      var curE = -1L
      for ((a, b) <- kids) {
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      out(s.name) = out.getOrElse(s.name, 0.0) + (s.endNs - s.startNs - covered) / 1e9
    }
    out.toMap
  }

  def toJson: String = all.map { s =>
    Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs)
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Task, stage and job events from Spark's public listener bus, kept raw
  * so that totals can be taken over chosen wall-clock intervals (the bus
  * delivers events late, so a flag toggled by the workload would misfile
  * them).
  */
final class ExecListener extends SparkListener {
  import ExecListener.Task
  private val jobs = mutable.ArrayBuffer[Long]()
  private val stages = mutable.ArrayBuffer[Long]()
  private val tasks = mutable.ArrayBuffer[Task]()
  @volatile private var lastEventMs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += e.time; lastEventMs = System.currentTimeMillis()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += e.stageInfo.submissionTime.getOrElse(0L); lastEventMs = System.currentTimeMillis()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    val sr = m.shuffleReadMetrics
    tasks += Task(info.launchTime, e.stageId, m.executorRunTime, m.executorCpuTime,
      m.jvmGCTime,
      math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime),
      sr.remoteBytesRead + sr.localBytesRead, sr.recordsRead,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
    lastEventMs = System.currentTimeMillis()
  }

  /** Waits until the bus has been quiet for 300 ms (at most 5 s). */
  def settle(): Unit = {
    val end = System.currentTimeMillis() + 5000
    while (System.currentTimeMillis() - lastEventMs < 300 && System.currentTimeMillis() < end)
      Thread.sleep(20)
  }

  /** Totals over events that started inside one of the wall-clock
    * intervals `[fromMs, toMs)`, divided by `per`. The partition skew is
    * the median, over stages that read a shuffle, of max ÷ median
    * shuffle-read records per task (1 = even).
    */
  def totals(intervals: Seq[(Long, Long)], per: Double): Map[String, Double] = synchronized {
    def in(ms: Long) = intervals.exists { case (a, b) => ms >= a && ms < b }
    val ts = tasks.filter(t => in(t.launchMs))
    val skews = ts.groupBy(_.stage).values.map(_.map(_.readRecords.toDouble).toSeq)
      .filter(r => r.size > 1 && r.sum > 0)
      .map(r => r.max / math.max(1.0, Stats.median(r))).toSeq
    Map(
      "driver.jobs" -> jobs.count(in) / per,
      "driver.stages" -> stages.count(in) / per,
      "exec.tasks" -> ts.size / per,
      "exec.run_s" -> ts.map(_.runMs).sum / 1000.0 / per,
      "exec.cpu_s" -> ts.map(_.cpuNs).sum / 1e9 / per,
      "exec.gc_s" -> ts.map(_.gcMs).sum / 1000.0 / per,
      "exec.sched_delay_s" -> ts.map(_.schedDelayMs).sum / 1000.0 / per,
      "exec.shuffle_read_bytes" -> ts.map(_.readBytes).sum / per,
      "exec.shuffle_write_bytes" -> ts.map(_.writeBytes).sum / per,
      "exec.spill_bytes" -> ts.map(_.spillBytes).sum / per,
      "streaming.state_partition_skew" -> Stats.median(skews))
  }
}

object ExecListener {
  private final case class Task(launchMs: Long, stage: Int, runMs: Long, cpuNs: Long,
    gcMs: Long, schedDelayMs: Long, readBytes: Long, readRecords: Long,
    writeBytes: Long, spillBytes: Long)
}

/** Every progress report of every streaming query, in arrival order. */
final class ProgressListener extends StreamingQueryListener {
  private val buf = mutable.ArrayBuffer[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    buf.synchronized(buf += e.progress)

  def progress(runId: java.util.UUID): Seq[StreamingQueryProgress] =
    buf.synchronized(buf.filter(_.runId == runId).toList)

  /** Waits until the report of `batchId` has been delivered (the bus is
    * asynchronous).
    */
  def awaitBatch(runId: java.util.UUID, batchId: Long, timeoutMs: Long = 10000): Unit = {
    val end = System.currentTimeMillis() + timeoutMs
    while (!progress(runId).exists(_.batchId >= batchId) && System.currentTimeMillis() < end)
      Thread.sleep(5)
  }
}

object Stats {
  /** Linear-interpolated quantile (type 7) of unsorted values; 0 if empty. */
  def quantile(values: Seq[Double], q: Double): Double = {
    if (values.isEmpty) return 0.0
    val v = values.sorted.toIndexedSeq
    val h = (v.length - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, v.length - 1)
    v(lo) + (h - lo) * (v(hi) - v(lo))
  }
  def median(values: Seq[Double]): Double = quantile(values, 0.5)
}

/** Minimal JSON rendering for the record (numbers, strings, nested maps). */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): String = value(collection.immutable.ListMap(kv: _*))
}
