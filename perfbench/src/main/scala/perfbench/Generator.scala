package perfbench

import scala.collection.mutable

/** Seeded generator of the reference wire format (FIXTURES.md §1).
  *
  * Time is cut into ticks. Tick `j` holds events whose `event_time` is the
  * tick's scheduled creation time on the generator's logical clock:
  * `BaseMs + j * tickLogicalMs`. The clock is logical so that the same
  * seed gives byte-identical wire data; the open-loop feeder offers tick
  * `j` at wall time `start + j * tickWallMs` and records how late it was.
  * Ticks are generated strictly in order, so every port sees
  * non-decreasing event times (the reference's in-order assumption).
  */
object Wire {
  /** Logical epoch of tick 0, kept off epoch zero (a zero event time
    * collides with the initial watermark). A multiple of the window, so
    * every window holds the same number of ticks.
    */
  val BaseMs: Long = 1000000000L
  /** The reference port ladder start,step = 10105,2 (stream.json); three
    * ports, StreamingParity.PortsNum.
    */
  val Ports: Array[Int] = Array(10105, 10107, 10109)
  /** Records per `;`-joined message. */
  val RecordsPerMessage: Int = 100

  def word(i: Int): String = f"w$i%04d"

  /** Joins `n` rendered records into messages of RecordsPerMessage. */
  private[perfbench] def frame(n: Int)(record: Int => String): Array[String] = {
    val out = new Array[String]((n + RecordsPerMessage - 1) / RecordsPerMessage)
    val sb = new java.lang.StringBuilder
    var m = 0
    var i = 0
    while (i < n) {
      sb.append(record(i))
      i += 1
      if (i % RecordsPerMessage == 0 || i == n) {
        out(m) = sb.toString; m += 1; sb.setLength(0)
      } else sb.append(';')
    }
    out
  }
}

/** `"ts port word"` records for Q2. A `hotShare` of the rows go to word 0;
  * the rest are uniform over words 1..words-1 (all words when hotShare is 0).
  */
final class PwGen(seed: Long, val words: Int, val hotShare: Double, val tickLogicalMs: Long) {
  private val rnd = new java.util.SplittableRandom(seed)
  private var nextTick = 0L
  // Event log for the batch contract and the emit-latency lookup.
  private val eventTime = mutable.ArrayBuilder.make[Long]
  private val port = mutable.ArrayBuilder.make[Int]
  private val wordIdx = mutable.ArrayBuilder.make[Int]
  /** (word, ltw) -> tick of the last event that contributes to it. */
  val lastTick = new mutable.HashMap[(Int, Long), Long]

  def ticksGenerated: Long = nextTick

  /** The messages of the next tick, which holds `events` events. */
  def tick(events: Int): Array[String] = {
    val j = nextTick
    nextTick += 1
    val ts = Wire.BaseMs + j * tickLogicalMs
    val ltw = ts / graft.streaming.StreamingParity.SlotMs
    Wire.frame(events) { _ =>
      val w =
        if (hotShare > 0 && rnd.nextDouble() < hotShare) 0
        else if (hotShare > 0) 1 + rnd.nextInt(words - 1)
        else rnd.nextInt(words)
      val p = Wire.Ports(rnd.nextInt(Wire.Ports.length))
      eventTime += ts; port += p; wordIdx += w
      lastTick((w, ltw)) = j
      s"$ts $p ${Wire.word(w)}"
    }
  }

  def events: Seq[graft.streaming.StreamingParity.PwEvent] = {
    val (ts, ps, ws) = (eventTime.result(), port.result(), wordIdx.result())
    ts.indices.map(i => graft.streaming.StreamingParity.PwEvent(ts(i), ps(i), Wire.word(ws(i))))
  }
}

/** Offers ticks on a fixed wall schedule from one thread. The schedule
  * never waits for the consumer (open loop); how late each tick went out
  * is recorded.
  */
final class OpenLoopFeeder(ticks: IndexedSeq[() => Unit], tickWallMs: Long) {
  val lagMs = new mutable.ArrayBuffer[Double]
  @volatile var startNanos = 0L
  private val thread = new Thread(() => run(), "perfbench-generator")
  thread.setDaemon(true)

  private def run(): Unit = {
    var j = 0
    while (j < ticks.length) {
      val due = startNanos + j * tickWallMs * 1000000L
      var now = System.nanoTime()
      while (now < due) {
        val ms = (due - now) / 1000000L
        if (ms > 0) Thread.sleep(ms) else Thread.onSpinWait()
        now = System.nanoTime()
      }
      ticks(j)()
      lagMs += (System.nanoTime() - due) / 1e6
      j += 1
    }
  }

  def start(): Unit = { startNanos = System.nanoTime(); thread.start() }
  def join(): Unit = thread.join()
  /** Wall time (nanoTime) at which tick `j` was due. */
  def dueNanos(j: Long): Long = startNanos + j * tickWallMs * 1000000L
}
