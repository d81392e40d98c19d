package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GeneratorSpec extends AnyFunSuite {
  private def pwBytes(seed: Long, hot: Double): Seq[String] = {
    val g = new PwGen(seed, 200, hot, 100)
    (0 until 50).flatMap(_ => g.tick(200))
  }

  test("the same seed gives byte-identical wire data") {
    assert(pwBytes(7, 0.5) == pwBytes(7, 0.5))
    assert(pwBytes(7, 0.5) != pwBytes(8, 0.5))
  }

  test("event_time is non-decreasing per port") {
    val msgs = pwBytes(3, 0.0)
    val byPort = msgs.flatMap(_.split(";")).map(_.split(" "))
      .groupBy(_(1)).map { case (p, rs) => p -> rs.map(_(0).toLong) }
    assert(byPort.keySet == Wire.Ports.map(_.toString).toSet)
    byPort.values.foreach(ts => assert(ts == ts.sorted))
  }

  test("the hot word's share is within tolerance of 50%") {
    val words = pwBytes(11, 0.5).flatMap(_.split(";")).map(_.split(" ")(2))
    val share = words.count(_ == Wire.word(0)).toDouble / words.size
    assert(math.abs(share - 0.5) < 0.02, s"hot share $share")
    val uniform = pwBytes(11, 0.0).flatMap(_.split(";")).map(_.split(" ")(2))
    assert(uniform.count(_ == Wire.word(0)).toDouble / uniform.size < 0.02)
  }

  test("the event log matches the wire data") {
    val g = new PwGen(5, 200, 0.5, 100)
    val wire = (0 until 10).flatMap(_ => g.tick(30)).flatMap(_.split(";"))
    assert(g.events.map(e => s"${e.event_time} ${e.port} ${e.word}") == wire)
  }

  test("the late-by-schedule time of each tick is recorded") {
    val offered = new java.util.concurrent.atomic.AtomicInteger
    val ticks = (0 until 20).map(i => () => {
      if (i == 5) Thread.sleep(60) // one slow offer makes the next ticks late
      offered.incrementAndGet(); ()
    })
    val f = new OpenLoopFeeder(ticks, 5)
    f.start(); f.join()
    assert(offered.get == 20)
    assert(f.lagMs.size == 20)
    assert(f.lagMs.forall(_ >= 0))
    assert(f.lagMs(6) >= 40, s"lag after a slow offer: ${f.lagMs(6)}")
    assert(Stats.quantile(f.lagMs.toSeq, 0.99) >= 40)
  }
}
