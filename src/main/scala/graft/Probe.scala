package graft
/** Dev tool (r18): interleaved A/B of one session conf inside ONE JVM —
  * two sibling sessions (separate CacheRegistry namespaces via
  * identityHashCode; the ON session sets `key=value`, the off session
  * keeps the session default), alternating timed runs so bursty external
  * host load hits both arms equally. This is the harness that produced
  * the keep/revert verdicts in OPTIMIZATION_r18.md: on a machine whose
  * steal time swings 0–10 %+, sequential A-then-B comparisons of
  * sub-second effects are meaningless, while per-round interleaving plus
  * min-over-rounds isolates the plan difference.
  * Usage: runMain graft.Probe <q1,q2,...> <rounds> <key=value>.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    require(args.length == 3 && args(2).contains("="),
      "usage: graft.Probe <q1,q2,...> <rounds> <key=value>")
    val queries = args(0).split(",").toSeq
    val rounds = args(1).toInt
    val Array(key, v) = args(2).split("=", 2)
    val root = Harness.session(32)
    val on = root.newSession()
    val off = root.newSession()
    on.conf.set(key.trim, v.trim)
    Seq(on, off).foreach(GraftExtensions.register)
    val sf = "/root/testdata/sf0.1"
    val selected = queries.map(q => q -> SparkEntry.queries(q))
    val mins = scala.collection.mutable.Map[(String, String), Double]()
    // untimed warmup: build both arms' registry chains
    Seq(on, off).foreach(Harness.warm(_, sf, selected))
    for (r <- 1 to rounds; (q, fn) <- selected; (s, tag) <- Seq((on, "on"), (off, "off"))) {
      val dt = Harness.minSeconds(1)(fn(s, sf))
      println(f"PROBE $q $tag round$r $dt%.2f s")
      val k = (q, tag)
      mins(k) = math.min(mins.getOrElse(k, Double.MaxValue), dt)
    }
    for (q <- queries)
      println(f"PROBE-MIN $q (${args(2)}) on=${mins((q, "on"))}%.2f off=${mins((q, "off"))}%.2f")
    root.stop()
  }
}
