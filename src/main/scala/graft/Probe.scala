package graft
/** Dev tool (r18): interleaved A/B of the Par.widen flag inside ONE JVM —
  * two sibling sessions (separate CacheRegistry namespaces via
  * identityHashCode; the `off` session sets `spark.graft.par.widen=off`),
  * alternating timed runs so bursty external host load hits both arms
  * equally. This is the harness that produced the keep/revert verdicts in
  * OPTIMIZATION_r18.md: on a machine whose steal time swings 0–10 %+,
  * sequential A-then-B comparisons of sub-second effects are meaningless,
  * while per-round interleaving plus min-over-rounds isolates the plan
  * difference. Usage: runMain graft.Probe <q1,q2,...> [rounds=4] [flag].
  * `flag` is the session conf the off-arm disables (default
  * spark.graft.par.widen; pass spark.graft.par.rightsize to A/B the
  * persist-time exchange instead).
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val queries = if (args.nonEmpty) args(0).split(",").toSeq
      else Seq("g_dup_triangles", "g_dup_triangles_simhash")
    val rounds = if (args.length > 1) args(1).toInt else 4
    val flag = if (args.length > 2) args(2) else "spark.graft.par.widen"
    val root = Harness.session(32)
    val on = root.newSession()
    val off = root.newSession()
    // flag forms: "conf.key" — the off arm sets it to the literal "off"
    // (the graft kill switches); "conf.key=value" — the ON arm sets
    // key=value and the off arm keeps the session default (A/B of an
    // arbitrary session conf, e.g. join-strategy preferences).
    if (flag.contains("=")) {
      val Array(key, v) = flag.split("=", 2)
      on.conf.set(key.trim, v.trim)
    } else off.conf.set(flag, "off")
    Seq(on, off).foreach(GraftExtensions.register)
    val sf = "/root/testdata/sf0.1"
    val selected = queries.map(q => q -> SparkEntry.queries(q))
    val mins = scala.collection.mutable.Map[(String, String), Double]()
    // untimed warmup: build both arms' registry chains
    Seq(on, off).foreach(Harness.warm(_, sf, selected))
    for (r <- 1 to rounds; (q, fn) <- selected; (s, tag) <- Seq((on, "on"), (off, "off"))) {
      val dt = Harness.minSeconds(1)(fn(s, sf))
      println(f"PROBE $q $tag round$r $dt%.2f s")
      val key = (q, tag)
      mins(key) = math.min(mins.getOrElse(key, Double.MaxValue), dt)
    }
    for (q <- queries)
      println(f"PROBE-MIN $q ($flag) on=${mins((q, "on"))}%.2f off=${mins((q, "off"))}%.2f")
    root.stop()
  }
}
