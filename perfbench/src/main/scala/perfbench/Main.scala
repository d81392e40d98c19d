package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** What one workload run reports. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  /** Why outputs were judged wrong; empty when every check passed. */
  val problems = mutable.ArrayBuffer[String]()
  /** Set-up time of the workload (median over its repetitions), each
    * repetition from session start until timing can start.
    */
  var setupS = 0.0
  val endToEnd = mutable.LinkedHashMap[String, Double]()
  val perLayer = mutable.LinkedHashMap[String, Double]()
  val info = mutable.LinkedHashMap[String, Any]()

  def fail(why: String): Unit = { failed += 1; problems += why }

  /** Seconds since JVM start at the end of each phase of the run. */
  val phaseEndS = mutable.LinkedHashMap[String, Double]()
  def phaseEnd(name: String): Unit = phaseEndS(name) = (System.currentTimeMillis() -
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
}

/** Everything a workload needs from the command line and the session. */
final class Ctx(val workload: String, val seed: Long, val seconds: Int,
    val trace: Boolean, val root: Path, val cores: Int) {
  val work: Path = root.resolve("work")
  val tracer = new Tracer
  val exec = new ExecListener
  var spark: SparkSession = _

  /** Runs `body` with the tracer on and the task listener attached when
    * `on` is set, and without either otherwise. The listener is detached
    * once the listener bus has delivered the body's events.
    */
  def traced[T](on: Boolean)(body: => T): T = {
    if (!on) return body
    spark.sparkContext.addSparkListener(exec)
    tracer.enabled = true
    try body
    finally {
      tracer.enabled = false
      exec.settle()
      spark.sparkContext.removeSparkListener(exec)
    }
  }

  def session(master: String): SparkSession = {
    if (spark != null) spark.stop()
    val parts = master.stripPrefix("local[").stripSuffix("]")
    spark = SparkSession.builder()
      .master(master)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftExtensions.register(spark)
    spark
  }
}

/** `perfbench.Main --workload W --seed N --seconds S --trace 0|1 --root DIR`
  *
  * Runs one workload and writes its full record to
  * `DIR/results/<workload>-seed<N>-trace<T>.json` (spans next to it in
  * traced runs). The last stdout line is `PERFBENCH_RESULT <json>`, which
  * run.py turns into the benchmark's summary line.
  *
  * `perfbench.Main --dump-oracles FILE` writes the oracle SQL of the
  * batch workload's queries as JSON (used by record_oracles.py).
  */
object Main {
  val Workloads: Seq[String] = Seq("batch_gated", "stream_group_uniform", "stream_group_hot")

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--dump-oracles")) {
      val sql = graft.SparkEntry.oracleSql
      Files.write(Paths.get(argv(1)), Json.value(collection.immutable.ListMap(
        BatchBench.Queries.map(q => q -> sql(q)): _*)).getBytes(UTF_8))
      return
    }
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val cores = math.max(1, math.min(3, Runtime.getRuntime.availableProcessors() - 1))
    val ctx = new Ctx(workload, a("seed").toLong, a("seconds").toInt,
      a("trace") == "1", Paths.get(a("root")).toAbsolutePath, cores)
    Files.createDirectories(ctx.work.resolve("tmp"))
    // JVM start to here: class loading before the first session. It is
    // recorded but not part of setup_s, which repeats within the run.
    val jvmStartS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val out = new Outcome
    try {
      workload match {
        case "batch_gated" => BatchBench.run(ctx, out)
        case "stream_group_uniform" => StreamBench.run(ctx, out, hotShare = 0.0)
        case "stream_group_hot" => StreamBench.run(ctx, out, hotShare = 0.5)
      }
    } catch {
      case t: Throwable =>
        t.printStackTrace()
        out.fail(s"run threw ${t.getClass.getName}: ${t.getMessage}")
        out.attempted = math.max(1, out.attempted)
    }
    out.endToEnd("setup_s") = out.setupS
    out.endToEnd("peak_rss_mb") = peakRssMb()
    if (ctx.trace) {
      ctx.tracer.selfSeconds.toSeq.sortBy(_._1).foreach { case (n, s) =>
        out.info(s"self_s.$n") = s }
    }
    if (ctx.spark != null) ctx.spark.stop()
    write(ctx, out, jvmStartS)
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) return 0.0
    val line = new String(Files.readAllBytes(status), UTF_8).linesIterator
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def write(ctx: Ctx, out: Outcome, jvmStartS: Double): Unit = {
    val results = ctx.root.resolve("results")
    Files.createDirectories(results)
    val stem = s"${ctx.workload}-seed${ctx.seed}-trace${if (ctx.trace) 1 else 0}"
    val spansPath = results.resolve(s"$stem-spans.json")
    if (ctx.trace) Files.write(spansPath, ctx.tracer.toJson.getBytes(UTF_8))
    val record = Json.obj(
      "workload" -> ctx.workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "trace" -> ctx.trace, "cores" -> ctx.cores,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> org.apache.spark.SPARK_VERSION,
      "attempted" -> out.attempted, "failed" -> out.failed,
      "problems" -> out.problems.toList,
      "jvm_start_s" -> jvmStartS,
      "end_to_end" -> out.endToEnd, "per_layer" -> out.perLayer,
      "phase_end_s" -> out.phaseEndS,
      "info" -> out.info,
      "spans" -> (if (ctx.trace) spansPath.toString else ""))
    val recordPath = results.resolve(s"$stem.json")
    Files.write(recordPath, (record + "\n").getBytes(UTF_8))
    println("PERFBENCH_RESULT " + Json.obj(
      "attempted" -> out.attempted, "failed" -> out.failed,
      "problems" -> out.problems.take(20).toList,
      "end_to_end" -> out.endToEnd, "per_layer" -> out.perLayer,
      "record" -> recordPath.toString))
  }
}
