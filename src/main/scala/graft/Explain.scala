package graft

/** Dev tool: print the formatted physical plan and wall time of named
  * queries from SparkEntry.queries.
  *
  * Usage: runMain graft.Explain <name>[,<name>…] [sfDir]
  *
  * r18 measurement fixes (guide §1.4): timing forces every operator via
  * `queryExecution.toRdd.count()` — the same action Bench times — because
  * a bare `Dataset.count()` lets Catalyst prune columns/subtrees and
  * under-reports map-only queries. Three timed runs (Harness.time, split
  * into planning and execution) follow one untimed warmup (JIT + shared
  * CacheRegistry chains), mirroring Bench's warm-min methodology.
  * SPARK_GRAFT_PLAN_DIR=<dir> additionally writes each query's
  * `explain("formatted")` to `<dir>/<name>.txt`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Harness.session(32)
    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    planDir.foreach(d => new java.io.File(d).mkdirs())
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val df = fn(spark, sfDir)
      planDir match {
        case Some(d) =>
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$d/$name.txt"), txt)
          println(s"[explain] $name plan -> $d/$name.txt")
        case None => df.explain("formatted")
      }
      Harness.warm(spark, sfDir, Seq(name -> fn))
      val times = (1 to 3).map { i =>
        val t = Harness.time(fn(spark, sfDir)).fold(throw _, identity)
        println(f"[explain] $name run $i: ${t.totalS}%.3f s " +
          f"(plan ${t.planS}%.3f, exec ${t.execS}%.3f), ${t.rows} rows")
        t.totalS
      }
      println(f"[explain] $name min: ${times.min}%.3f s")
    }
    spark.stop()
  }
}
