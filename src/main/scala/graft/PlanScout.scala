package graft

/** Dev tool behind PlanGuardSpec: plans every gated query (no execution)
  * and prints one line per query — shuffle-exchange count and the
  * presence of the two plan shapes the guard restricts (cartesian
  * product, broadcast nested-loop join). Output is the source of the
  * spec's pinned budgets; re-run after a plan change to see what moved.
  *
  * Usage: runMain graft.PlanScout [sfDir]
  */
object PlanScout {

  /** Shuffle exchanges in the (initial, pre-AQE) physical plan — the
    * deterministic planning-time count; broadcasts print as
    * BroadcastExchange and don't match. Same counting rule as
    * BucketingSpec/PlanGuardSpec.
    */
  def shuffles(plan: String): Int =
    "Exchange hashpartitioning".r.findAllIn(plan).length

  def initialPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val spark = Harness.session(32)
    Harness.select(None).foreach { case (name, fn) =>
      try {
        val p = initialPlan(fn(spark, sfDir))
        val flags = Seq(
          if (p.contains("CartesianProduct")) "CARTESIAN" else "",
          if (p.contains("BroadcastNestedLoopJoin")) "BNLJ" else "")
          .filter(_.nonEmpty).mkString(",")
        println(s"PLAN $name shuffles=${shuffles(p)} $flags")
      } catch {
        case e: Throwable => println(s"PLAN $name ERROR ${e.getClass.getSimpleName}: ${e.getMessage.take(120)}")
      }
    }
    spark.stop()
  }
}
