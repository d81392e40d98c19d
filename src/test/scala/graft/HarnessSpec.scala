package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.LongType

/** The shared session contract and query runner of [[Harness]]. The
  * session under test is a NEW session on the suite's SparkContext (the
  * shared one is set aside while Harness.session runs), so the graft
  * functions resolve only if Harness registered them, and no conf leaks
  * into the other suites' shared session.
  */
class HarnessSpec extends SparkSpec {

  private val defaultCpus = 3
  private val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)

  private def withHarnessSession(f: SparkSession => Unit): Unit = {
    val shared = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = Harness.session(defaultCpus)
      assert(s ne shared, "Harness.session must build a new session here")
      f(s)
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  test("session: partitions equal cpus, UTC, nanosAsLong, cached-plan repartition, poly_hash") {
    withHarnessSession { s =>
      assert(s.conf.get("spark.sql.shuffle.partitions") === cpus)
      assert(s.conf.get("spark.sql.session.timeZone") === "UTC")
      assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
      assert(s.conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") === "true")
      val h = s.sql("SELECT poly_hash('abc') AS h")
      assert(h.schema("h").dataType === LongType)
      assert(h.collect().length === 1)
    }
  }

  test("time: a frame build that throws is an error, not a time") {
    val r = Harness.time(throw new IllegalStateException("frame build failed"))
    assert(r.left.map(_.getMessage) === Left("frame build failed"))
  }

  test("time: splits planning from execution and counts rows") {
    val t = Harness.time(spark.range(10).toDF()).fold(throw _, identity)
    assert(t.rows === 10L)
    assert(t.planS >= 0.0 && t.execS >= 0.0)
    assert(t.totalS === t.planS + t.execS)
  }

  test("select: comma-separated subset in fixed name order; None selects all") {
    val names = Harness.select(Some(" q3_windowed_count,q1_min_count_per_port ,")).map(_._1)
    assert(names === Seq("q1_min_count_per_port", "q3_windowed_count"))
    val all = Harness.select(None).map(_._1)
    assert(all === SparkEntry.queries.keys.toSeq.sorted)
  }
}
