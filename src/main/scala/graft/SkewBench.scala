package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical skew-robustness bench — the measurement behind SURVEY §9's
  * claim that Catalyst's partial aggregation + AQE skew handling subsume
  * the reference's ~1.5 kLoC partitioner family (PKG/APK/dynamic-d/
  * DuplicateHH, cost model at
  * one-group-stateless/src/main/scala/partitioner/DPartitioner.scala:31-54).
  *
  * Generates twin fixtures — uniform keys vs one key holding ~50% of all
  * rows (harsher than any zipf exponent the reference models) — and times
  * the gated queries on both. The claim holds if skewed ≤ ~2× uniform:
  *   - q3_windowed_count / q4_star_cardinality: map-side partial
  *     aggregation bounds the shuffle at |keys|·|partitions| rows, so a
  *     50%-hot key costs at most the extra in-partition combining.
  *   - q3_windowed_count_salted: the explicit salting demo on the same
  *     fixture.
  *   - q4_star_join: join-side skew (one orderkey on 50% of lineitem, one
  *     custkey on 50% of orders) left to AQE's runtime skew-split.
  *
  * Prints one JSON line:
  *   {"metric":"skew_ratio_max", "value":…, "queries":{q:{"uniform":s,
  *    "skewed":s,"ratio":r}}, "rows":n}
  */
object SkewBench {

  private val DayMs = 86400000L
  private val Epoch = 1704067200000L // 2024-01-01, arbitrary fixed origin

  /** 997-key uniform event_type; skewed adds a hot key on every 2nd row. */
  private def eventTypeCol(skewed: Boolean) = {
    val tail = concat(lit("Z"), pmod(col("id") * 31L, lit(997L)))
    if (skewed) when(pmod(col("id"), lit(2L)) === 0L, lit("Z_HOT")).otherwise(tail)
    else tail
  }

  private def writeEvents(spark: SparkSession, dir: String, skewed: Boolean, n: Long): Unit =
    spark.range(n).select(
        col("id").as("event_id"),
        // Scatter deterministically over 30 one-day windows.
        timestamp_millis(lit(Epoch) + pmod(col("id") * 2654435761L, lit(30L * DayMs))).as("ts"),
        pmod(col("id"), lit(1000L)).as("user_id"),
        eventTypeCol(skewed).as("event_type"),
        pmod(col("id"), lit(100L)).cast("double").as("value"),
        lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

  /** User-keyed fixture for the event-analytics family (funnel/outliers/
    * retention/moving window): real event types, user_id uniform over
    * 1000 users vs one user holding ~50% of all rows. The moving window
    * is the interesting case — a RANGE frame is a per-key sort, which no
    * partial aggregation can split, so a 50%-hot user is the honest
    * worst case for windowed plans (AQE can split the skewed SHUFFLE
    * partition, but the frame itself is sequential per key).
    */
  private def writeUserEvents(spark: SparkSession, dir: String, skewed: Boolean, n: Long): Unit = {
    val types = array(Seq("view", "click", "purchase", "error", "signup").map(lit): _*)
    val uniformUid = pmod(col("id"), lit(1000L))
    val uid = if (skewed) when(pmod(col("id"), lit(2L)) === 0L, 0L).otherwise(uniformUid)
      else uniformUid
    spark.range(n).select(
        col("id").as("event_id"),
        timestamp_millis(lit(Epoch) + pmod(col("id") * 2654435761L, lit(30L * DayMs))).as("ts"),
        uid.as("user_id"),
        element_at(types, (pmod(col("id") * 13L, lit(5L)) + 1L).cast("int")).as("event_type"),
        pmod(col("id"), lit(100L)).cast("double").as("value"),
        lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  /** Star tables: lineitem 1:40 orders 1:10 customer. Skewed form puts one
    * orderkey on 50% of lineitem rows and one custkey on 50% of orders.
    */
  private def writeStar(spark: SparkSession, dir: String, skewed: Boolean, nLi: Long): Unit = {
    val nOrders = nLi / 40
    val nCust = math.max(nOrders / 10, 1L)
    val uniformOk = lit(1L) + pmod(col("id") * 2654435761L, lit(nOrders))
    val ok = if (skewed) when(pmod(col("id"), lit(2L)) === 0L, 1L).otherwise(uniformOk) else uniformOk
    spark.range(nLi).select(ok.as("l_orderkey"))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val uniformCk = lit(1L) + pmod(col("id") * 7L, lit(nCust))
    val ck = if (skewed) when(pmod(col("id"), lit(2L)) === 0L, 1L).otherwise(uniformCk) else uniformCk
    spark.range(nOrders).select((col("id") + 1L).as("o_orderkey"), ck.as("o_custkey"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    spark.range(nCust).select((col("id") + 1L).as("c_custkey"),
        concat(lit("SEG"), pmod(col("id"), lit(5L))).as("c_mktsegment"))
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
  }

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_SKEW_ROWS", "4000000").toLong
    val spark = Harness.session(32)

    val base = java.nio.file.Files.createTempDirectory("graft-skewbench").toString
    val dirs = Map("uniform" -> s"$base/uniform", "skewed" -> s"$base/skewed")
    dirs.foreach { case (kind, dir) =>
      val skewed = kind == "skewed"
      writeEvents(spark, dir, skewed, n)
      writeStar(spark, dir, skewed, n)
    }

    val queries = Seq(
      "q3_windowed_count", "q3_windowed_count_salted",
      "q3_windowed_count_salted_dynamic",
      "q4_star_cardinality", "q4_star_join").map(q => q -> SparkEntry.queries(q))
    // Warm EVERY timed query on BOTH fixtures, untimed: the uniform/skewed
    // comparison assumes equal cache state, so first-touch costs (file
    // listing, codegen) must not land inside any one timed cell.
    dirs.values.foreach(Harness.warm(spark, _, queries))

    val results = queries.map { case (q, fn) =>
      val u = Harness.minSeconds(3)(fn(spark, dirs("uniform")))
      val s = Harness.minSeconds(3)(fn(spark, dirs("skewed")))
      q -> (u, s)
    }
    val qs = results.map { case (q, (u, s)) =>
      f"""\"$q\":{\"uniform\":$u%.3f,\"skewed\":$s%.3f,\"ratio\":${s / u}%.3f}"""
    }.mkString("{", ",", "}")
    val maxRatio = results.map { case (_, (u, s)) => s / u }.max
    println(f"""{"metric":"skew_ratio_max","value":$maxRatio%.3f,"unit":"x","queries":$qs,"rows":$n}""")

    // ---- dynamic-d decomposition: stats pass vs salted aggregate ----
    // The dynamic twin = stats pass (a full (ltw, z) two-phase count
    // deriving each window's d) + the salted aggregate it feeds. The
    // static-salt twin above times the salted-agg shape alone (fixed
    // d, no stats pass), so timing the stats pass alone completes the
    // attribution of the twin's skewed/uniform ratio.
    val m = graft.EngineConfig.default.numMappers
    def statsPass(dir: String) = graft.operators.Salting.dynamicDRel(
      Shapes.withLtw(Shapes.zxEvents(spark, dir), Shapes.LogicTimeSlotMs), m)
    dirs.values.foreach(d => statsPass(d).count()) // same warm rule
    val su = Harness.minSeconds(3)(statsPass(dirs("uniform")))
    val ss = Harness.minSeconds(3)(statsPass(dirs("skewed")))
    println(f"""{"metric":"dynamic_d_stats_pass","uniform":$su%.3f,"skewed":$ss%.3f,"ratio":${ss / su}%.3f,"rows":$n}""")

    // ---- user-key skew over the event-analytics family ----
    val userDirs = Map("uniform" -> s"$base/user_uniform", "skewed" -> s"$base/user_skewed")
    userDirs.foreach { case (kind, dir) =>
      writeUserEvents(spark, dir, kind == "skewed", n)
    }
    val userQueries = Seq("a_funnel", "a_outliers", "a_retention",
      "a_moving_window", "a_moving_window_bucketed").map(q => q -> SparkEntry.queries(q))
    // Same warm-everything rule as above: each timed query touches both
    // fixtures once untimed before any timing starts.
    userDirs.values.foreach(Harness.warm(spark, _, userQueries))
    val userResults = userQueries.map { case (q, fn) =>
      val u = Harness.minSeconds(3)(fn(spark, userDirs("uniform")))
      val s = Harness.minSeconds(3)(fn(spark, userDirs("skewed")))
      q -> (u, s)
    }
    val uqs = userResults.map { case (q, (u, s)) =>
      f"""\"$q\":{\"uniform\":$u%.3f,\"skewed\":$s%.3f,\"ratio\":${s / u}%.3f}"""
    }.mkString("{", ",", "}")
    val userMax = userResults.map { case (_, (u, s)) => s / u }.max
    println(f"""{"metric":"user_skew_ratio_max","value":$userMax%.3f,"unit":"x","queries":$uqs,"rows":$n}""")

    // ---- connectedComponents strategy switch, measured both sides ----
    // Chain graph: ccN vertices in chains of 8 (the shallow-component
    // shape near-dup clusters take), so both strategies need the same
    // few pointer-jumped rounds. The broadcast side is the gated default
    // (vertex count ≪ BroadcastLabelLimit); forcing the limit to 0 runs
    // the identical loop through AQE shuffle joins — the only plan shape
    // that survives 10⁸+ labels. Equal label checksums prove the switch
    // changes the PLAN, never the answer (PropertySpec proves it on
    // random graphs; this measures the cost of the big-graph insurance).
    val ccN = sys.env.getOrElse("SPARK_GRAFT_CC_VERTICES", "1000000").toLong
    val chain = 8L
    val pairs = spark.range(ccN)
      .where(pmod(col("id"), lit(chain)) =!= 0L)
      .select(col("id").as("id_a"), (col("id") - 1L).as("id_b"))
    def ccChecksum(limit: Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val labels = graft.operators.Dedup.connectedComponents(pairs, limit)
      val sum = labels.agg(org.apache.spark.sql.functions.sum(col("comp")))
        .head().getLong(0)
      ((System.nanoTime() - t0) / 1e9, sum)
    }
    val (tB, sumB) = ccChecksum(Long.MaxValue) // broadcast side
    val (tS, sumS) = ccChecksum(0L)            // shuffle side
    require(sumB == sumS, s"strategy switch changed labels: $sumB != $sumS")
    println(f"""{"metric":"cc_shuffle_over_broadcast","value":${tS / tB}%.3f,"unit":"x","broadcast_sec":$tB%.3f,"shuffle_sec":$tS%.3f,"vertices":$ccN,"checksum_equal":true}""")
    spark.stop()
  }
}
