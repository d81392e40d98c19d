package graft.operators

import graft.{Shapes, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference engine's four query shapes (SURVEY.md §2.1), re-expressed
  * as declarative Spark SQL plans. Every hand-rolled two-phase aggregation
  * in the reference (partial/final `mapPartitions` + explicit
  * `partitionBy`, e.g. stateless/cluster/PartialKeyJoin.scala:51-82)
  * becomes a plain `groupBy` — Catalyst's HashAggregateExec plans the
  * partial/final split and the map-side combine automatically, which is
  * also what absorbs the key skew the reference needed its PKG/APK
  * partitioners for: the shuffle after a partial aggregate carries at most
  * |keys|×|groups| rows per input partition regardless of input skew.
  *
  * All window ids are integer `event_time div slot` (reference
  * `ltw = ts / logic_time_slot`, state/cluster/naive/HashJoin.scala:50) so
  * the DuckDB oracle agrees bit-for-bit. The heavy-hitter threshold
  * `share > 0.2/m` with m = 12 (stream.json:6;
  * one-group-stateless/cluster/APKGrouping.scala:94-100) is rewritten as
  * the integer predicate `cnt * 60 > total` — no floating point in the
  * gate.
  */
object RefQueries {

  private val slot = Shapes.LogicTimeSlotMs // 86400000 (1 day)

  /** DuckDB-side adapters matching Shapes.portWordEvents / zxEvents. */
  private val pwSql =
    "SELECT epoch_ms(ts) AS event_time, user_id % 3 AS port, event_type AS word FROM events"
  private val zxSql =
    "SELECT epoch_ms(ts) AS event_time, event_type AS z, CAST(floor(value) AS BIGINT) AS x FROM events"

  // --------------------------------------------------------------------
  // Q1 — per-dataset grouped min-of-counts
  // ("minimum count of each word in each port",
  //  stateless/src/main/scala/cluster/HashJoin.scala:11-12, 51-62).
  // --------------------------------------------------------------------
  /** The Q1 plan over any `(port, word)`-shaped relation — factored out so
    * the per-trigger streaming form (foreachBatch over each micro-batch,
    * the reference's per-processing-batch semantics,
    * stateless/src/main/scala/cluster/HashJoin.scala:11-12) runs the SAME
    * plan, not a reimplementation.
    */
  def q1Plan(portWord: DataFrame): DataFrame =
    portWord
      .groupBy("word", "port").agg(count(lit(1)).as("cnt"))
      .groupBy("word").agg(min("cnt").as("min_cnt"))

  def q1MinCountPerPort(spark: SparkSession, sfDir: String): DataFrame =
    q1Plan(Shapes.portWordEvents(spark, sfDir))

  val q1Sql: String =
    s"""SELECT word, min(cnt) AS min_cnt FROM (
       |  SELECT word, port, count(*) AS cnt FROM ($pwSql) GROUP BY 1, 2
       |) GROUP BY word""".stripMargin

  // --------------------------------------------------------------------
  // Q2 — event-time-windowed min-of-counts with port-completeness:
  // a (word, ltw) window missing any of the 3 ports yields 0
  // (state/src/main/scala/cluster/naive/HashJoin.scala:89-103). The
  // reference's punctuation/watermark/trigger machinery (§2.7 C3/C4) is
  // emission policy, not semantics — in batch the trigger is end-of-input
  // and the CASE expression is the whole contract.
  // --------------------------------------------------------------------
  /** The Q2 plan over any `(event_time, port, word)`-shaped relation,
    * factored like [[q1Plan]] so the streaming spec's batch contract runs
    * the SAME plan at its own slot width.
    */
  def q2Plan(portWord: DataFrame, slotMs: Long = slot): DataFrame =
    Shapes.withLtw(portWord, slotMs)
      .groupBy("word", "ltw", "port").agg(count(lit(1)).as("cnt"))
      .groupBy("word", "ltw")
      .agg(Shapes.minIfComplete(col("cnt")).as("min_cnt"))

  def q2WindowedMinComplete(spark: SparkSession, sfDir: String): DataFrame =
    q2Plan(Shapes.portWordEvents(spark, sfDir))

  val q2Sql: String =
    s"""SELECT word, ltw, CASE WHEN count(*) = 3 THEN min(cnt) ELSE 0 END AS min_cnt
       |FROM (
       |  SELECT word, event_time // $slot AS ltw, port, count(*) AS cnt
       |  FROM ($pwSql) GROUP BY 1, 2, 3
       |) GROUP BY 1, 2""".stripMargin

  // --------------------------------------------------------------------
  // Q3 — event-time-windowed scalar aggregates per key z
  // (one-group-state/cluster/HHGrouping.scala:76-101 COUNT;
  //  RRGrouping.scala:72-96 MAX; APKGrouping.scala:128-150 SUM).
  // --------------------------------------------------------------------
  private def zxLtw(spark: SparkSession, sfDir: String): DataFrame =
    Shapes.withLtw(Shapes.zxEvents(spark, sfDir), slot)

  def q3WindowedCount(spark: SparkSession, sfDir: String): DataFrame =
    zxLtw(spark, sfDir).groupBy("z", "ltw").agg(count(lit(1)).as("cnt"))

  val q3CountSql: String =
    s"""SELECT z, event_time // $slot AS ltw, count(*) AS cnt
       |FROM ($zxSql) GROUP BY 1, 2""".stripMargin

  def q3WindowedMax(spark: SparkSession, sfDir: String): DataFrame =
    zxLtw(spark, sfDir).groupBy("z", "ltw").agg(max("x").as("max_x"))

  val q3MaxSql: String =
    s"""SELECT z, event_time // $slot AS ltw, max(x) AS max_x
       |FROM ($zxSql) GROUP BY 1, 2""".stripMargin

  def q3WindowedSum(spark: SparkSession, sfDir: String): DataFrame =
    zxLtw(spark, sfDir).groupBy("z", "ltw").agg(sum("x").as("sum_x"))

  val q3SumSql: String =
    s"""SELECT z, event_time // $slot AS ltw, CAST(sum(x) AS BIGINT) AS sum_x
       |FROM ($zxSql) GROUP BY 1, 2""".stripMargin

  // --------------------------------------------------------------------
  // Q3d — SLIDING (hopping) windowed count per key: window size 2×slot,
  // hop 1×slot. The reference has tumbling windows only (SURVEY §2.9);
  // this is the overlapping-window form a real event-analytics user
  // needs in week one. An event in day-window d belongs to exactly the
  // hop windows [h·slot, h·slot+2·slot) with h ∈ {d-1, d} — so the plan
  // is explode(sequence(ltw-1, ltw)) then ONE grouped count: row
  // amplification is exactly size/hop = 2× (the inherent sliding-window
  // cost), the shuffle stays 8-byte keys after map-side partial agg,
  // and no window-function sort exists anywhere. `hop` is the window's
  // START slot; integer arithmetic end-to-end (Parity rules).
  // --------------------------------------------------------------------
  def q3SlidingCount(spark: SparkSession, sfDir: String): DataFrame =
    zxLtw(spark, sfDir)
      .select(col("z"), explode(sequence(col("ltw") - 1, col("ltw"))).as("hop"))
      .groupBy("z", "hop").agg(count(lit(1)).as("cnt"))

  val q3SlidingCountSql: String =
    s"""SELECT z, hop, count(*) AS cnt FROM (
       |  SELECT z, unnest([event_time // $slot - 1, event_time // $slot]) AS hop
       |  FROM ($zxSql))
       |GROUP BY 1, 2""".stripMargin

  // --------------------------------------------------------------------
  // Q3b — per-window heavy-hitter detection: keys whose share of the
  // window load exceeds 0.2/m (APKGrouping.scala:94-100;
  // one-group-state/cluster/DGrouping.scala:225-240). 0.2/12 = 1/60 →
  // integer predicate cnt*60 > total, no floating point in the gate.
  // --------------------------------------------------------------------
  def q3HeavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = zxLtw(spark, sfDir)
      .groupBy("ltw", "z").agg(count(lit(1)).as("cnt"))
    // Per-window totals are |windows| rows — broadcast-join them back
    // rather than window-functioning over the (much larger) counts
    // relation: no re-shuffle, no sort of counts. (A window function here
    // would re-exchange counts by ltw and sort at 100 TB scale.)
    val totals = counts.groupBy("ltw").agg(sum("cnt").as("total"))
    counts.join(broadcast(totals), "ltw")
      .where(col("cnt") * 60 > col("total"))
      .select("ltw", "z", "cnt")
  }

  val q3HeavyHittersSql: String =
    s"""SELECT ltw, z, cnt FROM (
       |  SELECT ltw, z, cnt, sum(cnt) OVER (PARTITION BY ltw) AS total FROM (
       |    SELECT event_time // $slot AS ltw, z, count(*) AS cnt
       |    FROM ($zxSql) GROUP BY 1, 2)
       |) WHERE cnt * 60 > total""".stripMargin

  // --------------------------------------------------------------------
  // Q3c — per-window skew statistics + cost-model strategy decision:
  // M (total load), K (distinct keys), p1 (max share), head/near-singleton
  // counts, and the HH-vs-APK decision
  //   costHH  = (13.26·p1 + 1.02)·M/m        (DGrouping.scala:55)
  //   costAPK = M/m + λ·(K + head·(m−2) − single)   (DGrouping.scala:64)
  // with m = 12, λ = 0.01. The reference used these to pick a partitioner
  // per window (§2.6 T7); here the decision is an observable column — the
  // physical analogue in our build is AQE skew handling.
  // All inputs to the doubles are exact longs and the expression shape is
  // identical in the oracle, so the FP results match bit-for-bit.
  // --------------------------------------------------------------------
  /** The skew-stats + strategy plan over ANY `(ltw, z, cnt)` per-key
    * counts relation — factored out so the per-batch adaptive loop
    * (streaming/AdaptiveAgg.scala) evaluates the SAME plan the gated
    * q3_skew_stats query is oracle-checked against, not a
    * reimplementation of the cost model.
    */
  def skewStatsPlan(counts: DataFrame): DataFrame = {
    val lambda = 0.01
    // Same broadcast-totals shape as q3HeavyHitters (no window function).
    val totals = counts.groupBy("ltw").agg(sum("cnt").as("total"))
    val withTotal = counts.join(broadcast(totals), "ltw")
    val stats = withTotal.groupBy("ltw").agg(
      max("total").as("m_total"),
      count(lit(1)).as("k_keys"),
      max("cnt").as("max_cnt"),
      sum(when(col("cnt") * 60 > col("total"), 1L).otherwise(0L)).as("head_num"),
      sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("single_num"))
    stats.select(
      col("ltw"), col("m_total"), col("k_keys"), col("max_cnt"),
      (col("max_cnt") / col("m_total")).as("p1"),
      col("head_num"), col("single_num"),
      when(
        (lit(13.26) * (col("max_cnt") / col("m_total")) + lit(1.02)) * col("m_total") / lit(12.0)
          <= col("m_total") / lit(12.0) + lit(lambda) * (col("k_keys") + col("head_num") * 10 - col("single_num")),
        lit(0L)).otherwise(lit(1L)).as("strategy"))
  }

  def q3SkewStats(spark: SparkSession, sfDir: String): DataFrame =
    skewStatsPlan(zxLtw(spark, sfDir)
      .groupBy("ltw", "z").agg(count(lit(1)).as("cnt")))

  /** Q3c's 100 TB escape hatch (SURVEY §9): when the key domain K
    * explodes, the exact stats' (ltw, z) pre-aggregation is the first
    * casualty — this variant estimates K per window with
    * approx_count_distinct (HLL++, rsd 0.01) in ONE pass over the raw
    * relation: no per-key grouped relation at all, constant state per
    * window regardless of K (the reference had no such fallback — it
    * walked an exact per-key hashmap per batch,
    * one-group-state/src/main/scala/cluster/APKGrouping.scala:183-235).
    * M stays exact (a plain count). The oracle compares against DuckDB's
    * EXACT count(DISTINCT z): both estimators sit in their exact
    * small-cardinality regime at fixture K (~5 keys/window) — asserted
    * per-window by RefQueriesSpec, which is the honest contract; at real
    * scale the column is an estimate with rsd-bounded error.
    */
  // Widening the scan was re-measured r19 (post-codegen-cache-fix,
  // isolated bench A/B) and still loses 1.85× (1.69 s vs 0.91): a wide
  // partial aggregate materializes one rsd-0.01 HLL register block per
  // (partition, window) and the merge serializes them all — the r18
  // revert of this site holds at every measured condition.
  def q3SkewStatsApprox(spark: SparkSession, sfDir: String): DataFrame =
    zxLtw(spark, sfDir)
      .groupBy("ltw")
      .agg(count(lit(1)).as("m_total"),
        approx_count_distinct(col("z"), 0.01).as("k_keys_approx"))

  val q3SkewStatsApproxSql: String =
    s"""SELECT event_time // $slot AS ltw, count(*) AS m_total,
       |       count(DISTINCT z) AS k_keys_approx
       |FROM ($zxSql) GROUP BY 1""".stripMargin

  val q3SkewStatsSql: String =
    s"""WITH counts AS (
       |  SELECT event_time // $slot AS ltw, z, count(*) AS cnt
       |  FROM ($zxSql) GROUP BY 1, 2),
       |wt AS (
       |  SELECT ltw, z, cnt,
       |         CAST(sum(cnt) OVER (PARTITION BY ltw) AS BIGINT) AS total
       |  FROM counts),
       |s AS (
       |  SELECT ltw, max(total) AS m_total, count(*) AS k_keys, max(cnt) AS max_cnt,
       |         CAST(sum(CASE WHEN cnt * 60 > total THEN 1 ELSE 0 END) AS BIGINT) AS head_num,
       |         CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS single_num
       |  FROM wt GROUP BY 1)
       |SELECT ltw, m_total, k_keys, max_cnt,
       |       max_cnt / m_total AS p1, head_num, single_num,
       |       CAST(CASE WHEN (13.26 * (max_cnt / m_total) + 1.02) * m_total / 12.0
       |                  <= m_total / 12.0 + 0.01 * (k_keys + head_num * 10 - single_num)
       |            THEN 0 ELSE 1 END AS BIGINT) AS strategy
       |FROM s""".stripMargin

  // --------------------------------------------------------------------
  // Q3d — the adaptive loop's BATCH face: the cost-model decision
  // (skewStatsPlan's strategy column, DGrouping.scala:51-70) actually
  // SWITCHES the executed aggregation per window — plain two-phase
  // groupBy where strategy = 0 (HH), salted two-stage where strategy = 1
  // (APK/PKG, Salting.scala's d-replica split). The salt must never
  // change the answer, only the shuffle layout, so the oracle is the
  // plain windowed count joined with the per-window strategy — identical
  // values either way is exactly the contract. The streaming form of the
  // same loop (per-batch decision + ratchet + head-set carry-over,
  // DGrouping.scala:214-288) is streaming/AdaptiveAgg.scala.
  // --------------------------------------------------------------------
  def q3AdaptiveWindowedCount(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = zxLtw(spark, sfDir)
    val decisions = skewStatsPlan(
        raw.groupBy("ltw", "z").agg(count(lit(1)).as("cnt")))
      .select("ltw", "strategy")
    // |windows| decision rows — always broadcastable.
    val tagged = raw.join(broadcast(decisions), "ltw")
    val plain = tagged.where(col("strategy") === 0)
      .groupBy("z", "ltw", "strategy").agg(count(lit(1)).as("cnt"))
    val salted = tagged.where(col("strategy") === 1)
      .withColumn("salt", pmod(col("x") + col("event_time"), lit(Salting.D)))
      .groupBy("z", "ltw", "strategy", "salt").agg(count(lit(1)).as("pcnt"))
      .groupBy("z", "ltw", "strategy").agg(sum("pcnt").as("cnt"))
    plain.select("z", "ltw", "cnt", "strategy")
      .unionByName(salted.select("z", "ltw", "cnt", "strategy"))
  }

  val q3AdaptiveWindowedCountSql: String =
    s"""WITH counts AS (
       |  SELECT event_time // $slot AS ltw, z, count(*) AS cnt
       |  FROM ($zxSql) GROUP BY 1, 2),
       |wt AS (
       |  SELECT ltw, z, cnt,
       |         CAST(sum(cnt) OVER (PARTITION BY ltw) AS BIGINT) AS total
       |  FROM counts),
       |s AS (
       |  SELECT ltw, max(total) AS m_total, count(*) AS k_keys, max(cnt) AS max_cnt,
       |         CAST(sum(CASE WHEN cnt * 60 > total THEN 1 ELSE 0 END) AS BIGINT) AS head_num,
       |         CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS single_num
       |  FROM wt GROUP BY 1),
       |strat AS (
       |  SELECT ltw,
       |         CAST(CASE WHEN (13.26 * (max_cnt / m_total) + 1.02) * m_total / 12.0
       |                    <= m_total / 12.0 + 0.01 * (k_keys + head_num * 10 - single_num)
       |              THEN 0 ELSE 1 END AS BIGINT) AS strategy
       |  FROM s)
       |SELECT counts.z, counts.ltw, counts.cnt, strat.strategy
       |FROM counts JOIN strat ON counts.ltw = strat.ltw""".stripMargin

  // --------------------------------------------------------------------
  // Q4 — 3-way star-join cardinality per key: |R0(z)|·|R1(z)|·|R2(z)|
  // (star-join-stateless/cluster/HHJoin.scala:59-78, product at :74).
  // One conditional aggregation = ONE shuffle (vs the reference's
  // count-then-multiply over a replicated worker cube, DuplicateHHJoin) —
  // the count-product needs no pair materialization and no replication;
  // skew is absorbed by the map-side partial aggregate.
  // --------------------------------------------------------------------
  /** The count-product plan over any `(port, word)` relation — ONE
    * conditional aggregation, also runnable as a streaming update/complete
    * aggregation (the reference's Q4 runs over live streams; the streaming
    * spec asserts the running state converges to this batch plan).
    */
  def q4CardinalityPlan(portWord: DataFrame): DataFrame =
    portWord.groupBy(col("word").as("z"))
      .agg(
        sum(when(col("port") === 0, 1L).otherwise(0L)).as("c0"),
        sum(when(col("port") === 1, 1L).otherwise(0L)).as("c1"),
        sum(when(col("port") === 2, 1L).otherwise(0L)).as("c2"))
      .select(col("z"), (col("c0") * col("c1") * col("c2")).as("card"))

  /** SURVEY §1's overflow escape hatch made concrete: the identical
    * single-aggregation count-product with the counts cast to
    * DECIMAL(38,0) BEFORE the multiply. The Long product of three
    * per-key counts wraps once one key holds ≳2.1 M rows per port
    * (c³ > 2⁶³); the decimal form stays exact to 38 digits with the same
    * plan shape (one shuffle, map-side partial aggregate). PropertySpec
    * plants the overflow regime and pins Long-wraps / decimal-exact.
    */
  def q4CardinalityPlanDecimal(portWord: DataFrame): DataFrame =
    portWord.groupBy(col("word").as("z"))
      .agg(
        sum(when(col("port") === 0, 1L).otherwise(0L)).as("c0"),
        sum(when(col("port") === 1, 1L).otherwise(0L)).as("c1"),
        sum(when(col("port") === 2, 1L).otherwise(0L)).as("c2"))
      .select(col("z"),
        (col("c0").cast("decimal(38,0)") * col("c1").cast("decimal(38,0)") *
          col("c2").cast("decimal(38,0)")).as("card"))

  def q4StarCardinality(spark: SparkSession, sfDir: String): DataFrame =
    q4CardinalityPlan(Shapes.portWordEvents(spark, sfDir))

  /** The stateful reference variant is per event-time window
    * (one-group-state/star-join state modules): |R0(z,w)|·|R1(z,w)|·
    * |R2(z,w)| per (key, window). Same single conditional aggregation,
    * one more grouping column; the streaming twin
    * (StreamingParity.q4WindowedCardinalityStream) emits each window once
    * at watermark close and is specced equal to this plan.
    */
  def q4WindowedCardinality(spark: SparkSession, sfDir: String): DataFrame =
    Shapes.withLtw(Shapes.portWordEvents(spark, sfDir), slot)
      .groupBy(col("word").as("z"), col("ltw"))
      .agg(
        sum(when(col("port") === 0, 1L).otherwise(0L)).as("c0"),
        sum(when(col("port") === 1, 1L).otherwise(0L)).as("c1"),
        sum(when(col("port") === 2, 1L).otherwise(0L)).as("c2"))
      .select(col("z"), col("ltw"), (col("c0") * col("c1") * col("c2")).as("card"))

  val q4WindowedCardinalitySql: String =
    s"""SELECT z, ltw, CAST(c0 * c1 * c2 AS BIGINT) AS card FROM (
       |  SELECT word AS z, event_time // $slot AS ltw,
       |         CAST(sum(CASE WHEN port = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
       |         CAST(sum(CASE WHEN port = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
       |         CAST(sum(CASE WHEN port = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
       |  FROM ($pwSql) GROUP BY 1, 2)""".stripMargin

  val q4StarCardinalitySql: String =
    s"""SELECT z, CAST(c0 * c1 * c2 AS BIGINT) AS card FROM (
       |  SELECT word AS z,
       |         CAST(sum(CASE WHEN port = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
       |         CAST(sum(CASE WHEN port = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
       |         CAST(sum(CASE WHEN port = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
       |  FROM ($pwSql) GROUP BY 1)""".stripMargin

  // --------------------------------------------------------------------
  // Q4b — a TRUE 3-way equi-join cardinality over the star schema
  // (lineitem ⋈ orders ⋈ customer), grouped by market segment — the same
  // capability class as Q4 expressed over realistic keys where the join
  // is selective. NO forced broadcast: orders and customer both scale
  // with the fact side (orders 1:4 with lineitem, customer 1:10 with
  // orders), so a broadcast hint would OOM executors at 100× — the join
  // strategy is left to AQE, which picks broadcast at test SF (both sides
  // under the threshold) and sort-merge + skew splitting at scale.
  // Equality of count-product and true-join cardinality is asserted by a
  // property test (StarJoinPropertySpec).
  // --------------------------------------------------------------------
  def q4StarJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir).select("l_orderkey")
    val o = Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey")
    val c = Tables.customer(spark, sfDir).select("c_custkey", "c_mktsegment")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy("c_mktsegment").agg(count(lit(1)).as("li_cnt"))
  }

  val q4StarJoinSql: String =
    """SELECT c_mktsegment, count(*) AS li_cnt
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1""".stripMargin

  // --------------------------------------------------------------------
  // Row amplification — duplicateRate semantics
  // (one-group-stateless/cluster/RRGrouping.scala:65-76: each row emitted
  // `duplicateRate` times before grouping). explode(array_repeat) keeps
  // the amplification inside whole-stage codegen; the partial aggregate
  // collapses it again before the shuffle.
  // --------------------------------------------------------------------
  val DuplicateRate = 3

  def qAmplify(spark: SparkSession, sfDir: String): DataFrame =
    zxLtw(spark, sfDir)
      .withColumn("dup", explode(array_repeat(lit(1), DuplicateRate)))
      .groupBy("z", "ltw").agg(count(lit(1)).as("cnt"))

  val qAmplifySql: String =
    s"""SELECT z, event_time // $slot AS ltw, $DuplicateRate * count(*) AS cnt
       |FROM ($zxSql) GROUP BY 1, 2""".stripMargin

  /** All parity queries + oracles, for SparkEntry. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_min_count_per_port" -> (q1MinCountPerPort _),
    "q2_windowed_min_complete" -> (q2WindowedMinComplete _),
    "q3_windowed_count" -> (q3WindowedCount _),
    "q3_windowed_max" -> (q3WindowedMax _),
    "q3_windowed_sum" -> (q3WindowedSum _),
    "q3_sliding_count" -> (q3SlidingCount _),
    "q3_heavy_hitters" -> (q3HeavyHitters _),
    "q3_skew_stats" -> (q3SkewStats _),
    "q3_skew_stats_approx" -> (q3SkewStatsApprox _),
    "q3_adaptive_windowed_count" -> (q3AdaptiveWindowedCount _),
    "q4_star_cardinality" -> (q4StarCardinality _),
    "q4_windowed_cardinality" -> (q4WindowedCardinality _),
    "q4_star_join" -> (q4StarJoin _),
    "q_amplify" -> (qAmplify _))

  val oracles: Map[String, String] = Map(
    "q1_min_count_per_port" -> q1Sql,
    "q2_windowed_min_complete" -> q2Sql,
    "q3_windowed_count" -> q3CountSql,
    "q3_windowed_max" -> q3MaxSql,
    "q3_windowed_sum" -> q3SumSql,
    "q3_sliding_count" -> q3SlidingCountSql,
    "q3_heavy_hitters" -> q3HeavyHittersSql,
    "q3_skew_stats" -> q3SkewStatsSql,
    "q3_skew_stats_approx" -> q3SkewStatsApproxSql,
    "q3_adaptive_windowed_count" -> q3AdaptiveWindowedCountSql,
    "q4_star_cardinality" -> q4StarCardinalitySql,
    "q4_windowed_cardinality" -> q4WindowedCardinalitySql,
    "q4_star_join" -> q4StarJoinSql,
    "q_amplify" -> qAmplifySql)
}
