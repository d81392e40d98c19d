package graft.operators

import graft.{Par, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Classic warehouse-analytics queries over the TPC-H-ish star schema —
  * capabilities a user migrating off the reference would run next to the
  * stream queries (scan → filter → join → multi-measure agg → top-n).
  *
  * Exactness rule: money columns are DOUBLE in the fixtures; summing
  * doubles is partial-aggregation-order dependent, so every summed
  * measure is first cast to DECIMAL(18,2) — decimal addition is exact and
  * associative, so Spark's partial/final split and DuckDB's single-pass
  * sum agree bit-for-bit. The final outputs are cast back to DOUBLE
  * (exact → nearest double is deterministic) because the gate reads
  * Spark parquet decimals and DuckDB decimals through different Python
  * dtypes and would flag equal values as mismatched.
  */
object Analytics {

  /** TPC-H Q1-shaped pricing summary: per (returnflag, linestatus) —
    * quantity/price/discounted sums and row count.
    */
  def pricingSummary(spark: SparkSession, sfDir: String): DataFrame =
    // r19: widen so the decimal partial aggregation runs across the
    // session's cores instead of fused into the single-row-group scan
    // task; the group keys are low-cardinality, so the added exchange is
    // NOT reused downstream — and it still wins, because the per-row
    // decimal work dominates the 6-column exchange bytes (guide §2.5;
    // the r18 revert of this site predates the codegen-cache fix).
    // Interleaved Probe A/B: 0.48 s widened vs 0.74 s narrow warm min.
    Par.widenTable(spark,
      Tables.lineitem(spark, sfDir)
        .select("l_returnflag", "l_linestatus", "l_quantity",
          "l_extendedprice", "l_discount", "l_orderkey"),
      sfDir, "lineitem", col("l_orderkey"))
      .select(col("l_returnflag"), col("l_linestatus"),
        col("l_quantity").cast("decimal(18,2)").as("qty"),
        col("l_extendedprice").cast("decimal(18,2)").as("price"),
        // Keep the full scale-4 product exact — rounding each row to 2
        // decimals hits exact .xx50 halves where engine rounding modes
        // differ; the exact sum is cast once, to double, with no rounding.
        (col("l_extendedprice").cast("decimal(18,2)") *
          (lit(BigDecimal(1)).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .as("disc_price"))
      .groupBy("l_returnflag", "l_linestatus")
      // Sums stay at DECIMAL(38,x) until the final DOUBLE cast: narrowing
      // to (18,2)/(28,4) NULLs on overflow in Spark (non-ANSI) while
      // DuckDB errors — at 100× the fixtures the two engines would
      // diverge. (38,x) holds any realistic corpus sum exactly.
      .agg(
        sum("qty").cast("decimal(38,2)").cast("double").as("sum_qty"),
        sum("price").cast("decimal(38,2)").cast("double").as("sum_price"),
        sum("disc_price").cast("decimal(38,4)").cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))

  val pricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_qty,
      |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_price,
      |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
      |    AS DECIMAL(38,4)) AS DOUBLE) AS sum_disc_price,
      |  count(*) AS count_order
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** Top-5 customers by exact (decimal) order revenue per market segment —
    * join + grouped agg + deterministic windowed top-n (ties broken by
    * customer key). The join side is the dimension (broadcast); top-n via
    * rank runs on the grouped (small) relation.
    */
  val TopN = 5L

  /** Epoch-day width, used by retention / funnels. Declared ahead of
    * every val that derives from it: a Scala object initializes vals in
    * declaration order, and a forward reference silently reads 0 — which
    * is exactly how the first cut of FunnelWindowMs shipped as a
    * zero-width window (caught by the spec, not the oracle: the SQL
    * interpolates the same runtime value, so both engines agreed on the
    * wrong semantics).
    */
  val DayMs = 86400000L

  def topCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .select(col("o_custkey"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
    val c = Tables.customer(spark, sfDir).select("c_custkey", "c_mktsegment")
    val revenue = o.groupBy("o_custkey")
      // (38,2): a (18,2) result cast would NULL on overflow at scale.
      .agg(sum("price").cast("decimal(38,2)").as("revenue_dec"),
        count(lit(1)).as("n_orders"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
    revenue
      // Rank on the exact decimal; expose the value as double (the gate
      // reads Spark decimals and DuckDB decimals through different dtypes).
      .withColumn("revenue", col("revenue_dec").cast("double"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("c_mktsegment")
          .orderBy(col("revenue_dec").desc, col("c_custkey"))))
      .where(col("rnk") <= TopN)
      .select(col("c_mktsegment"), col("rnk"), col("c_custkey"),
        col("revenue"), col("n_orders"))
  }

  val topCustomersSql: String =
    s"""SELECT c_mktsegment, rnk, c_custkey, revenue, n_orders FROM (
       |  SELECT c.c_mktsegment, c.c_custkey,
       |    CAST(r.revenue_dec AS DOUBLE) AS revenue, r.n_orders,
       |    row_number() OVER (PARTITION BY c.c_mktsegment
       |      ORDER BY r.revenue_dec DESC, c.c_custkey) AS rnk
       |  FROM (
       |    SELECT o_custkey,
       |      CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS revenue_dec,
       |      count(*) AS n_orders
       |    FROM orders GROUP BY o_custkey) r
       |  JOIN customer c ON r.o_custkey = c.c_custkey)
       |WHERE rnk <= $TopN""".stripMargin

  // ------------------------------------------------------------------
  // Rollup reporting: order counts by (segment, priority) with subtotal
  // and grand-total rows — GROUPING SETS capability. Rollup NULLs are
  // coalesced to 'ALL' on both engines so the gate never compares NULL
  // ordering semantics.
  // ------------------------------------------------------------------
  def revenueRollup(spark: SparkSession, sfDir: String): DataFrame = {
    // SQL front door (spark.sql over parquet file paths): the Dataset
    // rollup API trips Spark's ambiguous-self-join detection on the
    // re-tagged grouping attributes; the SQL path resolves cleanly and
    // demonstrates the engine's plain-SQL entry point.
    Tables.load(spark, sfDir, "orders") // ensures nanosAsLong-style confs
    spark.sql(
      s"""SELECT coalesce(c_mktsegment, 'ALL') AS segment,
         |       coalesce(o_orderpriority, 'ALL') AS priority,
         |       count(*) AS n_orders
         |FROM parquet.`$sfDir/orders.parquet` o
         |JOIN parquet.`$sfDir/customer.parquet` c ON o.o_custkey = c.c_custkey
         |GROUP BY ROLLUP(c_mktsegment, o_orderpriority)""".stripMargin)
  }

  val revenueRollupSql: String =
    """SELECT coalesce(c_mktsegment, 'ALL') AS segment,
      |       coalesce(o_orderpriority, 'ALL') AS priority,
      |       count(*) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY ROLLUP(c_mktsegment, o_orderpriority)""".stripMargin

  // ------------------------------------------------------------------
  // ANN evaluation: per-query recall of the LSH top-k against the
  // brute-force top-k (integer hit counts — the measurement a pipeline
  // runs before trusting the approximate path at scale).
  // ------------------------------------------------------------------
  private def recallVsBrute(spark: SparkSession, sfDir: String,
      approxTopK: (SparkSession, String) => DataFrame): DataFrame = {
    val exact = Similarity.cosineTopK(spark, sfDir)
      .select(col("query_id"), col("neighbor_id"))
    val approx = approxTopK(spark, sfDir)
      .select(col("query_id").as("a_query"), col("neighbor_id").as("a_neighbor"))
    exact.join(approx,
        col("query_id") === col("a_query") && col("neighbor_id") === col("a_neighbor"),
        "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("k"),
        sum(when(col("a_neighbor").isNotNull, 1L).otherwise(0L)).as("hits"))
  }

  private def recallVsBruteSql(approxSql: String): String =
    s"""WITH exact AS (${Similarity.cosineTopKSql}),
       |approx AS ($approxSql)
       |SELECT e.query_id, count(*) AS k,
       |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits
       |FROM exact e LEFT JOIN approx a
       |  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
       |GROUP BY e.query_id""".stripMargin

  def lshRecall(spark: SparkSession, sfDir: String): DataFrame =
    recallVsBrute(spark, sfDir, Similarity.lshTopK)

  val lshRecallSql: String = recallVsBruteSql(Similarity.lshTopKSql)

  /** Recall of the IVF probe path against the same brute-force truth —
    * the second approximate index needs the same pre-trust measurement
    * as the LSH one (probing too few cells is IVF's failure mode).
    */
  def ivfRecall(spark: SparkSession, sfDir: String): DataFrame =
    recallVsBrute(spark, sfDir, Similarity.ivfTopK)

  val ivfRecallSql: String = recallVsBruteSql(Similarity.ivfTopKSql)

  // ------------------------------------------------------------------
  // Time-series similarity over the event stream (cf. "Time Series
  // Similarity Search for Streaming Data in Distributed Systems", EDBT
  // 2019 — PAPERS.md): each key z gets a daily-count profile vector;
  // pairwise profile similarity via the exact-integer dot/cosine
  // machinery. Key space is small (grouped relation), so the pairwise
  // stage is trivially broadcastable; the heavy part — building profiles
  // — is one two-phase aggregation over the stream.
  // ------------------------------------------------------------------
  def timeseriesSimilarity(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.VectorOps.longDot
    import graft.Shapes
    val counts = Shapes.withLtw(Shapes.zxEvents(spark, sfDir), Shapes.LogicTimeSlotMs)
      .groupBy("z", "ltw").agg(count(lit(1)).as("cnt"))
    // Dense day-aligned profiles over the global [lo, hi] day range —
    // missing days are explicit zeros so vector positions line up.
    val bounds = counts.agg(min("ltw").as("lo"), max("ltw").as("hi"))
    val profiles = counts
      .groupBy("z")
      .agg(map_from_entries(collect_list(struct(col("ltw"), col("cnt")))).as("m"))
      .crossJoin(broadcast(bounds))
      .withColumn("profile",
        expr("transform(sequence(lo, hi), d -> coalesce(element_at(m, d), 0L))"))
      .withColumn("norm", longDot(col("profile"), col("profile")))
    profiles.as("a").join(profiles.as("b"), col("a.z") < col("b.z"))
      .select(col("a.z").as("z_a"), col("b.z").as("z_b"),
        longDot(col("a.profile"), col("b.profile")).as("dot"),
        col("a.norm").as("na"), col("b.norm").as("nb"))
  }

  val timeseriesSimilaritySql: String =
    s"""WITH counts AS (
       |  SELECT event_type AS z, epoch_ms(ts) // ${graft.Shapes.LogicTimeSlotMs} AS ltw,
       |         count(*) AS cnt
       |  FROM events GROUP BY 1, 2),
       |bounds AS (SELECT min(ltw) AS lo, max(ltw) AS hi FROM counts),
       |profiles AS (
       |  SELECT z,
       |    list_transform(range(lo, hi + 1),
       |      d -> CAST(coalesce(vals[list_position(ltws, d)], 0) AS BIGINT)) AS profile
       |  FROM (SELECT z, list(ltw ORDER BY ltw) AS ltws, list(cnt ORDER BY ltw) AS vals
       |        FROM counts GROUP BY z) CROSS JOIN bounds),
       |np AS (
       |  SELECT z, profile,
       |    CAST(list_sum(list_transform(range(1, len(profile) + 1),
       |      i -> profile[i] * profile[i])) AS BIGINT) AS norm
       |  FROM profiles)
       |SELECT a.z AS z_a, b.z AS z_b,
       |  CAST(list_sum(list_transform(range(1, len(a.profile) + 1),
       |    i -> a.profile[i] * b.profile[i])) AS BIGINT) AS dot,
       |  a.norm AS na, b.norm AS nb
       |FROM np a JOIN np b ON a.z < b.z""".stripMargin

  // ------------------------------------------------------------------
  // TPC-H Q3-shaped shipping priority: revenue of unshipped-at-cutoff
  // order lines for one market segment, top-10 by exact decimal revenue.
  // The scale story is in the plan: all three filters (segment, order
  // date, ship date) push into their parquet scans (PushedFilters), the
  // join strategy is AQE's (segment-filtered customers are 1/5 of a
  // relation that scales with the fact side — no broadcast hint), and
  // the top-10 is TakeOrderedAndProject (distributed per-partition
  // top-k, NO global sort or single-partition window). Dates are
  // compared as timestamps and exported as epoch-ms integers.
  // ------------------------------------------------------------------
  val ShipCutoff = "1998-01-01"

  def shippingPriority(spark: SparkSession, sfDir: String): DataFrame = {
    val cut = lit(ShipCutoff).cast("timestamp")
    val c = Tables.customer(spark, sfDir)
      .where(col("c_mktsegment") === "BUILDING").select("c_custkey")
    // Parquet timestamps read as TIMESTAMP_NTZ; the UTC-session cast to
    // TIMESTAMP is the wall-clock identity (same pattern as
    // Shapes.eventTimeMs) and matches DuckDB's naive-timestamp epoch_ms.
    val o = Tables.orders(spark, sfDir)
      .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
      .where(col("o_orderdate") < cut)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val l = Tables.lineitem(spark, sfDir)
      .where(col("l_shipdate").cast("timestamp") > cut)
      .select(col("l_orderkey"),
        (col("l_extendedprice").cast("decimal(18,2)") *
          (lit(BigDecimal(1)).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .as("rev"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(sum("rev").cast("decimal(38,4)").as("revenue_dec"))
      .orderBy(col("revenue_dec").desc, col("l_orderkey"))
      .limit(10)
      .select(col("l_orderkey"), unix_millis(col("o_orderdate")).as("odate_ms"),
        col("o_orderpriority"), col("revenue_dec").cast("double").as("revenue"))
  }

  val shippingPrioritySql: String =
    s"""SELECT l_orderkey, epoch_ms(o_orderdate) AS odate_ms, o_orderpriority,
       |  CAST(revenue_dec AS DOUBLE) AS revenue
       |FROM (
       |  SELECT l_orderkey, o_orderdate, o_orderpriority,
       |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
       |        (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
       |      AS DECIMAL(38,4)) AS revenue_dec
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  WHERE c_mktsegment = 'BUILDING'
       |    AND o_orderdate < TIMESTAMP '$ShipCutoff'
       |    AND l_shipdate > TIMESTAMP '$ShipCutoff'
       |  GROUP BY 1, 2, 3)
       |ORDER BY revenue_dec DESC, l_orderkey
       |LIMIT 10""".stripMargin

  // ------------------------------------------------------------------
  // As-of join: for every "trade" event, the most recent "quote" event of
  // the same user at or before the trade's timestamp (inner semantics —
  // trades with no prior quote drop). Spark lacks a native ASOF JOIN;
  // a time-range join explodes O(trades × quotes-in-range) and a
  // per-trade subquery doesn't distribute. The scalable composition is
  // union + last-non-null carry-forward: ONE shuffle by user, one sort by
  // (time, kind) — quotes sort before same-timestamp trades, giving
  // inclusive semantics — and the window carry runs linearly per
  // partition. The DuckDB oracle uses its NATIVE ASOF JOIN: two
  // independent implementations of the contract must hash-match.
  // Quotes are deduped to one per (user, t) — max event_id wins — so the
  // as-of pick is deterministic in both engines.
  // ------------------------------------------------------------------
  def asofJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = Tables.events(spark, sfDir)
    val ev = raw.select(col("event_id"), graft.Shapes.eventTimeMs(raw).as("t"),
      col("user_id"), floor(col("value")).cast("long").as("x"))
      .withColumn("kind", pmod(col("event_id"), lit(2)) =!= 1)
    // Single window pass, no pre-dedupe shuffle: sorting by (t, kind,
    // event_id) places quotes before same-timestamp trades (inclusive
    // semantics) and orders same-timestamp quotes by event_id, so the
    // last-non-null carry picks the max-event_id quote — the tie rule the
    // oracle's arg_max encodes — without a separate groupBy. quote_id and
    // quote_x always come from the same row (their null patterns are
    // identical).
    val w = Window.partitionBy("user_id")
      .orderBy(col("t"), col("kind"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev
      .withColumn("q_id", when(!col("kind"), col("event_id")))
      .withColumn("q_x", when(!col("kind"), col("x")))
      .withColumn("quote_id", last(col("q_id"), ignoreNulls = true).over(w))
      .withColumn("quote_x", last(col("q_x"), ignoreNulls = true).over(w))
      .where(col("kind") && col("quote_id").isNotNull)
      .select(col("user_id"), col("event_id").as("trade_id"), col("t").as("trade_t"),
        col("quote_id"), col("quote_x"))
  }

  val asofJoinSql: String =
    """WITH ev AS (
      |  SELECT event_id, epoch_ms(ts) AS t, user_id,
      |         CAST(floor(value) AS BIGINT) AS x
      |  FROM events),
      |trades AS (
      |  SELECT user_id, t AS trade_t, event_id AS trade_id
      |  FROM ev WHERE event_id % 2 = 0),
      |quotes AS (
      |  SELECT user_id, t, max(event_id) AS quote_id, arg_max(x, event_id) AS quote_x
      |  FROM ev WHERE event_id % 2 = 1 GROUP BY user_id, t)
      |SELECT tr.user_id, tr.trade_id, tr.trade_t, q.quote_id, q.quote_x
      |FROM trades tr ASOF JOIN quotes q
      |  ON tr.user_id = q.user_id AND tr.trade_t >= q.t""".stripMargin

  // ------------------------------------------------------------------
  // Sessionization: gaps-and-islands over the event stream — a session
  // per user breaks when the inter-event gap exceeds SessionGapMs. One
  // shuffle by user + one sort by time; the session id is a running sum
  // of boundary flags. The cumulative sum uses the DEFAULT window frame
  // (RANGE UNBOUNDED PRECEDING..CURRENT ROW) in both engines, so
  // same-timestamp rows all receive the same session id regardless of
  // their (engine-dependent) tie order. Streaming twin: the engine's
  // session_window (StreamingParity.sessionWindowStream), asserted
  // equivalent by spec.
  // ------------------------------------------------------------------
  val SessionGapMs: Long = 3600L * 1000

  def sessionize(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = Tables.events(spark, sfDir)
    val ev = raw.select(graft.Shapes.eventTimeMs(raw).as("t"), col("user_id"))
    val byUser = Window.partitionBy("user_id").orderBy("t")
    ev
      .withColumn("lt", lag("t", 1).over(byUser))
      .withColumn("is_new",
        when(col("lt").isNull || col("t") - col("lt") > SessionGapMs, 1L).otherwise(0L))
      .withColumn("sid", sum("is_new").over(byUser)) // default RANGE frame
      .groupBy("user_id", "sid")
      .agg(min("t").as("session_start"), max("t").as("session_end"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_start"), col("session_end"),
        (col("session_end") - col("session_start")).as("duration_ms"),
        col("n_events"))
  }

  val sessionizeSql: String =
    s"""WITH ev AS (SELECT epoch_ms(ts) AS t, user_id FROM events),
       |flagged AS (
       |  SELECT user_id, t,
       |    CASE WHEN lt IS NULL OR t - lt > $SessionGapMs THEN 1 ELSE 0 END AS is_new
       |  FROM (SELECT user_id, t,
       |          lag(t) OVER (PARTITION BY user_id ORDER BY t) AS lt
       |        FROM ev)),
       |s AS (
       |  SELECT user_id, t,
       |    sum(is_new) OVER (PARTITION BY user_id ORDER BY t) AS sid
       |  FROM flagged)
       |SELECT user_id, min(t) AS session_start, max(t) AS session_end,
       |  max(t) - min(t) AS duration_ms, count(*) AS n_events
       |FROM s GROUP BY user_id, sid""".stripMargin

  // ------------------------------------------------------------------
  // Exact quantiles per group (type-7 linear interpolation): Spark's
  // percentile() and DuckDB's quantile_cont() both rank at (n-1)·p and
  // interpolate lower + (upper-lower)·frac — on exact BIGINT inputs the
  // doubles agree bit-for-bit. Exploded to one row per (group, p).
  // ------------------------------------------------------------------
  def quantiles(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), floor(col("l_quantity")).cast("long").as("q"))
      .groupBy("l_returnflag")
      .agg(expr("percentile(q, array(0.25D, 0.5D, 0.75D))").as("qs"))
      .select(col("l_returnflag"), posexplode(col("qs")).as(Seq("q_idx", "q_val")))
      .withColumn("q_idx", col("q_idx").cast("long"))
      .select("l_returnflag", "q_idx", "q_val")

  val quantilesSql: String =
    """SELECT l_returnflag,
      |  CAST(generate_subscripts(qs, 1) - 1 AS BIGINT) AS q_idx,
      |  unnest(qs) AS q_val
      |FROM (
      |  SELECT l_returnflag, quantile_cont(q, [0.25, 0.5, 0.75]) AS qs
      |  FROM (SELECT l_returnflag, CAST(floor(l_quantity) AS BIGINT) AS q
      |        FROM lineitem)
      |  GROUP BY l_returnflag)""".stripMargin

  // ------------------------------------------------------------------
  // a_quantiles' 100 TB escape hatch (SURVEY §9, same contract as
  // q3_skew_stats_approx): the exact type-7 percentile() holds every
  // group's values; on a high-cardinality value domain that per-group
  // state is the first casualty at scale. approx_percentile is the
  // Greenwald-Khanna sketch — bounded state at ANY cardinality, with
  // `accuracy` the error/state knob (1e4 default ≈ 1e-4 relative rank
  // error). Gated in its EXACT regime: with accuracy (1e7) at least
  // 2x above the LARGEST group size at every fixture scale the gate
  // runs — including the sf1 headroom fixture, whose biggest
  // l_returnflag group is ~3M rows, which is why the old 1e6 pin was
  // not safe there — the summary never compresses (a merge is legal
  // only when the rank-error budget 2·n/accuracy >= 1, i.e. accuracy
  // <= 2n), so query() deterministically returns the value at rank
  // ceil(p·n) regardless of partial-merge order — and the oracle
  // computes that exact rank explicitly (row_number + ceil(p·n), NOT
  // quantile_disc, whose index convention is floor(p·(n-1))+1 and
  // diverges e.g. at p=0.75, n=6). At real scale you lower accuracy and
  // the column becomes an estimate with rsd-bounded rank error:
  // SPARK_GRAFT_APPROX_QUANTILE_ACC sets the production accuracy (the
  // BASELINE.md sf1 section records the cost of the 10⁷ exactness pin —
  // at sf1 the uncompressed sketch costs more than the exact sort; at
  // 10⁴ the sketch is bounded state regardless of data volume).
  // ------------------------------------------------------------------
  val ApproxQuantileAccuracy: Long =
    sys.env.get("SPARK_GRAFT_APPROX_QUANTILE_ACC").map(_.toLong).getOrElse(10000000L)

  def quantilesApprox(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), floor(col("l_quantity")).cast("long").as("q"))
      .groupBy("l_returnflag")
      .agg(expr(s"approx_percentile(q, array(0.25D, 0.5D, 0.75D), $ApproxQuantileAccuracy)").as("qs"))
      .select(col("l_returnflag"), posexplode(col("qs")).as(Seq("q_idx", "q_val")))
      .withColumn("q_idx", col("q_idx").cast("long"))
      .select("l_returnflag", "q_idx", "q_val")

  val quantilesApproxSql: String =
    """WITH vals AS (
      |  SELECT l_returnflag, CAST(floor(l_quantity) AS BIGINT) AS q FROM lineitem),
      |counts AS (SELECT l_returnflag, count(*) AS n FROM vals GROUP BY 1),
      |ranked AS (
      |  SELECT l_returnflag, q,
      |    row_number() OVER (PARTITION BY l_returnflag ORDER BY q) AS r
      |  FROM vals),
      |ps AS (SELECT * FROM (VALUES (0, 0.25), (1, 0.5), (2, 0.75)) AS t(q_idx, p))
      |SELECT ranked.l_returnflag, CAST(ps.q_idx AS BIGINT) AS q_idx,
      |       ranked.q AS q_val
      |FROM ranked
      |JOIN counts ON ranked.l_returnflag = counts.l_returnflag
      |JOIN ps ON ranked.r = CAST(ceil(ps.p * counts.n) AS BIGINT)""".stripMargin

  // ------------------------------------------------------------------
  // Semi-structured extraction: pull typed fields out of the events'
  // JSON `props` column and aggregate on them — the schema-on-read path
  // every telemetry pipeline needs. get_json_object is a pure projection
  // (pipelines into the scan, no shuffle before the grouped agg); the
  // DuckDB oracle uses its independent JSON parser.
  // ------------------------------------------------------------------
  def jsonExtract(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = Tables.events(spark, sfDir)
    raw.select(
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        floor(col("value")).cast("long").as("x"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_events"), sum("x").as("sum_x"))
  }

  val jsonExtractSql: String =
    """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sum_x
      |FROM events
      |GROUP BY 1""".stripMargin

  // ------------------------------------------------------------------
  // Pivot (wide reshaping): ship-year rows × return-flag columns of
  // exact-decimal revenue — the report-table reshape every warehouse
  // face needs. Uses the native `Dataset.pivot` with the value set
  // PINNED (A/N/R): an unpinned pivot runs an extra distinct job to
  // discover columns and makes the output schema data-dependent — the
  // wrong default at 100 TB. Plan: the heavy scan collapses map-side in
  // the (year, flag) two-phase aggregate; the reshape is a SECOND
  // aggregate whose exchange carries only the |years|·|flags|
  // pre-aggregated rows — negligible at any scale. Oracle states the
  // same table as conditional aggregation (the pivot identity) — two
  // formulations, one result.
  // ------------------------------------------------------------------
  def pivotRevenue(spark: SparkSession, sfDir: String): DataFrame =
    // r19: widen measured and DECLINED (Probe: 0.56 widened vs 0.52
    // narrow — the pivot's 3-way conditional agg is one decimal product
    // per row, unlike pricingSummary's four).
    Tables.lineitem(spark, sfDir)
      .select(year(col("l_shipdate")).cast("long").as("ship_year"),
        col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") *
          (lit(BigDecimal(1)).cast("decimal(18,2)") -
            col("l_discount").cast("decimal(18,2)"))).as("disc_price"))
      .groupBy("ship_year")
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(sum("disc_price").cast("decimal(38,4)").cast("double"))
      .withColumnRenamed("A", "rev_a")
      .withColumnRenamed("N", "rev_n")
      .withColumnRenamed("R", "rev_r")

  val pivotRevenueSql: String =
    """SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
      |  CAST(CAST(sum(CASE WHEN l_returnflag = 'A' THEN
      |    CAST(l_extendedprice AS DECIMAL(18,2)) *
      |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) END)
      |    AS DECIMAL(38,4)) AS DOUBLE) AS rev_a,
      |  CAST(CAST(sum(CASE WHEN l_returnflag = 'N' THEN
      |    CAST(l_extendedprice AS DECIMAL(18,2)) *
      |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) END)
      |    AS DECIMAL(38,4)) AS DOUBLE) AS rev_n,
      |  CAST(CAST(sum(CASE WHEN l_returnflag = 'R' THEN
      |    CAST(l_extendedprice AS DECIMAL(18,2)) *
      |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) END)
      |    AS DECIMAL(38,4)) AS DOUBLE) AS rev_r
      |FROM lineitem
      |GROUP BY 1""".stripMargin

  // ------------------------------------------------------------------
  // Unpivot (melt) — the inverse reshape, stated AS the round trip:
  // melt the pivoted wide table back to (year, flag, revenue) long
  // form. The DuckDB oracle computes the long form DIRECTLY from
  // lineitem, so the gate pins the algebraic identity
  // unpivot(pivot(x)) ≡ groupBy(x) — a reshape that lost or duplicated
  // a cell hash-mismatches. NULL cells (flags absent in a year) drop on
  // melt, matching the direct form, which never had them.
  // ------------------------------------------------------------------
  def unpivotRevenue(spark: SparkSession, sfDir: String): DataFrame =
    pivotRevenue(spark, sfDir)
      .unpivot(Array(col("ship_year")),
        Array(col("rev_a"), col("rev_n"), col("rev_r")), "flag", "revenue")
      .where(col("revenue").isNotNull)
      .select(col("ship_year"),
        upper(substring(col("flag"), 5, 1)).as("flag"), col("revenue"))

  val unpivotRevenueSql: String =
    """SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
      |  l_returnflag AS flag,
      |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
      |    AS DECIMAL(38,4)) AS DOUBLE) AS revenue
      |FROM lineitem
      |GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // Calendar-spine gap fill with carry-forward (LOCF) — the resampling
  // pass every metrics/telemetry pipeline runs before joining series:
  // per event type, hourly sums on a dense hour spine from the global
  // [lo, hi] range, missing hours carried forward from the last
  // observed hour (leading gaps fill 0). The spine is |types|×|hours|
  // rows — built from a broadcast 1-row bounds relation and the tiny
  // distinct-type relation, so the only heavy step is the hourly
  // two-phase aggregate; the LOCF window sorts the SPINE (bounded,
  // hours × types), never the events. is_gap marks synthesized rows so
  // downstream can weight them.
  // ------------------------------------------------------------------
  val GapFillSlotMs: Long = 3600000L

  def gapFill(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.Shapes
    // registry-persisted: bounds, the distinct-type relation, and the
    // spine join all read this (types × hours)-row aggregate — without
    // the registry each consumer would re-scan the events fact.
    val hourly = graft.CacheRegistry.cached(spark, s"analytics.gapHourly:$sfDir") {
      Shapes.zxEvents(spark, sfDir)
        .select(col("z"), expr(s"event_time div $GapFillSlotMs").as("h"), col("x"))
        .groupBy("z", "h").agg(sum("x").as("h_sum"))
    }
    val bounds = hourly.agg(min("h").as("lo"), max("h").as("hi"))
    val spine = hourly.select("z").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("z"), explode(expr("sequence(lo, hi)")).as("h"))
    spine.join(hourly, Seq("z", "h"), "left")
      .withColumn("filled_sum", coalesce(
        org.apache.spark.sql.functions.last("h_sum", ignoreNulls = true).over(
          org.apache.spark.sql.expressions.Window.partitionBy("z").orderBy("h")
            .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)),
        lit(0L)))
      .withColumn("is_gap", (col("h_sum").isNull).cast("long"))
      .select("z", "h", "filled_sum", "is_gap")
  }

  val gapFillSql: String =
    s"""WITH hourly AS (
       |  SELECT event_type AS z, epoch_ms(ts) // $GapFillSlotMs AS h,
       |    CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS h_sum
       |  FROM events GROUP BY 1, 2),
       |b AS (SELECT min(h) AS lo, max(h) AS hi FROM hourly),
       |spine AS (
       |  SELECT z, unnest(generate_series(b.lo, b.hi)) AS h
       |  FROM (SELECT DISTINCT z FROM hourly) CROSS JOIN b)
       |SELECT spine.z, spine.h,
       |  coalesce(last_value(hourly.h_sum IGNORE NULLS) OVER (
       |    PARTITION BY spine.z ORDER BY spine.h
       |    ROWS UNBOUNDED PRECEDING), 0) AS filled_sum,
       |  CAST(CASE WHEN hourly.h_sum IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap
       |FROM spine LEFT JOIN hourly
       |  ON spine.z = hourly.z AND spine.h = hourly.h""".stripMargin

  // ------------------------------------------------------------------
  // Column profiling (data-quality audit): per profiled column, row/null/
  // distinct counts and min/max — the schema-health pass a pipeline runs
  // before trusting a new data drop. One UNION branch per column, each a
  // two-phase distinct: groupBy(value).count collapses to the column's
  // distinct values map-side (partial HashAggregate), shuffles ONLY those
  // values, then a one-row rollup derives n_rows (sum of counts), n_null
  // (counts where the value is null), n_distinct (non-null group count),
  // min and max. This replaces the earlier single-agg formulation whose
  // 5-way exact countDistinct made Catalyst Expand the scan 6x (round-11
  // advice: a_profile was the 3rd-slowest query at 1.40 s). Each branch
  // prunes to exactly one parquet column, so the union's total I/O equals
  // the old single scan's — without the Expand. At 100 TB the same shape
  // holds: per-branch shuffles carry distinct values, not rows; when even
  // the distinct-value shuffle is too much (10⁹-distinct key columns),
  // [[profileLineitemApprox]] is the executed single-pass HLL++ form
  // (gated as a_profile_approx).
  // ------------------------------------------------------------------
  private val ProfileCols =
    Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity_floor")

  def profileLineitem(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir).select(
      col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
      col("l_linenumber").cast("long").as("l_linenumber"),
      floor(col("l_quantity")).cast("long").as("l_quantity_floor"))
    ProfileCols.map { c =>
      li.select(col(c).as("v"))
        .groupBy("v").agg(count(lit(1)).as("cnt"))
        .agg(
          sum("cnt").as("n_rows"),
          sum(when(col("v").isNull, col("cnt")).otherwise(0L)).as("n_null"),
          count(col("v")).as("n_distinct"),
          min("v").as("min_v"), max("v").as("max_v"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_null"),
          col("n_distinct"), col("min_v"), col("max_v"))
    }.reduce(_.unionAll(_))
  }

  val profileLineitemSql: String = {
    val branches = ProfileCols.map(c =>
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         |  count(DISTINCT $c) AS n_distinct, min($c) AS min_v, max($c) AS max_v
         |FROM li""".stripMargin).mkString("\nUNION ALL\n")
    s"""WITH li AS (
       |  SELECT l_orderkey, l_partkey, l_suppkey,
       |    CAST(l_linenumber AS BIGINT) AS l_linenumber,
       |    CAST(floor(l_quantity) AS BIGINT) AS l_quantity_floor
       |  FROM lineitem)
       |$branches""".stripMargin
  }

  /** Approx twin of [[profileLineitem]] — the executed form of that
    * scaladoc's "swap in approx_count_distinct" note. The production
    * plan: TWO map-side 1-row reduces over the same five-column
    * projection (codegen'd null/min/max/count + HLL-only; see the r16
    * note at the split site for why fusing them demotes everything to
    * the interpreted aggregate path), cross-joined — still NOTHING
    * per-row ever shuffles, vs the exact profile's five per-branch
    * shuffles of every distinct value. That is the shape that survives
    * a 100 TB drop with 10⁹-distinct key columns, where shipping the
    * distinct values themselves (exact plan) costs more than the scan.
    * The wide 1-row result is re-shaped to the per-column long form
    * with `stack` (all five profiled columns are LONG, so the stack
    * branches type-align).
    *
    * Gate (the [[dailyActiveApprox]] discipline — HLL++ has no exact
    * regime, so hash-gating the estimate would gate noise): the row joins
    * the exact profile on col_name, carries the exact n_distinct as the
    * anchor, and `approx_ok` asserts |approx − exact| ≤ max(1, 3·rsd·
    * exact) — the 3σ band at rsd 0.05 with an absolute ±1 floor (HLL's
    * integer rounding makes ±1 reachable at any cardinality; deterministic
    * on fixed data, so the flag is stable). The oracle demands approx_ok=1
    * for every column; n_rows/n_null/n_distinct/min/max stay exact-hashed.
    */
  /** The approx-profile gate's ONE tolerance constant (r16 advisory —
    * the band and the sketch precision must move together or the gate
    * silently becomes noise-gating / a guaranteed pass): 3σ in percent.
    * rsd = ProfileRsdPctX3/300 (= 0.05); approx_ok band = ±(ProfileRsdPctX3/100)·exact.
    */
  private val ProfileRsdPctX3 = 15L

  def profileLineitemApprox(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir).select(
      col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
      col("l_linenumber").cast("long").as("l_linenumber"),
      floor(col("l_quantity")).cast("long").as("l_quantity_floor"))
    // TWO 1-row passes over the same 5-column projection, cross-joined:
    // approx_count_distinct is an ImperativeAggregate, and ONE imperative
    // function in an Aggregate demotes EVERY sibling expression to the
    // interpreted ObjectHashAggregate path — the fused 21-expression
    // single pass ran 4.7 s warm at sf0.1 (r15) while these two passes
    // (codegen'd null/min/max/count + HLL-only) total ~1 s. Still zero
    // per-row shuffle: each pass reduces to one row map-side. At 100 TB
    // the second scan is the price of keeping the scalar profile inside
    // whole-stage codegen; fusing would need a codegen'd HLL kernel.
    val scalarAggs = ProfileCols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nn"),
        min(col(c)).as(s"${c}__mn"), max(col(c)).as(s"${c}__mx"))
    }
    // rsd = ProfileRsdPctX3/300 = 0.05 (p = 9, 512 registers ≈ 52 buffer
    // words/column), not 0.01 (p = 14, 16384 registers ≈ 1.6 k
    // words/column): the imperative-agg buffer row is written per input
    // row, so register width IS the per-row cost — r15's rsd 0.01 made
    // this the second-slowest query in the suite for precision the ±3σ
    // gate never needed.
    val hllAggs = ProfileCols.map { c =>
      approx_count_distinct(col(c), ProfileRsdPctX3 / 300.0).as(s"${c}__ad")
    }
    val wide = li.agg(count(lit(1)).as("__rows"), scalarAggs: _*)
      .crossJoin(li.agg(hllAggs.head, hllAggs.tail: _*))
    val stackArgs = ProfileCols.map(c =>
      s"'$c', ${c}__nn, ${c}__ad, ${c}__mn, ${c}__mx").mkString(", ")
    val approx = wide.select(col("__rows").as("n_rows"),
      expr(s"stack(${ProfileCols.size}, $stackArgs)")
        .as(Seq("col_name", "n_null", "n_distinct_approx", "min_v", "max_v")))
    // The anchor is the ALREADY-GATED a_profile output, shared through
    // the registry — one exact 5-branch computation per session, not a
    // second one buried inside the approx query (r15 benched this query
    // at 4.8 s because it recomputed the exact profile it anchors to).
    // 5 rows persisted; the approx query's own cost is the single scan.
    val exact = graft.CacheRegistry.cached(spark, s"analytics.profileExact:$sfDir") {
      profileLineitem(spark, sfDir)
    }.select(col("col_name").as("e_col"), col("n_distinct"))
    approx.join(broadcast(exact), col("col_name") === col("e_col"))
      .select(col("col_name"), col("n_rows"), col("n_null"), col("n_distinct"),
        col("min_v"), col("max_v"),
        when(abs(col("n_distinct_approx") - col("n_distinct")) * lit(100L) <=
            greatest(lit(100L), lit(ProfileRsdPctX3) * col("n_distinct")), 1L)
          .otherwise(0L).as("approx_ok"))
  }

  val profileLineitemApproxSql: String = {
    val branches = ProfileCols.map(c =>
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         |  count(DISTINCT $c) AS n_distinct, min($c) AS min_v, max($c) AS max_v,
         |  CAST(1 AS BIGINT) AS approx_ok
         |FROM li""".stripMargin).mkString("\nUNION ALL\n")
    s"""WITH li AS (
       |  SELECT l_orderkey, l_partkey, l_suppkey,
       |    CAST(l_linenumber AS BIGINT) AS l_linenumber,
       |    CAST(floor(l_quantity) AS BIGINT) AS l_quantity_floor
       |  FROM lineitem)
       |$branches""".stripMargin
  }

  // ------------------------------------------------------------------
  // TPC-H Q5-shaped regional revenue: lineitem ⋈ orders ⋈ customer ⋈
  // supplier ⋈ nation ⋈ region, local-supplier condition (customer and
  // supplier in the same nation), one-year date slice, revenue per
  // nation. The 100 TB plan this declares: the date filter pushes into
  // the orders scan (PushedFilters), the 25-row nation⋈region product
  // broadcasts, and the two fact joins (lineitem⋈orders on orderkey,
  // +customer/+supplier on their keys) are the only shuffles — AQE picks
  // shuffle-hash vs broadcast for customer/supplier by actual size, which
  // is the right call at both sf0.01 (broadcast) and SF 100k (shuffle).
  // Revenue sums are DECIMAL-exact end to end (class scaladoc).
  // ------------------------------------------------------------------
  def regionalRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val nations = Tables.nation(spark, sfDir)
      .join(broadcast(Tables.region(spark, sfDir).where(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val ord = Tables.orders(spark, sfDir)
      .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_extendedprice").cast("decimal(18,2)") *
          (lit(BigDecimal(1)).cast("decimal(18,2)") -
            col("l_discount").cast("decimal(18,2)"))).as("disc_price"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sfDir).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(spark, sfDir).select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nations), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(sum("disc_price").cast("decimal(38,4)").cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val regionalRevenueSql: String =
    """SELECT n_name,
      |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
      |    AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY n_name""".stripMargin

  // ------------------------------------------------------------------
  // Time-based moving aggregate over the event stream: per user, the
  // rolling sum/count/mean of the last 5 seconds of integer measures —
  // a RANGE frame keyed on epoch-ms, not a ROWS frame: with duplicate
  // timestamps a ROWS frame's content depends on the engine's tie order
  // (non-deterministic across engines AND across Spark shuffles), while
  // a RANGE frame is a pure function of the key value. Scale shape: one
  // hash-shuffle on user_id + per-partition sort — the standard windowed
  // plan; sums are exact integers, the mean is one division to double.
  // ------------------------------------------------------------------
  val MovingWindowMs = 5000L

  def movingWindow(spark: SparkSession, sfDir: String): DataFrame = {
    val evRaw = Tables.events(spark, sfDir)
    val ev = evRaw.select(col("user_id"),
      graft.Shapes.eventTimeMs(evRaw).as("tms"),
      expr("CAST(floor(value) AS BIGINT)").as("x"))
    val w = Window.partitionBy("user_id").orderBy("tms")
      .rangeBetween(-MovingWindowMs, 0)
    ev.select(col("user_id"), col("tms"), col("x"),
      sum("x").over(w).as("win_sum"),
      count(lit(1)).over(w).as("win_n"))
      .withColumn("win_avg", expr("CAST(win_sum AS DOUBLE) / win_n"))
  }

  val movingWindowSql: String =
    s"""SELECT user_id, tms, x,
       |  CAST(sum(x) OVER w AS BIGINT) AS win_sum,
       |  count(*) OVER w AS win_n,
       |  CAST(CAST(sum(x) OVER w AS BIGINT) AS DOUBLE) / (count(*) OVER w) AS win_avg
       |FROM (SELECT user_id, epoch_ms(ts) AS tms,
       |        CAST(floor(value) AS BIGINT) AS x FROM events)
       |WINDOW w AS (PARTITION BY user_id ORDER BY tms
       |  RANGE BETWEEN $MovingWindowMs PRECEDING AND CURRENT ROW)""".stripMargin

  // ------------------------------------------------------------------
  // The moving window's HOT-KEY mitigation — the one family where
  // partitionBy(user_id) concentrates a skewed key's entire sort on one
  // task (SKEWBENCH measured 4.53× under a 50%-hot user; the reference's
  // skew thesis, one-group-stateless/src/main/scala/partitioner/
  // DPartitioner.scala:31-54). Two-level form: partition by (user_id,
  // time-bucket) with bucket width = the window size, and replicate each
  // row into its own bucket AND the next one (explode — 2× map-side
  // amplification, the salting analogue where the salt is TIME, so it is
  // deterministic and exact). For a row at t in bucket b, every frame
  // member lies in [t−W, t] ⊆ buckets {b−1, b}, and both kinds appear
  // exactly once in partition (user, b): native-b rows via their own
  // copy, native-(b−1) rows via their +1 copy. The RANGE frame over the
  // partition therefore equals the global frame, and filtering back to
  // pb = native bucket emits each row once — identical output to
  // movingWindow (same oracle), but the hot user's sort now spreads
  // across all its time buckets instead of one task. Cost: 2× rows into
  // the same single shuffle; per-task sorts shrink from |user's events|
  // to |user's events per bucket|.
  // ------------------------------------------------------------------
  def movingWindowBucketed(spark: SparkSession, sfDir: String): DataFrame = {
    val evRaw = Tables.events(spark, sfDir)
    val ev = evRaw.select(col("user_id"),
      graft.Shapes.eventTimeMs(evRaw).as("tms"),
      expr("CAST(floor(value) AS BIGINT)").as("x"))
      .withColumn("bkt", expr(s"tms div $MovingWindowMs"))
    val spread = ev.select(col("user_id"), col("tms"), col("x"), col("bkt"),
      explode(array(col("bkt"), col("bkt") + 1)).as("pb"))
    val w = Window.partitionBy("user_id", "pb").orderBy("tms")
      .rangeBetween(-MovingWindowMs, 0)
    spread.select(col("user_id"), col("tms"), col("x"), col("bkt"), col("pb"),
        sum("x").over(w).as("win_sum"),
        count(lit(1)).over(w).as("win_n"))
      .where(col("pb") === col("bkt"))
      .withColumn("win_avg", expr("CAST(win_sum AS DOUBLE) / win_n"))
      .select("user_id", "tms", "x", "win_sum", "win_n", "win_avg")
  }

  /** Same result contract as movingWindow — the oracle is shared. */
  val movingWindowBucketedSql: String = movingWindowSql

  // ------------------------------------------------------------------
  // Sequential funnel over the event stream: per user, the earliest
  // view, the earliest click AT OR AFTER that view, and the earliest
  // purchase at or after that click — then the user count per stage
  // (the classic ordered-conversion funnel; >= keeps same-timestamp
  // progressions, matching typical at-least-once event clocks). Shape:
  // three min-aggregates + two user-key joins; every join reuses the
  // user_id hash partitioning of the aggregate before it, so the whole
  // funnel is effectively ONE shuffle of the (filtered) event stream at
  // scale, and each stage's relation only shrinks.
  // ------------------------------------------------------------------
  def funnel(spark: SparkSession, sfDir: String): DataFrame = {
    val evRaw = Tables.events(spark, sfDir)
    val ev = evRaw.select(col("user_id"),
      graft.Shapes.eventTimeMs(evRaw).as("tms"), col("event_type"))
    val v = ev.where(col("event_type") === "view")
      .groupBy("user_id").agg(min("tms").as("t1"))
    val c = ev.where(col("event_type") === "click").join(v, "user_id")
      .where(col("tms") >= col("t1"))
      .groupBy("user_id").agg(min("tms").as("t2"))
    val p = ev.where(col("event_type") === "purchase").join(c, "user_id")
      .where(col("tms") >= col("t2"))
      .groupBy("user_id").agg(min("tms").as("t3"))
    v.agg(count(lit(1)).as("n_users")).select(lit(1L).as("stage"), lit("view").as("step"), col("n_users"))
      .unionAll(c.agg(count(lit(1)).as("n_users"))
        .select(lit(2L).as("stage"), lit("click").as("step"), col("n_users")))
      .unionAll(p.agg(count(lit(1)).as("n_users"))
        .select(lit(3L).as("stage"), lit("purchase").as("step"), col("n_users")))
  }

  val funnelSql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_ms(ts) AS tms, event_type FROM events),
      |v AS (SELECT user_id, min(tms) AS t1 FROM ev
      |      WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, min(e.tms) AS t2 FROM ev e JOIN v USING (user_id)
      |      WHERE e.event_type = 'click' AND e.tms >= v.t1 GROUP BY e.user_id),
      |p AS (SELECT e.user_id, min(e.tms) AS t3 FROM ev e JOIN c USING (user_id)
      |      WHERE e.event_type = 'purchase' AND e.tms >= c.t2 GROUP BY e.user_id)
      |SELECT 1 AS stage, 'view' AS step, count(*) AS n_users FROM v
      |UNION ALL SELECT 2, 'click', count(*) FROM c
      |UNION ALL SELECT 3, 'purchase', count(*) FROM p""".stripMargin

  // ------------------------------------------------------------------
  // Time-bounded funnel: same ordered stages, but each conversion must
  // land within a window of the previous stage (click within a day of
  // the first view, purchase within a day of that click) — the form
  // product analytics actually reports ("1-day conversion"), and a
  // different answer from the unbounded funnel whenever a user converts
  // late. Same one-effective-shuffle scale shape as `funnel`.
  // ------------------------------------------------------------------
  val FunnelWindowMs: Long = DayMs

  def funnelWindowed(spark: SparkSession, sfDir: String): DataFrame = {
    val evRaw = Tables.events(spark, sfDir)
    val ev = evRaw.select(col("user_id"),
      graft.Shapes.eventTimeMs(evRaw).as("tms"), col("event_type"))
    val v = ev.where(col("event_type") === "view")
      .groupBy("user_id").agg(min("tms").as("t1"))
    val c = ev.where(col("event_type") === "click").join(v, "user_id")
      .where(col("tms") >= col("t1") && col("tms") <= col("t1") + FunnelWindowMs)
      .groupBy("user_id").agg(min("tms").as("t2"))
    val p = ev.where(col("event_type") === "purchase").join(c, "user_id")
      .where(col("tms") >= col("t2") && col("tms") <= col("t2") + FunnelWindowMs)
      .groupBy("user_id").agg(min("tms").as("t3"))
    v.agg(count(lit(1)).as("n_users")).select(lit(1L).as("stage"), lit("view").as("step"), col("n_users"))
      .unionAll(c.agg(count(lit(1)).as("n_users"))
        .select(lit(2L).as("stage"), lit("click").as("step"), col("n_users")))
      .unionAll(p.agg(count(lit(1)).as("n_users"))
        .select(lit(3L).as("stage"), lit("purchase").as("step"), col("n_users")))
  }

  val funnelWindowedSql: String =
    s"""WITH ev AS (
       |  SELECT user_id, epoch_ms(ts) AS tms, event_type FROM events),
       |v AS (SELECT user_id, min(tms) AS t1 FROM ev
       |      WHERE event_type = 'view' GROUP BY user_id),
       |c AS (SELECT e.user_id, min(e.tms) AS t2 FROM ev e JOIN v USING (user_id)
       |      WHERE e.event_type = 'click' AND e.tms >= v.t1
       |        AND e.tms <= v.t1 + $FunnelWindowMs GROUP BY e.user_id),
       |p AS (SELECT e.user_id, min(e.tms) AS t3 FROM ev e JOIN c USING (user_id)
       |      WHERE e.event_type = 'purchase' AND e.tms >= c.t2
       |        AND e.tms <= c.t2 + $FunnelWindowMs GROUP BY e.user_id)
       |SELECT 1 AS stage, 'view' AS step, count(*) AS n_users FROM v
       |UNION ALL SELECT 2, 'click', count(*) FROM c
       |UNION ALL SELECT 3, 'purchase', count(*) FROM p""".stripMargin

  // ------------------------------------------------------------------
  // Cohort retention: users bucketed by first-active day; for each
  // (cohort_day, day_offset), how many of that cohort were active again
  // offset days later. Day ids are exact integer epoch-day divisions.
  // Shape: one distinct on the (user, day) pair, one min-aggregate on
  // the user key, one join that reuses its partitioning, one final
  // grouped count — all linear, the classic retention-triangle build.
  // ------------------------------------------------------------------
  def retention(spark: SparkSession, sfDir: String): DataFrame = {
    val evRaw = Tables.events(spark, sfDir)
    val days = evRaw.select(col("user_id"),
      graft.Shapes.ltw(graft.Shapes.eventTimeMs(evRaw), DayMs).as("day"))
      .distinct()
    val first = days.groupBy("user_id").agg(min("day").as("cohort_day"))
    days.join(first, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  val retentionSql: String =
    s"""WITH days AS (
       |  SELECT DISTINCT user_id, epoch_ms(ts) // $DayMs AS day FROM events),
       |first AS (SELECT user_id, min(day) AS cohort_day FROM days GROUP BY user_id)
       |SELECT f.cohort_day, d.day - f.cohort_day AS day_offset,
       |  count(*) AS n_users
       |FROM days d JOIN first f USING (user_id)
       |GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // Market share (TPC-H Q8 shape): per order-year inside the ASIA
  // region, each supplier nation's revenue and its share of the year's
  // total. The share is ONE division of two exact decimal sums cast to
  // double (deterministic both engines); the share window runs over the
  // tiny (year × nation) grouped relation, not the facts. Same fact-join
  // scale shape as regionalRevenue (pushed date slice, broadcast dims,
  // AQE-planned fact joins), minus the local-supplier condition — here
  // customers buy cross-nation and supplier nationality attributes the
  // revenue.
  // ------------------------------------------------------------------
  def marketShare(spark: SparkSession, sfDir: String): DataFrame = {
    val nations = Tables.nation(spark, sfDir)
      .join(broadcast(Tables.region(spark, sfDir).where(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val ord = Tables.orders(spark, sfDir)
      .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_extendedprice").cast("decimal(18,2)") *
          (lit(BigDecimal(1)).cast("decimal(18,2)") -
            col("l_discount").cast("decimal(18,2)"))).as("disc_price"))
    val byNation = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.supplier(spark, sfDir).select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nations), col("s_nationkey") === col("n_nationkey"))
      .groupBy("o_year", "n_name")
      .agg(sum("disc_price").cast("decimal(38,4)").as("rev_dec"))
    byNation
      .withColumn("total_dec",
        sum("rev_dec").over(Window.partitionBy("o_year")).cast("decimal(38,4)"))
      .select(col("o_year").cast("long").as("o_year"), col("n_name"),
        col("rev_dec").cast("double").as("revenue"),
        (col("rev_dec").cast("double") / col("total_dec").cast("double")).as("share"))
  }

  val marketShareSql: String =
    """WITH by_nation AS (
      |  SELECT year(o_orderdate) AS o_year, n_name,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |        (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
      |      AS DECIMAL(38,4)) AS rev_dec
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  WHERE r_name = 'ASIA'
      |    AND o_orderdate >= TIMESTAMP '1996-01-01'
      |    AND o_orderdate < TIMESTAMP '1998-01-01'
      |  GROUP BY 1, 2)
      |SELECT CAST(o_year AS BIGINT) AS o_year, n_name,
      |  CAST(rev_dec AS DOUBLE) AS revenue,
      |  CAST(rev_dec AS DOUBLE) /
      |    CAST(CAST(sum(rev_dec) OVER (PARTITION BY o_year) AS DECIMAL(38,4)) AS DOUBLE)
      |    AS share
      |FROM by_nation""".stripMargin

  // ------------------------------------------------------------------
  // Brand revenue: lineitem ⋈ part (the product dimension), revenue and
  // quantity per brand. The part side is the canonical broadcast dim —
  // hinted explicitly; the fact table aggregates after ONE broadcast
  // join, no fact shuffle before the final 25-ish-group aggregate
  // (partial agg collapses it map-side). Decimal-exact money; quantity
  // sums stay integral (the fixture writes whole-unit quantities — floor
  // makes that explicit rather than trusting the double).
  // ------------------------------------------------------------------
  def brandRevenue(spark: SparkSession, sfDir: String): DataFrame =
    // r19: widen measured and DECLINED (Probe: 0.51 widened vs 0.53
    // narrow — inside noise; one decimal product + one probe per row is
    // too light for the exchange).
    Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), expr("CAST(floor(l_quantity) AS BIGINT)").as("qty"),
        (col("l_extendedprice").cast("decimal(18,2)") *
          (lit(BigDecimal(1)).cast("decimal(18,2)") -
            col("l_discount").cast("decimal(18,2)"))).as("disc_price"))
      .join(broadcast(Tables.part(spark, sfDir).select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(sum("disc_price").cast("decimal(38,4)").cast("double").as("revenue"),
        sum("qty").as("sum_qty"),
        count(lit(1)).as("n_items"))

  val brandRevenueSql: String =
    """SELECT p_brand,
      |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
      |    AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
      |  CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
      |  count(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand""".stripMargin

  // ------------------------------------------------------------------
  // Late-order priority count (TPC-H Q4 shape): orders with AT LEAST ONE
  // line item shipped more than 60 days after the order date, counted
  // per order priority. The existence test is a LEFT SEMI join — the
  // probe emits each order at most once with no post-join dedup, the
  // shape Catalyst turns EXISTS into and the right 100× plan (a plain
  // inner join + distinct would shuffle every late line). The date
  // arithmetic is timestamp + literal interval: deterministic, and the
  // join condition evaluates on already-joined rows (no pushdown loss —
  // the orderkey equi-condition still drives the hash join).
  // ------------------------------------------------------------------
  val LateDays = 60

  def orderPriorityLate(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    // r19: keyed widen measured here (Probe, 6 interleaved rounds) and
    // DECLINED — 0.66 s widened vs 0.63 s narrow: the semi-join probe is
    // too cheap per row for the exchange-reuse trick to pay (unlike
    // nationTradeVolume / shipDelayPriority, where it ships).
    val l = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_shipdate")
    o.join(l,
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $LateDays DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_late_orders"))
  }

  val orderPriorityLateSql: String =
    s"""SELECT o_orderpriority, count(*) AS n_late_orders
       |FROM orders o
       |WHERE EXISTS (
       |  SELECT 1 FROM lineitem l
       |  WHERE l.l_orderkey = o.o_orderkey
       |    AND l.l_shipdate > o.o_orderdate + INTERVAL $LateDays DAY)
       |GROUP BY o_orderpriority""".stripMargin

  // ------------------------------------------------------------------
  // Per-user event deltas: each event paired with the time gap and
  // measure change from the user's PREVIOUS event — the inter-arrival
  // relation whose distribution picks sessionization gaps and retention
  // day widths. lag() over (tms, event_id) — the unique id makes the
  // order total, so ties cannot reorder across engines; first events
  // (no predecessor) are dropped rather than emitted with NULL deltas.
  // Shape: the standard one-exchange-per-user windowed sort, same as
  // sessionize/movingWindow.
  // ------------------------------------------------------------------
  def eventDeltas(spark: SparkSession, sfDir: String): DataFrame = {
    val evRaw = Tables.events(spark, sfDir)
    val ev = evRaw.select(col("user_id"), col("event_id"),
      graft.Shapes.eventTimeMs(evRaw).as("tms"),
      expr("CAST(floor(value) AS BIGINT)").as("x"))
    val w = Window.partitionBy("user_id").orderBy("tms", "event_id")
    ev.select(col("user_id"), col("event_id"), col("tms"), col("x"),
        lag("tms", 1).over(w).as("prev_tms"),
        lag("x", 1).over(w).as("prev_x"))
      .where(col("prev_tms").isNotNull)
      .select(col("user_id"), col("event_id"), col("tms"), col("x"),
        (col("tms") - col("prev_tms")).as("dt"),
        (col("x") - col("prev_x")).as("dx"))
  }

  val eventDeltasSql: String =
    """SELECT user_id, event_id, tms, x, tms - prev_tms AS dt, x - prev_x AS dx
      |FROM (
      |  SELECT user_id, event_id, tms, x,
      |    lag(tms) OVER w AS prev_tms, lag(x) OVER w AS prev_x
      |  FROM (SELECT user_id, event_id, epoch_ms(ts) AS tms,
      |          CAST(floor(value) AS BIGINT) AS x FROM events)
      |  WINDOW w AS (PARTITION BY user_id ORDER BY tms, event_id))
      |WHERE prev_tms IS NOT NULL""".stripMargin

  // ------------------------------------------------------------------
  // Per-user outlier detection, exactly: flag events whose integer
  // measure deviates from the user's mean by more than 2 population
  // standard deviations — WITHOUT ever computing a mean or a stddev.
  // (x − S/n)² > 4·(nQ − S²)/n²  ⟺  (x·n − S)² > 4·(n·Q − S²), all
  // 64-bit integers (x ≤ ~10³; even at 10⁶ events/user both sides stay
  // ≤ ~10¹⁸ < Long.Max), so the flag is bit-identical across engines —
  // the FP-free formulation of the classic z-score rule. Shape: one
  // grouped (n, Σx, Σx²) aggregate + a user-key join back that reuses
  // its partitioning + a map-side filter; no window sort.
  // ------------------------------------------------------------------
  def outliers(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"),
        expr("CAST(floor(value) AS BIGINT)").as("x"))
    val stats = ev.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("x").as("s"),
        sum(col("x") * col("x")).as("q"))
    ev.join(stats, "user_id")
      .where((col("x") * col("n") - col("s")) * (col("x") * col("n") - col("s")) >
        lit(4L) * (col("n") * col("q") - col("s") * col("s")))
      .select("user_id", "event_id", "x", "n")
  }

  val outliersSql: String =
    """WITH ev AS (
      |  SELECT event_id, user_id, CAST(floor(value) AS BIGINT) AS x FROM events),
      |stats AS (
      |  SELECT user_id, count(*) AS n, CAST(sum(x) AS BIGINT) AS s,
      |    CAST(sum(x * x) AS BIGINT) AS q
      |  FROM ev GROUP BY user_id)
      |SELECT e.user_id, e.event_id, e.x, st.n
      |FROM ev e JOIN stats st USING (user_id)
      |WHERE (e.x * st.n - st.s) * (e.x * st.n - st.s) >
      |  4 * (st.n * st.q - st.s * st.s)""".stripMargin

  // ------------------------------------------------------------------
  // Keyless interval-containment join ("context join", beyond the
  // reference): for every high-value anchor event, every event in the
  // hour that follows it — the "what happened around each incident"
  // query behind anomaly triage and attribution windows. With no
  // equi-key between the two sides, Spark can only plan a range
  // predicate as BroadcastNestedLoopJoin — O(|events| × |anchors|)
  // predicate evaluations, and a hard failure once the anchor side
  // outgrows the broadcast. The scale composition is BIN BUCKETING:
  // quantize time into bins of exactly the window length, explode each
  // anchor interval into the (at most 2) bins it can overlap, map each
  // event to its single bin, and equi-join on the bin with the range
  // residual as a join-condition guard. The non-equi join becomes one
  // hash/SMJ shuffle on a dense integer key; per-task work is bounded by
  // events-per-bin × anchors-per-bin (both density-bounded, never
  // |events| × |anchors|). Exactly-once without DISTINCT: an event lives
  // in ONE bin and an anchor's exploded copies carry distinct bins, so
  // each (anchor, event) pair can meet at most once. Output rows are the
  // true join semantics (every in-window pair), so output volume is
  // density² per bin — the inherent cost of a keyless neighborhood join,
  // not of this plan.
  // ------------------------------------------------------------------
  val ContextWindowMs = 3600000L
  val AnchorMinValue = 300.0

  def intervalJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = Tables.events(spark, sfDir)
    val ev = raw.select(col("event_id"), graft.Shapes.eventTimeMs(raw).as("t"),
      col("value"))
    val probe = ev
      .withColumn("bin", graft.Shapes.ltw(col("t"), ContextWindowMs))
      .select("event_id", "t", "bin")
    val anchors = ev.where(col("value") >= AnchorMinValue)
      .select(col("event_id").as("anchor_id"), col("t").as("a_t"),
        graft.Shapes.ltw(col("t"), ContextWindowMs).as("b0"))
      .withColumn("jbin", explode(array(col("b0"), col("b0") + 1)))
    probe.join(anchors,
        probe("bin") === anchors("jbin") &&
          probe("t") >= anchors("a_t") &&
          probe("t") < anchors("a_t") + ContextWindowMs &&
          probe("event_id") =!= anchors("anchor_id"))
      .select(col("anchor_id"), col("event_id"),
        (col("t") - col("a_t")).as("delta_ms"))
  }

  val intervalJoinSql: String =
    s"""WITH ev AS (
       |  SELECT event_id, epoch_ms(ts) AS t, value FROM events),
       |anchors AS (
       |  SELECT event_id AS anchor_id, t AS a_t FROM ev
       |  WHERE value >= $AnchorMinValue)
       |SELECT a.anchor_id, e.event_id, e.t - a.a_t AS delta_ms
       |FROM ev e JOIN anchors a
       |  ON e.t >= a.a_t AND e.t < a.a_t + $ContextWindowMs
       |  AND e.event_id <> a.anchor_id""".stripMargin

  // ------------------------------------------------------------------
  // Daily active users — the gated batch anchor for the streaming
  // dailyActiveStream twin (StreamingParity): per UTC day, distinct
  // users + event volume. Exact COUNT(DISTINCT) is a two-phase
  // partial/final aggregate over (day, user_id) — one shuffle of 16-byte
  // pairs; at 100 TB cardinalities where even that distinct state hurts,
  // approx_count_distinct (HLL++) is the documented swap with the same
  // plan shape (the q3_skew_stats_approx pattern).
  // ------------------------------------------------------------------
  def dailyActive(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = Tables.events(spark, sfDir)
    raw.select(graft.Shapes.ltw(graft.Shapes.eventTimeMs(raw), 86400000L).as("day"),
        col("user_id"))
      .groupBy("day")
      .agg(countDistinct("user_id").as("dau"), count(lit(1)).as("n_events"))
  }

  val dailyActiveSql: String =
    """SELECT epoch_ms(ts) // 86400000 AS day,
      |  count(DISTINCT user_id) AS dau, count(*) AS n_events
      |FROM events GROUP BY 1""".stripMargin

  /** Documented-swap twin of [[dailyActive]], completing the pattern
    * that every exact-distinct aggregate ships with a bounded-state
    * production form (like `q3_skew_stats_approx` for skew stats):
    * `approx_count_distinct` is the HLL++ sketch — fixed bytes per day
    * group at ANY user cardinality, where `countDistinct`'s expanded
    * per-group distinct pass is the first casualty when a day holds
    * 10⁹ users. UNLIKE the skew-stats case, HLL++ has no usable exact
    * regime to pin (measured: off-by-one already at 130 distinct under
    * rsd=0.01 — linear counting rounds), so hash-gating the estimate
    * itself would be gating noise. The gate instead pins the sketch's
    * CONTRACT with exact integer arithmetic: the row carries the exact
    * dau as the anchor plus `approx_ok` = [|approx − dau|·100 ≤ 3·dau]
    * (the 3·rsd band; HLL is deterministic on fixed data, so the flag
    * is stable), and the oracle demands approx_ok = 1 for every day —
    * a real assertion that the production path delivers its advertised
    * error at gate scale, not a rows-only wave-through.
    *
    * Plan shape (round 9): ONE scan, ONE shuffle, NO multi-distinct
    * Expand. The r8 form mixed countDistinct with approx_count_distinct
    * in a single aggregate, which plans an Expand (2× row amplification
    * feeding rsd-0.01 HLL registers per expanded row) — the most
    * expensive bench line at 3.4 s vs the exact twin's 0.5 s. Instead:
    * pre-aggregate to distinct (day, user) pairs with their event
    * counts — the same 16-byte shuffle the exact twin pays — then per
    * day, dau = the group's row count (exact), n_events = Σ counts, and
    * the HLL sketch runs over the already-deduplicated user stream:
    * approx_count_distinct is duplicate-insensitive (HLL registers are
    * max-merged), so its estimate over distinct users is IDENTICAL to
    * the estimate over the raw stream, and the error contract gated
    * here is unchanged.
    */
  def dailyActiveApprox(spark: SparkSession, sfDir: String): DataFrame = {
    // r19: the user_id-keyed widen (exchange shared with the dedup
    // aggregate) was re-measured post-codegen-cache-fix and still loses
    // 1.9× (isolated bench A/B 1.77 s vs 0.95) — the per-partition
    // rsd-0.01 HLL partials dominate; the r18 revert holds.
    val raw = Tables.events(spark, sfDir)
    raw.select(
        graft.Shapes.ltw(graft.Shapes.eventTimeMs(raw), 86400000L).as("day"),
        col("user_id"))
      .groupBy("day", "user_id").agg(count(lit(1)).as("c"))
      .groupBy("day")
      .agg(count(lit(1)).as("dau"), sum("c").as("n_events"),
        approx_count_distinct(col("user_id"), 0.01).as("dau_approx"))
      .select(col("day"), col("dau"), col("n_events"),
        when(abs(col("dau_approx") - col("dau")) * lit(100L) <= lit(3L) * col("dau"), 1L)
          .otherwise(0L).as("approx_ok"))
  }

  val dailyActiveApproxSql: String =
    """SELECT epoch_ms(ts) // 86400000 AS day,
      |  count(DISTINCT user_id) AS dau, count(*) AS n_events,
      |  CAST(1 AS BIGINT) AS approx_ok
      |FROM events GROUP BY 1""".stripMargin

  // ------------------------------------------------------------------
  // Data-quality expectations — the Deequ/Great-Expectations capability
  // class: a validation suite evaluated IN the engine, one pass per
  // check, emitted as (check_name, observed, passed) rows a pipeline
  // gate consumes. The checks exercise the canonical families: volume
  // (non-empty), completeness (NULL keys), referential integrity
  // (orphan facts via LEFT ANTI — no join amplification), uniqueness
  // (duplicate dimension keys), and domain ranges. Each check is an
  // independent scalar aggregate over a pushed-down filter — at 100 TB
  // they run as parallel scan-bound jobs (or fuse into one pass with
  // conditional aggregates if scan count dominates; both forms are
  // linear, the per-check form keeps filters in PushedFilters).
  // ------------------------------------------------------------------
  def expectations(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
    def row(name: String, observed: DataFrame, expectZero: Boolean): DataFrame =
      observed.agg(count(lit(1)).as("observed"))
        .select(lit(name).as("check_name"), col("observed"),
          (if (expectZero) col("observed") === 0L else col("observed") > 0L)
            .as("passed"))
    row("lineitem_nonempty", li, expectZero = false)
      .unionByName(row("null_orderkeys",
        li.where(col("l_orderkey").isNull), expectZero = true))
      .unionByName(row("orphan_lineitems",
        li.join(ord, li("l_orderkey") === ord("o_orderkey"), "left_anti"),
        expectZero = true))
      .unionByName(row("dup_orderkeys",
        ord.groupBy("o_orderkey").agg(count(lit(1)).as("c")).where(col("c") > 1),
        expectZero = true))
      .unionByName(row("qty_out_of_range",
        li.where(col("l_quantity") < 1 || col("l_quantity") > 50),
        expectZero = true))
      .unionByName(row("nonpositive_price",
        li.where(col("l_extendedprice") <= 0), expectZero = true))
  }

  val expectationsSql: String =
    """SELECT 'lineitem_nonempty' AS check_name, count(*) AS observed,
      |  count(*) > 0 AS passed FROM lineitem
      |UNION ALL
      |SELECT 'null_orderkeys', count(*), count(*) = 0
      |FROM lineitem WHERE l_orderkey IS NULL
      |UNION ALL
      |SELECT 'orphan_lineitems', count(*), count(*) = 0
      |FROM lineitem l
      |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
      |UNION ALL
      |SELECT 'dup_orderkeys', count(*), count(*) = 0
      |FROM (SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) > 1)
      |UNION ALL
      |SELECT 'qty_out_of_range', count(*), count(*) = 0
      |FROM lineitem WHERE l_quantity < 1 OR l_quantity > 50
      |UNION ALL
      |SELECT 'nonpositive_price', count(*), count(*) = 0
      |FROM lineitem WHERE l_extendedprice <= 0""".stripMargin

  // ------------------------------------------------------------------
  // SCD-2 dimension history build — the classic warehouse pattern the
  // inventory lacked: a change feed of dimension versions becomes
  // [valid_from, valid_to] interval rows via one lead() window, with an
  // open current row per key. The change feed is synthesized
  // deterministically from `customer` (the upsertMerge convention:
  // custkey%4==1 revised in 1994, %8==1 again in 1996) so the oracle is
  // self-contained; balances go through the DECIMAL(18,2) cents recipe —
  // DOUBLE→BIGINT casts TRUNCATE in Spark but ROUND in DuckDB, so the
  // decimal hop is what keeps cents bit-exact (the file-header money
  // rule). Shape: one custkey-partitioned window over ≤3 rows/key — at
  // 100 TB this is the merge-on-read compaction of a dimension change
  // stream: one key-partitioned sort-window pass, no joins.
  // ------------------------------------------------------------------
  val Scd2OpenYear = 9999L

  private def scd2Versions(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
      .select(col("c_custkey").cast("long").as("custkey"),
        (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long").as("bal_cents"))
    c.select(col("custkey"), lit(1L).as("version"), lit(1992L).as("valid_from"),
        col("bal_cents"))
      .unionByName(c.where(col("custkey") % 4 === 1)
        .select(col("custkey"), lit(2L).as("version"), lit(1994L).as("valid_from"),
          (col("bal_cents") + 1000L).as("bal_cents")))
      .unionByName(c.where(col("custkey") % 8 === 1)
        .select(col("custkey"), lit(3L).as("version"), lit(1996L).as("valid_from"),
          (col("bal_cents") + 2000L).as("bal_cents")))
  }

  private val scd2VersionsSql: String =
    """SELECT custkey, CAST(1 AS BIGINT) AS version,
      |  CAST(1992 AS BIGINT) AS valid_from, bal_cents FROM scd_c
      |UNION ALL
      |SELECT custkey, CAST(2 AS BIGINT), CAST(1994 AS BIGINT), bal_cents + 1000
      |FROM scd_c WHERE custkey % 4 = 1
      |UNION ALL
      |SELECT custkey, CAST(3 AS BIGINT), CAST(1996 AS BIGINT), bal_cents + 2000
      |FROM scd_c WHERE custkey % 8 = 1""".stripMargin

  private val scd2CSql: String =
    """SELECT c_custkey AS custkey,
      |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_cents
      |FROM customer""".stripMargin

  def scd2Build(spark: SparkSession, sfDir: String): DataFrame =
    scd2Versions(spark, sfDir)
      .withColumn("valid_to", coalesce(
        lead(col("valid_from"), 1).over(
          Window.partitionBy("custkey").orderBy("version")) - 1L,
        lit(Scd2OpenYear)))
      .withColumn("is_current", (col("valid_to") === Scd2OpenYear).cast("long"))
      .select("custkey", "version", "bal_cents", "valid_from", "valid_to",
        "is_current")

  val scd2BuildSql: String =
    s"""WITH scd_c AS ($scd2CSql),
       |v AS ($scd2VersionsSql)
       |SELECT custkey, version, bal_cents, valid_from,
       |  CAST(coalesce(lead(valid_from) OVER (PARTITION BY custkey
       |    ORDER BY version) - 1, $Scd2OpenYear) AS BIGINT) AS valid_to,
       |  CAST(coalesce(lead(valid_from) OVER (PARTITION BY custkey
       |    ORDER BY version) - 1, $Scd2OpenYear) = $Scd2OpenYear AS BIGINT)
       |    AS is_current
       |FROM v""".stripMargin

  // ------------------------------------------------------------------
  // SCD-2 point-in-time (as-of) fact lookup: each order joins the
  // dimension version whose validity interval covers the order year —
  // the temporal-join consumer every SCD-2 table exists for. The
  // intervals partition [1992, ∞) per key, so every order matches
  // EXACTLY one version (spec-pinned). Plan: equi-join on custkey with
  // the interval predicate as a residual filter; the dimension side
  // broadcasts here, and at 100 TB the same plan hash-partitions both
  // sides on custkey — the fact table never moves twice.
  // ------------------------------------------------------------------
  def scd2Asof(spark: SparkSession, sfDir: String): DataFrame = {
    val dim = scd2Build(spark, sfDir)
    Tables.orders(spark, sfDir)
      .select(col("o_custkey").cast("long").as("custkey"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .join(broadcast(dim), Seq("custkey"))
      .where(col("o_year") >= col("valid_from") && col("o_year") <= col("valid_to"))
      .groupBy("version")
      .agg(count(lit(1)).as("n_orders"),
        countDistinct("custkey").as("n_customers"),
        sum("bal_cents").as("sum_bal_cents"))
  }

  val scd2AsofSql: String =
    s"""WITH scd_c AS ($scd2CSql),
       |v AS ($scd2VersionsSql),
       |dim AS (
       |  SELECT custkey, version, bal_cents, valid_from,
       |    coalesce(lead(valid_from) OVER (PARTITION BY custkey
       |      ORDER BY version) - 1, $Scd2OpenYear) AS valid_to
       |  FROM v)
       |SELECT version, count(*) AS n_orders,
       |  count(DISTINCT o.o_custkey) AS n_customers,
       |  CAST(sum(bal_cents) AS BIGINT) AS sum_bal_cents
       |FROM orders o
       |JOIN dim d ON o.o_custkey = d.custkey
       |  AND year(o.o_orderdate) >= d.valid_from
       |  AND year(o.o_orderdate) <= d.valid_to
       |GROUP BY version""".stripMargin

  // ------------------------------------------------------------------
  // Large-volume orders (TPC-H Q18 shape): orders whose total quantity
  // clears a threshold, joined back to the customer — the
  // aggregate-then-semi-join pattern (HAVING-driven IN subquery). The
  // qualifying-order set is tiny (threshold-selective) so the join back
  // to orders/customer broadcasts it; quantities ride the DECIMAL hop
  // (whole numbers stored as DOUBLE — the decimal cast is what keeps
  // the BIGINT exact on both engines).
  // ------------------------------------------------------------------
  val LargeOrderQty = 250L

  def largeOrders(spark: SparkSession, sfDir: String): DataFrame = {
    // r19: widen on the group key — the repartition IS the aggregate's
    // required partitioning (one exchange either way, but the decimal
    // partial agg runs wide instead of fused into the single-task scan;
    // guide §2.4/§2.5). Interleaved Probe A/B: 0.46 s vs 0.64 s narrow.
    val qty = Par.widenTable(spark,
        Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity"),
        sfDir, "lineitem", col("l_orderkey"))
      .select(col("l_orderkey"),
        col("l_quantity").cast("decimal(18,2)").as("q"))
      .groupBy("l_orderkey")
      .agg(sum("q").cast("decimal(18,2)").cast("long").as("total_qty"))
      .where(col("total_qty") > LargeOrderQty)
    Tables.orders(spark, sfDir)
      .join(broadcast(qty), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").cast("long").as("c_custkey"),
        col("o_orderkey").cast("long").as("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("o_year"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("price_cents"),
        col("total_qty"))
  }

  val largeOrdersSql: String =
    s"""WITH qty AS (
       |  SELECT l_orderkey,
       |    CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2))
       |      AS BIGINT) AS total_qty
       |  FROM lineitem GROUP BY l_orderkey
       |  HAVING CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2))
       |    AS BIGINT) > $LargeOrderQty)
       |SELECT o_custkey AS c_custkey, o_orderkey,
       |  CAST(year(o_orderdate) AS BIGINT) AS o_year,
       |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_cents,
       |  total_qty
       |FROM orders JOIN qty ON o_orderkey = qty.l_orderkey""".stripMargin

  // ------------------------------------------------------------------
  // Sole-blame suppliers (TPC-H Q21 shape): in finished multi-supplier
  // orders, the supplier who was the ONLY late shipper takes the blame.
  // The classic formulation is EXISTS + NOT-EXISTS on the same table;
  // the Spark plan replaces both correlated probes with ONE per-
  // (order, supplier) aggregate — any_late per participant — and a
  // WINDOW rollup over it (n_sups, n_late_sups per order), then a
  // filter: late participant in an order with ≥2 suppliers and exactly
  // one late one. The fact table is scanned ONCE (the window over the
  // aggregate replaces a self-join that would re-scan it) and shuffles
  // twice on 8-byte keys; the DuckDB oracle keeps the EXISTS/NOT-EXISTS
  // form, so the equivalence of the two formulations is itself gated.
  // ------------------------------------------------------------------
  def soleBlameSuppliers(spark: SparkSession, sfDir: String): DataFrame = {
    // r19: keyed widen (exchange shared by the join + aggregate + window)
    // measured and DECLINED — 0.65 s both arms in the interleaved Probe;
    // the chain is already one fact exchange end-to-end, so widening only
    // moves where the scan work happens, not how much of it there is.
    val l = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir).where(col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $LateDays DAYS"))
          .cast("long").as("late"))
    val w = Window.partitionBy("l_orderkey")
    l.groupBy("l_orderkey", "l_suppkey")
      .agg(max("late").as("any_late"))
      .withColumn("n_sups", count(lit(1)).over(w))
      .withColumn("n_late_sups", sum("any_late").over(w))
      .where(col("any_late") === 1 && col("n_sups") >= 2 && col("n_late_sups") === 1)
      .groupBy(col("l_suppkey").cast("long").as("s_suppkey"))
      .agg(count(lit(1)).as("numwait"))
  }

  val soleBlameSuppliersSql: String =
    s"""SELECT s_suppkey, count(*) AS numwait FROM (
       |  SELECT DISTINCT l1.l_orderkey, CAST(l1.l_suppkey AS BIGINT) AS s_suppkey
       |  FROM lineitem l1
       |  JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
       |  WHERE l1.l_shipdate > o.o_orderdate + INTERVAL $LateDays DAY
       |    AND EXISTS (
       |      SELECT 1 FROM lineitem l2
       |      WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
       |    AND NOT EXISTS (
       |      SELECT 1 FROM lineitem l3
       |      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
       |        AND l3.l_shipdate > o.o_orderdate + INTERVAL $LateDays DAY))
       |GROUP BY 1""".stripMargin

  // ------------------------------------------------------------------
  // Small-quantity outlier revenue (TPC-H Q17 shape): lineitems whose
  // quantity is under 20% of their PART's average order quantity — the
  // correlated scalar-aggregate subquery pattern. The correlation
  // collapses to one per-part aggregate (sum_qty, n_lines) joined back
  // on partkey, and the 0.2·avg comparison cross-multiplies to exact
  // integers: 5·q·n < sum ⇔ q < 0.2·(sum/n). One fact scan + one
  // 8-byte-key shuffle + a broadcast-sized part aggregate; output 1 row.
  // ------------------------------------------------------------------
  def smallQtyRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    // r19: the shared-exchange widen (l_partkey serving agg + join) was
    // measured and DECLINED — Probe read 0.51 s in both arms.
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"),
        col("l_quantity").cast("decimal(18,2)").cast("long").as("q"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("price_cents"))
    val perPart = li.groupBy("l_partkey")
      .agg(sum("q").as("sum_q"), count(lit(1)).as("n_lines"))
    li.join(perPart, "l_partkey")
      .where(lit(5L) * col("q") * col("n_lines") < col("sum_q"))
      .agg(count(lit(1)).as("n_small_lines"),
        sum("price_cents").as("sum_price_cents"))
  }

  val smallQtyRevenueSql: String =
    """WITH li AS (
      |  SELECT l_partkey,
      |    CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT) AS q,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS price_cents
      |  FROM lineitem),
      |pp AS (
      |  SELECT l_partkey, CAST(sum(q) AS BIGINT) AS sum_q,
      |    count(*) AS n_lines
      |  FROM li GROUP BY l_partkey)
      |SELECT count(*) AS n_small_lines,
      |  CAST(sum(price_cents) AS BIGINT) AS sum_price_cents
      |FROM li JOIN pp USING (l_partkey)
      |WHERE 5 * q * n_lines < sum_q""".stripMargin

  // ------------------------------------------------------------------
  // Idle high-balance customers (TPC-H Q22 shape): customers with an
  // above-average positive balance and no RECENT orders (none on/after
  // [[IdleCutoff]] — every fixture customer has some lifetime order, so
  // the churn window is what makes the anti-join meaningful), rolled up
  // per nation. The average comparison stays in exact integers by
  // cross-multiplying (bal_cents · n > total_cents) instead of
  // dividing — the 1-row (total, count) aggregate broadcasts; the
  // recent-order probe is a LEFT ANTI on the distinct recent o_custkey
  // set, with the date filter PUSHED to the orders scan.
  // ------------------------------------------------------------------
  val IdleCutoff = "2000-01-01"

  def idleCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
      .select(col("c_custkey").cast("long").as("custkey"), col("c_nationkey"),
        (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long").as("bal_cents"))
    val pos = c.where(col("bal_cents") > 0)
    val stats = pos.agg(sum("bal_cents").as("total_cents"),
      count(lit(1)).as("n_pos"))
    pos.crossJoin(broadcast(stats))
      .where(col("bal_cents") * col("n_pos") > col("total_cents"))
      .join(Tables.orders(spark, sfDir)
        .where(col("o_orderdate") >= lit(IdleCutoff).cast("timestamp"))
        .select(col("o_custkey").as("custkey"))
        .distinct(), Seq("custkey"), "left_anti")
      .join(broadcast(Tables.nation(spark, sfDir)
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_customers"), sum("bal_cents").as("sum_bal_cents"))
  }

  val idleCustomersSql: String =
    s"""WITH c AS (
      |  SELECT c_custkey AS custkey, c_nationkey,
      |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_cents
      |  FROM customer),
      |pos AS (SELECT * FROM c WHERE bal_cents > 0),
      |stats AS (
      |  SELECT CAST(sum(bal_cents) AS BIGINT) AS total_cents,
      |    count(*) AS n_pos FROM pos)
      |SELECT n_name, count(*) AS n_customers,
      |  CAST(sum(bal_cents) AS BIGINT) AS sum_bal_cents
      |FROM pos
      |CROSS JOIN stats
      |JOIN nation ON pos.c_nationkey = n_nationkey
      |WHERE bal_cents * n_pos > total_cents
      |  AND NOT EXISTS (
      |    SELECT 1 FROM orders WHERE o_custkey = pos.custkey
      |      AND o_orderdate >= TIMESTAMP '$IdleCutoff')
      |GROUP BY n_name""".stripMargin

  // ------------------------------------------------------------------
  // The PARTSUPP relation (TPC-H's part↔supplier bridge with supply cost
  // and availability). The driver fixtures ship no partsupp.parquet and
  // /root/testdata is read-only, so partsupp is a DETERMINISTIC DERIVED
  // TABLE: a pure integer function of the part and supplier key spaces,
  // recomputed identically by the Spark plan and by the DuckDB oracle
  // (as a CTE over the part/supplier views) — referentially consistent
  // at EVERY scale factor by construction, including GenScale's sharded
  // sf1/sf10 trees (keys shift by shard·10⁸; the formula works within
  // each shard, so a shard-k part gets shard-k suppliers exactly as the
  // sharding model requires). Shape, mirroring dbgen: each part gets 4
  // suppliers stepped S0/4 apart around the (0-based, contiguous —
  // asserted by a_expectations-style fixtures) supplier key ring;
  // availqty and supply cost are integer hashes of the within-shard
  // (part, supplier) base keys, cost carried as exact BIGINT CENTS (the
  // repo-wide money discipline). S0 — suppliers per shard — is read
  // from the supplier table itself (count below the shard stride), so
  // the same text is correct at sf0.001 (S0=10) through sf10 (S0=1000
  // per shard × 100 shards). Duplicate (part,supplier) pairs can arise
  // when the step wraps the ring (tiny S0); qty/cost depend only on the
  // base-key pair, so the duplicates are bit-identical rows and one
  // DISTINCT restores the primary key.
  // 100 TB: partsupp is |part|·4 rows — a DIMENSION-side relation (the
  // 4 derived rows per part are generated map-side from the part scan,
  // never shuffled; the one exchange is the DISTINCT's hash on the pair
  // key, skippable when S0 ≥ 4·step as the ring can't wrap).
  // ------------------------------------------------------------------
  val PartSuppStride: Long = 100000000L // = GenScale.Stride

  def partsupp(spark: SparkSession, sfDir: String): DataFrame = {
    val s0 = Tables.supplier(spark, sfDir)
      .where(col("s_suppkey") < lit(PartSuppStride))
      .agg(count(lit(1)).as("s0"))
    // r19: widening the generator's part scan on p_partkey (one aliased
    // exchange serving the DISTINCT + every consumer's per-part agg) was
    // measured and DECLINED — interleaved Probe: a_min_cost_supplier
    // 0.75 s widened vs 0.43 narrow, a_supplier_variety 0.45 vs 0.35,
    // a_important_parts wash; only the bare a_partsupp row won (0.12 vs
    // 0.22). The 4-rows-per-part explode is too cheap per byte to buy
    // back the exchange of the full generated relation.
    Tables.part(spark, sfDir).select("p_partkey")
      .crossJoin(broadcast(s0))
      .select(col("p_partkey"), col("s0"),
        explode(expr("sequence(0L, 3L)")).as("i"))
      .selectExpr(
        "p_partkey",
        s"p_partkey % ${PartSuppStride}L AS bp",
        s"p_partkey - p_partkey % ${PartSuppStride}L AS shard_off",
        s"(p_partkey % ${PartSuppStride}L + i * greatest(1L, s0 div 4)) % s0 AS bs")
      .selectExpr(
        "p_partkey AS ps_partkey",
        "shard_off + bs AS ps_suppkey",
        "(bp * 17 + bs * 31) % 9999 + 1 AS ps_availqty",
        "(bp * 293 + bs * 577) % 99901 + 100 AS ps_supplycost_cents")
      .distinct()
  }

  /** DuckDB-dialect CTE list deriving `partsupp` (use as `WITH $cte, …`). */
  val PartSuppCteDuck: String =
    s"""s0 AS (
       |  SELECT count(*) AS s0 FROM supplier WHERE s_suppkey < $PartSuppStride),
       |psg AS (
       |  SELECT p_partkey, p_partkey % $PartSuppStride AS bp,
       |    p_partkey - p_partkey % $PartSuppStride AS shard_off,
       |    (p_partkey % $PartSuppStride + i * greatest(1, s0 // 4)) % s0 AS bs
       |  FROM part CROSS JOIN s0
       |  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i)),
       |partsupp AS (
       |  SELECT DISTINCT p_partkey AS ps_partkey, shard_off + bs AS ps_suppkey,
       |    (bp * 17 + bs * 31) % 9999 + 1 AS ps_availqty,
       |    (bp * 293 + bs * 577) % 99901 + 100 AS ps_supplycost_cents
       |  FROM psg)""".stripMargin

  /** The derived relation itself, gated whole: pins Spark↔DuckDB parity
    * of the generator (every key, qty and cost hash-compared) so the four
    * TPC-H consumers below inherit a verified base table.
    */
  def partsuppBuild(spark: SparkSession, sfDir: String): DataFrame =
    partsupp(spark, sfDir)

  val partsuppBuildSql: String =
    s"""WITH $PartSuppCteDuck
       |SELECT ps_partkey, ps_suppkey, ps_availqty, ps_supplycost_cents
       |FROM partsupp""".stripMargin

  // ------------------------------------------------------------------
  // TPC-H Q2 shape: min-cost supplier per part — the correlated-scalar-
  // subquery decorrelation story. The DataFrame form IS the decorrelated
  // plan (per-part min + equality join back); the oracle states the
  // textbook correlated form (`WHERE cost = (SELECT min ... WHERE same
  // part)`) and DuckDB decorrelates it to the same agg+join —
  // asserted equal by the hash gate, like a_small_qty_revenue. Runs on
  // the REAL derived partsupp (r15 — the lineitem price-bridge proxy is
  // deleted): EUROPE suppliers the region cut (dimension chain
  // broadcast), supply cost as exact integer CENTS; ties resolve to the
  // smallest supplier key (Q2's deterministic tiebreak).
  // 100 TB: partsupp is generated map-side off the part scan; one
  // 8-byte-partkey shuffle for the min, one equality join back on the
  // same partitioning.
  // ------------------------------------------------------------------
  private def euSuppliers(spark: SparkSession, sfDir: String): DataFrame =
    Tables.supplier(spark, sfDir).select("s_suppkey", "s_nationkey")
      .join(broadcast(Tables.nation(spark, sfDir)
          .join(broadcast(Tables.region(spark, sfDir)
            .where(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
          .select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))

  def minCostSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val ps = partsupp(spark, sfDir)
      .join(broadcast(euSuppliers(spark, sfDir).select("s_suppkey")),
        col("ps_suppkey") === col("s_suppkey"))
      .select("ps_partkey", "ps_suppkey", "ps_supplycost_cents")
    val minp = ps.groupBy(col("ps_partkey").as("mp_partkey"))
      .agg(min("ps_supplycost_cents").as("min_cost_cents"))
    ps.join(minp,
        col("ps_partkey") === col("mp_partkey") &&
          col("ps_supplycost_cents") === col("min_cost_cents"))
      .groupBy(col("ps_partkey").as("p_partkey"), col("min_cost_cents"))
      .agg(min("ps_suppkey").as("best_suppkey"))
      .select("p_partkey", "min_cost_cents", "best_suppkey")
  }

  val minCostSupplierSql: String =
    s"""WITH $PartSuppCteDuck,
       |eu AS (
       |  SELECT s_suppkey FROM supplier
       |  JOIN nation ON s_nationkey = n_nationkey
       |  JOIN region ON n_regionkey = r_regionkey
       |  WHERE r_name = 'EUROPE'),
       |pse AS (
       |  SELECT ps_partkey, ps_suppkey, ps_supplycost_cents
       |  FROM partsupp JOIN eu ON ps_suppkey = s_suppkey)
       |SELECT ps_partkey AS p_partkey, ps_supplycost_cents AS min_cost_cents,
       |  min(ps_suppkey) AS best_suppkey
       |FROM pse o
       |WHERE ps_supplycost_cents = (
       |  SELECT min(ps_supplycost_cents) FROM pse i
       |  WHERE i.ps_partkey = o.ps_partkey)
       |GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // TPC-H Q11 shape: "important parts" — per-part stock value
  // Σ(ps_supplycost·ps_availqty) over the REAL derived partsupp (r15;
  // Q11's actual measure — the lineitem price proxy is deleted) with a
  // HAVING against the GLOBAL statistics (value·n_parts > Σvalue, the
  // cross-multiplied exact form of value > mean). Q11's textbook
  // fraction is a tuning constant; against this fixture's
  // concentrated per-part values ANY fixed fraction either
  // empties or passes everything as the scale factor moves, so the
  // gate pins the structural content — a grouped aggregate filtered
  // against a broadcast 1-row global aggregate of itself — with the
  // scale-free above-average line. The global scalar rides a broadcast;
  // partsupp generates map-side and shuffles once on the part key.
  // ------------------------------------------------------------------
  def importantParts(spark: SparkSession, sfDir: String): DataFrame = {
    val value = partsupp(spark, sfDir)
      .join(broadcast(euSuppliers(spark, sfDir).select("s_suppkey")),
        col("ps_suppkey") === col("s_suppkey"))
      .groupBy(col("ps_partkey").as("p_partkey"))
      .agg(sum(col("ps_supplycost_cents") * col("ps_availqty"))
        .as("value_cents"))
    val total = value.agg(sum("value_cents").as("total_cents"),
      count(lit(1)).as("n_parts"))
    value.crossJoin(broadcast(total))
      .where(col("value_cents") * col("n_parts") > col("total_cents"))
      .select("p_partkey", "value_cents")
  }

  val importantPartsSql: String =
    s"""WITH $PartSuppCteDuck,
       |eu AS (
       |  SELECT s_suppkey FROM supplier
       |  JOIN nation ON s_nationkey = n_nationkey
       |  JOIN region ON n_regionkey = r_regionkey
       |  WHERE r_name = 'EUROPE'),
       |v AS (
       |  SELECT ps_partkey AS p_partkey,
       |    CAST(sum(ps_supplycost_cents * ps_availqty) AS BIGINT) AS value_cents
       |  FROM partsupp JOIN eu ON ps_suppkey = s_suppkey
       |  GROUP BY 1),
       |t AS (SELECT CAST(sum(value_cents) AS BIGINT) AS total_cents,
       |  count(*) AS n_parts FROM v)
       |SELECT p_partkey, value_cents
       |FROM v CROSS JOIN t
       |WHERE value_cents * n_parts > total_cents""".stripMargin

  // ------------------------------------------------------------------
  // TPC-H Q14 shape: promo revenue share per ship-year — conditional
  // aggregation against the group total; exact DECIMAL(38,4) sums, the
  // share exposed as the one permitted double division of identical
  // decimals (the a_market_share rule).
  // ------------------------------------------------------------------
  def promoRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    // r19: widen on l_partkey so the year cast + decimal product + the
    // part broadcast probe run wide (guide §2.5). Interleaved Probe A/B:
    // 0.51 s widened vs 0.82 s narrow warm min.
    val li = Par.widenTable(spark,
        Tables.lineitem(spark, sfDir)
          .select("l_shipdate", "l_partkey", "l_extendedprice", "l_discount"),
        sfDir, "lineitem", col("l_partkey"))
      .select(year(col("l_shipdate").cast("timestamp")).as("ship_year"),
        col("l_partkey"),
        (col("l_extendedprice").cast("decimal(18,2)") *
          (lit(BigDecimal(1)).cast("decimal(18,2)") -
            col("l_discount").cast("decimal(18,2)"))).as("disc_price"))
      .join(broadcast(Tables.part(spark, sfDir).select("p_partkey", "p_type")),
        col("l_partkey") === col("p_partkey"))
    li.groupBy("ship_year")
      .agg(
        sum(when(col("p_type") === "PROMO", col("disc_price"))
          .otherwise(lit(BigDecimal(0)).cast("decimal(18,4)")))
          .cast("decimal(38,4)").as("promo_dec"),
        sum("disc_price").cast("decimal(38,4)").as("total_dec"))
      .select(col("ship_year").cast("long").as("ship_year"),
        col("promo_dec").cast("double").as("promo_revenue"),
        col("total_dec").cast("double").as("total_revenue"),
        (col("promo_dec").cast("double") / col("total_dec").cast("double"))
          .as("promo_share"))
  }

  val promoRevenueSql: String =
    """SELECT ship_year,
      |  CAST(promo_dec AS DOUBLE) AS promo_revenue,
      |  CAST(total_dec AS DOUBLE) AS total_revenue,
      |  CAST(promo_dec AS DOUBLE) / CAST(total_dec AS DOUBLE) AS promo_share
      |FROM (
      |  SELECT year(CAST(l_shipdate AS TIMESTAMP)) AS ship_year,
      |    CAST(sum(CASE WHEN p_type = 'PROMO'
      |      THEN CAST(l_extendedprice AS DECIMAL(18,2))
      |        * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
      |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS DECIMAL(38,4)) AS promo_dec,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
      |        * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
      |      AS DECIMAL(38,4)) AS total_dec
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1) sub""".stripMargin

  // ------------------------------------------------------------------
  // TPC-H Q15 shape: top supplier(s) by revenue inside a ship window —
  // the max-over-aggregate with TIE-SAFE emission (Q15's VIEW + "=max"
  // subquery; a LIMIT 1 would silently drop co-leaders). Global max via
  // broadcast 1-row relation; revenue in exact cents.
  // ------------------------------------------------------------------
  val TopSupplierFrom = "1997-01-01"
  val TopSupplierTo = "1998-01-01"

  def topSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val rev = Tables.lineitem(spark, sfDir)
      .where(col("l_shipdate").cast("timestamp") >=
          lit(TopSupplierFrom).cast("timestamp") &&
        col("l_shipdate").cast("timestamp") <
          lit(TopSupplierTo).cast("timestamp"))
      .select(col("l_suppkey"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("price_cents"))
      .groupBy(col("l_suppkey").as("s_suppkey"))
      .agg(sum("price_cents").as("revenue_cents"))
    val mx = rev.agg(max("revenue_cents").as("max_cents"))
    rev.crossJoin(broadcast(mx))
      .where(col("revenue_cents") === col("max_cents"))
      .select("s_suppkey", "revenue_cents")
  }

  val topSupplierSql: String =
    s"""WITH rev AS (
       |  SELECT l_suppkey AS s_suppkey,
       |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
       |      AS BIGINT) AS revenue_cents
       |  FROM lineitem
       |  WHERE CAST(l_shipdate AS TIMESTAMP) >= TIMESTAMP '$TopSupplierFrom'
       |    AND CAST(l_shipdate AS TIMESTAMP) < TIMESTAMP '$TopSupplierTo'
       |  GROUP BY 1)
       |SELECT s_suppkey, revenue_cents FROM rev
       |WHERE revenue_cents = (SELECT max(revenue_cents) FROM rev)""".stripMargin

  // ------------------------------------------------------------------
  // TPC-H Q7 shape: trade volume between distinct nation pairs per ship
  // year — the two-dimension-chain join (supplier→nation on one side,
  // orders→customer→nation on the other) with both chains broadcast and
  // the fact shuffled once on the orderkey equi-join.
  // ------------------------------------------------------------------
  def nationTradeVolume(spark: SparkSession, sfDir: String): DataFrame = {
    val sn = Tables.supplier(spark, sfDir).select("s_suppkey", "s_nationkey")
      .join(broadcast(Tables.nation(spark, sfDir)
        .select(col("n_nationkey"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "supp_nation")
    val cn = Tables.customer(spark, sfDir).select("c_custkey", "c_nationkey")
      .join(broadcast(Tables.nation(spark, sfDir)
        .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))),
        col("c_nationkey") === col("cn_key"))
      .select("c_custkey", "cust_nation")
    val ord = Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey")
      .join(cn, col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "cust_nation")
    // r19: widen the fact scan ON THE JOIN KEY (not the (orderkey,
    // linenumber) composite of the generic wide loader) — the inserted
    // repartition IS the SMJ's required hashpartitioning(l_orderkey), so
    // EnsureRequirements adds no second exchange: the single-row-group
    // scan's fused work (timestamp cast + year + decimal cents + the two
    // broadcast probes) parallelizes across the session's cores for the
    // price of the exchange the join already needed (guide §2.4 "two
    // operations keyed the same way share one exchange", §2.5 input
    // layout). At cluster scale the layout test makes widen the identity
    // and the plan is unchanged. Interleaved A/B (Probe, widen on/off,
    // r19 post-codegen-cache-fix): this keyed form won in BOTH probe
    // sessions — 1.07 vs 1.23 and 0.91 vs 1.04 s warm min; the generic
    // (orderkey, linenumber) wide loader — which CANNOT share the join
    // exchange — read 1.27 vs 1.70 in the same harness.
    // Plan: the SMJ's lineitem side carries ONE Exchange (the widen,
    // directly over the scan) and Sort sits on the broadcast-probe
    // output with no second exchange.
    Par.widenTable(spark,
        Tables.lineitem(spark, sfDir)
          .select(col("l_orderkey"), col("l_suppkey"),
            col("l_shipdate"), col("l_extendedprice")),
        sfDir, "lineitem", col("l_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate").cast("timestamp")).as("ship_year"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("price_cents"))
      .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .where(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        col("ship_year").cast("long").as("ship_year"))
      .agg(sum("price_cents").as("volume_cents"))
  }

  val nationTradeVolumeSql: String =
    """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
      |  CAST(year(CAST(l_shipdate AS TIMESTAMP)) AS BIGINT) AS ship_year,
      |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |    AS BIGINT) AS volume_cents
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation sn ON s_nationkey = sn.n_nationkey
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation cn ON c_nationkey = cn.n_nationkey
      |WHERE sn.n_name <> cn.n_name
      |GROUP BY 1, 2, 3""".stripMargin

  // ------------------------------------------------------------------
  // TPC-H Q19 shape: revenue under a DISJUNCTION of conjunctive
  // part×lineitem predicates (brand/size/quantity bands). The planner
  // story: the join key and the per-disjunct residuals survive as one
  // equi-join + an OR filter — no union-of-three-scans, no cartesian;
  // common sub-predicates prune in-stream. One row out (exact cents +
  // the qualifying row count, so an empty-disjunct regression is
  // visible, not hashed away).
  // ------------------------------------------------------------------
  def disjunctiveRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
          "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) " +
          "* 10000 AS BIGINT)").as("disc_e4"))
    val p = Tables.part(spark, sfDir).select("p_partkey", "p_brand", "p_size")
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .where(
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
          col("qty").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
          col("qty").between(10, 20)) ||
        (col("p_brand") === "Brand#34" && col("p_size").between(1, 50) &&
          col("qty").between(20, 30)))
      .agg(coalesce(sum("disc_e4"), lit(0L)).as("revenue_e4"),
        count(lit(1)).as("n_rows"))
  }

  val disjunctiveRevenueSql: String =
    """SELECT
      |  COALESCE(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
      |    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
      |    * 10000 AS BIGINT)) AS BIGINT), 0) AS revenue_e4,
      |  count(*) AS n_rows
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
      |       AND CAST(l_quantity AS BIGINT) BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
      |       AND CAST(l_quantity AS BIGINT) BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 50
      |       AND CAST(l_quantity AS BIGINT) BETWEEN 20 AND 30)""".stripMargin

  // ------------------------------------------------------------------
  // TPC-H Q20 shape, reshaped onto lineitem (no partsupp fixture):
  // HEAD suppliers per part — (supplier, part) pairs whose shipped
  // quantity exceeds the part's fair share (pair_qty·n_suppliers >
  // Σpart qty, the exact cross-multiplied form of "above the per-
  // supplier average for this part"; the textbook majority line never
  // fires on this generator — measured max share ≈ 25% at every SF —
  // so the gate pins the structural content with the per-group
  // relative threshold, the reference's per-key head/tail split at
  // (part, supplier) granularity). The Q20 skeleton survives: a
  // per-(supp,part) aggregate filtered against a per-part aggregate of
  // the same fact — one scan, two aggregates on 8-byte keys, the
  // per-part relation re-joined on its own partitioning.
  // ------------------------------------------------------------------
  def dominantSuppliers(spark: SparkSession, sfDir: String): DataFrame = {
    // r19: widen on l_partkey — the ONE exchange the whole query needs:
    // the (partkey, suppkey) aggregate, the per-part rollup AND the
    // pair⋈part join all cluster on (a superset of) the widen key, so
    // the narrow plan's three exchanges collapse to the widen itself and
    // the scan parallelizes (guide §2.4/§2.5). Interleaved Probe A/B:
    // 0.43 s widened vs 0.82 s narrow warm min.
    val base = Par.widenTable(spark,
        Tables.lineitem(spark, sfDir)
          .select("l_partkey", "l_suppkey", "l_quantity"),
        sfDir, "lineitem", col("l_partkey"))
      .select(col("l_partkey"), col("l_suppkey"),
        col("l_quantity").cast("long").as("qty"))
    val perPair = base.groupBy("l_partkey", "l_suppkey")
      .agg(sum("qty").as("pair_qty"))
    val perPart = perPair.groupBy(col("l_partkey").as("pp_partkey"))
      .agg(sum("pair_qty").as("part_qty"), count(lit(1)).as("n_supp"))
    perPair.join(perPart, col("l_partkey") === col("pp_partkey"))
      .where(col("pair_qty") * col("n_supp") > col("part_qty"))
      .select(col("l_partkey").as("p_partkey"),
        col("l_suppkey").as("s_suppkey"),
        col("pair_qty"), col("part_qty"), col("n_supp"))
  }

  val dominantSuppliersSql: String =
    """WITH pair AS (
      |  SELECT l_partkey AS p_partkey, l_suppkey AS s_suppkey,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS pair_qty
      |  FROM lineitem GROUP BY 1, 2),
      |part_tot AS (
      |  SELECT p_partkey, CAST(sum(pair_qty) AS BIGINT) AS part_qty,
      |    count(*) AS n_supp
      |  FROM pair GROUP BY 1)
      |SELECT pair.p_partkey, pair.s_suppkey, pair.pair_qty,
      |  part_tot.part_qty, part_tot.n_supp
      |FROM pair JOIN part_tot ON pair.p_partkey = part_tot.p_partkey
      |WHERE pair.pair_qty * part_tot.n_supp > part_tot.part_qty""".stripMargin

  // ------------------------------------------------------------------
  // TPC-H Q6 shape: forecast-revenue-change — one tight scan with three
  // residual predicates (ship-year, a discount band on the EXACT decimal
  // image of the double column, a quantity ceiling) and a single exact
  // sum of extendedprice·discount in 1e-4 units. The planner story is
  // that all three predicates sit on the scan (no join, no shuffle
  // beyond the 1-row final agg) — at 100 TB this is the query partition
  // pruning and min/max skipping exist for, and the Layout module's
  // z-order report measures exactly this family.
  // ------------------------------------------------------------------
  val ForecastYear = 1996

  def forecastRevenue(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .where(year(col("l_shipdate").cast("timestamp")) === ForecastYear &&
        col("l_discount").cast("decimal(18,2)").between(
          lit(BigDecimal("0.05")), lit(BigDecimal("0.07"))) &&
        col("l_quantity") < 24)
      .agg(
        coalesce(sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
          "CAST(l_discount AS DECIMAL(18,2)) * 10000 AS BIGINT)")), lit(0L))
          .as("revenue_e4"),
        count(lit(1)).as("n_rows"))

  val forecastRevenueSql: String =
    s"""SELECT
       |  COALESCE(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
       |    * CAST(l_discount AS DECIMAL(18,2)) * 10000 AS BIGINT)) AS BIGINT),
       |    0) AS revenue_e4,
       |  count(*) AS n_rows
       |FROM lineitem
       |WHERE year(CAST(l_shipdate AS TIMESTAMP)) = $ForecastYear
       |  AND CAST(l_discount AS DECIMAL(18,2)) BETWEEN 0.05 AND 0.07
       |  AND l_quantity < 24""".stripMargin

  // ------------------------------------------------------------------
  // TPC-H Q9 shape: product-type profit per (nation, order-year), on the
  // REAL derived partsupp (r15; the p_retailprice/10 proxy is deleted).
  // Q9 proper looks up ps_supplycost of the line's exact (part, supplier)
  // pair — valid under dbgen, which DERIVES lineitem suppkeys from the
  // partsupp formula; this fixture's lineitem pairs are independent of
  // partsupp's, so the per-pair lookup would keep ~4/S0 of lines (near-
  // empty, and emptier as SF grows — not a gateable restatement). The
  // deterministic restatement: per-part REFERENCE COST = the part's
  // cheapest supply cost (min over its partsupp entries — the "best
  // available sourcing" line), profit = disc_price − ref_cost·qty.
  // Structure intact: name-pattern filter on part, supplier→nation group
  // key, orders for the year; partsupp aggregates to one row per part
  // BEFORE joining (broadcast dim), so the fact still shuffles once on
  // the orderkey join. Exact 1e-4 units throughout (cost is integer
  // cents; cents·qty·100 is the 1e-4 form, integer-exact).
  // ------------------------------------------------------------------
  val ProfitNamePattern = "%gear%"

  def nationProfit(spark: SparkSession, sfDir: String): DataFrame = {
    val refCost = partsupp(spark, sfDir)
      .groupBy(col("ps_partkey"))
      .agg(min("ps_supplycost_cents").as("ref_cost_cents"))
    val p = Tables.part(spark, sfDir)
      .where(col("p_name").like(ProfitNamePattern))
      .select(col("p_partkey"))
      .join(refCost, col("p_partkey") === col("ps_partkey"))
      .select("p_partkey", "ref_cost_cents")
    val sn = Tables.supplier(spark, sfDir).select("s_suppkey", "s_nationkey")
      .join(broadcast(Tables.nation(spark, sfDir)
        .select(col("n_nationkey"), col("n_name").as("nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "nation")
    val ord = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"),
        year(col("o_orderdate").cast("timestamp")).cast("long").as("o_year"))
    // r19: keyed widen measured and DECLINED — 0.83 s widened vs 0.57 s
    // narrow (interleaved Probe): the exchange here carries six columns
    // (qty + price + discount feed the profit kernel), so the added
    // shuffle bytes cost more than the parallelized projection saves —
    // exactly the r18 "per-row CPU per byte" criterion.
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity").cast("decimal(18,2)").as("qty"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
          "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) " +
          "* 10000 AS BIGINT)").as("disc_e4"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("nation"), col("o_year"),
        (col("disc_e4") -
          expr("CAST(ref_cost_cents * qty * 100 AS BIGINT)")).as("amount_e4"))
      .groupBy("nation", "o_year")
      .agg(sum("amount_e4").as("profit_e4"))
  }

  val nationProfitSql: String =
    s"""WITH $PartSuppCteDuck,
       |rc AS (
       |  SELECT ps_partkey, min(ps_supplycost_cents) AS ref_cost_cents
       |  FROM partsupp GROUP BY 1)
       |SELECT n_name AS nation,
       |  CAST(year(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT) AS o_year,
       |  CAST(sum(
       |    CAST(CAST(l_extendedprice AS DECIMAL(18,2))
       |      * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
       |      * 10000 AS BIGINT)
       |    - CAST(ref_cost_cents * CAST(l_quantity AS DECIMAL(18,2)) * 100
       |        AS BIGINT)
       |  ) AS BIGINT) AS profit_e4
       |FROM lineitem
       |JOIN part ON l_partkey = p_partkey
       |JOIN rc ON l_partkey = rc.ps_partkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN orders ON l_orderkey = o_orderkey
       |WHERE p_name LIKE '$ProfitNamePattern'
       |GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // TPC-H Q10 shape: returned-item reporting — revenue lost to 'R'-flag
  // lineitems of orders placed in one quarter, per customer with the
  // nation dimension attached. The full qualifying-customer relation is
  // emitted (Q10's LIMIT 20 is a presentation detail; a tie-unsafe head
  // would make the gate order-dependent). Revenue in exact 1e-4 units,
  // acctbal as exact cents. orders filters to ~1/27 of the span BEFORE
  // its join, customer/nation broadcast-shaped, fact shuffled once.
  // ------------------------------------------------------------------
  val ReturnedFrom = "1996-10-01"
  val ReturnedTo = "1997-01-01"

  def returnedRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.orders(spark, sfDir)
      .where(col("o_orderdate").cast("timestamp") >=
          lit(ReturnedFrom).cast("timestamp") &&
        col("o_orderdate").cast("timestamp") <
          lit(ReturnedTo).cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val cust = Tables.customer(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)
        .select(col("n_nationkey"), col("n_name").as("nation"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"),
        expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("acctbal_cents"),
        col("nation"))
    Tables.lineitem(spark, sfDir)
      .where(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
          "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) " +
          "* 10000 AS BIGINT)").as("disc_e4"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(sum("disc_e4").as("revenue_e4"))
      .join(cust, "c_custkey")
      .select("c_custkey", "c_name", "acctbal_cents", "nation", "revenue_e4")
  }

  val returnedRevenueSql: String =
    s"""SELECT c_custkey, c_name,
       |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS acctbal_cents,
       |  n_name AS nation,
       |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
       |    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
       |    * 10000 AS BIGINT)) AS BIGINT) AS revenue_e4
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE l_returnflag = 'R'
       |  AND CAST(o_orderdate AS TIMESTAMP) >= TIMESTAMP '$ReturnedFrom'
       |  AND CAST(o_orderdate AS TIMESTAMP) < TIMESTAMP '$ReturnedTo'
       |GROUP BY 1, 2, 3, 4""".stripMargin

  // ------------------------------------------------------------------
  // TPC-H Q12 shape, reshaped (no l_shipmode/commitdate/receiptdate in
  // the fixtures): per ship-delay band — floor((l_shipdate −
  // o_orderdate)/180d) clamped to [−4,4]; the generator draws the two
  // dates independently, so negative bands are real — conditional counts
  // of high-priority ('1-URGENT'/'2-HIGH') vs other order lines. Q12's
  // skeleton survives intact: fact⋈orders once on the orderkey, a
  // derived band as the group key, and the CASE-counted priority split.
  // ------------------------------------------------------------------
  def shipDelayPriority(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    // r19: widen on the join key — the repartition IS the join's required
    // partitioning, parallelizing the single-row-group scan side for the
    // exchange the join already pays (guide §2.4; see nationTradeVolume).
    // Interleaved Probe A/B: 0.39 s widened vs 0.51 s narrow.
    Par.widenTable(spark,
        Tables.lineitem(spark, sfDir).select("l_orderkey", "l_shipdate"),
        sfDir, "lineitem", col("l_orderkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(
        greatest(lit(-4L), least(lit(4L),
          floor(datediff(col("l_shipdate").cast("date"),
            col("o_orderdate").cast("date")) / 180.0))).as("delay_band"),
        col("o_orderpriority"))
      .groupBy("delay_band")
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))
  }

  val shipDelayPrioritySql: String =
    """SELECT
      |  GREATEST(-4, LEAST(4, CAST(FLOOR(
      |    date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))
      |    / 180.0) AS BIGINT))) AS delay_band,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1""".stripMargin

  // ------------------------------------------------------------------
  // TPC-H Q13 shape: customer order-count distribution INCLUDING the
  // zero-order customers (the left-join-then-count trap). Shaped for
  // scale: orders aggregates to per-customer counts FIRST (map-side
  // combinable, no wide join), then customer left-joins the count
  // relation and coalesces absent keys to 0 — the fact never rides a
  // row-expanding join. The priority filter stands in for Q13's comment
  // NOT-LIKE: counted orders exclude '4-NOT SPECIFIED'.
  // ------------------------------------------------------------------
  def orderCountDistribution(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.orders(spark, sfDir)
      .where(col("o_orderpriority") =!= "4-NOT SPECIFIED")
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"))
    Tables.customer(spark, sfDir).select("c_custkey")
      .join(counts, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("n_orders"), lit(0L)).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
  }

  val orderCountDistributionSql: String =
    """SELECT c_count, count(*) AS custdist
      |FROM (
      |  SELECT COALESCE(n_orders, 0) AS c_count
      |  FROM customer LEFT JOIN (
      |    SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
      |    FROM orders WHERE o_orderpriority <> '4-NOT SPECIFIED'
      |    GROUP BY 1) oc
      |  ON c_custkey = oc.o_custkey) per_cust
      |GROUP BY 1""".stripMargin

  // ------------------------------------------------------------------
  // TPC-H Q16 proper (r15 — previously reshaped onto lineitem; now on
  // the real derived partsupp): supplier variety per (brand, type, size)
  // for parts outside an excluded brand/type with an IN-list of sizes —
  // count(DISTINCT ps_suppkey) realized as the explicit two-phase plan:
  // distinct (brand,type,size,suppkey) quads first (partial dedup
  // map-side), then a plain count per group. The part dim filters
  // BEFORE partsupp is derived from it, so only qualifying parts
  // generate bridge rows at all — the filter "pushes through" the
  // generator the way PushedFilters pushes through a scan.
  // ------------------------------------------------------------------
  val VarietySizes: Seq[Int] = Seq(1, 9, 14, 19, 23, 36, 45, 49)

  def supplierVariety(spark: SparkSession, sfDir: String): DataFrame = {
    val p = Tables.part(spark, sfDir)
      .where(col("p_brand") =!= "Brand#1" && col("p_type") =!= "ECONOMY" &&
        col("p_size").isin(VarietySizes: _*))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    partsupp(spark, sfDir).select("ps_partkey", "ps_suppkey")
      .join(broadcast(p), col("ps_partkey") === col("p_partkey"))
      .select(col("p_brand"), col("p_type"),
        col("p_size").cast("long").as("p_size"), col("ps_suppkey"))
      .distinct()
      .groupBy("p_brand", "p_type", "p_size")
      .agg(count(lit(1)).as("supplier_cnt"))
  }

  val supplierVarietySql: String =
    s"""WITH $PartSuppCteDuck
       |SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
       |  CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
       |FROM partsupp JOIN part ON ps_partkey = p_partkey
       |WHERE p_brand <> 'Brand#1' AND p_type <> 'ECONOMY'
       |  AND p_size IN (${VarietySizes.mkString(", ")})
       |GROUP BY 1, 2, 3""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a_forecast_revenue" -> (forecastRevenue _),
    "a_nation_profit" -> (nationProfit _),
    "a_returned_revenue" -> (returnedRevenue _),
    "a_ship_delay_priority" -> (shipDelayPriority _),
    "a_order_count_distribution" -> (orderCountDistribution _),
    "a_supplier_variety" -> (supplierVariety _),
    "a_min_cost_supplier" -> (minCostSupplier _),
    "a_partsupp" -> (partsuppBuild _),
    "a_disjunctive_revenue" -> (disjunctiveRevenue _),
    "a_dominant_suppliers" -> (dominantSuppliers _),
    "a_important_parts" -> (importantParts _),
    "a_promo_revenue" -> (promoRevenue _),
    "a_top_supplier" -> (topSupplier _),
    "a_nation_trade_volume" -> (nationTradeVolume _),
    "a_large_orders" -> (largeOrders _),
    "a_sole_blame_suppliers" -> (soleBlameSuppliers _),
    "a_idle_customers" -> (idleCustomers _),
    "a_small_qty_revenue" -> (smallQtyRevenue _),
    "a_scd2_build" -> (scd2Build _),
    "a_scd2_asof" -> (scd2Asof _),
    "a_expectations" -> (expectations _),
    "a_daily_active" -> (dailyActive _),
    "a_daily_active_approx" -> (dailyActiveApprox _),
    "a_interval_join" -> (intervalJoin _),
    "a_event_deltas" -> (eventDeltas _),
    "a_outliers" -> (outliers _),
    "a_brand_revenue" -> (brandRevenue _),
    "a_order_priority_late" -> (orderPriorityLate _),
    "a_regional_revenue" -> (regionalRevenue _),
    "a_market_share" -> (marketShare _),
    "a_moving_window" -> (movingWindow _),
    "a_moving_window_bucketed" -> (movingWindowBucketed _),
    "a_funnel" -> (funnel _),
    "a_funnel_windowed" -> (funnelWindowed _),
    "a_retention" -> (retention _),
    "a_profile" -> (profileLineitem _),
    "a_profile_approx" -> (profileLineitemApprox _),
    "a_json_extract" -> (jsonExtract _),
    "a_shipping_priority" -> (shippingPriority _),
    "a_pricing_summary" -> (pricingSummary _),
    "a_top_customers" -> (topCustomers _),
    "a_revenue_rollup" -> (revenueRollup _),
    "a_timeseries_similarity" -> (timeseriesSimilarity _),
    "a_asof_join" -> (asofJoin _),
    "a_sessionize" -> (sessionize _),
    "a_pivot_revenue" -> (pivotRevenue _),
    "a_unpivot_revenue" -> (unpivotRevenue _),
    "a_gap_fill" -> (gapFill _),
    "a_quantiles" -> (quantiles _),
    "a_quantiles_approx" -> (quantilesApprox _),
    "s_lsh_recall" -> (lshRecall _),
    "s_ivf_recall" -> (ivfRecall _))

  val oracles: Map[String, String] = Map(
    "a_forecast_revenue" -> forecastRevenueSql,
    "a_nation_profit" -> nationProfitSql,
    "a_returned_revenue" -> returnedRevenueSql,
    "a_ship_delay_priority" -> shipDelayPrioritySql,
    "a_order_count_distribution" -> orderCountDistributionSql,
    "a_supplier_variety" -> supplierVarietySql,
    "a_min_cost_supplier" -> minCostSupplierSql,
    "a_partsupp" -> partsuppBuildSql,
    "a_disjunctive_revenue" -> disjunctiveRevenueSql,
    "a_dominant_suppliers" -> dominantSuppliersSql,
    "a_important_parts" -> importantPartsSql,
    "a_promo_revenue" -> promoRevenueSql,
    "a_top_supplier" -> topSupplierSql,
    "a_nation_trade_volume" -> nationTradeVolumeSql,
    "a_large_orders" -> largeOrdersSql,
    "a_sole_blame_suppliers" -> soleBlameSuppliersSql,
    "a_idle_customers" -> idleCustomersSql,
    "a_small_qty_revenue" -> smallQtyRevenueSql,
    "a_scd2_build" -> scd2BuildSql,
    "a_scd2_asof" -> scd2AsofSql,
    "a_expectations" -> expectationsSql,
    "a_daily_active" -> dailyActiveSql,
    "a_daily_active_approx" -> dailyActiveApproxSql,
    "a_interval_join" -> intervalJoinSql,
    "a_event_deltas" -> eventDeltasSql,
    "a_outliers" -> outliersSql,
    "a_brand_revenue" -> brandRevenueSql,
    "a_order_priority_late" -> orderPriorityLateSql,
    "a_regional_revenue" -> regionalRevenueSql,
    "a_market_share" -> marketShareSql,
    "a_moving_window" -> movingWindowSql,
    "a_moving_window_bucketed" -> movingWindowBucketedSql,
    "a_funnel" -> funnelSql,
    "a_funnel_windowed" -> funnelWindowedSql,
    "a_retention" -> retentionSql,
    "a_profile" -> profileLineitemSql,
    "a_profile_approx" -> profileLineitemApproxSql,
    "a_json_extract" -> jsonExtractSql,
    "a_shipping_priority" -> shippingPrioritySql,
    "a_pricing_summary" -> pricingSummarySql,
    "a_top_customers" -> topCustomersSql,
    "a_revenue_rollup" -> revenueRollupSql,
    "a_timeseries_similarity" -> timeseriesSimilaritySql,
    "a_asof_join" -> asofJoinSql,
    "a_sessionize" -> sessionizeSql,
    "a_pivot_revenue" -> pivotRevenueSql,
    "a_unpivot_revenue" -> unpivotRevenueSql,
    "a_gap_fill" -> gapFillSql,
    "a_quantiles" -> quantilesSql,
    "a_quantiles_approx" -> quantilesApproxSql,
    "s_lsh_recall" -> lshRecallSql,
    "s_ivf_recall" -> ivfRecallSql)
}
