package graft.operators

import graft.{CacheRegistry, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Space-filling-curve table layout — Z-order clustering and the
  * min/max data-skipping economics it buys (SURVEY.md Phase 4 scope:
  * at 100 TB the dominant cost is the scan, and the ONLY lever a
  * storage layout has is which files a predicate can skip; Z-ordering
  * two lookup dimensions gives every file a tight bounding box in
  * BOTH, where a linear sort gives a tight box in one and the full
  * range in the other — the standard lakehouse OPTIMIZE ZORDER design,
  * reproduced here as exact relational arithmetic).
  *
  * The dimensions are RANK-NORMALIZED before interleaving: each value
  * maps to (rank−1)·2^[[Bits]] div n, a [[Bits]]-bit grid index, and
  * the z-value interleaves the two grid indices. Raw-value interleave
  * is a known trap this module measured first: with a banded key space
  * or dimensions of very different bit-depth (events' value has 7
  * significant bits vs event_id's 30) the curve degenerates to a
  * 1-D sort and skips nothing. Production z-order writers do the same
  * normalization by sampling range boundaries; rank is its exact,
  * oracle-able form. Buckets model files: the top 10 z bits, i.e. a
  * 32×32 grid of rank-space cells, ≤[[Buckets]] files; the per-bucket
  * (min,max) of each RAW dimension is exactly the parquet footer
  * statistics a reader prunes on.
  *
  * Fixture demonstration (events, event_id × floor(value), sf1): a
  * 10%×11% query box touches 8/1024 z-buckets = 7.8k rows scanned,
  * vs 103 buckets = 100.6k rows for the linear-on-x layout — a 12.9×
  * scan reduction, reported by `p_zorder_skipping` as exact counts.
  *
  * 100 TB shape: the two rank windows model the layout WRITE's global
  * sort — a real job replaces them with repartitionByRange (sampled
  * boundaries) + sortWithinPartitions, one shuffle each; the z
  * projection itself is codegen arithmetic. The skipping report reads
  * only the ≤1024-row stats relation; data rows never leave their
  * scan.
  */
object Layout {

  /** Grid bits per dimension after rank normalization. */
  val Bits = 20

  /** File-count target: top 10 z bits → ≤1024 buckets. */
  val Buckets = 1024L

  /** The interleave sum over the two grid indices, generated for each
    * dialect from the same constants: Σ ((xr>>i)&1)·2^(2i) +
    * ((yr>>i)&1)·2^(2i+1).
    */
  private def zExpr(shr: (String, Int) => String): String =
    (0 until Bits).map { i =>
      s"(${shr("xr", i)} & 1) * ${1L << (2 * i)} + (${shr("yr", i)} & 1) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")

  private val zSpark = zExpr((c, i) => s"shiftright($c, $i)")
  private val zDuck  = zExpr((c, i) => s"($c >> $i)")

  /** z-bucket divisor: keep the top 10 of the 2·Bits z bits. */
  private val ZDiv = 1L << (2 * Bits - 10)

  /** (x, y, zbucket, xbucket) over events' (event_id, floor(value)) —
    * ingest order × metric band, the classic 2-D monitoring predicate.
    * Shared by both gated queries via the registry.
    */
  private[graft] def bucketed(spark: SparkSession, sfDir: String): DataFrame =
    CacheRegistry.cached(spark, s"layout.z:$sfDir") {
      val base = Tables.events(spark, sfDir)
        .select(col("event_id").cast("long").as("x"),
          expr("CAST(floor(value) AS BIGINT)").as("y"))
      val st = base.agg(count(lit(1)).as("n"))
      base.crossJoin(broadcast(st))
        .withColumn("xr", expr(s"(CAST(rank() OVER (ORDER BY x) AS BIGINT) - 1) * ${1L << Bits} div n"))
        .withColumn("yr", expr(s"(CAST(rank() OVER (ORDER BY y) AS BIGINT) - 1) * ${1L << Bits} div n"))
        .select(col("x"), col("y"),
          expr(s"($zSpark) div $ZDiv").as("zbucket"),
          expr(s"xr * $Buckets div ${1L << Bits}").as("xbucket"))
    }

  /** Gated: the modeled Z-order file layout — per bucket, row count and
    * the min/max bounding box of both RAW dimensions (the file
    * statistics a scan prunes on); tight in BOTH dims by construction.
    */
  def zorderLayout(spark: SparkSession, sfDir: String): DataFrame =
    bucketed(spark, sfDir)
      .groupBy(col("zbucket").as("bucket")).agg(
        count(lit(1)).as("cnt"),
        min("x").as("min_x"), max("x").as("max_x"),
        min("y").as("min_y"), max("y").as("max_y"))

  /** Gated: the data-skipping comparison. One fixed query box (a
    * 1/10th-of-range slab in x, a 1/10th in y, both anchored at the
    * first quartile — closed forms of the raw maxima, so the oracle
    * derives the identical box) evaluated against the z-order layout
    * and a linear sort on x: files-total / files-touched (bounding box
    * intersects) / rows-scanned (Σ cnt over touched) / rows-matched,
    * all exact integers.
    */
  def zorderSkipping(spark: SparkSession, sfDir: String): DataFrame = {
    val b = bucketed(spark, sfDir)
    val st = b.agg(max("x").as("xmax"), max("y").as("ymax"))
    val wb = b.crossJoin(broadcast(st))
      .withColumn("x0", expr("xmax div 4")).withColumn("x1", expr("xmax div 4 + xmax div 10"))
      .withColumn("y0", expr("ymax div 4")).withColumn("y1", expr("ymax div 4 + ymax div 10"))
    val matched = wb
      .where(col("x").between(col("x0"), col("x1")) && col("y").between(col("y0"), col("y1")))
      .agg(count(lit(1)).as("rows_matched"))

    def report(layout: String, bucketCol: String): DataFrame =
      wb.groupBy(col(bucketCol)).agg(
          count(lit(1)).as("cnt"),
          min("x").as("mnx"), max("x").as("mxx"),
          min("y").as("mny"), max("y").as("mxy"),
          // bounds are constant; min() carries them through the agg
          min("x0").as("x0"), min("x1").as("x1"),
          min("y0").as("y0"), min("y1").as("y1"))
        .withColumn("touched",
          expr("NOT (mxx < x0 OR mnx > x1 OR mxy < y0 OR mny > y1)"))
        .agg(
          count(lit(1)).as("buckets_total"),
          sum(expr("CASE WHEN touched THEN 1L ELSE 0L END")).as("buckets_touched"),
          sum(expr("CASE WHEN touched THEN cnt ELSE 0L END")).as("rows_scanned"))
        .select(lit(layout).as("layout"), col("buckets_total"),
          col("buckets_touched"), col("rows_scanned"))

    report("zorder", "zbucket")
      .unionByName(report("linear_x", "xbucket"))
      .crossJoin(broadcast(matched))
  }

  // ------------------------------------------------------------------
  // DuckDB oracles — identical closed forms (`//` floor div, `>>`/`&`,
  // the same min-rank tie semantics for rank()).
  // ------------------------------------------------------------------

  private val bucketedDuck: String =
    s"""b AS (SELECT CAST(event_id AS BIGINT) AS x,
       |  CAST(floor(value) AS BIGINT) AS y FROM events),
       |st AS (SELECT max(x) AS xmax, max(y) AS ymax, count(*) AS n FROM b),
       |wr AS (SELECT x, y,
       |  (rank() OVER (ORDER BY x) - 1) * ${1L << Bits} // (SELECT n FROM st) AS xr,
       |  (rank() OVER (ORDER BY y) - 1) * ${1L << Bits} // (SELECT n FROM st) AS yr
       |  FROM b),
       |zt AS (SELECT x, y, ($zDuck) // $ZDiv AS zbucket,
       |  xr * $Buckets // ${1L << Bits} AS xbucket FROM wr)""".stripMargin

  val zorderLayoutSql: String =
    s"""WITH $bucketedDuck
       |SELECT zbucket AS bucket, CAST(count(*) AS BIGINT) AS cnt,
       |  min(x) AS min_x, max(x) AS max_x,
       |  min(y) AS min_y, max(y) AS max_y
       |FROM zt GROUP BY 1""".stripMargin

  val zorderSkippingSql: String = {
    def rep(layout: String, bucket: String): String =
      s"""SELECT '$layout' AS layout,
         |  CAST(count(*) AS BIGINT) AS buckets_total,
         |  CAST(sum(CASE WHEN touched THEN 1 ELSE 0 END) AS BIGINT) AS buckets_touched,
         |  CAST(sum(CASE WHEN touched THEN cnt ELSE 0 END) AS BIGINT) AS rows_scanned,
         |  (SELECT m FROM matched) AS rows_matched
         |FROM (
         |  SELECT NOT (max(x) < (SELECT x0 FROM box) OR min(x) > (SELECT x1 FROM box)
         |           OR max(y) < (SELECT y0 FROM box) OR min(y) > (SELECT y1 FROM box)) AS touched,
         |    count(*) AS cnt
         |  FROM zt GROUP BY $bucket)""".stripMargin
    s"""WITH $bucketedDuck,
       |box AS (SELECT xmax // 4 AS x0, xmax // 4 + xmax // 10 AS x1,
       |  ymax // 4 AS y0, ymax // 4 + ymax // 10 AS y1 FROM st),
       |matched AS (
       |  SELECT CAST(count(*) AS BIGINT) AS m FROM zt
       |  WHERE x BETWEEN (SELECT x0 FROM box) AND (SELECT x1 FROM box)
       |    AND y BETWEEN (SELECT y0 FROM box) AND (SELECT y1 FROM box))
       |${rep("zorder", "zbucket")}
       |UNION ALL
       |${rep("linear_x", "xbucket")}""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p_zorder_layout" -> (zorderLayout _),
    "p_zorder_skipping" -> (zorderSkipping _))

  val oracles: Map[String, String] = Map(
    "p_zorder_layout" -> zorderLayoutSql,
    "p_zorder_skipping" -> zorderSkippingSql)
}
