package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Adapters from the shared `events` table to the reference engine's two
  * record shapes (SURVEY.md §1.1):
  *
  *   - `"timestamp port word"` — reference parse site
  *     `stateless/src/main/scala/cluster/HashJoin.scala:45-48`
  *   - `"timestamp z x"` — reference parse site
  *     `one-group-state/src/main/scala/cluster/HHGrouping.scala:44-74`
  *
  * Deterministic mapping (documented so the DuckDB oracle can reproduce it
  * exactly):
  *
  *   event_time := epoch milliseconds of `ts`   (DuckDB: `epoch_ms(ts)`)
  *   port       := user_id % 3                  (3 sources, L = 3 in the
  *                 reference, `stateless/cluster/HashJoin.scala:7-9`)
  *   word / z   := event_type                   (small key space, analogue
  *                 of `key_space` A..F, stream.json:11)
  *   x          := floor(value) as long
  *
  * Window ids use INTEGER division `event_time div lgw` exactly like the
  * reference (`ltw = BigInt(ts)/lgw`, state/cluster/naive/HashJoin.scala:50)
  * so Spark and DuckDB agree bit-for-bit; we never use timestamp-typed
  * `window()` in oracle-gated queries.
  *
  * Scale note: both adapters are pure projections — they pipeline into the
  * parquet scan (no shuffle, column pruning pushes only ts/user_id/
  * event_type/value reads down to the scan).
  */
object Shapes {

  /** Tumbling event-time window width in ms — analogue of the reference's
    * `logic_time_slot` (stream.json:10). One day keeps the per-window key
    * cardinality meaningful at all SFs (events span ~1 month).
    */
  val LogicTimeSlotMs: Long = 24L * 3600 * 1000

  /** Number of sources/ports, = reference L = 3. */
  val PortsNum: Int = 3

  /** Q2's port-completeness rule inside a `groupBy(word, ltw)` over
    * per-port counts: the min count if all `PortsNum` ports reported,
    * else 0 (state/src/main/scala/cluster/naive/HashJoin.scala:89-103).
    */
  def minIfComplete(cnt: Column): Column =
    when(count(lit(1)) === PortsNum, min(cnt)).otherwise(lit(0L))

  /** The same rule over one window's per-port counts held in keyed state. */
  def minIfComplete(counts: Iterable[Long]): Long =
    if (counts.size == PortsNum) counts.min else 0L

  /** epoch-ms column from the events `ts` (parity with DuckDB epoch_ms).
    *
    * Dispatches on the arriving type: the live `events.parquet` stores
    * `ts` as TIMESTAMP(MICROS) → TimestampType → `unix_millis`. Earlier
    * fixture generations stored TIMESTAMP(NANOS), which under
    * `spark.sql.legacy.parquet.nanosAsLong=true` (set in Verify/Bench/test
    * sessions) arrives as epoch-nanos LongType → ms = nanos div 1e6, pure
    * integer arithmetic. Every reader — batch and streaming — must derive
    * event time through this dispatch, never by assuming one physical
    * type (round-10 red test: a hardcoded nanos assumption in the file
    * stream read micros 1000× small).
    */
  def eventTimeMs(df: DataFrame, tsCol: String = "ts"): Column = {
    import org.apache.spark.sql.types.LongType
    df.schema(tsCol).dataType match {
      case LongType => expr(s"$tsCol div 1000000")
      case _        => unix_millis(col(tsCol).cast("timestamp"))
    }
  }

  /** Integer tumbling-window id, reference semantics `ts div lgw`.
    * Exact integral division via (t - t mod s) / s — stays in Long
    * arithmetic (no double rounding) and matches DuckDB `//` for the
    * non-negative epoch-ms domain.
    */
  def ltw(eventTime: Column, slotMs: Long = LogicTimeSlotMs): Column =
    ((eventTime - pmod(eventTime, lit(slotMs))) / lit(slotMs)).cast("long")

  /** `(event_time, port, word)` shape. */
  def portWordEvents(spark: SparkSession, sfDir: String): DataFrame =
    portWord(Tables.events(spark, sfDir))

  /** The `(event_time, port, word)` projection of any events-shaped
    * relation, batch or streaming.
    */
  def portWord(ev: DataFrame): DataFrame =
    ev.select(
      eventTimeMs(ev).as("event_time"),
      pmod(col("user_id"), lit(3)).cast("long").as("port"),
      col("event_type").as("word"))

  /** `(event_time, z, x)` shape. */
  def zxEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    ev.select(
      eventTimeMs(ev).as("event_time"),
      col("event_type").as("z"),
      floor(col("value")).cast("long").as("x"))
  }

  /** Adds the integer window-id column `ltw = event_time div slot`. */
  def withLtw(df: DataFrame, slotMs: Long = LogicTimeSlotMs): DataFrame =
    df.withColumn("ltw", expr(s"event_time div ${slotMs}L"))

  /** The oracle-side (DuckDB SQL) equivalents of the adapters, kept next to
    * the Scala so the two can never drift.
    */
  object sql {
    val portWordEvents: String =
      "SELECT epoch_ms(ts) AS event_time, user_id % 3 AS port, " +
        "event_type AS word FROM events"
    val zxEvents: String =
      "SELECT epoch_ms(ts) AS event_time, event_type AS z, " +
        "CAST(floor(value) AS BIGINT) AS x FROM events"
    def ltw(col: String = "event_time", slotMs: Long = LogicTimeSlotMs): String =
      s"($col // ${slotMs})"
  }
}
