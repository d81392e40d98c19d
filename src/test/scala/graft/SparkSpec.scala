package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Fixture row types (top-level: Spark encoders cannot see classes nested
  * in a trait).
  */
case class EventRow(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)
case class DocRow(doc_id: Long, text: String, lang: String,
    source: String, n_chars: Long)
case class EmbRow(vec_id: Long, embedding: Array[Float], label: Int)

/** Shared session + fixture harness: writes handwritten rows as parquet
  * with the exact shared-table schemas (TESTDATA.md / FIXTURES.md) into a
  * temp dir, so specs exercise the REAL queries end-to-end — scan,
  * adapters, plans — not reimplementations.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = {
    // One shared local session across suites; do not stop between them.
    super.afterAll()
  }

  def event(id: Long, tsMs: Long, userId: Long, typ: String,
      value: Double = 1.0): EventRow =
    EventRow(id, new Timestamp(tsMs), userId, typ, value, "{}")

  def doc(id: Long, text: String, lang: String = "en",
      source: String = "src0"): DocRow =
    DocRow(id, text, lang, source, text.length.toLong)

  /** Writes the given tables into a fresh temp dir; returns the sfDir. */
  def writeFixture(
      events: Seq[EventRow] = Seq.empty,
      documents: Seq[DocRow] = Seq.empty,
      embeddings: Seq[EmbRow] = Seq.empty): String = {
    val dir = Files.createTempDirectory("graft-fixture").toString
    val s = spark
    import s.implicits._
    if (events.nonEmpty)
      events.toDF().write.mode("overwrite").parquet(s"$dir/events.parquet")
    if (documents.nonEmpty)
      documents.toDF().write.mode("overwrite").parquet(s"$dir/documents.parquet")
    if (embeddings.nonEmpty)
      embeddings.toDF().write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  /** Runs `body` with the given session confs set on the shared session,
    * then restores each key's prior value (or unsets it).
    */
  def withConfs[T](pairs: (String, String)*)(body: => T): T = {
    val conf = spark.conf
    val saved = pairs.map { case (k, _) => k -> conf.getOption(k) }
    try { pairs.foreach { case (k, v) => conf.set(k, v) }; body }
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** Runs `body` with `key` unset on the shared session, then restores it. */
  def withoutConf[T](key: String)(body: => T): T = {
    val saved = spark.conf.getOption(key)
    spark.conf.unset(key)
    try body finally saved.foreach(spark.conf.set(key, _))
  }

  def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet
}
