package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the shared parquet fixtures (TESTDATA.md).
  *
  * All gated queries read these tables; nothing is synthesized. Paths are
  * `\$sfDir/<name>.parquet`, one file per table, so at cluster scale the
  * same loaders would point at a partitioned directory instead — the query
  * code is unchanged.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Schema-inference memo (r19, guide §7.3 driver-side planning / §6 file
  // listing): every gated query rebuilds its frame per Bench/Verify run,
  // and a schema-less `spark.read.parquet` resolves the relation EAGERLY —
  // file listing + a parquet footer read on the driver — per call. Across
  // 190 queries × (warmup + 3 timed runs) × 1-4 tables each, that is
  // thousands of redundant footer reads of the same immutable fixture
  // files. The memo caches the INFERRED SCHEMA ONLY (a StructType — pure
  // metadata, keyed by file path): every call still returns a fresh
  // relation with fresh expression ids, every execution still scans the
  // parquet from disk, and the schema is byte-identical to what inference
  // would return (it IS inference's output, computed once). Nothing about
  // results, plans, or data flow changes — only the driver stops re-deriving
  // the same StructType. The key carries the file's length and mtime, so a
  // fixture regenerated at the same path within one JVM re-infers instead
  // of reading its new bytes under the old schema.
  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), org.apache.spark.sql.types.StructType]()

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // events.parquet carries TIMESTAMP(MICROS) in the live fixtures
    // (arrives as TimestampType); earlier fixture generations used
    // TIMESTAMP(NANOS), which Spark only reads with the legacy conf (as
    // epoch-nanos Long). Shapes.eventTimeMs dispatches on whichever type
    // arrives, so keep the conf set defensively — a no-op for micros —
    // in case the fixture generation or calling session changes.
    try spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    catch { case _: Throwable => () }
    val path = s"$sfDir/$name.parquet"
    val hPath = new org.apache.hadoop.fs.Path(path)
    val st = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(hPath)
    val schema = schemaMemo.computeIfAbsent((path, st.getLen, st.getModificationTime),
      _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  // Widened documents loader (r18, guide §2.5): the fixture tables are
  // ONE single-row-group parquet file each, so a bare scan is a single
  // task and every expression Catalyst fuses into the scan stage —
  // tokenize, shingle explode, partial aggregation — runs on 1 core of
  // local[32]. Par.widen inserts one hash repartition on doc_id ONLY when
  // the file layout under-feeds defaultParallelism; at cluster scale
  // (many files/splits) it is the identity. The text-heavy consumers opt
  // in per site; every other table keeps its bare loader (the exchange
  // is not free at fixture scale).
  import org.apache.spark.sql.functions.col

  def documentsWide(spark: SparkSession, sfDir: String): DataFrame =
    Par.widenTable(spark, documents(spark, sfDir), sfDir, "documents", col("doc_id"))

  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  def events(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "events")
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
}
