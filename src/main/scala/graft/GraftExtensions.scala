package graft

import graft.functions.{LongVectorDot, MinHashSigs, PolyHash, SimHash64, WordShingleHashes}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SparkSessionExtensions entry point: registers the graft native
  * expressions as SQL functions, so they are usable from `spark.sql` /
  * `expr` strings as well as the Column API:
  *
  *   builder.withExtensions(new GraftExtensions)          // or
  *   builder.config("spark.sql.extensions", "graft.GraftExtensions")
  *
  *   SELECT poly_hash(text), word_shingle_hashes(text, 3, true),
  *          long_vector_dot(a, b) ...
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.registrations.foreach(ext.injectFunction)
}

object GraftExtensions {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def boolArg(e: Expression, what: String): Boolean = e match {
    case Literal(v: Boolean, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be a boolean literal, got $other")
  }

  /** (identifier, info, builder) triples shared by the extension (new
    * sessions) and [[register]] (existing sessions).
    */
  val registrations: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("poly_hash"),
      info("poly_hash",
        "poly_hash(str) - 62-bit codepoint fingerprint: two rolling hashes packed hi/lo"),
      (args: Seq[Expression]) => PolyHash(args.head)),
    (FunctionIdentifier("word_shingle_hashes"),
      info("word_shingle_hashes",
        "word_shingle_hashes(str, w, distinct[, wide]) - hashes of word w-gram shingles " +
          "(wide=true: 62-bit two-hash pack)"),
      (args: Seq[Expression]) => WordShingleHashes(
        args.head, intArg(args(1), "w"), boolArg(args(2), "distinct"),
        if (args.length > 3) boolArg(args(3), "wide") else false)),
    (FunctionIdentifier("long_vector_dot"),
      info("long_vector_dot", "long_vector_dot(a, b) - exact BIGINT-array dot product"),
      (args: Seq[Expression]) => LongVectorDot(args.head, args(1))),
    (FunctionIdentifier("simhash64"),
      info("simhash64",
        "simhash64(str) - 60-bit SimHash over per-token 62-bit hashes (one pass per row)"),
      (args: Seq[Expression]) => SimHash64(args.head)),
    (FunctionIdentifier("minhash_sigs"),
      info("minhash_sigs",
        "minhash_sigs(str, w) - 32-permutation MinHash signature over w-gram shingles"),
      (args: Seq[Expression]) => MinHashSigs(args.head, intArg(args(1), "w"))))

  /** Registers the graft functions into an already-running session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    registrations.foreach { case (id, inf, b) =>
      org.apache.spark.sql.graftbridge.CatalystBridge
        .registerFunction(spark, id, inf, b)
    }
    // Session-level engine default (r18 advisory: set once at session
    // setup instead of as a Par.rightsize side effect, so cached-plan
    // behavior never depends on whether a rightsized build has already
    // run in the session). Required for the registry's keyed REBALANCE
    // persists: AQE may only resize a cached plan's output partitioning
    // when this is on — without it a 256-row pair relation persists as
    // `shuffle.partitions` near-empty partitions and every multi-embedded
    // consumer pays ~10 × 32 empty task launches per run (the measured
    // r18 g_dup_triangles regression; see Par.rightsize).
    try spark.conf.set(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    catch { case _: Throwable => () }
  }
}
