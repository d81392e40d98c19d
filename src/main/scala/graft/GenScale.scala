package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic scale-up of a driver fixture (default sf0.1 → a 10×
  * "sf1" under the repo — /root/testdata is read-only) for headroom
  * testing: the 10× step that surfaces any plan secretly leaning on
  * fixture size (broadcast thresholds, collect_list growth, driver-side
  * materialization).
  *
  * Model: `factor` disjoint key-space shards of the source. Every id and
  * foreign key shifts by shard·Stride (10⁸ — far above any source key),
  * so referential integrity and per-key row densities survive exactly;
  * region/nation stay fixed (TPC-H keeps dimensions constant across SF).
  * Document texts in shard k > 0 go through a per-shard VOCABULARY
  * ISOMORPHISM: every word gets the shard tag appended in place
  * (w → wzk, still one token — r15; suffix-only before, then two
  * rejected spliced-marker designs).
  * Why: a trailing suffix leaves cross-shard copies NEAR-duplicates —
  * every word shingle except the last survives — so the near-dup pair
  * count grew as shards² (measured: 256 prefix-Jaccard pairs at sf0.1 →
  * 250,600 at 10 shards, ~27 M projected at 100), a generator artifact
  * that would swamp any shingle-similarity measurement one decade up.
  * Real corpora hold near-dup DENSITY roughly constant as they grow —
  * the same contract as every other per-key density here. Two rejected
  * designs first tried to get there by SPLICING a constant marker token
  * between words; both degrade the shingle family (Dedup.ShingleW = 3):
  * a marker every 4th word leaves half the trigrams marker-free and
  * shared across shards (sf1 trigram df ×7, prefix candidates 24.6 M
  * where linear density predicts ~400 k), and a marker every 2nd word
  * covers every trigram but turns it into an effective BIGRAM — two of
  * its three positions are the constant's neighbors — collapsing
  * within-shard shingle entropy (sf1 candidates 36.9 M, worse). The
  * isomorphism has neither problem: it is a BIJECTIVE token renaming,
  * so every shard's shingle-df distribution equals the source's exactly
  * (per-shard candidates = sf0.1's, total linear in shards), shingle
  * sets across shards are disjoint (distinct vocabularies), and the
  * seeded dup/near-dup structure of the source is preserved verbatim.
  * Exact dedup stays broken across shards too (distinct tokens ⇒
  * distinct strings), and token COUNTS are unchanged — text-analytics
  * costs scale exactly with rows.
  * Embeddings replicate unchanged (the ANN query workload is
  * vec_id < 20 — shard 0 only; the all-pairs embedding-similarity
  * baselines are gate-scale queries, excluded from stress subsets,
  * where identical cross-shard vectors would pair quadratically).
  * events.ts is
  * rewritten from TIMESTAMP(NANOS) to micro-second timestamps — the same
  * epoch-ms values through BOTH read paths (Shapes.eventTimeMs handles
  * either representation; DuckDB's epoch_ms reads both) without needing
  * the nanosAsLong legacy flag on the scaled fixture.
  */
object GenScale {
  val Stride = 100000000L

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "testdata-sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    // docMode "vocab" (default): density-correct scaling via the
    // per-shard vocabulary isomorphism (class scaladoc). docMode
    // "suffix": the legacy r7–r14 transform that leaves cross-shard
    // copies near-duplicates — kept as the ADVERSARIAL generator
    // (near-dup mass ∝ shards², the heavy-dup corpus the triangle audit
    // and the exact→prefix decision flip were measured on). docMode
    // "longtok" (r17): long tokens + heavy-df boilerplate head — the
    // adversarial corpus for the gram-string-vs-fp shuffle measurement
    // (see the documents transform below).
    val docMode = if (args.length > 3) args(3) else "vocab"
    // Fail fast on unknown modes (r15 renamed the default from "marker";
    // an old `GenScale ... marker` invocation must error, not silently
    // generate vocab-mode fixtures under the retired name).
    require(docMode == "vocab" || docMode == "suffix" || docMode == "longtok",
      s"unknown docMode '$docMode' (expected 'vocab', 'suffix' or 'longtok')")
    val spark = Harness.session(32)
    def shards(df: DataFrame)(f: (DataFrame, Long) => DataFrame): DataFrame =
      (0 until factor).map(i => f(df, i.toLong * Stride)).reduce(_ union _)
    // One parquet FILE per table (like the driver fixtures — the DuckDB
    // gate registers '<dir>/<t>.parquet' as a single file, not a glob).
    // Small row groups (8 MB buffered vs the 128 MB default) keep the
    // single file SPLITTABLE: Spark assigns scan tasks per row group, and
    // the default left sf10's 500 k-doc documents.parquet as ONE group —
    // every text-explode stage (trigrams, shingles, BM25 tokens) ran as
    // one task regardless of local[32] (r15 measured: 774 CPU-seconds in
    // a single top-ngrams task). A 100 TB corpus is thousands of files —
    // a fixture must not be artificially UNsplittable when the point of
    // the decade is measuring scan/shuffle parallelism.
    def write(df: DataFrame, name: String): Unit = {
      val tmp = s"$out/_tmp_$name"
      df.coalesce(1).write
        .option("parquet.block.size", 8L * 1024 * 1024)
        .mode("overwrite").parquet(tmp)
      val dir = new java.io.File(tmp)
      val part = dir.listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(s"$out/$name.parquet")
      if (dst.exists()) dst.delete()
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dir.listFiles().foreach(_.delete())
      dir.delete()
      ()
    }
    val r = spark.read
    write(r.parquet(s"$src/region.parquet"), "region")
    write(r.parquet(s"$src/nation.parquet"), "nation")
    write(shards(r.parquet(s"$src/customer.parquet")) { (d, o) =>
      d.withColumn("c_custkey", col("c_custkey") + o)
    }, "customer")
    write(shards(r.parquet(s"$src/supplier.parquet")) { (d, o) =>
      d.withColumn("s_suppkey", col("s_suppkey") + o)
    }, "supplier")
    write(shards(r.parquet(s"$src/part.parquet")) { (d, o) =>
      d.withColumn("p_partkey", col("p_partkey") + o)
    }, "part")
    write(shards(r.parquet(s"$src/orders.parquet")) { (d, o) =>
      d.withColumn("o_orderkey", col("o_orderkey") + o)
        .withColumn("o_custkey", col("o_custkey") + o)
    }, "orders")
    write(shards(r.parquet(s"$src/lineitem.parquet")) { (d, o) =>
      d.withColumn("l_orderkey", col("l_orderkey") + o)
        .withColumn("l_partkey", col("l_partkey") + o)
        .withColumn("l_suppkey", col("l_suppkey") + o)
    }, "lineitem")
    // Same type dispatch as Shapes.eventTimeMs: an epoch-nanos-Long `ts`
    // (old fixture generations under nanosAsLong) rewrites to micro-
    // second timestamps; the live TIMESTAMP(MICROS) fixtures pass
    // through unchanged — both yield identical epoch-ms on read.
    val evRaw = r.parquet(s"$src/events.parquet")
    val ev = evRaw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        evRaw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => evRaw
    }
    write(shards(ev) { (d, o) =>
      d.withColumn("event_id", col("event_id") + o)
        .withColumn("user_id", col("user_id") + o)
    }, "events")
    write(shards(r.parquet(s"$src/documents.parquet")) { (d, o) =>
      val shifted = d.withColumn("doc_id", col("doc_id") + o)
      val k = o / Stride
      // docMode "longtok" (r17): the ADVERSARIAL corpus for the gram-
      // string-vs-8-byte-fp shuffle question (t_top_ngrams_hashed's
      // claimed home regime — long tokens, heavy-tailed gram df). Two
      // moves on top of the vocab isomorphism, applied to EVERY shard
      // (shard 0 included — the whole tree is in-regime):
      //   1. every body word gets the shard tag AND a constant 32-char
      //      low-entropy payload (w → wzk + 'q'*32): still a BIJECTIVE
      //      per-shard renaming — per-shard token/shingle-df
      //      distributions equal the source's exactly, shard vocabularies
      //      stay disjoint, token COUNTS unchanged — but every token is
      //      now ~40 chars, so a word-3-gram STRING is ~120 bytes where
      //      the fixture's was ~25 and its 62-bit fp stays 8;
      //   2. a constant 8-word boilerplate head (same padded shape, NO
      //      shard tag) prepends every document: its 6 trigrams carry
      //      df = |corpus| — the heavy head a boilerplate-ridden web
      //      crawl shows — while the body tail stays rare. The head is
      //      absorbed map-side by partial aggregation in BOTH plans (6
      //      distinct grams); the contested shuffle mass is the rare
      //      long tail, which is exactly where the two plans differ.
      if (o == 0L && docMode != "longtok") shifted
      else {
        val text = docMode match {
          case "suffix" => concat(col("text"), lit(s" shard$k"))
          case "vocab" => array_join(expr(
            s"transform(split(text, ' '), w -> concat(w, 'z$k'))"), " ")
          case _ =>
            val pad = "q" * 32
            val head = (1 to 8).map(i => s"boiler$i$pad").mkString("", " ", " ")
            concat(lit(head), array_join(expr(
              s"transform(split(text, ' '), w -> concat(w, 'z$k', '$pad'))"), " "))
        }
        shifted
          .withColumn("text", text)
          .withColumn("n_chars", length(col("text")).cast("long"))
      }
    }, "documents")
    write(shards(r.parquet(s"$src/embeddings.parquet")) { (d, o) =>
      d.withColumn("vec_id", col("vec_id") + o)
    }, "embeddings")
    println(s"""{"gen":"$out","factor":$factor,"src":"$src"}""")
    spark.stop()
  }
}
