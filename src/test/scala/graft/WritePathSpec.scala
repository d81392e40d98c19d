package graft

import graft.operators.Curation
import org.apache.spark.sql.functions._

/** Output-layout contract for the pipeline write path: split-partitioned
  * parquet, and partition PRUNING (not filtering) when a split is read
  * back — at 100 TB reading `split=train` must scan zero bytes of val/
  * test, which only the directory layout guarantees.
  */
class WritePathSpec extends SparkSpec {

  test("split-partitioned write prunes partitions on read-back") {
    val s = spark
    val sfDir = "/root/testdata/sf0.001"
    val out = java.nio.file.Files.createTempDirectory("graft-writepath").toString
    // The gated split assignment (fingerprint-keyed) becomes the physical
    // layout: one directory per split.
    Curation.splitAssign(s, sfDir)
      .write.mode("overwrite").partitionBy("split").parquet(out)
    val dirs = new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("split=")).toSet
    assert(dirs === Set("split=train", "split=val", "split=test"))

    val train = s.read.parquet(out).where(col("split") === "train")
    val expected = Curation.splitAssign(s, sfDir).where(col("split") === "train")
    assert(rows(train.select("doc_id", "fp", "bucket", "split")) ===
      rows(expected.select("doc_id", "fp", "bucket", "split")))
    // Pruning, not filtering: the split predicate must land in
    // PartitionFilters on the scan (zero data read from other splits),
    // and must NOT appear as a post-scan Filter.
    val plan = train.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(split"),
      s"split predicate must prune partitions:\n$plan")
    assert(!plan.contains("PushedFilters: [IsNotNull(split"),
      "split is a partition column, not a data column")
  }

  test("epoch-shuffle bucketed write serves shard-local order with zero extra exchange") {
    val s = spark
    val sfDir = "/root/testdata/sf0.001"
    val tbl = "graft_epoch_pack"
    // Since Spark 3.0 the scan only REPORTS sorted-bucket output ordering
    // under this flag (probing files-per-bucket is priced as expensive by
    // default); the layout below genuinely is one sorted file per bucket,
    // which is exactly the case the flag exists for.
    try withConfs("spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true") {
      // The 100 TB form the epochShuffle scaladoc claims (Curation.scala
      // "write bucketed by shard with sortWithinPartitions(pos)"), proven:
      // the gated plan's output written bucketed by (epoch, shard) and
      // sorted by (epoch, shard, pos, doc_id). repartition onto the SAME
      // (epoch, shard) hash with numPartitions = numBuckets leaves exactly
      // one file per bucket — the layout whose sortedness a reader can
      // consume.
      Curation.epochShuffle(s, sfDir)
        .repartition(4, col("epoch"), col("shard"))
        .write.bucketBy(4, "epoch", "shard")
        .sortBy("epoch", "shard", "pos", "doc_id")
        .mode("overwrite")
        .saveAsTable(tbl)
      // Reader: the trainer's "shard k of epoch e, in order" access —
      // re-derive the per-shard sequence. Bucketing satisfies the
      // window's clustering, the sorted single-file buckets its ordering:
      // the executed plan must contain ZERO exchanges and ZERO sorts.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("epoch", "shard").orderBy("pos", "doc_id")
      val reread = s.table(tbl)
        .withColumn("seq2", row_number().over(w).cast("long"))
      reread.collect() // materialize so AQE finalizes the plan
      val finalPlan = reread.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(!finalPlan.contains("Exchange hashpartitioning"),
        s"bucketed read-back must not re-shuffle:\n$finalPlan")
      assert(!finalPlan.contains("Sort ["),
        s"sorted buckets must serve the window's ordering sort-free:\n$finalPlan")
      // And the served order IS the gated plan's order: the re-derived
      // sequence equals the seq the gated query computed pre-write.
      assert(rows(reread.where(col("seq2") =!= col("seq"))).isEmpty,
        "reader sequence must equal the gated plan's seq")
      assert(reread.count() === Curation.epochShuffle(s, sfDir).count())
    } finally s.sql(s"DROP TABLE IF EXISTS $tbl")
  }
}
