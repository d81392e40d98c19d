package graft

import org.apache.spark.sql.DataFrame

/** Lifecycle contract of [[CacheRegistry]], focused on the r19 change:
  * `cachedCheckpointed` must release BOTH storage entries a
  * lineage-truncated registry relation creates — the Dataset persist AND
  * the lazy localCheckpoint's RDD blocks (the r18 advisory leak: a
  * Dataset.unpersist does not touch the checkpointed RDD, so release/
  * releaseAll left MEMORY_AND_DISK blocks pinned for the session
  * lifetime). Assertions track the specific checkpoint RDD ids of the
  * frames built HERE — the shared test session may be running other
  * suites' jobs concurrently, so global persistent-RDD sets are not
  * stable to assert on.
  */
class CacheRegistrySpec extends SparkSpec {

  /** RDD ids of the LogicalRDD leaves (the localCheckpoint output). */
  private def checkpointRddIds(df: DataFrame): Seq[Int] = {
    val b = Seq.newBuilder[Int]
    df.queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD => b += r.rdd.id
      case _ => ()
    }
    b.result()
  }

  private def persisted(ids: Seq[Int]): Seq[Int] =
    ids.filter(spark.sparkContext.getPersistentRDDs.contains)

  test("cachedCheckpointed: release frees the checkpoint RDD blocks too") {
    val dir = writeFixture(documents = Seq(doc(0, "a b c"), doc(1, "d e f")))
    val frame = CacheRegistry.cachedCheckpointed(spark, s"spec.cp:$dir") {
      graft.operators.Dedup.exactDedup(spark, dir)
    }
    assert(frame.count() === 2)
    val ids = checkpointRddIds(frame)
    assert(ids.nonEmpty, "the frame must be a LogicalRDD over the checkpoint")
    assert(persisted(ids) === ids,
      "the lazy localCheckpoint must persist its RDD while registered")
    // Memoized: same instance on re-request, builder not re-run.
    val again = CacheRegistry.cachedCheckpointed(spark, s"spec.cp:$dir") {
      fail("builder must not re-run for a registered key"); null
    }
    assert(again eq frame)
    CacheRegistry.release(spark, s"spec.cp:$dir")
    assert(persisted(ids).isEmpty,
      s"release must unpersist the checkpoint RDD blocks, still persisted: ${persisted(ids)}")
  }

  test("cachedCheckpointed: releaseAll frees checkpoint blocks of every entry") {
    val dir = writeFixture(documents = Seq(doc(0, "a b"), doc(1, "c d")))
    // A session of its own: releaseAll drops every entry of the session it
    // is given, and the shared session holds other suites' entries.
    val s = spark.newSession()
    val a = CacheRegistry.cachedCheckpointed(s, s"spec.cpA:$dir") {
      graft.operators.Dedup.exactDedup(s, dir)
    }
    val b = CacheRegistry.cachedCheckpointed(s, s"spec.cpB:$dir") {
      graft.operators.Dedup.exactDedup(s, dir).limit(1)
    }
    a.count(); b.count()
    val ids = checkpointRddIds(a) ++ checkpointRddIds(b)
    assert(persisted(ids) === ids)
    CacheRegistry.releaseAll(s)
    assert(persisted(ids).isEmpty,
      "releaseAll must unpersist all tracked checkpoint RDDs")
  }
}
