package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame

/** [[Tables.load]]'s JVM-global schema memo must not outlive the file it
  * describes: a fixture regenerated at the same path re-infers.
  */
class TablesSpec extends SparkSpec {

  test("schema memo: a fixture rewritten at the same path loads with its new schema") {
    val dir = Files.createTempDirectory("graft-schema-memo").toString
    val path = s"$dir/t.parquet"
    // Explicit mtimes: the spec must not depend on timestamp resolution.
    def write(df: DataFrame, mtimeMs: Long): Unit = {
      df.write.mode("overwrite").parquet(path)
      assert(new java.io.File(path).setLastModified(mtimeMs))
    }
    write(spark.range(3).toDF("a"), 1600000000000L)
    assert(Tables.load(spark, dir, "t").schema.fieldNames.toSeq === Seq("a"))
    write(spark.range(3).selectExpr("id AS b", "CAST(id AS STRING) AS c"), 1700000000000L)
    val reloaded = Tables.load(spark, dir, "t")
    assert(reloaded.schema.fieldNames.toSeq === Seq("b", "c"))
    assert(rows(reloaded) === Set(Seq(0L, "0"), Seq(1L, "1"), Seq(2L, "2")))
  }
}
