package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, plus
  * verify_errors.json naming every query that threw (exit 1 if any). An
  * optional third arg (comma-separated names) restricts the dump to a
  * subset for quick iteration; the driver's 2-arg contract is unchanged. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val subset = args.lift(2)
    val spark = Harness.session(4)
    new java.io.File(outDir).mkdirs()
    // A query that throws is a gate FAILURE, never a skip: every error is
    // recorded in verify_errors.json (which tools/check.py and
    // tools/check_scale.py read) and the run exits 1 after the dumps.
    val errors = Harness.select(subset).flatMap { case (name, fn) =>
      // repartition(1), NOT coalesce(1): coalesce is a narrow dependency,
      // so it would collapse every stage back to the last shuffle into
      // the single write task — at sf10 that single-threaded the heavy
      // queries' final aggregates (r15: d_adaptive_jaccard_pairs spent
      // 48 CPU-min in one task). The round-trip shuffle on the (small,
      // post-filter) result keeps upstream parallelism and still lands
      // one part-file per query.
      try {
        fn(spark, sfDir).repartition(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> s"${e.getClass.getName}: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // The oracle dumps are NEVER filtered by the subset arg (r17): a
    // fast-iteration subset re-run into a dir holding a full sweep must
    // refresh that one query's parquet without truncating the oracle
    // map — otherwise the dir silently stops being a full-sweep record
    // (measured: the r17 sf1 pin was voided exactly this way before the
    // fix). Dumping all texts is free; the checkers iterate over the
    // parquet dirs present, so a subset dir still checks only its subset.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Bounded scale-oracle overrides (tools/check_scale.py): for the
    // queries whose equality oracles are infeasible at sf1, the sidecar
    // carries violation/composed checks so the 10x pass verifies every
    // query inside budget. check.py ignores this file; the gate-scale
    // contract is unchanged.
    val scaleJson = graft.operators.ScaleOracles.checks
      .map { case (k, c) =>
        val setup = c.setup.map(q).mkString("[", ",", "]")
        s"${q(k)}: {${q("mode")}: ${q(c.mode)}, ${q("sql")}: ${q(c.sql)}," +
          s" ${q("aux")}: ${q(c.aux)}, ${q("setup")}: $setup}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/scale_oracle_sql.json"), scaleJson)
    val errJson = errors.map { case (k, m) => s"${q(k)}: ${q(m)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"),
      s"""{"subset": ${subset.map(q).getOrElse("null")}, "errors": $errJson}""")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
