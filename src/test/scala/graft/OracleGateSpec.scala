package graft

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.sys.process._
import scala.util.Try
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The driver's correctness gate, one test per gated query: `graft.Verify`
  * runs on the sf0.01 fixture in a child JVM (the 2-argument contract:
  * `Harness.session`'s confs, this JVM's classpath and JVM flags — the
  * build.sbt add-opens among them), then `tools/check.py` compares every
  * dump with its DuckDB oracle. Each query's test passes only on its own
  * `OK <name>` line.
  *
  * Fails closed: a query Verify recorded as thrown, a mismatch or a
  * missing line fails that query's test; a Verify exit that recorded no
  * thrown query, or a check.py run without its summary line, fails every
  * test. Nothing is skipped.
  */
class OracleGateSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.01"

  private lazy val outDir: Path = Files.createTempDirectory("graft-oracle-gate")

  /** Runs `cmd` in the project directory, stdout and stderr to `log`. */
  private def run(cmd: Seq[String], log: File): Int = {
    val logger = ProcessLogger(log)
    try Process(cmd, new File(".")).!(logger) finally logger.close()
  }

  /** (Verify exit code, check.py exit code, check.py output lines), run
    * once for the whole spec: a failure to run either is kept, not
    * retried per test.
    */
  private lazy val gate: Try[(Int, Int, Seq[String])] = Try {
    val java = s"${sys.props("java.home")}/bin/java"
    val jvmFlags = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
    val verifyLog = outDir.resolve("verify.log").toFile
    val t0 = System.nanoTime()
    val verifyCode = run(
      Seq(java) ++ jvmFlags ++ Seq("-cp", sys.props("java.class.path"),
        "graft.Verify", sfDir, outDir.resolve("out").toString),
      verifyLog)
    val t1 = System.nanoTime()
    val checkLog = outDir.resolve("check.log").toFile
    val checkCode = run(
      Seq("python3", "tools/check.py", sfDir, outDir.resolve("out").toString),
      checkLog)
    val t2 = System.nanoTime()
    info(f"graft.Verify ${(t1 - t0) / 1e9}%.0f s (exit $verifyCode), " +
      f"tools/check.py ${(t2 - t1) / 1e9}%.0f s (exit $checkCode)")
    val lines = Files.readAllLines(checkLog.toPath).asScala.toSeq
    (verifyCode, checkCode, lines)
  }

  override def afterAll(): Unit = {
    try Seq("rm", "-rf", outDir.toString).! finally super.afterAll()
  }

  private val Summary = """== \d+ ok, \d+ bad, \d+ skipped.*""".r
  private val Ok = """^OK\s+(\S+) \(.*""".r

  SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
    test(s"$name matches its DuckDB oracle") {
      val (verifyCode, checkCode, lines) = gate.get
      val summary = lines.find(Summary.matches)
      assert(summary.isDefined,
        s"tools/check.py exited $checkCode without its summary line:\n" +
          lines.takeRight(20).mkString("\n"))
      val recorded = verifyCode == 0 || lines.exists(_.contains(": graft.Verify threw: "))
      assert(recorded, s"graft.Verify exited $verifyCode without recording a thrown query")
      val matched = lines.exists { case Ok(n) => n == name; case _ => false }
      assert(matched,
        lines.find(_.startsWith(s"FAIL $name:"))
          .getOrElse(s"no OK line for $name") + s" (${summary.get})")
    }
  }
}
