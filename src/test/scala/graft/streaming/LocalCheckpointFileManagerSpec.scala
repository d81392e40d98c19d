package graft.streaming

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileAlreadyExistsException, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

/** Local disk behind a scheme Hadoop does not know: a non-local file
  * system for the dispatch tests, buildable offline.
  */
class OtherSchemeFileSystem extends FilterFileSystem(new RawLocalFileSystem) {
  override def getScheme: String = "other"
  override def getUri: URI = URI.create("other:///")
}

/** The `FileContext` face of [[OtherSchemeFileSystem]]. */
class OtherSchemeFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new OtherSchemeFileSystem, conf, "other", false)

/** [[LocalCheckpointFileManager]] leaves the files Spark's own manager
  * leaves, and hands every non-`file:` scheme to Spark's default.
  */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {
  import LocalCheckpointFileManager.ConfKey

  /** A Hadoop conf that names this manager, as a session's would. */
  private def ours: Configuration = {
    val conf = new Configuration()
    conf.set(ConfKey, classOf[LocalCheckpointFileManager].getName)
    conf
  }

  private def tempDir(): String = Files.createTempDirectory("graft-cfm").toString
  private def names(dir: String): Set[String] =
    Option(new java.io.File(dir).list()).map(_.toSet).getOrElse(Set.empty)
  private def mode(file: String): String =
    java.nio.file.attribute.PosixFilePermissions.toString(
      Files.getPosixFilePermissions(Paths.get(file)))

  private def write(fm: CheckpointFileManager, p: Path, text: String,
      overwrite: Boolean = true): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  test("Spark builds it from the conf key; a file: path takes the local branch") {
    val fm = CheckpointFileManager.create(new Path(tempDir()), ours)
    assert(fm.isInstanceOf[LocalCheckpointFileManager])
    val local = fm.asInstanceOf[LocalCheckpointFileManager]
    assert(local.isLocal)
    assert(local.delegate.isInstanceOf[FileSystemBasedCheckpointFileManager])
  }

  test("createAtomic leaves the bytes, a .crc sidecar and the stock modes, no temp file") {
    val (dir, stockDir) = (tempDir(), tempDir())
    val fm = CheckpointFileManager.create(new Path(dir), ours)
    val stock = CheckpointFileManager.create(new Path(stockDir), new Configuration())
    assert(stock.isInstanceOf[FileContextBasedCheckpointFileManager])
    fm.mkdirs(new Path(s"$dir/sub"))
    stock.mkdirs(new Path(s"$stockDir/sub"))
    write(fm, new Path(s"$dir/sub/1"), "v1")
    write(stock, new Path(s"$stockDir/sub/1"), "v1")
    assert(names(s"$dir/sub") === Set("1", ".1.crc"))
    assert(names(s"$dir/sub") === names(s"$stockDir/sub"))
    assert(new String(Files.readAllBytes(Paths.get(s"$dir/sub/1")), UTF_8) === "v1")
    for (f <- Seq("sub", "sub/1", "sub/.1.crc"))
      assert(mode(s"$dir/$f") === mode(s"$stockDir/$f"), f)
    // Read back through the checksummed stream, and overwrite in place.
    write(fm, new Path(s"$dir/sub/1"), "v2")
    val in = fm.open(new Path(s"$dir/sub/1"))
    try assert(new String(in.readAllBytes(), UTF_8) === "v2") finally in.close()
    assert(fm.list(new Path(s"$dir/sub")).map(_.getPath.getName).toSet === Set("1"))
  }

  test("cancel leaves neither the file nor a temp file") {
    val dir = tempDir()
    val fm = CheckpointFileManager.create(new Path(dir), ours)
    val out = fm.createAtomic(new Path(s"$dir/2"), overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(names(dir) === Set.empty)
    assert(!fm.exists(new Path(s"$dir/2")))
  }

  test("overwriteIfPossible = false onto an existing file throws and keeps the file") {
    val dir = tempDir()
    val fm = CheckpointFileManager.create(new Path(dir), ours)
    write(fm, new Path(s"$dir/3"), "first")
    intercept[FileAlreadyExistsException] {
      write(fm, new Path(s"$dir/3"), "second", overwrite = false)
    }
    assert(new String(Files.readAllBytes(Paths.get(s"$dir/3")), UTF_8) === "first")
  }

  test("any other scheme gets Spark's default: FileContext, else FileSystem") {
    val conf = ours
    conf.set("fs.other.impl", classOf[OtherSchemeFileSystem].getName)
    conf.set("fs.other.impl.disable.cache", "true")
    val path = new Path(s"other:${tempDir()}")
    // No AbstractFileSystem for the scheme: Spark falls back to FileSystem.
    val noFc = new LocalCheckpointFileManager(path, conf)
    assert(noFc.delegate.getClass === classOf[FileSystemBasedCheckpointFileManager])
    assert(!noFc.isLocal)
    conf.set("fs.AbstractFileSystem.other.impl", classOf[OtherSchemeFs].getName)
    val fc = new LocalCheckpointFileManager(path, conf)
    assert(fc.delegate.getClass === classOf[FileContextBasedCheckpointFileManager])
    assert(!fc.isLocal)
    // The caller's conf still names this manager; only the delegate's copy drops it.
    assert(conf.get(ConfKey) === classOf[LocalCheckpointFileManager].getName)
  }
}
