package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, FsConstants, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Streaming checkpoint files (offset and commit logs, state-store
  * changelogs and snapshots) written without forking a shell, for the
  * `file:` scheme. Plugged in through Spark's
  * `spark.sql.streaming.checkpointFileManagerClass`
  * ([[LocalCheckpointFileManager.ConfKey]]).
  *
  * Without libhadoop, Spark's default manager forks `chmod` for each file
  * and its `.crc` (`RawLocalFileSystem.setPermission`) and `readlink`
  * several times per rename (`FileContext.rename` →
  * `getFileLinkStatus` → `FileUtil.readLink`): about 46 process starts per
  * trigger of a keyed stream. On `file:` paths this manager is Spark's
  * `FileSystemBasedCheckpointFileManager` (a temp file, then a Java
  * rename, atomic on POSIX) over a `LocalFileSystem` whose raw layer sets
  * permissions through `java.nio`: the same files, `.crc` sidecars and
  * mode bits, with no fork. Any other file system gets exactly what Spark
  * picks when the key is unset, so HDFS and object stores keep their
  * rename semantics.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  // By scheme, not by FileSystem class: Spark's distribution registers
  // Hive's ProxyLocalFileSystem for `file:`.
  private[streaming] val delegate: CheckpointFileManager =
    if (path.getFileSystem(hadoopConf).getUri.getScheme == "file")
      new LocalCheckpointFileManager.NoForkManager(path, hadoopConf)
    else LocalCheckpointFileManager.sparkDefault(path, hadoopConf)

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalCheckpointFileManager {
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** What `CheckpointFileManager.create` returns when [[ConfKey]] is unset:
    * the `FileContext` manager, or the `FileSystem` one for a scheme with
    * no `AbstractFileSystem`.
    */
  private[streaming] def sparkDefault(path: Path, hadoopConf: Configuration): CheckpointFileManager = {
    val stock = new Configuration(hadoopConf)
    stock.unset(ConfKey)
    CheckpointFileManager.create(path, stock)
  }

  /** `chmod` through `java.nio` (POSIX mode bits only; a sticky bit keeps
    * Hadoop's own path).
    */
  private class NioPermissionRawLocalFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
  }

  private class NoForkManager(path: Path, hadoopConf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {
    override protected val fs: FileSystem = {
      val local = new LocalFileSystem(new NioPermissionRawLocalFileSystem)
      local.initialize(FsConstants.LOCAL_FS_URI, hadoopConf)
      local
    }
  }
}
