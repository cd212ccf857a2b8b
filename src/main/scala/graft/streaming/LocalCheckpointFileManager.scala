package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FSDataInputStream,
  LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The streaming checkpoint file manager the engine registers
  * (`spark.sql.streaming.checkpointFileManagerClass`, set by
  * [[graft.core.GraftSession.configure]]).
  *
  * Every micro-batch commits an offset-log file, a commit-log file and
  * one state delta per partition, each as a temp file plus an atomic
  * rename. Spark's default manager does this through Hadoop's
  * FileContext, and on the local filesystem without libhadoop that
  * forks `readlink` on every rename (the link-status probe) and
  * `chmod` on every create (the data file and its `.crc` sidecar):
  * ~25 ms of process spawning per checkpoint file, which made the
  * commit the fixed per-batch cost of every stateful stream.
  *
  * `file:` paths therefore get Spark's [[FileSystemBasedCheckpointFileManager]]
  * over Hadoop's checksummed [[LocalFileSystem]], whose raw layer sets
  * permissions with `java.nio` instead of a forked `chmod`; its rename
  * is `FileSystem.rename`, i.e. `rename(2)`, with no link probe. What
  * the default manager guarantees still holds: the temp-file-plus-
  * rename commit, the no-overwrite `FileAlreadyExistsException`, the
  * `.crc` sidecars and their verification on read, the file modes,
  * and Spark's own checkpoint checksum files (which wrap whatever
  * manager is configured). Every other scheme, or a `file` scheme
  * mapped to a non-default FileContext filesystem, gets exactly the
  * manager `CheckpointFileManager.create` would choose without this
  * class.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[graft] val underlying: CheckpointFileManager =
    if (LocalCheckpointFileManager.isDefaultLocal(path, hadoopConf)) {
      val local = LocalCheckpointFileManager.forkFreeLocalFs(hadoopConf)
      new FileSystemBasedCheckpointFileManager(path, hadoopConf) {
        override protected val fs: FileSystem = local
      }
    } else {
      val conf = new Configuration(hadoopConf)
      conf.unset(LocalCheckpointFileManager.ConfKey)
      CheckpointFileManager.create(path, conf)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = underlying.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    underlying.list(p, filter)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path =
    underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object LocalCheckpointFileManager {
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** A `file` path the default manager would commit through Hadoop's
    * own checksummed local FileContext (`LocalFs`). */
  private def isDefaultLocal(path: Path, conf: Configuration): Boolean = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    scheme == "file" &&
      conf.getClass("fs.AbstractFileSystem.file.impl", null) == classOf[LocalFs]
  }

  /** A checksummed local filesystem over [[ForkFreeRawLocalFileSystem]],
    * configured like the one `path.getFileSystem` returns. Uncached:
    * the instance belongs to one manager. */
  private def forkFreeLocalFs(conf: Configuration): LocalFileSystem = {
    val fs = new LocalFileSystem(new ForkFreeRawLocalFileSystem)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }
}

/** Hadoop's raw local filesystem with `setPermission` done in-process.
  * Without libhadoop the stock call forks `chmod`; on a POSIX
  * filesystem `Files.setPosixFilePermissions` sets the same nine mode
  * bits. The stock call still handles what that cannot: libhadoop
  * present, a sticky bit, or a non-POSIX filesystem. */
private[streaming] class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (NativeIO.isAvailable || permission.getStickyBit)
      super.setPermission(p, permission)
    else {
      val mode = permission.toShort
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // PosixFilePermission's declaration order is the mode's bit order,
      // owner read (0400) first
      PosixFilePermission.values.zipWithIndex.foreach { case (pp, i) =>
        if ((mode & (0x100 >> i)) != 0) perms.add(pp)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch {
        case _: UnsupportedOperationException =>
          super.setPermission(p, permission)
      }
    }
}
