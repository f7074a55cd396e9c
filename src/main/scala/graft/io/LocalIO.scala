package graft.io

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FSDataInputStream, LocalFileSystem, Path, PathFilter, RawLocalFileSystem, UnsupportedFileSystemException}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** Local (`file:`) Hadoop I/O that starts no processes.
  *
  * Without libhadoop (`NativeIO.isAvailable` false — the usual case for a
  * pip/tarball Spark), Hadoop's `RawLocalFileSystem` shells out in two
  * places on the local checkpoint path:
  *  - `setPermission` runs `chmod`, and every file create and every mkdir
  *    with a permission calls it (ChecksumFileSystem adds one more per
  *    `.crc` sidecar);
  *  - a FileContext rename runs `readlink` twice
  *    (`AbstractFileSystem.rename` → `getFileLinkStatus` →
  *    `FileUtil.readLink`).
  *
  * A streaming micro-batch writes an offset log entry, a commit log entry,
  * one state delta per store per partition and their checksum files, so a
  * bounded replay forked hundreds of processes per execution: that fork
  * cost, not the bytes, was most of a state commit.
  *
  * [[graft.GraftSession.builderWith]] wires both classes in: the
  * [[ForklessLocalFileSystem]] as `fs.file.impl` and the
  * [[ForklessCheckpointFileManager]] as Spark's checkpoint file manager.
  * Every file, `.crc` sidecar, checkpoint checksum and permission bit
  * written before is still written.
  */
object LocalIO {

  /** Whether `path` resolves to the local file system (an unqualified path
    * resolves against `fs.defaultFS`). */
  def isLocalPath(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"
}

/** `RawLocalFileSystem` whose `setPermission` sets the same mode bits
  * through `java.nio` instead of forking `chmod`. A permission with the
  * sticky bit, which `java.nio` cannot express, falls back to Hadoop's
  * implementation. */
class ForklessRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
      permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
        permission.getOtherAction.SYMBOL))
}

/** Hadoop's checksummed `LocalFileSystem` (`.crc` sidecars kept) over the
  * fork-free raw file system. */
class ForklessLocalFileSystem extends LocalFileSystem(new ForklessRawLocalFileSystem)

/** Checkpoint file manager that picks Spark's FileSystem-based manager for
  * `file:` paths and Spark's default FileContext-based one for every other
  * scheme.
  *
  * On a local disk rename(2) is atomic, so the FileSystem-based manager's
  * exists-then-rename is as safe as FileContext's rename, and it runs no
  * `readlink`. HDFS and object stores keep the FileContext manager, whose
  * rename is the atomic, overwrite-refusing one Spark relies on there, and
  * the same fallback as Spark's default choice (the FileSystem-based
  * manager for a scheme FileContext does not support), so cluster
  * checkpoints behave exactly as without this class. */
class ForklessCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[graft] val delegate: CheckpointFileManager =
    if (LocalIO.isLocalPath(path, hadoopConf))
      new FileSystemBasedCheckpointFileManager(path, hadoopConf)
    else try new FileContextBasedCheckpointFileManager(path, hadoopConf)
    catch {
      case _: UnsupportedFileSystemException =>
        new FileSystemBasedCheckpointFileManager(path, hadoopConf)
    }

  override def createAtomic(
      p: Path, overwriteIfPossible: Boolean): CheckpointFileManager.CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate.list(p, filter)
  override def list(p: Path): Array[FileStatus] = delegate.list(p)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}
