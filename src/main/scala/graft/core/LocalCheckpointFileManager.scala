package graft.core

import java.io.{BufferedOutputStream, FileNotFoundException}
import java.nio.file.{Files, StandardCopyOption, StandardOpenOption, Path => NioPath}
import java.util.UUID

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException,
  FileStatus, FileSystem, LocalFileSystem, Path, PathFilter}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The checkpoint file manager every `Sessions.tune` session registers
  * (`spark.sql.streaming.checkpointFileManagerClass`). Spark resolves
  * that one setting for the offset and commit logs of every streaming
  * query and for the state-store providers (HDFS-backed and RocksDB), so
  * every subscription, stateful window and ingest writes through here.
  *
  * Why: Spark's default for `file:` paths commits through Hadoop's
  * `FileContext` — `rename` calls `getFileLinkStatus`, which forks
  * `readlink`, and every create forks `chmod` — and without Hadoop's
  * native library each of those forks a process from the JVM, about
  * a dozen per trigger. At small trigger sizes those forks, not
  * compute, set delivery latency.
  *
  * For `file:` paths, `createAtomic` writes a temp file beside the
  * target with java.nio and publishes it without forking:
  *  - overwrite: delete the target's stale `.<name>.crc` sidecar (a
  *    checksummed read would otherwise fail against the new bytes, the
  *    reason `ChecksumFileSystem.rename` moves sidecars too), then an
  *    atomic move;
  *  - no overwrite: hard link then unlink the temp name. The link fails
  *    atomically with `FileAlreadyExistsException` when the target
  *    exists — the offset log's guard against two queries writing one
  *    checkpoint, as Spark's `FileContext` rename does.
  * Files written this way carry no `.crc` sidecar. `open`, `list`,
  * `exists`, `delete` and `mkdirs` go through the checksummed Hadoop
  * `LocalFileSystem`, so sidecars a previous writer left are still
  * verified, hidden from listings and deleted with their files; only
  * `mkdirs` forks (`chmod`, once per directory it creates).
  *
  * Every other scheme (HDFS, S3, ...) gets exactly the manager Spark
  * would pick without this setting.
  */
final class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private[graft] val impl: CheckpointFileManager =
    if (isNioScheme(schemeOf(path, hadoopConf))) {
      path.getFileSystem(hadoopConf) match {
        case fs: LocalFileSystem => new NioCheckpointFileManager(path, fs)
        case _ => sparkDefault(path, hadoopConf) // `fs.file.impl` overridden
      }
    } else sparkDefault(path, hadoopConf)

  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    impl.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = impl.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    impl.list(p, filter)
  override def mkdirs(p: Path): Unit = impl.mkdirs(p)
  override def exists(p: Path): Boolean = impl.exists(p)
  override def delete(p: Path): Unit = impl.delete(p)
  override def isLocal: Boolean = impl.isLocal
  override def createCheckpointDirectory(): Path =
    impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()
}

object LocalCheckpointFileManager {
  val ManagerClassKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** The scheme choice, a pure function: only `file` gets the java.nio
    * manager; every other scheme gets Spark's default. */
  private[graft] def isNioScheme(scheme: String): Boolean =
    "file".equalsIgnoreCase(scheme)

  /** A path's scheme, or the default file system's when it has none. */
  private def schemeOf(path: Path, conf: Configuration): String =
    Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)

  /** The manager Spark picks when the class setting is unset
    * (FileContext-based, falling back to FileSystem-based). */
  private[graft] def sparkDefault(path: Path,
      conf: Configuration): CheckpointFileManager = {
    val plain = new Configuration(conf)
    plain.unset(ManagerClassKey)
    CheckpointFileManager.create(path, plain)
  }
}

/** The `file:` side of [[LocalCheckpointFileManager]]. */
private[graft] final class NioCheckpointFileManager(root: Path,
    fs: LocalFileSystem) extends CheckpointFileManager {

  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    val target = fs.pathToFile(p).toPath
    val temp = target.resolveSibling(
      s".${target.getFileName}.${UUID.randomUUID}.tmp")
    new NioAtomicOutputStream(target, temp, overwriteIfPossible)
  }

  override def open(p: Path): FSDataInputStream = fs.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    fs.listStatus(p, filter)
  override def mkdirs(p: Path): Unit = fs.mkdirs(p, FsPermission.getDirDefault)
  override def exists(p: Path): Boolean = fs.exists(p)
  override def delete(p: Path): Unit =
    try fs.delete(p, true)
    catch { case _: FileNotFoundException => () } // already gone
  override def isLocal: Boolean = true
  override def createCheckpointDirectory(): Path = {
    val qualified = fs.makeQualified(root)
    mkdirs(qualified)
    qualified
  }
}

/** Writes `temp`; `close` publishes it as `target`, `cancel` drops it.
  * Either way the temp name is gone afterwards. */
private final class NioAtomicOutputStream(target: NioPath, temp: NioPath,
    overwrite: Boolean)
    extends CancellableFSDataOutputStream(new BufferedOutputStream(
      Files.newOutputStream(temp, StandardOpenOption.CREATE_NEW,
        StandardOpenOption.WRITE), 1 << 16)) {

  private var terminated = false

  override def close(): Unit = synchronized {
    if (!terminated) {
      terminated = true
      try {
        underlyingStream.close()
        if (overwrite) {
          Files.deleteIfExists(target.resolveSibling(
            s".${target.getFileName}.crc"))
          Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
        } else {
          try Files.createLink(target, temp)
          catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              throw new FileAlreadyExistsException(s"$target already exists")
          }
        }
      } finally Files.deleteIfExists(temp)
    }
  }

  // Best effort, like Spark's own cancel: callers cancel while handling
  // another failure, which an error here must not mask.
  override def cancel(): Unit = synchronized {
    if (!terminated) {
      terminated = true
      try {
        try underlyingStream.close() finally Files.deleteIfExists(temp)
      } catch { case NonFatal(_) => () }
    }
  }
}
