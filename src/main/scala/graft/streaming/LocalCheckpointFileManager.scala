package graft.streaming

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, LocalFileSystem, Path,
  PathFilter, RawLocalFileSystem, UnsupportedFileSystemException}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Streaming checkpoint IO that launches no process per file.
  *
  * Without libhadoop, Hadoop's `RawLocalFileSystem` runs `chmod` on every
  * create and mkdir (`setPermission`), and Spark's default manager renames
  * through `FileContext`, which runs `readlink` (`getFileLinkStatus`) on
  * every rename. A micro-batch writes a delta file, a checksum file and
  * their `.crc` sidecars per state partition, plus an offset and a commit
  * log entry, so those launches are most of a small stream's per-batch
  * cost.
  *
  * `file:` paths go through one checksummed [[LocalFileSystem]] per JVM
  * whose raw filesystem sets permissions with `java.nio`
  * ([[LocalCheckpointFileManager.NioRawLocalFileSystem]]), under Spark's
  * own rename-based atomic create (`FileSystemBasedCheckpointFileManager`:
  * hidden temp file in the same directory, rename on close, delete on
  * cancel, `FileAlreadyExistsException` when not overwriting). Its rename
  * is `FileSystem.rename(src, dst)`, a `File.renameTo` that reads no link.
  * The files written are the same as Spark's default manager writes,
  * `.crc` sidecars included, and reads verify them (Spark's default
  * writes its sidecars with checksums disabled). A checksum failure
  * leaves the file in place, as the default does. Every other scheme goes
  * to Spark's default choice, `FileContextBasedCheckpointFileManager`.
  *
  * The shared filesystem takes the configuration of Hadoop's cached
  * `file:` filesystem, which is built by whichever code first touches
  * `file:` in the JVM. A session's own `hadoopConf` (its `spark.hadoop.*`
  * values) does not reach checkpoint files under this manager: umask
  * (`fs.permissions.umask-mode`), `file.bytes-per-checksum` and buffer
  * sizes are the JVM's, the same for every session.
  *
  * [[graft.Graft.localSession]] installs it; a session built elsewhere
  * opts in with
  * `.config("spark.sql.streaming.checkpointFileManagerClass", "graft.streaming.LocalCheckpointFileManager")`.
  * Spark's checkpoint-checksum wrapper stays on top of it either way.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[streaming] val underlying: CheckpointFileManager =
    if (LocalCheckpointFileManager.isFileScheme(path, hadoopConf))
      new FileSystemBasedCheckpointFileManager(path, hadoopConf) {
        override protected val fs: FileSystem = LocalCheckpointFileManager.sharedFs(hadoopConf)
      }
    else
      // Spark's own fallback when the scheme has no FileContext binding
      try new FileContextBasedCheckpointFileManager(path, hadoopConf)
      catch {
        case _: UnsupportedFileSystemException =>
          new FileSystemBasedCheckpointFileManager(path, hadoopConf)
      }

  override def createAtomic(
      p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = underlying.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = underlying.list(p, filter)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object LocalCheckpointFileManager {

  private def isFileScheme(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  @volatile private var fs: LocalFileSystem = _

  /** The JVM's one checkpoint filesystem. It takes the configuration of
    * Hadoop's cached `file:` filesystem, so no manager copies or retains
    * a configuration of its own. */
  private def sharedFs(conf: Configuration): LocalFileSystem = {
    if (fs == null) synchronized {
      if (fs == null) {
        val base = FileSystem.getLocal(conf).getConf
        val lfs = new LocalFileSystem(new NioRawLocalFileSystem) {
          // the stock one runs `df` and moves a corrupt file into a
          // `bad_files` directory; Spark's default manager leaves it in place
          override def reportChecksumFailure(p: Path, in: FSDataInputStream,
              inPos: Long, sums: FSDataInputStream, sumsPos: Long): Boolean = false
        }
        lfs.setConf(base)
        lfs.initialize(URI.create("file:///"), base)
        fs = lfs
      }
    }
    fs
  }

  /** [[RawLocalFileSystem]] with `setPermission` done through `java.nio`
    * instead of a `chmod` process. Results match Hadoop's; a permission NIO cannot express (the
    * sticky bit) or a filesystem without POSIX attributes takes Hadoop's
    * own path. */
  private[streaming] class NioRawLocalFileSystem extends RawLocalFileSystem {

    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        val bits = permission.toShort
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        // values() runs OWNER_READ (0400) down to OTHERS_EXECUTE (0001)
        PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
          if ((bits & (0x100 >> i)) != 0) perms.add(perm)
        }
        try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
        catch {
          case e: NoSuchFileException => throw new FileNotFoundException(e.getMessage)
          case _: UnsupportedOperationException => super.setPermission(p, permission)
        }
      }
  }
}
