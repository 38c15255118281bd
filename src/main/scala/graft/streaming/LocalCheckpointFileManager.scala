package graft.streaming

import java.io.{BufferedOutputStream, IOException}
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Checkpoint file manager that writes `file:` checkpoints without starting
  * a process. Without Hadoop's native library, Spark's default
  * `FileContextBasedCheckpointFileManager` forks one `chmod` and about eight
  * `readlink` processes per file it writes (`RawLocalFileSystem.setPermission`,
  * `FileUtil.readLink` → `Shell.execCommand`): about 500 per three-batch
  * stateful lifecycle, and most of a topology micro-batch's time outside
  * its Spark jobs. Every offset/commit WAL entry, source/sink metadata log
  * entry and state-store file goes through this class once
  * [[graft.GraftExtensions]] installs it.
  *
  * On `file:` paths (the checkpoint root's scheme, or the default file
  * system's when it has none):
  *  - `createAtomic` writes a hidden temp file beside the target with
  *    `java.nio` and publishes it on `close()` by an atomic rename
  *    (overwrite) or a hard link (no overwrite: an existing target is never
  *    replaced and raises Hadoop's `FileAlreadyExistsException`, which
  *    `HDFSMetadataLog` reads as a concurrent writer); `cancel()` removes
  *    the temp file;
  *  - publishing `name` first deletes a stale `.name.crc` sidecar, so a
  *    checkpoint begun under Spark's default manager stays readable by both;
  *  - `mkdirs` and `createCheckpointDirectory` are `Files.createDirectories`;
  *  - `open`, `list`, `exists` and `delete` go through Hadoop's
  *    `FileSystem`, which starts no process for them.
  *
  * Every other scheme delegates to exactly the manager Spark would have
  * built without this class, so remote atomic-rename semantics are Spark's.
  * Opt out by setting `spark.sql.streaming.checkpointFileManagerClass`.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private val onLocalFs = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    scheme == "file"
  }

  /** Reads, listings and deletes; every call on a non-`file:` root. */
  private[streaming] val delegate: CheckpointFileManager =
    if (onLocalFs) new FileSystemBasedCheckpointFileManager(path, hadoopConf)
    else {
      val sparkDefault = new Configuration(hadoopConf)
      sparkDefault.unset(ConfKey)
      CheckpointFileManager.create(path, sparkDefault)
    }

  private lazy val localFs = FileSystem.getLocal(hadoopConf)
  private def qualified(p: Path): Path = localFs.makeQualified(p)
  private def nio(p: Path) = Paths.get(qualified(p).toUri)

  override def createAtomic(p: Path,
                            overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    if (onLocalFs) AtomicLocalOutputStream(nio(p), overwriteIfPossible)
    else delegate.createAtomic(p, overwriteIfPossible)

  override def open(p: Path): FSDataInputStream = delegate.open(p)

  override def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate.list(p, filter)

  override def mkdirs(p: Path): Unit =
    if (onLocalFs) Files.createDirectories(nio(p)) else delegate.mkdirs(p)

  override def exists(p: Path): Boolean = delegate.exists(p)

  override def delete(p: Path): Unit = delegate.delete(p)

  override def isLocal: Boolean = delegate.isLocal

  override def createCheckpointDirectory(): Path =
    if (onLocalFs) { mkdirs(path); qualified(path) }
    else delegate.createCheckpointDirectory()

  override def close(): Unit = delegate.close()
}

object LocalCheckpointFileManager {
  /** Spark's setting that names the session's checkpoint file manager. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** The temp file is `.<name>.<uuid>.tmp` in the target's directory, the
    * name Spark's own managers use, so listings skip it as hidden. */
  private final class AtomicLocalOutputStream(tmp: java.nio.file.Path,
                                              dst: java.nio.file.Path,
                                              overwrite: Boolean)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))) {
    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          underlyingStream.close()
          Files.deleteIfExists(dst.resolveSibling(s".${dst.getFileName}.crc"))
          if (overwrite) Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
          else try Files.createLink(dst, tmp) catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              throw new FileAlreadyExistsException(s"$dst already exists")
          }
        } finally Files.deleteIfExists(tmp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try underlyingStream.close() catch { case _: IOException => () }
        finally Files.deleteIfExists(tmp)
      }
    }
  }

  private object AtomicLocalOutputStream {
    def apply(dst: java.nio.file.Path, overwrite: Boolean): AtomicLocalOutputStream =
      new AtomicLocalOutputStream(
        dst.resolveSibling(s".${dst.getFileName}.${UUID.randomUUID}.tmp"), dst, overwrite)
  }
}
