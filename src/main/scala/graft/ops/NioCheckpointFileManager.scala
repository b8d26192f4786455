package graft.ops

import java.io.BufferedOutputStream
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException,
  FileStatus, LocalFileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.
  FileContextBasedCheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.
  CancellableFSDataOutputStream

/** A streaming checkpoint file manager (selected through
  * `spark.sql.streaming.checkpointFileManagerClass`) that writes local
  * checkpoints through `java.nio.file`. Without Hadoop's native library,
  * the default manager forks a `chmod`, `stat` or `readlink` process for
  * every checkpoint file it creates or renames on the local file system;
  * here `mkdirs` and the temp-file-then-atomic-rename write fork nothing.
  * `open`, `list`, `exists` and `delete` go to Hadoop's raw local file
  * system, which does not fork for them. A path on any other file system
  * keeps Spark's default manager for every call. */
class NioCheckpointFileManager(path: Path, conf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, conf) {
  // raw: files written here carry no .crc, so reads must not verify one
  private val localFs = path.getFileSystem(conf) match {
    case fs: LocalFileSystem => Some(fs.getRawFileSystem)
    case _ => None
  }
  private def nio(p: Path) = Paths.get(localFs.get.makeQualified(p).toUri)

  override def mkdirs(p: Path): Unit =
    if (localFs.isEmpty) super.mkdirs(p) else Files.createDirectories(nio(p))

  override def createCheckpointDirectory(): Path =
    if (localFs.isEmpty) super.createCheckpointDirectory()
    else { mkdirs(path); localFs.get.makeQualified(path) }

  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    if (localFs.isEmpty) super.createAtomic(p, overwriteIfPossible)
    else {
      val dst = nio(p)
      val tmp = dst.resolveSibling(s".${dst.getFileName}.${UUID.randomUUID}.tmp")
      new CancellableFSDataOutputStream(new BufferedOutputStream(
          Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW))) {
        private var done = false
        override def close(): Unit = synchronized {
          if (!done) {
            done = true
            try {
              super.close()
              if (!overwriteIfPossible && Files.exists(dst))
                throw new FileAlreadyExistsException(s"$p already exists")
              Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE,
                StandardCopyOption.REPLACE_EXISTING)
            } finally Files.deleteIfExists(tmp)
          }
        }
        override def cancel(): Unit = synchronized {
          if (!done) {
            done = true
            try super.close() finally Files.deleteIfExists(tmp)
          }
        }
      }
    }

  override def open(p: Path): FSDataInputStream =
    localFs.fold(super.open(p))(_.open(p))

  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    localFs.fold(super.list(p, filter))(_.listStatus(p, filter))

  override def exists(p: Path): Boolean =
    localFs.fold(super.exists(p))(_.exists(p))

  override def delete(p: Path): Unit =
    localFs.fold(super.delete(p))(_.delete(p, true))
}
