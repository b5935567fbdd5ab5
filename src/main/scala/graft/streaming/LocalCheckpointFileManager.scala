package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, Path, PathFilter,
  RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileContextBasedCheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.
  CheckpointFileManager.CancellableFSDataOutputStream

/** Scheme-adaptive [[CheckpointFileManager]]: pure java.nio for `file:`
  * checkpoints, Spark's own managers for every other filesystem.
  *
  * WHY (r15 optimization, guide §1/§7.3): on a local filesystem with no
  * native Hadoop library, Spark's default FileContext-based manager
  * pays a `fork`+`exec` of an external `readlink` process for EVERY
  * rename (`AbstractFileSystem.renameInternal` →
  * `RawLocalFileSystem.getFileLinkStatus` → `Shell.execCommand`), and
  * the Hadoop `ChecksumFs` layer doubles the file count with `.crc`
  * sidecars. Spark 4.1's checkpoint file-checksum feature multiplies
  * the rename count again and awaits those renames from every
  * state-store task — thread dumps of the stalled micro-batches show
  * all 32 task threads parked in `ChecksumCheckpointFileManager
  * .awaitResult` above a `Shell.runCommand` fork storm, burning 5–10 s
  * of pure wall per batch with ZERO cpu. Measured on
  * q113_warehouse_stream_upsert (3 AvailableNow drains): 6.0–6.9 s →
  * 2.9–3.2 s wall, 40 s → 15 s process-CPU, with this manager.
  *
  * SEMANTICS: on POSIX, `Files.move(..., ATOMIC_MOVE)` is an atomic
  * rename — the same guarantee the FileContext route buys on HDFS, and
  * strictly stronger than the FileSystem-based fallback Spark itself
  * uses when FileContext is unavailable. `createAtomic(overwrite =
  * false)` translates the NIO existence check into Hadoop's
  * `FileAlreadyExistsException`, which is what `HDFSMetadataLog`
  * expects from a losing concurrent committer. Spark-level checkpoint
  * checksums (`spark.sql.streaming.checkpoint.fileChecksum.enabled`)
  * wrap THIS manager exactly as they wrap the defaults, so integrity
  * checking is unchanged — only the per-file I/O cost drops.
  *
  * Non-`file:` checkpoint locations (a real cluster's HDFS/object
  * store) delegate to Spark's own selection: FileContext-based when
  * the scheme supports it, FileSystem-based otherwise — byte-for-byte
  * the default behavior, so nothing here is tuned to local mode; the
  * local path is just no longer paying cluster-filesystem overheads it
  * never needed.
  */
class LocalCheckpointFileManager(root: Path, conf: Configuration)
    extends CheckpointFileManager {

  private val scheme = Option(root.toUri.getScheme)
  private val local = scheme.forall(s => s == "file" || s == "local")

  /** Fork-free local I/O: RawLocalFileSystem (no `.crc` layer; its
    * list/open/mkdirs/delete are pure java.io — permission loading,
    * the other Shell fallback, only triggers on getPermission/getOwner,
    * which no checkpoint caller touches).
    */
  private val rawFs: RawLocalFileSystem = if (local) {
    val fs = new RawLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), conf)
    fs
  } else null

  /** Spark's own manager choice for non-local schemes (the exact
    * fallback chain CheckpointFileManager.create uses when no custom
    * class is configured).
    */
  private lazy val delegate: CheckpointFileManager =
    try new FileContextBasedCheckpointFileManager(root, conf)
    catch {
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        new FileSystemBasedCheckpointFileManager(root, conf)
    }

  private def nio(p: Path) = Paths.get(p.toUri.getPath)

  override def createAtomic(path: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    if (!local) return delegate.createAtomic(path, overwriteIfPossible)
    val dir = nio(path).getParent
    if (dir != null) Files.createDirectories(dir)
    val tmp = dir.resolve(
      s".${path.getName}.${java.util.UUID.randomUUID}.tmp")
    val out = new java.io.BufferedOutputStream(
      Files.newOutputStream(tmp), 64 * 1024)
    new CancellableFSDataOutputStream(out) {
      private var done = false
      override def close(): Unit = synchronized {
        if (done) return
        done = true
        out.close()
        if (overwriteIfPossible) {
          Files.move(tmp, nio(path), StandardCopyOption.ATOMIC_MOVE,
            StandardCopyOption.REPLACE_EXISTING)
          ()
        } else {
          // POSIX rename(2) — what ATOMIC_MOVE maps to — silently
          // REPLACES an existing destination, so "fail the losing
          // committer" needs link(2): hard-linking the temp to the
          // destination atomically fails when it already exists (no
          // check-then-rename race at all — stronger than the
          // exists-probe Spark's FileSystem-based fallback does).
          try { Files.createLink(nio(path), tmp); Files.delete(tmp); () }
          catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              Files.deleteIfExists(tmp)
              // the contract HDFSMetadataLog's losing committer expects
              throw new org.apache.hadoop.fs.FileAlreadyExistsException(
                s"rename destination $path already exists")
            case e @ (_: UnsupportedOperationException |
                      _: java.nio.file.FileSystemException)
                // filesystems that reject link(2) surface EPERM/EACCES
                // as a generic FileSystemException (FUSE, overlayfs,
                // some network mounts), not UnsupportedOperation —
                // same fallback; a FileAlreadyExists subtype is real
                // contention and was handled above
                if !e.isInstanceOf[java.nio.file.FileAlreadyExistsException] =>
              // no hard links on this fs: exists-probe + atomic move
              // (the same best-effort Spark's own fallback manager does)
              if (Files.exists(nio(path))) {
                Files.deleteIfExists(tmp)
                throw new org.apache.hadoop.fs.FileAlreadyExistsException(
                  s"rename destination $path already exists")
              }
              Files.move(tmp, nio(path), StandardCopyOption.ATOMIC_MOVE)
              ()
          }
        }
      }
      override def cancel(): Unit = synchronized {
        if (done) return
        done = true
        try out.close() finally { Files.deleteIfExists(tmp); () }
      }
    }
  }

  override def open(path: Path): FSDataInputStream =
    if (local) rawFs.open(path) else delegate.open(path)

  override def list(path: Path, filter: PathFilter): Array[FileStatus] =
    if (local) {
      try rawFs.listStatus(path, filter)
      catch { case _: java.io.FileNotFoundException => Array.empty }
    } else delegate.list(path, filter)

  override def mkdirs(path: Path): Unit =
    if (local) { Files.createDirectories(nio(path)); () }
    else delegate.mkdirs(path)

  override def exists(path: Path): Boolean =
    if (local) Files.exists(nio(path)) else delegate.exists(path)

  override def delete(path: Path): Unit =
    if (local) {
      try { rawFs.delete(path, true); () }
      catch { case _: java.io.FileNotFoundException => () }
    } else delegate.delete(path)

  override def isLocal: Boolean = local || delegate.isLocal

  override def createCheckpointDirectory(): Path =
    if (local) { mkdirs(root); root }
    else delegate.createCheckpointDirectory()
}
