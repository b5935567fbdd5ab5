package graft.fs

import java.nio.file.{Files, LinkOption, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission
import java.util.EnumSet

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.{FsAction, FsPermission}

/** Fork-free permission handling for the `file:` scheme.
  *
  * Without libhadoop (this environment never loads it —
  * "NativeCodeLoader: Unable to load native-hadoop library"), Hadoop's
  * `RawLocalFileSystem.setPermission` falls back to FORKING a `chmod`
  * PROCESS per path, and every staged write calls it twice per created
  * artifact (the output-stream constructor and each `mkdirs` level).
  * Measured on the r16 baseline event log (guide §7.3): a
  * date-partitioned warehouse append's 32 write tasks each spent
  * 3-7 s at <3% CPU, every thread dump parked in
  * `Shell.runCommand → RawLocalFileSystem.setPermission` — forking a
  * multi-GB JVM serializes at ~100 ms/fork under concurrency, so the
  * fork IS the write stage. Same disease r15 excised from streaming
  * checkpoints ([[graft.streaming.LocalCheckpointFileManager]]), now
  * removed from the data write path.
  *
  * [[GraftRawLocalFileSystem]] overrides the ONE choke point —
  * `setPermission` — with `java.nio.file.Files.setPosixFilePermissions`
  * (a plain fchmodat(2), no fork). Everything else (rename semantics,
  * CRC sidecars via the [[LocalFileSystem]] checksum wrapper, listing,
  * streams) is byte-identical inherited Hadoop behavior. The rare
  * shapes NIO cannot express (sticky/setuid bits) fall back to the
  * inherited shell path, so no permission is ever silently dropped.
  *
  * Wired as `spark.hadoop.fs.file.impl` in [[graft.GraftSession]].
  * Scheme-scoped by construction: HDFS/S3/… resolve
  * their own implementations, and clusters WITH libhadoop simply never
  * reach the shell fallback this class replaces — the override is then
  * a same-cost native chmod either way.
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    if (permission == null) return
    // NIO has no sticky/setuid/setgid vocabulary — keep the inherited
    // (forking) path for those rare bits rather than dropping them
    if (permission.getStickyBit || (permission.toShort & 0xE00) != 0) {
      super.setPermission(p, permission)
      return
    }
    val f = pathToFile(p).toPath
    try Files.setPosixFilePermissions(f, GraftRawLocalFileSystem.toNio(permission))
    catch {
      case _: NoSuchFileException =>
        throw new java.io.FileNotFoundException(p.toString)
      case _: UnsupportedOperationException =>
        // non-POSIX store mounted at file:// — inherited behavior
        super.setPermission(p, permission)
    }
    ()
  }
}

object GraftRawLocalFileSystem {
  import PosixFilePermission._

  private[fs] def toNio(p: FsPermission): java.util.Set[PosixFilePermission] = {
    val s = EnumSet.noneOf(classOf[PosixFilePermission])
    def add(a: FsAction, r: PosixFilePermission, w: PosixFilePermission,
        x: PosixFilePermission): Unit = {
      if (a.implies(FsAction.READ)) s.add(r)
      if (a.implies(FsAction.WRITE)) s.add(w)
      if (a.implies(FsAction.EXECUTE)) s.add(x)
      ()
    }
    add(p.getUserAction, OWNER_READ, OWNER_WRITE, OWNER_EXECUTE)
    add(p.getGroupAction, GROUP_READ, GROUP_WRITE, GROUP_EXECUTE)
    add(p.getOtherAction, OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)
    s
  }
}

/** The checksummed `file:` filesystem Spark expects (CRC sidecars and
  * all), over the fork-free raw layer.
  */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)
