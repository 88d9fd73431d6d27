package graft.ops

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.util.concurrent.atomic.AtomicLong

/** The checksummed local file system ([[LocalFileSystem]], `.crc`
  * sidecars and all) over [[NioRawLocalFileSystem]]: what `file:`
  * resolves to inside the engine's own parquet writes ([[Fs.writer]]
  * names it per write; nothing else sees it). Hadoop instantiates it
  * by class name, hence the no-argument constructor. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Hadoop's raw local file system with a fork-free `setPermission`.
  *
  * Without libhadoop, [[RawLocalFileSystem]] applies every mode by
  * running `/bin/chmod`: one process start per created file (`0644`,
  * its `.crc` included) and per created directory (`0755`), most of
  * them on executor threads — the per-file cost that dominated a small
  * commit. Here the same mode bits go through
  * `Files.setPosixFilePermissions`, so the bytes and modes on disk are
  * the same and no process starts. A mode java.nio cannot express (the
  * sticky bit) and a file store without POSIX attributes keep Hadoop's
  * own path. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    NioRawLocalFileSystem.calls.incrementAndGet()
    val mode = permission.toShort & 0xffff
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        NioRawLocalFileSystem.posix(mode))
      catch {
        case _: UnsupportedOperationException =>
          super.setPermission(p, permission)
      }
  }
}

object NioRawLocalFileSystem {

  /** `setPermission` calls this file system answered in this JVM — how
    * a spec sees that a write went through it. */
  val calls = new AtomicLong

  /** The nine permission bits of `mode` as java.nio permissions:
    * `PosixFilePermission` declares OWNER_READ … OTHERS_EXECUTE, i.e.
    * mode bit 8 down to bit 0. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.iterator.zipWithIndex.foreach {
      case (perm, i) => if ((mode & (1 << (8 - i))) != 0) s.add(perm)
    }
    s
  }
}
