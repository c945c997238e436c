package graft.util

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local FS over a raw layer that sets permissions in
  * this process. Without the native Hadoop library
  * `RawLocalFileSystem.setPermission` forks `chmod` once per call, and
  * every file a write creates (its `.crc` too) and every dir made with a
  * mode pays one: a curation pass forked over a thousand.
  *
  * It stays a `LocalFileSystem`, so `.crc` files are written and checked
  * as before and `FileSystem.getLocal` still returns it. [[Session]]
  * registers it for `file:`. Without that setting `file:` resolves to a
  * FileSystem service the classpath registers: with Spark's jars that is
  * Hive's `ProxyLocalFileSystem`, a `LocalFileSystem` whose
  * `rename` returns false onto any existing file. Here a file renamed
  * onto a file replaces it in one `rename(2)`, as Hadoop's own local FS
  * does.
  */
final class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeLocalFileSystem.Raw)

object ForkFreeLocalFileSystem {

  /** A mode's nine rwx bits, in `PosixFilePermission` order. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { p =>
      if ((mode & (1 << (8 - p.ordinal))) != 0) set.add(p)
    }
    set
  }

  /** Whether `f` is a dir carrying a setuid or setgid bit: `chmod` with a
    * four-digit mode keeps those on a dir, while `chmod(2)` from
    * `Files.setPosixFilePermissions` clears them.
    */
  private def dirWithIdBits(f: JPath): Boolean = {
    val mode = Files.getAttribute(f, "unix:mode").asInstanceOf[Int]
    (mode & 0xf000) == 0x4000 && (mode & 0xc00) != 0
  }

  /** `RawLocalFileSystem` whose `setPermission` sets a plain rwx mode with
    * `Files.setPosixFilePermissions`. Any other bit (the sticky bit), or a
    * dir whose setuid or setgid bit `chmod` would keep, goes to the parent,
    * so every mode comes out as the parent sets it.
    */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort & 0xffff
      val f = pathToFile(p).toPath
      if ((mode & ~0x1ff) != 0 || dirWithIdBits(f)) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(f, posix(mode))
    }
  }
}
