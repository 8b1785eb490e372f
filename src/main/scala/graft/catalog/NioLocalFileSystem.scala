package graft.catalog

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.hadoop.util.Shell

/** The stock checksummed local `FileSystem`, except that permissions are
  * set through `java.nio` instead of a forked `chmod`.
  *
  * Without the native `libhadoop`, `RawLocalFileSystem.setPermission` runs
  * `chmod` through `Shell.execCommand` for every file a writer creates
  * (data file and `.crc` sidecar) and every directory `mkdirs` makes: a
  * process spawn of several milliseconds on a task thread each. Only the
  * engine's path writes use this class ([[ParquetCatalog.writer]]).
  */
final class NioLocalFileSystem
    extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** `RawLocalFileSystem` with an in-process `setPermission` for the nine
    * rwx bits. It defers to the stock method, and so gives exactly its
    * result, whenever the two could differ:
    *   - native IO is loaded (the stock method then spawns nothing);
    *   - on Windows (no POSIX attribute view);
    *   - the mode has bits beyond `0777` (sticky, setuid, setgid);
    *   - the target is a directory carrying setuid/setgid, which
    *     `chmod 0755` keeps on a directory and a POSIX chmod(2) of nine
    *     bits would clear.
    */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort & 0xffff
      if (NativeIO.isAvailable || Shell.WINDOWS || (mode & ~Rwx) != 0)
        super.setPermission(p, permission)
      else {
        val file = pathToFile(p).toPath
        val current = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
        if ((current & DirType) == Dir && (current & SetIds) != 0)
          super.setPermission(p, permission)
        else Files.setPosixFilePermissions(file, bits(mode))
      }
    }
  }

  private val Rwx = 0x1ff       // octal 0777
  private val DirType = 0xf000 // S_IFMT, octal 0170000
  private val Dir = 0x4000     // S_IFDIR, octal 040000
  private val SetIds = 0xc00   // S_ISUID | S_ISGID, octal 06000

  /** `PosixFilePermission.values` runs OWNER_READ … OTHERS_EXECUTE, i.e.
    * mode bits 8 down to 0.
    */
  private def bits(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((mode & (1 << (8 - i))) != 0) set.add(perm)
    }
    set
  }
}
