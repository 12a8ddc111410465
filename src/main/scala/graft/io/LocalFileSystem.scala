package graft.io

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` FileSystem of every graft session (`fs.file.impl`, set
  * in [[graft.Sessions.builder]]): Hadoop's checksummed LocalFileSystem
  * over a raw filesystem that applies permissions through java.nio.
  *
  * Why it exists: without native Hadoop IO, RawLocalFileSystem sets the
  * permission of every file and directory it creates by FORKING
  * `chmod` (Shell.execCommand) — 3–4 ms per call, against microseconds
  * for chmod(2). Every parquet part, `.crc` sidecar, `_SUCCESS` marker
  * and FileOutputCommitter task/job directory pays it, so a small
  * store commit is dominated by process creation (tools/forkcount.sh
  * counts them per query). Everything else —
  * checksums, streams, listing, rename, the umask applied from
  * `fs.permissions.umask-mode` — is the stock implementation.
  */
class LocalFileSystem
    extends org.apache.hadoop.fs.LocalFileSystem(new LocalFileSystem.NioRaw)

object LocalFileSystem {

  /** S_ISUID | S_ISGID | S_ISVTX: bits java.nio cannot set. */
  private val SpecialBits = 0xe00

  /** RawLocalFileSystem with a fork-free `setPermission`. It sets the
    * same bits as the stock `chmod %04o`: the nine rwx bits, replacing
    * the old ones. The rare cases nio cannot express go to the stock
    * call unchanged — a requested sticky bit, and a target already
    * carrying set-id or sticky bits (which `chmod` keeps on directories
    * and which nio would silently clear). */
  final class NioRaw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val f = pathToFile(p).toPath
      if (permission.getStickyBit ||
          (Files.getAttribute(f, "unix:mode").asInstanceOf[Int] & SpecialBits) != 0)
        super.setPermission(p, permission)
      else Files.setPosixFilePermissions(f, posix(permission.toShort & 0x1ff))
    }
  }

  /** The nine permission bits as nio's set; PosixFilePermission's
    * declaration order is OWNER_READ (0400) down to OTHERS_EXECUTE (01). */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values().foreach { p =>
      if ((mode & (1 << (8 - p.ordinal))) != 0) s.add(p)
    }
    s
  }
}
