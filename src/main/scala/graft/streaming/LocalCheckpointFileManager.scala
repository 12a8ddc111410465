package graft.streaming

import java.io.{EOFException, FileNotFoundException, OutputStream}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{FileAlreadyExistsException => NioFileAlreadyExistsException, Files, Paths, StandardCopyOption, StandardOpenOption, Path => NioPath}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSInputStream, FileAlreadyExistsException, FileStatus, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** [[CheckpointFileManager]] for `file:` checkpoints that talks to the
  * local filesystem through java.nio instead of Hadoop's
  * RawLocalFileSystem.
  *
  * Why it exists (measured, see OPTIMIZATION_r18.md): without native
  * Hadoop IO every permission-carrying Hadoop FS call on a local path
  * FORKS A PROCESS — `FileContext.create`/`FileSystem.mkdirs(perm)`
  * shell out `chmod`, permission-bearing FileStatus reads shell out
  * `ls -ld` (org.apache.hadoop.util.Shell.runCommand). The streaming
  * checkpoint protocol makes those calls on the driver's hot path —
  * offset log, commit log, and state-store delta/snapshot commits,
  * per micro-batch — and the gap profiler put Shell.runCommand at the
  * top of the driver's between-jobs samples for every streaming query.
  * java.nio performs the same operations as plain syscalls; checkpoint
  * metadata never needs Hadoop permission semantics.
  *
  * Data writes (parquet parts, committer dirs, the stream's `in/`
  * files) fork no more either: they go through the `file:` FileSystem
  * [[graft.io.LocalFileSystem]], which sets permissions through nio.
  * This manager stays for its non-overwrite close. That close is one
  * atomic `createLink`, while Spark's FileSystemBasedCheckpointFileManager
  * checks `exists` and then renames, which leaves a window for a second
  * writer between the two.
  *
  * Scale note: this is LOCAL-FS ONLY and wired up only for `local[*]`
  * sessions (Sessions.local). A cluster deployment checkpoints to
  * HDFS/S3, where the default FileContext/FileSystem managers are
  * correct — the conf knob (`spark.sql.streaming.checkpointFileManagerClass`)
  * stays at its default there.
  *
  * Contract notes (mirrors FileSystemBasedCheckpointFileManager, which
  * HDFSMetadataLog and the state stores are written against):
  *  - createAtomic writes a hidden `.name.uuid.tmp` sibling and renames
  *    on close; with overwriteIfPossible=false an existing destination
  *    raises org.apache.hadoop.fs.FileAlreadyExistsException (what
  *    HDFSMetadataLog.add catches for concurrent-writer detection).
  *  - open raises java.io.FileNotFoundException on a missing file (what
  *    HDFSMetadataLog.get catches); list on a missing dir likewise.
  *  - delete is recursive and silently ignores missing paths.
  */
class LocalCheckpointFileManager(path: Path, conf: Configuration)
    extends CheckpointFileManager {

  require(path.toUri.getScheme == null || path.toUri.getScheme == "file",
    s"LocalCheckpointFileManager handles only local paths, got: $path")

  private def nio(p: Path): NioPath = Paths.get(p.toUri.getPath)

  private def status(p: NioPath): FileStatus = {
    val attrs = Files.readAttributes(
      p, classOf[java.nio.file.attribute.BasicFileAttributes])
    new FileStatus(attrs.size(), attrs.isDirectory, 1, 33554432L,
      attrs.lastModifiedTime().toMillis,
      new Path("file", null, p.toAbsolutePath.toString))
  }

  override def list(p: Path, filter: PathFilter): Array[FileStatus] = {
    val np = nio(p)
    if (!Files.exists(np)) throw new FileNotFoundException(s"$p does not exist")
    val all =
      if (Files.isDirectory(np)) {
        val stream = Files.list(np)
        try stream.iterator().asScala.map(status).toArray finally stream.close()
      } else Array(status(np))
    all.filter(st => filter.accept(st.getPath))
  }

  override def mkdirs(p: Path): Unit = { Files.createDirectories(nio(p)); () }

  override def exists(p: Path): Boolean = Files.exists(nio(p))

  override def open(p: Path): FSDataInputStream = {
    val np = nio(p)
    if (!Files.isRegularFile(np)) throw new FileNotFoundException(s"$p does not exist")
    new FSDataInputStream(new LocalCheckpointFileManager.NioInputStream(np))
  }

  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    val dst = nio(p)
    if (dst.getParent != null) Files.createDirectories(dst.getParent)
    val tmp = dst.resolveSibling(s".${dst.getFileName}.${UUID.randomUUID}.tmp")
    new LocalCheckpointFileManager.RenameOnCloseStream(tmp, dst, overwriteIfPossible)
  }

  override def delete(p: Path): Unit = {
    val np = nio(p)
    try {
      if (Files.isDirectory(np)) {
        val stream = Files.walk(np)
        // deepest-first so dirs empty out before their own delete
        try stream.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => Files.deleteIfExists(f))
        finally stream.close()
      } else Files.deleteIfExists(np)
    } catch { case _: java.nio.file.NoSuchFileException => () }
    ()
  }

  override def isLocal: Boolean = true

  override def createCheckpointDirectory(): Path = {
    Files.createDirectories(nio(path))
    new Path("file", null, nio(path).toAbsolutePath.toString)
  }
}

object LocalCheckpointFileManager {

  /** Seekable/PositionedReadable local file stream over a FileChannel —
    * the shape FSDataInputStream requires of its wrapped stream. */
  private final class NioInputStream(p: NioPath) extends FSInputStream {
    private val ch = FileChannel.open(p, StandardOpenOption.READ)

    override def read(): Int = {
      val b = ByteBuffer.allocate(1)
      if (ch.read(b) <= 0) -1 else b.get(0) & 0xff
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      ch.read(ByteBuffer.wrap(b, off, len))
    override def read(pos: Long, b: Array[Byte], off: Int, len: Int): Int =
      ch.read(ByteBuffer.wrap(b, off, len), pos)
    override def readFully(pos: Long, b: Array[Byte], off: Int, len: Int): Unit = {
      var done = 0
      while (done < len) {
        val n = read(pos + done, b, off + done, len - done)
        if (n < 0) throw new EOFException(s"EOF at ${pos + done} in $p")
        done += n
      }
    }
    override def readFully(pos: Long, b: Array[Byte]): Unit =
      readFully(pos, b, 0, b.length)
    override def seek(pos: Long): Unit = { ch.position(pos); () }
    override def getPos: Long = ch.position()
    override def seekToNewSource(targetPos: Long): Boolean = false
    override def available(): Int =
      math.min(Int.MaxValue.toLong, math.max(0L, ch.size() - ch.position())).toInt
    override def close(): Unit = ch.close()
  }

  /** Buffered temp-file writer that renames into place on close().
    * close/cancel are idempotent and mutually safe, matching
    * RenameBasedFSDataOutputStream. */
  private final class RenameOnCloseStream(tmp: NioPath, dst: NioPath,
      overwriteIfPossible: Boolean)
    extends CancellableFSDataOutputStream(
      new java.io.BufferedOutputStream(Files.newOutputStream(tmp,
        StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))) {

    @volatile private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        super.close() // flushes and closes the buffered temp stream
        try {
          if (overwriteIfPossible)
            Files.move(tmp, dst, StandardCopyOption.REPLACE_EXISTING,
              StandardCopyOption.ATOMIC_MOVE)
          else {
            // link(2) fails atomically if dst exists — no TOCTOU window
            // between an exists-check and a silently-replacing rename(2),
            // so concurrent non-overwrite writers are detected airtight
            // (HDFSMetadataLog.add relies on this exception).
            Files.createLink(dst, tmp)
            Files.deleteIfExists(tmp)
          }
        } catch {
          case _: NioFileAlreadyExistsException =>
            Files.deleteIfExists(tmp)
            throw new FileAlreadyExistsException(
              s"rename destination $dst already exists")
        }
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try super.close() catch { case _: Throwable => () }
        try { Files.deleteIfExists(tmp); () } catch { case _: Throwable => () }
      }
    }
  }
}
