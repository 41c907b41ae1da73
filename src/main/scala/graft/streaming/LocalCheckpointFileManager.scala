package graft.streaming

import java.io.{BufferedOutputStream, EOFException, FileNotFoundException, IOException, InputStream}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{FileSystemException, FileVisitResult, Files, NoSuchFileException,
  SimpleFileVisitor, StandardCopyOption, StandardOpenOption, Path => JPath, Paths}
import java.nio.file.attribute.BasicFileAttributes

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus,
  FileSystem, Path, PathFilter, PositionedReadable, Seekable}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Checkpoint files of a stream on the local file system, written and read
  * through java.nio instead of Hadoop's local file system classes.
  *
  * Why: every micro-batch writes an offset-log entry, a commit-log entry
  * and one state-store delta per stateful partition, all through this
  * trait. Spark's default [[FileContextBasedCheckpointFileManager]] goes
  * through Hadoop's ChecksumFs over RawLocalFs, and without the
  * native-hadoop library that layer forks `chmod` and `stat` processes for
  * each file it creates, renames or inspects. Measured with the Hadoop
  * 3.4.2 / Spark 4.1.2 jars (JDK 17, 4-core Intel Xeon container, 200
  * small files after 40 warm-up, p50; forks counted from /proc/stat): the
  * default manager's createAtomic + close takes 26-28 ms and 20 forked
  * processes per file (create 5 ms, the publishing rename 20 ms); this
  * one takes 0.1-0.3 ms and forks none. A traced netflow trigger spent
  * walCommit p50 39 ms, commitOffsets p50 36 ms and 232 ms of state
  * commits on such files. Spark's built-in
  * `FileSystemBasedCheckpointFileManager` is no way out: it runs on the
  * same `RawLocalFileSystem`, where create + close costs 5.1 ms and a
  * status lookup with permissions 3.0 ms, both forked (its createAtomic +
  * close: 5.6-6.2 ms, 4 forks per file).
  *
  * Semantics, matching the rename-based managers:
  *  - `createAtomic` writes a hidden temp file `.<name>.<uuid>.tmp` next to
  *    the target. `close` publishes it with one atomic rename; with
  *    `overwriteIfPossible = false` it publishes through a hard link, which
  *    fails atomically with [[FileAlreadyExistsException]] when the target
  *    exists (and falls back to check-then-rename where hard links are not
  *    supported). `cancel`, or a failed publish, removes the temp file.
  *    Like Spark's managers it does not fsync.
  *  - Files that Spark's default manager wrote read back unchanged: its
  *    ChecksumFs `.<name>.crc` sidecars are hidden from `list`, removed by
  *    `delete`, and removed before a file is republished, so a checkpoint
  *    can move between the two managers in either direction.
  *  - Any scheme other than `file:` (or a scheme-less path whose default
  *    file system is not `file:`) goes to Spark's default manager
  *    unchanged.
  *
  * `GraftSession.builder` installs it through
  * `spark.sql.streaming.checkpointFileManagerClass`, so the offset and
  * commit logs, file-sink logs and HDFS/RocksDB state-store files of every
  * graft stream use it.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  /** Spark's default manager, for paths that are not on the local disk. */
  private[graft] val delegate: Option[CheckpointFileManager] = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if ("file".equalsIgnoreCase(scheme)) None
    else Some(new FileContextBasedCheckpointFileManager(path, hadoopConf))
  }

  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate.fold[CancellableFSDataOutputStream](
      new AtomicOutput(local(p), overwriteIfPossible))(
      _.createAtomic(p, overwriteIfPossible))

  override def open(p: Path): FSDataInputStream = delegate.fold {
    val f = local(p)
    val ch = try FileChannel.open(f, StandardOpenOption.READ)
      catch { case _: NoSuchFileException => throw new FileNotFoundException(f.toString) }
    new FSDataInputStream(new ChannelInput(ch))
  }(_.open(p))

  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    delegate.fold {
      val f = local(p)
      val attrs = stat(f).getOrElse(throw new FileNotFoundException(f.toString))
      if (!attrs.isDirectory)
        Array(status(qualified(f), attrs)).filter(s => filter.accept(s.getPath))
      else {
        val dir = qualified(f)
        val out = Array.newBuilder[FileStatus]
        val ds = Files.newDirectoryStream(f)
        try ds.forEach { c =>
          val name = c.getFileName.toString
          if (!hidden(name)) stat(c).foreach { a =>
            val s = status(new Path(dir, name), a)
            if (filter.accept(s.getPath)) out += s
          }
        } finally ds.close()
        out.result()
      }
    }(_.list(p, filter))

  override def mkdirs(p: Path): Unit =
    delegate.fold[Unit](Files.createDirectories(local(p)))(_.mkdirs(p))

  override def exists(p: Path): Boolean =
    delegate.fold(Files.exists(local(p)))(_.exists(p))

  override def delete(p: Path): Unit = delegate.fold {
    val f = local(p)
    stat(f).foreach { a =>
      if (a.isDirectory) deleteTree(f)
      else { Files.deleteIfExists(f); Files.deleteIfExists(sidecar(f)) }
    }
  }(_.delete(p))

  override def isLocal: Boolean = delegate.forall(_.isLocal)

  override def createCheckpointDirectory(): Path = delegate.fold {
    val f = local(path)
    Files.createDirectories(f)
    qualified(f)
  }(_.createCheckpointDirectory())

  override def close(): Unit = delegate.foreach(_.close())
}

object LocalCheckpointFileManager {
  private val BufferBytes = 64 * 1024
  /** Hadoop's default block size for the local file system. */
  private val LocalBlockSize = 32L * 1024 * 1024

  private def local(p: Path): JPath = Paths.get(p.toUri.getPath)

  private def qualified(f: JPath): Path = new Path("file", null, f.toAbsolutePath.toString)

  /** ChecksumFs sidecars and in-flight temp files: never listed. */
  private def hidden(name: String): Boolean =
    name.startsWith(".") && (name.endsWith(".crc") || name.endsWith(".tmp"))

  private def sidecar(f: JPath): JPath = f.resolveSibling(s".${f.getFileName}.crc")

  private def stat(f: JPath): Option[BasicFileAttributes] =
    try Some(Files.readAttributes(f, classOf[BasicFileAttributes]))
    catch { case _: NoSuchFileException => None }

  private def status(p: Path, a: BasicFileAttributes): FileStatus =
    new FileStatus(if (a.isDirectory) 0L else a.size, a.isDirectory, 1, LocalBlockSize,
      a.lastModifiedTime.toMillis, p)

  private def deleteTree(root: JPath): Unit =
    Files.walkFileTree(root, new SimpleFileVisitor[JPath] {
      override def visitFile(f: JPath, a: BasicFileAttributes): FileVisitResult = {
        Files.deleteIfExists(f); FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: JPath, e: IOException): FileVisitResult = e match {
        case _: NoSuchFileException => FileVisitResult.CONTINUE
        case _ => throw e
      }
      override def postVisitDirectory(d: JPath, e: IOException): FileVisitResult = {
        if (e != null) throw e
        Files.deleteIfExists(d)
        FileVisitResult.CONTINUE
      }
    })

  private final class AtomicOutput(target: JPath, overwrite: Boolean, tmp: JPath)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(Files.newOutputStream(
        tmp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE), BufferBytes)) {
    def this(target: JPath, overwrite: Boolean) = this(target, overwrite,
      target.resolveSibling(s".${target.getFileName}.${java.util.UUID.randomUUID}.tmp"))

    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        var published = false
        try {
          underlyingStream.close()
          publish()
          published = true
        } finally if (!published) Files.deleteIfExists(tmp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try underlyingStream.close()
        finally Files.deleteIfExists(tmp)
      }
    }

    private def exists(): Nothing =
      throw new FileAlreadyExistsException(s"$target already exists")

    private def publish(): Unit = {
      // a sidecar left by Spark's default manager would no longer match
      Files.deleteIfExists(sidecar(target))
      if (overwrite) Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
      else {
        val linked =
          try { Files.createLink(target, tmp); true }
          catch {
            case _: java.nio.file.FileAlreadyExistsException => exists()
            case _: UnsupportedOperationException | _: FileSystemException => false
          }
        if (linked) Files.delete(tmp)
        else {
          if (Files.exists(target)) exists()
          Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
        }
      }
    }
  }

  /** Buffered reads over a channel, with the seek and positioned reads
    * that [[FSDataInputStream]] requires; positioned reads leave the
    * stream position alone. */
  private final class ChannelInput(ch: FileChannel)
      extends InputStream with Seekable with PositionedReadable {
    private val buf = ByteBuffer.allocate(BufferBytes).limit(0)
    private var bufStart = 0L // buf holds the file bytes [bufStart, bufStart + buf.limit)
    private var pos = 0L

    /** Makes `pos` readable from `buf`; false at the end of the file. */
    private def fill(): Boolean = (pos >= bufStart && pos < bufStart + buf.limit()) || {
      buf.clear()
      val n = ch.read(buf, pos)
      buf.flip()
      bufStart = pos
      n > 0
    }

    override def read(): Int =
      if (!fill()) -1
      else {
        val b = buf.get((pos - bufStart).toInt) & 0xff
        pos += 1
        b
      }

    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      java.util.Objects.checkFromIndexSize(off, len, b.length)
      if (len == 0) 0
      else if (!fill()) -1
      else {
        val i = (pos - bufStart).toInt
        val n = math.min(len, buf.limit() - i)
        System.arraycopy(buf.array(), i, b, off, n)
        pos += n
        n
      }
    }

    override def close(): Unit = ch.close()

    override def seek(p: Long): Unit = {
      if (p < 0) throw new EOFException(s"negative seek offset $p")
      pos = p
    }

    override def getPos: Long = pos

    override def seekToNewSource(p: Long): Boolean = false

    override def read(position: Long, b: Array[Byte], off: Int, len: Int): Int =
      if (len == 0) 0 else ch.read(ByteBuffer.wrap(b, off, len), position)

    override def readFully(position: Long, b: Array[Byte], off: Int, len: Int): Unit = {
      var done = 0
      while (done < len) {
        val n = ch.read(ByteBuffer.wrap(b, off + done, len - done), position + done)
        if (n < 0) throw new EOFException(s"end of file at ${position + done}")
        done += n
      }
    }

    override def readFully(position: Long, b: Array[Byte]): Unit =
      readFully(position, b, 0, b.length)
  }
}
