package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

/** The streaming checkpoint file manager of every [[graft.Engine]]
  * session (offset and commit logs, state-store deltas and snapshots).
  *
  * Spark's stock manager writes local paths through Hadoop's `RawLocalFs`,
  * which without the native `libhadoop` forks a `chmod` child for every
  * create and mkdir and `readlink` children for every rename: about 640
  * OS processes per 100k-message MQ drain, most of its WAL, commit-log and
  * state-commit time. For local paths (`file:`, or scheme-less with a local
  * default file system) the three write hooks — temp-file create, the
  * commit rename and mkdirs — go straight to `java.nio.file`. Reads,
  * listing and deletes, and every remote scheme (hdfs, s3a, …), stay on
  * the stock FileContext path.
  */
class LocalCheckpointFileManager(path: Path, conf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, conf) {

  private val localFs = isLocal

  private def local(p: Path): Option[java.nio.file.Path] = {
    val scheme = p.toUri.getScheme
    if (localFs && (scheme == null || scheme == "file"))
      Some(Paths.get(fc.makeQualified(p).toUri))
    else None
  }

  override def createTempFile(p: Path): FSDataOutputStream = local(p) match {
    case Some(f) => new FSDataOutputStream(new BufferedOutputStream(Files.newOutputStream(f)), null)
    case None => super.createTempFile(p)
  }

  /** No-overwrite is atomic and exclusive: a hard link fails if `dst`
    * exists, where a rename would replace it. Overwrite is one atomic
    * rename, after dropping the `.<name>.crc` sidecar that a file written
    * by the stock manager carries: it describes the old bytes, and a
    * verifying reader (Hadoop's `ChecksumFileSystem`, under Spark's
    * FileSystem-based manager) fails the replaced file with a
    * `ChecksumException`.
    */
  override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit =
    (local(src), local(dst)) match {
      case (Some(s), Some(d)) if overwriteIfPossible =>
        Files.deleteIfExists(d.resolveSibling(s".${d.getFileName}.crc"))
        Files.move(s, d, StandardCopyOption.ATOMIC_MOVE)
      case (Some(s), Some(d)) =>
        try Files.createLink(d, s) catch {
          case e: java.nio.file.FileAlreadyExistsException =>
            Files.deleteIfExists(s)
            throw new FileAlreadyExistsException(s"$dst already exists: ${e.getMessage}")
        }
        Files.delete(s)
      case _ => super.renameTempFile(src, dst, overwriteIfPossible)
    }

  override def mkdirs(p: Path): Unit = local(p) match {
    case Some(d) => Files.createDirectories(d)
    case None => super.mkdirs(p)
  }
}
