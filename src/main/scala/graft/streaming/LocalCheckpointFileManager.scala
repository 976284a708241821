package graft.streaming

import graft.table.ChecksummedFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

import java.nio.file.{Files, StandardCopyOption, Path => NioPath, Paths}

/** Checkpoint-log commits through java.nio for local paths.
  *
  * Structured Streaming commits every offsets, commits, `sources/` and
  * state-store delta file as "write a temp file, then rename it into place".
  * Spark's [[FileContextBasedCheckpointFileManager]] does both steps through
  * Hadoop's local file system, which — on a host without the native
  * `libhadoop` — starts an OS process for every `setPermission` (`chmod`, on
  * create) and every `getFileLinkStatus` (`readlink`, on rename): about 30
  * process starts and 130 ms per micro-batch of a plain tail, all on the
  * stream thread. This manager keeps Spark's protocol (same temp names, same
  * `RenameBasedFSDataOutputStream`, same reads, listings and deletes) and
  * replaces only those two steps for `file:` paths and scheme-less paths
  * that qualify to `file:`; every other scheme falls through to Spark's
  * implementation.
  *
  *   - create: [[ChecksummedFile]] (`CREATE_NEW` after creating the
  *     parent), which on close writes the temp file's `.crc` sidecar,
  *     byte-identical to the one Spark's manager writes. A checksummed
  *     `FileSystem` read of a log file verifies it; Spark's own
  *     `FileContext` reads do not check sidecars on Hadoop 3.4, under
  *     either manager.
  *   - rename, no overwrite: `link(2)` the temp file onto the destination,
  *     then delete the temp file and move its sidecar onto the
  *     destination's — the same CAS `LakeTable` commits with. An existing
  *     destination fails with Hadoop's [[FileAlreadyExistsException]] (what
  *     `HDFSMetadataLog.add` reads as a concurrent writer) and is left
  *     untouched, sidecar included.
  *   - rename with overwrite: delete the destination's sidecar, `rename(2)`
  *     the temp file onto it atomically, then move the new sidecar into
  *     place. A reader between those steps reads unverified bytes, never
  *     new bytes against the old checksum.
  *
  * Neither step fsyncs, as Spark's does not.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, hadoopConf) {

  /** The local file behind `p`, or None when `p` is not on the local file
    * system.
    */
  private def local(p: Path): Option[NioPath] = {
    val uri = fc.makeQualified(p).toUri
    if (uri.getScheme == "file") Some(Paths.get(uri)) else None
  }

  override def createTempFile(p: Path): FSDataOutputStream = local(p) match {
    case Some(f) =>
      Files.createDirectories(f.getParent)
      new FSDataOutputStream(ChecksummedFile.create(f), null)
    case None => super.createTempFile(p)
  }

  override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit =
    (local(src), local(dst)) match {
      case (Some(s), Some(d)) =>
        val (sSum, dSum) = (ChecksummedFile.sidecar(s), ChecksummedFile.sidecar(d))
        if (overwriteIfPossible) {
          Files.deleteIfExists(dSum)
          Files.move(s, d, StandardCopyOption.ATOMIC_MOVE)
        } else {
          try Files.createLink(d, s)
          catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              Files.deleteIfExists(s)
              Files.deleteIfExists(sSum)
              throw new FileAlreadyExistsException(s"$dst already exists")
          }
          Files.delete(s)
        }
        if (Files.exists(sSum)) Files.move(sSum, dSum, StandardCopyOption.ATOMIC_MOVE)
        else Files.deleteIfExists(dSum)
      case _ => super.renameTempFile(src, dst, overwriteIfPossible)
    }
}

object LocalCheckpointFileManager {

  /** Spark's (internal) session key naming the checkpoint manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Make streams started from `spark` from now on commit their checkpoint
    * logs through this manager — unless a manager is already named, in the
    * session or in the SparkContext's Hadoop conf (where `spark.hadoop.*`
    * settings land); Spark reads the class from their merge, so a caller's
    * choice always wins. Every engine stream calls this before `start()`: a
    * streaming query copies the session conf when it starts. The value is
    * set once and never reset, so concurrent starts agree — and it holds for
    * every later stream of the session, the caller's own included.
    */
  def install(spark: SparkSession): Unit =
    if (spark.conf.getOption(ConfKey).isEmpty &&
        spark.sparkContext.hadoopConfiguration.get(ConfKey) == null)
      spark.conf.set(ConfKey, classOf[LocalCheckpointFileManager].getName)
}
