package graft.table

import org.apache.parquet.io.PositionOutputStream

import java.io.{BufferedOutputStream, ByteArrayOutputStream, DataOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardOpenOption}
import java.util.zip.CRC32

/** Local files written through java.nio together with the checksum sidecar
  * Hadoop's checksummed local file system keeps beside every file it
  * writes: `.<name>.crc` holds `crc\0`, the chunk size and one big-endian
  * CRC32 per chunk. Hadoop's `LocalFileSystem` and `LocalFs` verify it on
  * every read — Spark's parquet scans, checkpoint-log and state-store reads —
  * so a torn or bit-flipped file fails with a `ChecksumException` instead of
  * being read. Writing the sidecar here keeps that check while the write
  * itself avoids Hadoop's local file system, which without the native
  * `libhadoop` forks a `chmod` process for the file and another for its
  * sidecar.
  */
object ChecksummedFile {

  /** Hadoop's default `file.bytes-per-checksum`; readers take it from the
    * sidecar's header.
    */
  val BytesPerChecksum = 512

  private val Version = "crc\u0000".getBytes(StandardCharsets.US_ASCII)

  def sidecar(f: Path): Path = f.resolveSibling(s".${f.getFileName}.crc")

  /** The file a sidecar checks, or None when `p` is not a sidecar name. */
  def checkedBy(p: Path): Option[Path] = {
    val n = p.getFileName.toString
    if (n.length > 5 && n.startsWith(".") && n.endsWith(".crc"))
      Some(p.resolveSibling(n.substring(1, n.length - 4)))
    else None
  }

  /** Create `f`, which must not exist yet. Closing the stream writes the
    * sidecar, replacing any stale one. The parent directory must exist.
    */
  def create(f: Path): Out = new Out(f)

  final class Out private[ChecksummedFile] (f: Path) extends PositionOutputStream {
    private val data = new BufferedOutputStream(
      Files.newOutputStream(f, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE), 1 << 16)
    private val sumBytes = new ByteArrayOutputStream()
    private val sums = new DataOutputStream(sumBytes)
    private val crc = new CRC32
    private var inChunk = 0
    private var pos = 0L
    private var closed = false
    sums.write(Version)
    sums.writeInt(BytesPerChecksum)

    override def getPos: Long = pos

    override def write(b: Int): Unit = {
      data.write(b)
      crc.update(b)
      inChunk += 1
      pos += 1
      if (inChunk == BytesPerChecksum) endChunk()
    }

    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      var o = off
      var n = len
      while (n > 0) {
        val k = math.min(n, BytesPerChecksum - inChunk)
        data.write(b, o, k)
        crc.update(b, o, k)
        inChunk += k
        pos += k
        o += k
        n -= k
        if (inChunk == BytesPerChecksum) endChunk()
      }
    }

    private def endChunk(): Unit = {
      sums.writeInt(crc.getValue.toInt)
      crc.reset()
      inChunk = 0
    }

    override def flush(): Unit = data.flush()

    override def close(): Unit = if (!closed) {
      closed = true
      if (inChunk > 0) endChunk()
      data.close()
      Files.write(sidecar(f), sumBytes.toByteArray)
    }
  }
}
