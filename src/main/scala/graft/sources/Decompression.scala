package graft.sources

import java.io.{ByteArrayInputStream, EOFException, InputStream}
import java.util.zip.GZIPInputStream

import scala.collection.mutable.ArrayBuffer

import com.github.luben.zstd.ZstdInputStreamNoFinalizer

/** Input decompression + record framing (reference operator S2).
  *
  * The reference auto-detects zstd/gzip by magic bytes and decodes the
  * Snowplow frame — 2 version bytes, then per record a 4-byte big-endian
  * length prefix followed by that many payload bytes (frame layout
  * evidenced at reference ProcessingSpec.scala:273-285; caps at
  * modules/core/src/main/resources/reference.conf:26-29). Uncompressed
  * inputs are a single record passed through unchanged.
  *
  * Corrupt streams yield an error message in [[Decoded]] instead of
  * throwing, which the pipeline writes as a BadRow.GenericError carrying
  * that message and the raw payload (reference Processing.scala:156-165).
  */
object Decompression {

  /** Result of decoding one raw source payload. */
  final case class Decoded(records: Seq[Array[Byte]], error: Option[String])

  final case class Limits(
      maxBytesInBatch: Long = 5242880L,
      maxBytesSinglePayload: Long = 10000000L)

  sealed trait Format
  case object Plain extends Format
  case object Gzip extends Format
  case object Zstd extends Format

  /** Magic-byte sniff: zstd = 28 B5 2F FD, gzip = 1F 8B. */
  def sniff(bytes: Array[Byte]): Format =
    if (bytes.length >= 4 &&
      (bytes(0) & 0xff) == 0x28 && (bytes(1) & 0xff) == 0xb5 &&
      (bytes(2) & 0xff) == 0x2f && (bytes(3) & 0xff) == 0xfd) Zstd
    else if (bytes.length >= 2 &&
      (bytes(0) & 0xff) == 0x1f && (bytes(1) & 0xff) == 0x8b) Gzip
    else Plain

  /** Decode one raw payload into its framed records. Never throws. */
  def decode(bytes: Array[Byte], limits: Limits = Limits()): Decoded =
    sniff(bytes) match {
      case Plain => Decoded(Seq(bytes), None)
      case fmt =>
        var in: InputStream = null
        try {
          in = fmt match {
            case Gzip => new GZIPInputStream(new ByteArrayInputStream(bytes))
            case _    => new ZstdInputStreamNoFinalizer(new ByteArrayInputStream(bytes))
          }
          readFrames(in, limits)
        } catch {
          case e: Exception =>
            Decoded(Seq.empty, Some(s"Could not decompress input: ${e.getMessage}"))
        } finally if (in != null) in.close()
    }

  /** Snowplow frame: [version, version] then ([len:4 BE][payload:len])*. */
  private def readFrames(in: InputStream, limits: Limits): Decoded = {
    val header = in.readNBytes(2)
    if (header.length < 2)
      return Decoded(Seq.empty, Some("Truncated frame header"))
    val out = ArrayBuffer.empty[Array[Byte]]
    var total = 0L
    var done = false
    while (!done) {
      val lenBytes = in.readNBytes(4)
      if (lenBytes.isEmpty) done = true
      else if (lenBytes.length < 4)
        return Decoded(out.toSeq, Some("Truncated record length prefix"))
      else {
        val len = ((lenBytes(0) & 0xff) << 24) | ((lenBytes(1) & 0xff) << 16) |
          ((lenBytes(2) & 0xff) << 8) | (lenBytes(3) & 0xff)
        if (len < 0 || len > limits.maxBytesSinglePayload)
          return Decoded(out.toSeq, Some(s"Record of $len bytes exceeds maximum allowed size"))
        val payload = in.readNBytes(len)
        if (payload.length < len)
          return Decoded(out.toSeq,
            Some(s"Truncated record: declared $len bytes, got ${payload.length}"))
        total += len
        if (total > limits.maxBytesInBatch)
          return Decoded(out.toSeq, Some(s"Decompressed batch exceeds ${limits.maxBytesInBatch} bytes limit"))
        out += payload
      }
    }
    Decoded(out.toSeq, None)
  }
}
