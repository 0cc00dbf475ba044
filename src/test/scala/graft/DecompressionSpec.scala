package graft

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import java.util.zip.GZIPOutputStream

import com.github.luben.zstd.Zstd
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Decompression

/** Decompression front-end: ports of reference tests e5–e8
  * (ProcessingSpec.scala:163-256) and the frame layout at :273-285.
  */
class DecompressionSpec extends AnyFunSuite {

  /** Snowplow frame: 2 version bytes then 4-byte BE length per record. */
  private def frame(records: Seq[Array[Byte]]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(1); out.write(1)
    records.foreach { r =>
      out.write(ByteBuffer.allocate(4).putInt(r.length).array())
      out.write(r)
    }
    out.toByteArray
  }

  private def gzip(b: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(b); gz.close()
    bos.toByteArray
  }

  private val recs = Seq("first record".getBytes, "second record".getBytes)

  test("plain payload passes through as one record (e1 shape)") {
    val d = Decompression.decode("hello".getBytes)
    assert(d.error.isEmpty)
    assert(d.records.map(new String(_)) == Seq("hello"))
  }

  test("gzip frame decodes to the framed records (e7)") {
    val d = Decompression.decode(gzip(frame(recs)))
    assert(d.error.isEmpty)
    assert(d.records.map(new String(_)) == Seq("first record", "second record"))
  }

  test("zstd frame decodes to the framed records (e5)") {
    val d = Decompression.decode(Zstd.compress(frame(recs)))
    assert(d.error.isEmpty)
    assert(d.records.map(new String(_)) == Seq("first record", "second record"))
  }

  test("corrupt frame: declared length 10 but 3 bytes follow → error, partial records (e6)") {
    val out = new ByteArrayOutputStream()
    out.write(1); out.write(1)
    out.write(ByteBuffer.allocate(4).putInt(10).array())
    out.write("abc".getBytes)
    val d = Decompression.decode(gzip(out.toByteArray))
    assert(d.error.exists(_.contains("Truncated record")))
    assert(d.records.isEmpty)
  }

  test("corrupt compressed bytes → decompression error") {
    val junk = Array[Byte](0x28, 0xb5.toByte, 0x2f, 0xfd.toByte, 1, 2, 3)
    val d = Decompression.decode(junk)
    assert(d.error.exists(_.startsWith("Could not decompress")))
  }

  test("single payload over maxBytesSinglePayload → size error") {
    val big = Array.fill(100)('x'.toByte)
    val d = Decompression.decode(
      gzip(frame(Seq(big))), Decompression.Limits(maxBytesSinglePayload = 50))
    assert(d.error.exists(_.contains("exceeds maximum allowed size")))
  }

  test("batch over maxBytesInBatch stops with error, keeps earlier records") {
    val d = Decompression.decode(
      gzip(frame(Seq("aaaa".getBytes, "bbbb".getBytes, "cccc".getBytes))),
      Decompression.Limits(maxBytesInBatch = 9))
    assert(d.records.size == 2)
    assert(d.error.contains("Decompressed batch exceeds 9 bytes limit"))
  }

  test("mixed plain + gzip + zstd payloads each decode independently (e8)") {
    val all = Seq(
      Decompression.decode("plain line".getBytes),
      Decompression.decode(gzip(frame(Seq("gz line".getBytes)))),
      Decompression.decode(Zstd.compress(frame(Seq("zstd line".getBytes)))))
    assert(all.flatMap(_.records).map(new String(_)) ==
      Seq("plain line", "gz line", "zstd line"))
    assert(all.forall(_.error.isEmpty))
  }
}
