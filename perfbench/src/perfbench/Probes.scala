package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant

import org.apache.spark.sql.SparkSession

import graft.model.{BadRow, SchemaKey}
import graft.operators.EventParser
import graft.sinks.RollingGzipWriter
import graft.sources.Decompression

/** Timed calls into each loader layer's public functions, over the
  * workload's own inputs (traced runs only). Each probe repeats its call
  * until at least [[MinS]] seconds have passed and reports a rate.
  */
object Probes {
  val MinS = 0.4

  private def repeat(work: => Long): (Long, Double) = {
    var units = 0L
    val t0 = System.nanoTime()
    var el = 0.0
    while (el < MinS || units == 0) {
      units += work
      el = (System.nanoTime() - t0) / 1e9
    }
    (units, el)
  }

  /** Single-thread `Decompression.decode`: decompressed MB/s. */
  def decodeMbPerS(payloads: Seq[Array[Byte]]): Double =
    if (payloads.isEmpty) 0.0
    else Tracer.span("sources.decode_probe") {
      val (bytes, s) = repeat {
        payloads.map(p => Decompression.decode(p).records.map(_.length.toLong).sum).sum
      }
      bytes / 1048576.0 / s
    }

  /** `EventParser.parse` over the decoded lines, materialised with a noop
    * write: rows/s.
    */
  def parseRowsPerS(spark: SparkSession, lines: Seq[String], enriched: Boolean): Double =
    Tracer.span("operators.parse_probe", Some(spark)) {
      import spark.implicits._
      val df = lines.toDF("line").cache()
      df.count()
      val (rows, s) = repeat {
        EventParser.parse(df, enriched).write.format("noop").mode("overwrite").save()
        lines.size.toLong
      }
      df.unpersist(blocking = true)
      rows / s
    }

  /** Single-thread `BadRow.GenericError` + `BadRow.sizeCapped`: rows/s. */
  def badRowsPerS(badLines: Seq[String]): Double =
    if (badLines.isEmpty) 0.0
    else Tracer.span("model.bad_row_probe") {
      val proc = BadRow.Processor("graft-loader", "0.1.0")
      val now = Instant.parse("2024-01-01T00:00:00Z")
      val (rows, s) = repeat {
        var n = 0L
        badLines.foreach { l =>
          val r = BadRow.GenericError(proc, List("probe"), l.getBytes(UTF_8), now)
          if (BadRow.sizeCapped(r, 1000000, now, proc).nonEmpty) n += 1
        }
        n
      }
      rows / s
    }

  /** Single-thread `RollingGzipWriter.writeGroup` into a discarding store:
    * (input MB/s, compression ratio), and the ratio of one gzip stream
    * over the same lines for comparison.
    */
  def gzip(goodLines: Seq[String]): (Double, Double, Double) =
    Tracer.span("sinks.gzip_probe") {
      val inBytes = goodLines.map(_.getBytes(UTF_8).length + 1L).sum
      val store = new DiscardBlobStore
      val cfg = RollingGzipWriter.SinkConfig("file:///discard", maxBytes = 64L * 1024 * 1024)
      val now = Instant.parse("2024-01-01T00:00:00Z")
      var written = 0L
      val (bytes, s) = repeat {
        val before = store.bytes.get()
        RollingGzipWriter.writeLines(store, cfg, SchemaKey.Atomic, now, goodLines.iterator)
        written = store.bytes.get() - before
        inBytes
      }
      val oneShot = Gen.gzip(goodLines.mkString("", "\n", "\n").getBytes(UTF_8)).length
      (bytes / 1048576.0 / s, inBytes.toDouble / written, inBytes.toDouble / oneShot)
    }

  def loaderProbes(
      spark: SparkSession,
      gzipPayloads: Seq[Array[Byte]],
      zstdPayloads: Seq[Array[Byte]],
      lines: Seq[String],
      goodLines: Seq[String],
      badLines: Seq[String],
      enriched: Boolean): Map[String, Double] = {
    val (gzMb, gzRatio, oneShot) = gzip(goodLines)
    Map(
      "sources.decode_gzip_mb_per_s" -> decodeMbPerS(gzipPayloads),
      "sources.decode_zstd_mb_per_s" -> decodeMbPerS(zstdPayloads),
      "operators.parse_rows_per_s" -> parseRowsPerS(spark, lines, enriched),
      "model.bad_rows_per_s" -> badRowsPerS(badLines),
      "sinks.gzip_mb_per_s" -> gzMb,
      "sinks.gzip_ratio" -> gzRatio,
      "sinks.oneshot_gzip_ratio" -> oneShot)
  }
}
