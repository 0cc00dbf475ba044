package perfbench

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.Base64
import java.util.zip.GZIPInputStream

import scala.collection.mutable

/** The output check. Every generated record carries an id and a label;
  * after a run the check reads back every object the loader wrote and
  * accounts for each id:
  *
  *  - a record labelled good must sit in a good object under the
  *    partition its schema names, a record labelled bad in a bad object,
  *    and a record inside a corrupt frame in neither (its frame yields
  *    exactly one decompression bad row instead);
  *  - a missing id, an id in the wrong place and an unknown line are
  *    failures; extra copies of an id are duplicates, counted apart
  *    (at-least-once delivery allows them, a fault-free run has none);
  *  - every object must gunzip, end with a newline, hold only lines of the
  *    schema its path names, and stay within maxBytes plus one record.
  */
object Check {
  sealed trait Label
  final case class Good(partition: String) extends Label
  case object Bad extends Label
  /** Inside a corrupt frame: must appear nowhere. */
  case object Lost extends Label

  /** One object as read back. `partitions(i)` is the schema partition of
    * line i ("" for enriched lines, "?" for a line whose schema cannot be
    * read), `ids(i)` its record id ("" when no id could be read).
    */
  final case class Obj(
      path: String,
      bad: Boolean,
      partition: String,
      compressedBytes: Long,
      gunzipOk: Boolean,
      endsWithNewline: Boolean,
      ids: Vector[String],
      partitions: Vector[String],
      maxLineBytes: Int,
      frameErrors: Int)

  final case class Report(
      records: Long,
      missing: Long,
      misrouted: Long,
      duplicates: Long,
      badObjects: Long,
      frameRowsExpected: Long,
      frameRowsFound: Long,
      goodObjects: Long,
      badRowObjects: Long,
      goodCompressedBytes: Long) {
    /** Failures counted against the records attempted. */
    def failures: Long = missing + misrouted + badObjects +
      math.abs(frameRowsExpected - frameRowsFound)
    def ok: Boolean = failures == 0
    def toMap: Map[String, Any] = Map("records" -> records, "missing" -> missing,
      "misrouted" -> misrouted, "duplicates" -> duplicates, "bad_objects" -> badObjects,
      "frame_rows_expected" -> frameRowsExpected, "frame_rows_found" -> frameRowsFound,
      "good_objects" -> goodObjects, "bad_row_objects" -> badRowObjects)
  }

  /** Partition of a good line: "" for enriched TSV (131 fields), the
    * `vendor.name` of an Iglu SDJ, "?" when it is neither.
    */
  def partitionOf(line: String, enriched: Boolean): String =
    if (enriched) {
      if (line.count(_ == '\t') == Gen.EnrichedFields - 1) "" else "?"
    } else {
      val k = line.indexOf("\"schema\":\"iglu:")
      if (k < 0) "?"
      else {
        val parts = line.substring(k + 15, line.indexOf('"', k + 15)).split('/')
        if (parts.length == 4) s"${parts(0)}.${parts(1)}" else "?"
      }
    }

  def idOf(line: String, enriched: Boolean): String =
    if (enriched) { val t = line.indexOf('\t'); if (t > 0) line.substring(0, t) else "" }
    else Gen.idOf(line)

  private def gunzip(b: Array[Byte]): Option[Array[Byte]] =
    try {
      val in = new GZIPInputStream(new ByteArrayInputStream(b))
      try Some(in.readAllBytes()) finally in.close()
    } catch { case _: Exception => None }

  /** Read every object under the good and bad roots. */
  def scan(goodRoot: Path, badRoot: Path, enriched: Boolean): Vector[Obj] = {
    def read(root: Path, bad: Boolean): Seq[Obj] =
      Files2.listFilesRecursively(root).filter(_.toString.endsWith(".gz")).map { p =>
        val bytes = Files.readAllBytes(p)
        val rel = root.relativize(p.getParent).toString
        gunzip(bytes) match {
          case None => Obj(p.toString, bad, rel, bytes.length, false, false,
            Vector.empty, Vector.empty, 0, 0)
          case Some(raw) =>
            val text = new String(raw, UTF_8)
            val lines = text.split("\n", -1).dropRight(1).toVector
            var frameErrors = 0
            val ids = Vector.newBuilder[String]
            val parts = Vector.newBuilder[String]
            lines.foreach { l =>
              if (bad) {
                payloadOf(l) match {
                  case Some(orig) if !orig.startsWith(FrameErrorTag) =>
                    ids += idOf(orig, enriched); parts += ""
                  case Some(_) => frameErrors += 1
                  case None => ids += ""; parts += "?"
                }
              } else {
                ids += idOf(l, enriched); parts += partitionOf(l, enriched)
              }
            }
            Obj(p.toString, bad, rel, bytes.length, true,
              text.nonEmpty && text.endsWith("\n"), ids.result(), parts.result(),
              if (lines.isEmpty) 0 else lines.map(_.getBytes(UTF_8).length).max,
              frameErrors)
        }
      }
    (read(goodRoot, bad = false) ++ read(badRoot, bad = true)).toVector
  }

  private val FrameErrorTag = "\u0000frame-error:"

  /** The raw payload a bad row carries: the decoded Base64 line for a
    * parse failure, or [[FrameErrorTag]] + message for a decompression
    * failure (its payload is compressed bytes and holds no readable id).
    */
  private def payloadOf(badRow: String): Option[String] = {
    val err = "\"errors\":[\""
    val e = badRow.indexOf(err)
    if (e >= 0) {
      val msg = badRow.substring(e + err.length, badRow.indexOf('"', e + err.length))
      if (msg.startsWith("Could not decompress") || msg.startsWith("Truncated") ||
          msg.startsWith("Record of") || msg.startsWith("Decompressed batch"))
        return Some(FrameErrorTag + msg)
    }
    val k = badRow.indexOf("\"payload\":\"")
    if (k < 0) None
    else {
      val b64 = badRow.substring(k + 11, badRow.indexOf('"', k + 11))
      try Some(new String(Base64.getDecoder.decode(b64), UTF_8))
      catch { case _: IllegalArgumentException => None }
    }
  }

  def verify(
      objs: Seq[Obj],
      expected: collection.Map[String, Label],
      corruptFrames: Int,
      maxBytes: Long): Report = {
    val seen = mutable.HashMap.empty[String, Int]
    var misrouted = 0L
    var badObjects = 0L
    objs.foreach { o =>
      val oversize = o.compressedBytes > maxBytes + o.maxLineBytes + 1 + 64
      val foreign = !o.bad && o.partitions.exists(_ != o.partition)
      if (!o.gunzipOk || !o.endsWithNewline || oversize || foreign) badObjects += 1
      o.ids.indices.foreach { i =>
        val id = o.ids(i)
        val placed: Label = if (o.bad) Bad else Good(o.partitions(i))
        expected.get(id) match {
          case Some(Lost) | None => misrouted += 1
          case Some(want) =>
            if (want != placed || (!o.bad && o.partition != o.partitions(i))) misrouted += 1
            else seen(id) = seen.getOrElse(id, 0) + 1
        }
      }
    }
    val placed = expected.count { case (id, l) => l != Lost && seen.contains(id) }
    val due = expected.count(_._2 != Lost)
    Report(
      records = expected.size,
      missing = due - placed,
      misrouted = misrouted,
      duplicates = seen.values.map(_ - 1L).sum,
      badObjects = badObjects,
      frameRowsExpected = corruptFrames,
      frameRowsFound = objs.map(_.frameErrors.toLong).sum,
      goodObjects = objs.count(!_.bad),
      badRowObjects = objs.count(_.bad),
      goodCompressedBytes = objs.filter(!_.bad).map(_.compressedBytes).sum)
  }

  /** Planted faults: each must make [[verify]] fail. Returns, per fault,
    * whether the check caught it.
    */
  def selfTest(
      objs: Vector[Obj],
      expected: collection.Map[String, Label],
      corruptFrames: Int,
      maxBytes: Long): Map[String, Boolean] = {
    def caught(mutated: Vector[Obj]): Boolean =
      !verify(mutated, expected, corruptFrames, maxBytes).ok
    val gi = objs.indexWhere(o => !o.bad && o.ids.nonEmpty)
    if (gi < 0) return Map("no_good_object" -> false)
    val g = objs(gi)
    val missing = objs.updated(gi, g.copy(ids = g.ids.tail, partitions = g.partitions.tail))
    // the first good line moved to another place: a bad object if there
    // is one, else a good object of a different partition
    val misrouted = {
      val moved = g.copy(ids = g.ids.tail, partitions = g.partitions.tail)
      val host = Obj(g.path + ".misrouted", bad = true, "", 0, true, true,
        Vector(g.ids.head), Vector(""), 0, 0)
      objs.updated(gi, moved) :+ host
    }
    val oversize = objs.updated(gi, g.copy(compressedBytes = maxBytes + g.maxLineBytes + 4096))
    Map(
      "missing_record" -> caught(missing),
      "misrouted_line" -> caught(misrouted),
      "oversize_object" -> caught(oversize))
  }
}
