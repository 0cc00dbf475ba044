package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

/** The benchmark's one seeded generator. Every input a workload feeds the
  * program comes from here; the same seed gives byte-identical inputs
  * (their SHA-256 goes into the run's output). Each payload, record or
  * table row draws from its own stream keyed by (seed, kind, index), so
  * generating in parallel gives the same bytes as generating serially.
  */
object Gen {
  def rng(seed: Long, kind: Long, idx: Long): SplittableRandom = {
    var z = seed * 0x9E3779B97F4A7C15L + kind * 0xBF58476D1CE4E5B9L + idx * 0x94D049BB133111EBL
    z = (z ^ (z >>> 31)) * 0xD6E8FEB86659FD39L
    new SplittableRandom(z ^ (z >>> 29))
  }

  final class Hasher {
    private val md = MessageDigest.getInstance("SHA-256")
    def add(b: Array[Byte]): Unit = md.update(b)
    def add(s: String): Unit = md.update(s.getBytes(UTF_8))
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  // ---------------------------------------------------------------- enriched

  val EnrichedFields = 131
  val LinesPerPayload = 500
  /** Share of frames written corrupt (truncated mid-stream). */
  val CorruptFrameShare = 0.005

  private val Words = ("page view ping struct unstruct transaction item link click submit " +
    "form focus change play pause scroll search cart checkout login logout signup share " +
    "video audio image banner promo email push web mob srv tv app iot desktop tablet phone " +
    "en fr de es it pt nl pl sv ja zh ko").split(' ')
  private val Agents = Seq(
    "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 Chrome/120.0",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 14_1) Safari/605.1.15",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) Gecko/20100101 Firefox/121.0",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X) Mobile/15E148",
    "okhttp/4.12.0", "Dalvik/2.1.0 (Linux; U; Android 14; Pixel 8)")
  /** Column kinds of the enriched TSV (fixed, like the real event model):
    * 0 empty, 1 small int, 2 word, 3 hex id, 4 url, 5 user agent, 6 decimal.
    */
  private val ColumnKinds: Array[Int] = Array.tabulate(EnrichedFields) { i =>
    if (i < 4) -1
    else (i * 7 + 3) % 40 match {
      case k if k < 16 => 0
      case k if k < 26 => 1
      case k if k < 34 => 2
      case 34 | 35 => 3
      case 36 | 37 => 6
      case 38 => 4
      case _ => 5
    }
  }
  private val TsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(java.time.ZoneOffset.UTC)
  private val TsBaseMs = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli

  def enrichedId(n: Long): String = f"e$n%09d"

  /** Consecutive events of one session share most field values. */
  val EventsPerSession = 20

  /** One enriched TSV line: 131 fields, event id at 0, collector_tstamp at
    * 3. Seven in ten filled columns hold a per-session value (user, page,
    * device, campaign fields repeat within a session), the rest a
    * per-event one.
    */
  def enrichedLine(seed: Long, n: Long): String = {
    val e = rng(seed, 1, n)
    val s = rng(seed, 5, n / EventsPerSession)
    val sb = new StringBuilder(900)
    sb.append(enrichedId(n)).append('\t')
      .append("app-").append(s.nextInt(8)).append('\t')
      .append(Words(28 + s.nextInt(3))).append('\t')
      .append(TsFmt.format(java.time.Instant.ofEpochMilli(
        TsBaseMs + n * 37 + e.nextInt(1000))))
    var i = 4
    while (i < EnrichedFields) {
      sb.append('\t')
      val r = if (i % 10 < 7) s else e
      ColumnKinds(i) match {
        case 0 => ()
        case 1 => sb.append(if (r.nextInt(4) == 0) r.nextInt(1000) else r.nextInt(10))
        case 2 => sb.append(Words(r.nextInt(Words.length)))
        case 3 => sb.append(Integer.toHexString(r.nextInt()))
        case 4 => sb.append("https://shop.example.com/p/").append(r.nextInt(5000))
          .append("?ref=").append(Words(r.nextInt(Words.length)))
        case 5 => sb.append(Agents(r.nextInt(Agents.size)))
        case _ => sb.append(r.nextInt(10000)).append('.').append(f"${r.nextInt(100)}%02d")
      }
      i += 1
    }
    sb.toString
  }

  /** Snowplow frame: two version bytes, then ([len: 4 BE][payload])*. */
  def frame(records: Seq[Array[Byte]]): Array[Byte] = {
    val out = new ByteArrayOutputStream(records.map(_.length + 4).sum + 2)
    out.write(1); out.write(0)
    records.foreach { b =>
      out.write(b.length >>> 24); out.write(b.length >>> 16)
      out.write(b.length >>> 8); out.write(b.length)
      out.write(b)
    }
    out.toByteArray
  }

  def gzip(b: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(b.length / 4 + 64)
    val gz = new GZIPOutputStream(out)
    gz.write(b); gz.close()
    out.toByteArray
  }

  def zstd(b: Array[Byte]): Array[Byte] = com.github.luben.zstd.Zstd.compress(b, 3)

  /** One framed payload of the backfill. Codecs alternate gzip/zstd;
    * `corrupt` frames are cut in half after compression, so the loader
    * cannot decode any record from them and must emit one bad row.
    */
  final case class Payload(
      codec: String,
      corrupt: Boolean,
      firstRecord: Long,
      records: Int,
      decompressedBytes: Long,
      bytes: Array[Byte])

  def corruptFrames(seed: Long, n: Int): Set[Int] = {
    val k = math.max(1, math.round(n * CorruptFrameShare).toInt)
    val r = rng(seed, 2, 0)
    Iterator.continually(r.nextInt(n)).distinct.take(k).toSet
  }

  def payload(seed: Long, index: Int, corrupt: Boolean): Payload = {
    val first = index.toLong * LinesPerPayload
    val lines = (0 until LinesPerPayload).map(j => enrichedLine(seed, first + j).getBytes(UTF_8))
    val raw = frame(lines)
    val codec = if (index % 2 == 0) "gzip" else "zstd"
    val packed = if (codec == "gzip") gzip(raw) else zstd(raw)
    val bytes = if (corrupt) java.util.Arrays.copyOf(packed, packed.length / 2) else packed
    Payload(codec, corrupt, first, LinesPerPayload,
      lines.map(_.length.toLong).sum, bytes)
  }

  /** All backfill payloads, generated on up to `threads` threads. */
  def payloads(seed: Long, n: Int, threads: Int): Vector[Payload] = {
    val bad = corruptFrames(seed, n)
    parallel(n, threads)(i => payload(seed, i, bad(i)))
  }

  def parallel[T](n: Int, threads: Int)(f: Int => T): Vector[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val fs = (0 until n).map(i => pool.submit(new java.util.concurrent.Callable[T] {
        def call(): T = f(i)
      }))
      fs.map(_.get()).toVector
    } finally pool.shutdown()
  }

  // ------------------------------------------------------------------- SDJ

  val SdjSchemas = 200
  val SdjZipfS = 1.1
  val SdjBadShare = 0.05

  /** Iglu schema i: 20 vendors, model 1–3. */
  def sdjVendor(i: Int): String = f"com.acme.v${i % 20}%02d"
  def sdjName(i: Int): String = f"event_$i%03d"
  def sdjModel(i: Int): Int = 1 + i % 3
  def sdjPartition(i: Int): String = s"${sdjVendor(i)}.${sdjName(i)}"

  private lazy val zipfCdf: Array[Double] = {
    val w = (1 to SdjSchemas).map(k => 1.0 / math.pow(k, SdjZipfS))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }

  private def zipf(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    math.min(SdjSchemas - 1, if (i >= 0) i else -i - 1)
  }

  /** A generated SDJ record: `schema` is the Iglu index, or -1 (invalid
    * JSON) / -2 (valid JSON, non-Iglu schema) for the records the loader
    * must route to the bad sink.
    */
  final case class SdjRecord(id: String, schema: Int, sendMs: Long, line: String)

  /** Record n of generator stream `stream` (ids are prefixed 'a' + stream). */
  def sdjRecord(seed: Long, stream: Int, n: Long, sendMs: Long): SdjRecord = {
    val r = rng(seed, 3 + stream, n)
    val id = f"${('a' + stream).toChar}$n%08d"
    val pad = new StringBuilder
    while (pad.length < 150) pad.append(Words(r.nextInt(Words.length))).append('-')
    val data = s""""id":"$id","ts":$sendMs,"user":${r.nextInt(100000)},"props":"$pad""""
    val u = r.nextDouble()
    if (u < SdjBadShare / 2) {
      SdjRecord(id, -1, sendMs, s"""not-json id=$id ts=$sendMs {$data""")
    } else if (u < SdjBadShare) {
      SdjRecord(id, -2, sendMs,
        s"""{"schema":"https://example.com/schemas/${r.nextInt(50)}.json","data":{$data}}""")
    } else {
      val i = zipf(r)
      SdjRecord(id, i, sendMs,
        s"""{"schema":"iglu:${sdjVendor(i)}/${sdjName(i)}/jsonschema/${sdjModel(i)}-0-0","data":{$data}}""")
    }
  }

  /** Record id in a line (enriched field 0, SDJ `"id":"…"`, or `id=…`). */
  def idOf(line: String): String = {
    val k = line.indexOf("\"id\":\"")
    if (k >= 0) line.substring(k + 6, line.indexOf('"', k + 6))
    else {
      val e = line.indexOf("id=")
      if (e >= 0) {
        val end = line.indexOf(' ', e)
        line.substring(e + 3, if (end < 0) line.length else end)
      } else {
        val t = line.indexOf('\t')
        if (t > 0) line.substring(0, t) else ""
      }
    }
  }
}
