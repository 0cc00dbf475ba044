package perfbench

import java.nio.file.Files
import java.time.LocalDateTime

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkEntry

/** `query_mix`: a closed loop over the SURVEY §2.11 loader queries plus
  * the slowest committed entry (q143_kcore), one entry at a time, each
  * materialised with a `noop` write. The tables are generated from the
  * seed with the column layout of the repo's test data, scaled so per-key
  * fan-outs (lines per order and per part) match the larger scale factors.
  */
object QueryMix {
  /** Table sizes as a TPC-H scale factor. */
  val Scale = 0.005
  val MinPasses = 2

  /** The generated table each entry reads (for records_per_s). */
  val TableOf: Map[String, String] = Metrics.QueryEntries.map { e =>
    e -> (if (e == "q143_kcore") "lineitem" else if (e == "q08_size_cap") "documents"
      else "events")
  }.toMap

  private val Vocab = ("query row stream the spark line small fast group customer batch sort " +
    "value hash filter big data dup part column order scan a slow agg key window table merge " +
    "vector join").split(' ')
  private val Langs = Seq("en", "fr", "es", "zh", "de")
  private val EventTypes = Seq("signup", "click", "error", "view", "purchase")
  private val T0 = LocalDateTime.of(2024, 1, 1, 0, 0)

  final case class Table(name: String, schema: StructType, rows: Seq[Row])

  def tables(seed: Long): Seq[Table] = {
    val nEvents = (1000000 * Scale).toInt
    val nOrders = (1500000 * Scale).toInt
    val nParts = (200000 * Scale).toInt
    val nDocs = (50000 * Scale).toInt

    val events = (0 until nEvents).map { i =>
      val r = Gen.rng(seed, 10, i)
      Row(i.toLong, T0.plusNanos((r.nextLong(30L * 86400 * 1000000L)) * 1000L),
        r.nextInt(2000).toLong, EventTypes(r.nextInt(EventTypes.size)),
        r.nextInt(20000) / 100.0, s"""{"k": ${r.nextInt(100)}}""")
    }
    val lineitem = (0 until nOrders).flatMap { o =>
      val r = Gen.rng(seed, 11, o)
      (1 to 1 + r.nextInt(7)).map { ln =>
        val qty = 1 + r.nextInt(50)
        Row(o.toLong, r.nextInt(nParts).toLong, r.nextInt(1000).toLong, ln, qty.toDouble,
          qty * (900 + r.nextInt(110000)) / 100.0, r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          Seq("A", "N", "R")(r.nextInt(3)), Seq("O", "F")(r.nextInt(2)),
          T0.minusDays(3000 - r.nextInt(2500)))
      }
    }
    val documents = (0 until nDocs).map { i =>
      val r = Gen.rng(seed, 12, i)
      val text = Seq.fill(10 + r.nextInt(80))(Vocab(r.nextInt(Vocab.length))).mkString(" ")
      Row(i.toLong, text, Langs(r.nextInt(Langs.size)), s"src${r.nextInt(20)}",
        text.length.toLong)
    }
    Seq(
      Table("events", StructType(Seq(StructField("event_id", LongType),
        StructField("ts", TimestampNTZType), StructField("user_id", LongType),
        StructField("event_type", StringType), StructField("value", DoubleType),
        StructField("props", StringType))), events),
      Table("lineitem", StructType(Seq(StructField("l_orderkey", LongType),
        StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
        StructField("l_linenumber", IntegerType), StructField("l_quantity", DoubleType),
        StructField("l_extendedprice", DoubleType), StructField("l_discount", DoubleType),
        StructField("l_tax", DoubleType), StructField("l_returnflag", StringType),
        StructField("l_linestatus", StringType), StructField("l_shipdate", TimestampNTZType))),
        lineitem),
      Table("documents", StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType), StructField("lang", StringType),
        StructField("source", StringType), StructField("n_chars", LongType))), documents))
  }

  def run(ctx: Ctx): Result = {
    val data = ctx.dir("qdata")
    val ts = tables(ctx.seed)
    val hash = new Gen.Hasher
    ts.foreach(t => t.rows.foreach(r => hash.add(r.mkString("\u0001"))))
    val rowsOf = ts.map(t => t.name -> t.rows.size.toLong).toMap
    val gen = Sessions.build(ctx, ctx.dir("warehouse"), ctx.cores)
    Files2.fresh(data)
    ts.foreach { t =>
      gen.createDataFrame(t.rows.asJava, t.schema).coalesce(1)
        .write.parquet(data.resolve(s"${t.name}.parquet").toString)
    }
    gen.stop()

    val entries = Metrics.QueryEntries.map(e => e -> SparkEntry.queries(e))
    def runEntry(s: SparkSession, name: String, q: (SparkSession, String) => org.apache.spark.sql.DataFrame) =
      q(s, data.toString).write.format("noop").mode("overwrite").save()

    val ins = if (ctx.trace) Some(new Instruments) else None
    val (spark, setupPlain, setupTraced) = Setup.run(ctx, ctx.trace)(
      _ => Sessions.build(ctx, ctx.dir("warehouse"), ctx.cores)) { (s, _) =>
      entries.foreach { case (n, q) =>
        runEntry(s, n, q)
        Sessions.clearCaches(s)
      }
    }
    val sentinel = mutable.ArrayBuffer.fill(3)(Sentinel.once(spark))

    final case class Pass(traced: Boolean, times: Map[String, Double], failed: Set[String],
        heapMb: Double, wallS: Double)
    val passes = mutable.ArrayBuffer.empty[Pass]
    val tEnd = System.nanoTime() + ctx.seconds * 1000000000L
    var p = 0
    while (System.nanoTime() < tEnd || p < MinPasses) {
      val traced = ctx.trace && p % 2 == 1
      if (traced) ins.get.attach(spark)
      val w0 = System.nanoTime()
      val failed = mutable.Set.empty[String]
      val times = entries.map { case (n, q) =>
        val t0 = System.nanoTime()
        try Tracer.span(s"operators.$n", Some(spark))(runEntry(spark, n, q))
        catch { case e: Exception =>
          System.err.println(s"[perfbench] $n failed: $e"); failed += n }
        val t = (System.nanoTime() - t0) / 1e9
        Sessions.clearCaches(spark)
        n -> t
      }.toMap
      val wall = (System.nanoTime() - w0) / 1e9
      if (traced) ins.get.detach(spark)
      val sampled = passes.count(x => x.traced == traced && x.heapMb >= 0)
      passes += Pass(traced, times, failed.toSet,
        if (sampled < MinPasses) Heap.oldGenAfterGcMb() else -1.0, wall)
      p += 1
    }
    sentinel ++= Seq.fill(3)(Sentinel.once(spark))

    // results for the oracle comparison, outside the timed passes
    val out = Files2.fresh(ctx.dir("qout"))
    val writeFailed = entries.flatMap { case (n, q) =>
      try { q(spark, data.toString).write.parquet(out.resolve(n).toString); None }
      catch { case e: Exception => System.err.println(s"[perfbench] $n output failed: $e"); Some(n) }
    }
    Files.write(out.resolve("oracle.json"), Json.render(
      entries.map { case (n, _) => n -> SparkEntry.oracleSql.getOrElse(n, null) }.toMap).getBytes)

    val inputRows = entries.map { case (n, _) => rowsOf(TableOf(n)) }.sum.toDouble
    /** Each entry's median wall time across passes. */
    def entryMedians(xs: Seq[Pass]): Seq[Double] =
      Metrics.QueryEntries.map(n => Stats.median(xs.map(_.times(n))))
    def e2eOf(xs: Seq[Pass], setups: Seq[Double]): Map[String, Double] = {
      val sums = xs.map(_.times.values.sum)
      Map(
        "setup_s" -> Stats.median(setups),
        "peak_heap_mb" -> xs.map(_.heapMb).max, // the first passes only, see Backfill
        "records_per_s" -> Stats.median(sums.map(inputRows / _)),
        "pass_s" -> Stats.median(sums),
        "lag_p50_ms" -> Stats.quantile(entryMedians(xs), 0.5) * 1000,
        "lag_p99_ms" -> Stats.quantile(entryMedians(xs), 0.99) * 1000)
    }
    val plain = passes.filterNot(_.traced).toSeq
    val e2e = e2eOf(plain, setupPlain)
    val layers = mutable.HashMap.empty[String, Double]
    ins.foreach { in =>
      val tr = passes.filter(_.traced).toSeq
      in.emitSpans(_ => 0L, Nil)
      Metrics.QueryEntries.foreach(n => layers(s"operators.${n}_s") = Stats.median(tr.map(_.times(n))))
      layers ++= LoaderLayers.sparkWide(in, tr.map(_.wallS).sum, ctx.cores)
      val t = e2eOf(tr, setupTraced)
      e2e.foreach { case (k, v) => layers(s"trace.overhead.$k") = t(k) - v }
    }
    spark.stop()

    val execFailed = passes.map(_.failed.size.toLong).sum
    Result(
      e2e = e2e,
      reported = Map("compression_ratio" -> 0.0, "objects_written" -> 0.0,
        "failed_ratio" -> execFailed.toDouble / (passes.size * entries.size)),
      layers = layers.toMap,
      attempted = passes.size.toLong * entries.size,
      failed = execFailed + writeFailed.size,
      correct = execFailed == 0 && writeFailed.isEmpty,
      detail = Map(
        "input_sha256" -> hash.hex,
        "scale" -> Scale,
        "table_rows" -> rowsOf,
        "passes" -> passes.size,
        "pass_s" -> passes.map(_.times.values.sum),
        "entry_s" -> Metrics.QueryEntries.map(n => n -> Stats.median(plain.map(_.times(n)))).toMap,
        "setup_s" -> setupPlain,
        "query_data" -> data.toString,
        "query_out" -> out.toString,
        "contention" -> Sentinel.stamp(sentinel.toSeq)))
  }
}
