package graft

import java.io.ByteArrayInputStream
import java.time.Instant
import java.util.concurrent.ConcurrentHashMap
import java.util.zip.GZIPInputStream

import scala.concurrent.duration._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, GetJsonObject, Literal, RLike}
import org.apache.spark.sql.functions.{col, udf, unix_micros}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite

import graft.config._
import graft.operators.EventParser
import graft.sinks.{BlobStore, InMemoryBlobStore}
import graft.streaming.{HealthProbe, LoaderPipeline, ServiceHealth}

/** End-to-end pipeline goldens — ports of reference ProcessingSpec e1–e4
  * against the in-memory recording store (the reference's MockEnvironment
  * analogue): written paths, decompressed content, counts, bad rows,
  * size-bound rolling.
  */
class PipelineSpec extends AnyFunSuite with SparkSuite {

  override protected def sparkConf = Map("spark.app.name" -> "pipeline-spec")

  private val fixedNow = Instant.parse("1970-01-01T00:00:00Z")

  private def gunzip(b: Array[Byte]): String =
    new String(new GZIPInputStream(new ByteArrayInputStream(b)).readAllBytes())

  /** Gzip of a Snowplow frame: 2 version bytes, then per record a 4-byte
    * big-endian length and the record's UTF-8 bytes.
    */
  private def gzipFrame(records: Seq[String]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(new java.util.zip.GZIPOutputStream(bos))
    out.write(Array[Byte](1, 1))
    records.foreach { r =>
      val b = r.getBytes("UTF-8")
      out.writeInt(b.length)
      out.write(b)
    }
    out.close()
    bos.toByteArray
  }

  /** 131-column-ish minimal enriched TSV with collector_tstamp at index 3
    * (FIXTURES.md §1).
    */
  private def tsv(ts: String): String =
    s"app\tweb\t\t$ts\t\tpage_view\tid-1"

  private def rawDf(payloads: Seq[String]): DataFrame = {
    import spark.implicits._
    payloads.map(_.getBytes("UTF-8")).toDF("value")
  }

  private def run(cfg: LoaderConfig, payloads: Seq[String]):
      (InMemoryBlobStore, LoaderPipeline.Metrics) = {
    val store = new InMemoryBlobStore
    val metrics = new LoaderPipeline.Metrics
    LoaderPipeline.runBatch(rawDf(payloads), cfg, store, metrics, () => fixedNow)
    (store, metrics)
  }

  test("e1: enriched happy path — one gzip file, content = line\\nline\\n, count metric") {
    val cfg = LoaderConfig(Purpose.Enriched, Output("mem://path"), BadOutput("mem://bad"))
    val lines = Seq(tsv("1970-01-01 00:00:42.000"), tsv("1970-01-01 00:00:43.000"))
    val (store, metrics) = run(cfg, lines)

    assert(store.paths.size == 1)
    // enriched default: no partition subdir; filename <ts>-<uuid>.gz
    assert(store.paths.head.matches(
      "mem://path/1970-01-01-000000-[0-9a-f-]{36}\\.gz"))
    val content = gunzip(store.objects.get(store.paths.head))
    assert(content == lines.mkString("", "\n", "\n"))
    assert(metrics.count.get() == 2)
    assert(metrics.badCount.get() == 0)
    // e2e latency from min collector_tstamp (42 s before "now" = epoch)
    assert(metrics.e2eLatencyMillis.get().contains(-42000L))
  }

  test("enriched edge rows: <4 columns or garbage tstamp → NULL, silently good (reference Processing.scala:147-153)") {
    val cfg = LoaderConfig(Purpose.Enriched, Output("mem://path"), BadOutput("mem://bad"))
    val lines = Seq(
      "only\ttwo",                       // fewer than 4 columns
      "a\tb\tc\tnot-a-timestamp\te",     // unparsable tstamp
      tsv("1970-01-01 00:00:05.000"),    // good tstamp, 3 fraction digits
      tsv("1970-01-01 00:00:03.5"),      // 1 fraction digit (Instant.parse
      tsv("1970-01-01 00:00:07.123456")) // and 6 both parse, P2 parity)
    val (store, metrics) = run(cfg, lines)
    // all rows are GOOD (written), none bad; e2e latency from the earliest
    // PARSABLE tstamp — the 1-digit-fraction row
    assert(metrics.count.get() == 5)
    assert(metrics.badCount.get() == 0)
    assert(metrics.e2eLatencyMillis.get().contains(-3500L))
    val content = store.paths.filter(_.startsWith("mem://path"))
      .map(p => gunzip(store.objects.get(p))).mkString
    assert(content.linesIterator.size == 5)
  }

  test("enriched field 3: short lines keep a NULL tstamp and stay good; only the 4th field is read") {
    import spark.implicits._
    val cfg = LoaderConfig(Purpose.Enriched, Output("mem://path"), BadOutput("mem://bad"))
    val early = "1970-01-01 00:00:01.000" // in a field other than the 4th
    val expected = Seq(
      "no tabs at all" -> None,
      s"one\t$early" -> None,
      s"a\tb\t$early" -> None,                                // 3 fields
      "a\tb\tc\t1970-01-01 00:00:09.000" -> Some(9000000L),     // 4 fields, no trailing tab
      s"a\tb\tc\t\t$early" -> None,                           // empty 4th field
      s"a\tb\tc\t" -> None)                                   // 3 tabs, empty 4th field
    val parsed = EventParser.parse(expected.map(_._1).toDF("line"), enriched = true)
      .select(col("line"), unix_micros(col("collector_tstamp")))
      .as[(String, Option[Long])].collect().toMap
    assert(parsed == expected.toMap)

    val (store, metrics) = run(cfg, expected.map(_._1))
    assert(metrics.count.get() == expected.size)
    assert(metrics.badCount.get() == 0)
    assert(metrics.e2eLatencyMillis.get().contains(-9000L))
    assert(store.paths.flatMap(p => gunzip(store.objects.get(p)).linesIterator).sorted ==
      expected.map(_._1).sorted)
  }

  test("plan guard: an SDJ batch reads $.schema once and runs the Iglu regex once per row") {
    val cfg = LoaderConfig.validate(LoaderConfig(
      Purpose.Sdj, Output("mem://path"), BadOutput("mem://bad"))).toOption.get
    // the prepared projections a batch runs, every layer
    val exprs = LoaderPipeline.prepare(spark, cfg).layers.flatten
    val shown = exprs.mkString("\n")
    def count(pf: PartialFunction[Expression, Expression]) = exprs.map(_.collect(pf).size).sum
    assert(count { case e: GetJsonObject => e } == 1, shown)
    assert(count {
      case e @ RLike(_, Literal(p, _)) if String.valueOf(p) == EventParser.IgluRegex => e
    } == 1, shown)
  }

  test("plan once: a micro-batch plans only its source, not the parse") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Array[Byte]]
    val cfg = LoaderConfig.validate(LoaderConfig(Purpose.Sdj, Output("mem://path"),
      BadOutput("mem://bad"), Batching(maxDelay = 50.millis), checkpointLocation = Some(
        java.nio.file.Files.createTempDirectory("ckpt-plan").toString))).toOption.get
    val metrics = new LoaderPipeline.Metrics
    val q = LoaderPipeline.stream(mem.toDF(), cfg, new InMemoryBlobStore, metrics,
      () => fixedNow).start()
    val batches = 4
    try {
      mem.addData(sdjLines(2).map(_.getBytes): _*)
      q.processAllAvailable()
      val firstBatch = q.lastProgress.batchId
      // QueryExecution ids come from one JVM-wide counter
      val before = spark.range(1).queryExecution.id
      (1 to batches).foreach { i =>
        mem.addData((sdjLines(3).map(_.getBytes) :+ s"not json $i".getBytes): _*)
        q.processAllAvailable()
      }
      val after = spark.range(1).queryExecution.id
      assert(q.lastProgress.batchId == firstBatch + batches)
      assert(metrics.count.get() == 2 + 3 * batches && metrics.badCount.get() == batches)
      // 4: the stream's own, with the loader's write adding none; building
      // the decode, every parser select and the write select per batch
      // made 12
      val perBatch = (after - before - 1).toDouble / batches
      assert(perBatch <= 4, s"$perBatch QueryExecutions per micro-batch")
    } finally q.stop()
  }

  test("prepared projections compile: a batch runs under CODEGEN_ONLY") {
    val mode = "spark.sql.codegen.factoryMode"
    val saved = spark.conf.getOption(mode)
    spark.conf.set(mode, "CODEGEN_ONLY")
    try {
      val sdj = LoaderConfig.validate(LoaderConfig(
        Purpose.Sdj, Output("mem://path"), BadOutput("mem://bad"))).toOption.get
      val (_, m) = run(sdj, sdjLines(5) ++ Seq("not json",
        """{"schema":"iglu:com.example/e/jsonschema/99999999999-0-0","data":{}}"""))
      assert(m.count.get() == 5 && m.badCount.get() == 2)
      val enriched = LoaderConfig(Purpose.Enriched, Output("mem://path"), BadOutput("mem://bad"))
      val (_, e) = run(enriched, Seq(tsv("1970-01-01 00:00:42.000"), "short"))
      assert(e.count.get() == 2 && e.e2eLatencyMillis.get().contains(-42000L))
    } finally saved.fold(spark.conf.unset(mode))(spark.conf.set(mode, _))
  }

  test("an Iglu model past Int is a bad row, not a failed batch") {
    val cfg = LoaderConfig.validate(LoaderConfig(
      Purpose.Sdj, Output("mem://path"), BadOutput("mem://bad"))).toOption.get
    val overflow =
      """{"schema":"iglu:com.example/event1/jsonschema/99999999999-0-0","data":{}}"""
    val (store, metrics) = run(cfg, sdjLines(1) :+ overflow)
    assert(metrics.count.get() == 1)
    assert(metrics.badCount.get() == 1)
    val badContent = store.paths.filter(_.startsWith("mem://bad"))
      .map(p => gunzip(store.objects.get(p))).mkString
    assert(badContent.contains("INVALID_IGLUURI"))
  }

  test("e2: SDJ grouping by schema + bad rows (reference ProcessingSpec:80-101)") {
    val cfg = LoaderConfig.validate(LoaderConfig(
      Purpose.Sdj, Output("mem://path"), BadOutput("mem://bad"))).toOption.get
    val payloads = Seq(
      """{"schema":"iglu:com.example/event1/jsonschema/1-0-0","data":{"f":"v1"}}""",
      """{"schema":"iglu:com.example/event2/jsonschema/1-0-0","data":{"f":"v2"}}""",
      """{"schema":"iglu:com.example/event1/jsonschema/1-0-0","data":{"f":"v3"}}""",
      """{"data":{"f":"no-schema"}}""",
      """not json at all""")
    val (store, metrics) = run(cfg, payloads)

    val good = store.paths.filter(_.startsWith("mem://path"))
    assert(good.size == 2) // one file per schema group
    assert(good.exists(_.contains("/com.example.event1/")))
    assert(good.exists(_.contains("/com.example.event2/")))
    val e1 = good.find(_.contains("event1")).get
    assert(gunzip(store.objects.get(e1)).linesIterator.size == 2)
    assert(metrics.count.get() == 3)
    assert(metrics.badCount.get() == 2)

    val badPaths = store.paths.filter(_.startsWith("mem://bad"))
    assert(badPaths.nonEmpty)
    val badContent = badPaths.map(p => gunzip(store.objects.get(p))).mkString
    assert(badContent.contains("Can't parse JSON holding self-describing event"))
    assert(badContent.contains("Can't extract schema from self-describing event"))
    // payload is Base64 of the raw bytes (reference Processing.scala:198)
    assert(badContent.contains(
      java.util.Base64.getEncoder.encodeToString("not json at all".getBytes)))
  }

  test("e3: size-bound rolling — compressed maxBytes splits output files") {
    val cfg = LoaderConfig(Purpose.Enriched, Output("mem://path"),
      BadOutput("mem://bad"), Batching(maxBytes = 150))
    // incompressible-ish distinct lines so gzip size grows per record
    val lines = (0 until 8).map(i => tsv(f"1970-01-01 00:00:$i%02d.000") + s"-${i * 7919}")
    val (store, metrics) = run(cfg, lines)
    assert(store.paths.size > 1) // rolled at least once
    val all = store.paths.flatMap(p => gunzip(store.objects.get(p)).linesIterator)
    assert(all.toSet == lines.toSet) // no loss, no duplication
    assert(metrics.count.get() == 8)
  }

  test("a large single-schema batch rolls at maxBytes from one write task") {
    // 200 lines of one schema key, each padded with 32 hex digits that do
    // not compress, come to several times maxBytes: the group's one writer
    // must roll
    val cfg = LoaderConfig(Purpose.Enriched, Output("mem://path"),
      BadOutput("mem://bad"), Batching(maxBytes = 2000))
    val lines = (0 until 200).map(i =>
      tsv(f"1970-01-01 00:${i / 60}%02d:${i % 60}%02d.000") +
        s"-pad-${java.util.UUID.nameUUIDFromBytes(s"$i".getBytes("UTF-8"))}")
    PipelineSpec.goodPutPartitions.clear()
    val store = new InMemoryBlobStore
    val metrics = new LoaderPipeline.Metrics
    LoaderPipeline.runBatch(rawDf(lines), cfg,
      new PipelineSpec.PartitionRecordingStore(store), metrics, () => fixedNow)

    // every event maps to the atomic schema: one task writes the group
    assert(PipelineSpec.goodPutPartitions.size == 1,
      s"good puts came from partitions ${PipelineSpec.goodPutPartitions}")
    // objects come back in write order (uuid names sort randomly)
    val objects = metrics.lastActions.get().map(a => store.objects.get(a.path))
    assert(objects.size > 1)
    // each object but the last passed maxBytes (it rolled there), and none
    // passed it by more than one record plus gzip framing
    val maxLine = lines.map(_.length + 1).max
    assert(objects.init.forall(_.length > cfg.batching.maxBytes),
      s"object sizes ${objects.map(_.length)}")
    assert(objects.forall(_.length <= cfg.batching.maxBytes + maxLine + 64),
      s"object sizes ${objects.map(_.length)}")
    val all = objects.flatMap(b => gunzip(b).linesIterator)
    assert(all.sorted == lines.sorted) // each line exactly once
    assert(metrics.count.get() == 200)
    assert(metrics.e2eLatencyMillis.get().contains(0L)) // min ts = epoch
  }

  /** SDJ lines over `schemas` distinct Iglu schema keys, one line each. */
  private def sdjLines(schemas: Int): Seq[String] = (0 until schemas).map(i =>
    s"""{"schema":"iglu:com.example/event$i/jsonschema/1-0-0","data":{"i":$i}}""")

  test("write fan-out: a small many-schema batch puts its objects from several tasks") {
    val cfg = LoaderConfig.validate(LoaderConfig(
      Purpose.Sdj, Output("mem://path"), BadOutput("mem://bad"))).toOption.get
    PipelineSpec.goodPutPartitions.clear()
    val inner = new InMemoryBlobStore
    val metrics = new LoaderPipeline.Metrics
    LoaderPipeline.runBatch(rawDf(sdjLines(16)), cfg,
      new PipelineSpec.PartitionRecordingStore(inner), metrics, () => fixedNow)

    assert(inner.paths.count(_.startsWith("mem://path")) == 16) // one per schema
    assert(metrics.count.get() == 16)
    // a small batch must not collapse to one write task
    assert(PipelineSpec.goodPutPartitions.size > 1,
      s"good puts came from partitions ${PipelineSpec.goodPutPartitions}")
  }

  test("metrics hold only the last batch's write actions; the object counter sums all") {
    val cfg = LoaderConfig.validate(LoaderConfig(
      Purpose.Sdj, Output("mem://path"), BadOutput("mem://bad"))).toOption.get
    val metrics = new LoaderPipeline.Metrics
    val stores = (1 to 3).map { n =>
      val store = new InMemoryBlobStore
      LoaderPipeline.runBatch(rawDf(sdjLines(n)), cfg, store, metrics, () => fixedNow)
      store
    }
    assert(metrics.objectsWritten.get() == 1 + 2 + 3)
    assert(metrics.lastActions.get().map(_.path).sorted ==
      stores.last.paths.filter(_.startsWith("mem://path")))
  }

  test("e4/streaming: MemoryStream micro-batches flush through foreachBatch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Array[Byte]]
    val cfg = LoaderConfig(Purpose.Enriched, Output("mem://path"),
      BadOutput("mem://bad"), Batching(maxDelay = 50.millis),
      checkpointLocation = Some(
        java.nio.file.Files.createTempDirectory("ckpt").toString))
    val store = new InMemoryBlobStore
    val metrics = new LoaderPipeline.Metrics

    val q = LoaderPipeline.stream(
      mem.toDF(), cfg, store, metrics, () => fixedNow).start()
    try {
      mem.addData(tsv("1970-01-01 00:00:01.000").getBytes)
      q.processAllAvailable()
      assert(metrics.count.get() == 1)
      val afterFirst = store.paths.size
      assert(afterFirst >= 1)
      mem.addData(tsv("1970-01-01 00:00:02.000").getBytes)
      q.processAllAvailable()
      assert(metrics.count.get() == 2)
      assert(store.paths.size > afterFirst) // second batch → new object
    } finally q.stop()
  }

  test("stream latency: the progress listener sets latencyMillis from each micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Array[Byte]]
    val cfg = LoaderConfig(Purpose.Enriched, Output("mem://path"),
      BadOutput("mem://bad"), Batching(maxDelay = 50.millis),
      checkpointLocation = Some(
        java.nio.file.Files.createTempDirectory("ckpt").toString))
    val metrics = new LoaderPipeline.Metrics
    val listener = new HealthProbe(metrics = Some(metrics))
    spark.streams.addListener(listener)
    val q = LoaderPipeline.stream(
      mem.toDF(), cfg, new InMemoryBlobStore, metrics, () => fixedNow).start()
    try {
      mem.addData(tsv("1970-01-01 00:00:01.000").getBytes)
      q.processAllAvailable()
      // the listener bus delivers progress events asynchronously
      eventually(timeout(10.seconds)) {
        assert(metrics.latencyMillis.get().exists(_ >= 0))
      }
    } finally { q.stop(); spark.streams.removeListener(listener) }
  }

  test("T7 ack contract: restart from checkpoint skips committed batches; replay duplicates, never gaps") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Array[Byte]]
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt-replay").toString
    val cfg = LoaderConfig(Purpose.Enriched, Output("mem://path"),
      BadOutput("mem://bad"), Batching(maxDelay = 50.millis),
      checkpointLocation = Some(ckpt))
    val store = new InMemoryBlobStore
    val metrics = new LoaderPipeline.Metrics

    val q1 = LoaderPipeline.stream(
      mem.toDF(), cfg, store, metrics, () => fixedNow).start()
    mem.addData(tsv("1970-01-01 00:00:01.000").getBytes)
    q1.processAllAvailable()
    q1.stop()
    assert(metrics.count.get() == 1)

    // restart against the same checkpoint: the committed batch must NOT
    // reprocess (offsets acked only after the write completed)
    val q2 = LoaderPipeline.stream(
      mem.toDF(), cfg, store, metrics, () => fixedNow).start()
    try {
      mem.addData(tsv("1970-01-01 00:00:02.000").getBytes)
      q2.processAllAvailable()
      assert(metrics.count.get() == 2) // would be 3 if batch 1 replayed
    } finally q2.stop()

    // at-least-once on manual re-run of the same batch: duplicate OBJECTS
    // appear (new UUIDs), data is never lost
    val before = store.paths.size
    LoaderPipeline.runBatch(
      rawDf(Seq(tsv("1970-01-01 00:00:03.000"))), cfg, store, metrics, () => fixedNow)
    LoaderPipeline.runBatch(
      rawDf(Seq(tsv("1970-01-01 00:00:03.000"))), cfg, store, metrics, () => fixedNow)
    assert(store.paths.size == before + 2) // two distinct UUID objects
  }

  test("bad sink chunking: recordLimit bounds each bad object (reference PutRecords limits)") {
    val cfg = LoaderConfig.validate(LoaderConfig(
      Purpose.Sdj, Output("mem://path"),
      BadOutput("mem://bad", recordLimit = 2))).toOption.get
    // 7 unparsable payloads → bad rows; recordLimit=2 → no object holds >2
    val payloads = (0 until 7).map(i => s"not json $i")
    val (store, metrics) = run(cfg, payloads)
    assert(metrics.badCount.get() == 7)
    val badPaths = store.paths.filter(_.startsWith("mem://bad"))
    val sizes = badPaths.map(p => gunzip(store.objects.get(p)).linesIterator.size)
    assert(sizes.sum == 7)
    assert(sizes.forall(_ <= 2))
  }

  test("idempotent naming: a replayed batch overwrites its own objects, never duplicates") {
    val cfg = LoaderConfig(Purpose.Enriched,
      Output("mem://path", idempotentNames = true), BadOutput("mem://bad"))
    val store = new InMemoryBlobStore
    val metrics = new LoaderPipeline.Metrics
    val lines = Seq(tsv("1970-01-01 00:00:01.000"), tsv("1970-01-01 00:00:02.000"))
    LoaderPipeline.runBatch(rawDf(lines), cfg, store, metrics, () => fixedNow,
      batchId = Some(7L))
    val first = store.paths
    assert(first.nonEmpty)
    assert(first.forall(_.matches("mem://path/[0-9a-f-]{36}\\.gz"))) // no ts prefix

    // same batch id replayed → identical names, content overwritten in place
    LoaderPipeline.runBatch(rawDf(lines), cfg, store, metrics, () => fixedNow,
      batchId = Some(7L))
    assert(store.paths == first)

    // a DIFFERENT batch id is new data → new objects
    LoaderPipeline.runBatch(rawDf(lines), cfg, store, metrics, () => fixedNow,
      batchId = Some(8L))
    assert(store.paths.size == first.size * 2)

    // bad rows too: a replay of the same batch id gives the same bad-object
    // names, a new batch id new ones
    val sdjCfg = LoaderConfig.validate(LoaderConfig(Purpose.Sdj,
      Output("mem://path", idempotentNames = true), BadOutput("mem://bad"))).toOption.get
    val sdjStore = new InMemoryBlobStore
    def badPaths = sdjStore.paths.filter(_.startsWith("mem://bad"))
    val sdj = sdjLines(3) :+ "not json"
    LoaderPipeline.runBatch(rawDf(sdj), sdjCfg, sdjStore, metrics, () => fixedNow,
      batchId = Some(7L))
    val firstBad = badPaths
    assert(firstBad.size == 1)
    LoaderPipeline.runBatch(rawDf(sdj), sdjCfg, sdjStore, metrics, () => fixedNow,
      batchId = Some(7L))
    assert(badPaths == firstBad)
    LoaderPipeline.runBatch(rawDf(sdj), sdjCfg, sdjStore, metrics, () => fixedNow,
      batchId = Some(8L))
    assert(badPaths.size == 2 * firstBad.size)

    // default (UUID) mode still duplicates on replay — at-least-once
    val cfg2 = cfg.copy(output = cfg.output.copy(idempotentNames = false))
    val store2 = new InMemoryBlobStore
    LoaderPipeline.runBatch(rawDf(lines), cfg2, store2, metrics, () => fixedNow,
      batchId = Some(7L))
    val n2 = store2.paths.size
    LoaderPipeline.runBatch(rawDf(lines), cfg2, store2, metrics, () => fixedNow,
      batchId = Some(7L))
    assert(store2.paths.size == n2 * 2)
  }

  test("idempotent naming: a multi-block single-schema batch replays to byte-identical objects") {
    val cfg = LoaderConfig(Purpose.Enriched,
      Output("mem://path", idempotentNames = true), BadOutput("mem://bad"))
    // 3.6 MB of one schema key: one write task deflates it as several blocks
    val lines = (0 until 10000).map(i =>
      tsv(f"1970-01-01 00:${i / 60 % 60}%02d:${i % 60}%02d.000") +
        (0 until 80).map(j => (i * 31 + j * j * 7) % 1000).mkString("\t", "\t", ""))
    assert(lines.map(_.length + 1L).sum > 3L * 1024 * 1024)
    val store = new InMemoryBlobStore
    def snapshot = store.paths.map(p => p -> store.objects.get(p)).toMap
    LoaderPipeline.runBatch(rawDf(lines), cfg, store, new LoaderPipeline.Metrics,
      () => fixedNow, batchId = Some(7L))
    val first = snapshot
    LoaderPipeline.runBatch(rawDf(lines), cfg, store, new LoaderPipeline.Metrics,
      () => fixedNow, batchId = Some(7L))
    val second = snapshot

    assert(second.keySet == first.keySet)
    first.foreach { case (p, bytes) =>
      assert(java.util.Arrays.equals(second(p), bytes), s"$p differs on replay")
    }
    val good = first.collect { case (p, b) if p.startsWith("mem://path") => b }
    assert(good.toSeq.flatMap(b => gunzip(b).linesIterator).sorted == lines.sorted)
  }

  test("per-sink health: a refused put degrades only the sink that refused it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cfg = LoaderConfig.validate(LoaderConfig(
      Purpose.Sdj, Output("mem://path"), BadOutput("mem://bad"),
      Batching(maxDelay = 50.millis))).toOption.get
    for ((refused, degraded) <- Seq(
        "mem://bad" -> ServiceHealth.BadSink, "mem://path" -> ServiceHealth.BlobSink)) {
      val mem = MemoryStream[Array[Byte]]
      val health = new ServiceHealth
      val store = new PipelineSpec.RefusingStore(new InMemoryBlobStore, refused)
      val q = LoaderPipeline.stream(mem.toDF(),
        cfg.copy(checkpointLocation = Some(
          java.nio.file.Files.createTempDirectory("ckpt-health").toString)),
        store, new LoaderPipeline.Metrics, () => fixedNow, health).start()
      try {
        mem.addData(sdjLines(1).head.getBytes, "not json".getBytes)
        intercept[Exception](q.processAllAvailable())
      } finally q.stop()
      assert(health.problems.keySet == Set(degraded), s"puts refused under $refused")
    }
  }

  test("one write job: a batch with good and bad rows runs exactly 1 Spark job") {
    val cfg = LoaderConfig.validate(LoaderConfig(
      Purpose.Sdj, Output("mem://path"), BadOutput("mem://bad"))).toOption.get
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val fenced = new java.util.concurrent.CountDownLatch(1)
    // the listener bus delivers events in order, so once the fence job's
    // start arrives, every job of the batch has been counted
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("loader-batch") => jobs.incrementAndGet()
          case Some("fence") => fenced.countDown()
          case _ =>
        }
    }
    val store = new InMemoryBlobStore
    val metrics = new LoaderPipeline.Metrics
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("loader-batch", "one runBatch")
      LoaderPipeline.runBatch(rawDf(sdjLines(8) ++ Seq("not json 1", "not json 2")),
        cfg, store, metrics, () => fixedNow)
      sc.setJobGroup("fence", "listener bus fence")
      sc.parallelize(Seq(1), 1).count()
      assert(fenced.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(metrics.count.get() == 8 && metrics.badCount.get() == 2)
    assert(store.paths.exists(_.startsWith("mem://bad")))
    assert(jobs.get() == 1, s"${jobs.get()} jobs for one batch")
  }

  test("decompression errors become bad rows end-to-end") {
    val cfg = LoaderConfig(Purpose.Enriched, Output("mem://path"), BadOutput("mem://bad"))
    val store = new InMemoryBlobStore
    val metrics = new LoaderPipeline.Metrics
    import spark.implicits._
    val junk: Array[Byte] = Array(0x28, 0xb5.toByte, 0x2f, 0xfd.toByte, 9, 9, 9)
    val df = Seq(junk).toDF("value")
    LoaderPipeline.runBatch(df, cfg, store, metrics, () => fixedNow)
    assert(metrics.badCount.get() == 1)
    val badContent = store.paths.filter(_.startsWith("mem://bad"))
      .map(p => gunzip(store.objects.get(p))).mkString
    assert(badContent.contains("Could not decompress"))
    // the bad row carries the frame's own bytes, so it can be replayed
    val b64 = "\"payload\":\"([^\"]*)\"".r.findFirstMatchIn(badContent).get.group(1)
    assert(java.util.Base64.getDecoder.decode(b64).toSeq == junk.toSeq)
  }

  test("single pass: each source row is read and decoded once, corrupt frames included") {
    val n = 40
    // two records per frame; row 0 is a corrupt frame, and in SDJ every
    // 4th row's second record is not JSON
    def lines(purpose: Purpose, i: Long): Seq[String] = purpose match {
      case Purpose.Enriched => Seq(0, 1).map(j => tsv(s"1970-01-01 00:00:0$j.000") + s"-$i")
      case Purpose.Sdj => Seq(
        s"""{"schema":"iglu:com.example/event${i % 3}/jsonschema/1-0-0","data":{"i":$i}}""",
        if (i % 4 == 0) s"not json $i"
        else s"""{"schema":"iglu:com.example/event${i % 3}/jsonschema/1-0-0","data":{"j":$i}}""")
    }
    val sdjBad = (1 until n).count(_ % 4 == 0)
    for ((purpose, good, bad) <- Seq(
        (Purpose.Enriched, 2 * (n - 1), 1),
        (Purpose.Sdj, 2 * (n - 1) - sdjBad, 1 + sdjBad))) {
      val reads = spark.sparkContext.longAccumulator(s"frames-$purpose")
      val corruptGzip: Array[Byte] = Array(0x1f, 0x8b.toByte, 8, 0, 9, 9, 9)
      val payloads = corruptGzip +: (1L until n).map(i => gzipFrame(lines(purpose, i)))
      val framed = udf { (i: Long) => reads.add(1); payloads(i.toInt) }
      val df = spark.range(0, n, 1, 4).select(framed(col("id")).as("value"))
      val cfg = LoaderConfig.validate(LoaderConfig(
        purpose, Output("mem://path"), BadOutput("mem://bad"))).toOption.get
      val store = new InMemoryBlobStore
      val metrics = new LoaderPipeline.Metrics
      LoaderPipeline.runBatch(df, cfg, store, metrics, () => fixedNow)

      assert(reads.value == n, s"$purpose: source rows evaluated ${reads.value} times")
      assert(metrics.count.get() == good, purpose)
      assert(metrics.badCount.get() == bad, purpose)
      val badContent = store.paths.filter(_.startsWith("mem://bad"))
        .map(p => gunzip(store.objects.get(p))).mkString
      assert(badContent.split("Could not decompress", -1).length == 2, purpose)
    }
  }
}

object PipelineSpec {
  /** Shuffle partitions that made a good put, JVM-wide (local mode only). */
  val goodPutPartitions: java.util.Set[Integer] = ConcurrentHashMap.newKeySet[Integer]()

  /** Refuses every put under `refused`; delegates the rest. */
  final class RefusingStore(inner: InMemoryBlobStore, refused: String) extends BlobStore {
    def write(path: String, bytes: Array[Byte]): Unit =
      if (path.startsWith(refused)) throw new java.io.IOException(s"put refused: $path")
      else inner.write(path, bytes)
  }

  /** Records which task partition puts each good object, then delegates.
    * The wrapped [[InMemoryBlobStore]] routes its deserialized copies back
    * to the original, so the test reads what the tasks wrote.
    */
  final class PartitionRecordingStore(inner: InMemoryBlobStore) extends BlobStore {
    def write(path: String, bytes: Array[Byte]): Unit = {
      if (path.startsWith("mem://path"))
        goodPutPartitions.add(TaskContext.getPartitionId())
      inner.write(path, bytes)
    }
  }
}
