package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ZOrder

/** Morton-key layout: the interleave is a bijection, and chunking a
  * z-sorted table bounds BOTH dimensions per chunk — the property parquet
  * min/max file skipping prunes on.
  */
class ZOrderSpec extends AnyFunSuite with SparkSuite {

  override protected def sparkConf = Map(
    "spark.sql.shuffle.partitions" -> "8",
    // static plans: the layout test reads scan metrics directly off the
    // FileSourceScanExec node (AQE would wrap it in query stages)
    NoAqe)

  test("interleave is a bijection on the 8-bit x 8-bit grid") {
    import spark.implicits._
    val grid = spark.range(256 * 256)
      .select((col("id") % 256).cast("int").as("x"),
        (col("id") / 256).cast("int").as("y"))
      .withColumn("z", ZOrder.interleave(col("x"), col("y"), 8))
    // 65536 distinct z values covering exactly [0, 65535] — a bijection
    val stats = grid.agg(
      countDistinct("z").as("nd"), min("z").as("mn"), max("z").as("mx"))
      .as[(Long, Int, Int)].head()
    assert(stats == ((65536L, 0, 65535)))
    // de-interleave round-trip: even bits rebuild x, odd bits rebuild y
    val back = grid.withColumn("x2",
        (0 until 8).map(i => shiftleft(shiftright(col("z"), 2 * i)
          .bitwiseAND(lit(1)), i)).reduce(_ + _))
      .withColumn("y2",
        (0 until 8).map(i => shiftleft(shiftright(col("z"), 2 * i + 1)
          .bitwiseAND(lit(1)), i)).reduce(_ + _))
    assert(back.filter(col("x2") =!= col("x") || col("y2") =!= col("y")).isEmpty)
  }

  test("z-sorted chunks bound both dimensions where an x-sort leaves y unbounded") {
    import spark.implicits._
    val n = 1 << 14
    val pts = spark.range(n).select(
        pmod(hash(col("id")), lit(256)).cast("int").as("x"),
        pmod(hash(col("id") + 1000000), lit(256)).cast("int").as("y"))
      .withColumn("z", ZOrder.interleave(col("x"), col("y"), 8))
    val files = 16
    def maxYSpread(ordered: org.apache.spark.sql.DataFrame): Long = {
      val w = org.apache.spark.sql.expressions.Window.orderBy(ordered.columns.last)
      ordered
        .withColumn("file", ((row_number().over(w) - 1) * files / n).cast("int"))
        .groupBy("file").agg((max("y") - min("y")).as("spread"))
        .agg(max("spread")).as[Long].head()
    }
    // x-sorted files: y is uniform inside every file → spread ~255.
    // z-sorted files: each of 16 files covers 1/16 of the Morton curve,
    // whose bounding box halves y — spread <= 127 by construction.
    val xSpread = maxYSpread(pts.select(col("y"), col("x")))
    val zSpread = maxYSpread(pts.select(col("y"), col("z")))
    assert(zSpread <= 128, s"z-sorted y-spread $zSpread")
    assert(xSpread > 200, s"x-sorted y-spread $xSpread")
  }

  test("materialized z-layout skips files a 1-D sorted layout must read (2-D box predicate)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val n = 1 << 16
    val root = java.nio.file.Files.createTempDirectory("zlayout").toString
    val pts = spark.range(n).select(
      pmod(hash(col("id")), lit(256)).cast("int").as("x"),
      pmod(hash(col("id") + 1000000), lit(256)).cast("int").as("y"),
      col("id").as("v"))

    // both layouts: 64 directory partitions, one file each, same data
    ZOrder.writeLayout(pts, col("x"), col("y"), 8, 10, s"$root/z")
    pts.withColumn("xbucket", shiftright(col("x"), 2))
      .repartition(col("xbucket"))
      .sortWithinPartitions("x")
      .write.partitionBy("xbucket").mode("overwrite").parquet(s"$root/x")

    // Morton-grid-aligned 32x32 box: its covering z range is exactly one
    // contiguous interval (and here one zbucket); the x layout needs 8 of
    // its 64 xbuckets for the same box
    val (xlo, xhi, ylo, yhi) = (64, 95, 128, 159)
    val (zlo, zhi) = (ZOrder.mortonOf(xlo, ylo, 8), ZOrder.mortonOf(xhi, yhi, 8))
    assert(zhi - zlo == 1023) // contiguous curve segment, aligned box

    def boxSum(df: org.apache.spark.sql.DataFrame, extra: org.apache.spark.sql.Column) = {
      val q = df.filter(extra &&
        col("x").between(xlo, xhi) && col("y").between(ylo, yhi))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("cnt"))
      val row = q.collect().head
      val scan = q.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec => f }.head
      (row.getLong(0), row.getLong(1),
        scan.metrics("numFiles").value, scan.metrics("numOutputRows").value)
    }

    val (sumZ, cntZ, filesZ, rowsZ) = boxSum(spark.read.parquet(s"$root/z"),
      col("zbucket").between(zlo >> 10, zhi >> 10))
    val (sumX, cntX, filesX, rowsX) = boxSum(spark.read.parquet(s"$root/x"),
      col("xbucket").between(xlo >> 2, xhi >> 2))

    assert(cntZ == cntX && sumZ == sumX) // identical answers
    assert(cntZ > 0)
    // file skipping: the z layout opens 1 of 64 files; the 1-D layout
    // must open every file overlapping the x range (8), and decodes ~8x
    // the rows because y is unbounded inside each of them
    assert(filesZ == 1, s"z layout read $filesZ files")
    assert(filesX >= 8, s"x layout read $filesX files")
    assert(rowsZ * 4 < rowsX, s"decoded rowsZ=$rowsZ vs rowsX=$rowsX")

    import scala.reflect.io.Directory
    new Directory(new java.io.File(root)).deleteRecursively()
  }
}
