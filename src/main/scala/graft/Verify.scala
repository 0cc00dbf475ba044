package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_QUERIES=q48,q64 — dump a subset and only its oracle
    // entries, so tools/check.py compares just those (iteration aid, same
    // contract as Bench; without it, everything is written)
    val subset = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").toSet)
    def selected(name: String) = subset.forall(_.exists(name.startsWith))
    SparkEntry.queries
      .filter { case (name, _) => selected(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape, control chars included: a tab or CR left raw in
    // a query's SQL would make oracle_sql.json unreadable to a JSON parser
    // (tools/check.py), and no query could be compared.
    def q(s: String): String = "\"" + graft.model.BadRow.esc(s) + "\""
    val json = SparkEntry.oracleSql
      .filter { case (name, _) => selected(name) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
