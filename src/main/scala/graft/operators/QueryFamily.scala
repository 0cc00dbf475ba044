package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One operator family's registry entries: its queries, and for each query
  * name the DuckDB SQL that answers it (`SparkEntry` derives both driver
  * registries from the list of families).
  */
trait QueryFamily {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracle: Map[String, String]
}
