package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted IVF ANN index — the storage-layout half of the ANN story.
  * q42/q43 compute the cluster math; this makes the recurring probe cheap
  * on disk at 100 TB.
  *
  * `write` lays cluster-assigned embeddings (any assigner; [[KMeans]]'s
  * trained centroids in production) out bucketed and sorted by cluster id.
  * `probe` filters the index to the probe set's cluster ids with a literal
  * IN, which Spark turns into BUCKET PRUNING — the scan reads only the
  * buckets holding those clusters (`SelectedBucketsCount` in the scan
  * metadata) and never shuffles; the query side broadcasts. The only
  * driver involvement is collecting the probe set's cluster ids, bounded
  * by the query batch (small by contract for an ANN probe).
  */
object AnnIndex {

  /** Persist (vec_id, embedding, cid) bucketed+sorted by cluster. */
  def write(assigned: DataFrame, table: String, buckets: Int): Unit =
    assigned.write.bucketBy(buckets, "cid").sortBy("cid")
      .mode("overwrite").saveAsTable(table)

  /** Top-k cosine per query, restricted to each query's cluster.
    * `queries` columns: query_id, q_emb, cid.
    */
  def probe(spark: SparkSession, table: String, queries: DataFrame,
      k: Int): DataFrame = {
    val cids = queries.select("cid").distinct().collect().map(_.getInt(0))
    val idx = spark.table(table).filter(col("cid").isin(cids: _*))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    broadcast(queries).join(idx, "cid")
      .withColumn("cosine", expr(Dedup.dot("q_emb", "embedding")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("query_id", "rk", "vec_id", "cosine")
  }
}
