package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every implemented operator's query + DuckDB oracle. Each
  * sub-registry lives with its operator family:
  *   - RefQueries    — SURVEY §2.11 Q1–Q8 (reference pipeline semantics)
  *   - Relational    — joins / aggs / windows / sorts / set-ops surface
  *   - TextAnalysis  — lang-id, quality, token counts, fingerprints
  *   - Dedup         — exact, n-gram Jaccard, MinHash LSH, SimHash, embedding
  *   - Similarity    — brute-force + LSH ANN over embeddings
  *   - Multimodal    — binary-column plumbing (decode stubbed)
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q10_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** Every operator family, in registry order (a later family's entry
    * would replace an earlier one of the same name; QueryRegistrySpec keeps
    * the names disjoint).
    */
  val families: Seq[QueryFamily] = Seq(
    RefQueries, Relational, TextAnalysis, Dedup, Similarity, KMeans,
    Multimodal, Curation, RangeJoin, ProductQuantization, PageRank, ZOrder,
    Triangles, Perceptron, SuffixRank, Drift, Spectral, TextRank, LabelProp,
    CorpusStats, Series, GraphCore, Frontier, Placement, AnnGraph, BpeTrain)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    families.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables.
    */
  def oracleSql: Map[String, String] = families.flatMap(_.oracle).toMap
}
