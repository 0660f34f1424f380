package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Dedup, FundEtl, Multimodal, Relational, Similarity, StreamingTwins, TextAnalysis}

/** Driver contract — see SURVEY.md §2 for the operator
  * inventory and §6 for the determinism conventions shared by every
  * (query, oracle) pair.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q01PricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ FundEtl.queries ++ TextAnalysis.queries ++
      Dedup.queries ++ Similarity.queries ++ StreamingTwins.queries ++
      Multimodal.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys → rows-only check.
    *
    * SQL may reference the `__AUX__` token: Verify substitutes it with
    * the absolute path of the split-oracle aux-dump directory for the
    * scale factor under check (see [[auxDumps]]).
    */
  def oracleSql: Map[String, String] =
    Relational.oracles ++ FundEtl.oracles ++ TextAnalysis.oracles ++
      Dedup.oracles ++ Similarity.oracles ++ StreamingTwins.oracles ++
      Multimodal.oracles

  /** Split-oracle auxiliary tables: Spark-computed seeded intermediates
    * (hash-signature tables, the LSH pair graph, trained centroids)
    * that Verify dumps to parquet so the DuckDB oracles can re-run all
    * downstream logic independently. NOT operator results — written
    * outside the driver's result dir, referenced via `__AUX__`.
    */
  def auxDumps: Map[String, (SparkSession, String) => DataFrame] =
    Dedup.auxDumps ++ Similarity.auxDumps ++ Relational.auxDumps ++
      TextAnalysis.auxDumps
}
