package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{GraftSession, WorkDirs}
import graft.queries.{BinaryPipeline, Dedup, Entity, Events, EventStreaming, Layout, Multimodal, ProductPipeline, Profiling, Relational, Sampling, Scrape, SetOps, Similarity, Sketches, Strings, Temporal, TextAnalysis, Windows}

/** Driver contract — see SURVEY.md §7. */
object SparkEntry {
  /** Flagship query on the sf0.001 tables; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    GraftSession.tune(spark)
    Relational.localSupplierVolume(spark, WorkDirs.testData("0.001"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ Windows.queries ++ SetOps.queries ++
      Events.queries ++ Strings.queries ++ Dedup.queries ++
      Similarity.queries ++ TextAnalysis.queries ++ Multimodal.queries ++
      ProductPipeline.queries ++ BinaryPipeline.queries ++ Scrape.queries ++
      Profiling.queries ++
      EventStreaming.queries ++ Sketches.queries ++ Temporal.queries ++
      Sampling.queries ++ Entity.queries ++ Layout.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Relational.oracles ++ Windows.oracles ++ SetOps.oracles ++
      Events.oracles ++ Strings.oracles ++ Dedup.oracles ++
      Similarity.oracles ++ TextAnalysis.oracles ++ Multimodal.oracles ++
      ProductPipeline.oracles ++ BinaryPipeline.oracles ++ Scrape.oracles ++
      Profiling.oracles ++
      EventStreaming.oracles ++ Sketches.oracles ++ Temporal.oracles ++
      Sampling.oracles ++ Entity.oracles ++ Layout.oracles
}
