package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every module's query registry. Each [[Q]] is one operator
  * from SURVEY.md §2 (or an [EXT] LLM-pipeline operator) with its DuckDB
  * oracle SQL where the semantics are SQL-expressible.
  */
object SparkEntry {

  def registry: Seq[Q] =
    (ops.Relational.qs ++ ops.Eventing.qs ++ ops.Intervals.qs ++
      ops.Scale.qs ++
      ops.TypedOps.qs ++ quality.Profiler.qs ++ quality.Correlation.qs ++
      schema.Normalize.qs ++
      clean.Rules.qs ++ feature.Features.qs ++ mlx.Clustering.qs ++
      mlx.QualityModel.qs ++
      ext.TextAnalysis.qs ++ ext.BpeTrainer.qs ++ ext.Dedup.qs ++
      ext.Similarity.qs ++
      ext.Graph.qs ++ ext.Curation.qs ++ ext.Governance.qs ++
      ext.Multimodal.qs ++ io.IoQueries.qs ++ streaming.EventStream.qs ++
      PipelineBench.qs ++ RefParity.qs)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The stage-2/3 core of the reference: per-user transaction counts
    * left-joined to the user dim with null-fill and a conditional flag
    * (`pre_process.py:250-276`).
    */
  def entry(spark: SparkSession): DataFrame =
    ops.Relational.j3LeftJoinNullfill(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Every registered query carries one since
    * round 6 — non-SQL-expressible ops (ML fits, sketch/LSH internals)
    * use the band-oracle pattern: engine-independent truth rows plus
    * pinned verdict booleans, with `Q.benchFn` timing the production
    * path.
    */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Headline queries timed by [[Bench]]. */
  def benchQueries: Seq[Q] = registry.filter(_.bench)
}
