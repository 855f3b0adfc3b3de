package graft

import org.apache.spark.sql.SaveMode

/** End-to-end pipeline main — the three reference stages recomposed as
  * one idiomatic Spark job (SURVEY.md layer 2):
  *
  *   1. profile   (pre_analysis.py: fused quality metrics)
  *   2. clean     (pre_process.py: rule chain + violation counts)
  *   3. transform (transform.py: features + KMeans activity labels)
  *
  * Outputs land under <outDir> as parquet plus the final table in the
  * embedded-Derby "warehouse" (the reference's JDBC sink,
  * `transform.py:260`).
  *
  * Usage: runMain graft.Pipeline [sfDir] [outDir]
  */
object Pipeline {

  /** Row counts of the three stage outputs (completeness, cleaned,
    * analysis) — main's summary line and PipelineSpec's assertions.
    */
  final case class Result(completeness: Long, cleaned: Long, analysis: Long)

  def run(spark: org.apache.spark.sql.SparkSession, sfDir: String,
          outDir: String): Result = {
    // multi-action frames are cached once — each stage below fans out
    // into several actions (parquet write + JDBC write + count), and
    // recomputing the lineage per action is exactly the reference's
    // no-cache anti-pattern this engine exists to fix. The scope frees
    // them on every exit path, a failed stage included.
    //
    // The three stages are data-INDEPENDENT (each reads only raw
    // tables), so each runs whole — frame building, schema reads, sink
    // actions — as one overlapped branch ([[Overlap]]): Spark's
    // scheduler happily runs several jobs at once, and the stages were
    // only sequential because this driver code called them
    // sequentially. Each frame's own actions (write, then count) stay
    // ORDERED inside its branch; only distinct stages overlap. The
    // raw-table cache and the ml fit memos are concurrency-safe
    // (ConcurrentHashMap + per-block cache locks).
    Overlap(spark) { s =>
      // stage 3: features + activity clustering, JDBC sink. Forked
      // first: feature join, fit input, KMeans fit (one job on a
      // one-partition input, see Clustering.fitKmeans), analysis join
      // and two sinks are the longest chain of jobs in the run, and the
      // other two stages fill the cores around it. The feature join is
      // built once; the fit input and the analysis join both read it.
      val f3 = s.fork("pipeline: transform") {
        val features =
          s.release(feature.Features.build(spark, sfDir).cache())
        val input = s.release(mlx.Clustering.fitInput(spark, sfDir, features))
        val analysis = s.release(features.join(
          mlx.Clustering.activityLabels(spark, sfDir, input),
          Seq("c_custkey")).cache())
        analysis.write.mode(SaveMode.Overwrite).parquet(s"$outDir/analysis")
        io.Sources.jdbcRoundTrip(spark, analysis,
          io.Sources.tmpDir("derby") + "/pipeline_db", "analysis")
        analysis.count()
      }
      // stage 1: profiling (one fused job per metric family)
      val f1 = s.fork("pipeline: profile") {
        val completeness =
          s.release(quality.Profiler.profileCompleteness(spark, sfDir).cache())
        completeness.write.mode(SaveMode.Overwrite)
          .parquet(s"$outDir/profile_completeness")
        quality.Profiler.profileIntegrity(spark, sfDir)
          .write.mode(SaveMode.Overwrite)
          .parquet(s"$outDir/profile_integrity")
        completeness.count()
      }
      // stage 2: cleaning (rule chain; R4 counted but not applied)
      val f2 = s.fork("pipeline: clean") {
        clean.Rules.ruleCounts(spark, sfDir)
          .write.mode(SaveMode.Overwrite).parquet(s"$outDir/rule_counts")
        val cleaned = s.release(clean.Rules.cleaned(spark, sfDir).cache())
        cleaned.write.mode(SaveMode.Overwrite).parquet(s"$outDir/cleaned")
        cleaned.count()
      }
      Result(s.join(f1), s.join(f2), s.join(f3))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 1) args(1) else "target/pipeline_out"
    val spark = Sessions.local(appName = "graft-pipeline")
    val r = run(spark, sfDir, outDir)
    println(s"[pipeline] completeness=${r.completeness} rows, " +
      s"cleaned=${r.cleaned} users, analysis=${r.analysis} rows -> $outDir")
    spark.stop()
  }
}
