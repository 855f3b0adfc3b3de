package graft

import java.nio.file.Files

/** End-to-end run of the three-stage pipeline recomposition
  * ([[Pipeline.run]]) at sf0.1 — the same scale the benchmark is graded
  * at — so the recomposition stays honest beyond the tiny smoke sf.
  */
class PipelineSpec extends SparkSuite {

  test("three-stage pipeline runs end-to-end at sf0.1") {
    val out = Files.createTempDirectory("graft_pipeline_sf01").toString
    val r = Pipeline.run(spark, "/root/testdata/sf0.1", out)

    // stage 1: one completeness row per profiled orders column
    assert(r.completeness == 4)
    // stage 2: cleaning drops rule violators but never everyone
    val users =
      spark.read.parquet("/root/testdata/sf0.1/customer.parquet").count()
    assert(r.cleaned > 0 && r.cleaned < users)
    // stage 3: analysis is features ⋈ labels on the full customer dim
    assert(r.analysis == users)

    // the parquet outputs landed and agree with the returned counts
    assert(spark.read.parquet(s"$out/cleaned").count() == r.cleaned)
    assert(spark.read.parquet(s"$out/analysis").count() == r.analysis)
    assert(spark.read.parquet(s"$out/rule_counts").count() == 1)
  }

  test("a run on a fresh input dir leaves no persisted RDD behind") {
    // a dir no earlier run or memo has seen: a copy of the sf0.001 tables
    val in = Files.createTempDirectory("graft_pipeline_fresh")
    new java.io.File(sf).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => Files.copy(f.toPath, in.resolve(f.getName)))
    val out = Files.createTempDirectory("graft_pipeline_fresh_out").toString
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    Pipeline.run(spark, in.toString, out)
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet == before,
      "Pipeline.run left cached frames behind")
  }
}
