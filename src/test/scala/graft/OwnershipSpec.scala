package graft

import java.nio.file.Files

/** Every frame the engine caches, memoizes per query or local-checkpoints
  * is owned by the [[Overlap]] scope that runs the work: once that scope
  * closes — on success or on a failure — no RDD the work persisted stays
  * persisted. The process-wide tiers hold no RDD here: the raw-table
  * cache is off in tests, and the fitted-model memos hold plain
  * numbers only.
  *
  * Relies on suites running sequentially in the forked test JVM, so no
  * other suite persists RDDs mid-test.
  */
class OwnershipSpec extends SparkSuite {

  /** One registered query per operator that caches an intermediate
    * (each former ad-hoc or per-query memo site), plus the three
    * connected-components callers.
    */
  private val queries = Seq(
    "scale3_skew_report", // Scale.skewReport
    "x_ann_probe_many", // the bench formulation's batch-4 checkpoint
    "x_embed_quantize", "x_bm25_topk", "x_bigram_lm_score",
    "x_bloom_contamination", "x_incremental_dedup", "x_bpe_merges",
    "x_mixture_plan", "x_boilerplate_removal", "x_shard_pack",
    "x_pagerank", "x_triangle_count", "x_media_dedup",
    "ml1_kmeans_activity", // Clustering.assembled
    "x_quality_model", // QualityModel.signals
    "x_cosine_topk", // Similarity.corpus
    "x_dup_groups", "x_semantic_dedup", "x_curation_neardup")

  private val boom = new IllegalStateException("injected failure")

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Runs `work` in a scope, then, when `fail`, throws from the scope
    * body after it; returns the RDDs persisted while the scope was open
    * and those left persisted after it closed.
    */
  private def inScope(fail: Boolean)(work: => Unit): (Set[Int], Set[Int]) = {
    val before = persisted
    var during = Set.empty[Int]
    val run = scala.util.Try(Overlap(spark) { _ =>
      work
      during = persisted -- before
      if (fail) throw boom
    })
    assert(run.isSuccess != fail, s"scope outcome: $run")
    (during, persisted -- before)
  }

  private def freshCopy(skip: String = ""): String = {
    val in = Files.createTempDirectory("graft_owner_in")
    new java.io.File(sf).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && f.getName != skip)
      .foreach(f => Files.copy(f.toPath, in.resolve(f.getName)))
    in.toString
  }

  private val reg = SparkEntry.registry.map(q => q.name -> q).toMap

  for (fail <- Seq(false, true); name <- queries) {
    val how = if (fail) "a failed scope" else "its scope"
    test(s"$name: nothing it cached outlives $how") {
      val q = reg(name)
      val (during, leaked) = inScope(fail) {
        Sessions.withConfs(spark, q.confs) {
          q.benchFn.getOrElse(q.fn)(spark, sf)
            .write.format("noop").mode("overwrite").save()
        }
      }
      assert(during.nonEmpty, s"$name cached nothing: the check is vacuous")
      assert(leaked.isEmpty, s"$name left ${leaked.size} persisted RDDs")
    }
  }

  for (fail <- Seq(false, true)) {
    val how = if (fail) "a failed scope" else "its scope"
    test(s"Pipeline.run and Curate.run: nothing they cached outlives $how") {
      val out = Files.createTempDirectory("graft_owner_out").toString
      val (_, leaked) = inScope(fail) {
        Pipeline.run(spark, freshCopy(), s"$out/pipeline")
        Curate.run(spark, freshCopy(), s"$out/curate")
      }
      assert(leaked.isEmpty, s"the mains left ${leaked.size} persisted RDDs")
    }
  }

  test("Pipeline.run on an input dir missing one table leaks nothing") {
    val out = Files.createTempDirectory("graft_owner_out").toString
    val before = persisted
    intercept[Exception](Pipeline.run(spark, freshCopy("lineitem.parquet"),
      out))
    val leaked = persisted -- before
    assert(leaked.isEmpty, s"a failed run left ${leaked.size} persisted RDDs")
  }
}
