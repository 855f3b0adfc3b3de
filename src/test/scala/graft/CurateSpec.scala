package graft

import org.apache.spark.sql.functions._

/** [[graft.Curate]] — the write-the-training-shards main. The query
  * catalog hash-verifies each stage; this pins the composed ARTIFACT:
  * what lands on disk is exactly the curated survivor set, split is a
  * partition, shards respect the token budget, the manifest adds up,
  * and a rerun reproduces the same corpus bit-for-bit (doc set +
  * shard assignment).
  */
class CurateSpec extends SparkSuite {

  private val out = "/root/repo/target/tmp/curate_spec"

  // the documents-contract columns the pilot tests drive through
  // pilotSample/predictFrom with explicit partition layouts
  private val docSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("text",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("n_chars",
      org.apache.spark.sql.types.LongType)))
  private lazy val result = Curate.run(spark, sf, out)
  private lazy val corpus = spark.read.parquet(s"$out/corpus")

  test("written corpus IS the curated survivor set") {
    val pairs = ext.Dedup.minhashBanded(spark, sf)
      .select(col("doc_a"), col("doc_b"))
    val expected = ext.Curation.curatedDocs(spark, sf, Some(pairs))
      .select(col("doc_id"))
    assert(result.curatedDocs > 0 && result.curatedDocs < result.inputDocs)
    assert(corpus.count() == result.curatedDocs)
    assert(corpus.select(col("doc_id")).except(expected).count() == 0 &&
      expected.except(corpus.select(col("doc_id"))).count() == 0)
  }

  test("splits partition the corpus; no exact-dup fingerprints survive") {
    assert(result.trainDocs + result.testDocs == result.curatedDocs)
    val fp = md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
      .cast("binary"))
    val n = corpus.agg(
      count(lit(1)).as("n"),
      countDistinct(fp).as("nfp")).head()
    assert(n.getLong(0) == n.getLong(1), "duplicate fingerprints in output")
  }

  test("every shard stays within budget + one straddling document") {
    val maxDoc = corpus.agg(max(col("n_tokens"))).head().getLong(0)
    val over = corpus.groupBy(col("shard_id"))
      .agg(sum(col("n_tokens")).as("t"))
      .filter(col("t") > lit(2048L) + lit(maxDoc))
    assert(over.count() == 0, "a shard exceeds budget + max straddle")
  }

  test("manifest totals equal corpus totals") {
    val m = spark.read.parquet(s"$out/manifest")
      .agg(sum(col("n_docs")), sum(col("n_tokens"))).head()
    assert(m.getLong(0) == result.curatedDocs)
    assert(m.getLong(1) == result.totalTokens)
  }

  test("input-skew advisory: empty on the clean corpus, names the " +
      "over-cap cells on the fire-drill fixture (round-16 directive 3, " +
      "reframed per round-17 ADVICE)") {
    // clean corpus: the companion output EXISTS (a scheduler can
    // always read it) and is empty — the oracled corpus/manifest
    // contract is untouched
    assert(result.advisoryCells == 0,
      "block-cap census fired on the clean sf corpus")
    val clean = spark.read.parquet(s"$out/skew_advisory")
    assert(clean.columns.toSeq ==
      Seq("source", "lang", "lb", "n_docs", "would_reroute_edit_dedup"))
    assert(clean.count() == 0)

    // fire drill: the curate-hot fixture's (web, en) cell crosses the
    // DEFAULT EditDedupMaxBlockDocs cap, so the composed main must
    // surface the skew hot-spot. The column says exactly what the rows
    // claim: this main's own dedup (exact + banded MinHash) did NOT
    // reroute anything — the cells are where the edit-dedup arm WOULD
    // degrade, and where any cell-blocked operator concentrates cost.
    val hotDir = FireDrillFixtures.curateHotDir(spark)
    val hotOut = "/root/repo/target/tmp/curate_spec_hot"
    val r = Curate.run(spark, hotDir, hotOut)
    assert(r.advisoryCells >= 1,
      "over-cap fixture produced no advisory rows from the main")
    val rows = spark.read.parquet(s"$hotOut/skew_advisory")
    assert(rows.count() == r.advisoryCells)
    assert(rows.filter(!col("would_reroute_edit_dedup")).count() == 0,
      "would_reroute_edit_dedup must be true on every advisory row")
    assert(rows.filter(
        col("n_docs") <= ext.Dedup.EditDedupMaxBlockDocs).count() == 0,
      "an advisory row names a cell under the cap")
    // the advisory rows ARE the standalone report's census (modulo the
    // honest column name) — the main and x_edit_dedup_reroute_report
    // can never disagree about which cells are hot
    val report = ext.Dedup.editDedupRerouteReport(spark, hotDir)
      .withColumnRenamed("rerouted", "would_reroute_edit_dedup")
    assert(rows.except(report).count() == 0 &&
      report.except(rows).count() == 0,
      "main's skew advisory diverges from the standalone report")
  }

  test("estimate companion: six stages, actuals = the run's own counts, " +
      "predictions pre-run and within the documented band " +
      "(round-18 verdict item 6)") {
    val est = spark.read.parquet(s"$out/estimate")
    assert(est.columns.toSeq ==
      Seq("stage", "predicted_rows", "actual_rows", "rel_error"))
    val rows = est.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    assert(rows.keySet ==
      Set("input", "curated", "train", "test", "shards", "tokens"))
    // actual column = the Result the other tests already pin
    assert(rows("input")._2 == result.inputDocs)
    assert(rows("curated")._2 == result.curatedDocs)
    assert(rows("train")._2 == result.trainDocs)
    assert(rows("test")._2 == result.testDocs)
    assert(rows("shards")._2 == result.shards)
    assert(rows("tokens")._2 == result.totalTokens)
    assert(result.estimates.map { case (s, p, a) => s -> ((p, a)) }.toMap
      == rows.view.mapValues { case (p, a, _) => (p, a) }.toMap,
      "Result.estimates diverges from the written companion")
    // rel_error is derived, not invented
    rows.foreach { case (stage, (p, a, re)) =>
      if (a > 0)
        assert(math.abs(re.get - (p - a).toDouble / a) < 1e-12, stage)
      else assert(re.isEmpty, stage)
    }
    // prediction skill: the near-dup + contamination removals are
    // DELIBERATELY unmodeled (scaladoc on Curate.predict), so the
    // forecast over-predicts survivorship by roughly their combined
    // rate; the band below is loose on purpose — it pins "the
    // estimator works" (right order of magnitude, errs toward
    // over-prediction) without pinning sampling noise
    val (pc, ac, _) = rows("curated")
    assert(pc >= ac, "unmodeled removals should make curated over-predict")
    assert(pc <= 2 * ac,
      s"curated prediction $pc is out of band vs actual $ac")
    assert(rows("input")._1 == result.inputDocs,
      "input prediction is the known input count")
  }

  test("pilot sample is bounded by target even when the scan has more " +
      "partitions than target rows (round-19 review)") {
    // a ~1M-file corpus must not produce a ~1M-row "bounded" pilot:
    // the probe is min(partitions, target) strided partitions, k rows
    // each — here 64 partitions, target 8 -> exactly 8 rows from 8
    // strided partitions, not one per partition
    import spark.implicits._
    val wide = (0 until 640).map(i => (i.toLong, s"doc $i text", 10L))
      .toDF("doc_id", "text", "n_chars").repartition(64)
    val pilot = Curate.pilotSample(wide, target = 8L)
    assert(pilot.count() == 8L)
    // strided coverage: the sampled rows span distinct partitions
    assert(pilot.select(col("doc_id")).distinct().count() == 8L)
    // and a small scan still yields up to the full table
    val narrow = Curate.pilotSample(wide.coalesce(2), target = 10000L)
    assert(narrow.count() == 640L)
  }

  test("pilot stride spans the whole partition list when " +
      "target < partitions < 2*target (round-20 advice)") {
    // a floored stride (parts / probed = 1) would sample only the
    // FIRST `target` partitions — a prefix, and files group by source,
    // so later sources would never be probed. 12 partitions, target 8:
    // evenly spaced indices must reach the tail of the list.
    // parallelize preserves slice order: partition p holds ids
    // 10p..10p+9, so sampled ids reveal which partitions were probed
    val rows = (0 until 120).map(i =>
      org.apache.spark.sql.Row(i.toLong, s"doc $i", 5L))
    val laidOut = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 12), docSchema)
    val pilot = Curate.pilotSample(laidOut, target = 8L)
    val ids = pilot.select(col("doc_id")).collect().map(_.getLong(0))
    assert(ids.length == 8, "probe count is min(partitions, target)")
    assert(ids.max >= 90L,
      s"pilot sampled a prefix (max id ${ids.max}) instead of " +
        "spanning the partition list end to end")
  }

  test("pilot and forecast survive a zero-partition (empty-read) " +
      "corpus instead of probing a nonexistent partition " +
      "(round-20 advice)") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], docSchema)
    assert(empty.rdd.getNumPartitions == 0)
    assert(Curate.pilotSample(empty).count() == 0L)
    val p = Curate.predictFrom(empty, inputDocs = 0L, tokenBudget = 2048L)
    assert(p == Curate.Prediction(0L, 0L, 0L, 0L, 0L))
  }

  test("predict survives a degenerate all-null-text corpus instead of " +
      "NPE-ing before stage 1 (round-19 review)") {
    import spark.implicits._
    val nullTexts = (0 until 50)
      .map(i => (i.toLong, Option.empty[String], 0L))
      .toDF("doc_id", "text", "n_chars")
    val p = Curate.predictFrom(nullTexts, inputDocs = 50L,
      tokenBudget = 2048L)
    // null fingerprints -> zero distinct rate; null quality -> zero
    // pass rate; the floor clamps keep every count sane-nonnegative
    assert(p.curated == 1L && p.test == 0L && p.train == 1L)
    assert(p.tokens >= 1L && p.shards >= 1L)
  }

  test("rerun reproduces the identical corpus (doc set + shard assignment)") {
    val first = corpus.select(col("doc_id"), col("split"), col("shard_id"))
      .collect().map(_.toString).sorted
    Curate.run(spark, sf, out)
    val second = spark.read.parquet(s"$out/corpus")
      .select(col("doc_id"), col("split"), col("shard_id"))
      .collect().map(_.toString).sorted
    assert(first.sameElements(second), "curation run is not reproducible")
  }

  test("a run on a fresh input dir leaves no persisted RDD behind") {
    // a dir no earlier run or memo has seen: a copy of the sf0.001 tables
    val in = java.nio.file.Files.createTempDirectory("graft_curate_fresh")
    new java.io.File(sf).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => java.nio.file.Files.copy(f.toPath, in.resolve(f.getName)))
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    Curate.run(spark, in.toString, s"$out/fresh")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(leaked.isEmpty,
      s"Curate.run left ${leaked.size} persisted RDDs behind")
  }
}
