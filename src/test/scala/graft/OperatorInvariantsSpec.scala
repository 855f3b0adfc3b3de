package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Invariant checks for the non-oracled operators (ML, LSH, ANN, HLL,
  * custom expression, multimodal plumbing, streaming parity) on
  * sf0.001.
  */
class OperatorInvariantsSpec extends SparkSuite {

  test("entry smoke: flagship query returns a row per customer") {
    val df = SparkEntry.entry(spark)
    assert(df.count() == 150)
    assert(df.columns.toSet ==
      Set("c_custkey", "c_name", "tx_count", "total_spend", "inactive"))
  }

  test("kmeans: every row labeled, exactly k<=3 clusters, deterministic") {
    val a = mlx.Clustering.kmeansActivity(spark, sf)
    val labels = a.select("activity_level").distinct().collect()
      .map(_.getInt(0)).toSet
    assert(labels.subsetOf(Set(0, 1, 2)) && labels.nonEmpty)
    assert(a.count() == 150)
    val memoized = a.collect().toSeq
    // a second memoized call would read the same model back; determinism
    // is an UNMEMOIZED fit in a narrower session matching it: the fit
    // input is reassembled there (derived tier dropped) with 2 shuffle
    // partitions, and its layout must not follow the session width
    Memos.clearDerived()
    val narrow = spark.newSession()
    narrow.conf.set("spark.sql.shuffle.partitions", "2")
    try assert(mlx.Clustering.kmeansPipeline(narrow, sf).collect().toSeq ==
      memoized)
    finally Memos.clearDerived() // no narrow-born fit input in the memo
  }

  test("kmeans fit-input partitions follow the customer table's size only") {
    import mlx.Clustering.{fitPartitions, FitBytesPerPartition}
    val sf01 = io.Sources.tableBytes(spark,
      sf.stripSuffix("sf0.001") + "sf0.1", "customer")
    assert(fitPartitions(0L) == 1 && fitPartitions(sf01) == 1)
    assert(fitPartitions(4L << 30) > 1)
    val sizes = (0L to 64L).map(_ * (FitBytesPerPartition / 4)) :+ (1L << 40)
    val parts = sizes.map(fitPartitions)
    assert(parts.zip(parts.tail).forall { case (a, b) => a <= b },
      s"partition count decreased as the size grew: $parts")
  }

  test("pca: finite 2-d projection for every customer") {
    val p = mlx.Clustering.pcaProjection(spark, sf)
    assert(p.count() == 150)
    assert(p.filter(col("pc1").isNull || col("pc2").isNull ||
      isnan(col("pc1")) || isnan(col("pc2"))).count() == 0)
  }

  test("percentile_approx within 10% of exact percentile") {
    val r = spark.read.parquet(s"$sf/lineitem.parquet")
      .selectExpr("percentile(l_extendedprice, 0.5) AS exact",
        "percentile_approx(l_extendedprice, 0.5, 1000) AS approx")
      .collect()(0)
    val (exact, approx) = (r.getDouble(0), r.getDouble(1))
    assert(math.abs(approx - exact) / exact < 0.10,
      s"exact=$exact approx=$approx")
  }

  test("approx percentiles in band, exact columns match twin, deterministic") {
    val exact = ops.TypedOps.percentiles(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val approx = ops.TypedOps.approxPercentiles(spark, sf).collect()
    assert(approx.length == exact.size)
    approx.foreach { r =>
      val (p50, p90) = exact(r.getString(0))
      assert(r.getDouble(1) == p50 && r.getDouble(2) == p90,
        s"${r.getString(0)} exact columns diverge from a7_percentiles")
      assert(r.getBoolean(4), s"${r.getString(0)} sketch left the 2% band")
    }
    val again = ops.TypedOps.approxPercentiles(spark, sf).collect()
    assert(approx.toSeq == again.toSeq)
  }

  test("a7c bench path (sketch-only) stays inside the verify path's band") {
    // the registered Q benches approxPercentilesSketch while Verify
    // hash-checks approxPercentiles — this pins the two formulations
    // to the same sketch (same accuracy, same groups, same rounding)
    val exact = ops.TypedOps.percentiles(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val sk = ops.TypedOps.approxPercentilesSketch(spark, sf).collect()
    assert(sk.length == exact.size)
    sk.foreach { r =>
      val (p50q, p90q, p50p) = exact(r.getString(0))
      def inBand(est: Double, ex: Double) =
        math.abs(est - ex) <= math.max(1.0, ex * 0.02)
      assert(inBand(r.getDouble(1), p50q) && inBand(r.getDouble(2), p90q) &&
        inBand(r.getDouble(3), p50p),
        s"${r.getString(0)} sketch-only bench path left the 2% band")
    }
  }

  test("approx_count_distinct within 5% of exact") {
    val r = ext.Similarity.approxDistinct(spark, sf).collect()(0)
    assert(r.getLong(0) > 0)
    assert(r.getBoolean(1), s"HLL estimate left the 5% band of ${r.getLong(0)}")
  }

  test("ann ivf: recall@5 >= 0.5 vs brute force, self excluded, " +
      "centroids fit once per session") {
    val exact = ext.Similarity.cosineTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = ext.Similarity.annIvf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(approx.forall { case (q, c) => q != c })
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall=$recall")
    // the trained half of the IVF index is session-lifetime: a fresh
    // sample window must serve identical probes with ZERO new fits
    val fits = ext.Similarity.ivfFitCount.get()
    Memos.clearDerived()
    assert(ext.Similarity.annIvf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == approx)
    assert(ext.Similarity.ivfFitCount.get() == fits,
      "IVF centroids must fit once per (session, dir): a sample " +
        "window refit instead of reading the memoized model")
  }

  test("ann ivf: a detected corpus regeneration retrains the centroids") {
    // round-13 ADVICE: invalidateCorpus cleared the corpus memo +
    // fingerprints but NOT ivfMemo, so after a detected in-place
    // regeneration annIvf transformed the FRESH corpus with centroids
    // trained on the OLD one — the stale-half/fresh-half pairing the
    // fingerprint machinery exists to prevent. This pins the fix:
    // same drill fixture pattern as the corpus() granularity test.
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = s"${ScalingBench.FixtureRoot}/ivffresh-v1"
    graft.io.Sources.rmTree(dir)
    new java.io.File(dir).mkdirs()
    val corpusFile = new java.io.File(s"$dir/embeddings.parquet")
    Files.copy(
      Paths.get("/root/testdata/sf0.001/embeddings.parquet"),
      corpusFile.toPath, StandardCopyOption.REPLACE_EXISTING)
    val n = spark.read.parquet(corpusFile.getPath).count()
    val half = n / 2
    try {
      ext.Similarity.annIvf(spark, dir).collect()
      val fits = ext.Similarity.ivfFitCount.get()
      // another process regenerates the corpus in place (half rows)
      val tmp = s"$dir/regen_tmp"
      spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .filter(col("vec_id") < half)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles
        .find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, corpusFile.toPath,
        StandardCopyOption.REPLACE_EXISTING)
      graft.io.Sources.rmTree(tmp)
      Memos.clearDerived() // next query window re-walks the fingerprint
      val rows = ext.Similarity.annIvf(spark, dir).collect()
      assert(ext.Similarity.ivfFitCount.get() == fits + 1,
        "regeneration detected but IVF centroids were not retrained — " +
          "probes pair a fresh corpus with stale centroids")
      val ids = rows.flatMap(r => Seq(r.getLong(0), r.getLong(1)))
      assert(ids.nonEmpty && ids.forall(_ < half),
        "IVF probe served vectors evicted by the regeneration")
    } finally {
      Memos.clearDerived()
      graft.io.Sources.evictTable(spark, dir, "embeddings")
    }
  }

  test("ann lsh: recall@5 >= 0.45 vs brute force, self excluded, top-5 only") {
    val exact = ext.Similarity.cosineTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = ext.Similarity.annLsh(spark, sf).collect()
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
    assert(rows.forall(r => r.getInt(2) >= 1 && r.getInt(2) <= 5))
    val approx = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    // measured 0.54 with the fixed plane seed (deterministic projection
    // — no fit, so no layout pinning needed)
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.45, s"recall=$recall over ${exact.size} exact pairs")
  }

  test("embed quantize: recall@5 vs brute force, self excluded, int scores") {
    val exact = ext.Similarity.cosineTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = ext.Similarity.embedQuantize(spark, sf).collect()
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
    assert(rows.forall(r => r.getInt(2) >= 1 && r.getInt(2) <= 5))
    // the integer probe score rides along on every emitted row (it can
    // be negative — symmetric quantization preserves cosine's sign)
    assert(rows.forall(r => !r.isNullAt(4)))
    val approx = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    // 8-bit per-dim quantization barely perturbs cosine order: the
    // top-20 shortlist then exact re-rank recovers nearly all of the
    // true top-5 (measured 1.0 at sf0.001)
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall=$recall over ${exact.size} exact pairs")
  }

  test("media dedup: emitted pairs truly share frames; exact dups covered") {
    val rows = ext.Multimodal.mediaDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(rows.nonEmpty)
    // independent Scala recomputation: slice each involved doc's UTF-8
    // bytes into the same 64-byte frames and count the distinct overlap
    // — the query's n_shared (a post-df-cutoff subset) can never exceed
    // it, and must clear the >=2 emission threshold
    val ids = rows.flatMap(p => Seq(p._1, p._2)).toSet
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id").isin(ids.toSeq: _*))
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def frames(t: String): Set[String] =
      t.getBytes("UTF-8").grouped(64).map(_.toSeq).toSet.map((s: Seq[Byte]) => s.mkString(","))
    rows.foreach { case (a, b, n) =>
      val shared = (frames(texts(a)) & frames(texts(b))).size
      assert(n >= 2 && n <= shared,
        s"pair ($a,$b): n_shared=$n but true frame overlap=$shared")
    }
    // docs with identical text share EVERY frame, so any exact-dup pair
    // in the fixture must surface (vacuous when the fixture has none —
    // sf0.001 dups are near, not byte-identical)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
    val exactPairs = docs.as("a")
      .join(docs.as("b"), col("a.h") === col("b.h") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = rows.map(p => (p._1, p._2)).toSet
    assert(exactPairs.subsetOf(found),
      s"missing ${(exactPairs -- found).take(5)}")
  }

  test("pagerank: 25 rows, positive fixed-point ranks, valid node types") {
    val rows = ext.Graph.pageRank(spark, sf).collect()
    assert(rows.length == 25)
    assert(rows.forall(_.getLong(2) > 0))
    assert(rows.forall(r => Set("customer", "supplier")(r.getString(0))))
    // emitted in strictly non-increasing rank order
    val ranks = rows.map(_.getLong(2))
    assert(ranks.zip(ranks.tail).forall { case (a, b) => a >= b })
  }

  test("lsh near-dup: zero false positives, recall >= 0.5 of exact global pairs") {
    graft.functions.VectorOps.register(spark)
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .withColumn("emb", expr("transform(embedding, v -> cast(v AS double))"))
      .withColumn("nrm", expr("sqrt(vec_dot(emb, emb))"))
    val a = e.select(col("vec_id").as("va"), col("emb").as("ea"),
      col("nrm").as("na"))
    val b = e.select(col("vec_id").as("vb"), col("emb").as("eb"),
      col("nrm").as("nb"))
    // brute-force global truth — feasible at sf0.001 only; the LSH op is
    // the scalable path
    val exact = a.crossJoin(b).filter(col("va") < col("vb"))
      .withColumn("cos", expr("vec_dot(ea, eb)") / (col("na") * col("nb")))
      .filter(col("cos") >= 0.35)
      .select("va", "vb").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = ext.Similarity.lshNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty && lsh.nonEmpty)
    assert((lsh -- exact).isEmpty,
      s"exact-verify must forbid false positives: ${lsh -- exact}")
    // measured 0.599 (deterministic: fixed planes + exact verify);
    // geometry floor for this corpus's cos<=0.5 pairs is ~0.54
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall=$recall over ${exact.size} pairs")
  }

  test("minhash lsh: finds the high-jaccard exact pairs (recall)") {
    val exact = ext.Dedup.ngramJaccard(spark, sf)
      .filter(col("jaccard") >= 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = ext.Dedup.minhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    if (exact.nonEmpty) {
      val recall = (exact & mh).size.toDouble / exact.size
      assert(recall >= 0.8, s"recall=$recall over ${exact.size} pairs")
    }
  }

  test("ngram jaccard: df cutoff is inert at the default, bites when low") {
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val dflt = pairs(ext.Dedup.ngramJaccard(spark, sf))
    // default cutoff (1000) is provably above testdata's max posting
    // length — identical output to no cutoff at all
    assert(dflt == pairs(ext.Dedup.ngramJaccard(spark, sf, Int.MaxValue)))
    // a low cutoff strictly shrinks the candidate space: every surviving
    // pair was already in the full output, and df=1 (no gram shared by
    // two docs survives) yields no pairs — the posting join is bounded
    val low = pairs(ext.Dedup.ngramJaccard(spark, sf, 2))
    assert(low.subsetOf(dflt))
    assert(pairs(ext.Dedup.ngramJaccard(spark, sf, 1)).isEmpty)
  }

  test("banded minhash: finds exactly the verified high-jaccard pairs") {
    // global (unblocked) exact truth set via brute-force pair scan —
    // feasible at sf0.001 only; the banded op is the scalable path
    val g = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= 3)
      .withColumn("grams", expr(
        """array_distinct(transform(sequence(1, size(words) - 2),
           i -> concat_ws(' ', words[i-1], words[i], words[i+1])))"""))
      .select(col("doc_id"), col("grams"))
    val exact = g.alias("a")
      .join(g.alias("b"), col("a.doc_id") < col("b.doc_id"))
      .withColumn("ni", size(array_intersect(col("a.grams"), col("b.grams"))))
      .withColumn("jac", col("ni").cast("double") /
        (size(col("a.grams")) + size(col("b.grams")) - col("ni")))
      .filter(col("jac") >= 0.5)
      .select(col("a.doc_id"), col("b.doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = ext.Dedup.minhashBanded(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // banded output is exact-verified => no false positives; recall on
    // the (planted) near-dup pairs must be near-total at jaccard>=0.5
    assert(banded.subsetOf(exact), s"false positives: ${banded -- exact}")
    assert(exact.nonEmpty, "testdata should contain planted near-dups")
    assert((exact & banded).size.toDouble / exact.size >= 0.95,
      s"missed: ${exact -- banded}")
  }

  test("recall verdict: exact recall bound, a stray found row, empty truth") {
    import spark.implicits._
    val truth = (1L to 10L).map(i => (i, i + 100)).toDF("doc_a", "doc_b")
    def verdict(found: Seq[(Long, Long)], t: org.apache.spark.sql.DataFrame =
        truth): (Boolean, Boolean) = {
      val r = Q.recallVerdict(t, found.toDF("doc_a", "doc_b"),
        Seq("doc_a", "doc_b"), minRecall = 0.9, withFp = true).collect()
      assert(r.length == 1)
      (r(0).getAs[Boolean]("no_false_positives"),
        r(0).getAs[Boolean]("recall_ok"))
    }
    val hits = (1L to 10L).map(i => (i, i + 100))
    // 9 of 10 is exactly 0.9: recall holds; 8 of 10 does not
    assert(verdict(hits.take(9)) == ((true, true)))
    assert(verdict(hits.take(8)) == ((true, false)))
    // one found pair outside the truth set flips only the fp bit
    assert(verdict(hits :+ ((1L, 2L))) == ((false, true)))
    // empty truth: recall is vacuous, any found pair is a false positive
    val empty = truth.filter(lit(false))
    assert(verdict(Seq.empty, empty) == ((true, true)))
    assert(verdict(Seq((1L, 2L)), empty) == ((false, true)))
    // recall-only form: one column
    val r = Q.recallVerdict(truth, hits.take(8).toDF("doc_a", "doc_b"),
      Seq("doc_a", "doc_b"), minRecall = 0.8, withFp = false)
    assert(r.columns.toSeq == Seq("recall_ok"))
    assert(r.collect().map(_.getBoolean(0)).toSeq == Seq(true))
  }

  test("banded minhash verified: truth rows nonempty, both verdict booleans true") {
    val v = ext.Dedup.minhashBandedVerified(spark, sf).collect()
    assert(v.nonEmpty, "testdata should contain planted near-dups")
    v.foreach { r =>
      assert(r.getBoolean(3), "minhash emitted a pair outside the truth set")
      assert(r.getBoolean(4), "minhash recall fell below 0.9 of the truth set")
    }
  }

  test("simhash: 64-bit signatures, stable across runs") {
    val a = ext.Dedup.simhash(spark, sf).collect()
    val b = ext.Dedup.simhash(spark, sf).collect()
    assert(a.length == 500 && a.toSeq == b.toSeq)
  }

  test("simhash custom aggregate == 65-column expression formulation") {
    val custom = ext.Dedup.simhash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val viaCols = ext.Dedup.simhashViaColumns(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(custom == viaCols)
  }

  test("simhash pairs: banded candidates contain the planted near-dups") {
    val planted = ext.Dedup.minhashBanded(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = ext.Dedup.simhashPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(planted.nonEmpty)
    val found = (planted & sh).size.toDouble / planted.size
    assert(found >= 0.8, s"simhash found $found of jaccard near-dups")
  }

  test("poly_hash codegen expression matches the Scala reference") {
    import spark.implicits._
    functions.PolyHash.register(spark)
    val texts = Seq("", "a", "hello world", "café ☕",
      "the quick brown fox")
    val got = texts.toDF("t").selectExpr("poly_hash(t)").collect()
      .map(_.getLong(0)).toSeq
    assert(got == texts.map(functions.PolyHash.hashString))
  }

  test("ml band oracles: every verdict boolean true over the truth rows") {
    val ml1 = mlx.Clustering.kmeansActivityVerified(spark, sf).head()
    assert(ml1.getBoolean(4) && ml1.getBoolean(5) && ml1.getBoolean(6),
      "kmeans verdicts (clusters_ok, balance_ok, separation_ok)")
    val ml2 = mlx.Clustering.pcaProjectionVerified(spark, sf).head()
    assert(ml2.getBoolean(4) && ml2.getBoolean(5),
      "pca verdicts (var_explained_ok, projection_ok)")
    val ml3 = mlx.Clustering.kmeansPipelineVerified(spark, sf).head()
    assert(ml3.getBoolean(4), "pipeline labels must match the staged fit")
  }

  test("curation pipeline: stage invariants over the survivor set") {
    val kept = ext.Curation.curatedDocs(spark, sf)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // no benchmark (eval-slice) doc survives into the training mix
    assert(kept.filter(col("doc_id") % 37 === 0).count() == 0)
    // every survivor clears the quality floor
    assert(kept.filter(col("quality") < 0.35).count() == 0)
    // fingerprint-dedup held: normalized fingerprints are unique
    val fps = kept.withColumn("fp", md5(trim(regexp_replace(
        lower(col("text")), "[^a-z0-9]+", " ")).cast("binary")))
      .groupBy("fp").count().filter(col("count") > 1).count()
    assert(fps == 0, "duplicate normalized fingerprints survived")
    // the pipeline actually curates: survivors are a strict subset
    val n = kept.count()
    assert(n > 0 && n < docs.count())
    // rollup doc count equals the survivor count
    val rolled = ext.Curation.curationPipeline(spark, sf)
      .agg(sum("n_docs")).head().getLong(0)
    assert(rolled == n)
  }

  test("quality model: learned AUC beats the rule gate with margin") {
    val fits0 = mlx.QualityModel.fitCount.get()
    val (aucModel, aucGate) = mlx.QualityModel.aucs(spark, sf)
    val fitsAfterFirst = mlx.QualityModel.fitCount.get()
    assert(fitsAfterFirst - fits0 <= 1,
      "first model resolution must run at most one LBFGS fit")
    // the learned combination must RANK the weak label strictly better
    // than the binary rule gate (whose AUC is its balanced accuracy)
    assert(aucModel >= aucGate + 0.05,
      s"model auc $aucModel vs gate auc $aucGate")
    assert(aucModel >= 0.7, s"model auc floor: $aucModel")
    // verdict booleans pinned TRUE on the registered entry
    val v = mlx.QualityModel.qualityModelVerified(spark, sf).head()
    assert(v.getAs[Boolean]("auc_beats_gate") &&
      v.getAs[Boolean]("auc_floor_ok") && v.getAs[Boolean]("fit_ok"))
    // production scores are well-formed probabilities
    val bad = mlx.QualityModel.benchScores(spark, sf)
      .filter(col("quality_p") < 0 || col("quality_p") > 1 ||
        col("quality_p").isNull).count()
    assert(bad == 0L)
    // round-12 directive 1: the fit is memoized per (session, dir) —
    // qualityModelVerified, aucs, and repeated benchScores all read the
    // ONE model (the verify path used to fit twice and every bench
    // sample refit). The scoring pass above plus another benchScores
    // must add ZERO fits beyond the session's first.
    mlx.QualityModel.benchScores(spark, sf).write.format("noop")
      .mode("overwrite").save()
    assert(mlx.QualityModel.fitCount.get() == fitsAfterFirst,
      "fit must run once per (session, dir): verify + bench paths " +
        "refit instead of reading the memoized model")
    // round-16 directive 1: replicate Bench's EXACT sample loop — the
    // derived tier (including the memoized signal table) is cleared
    // between samples, exactly what the driver harness does — and the
    // fit count must still not move. The round-15 driver artifact ran
    // ~2 extra LBFGS fits inside the timed window (39 jobs / 65 stages
    // vs 26/26 at HEAD) with identityHashCode-keyed memos; the memo is
    // appKey-keyed now and this loop is the red line that keeps it so.
    (1 to 3).foreach { _ =>
      Memos.clearDerived()
      mlx.QualityModel.benchScores(spark, sf).write.format("noop")
        .mode("overwrite").save()
    }
    assert(mlx.QualityModel.fitCount.get() == fitsAfterFirst,
      "LBFGS refit under the Bench sample loop (clearDerived between " +
        "samples) — fit-once must survive the derived tier being " +
        "released, as a foreign bench harness releases it")
    // ...and a session CLONE over the same context must hit the same
    // memo: applicationId keying is exactly what makes fit-once hold
    // in a harness that wraps/clones the session (the suspected
    // round-15 driver mode identityHashCode keys could not survive)
    mlx.QualityModel.benchScores(spark.newSession(), sf)
      .write.format("noop").mode("overwrite").save()
    assert(mlx.QualityModel.fitCount.get() == fitsAfterFirst,
      "a cloned session refit instead of sharing the app-keyed model")
  }

  test("curation near-dup band oracle: verdicts true, truth matches production") {
    val v = ext.Curation.curationNearDupVerified(spark, sf)
    val rows = v.collect()
    assert(rows.nonEmpty)
    // both verdict booleans hold on this corpus (recall measured 1.0)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("no_false_positives"), "banded FP found")
      assert(r.getAs[Boolean]("recall_ok"), "banded recall < 0.9")
    }
    // with recall 1.0 the truth rollup and the production (banded)
    // rollup are the same frame — the exact property round 7's
    // conditional oracle relied on, now checked instead of assumed
    val truth = v.select("lang", "split", "n_docs", "n_chunks", "chunk_words")
    val prod = ext.Curation.curationNearDup(spark, sf)
    assert(truth.exceptAll(prod).isEmpty && prod.exceptAll(truth).isEmpty,
      "banded production rollup diverged from the exact-truth rollup")
  }

  test("weighted sample: per-stratum totals hit k and weights dominate") {
    val s = ext.Curation.weightedSample(spark, sf)
    // systematic sampling emits exactly k=25 hits per language stratum
    val perLang = s.groupBy("lang").agg(sum("n_hits").as("hits"))
      .collect().map(r => r.getLong(1))
    assert(perLang.nonEmpty && perLang.forall(_ == 25L),
      s"per-stratum hits: ${perLang.mkString(",")}")
    // a selected doc's weight bounds its multiplicity: a doc can span at
    // most ceil(weight*k/total)+1 sample points
    assert(s.filter(col("n_hits") < 1).count() == 0)
  }

  test("poly_hash2 codegen expression matches the Scala reference") {
    import spark.implicits._
    functions.PolyHash2.register(spark)
    val texts = Seq("", "a", "hello world", "café ☕",
      "the quick brown fox")
    val got = texts.toDF("t").selectExpr("poly_hash2(t)").collect()
      .map(_.getLong(0)).toSeq
    assert(got == texts.map(functions.PolyHash2.hashString))
    // packed layout: h1 (mod 1e9+7) in bits 31..60, h2 (mod 2^31-1) in
    // bits 0..30 — always non-negative, bits 61-63 structurally zero
    assert(got.forall(h => h >= 0L && (h >>> 61) == 0L))
  }

  test("ann ivf verified: truth rows nonempty, recall verdict true") {
    val v = ext.Similarity.annIvfVerified(spark, sf).collect()
    assert(v.length == ext.Similarity.cosineTopK(spark, sf).count().toInt)
    v.foreach(r => assert(r.getBoolean(4),
      "IVF recall fell below 0.5 of the exact top-5"))
  }

  test("minhash lsh verified: truth rows nonempty, recall verdict true") {
    val v = ext.Dedup.minhashLshVerified(spark, sf).collect()
    assert(v.nonEmpty, "testdata should contain planted near-dups")
    v.foreach(r => assert(r.getBoolean(3),
      "ml minhash recall fell below 0.8 of the truth set"))
  }

  test("pii scrub redacts emails, phones, and digit runs") {
    import spark.implicits._
    val rows = Seq(
      "contact me at jane.doe+x@example.co.uk today",
      "call +1 (555) 123-4567 or 5551234567",
      "account 123456 balance",
      "nothing sensitive here").toDF("text")
    val out = rows.select(ext.TextAnalysis.scrub(col("text")).as("s"))
      .collect().map(_.getString(0))
    assert(out(0) == "contact me at <EMAIL> today")
    // a bare 10-digit run is phone-shaped, so the phone rule wins
    assert(out(1) == "call <PHONE> or <PHONE>")
    assert(out(2) == "account <NUM> balance")
    assert(out(3) == "nothing sensitive here")
  }

  test("chunking covers every word with 40/30 overlapping windows") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val chunks = ext.TextAnalysis.chunking(spark, sf)
    assert(chunks.groupBy("doc_id").count().count() == docs.count(),
      "every doc must produce at least one chunk")
    // stride 30 + window 40 => consecutive chunks overlap by 10 words,
    // so sum(chunk_words) >= total words per doc
    val short = chunks.filter(col("chunk_words") > 40).count()
    assert(short == 0, "chunk longer than the window")
  }

  test("media features: plumbing matches fakeDecode, no driver collect") {
    val f = ext.Multimodal.mediaFeatures(spark, sf).collect()
    assert(f.length == 500)
    f.take(20).foreach { r =>
      assert(r.getInt(2) == math.max(1, r.getInt(1) / 256)) // n_frames
    }
  }

  test("streaming tumbling window == batch tumbling window") {
    val stream = streaming.EventStream.streamTumbling(spark, sf).collect()
    val batch = ops.Eventing.e1TumblingWindow(spark, sf).collect()
    assert(stream.toSeq == batch.toSeq)
  }

  test("profiler completeness percentages in [0,100]") {
    val p = quality.Profiler.profileCompleteness(spark, sf).collect()
    p.foreach { r =>
      val pct = r.getDouble(3)
      assert(pct >= 0.0 && pct <= 100.0)
    }
  }

  test("describe() agrees with the oracled explicit-agg twin") {
    val d = ops.Relational.a7Describe(spark, sf).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap // l_quantity col
    val whole = io.Sources.table(spark, sf, "lineitem")
      .agg(count(lit(1)), avg(col("l_quantity")), min(col("l_quantity")),
        max(col("l_quantity"))).head()
    assert(d("count").toLong == whole.getLong(0))
    // describe's mean is rounded to 4 decimals for cross-parallelism
    // stability, so compare at that grain
    assert(math.abs(d("mean").toDouble - whole.getDouble(1)) < 1e-3)
    assert(d("min").toDouble == whole.getDouble(2))
    assert(d("max").toDouble == whole.getDouble(3))
  }

  test("ml.Pipeline composition is row-identical to the staged kmeans op, " +
      "and the staged fits run once per session") {
    val staged = mlx.Clustering.kmeansActivity(spark, sf).collect()
    val pca = mlx.Clustering.pcaProjection(spark, sf).collect()
    val (kmAfter, pcaAfter) =
      (mlx.Clustering.kmFitCount.get(), mlx.Clustering.pcaFitCount.get())
    assert(kmAfter >= 1 && pcaAfter >= 1)
    // a fresh sample window (Bench clears the derived tier between
    // samples): the staged ops must serve the SAME rows with ZERO new
    // fits — before the kmMemo/pcaMemo this was a full 20-iteration
    // k-means|| refit per bench sample
    Memos.clearDerived()
    assert(mlx.Clustering.kmeansActivity(spark, sf).collect()
      .sameElements(staged))
    assert(mlx.Clustering.pcaProjection(spark, sf).collect()
      .sameElements(pca))
    assert(mlx.Clustering.kmFitCount.get() == kmAfter &&
      mlx.Clustering.pcaFitCount.get() == pcaAfter,
      "ml fit must run once per (session, dir): a bench sample window " +
        "refit instead of reading the memoized model")
    // the pipeline op intentionally keeps an UNMEMOIZED composed fit —
    // its row-identity to the staged op re-proves cached == refit on
    // every test run
    val piped = mlx.Clustering.kmeansPipeline(spark, sf).collect()
    assert(staged.sameElements(piped))
  }

  test("assembled/signals DataFrame tiers survive a wrapped-session " +
      "resolve without recompute (appKey keyspace, round-16 directive 2)") {
    // the fit_counts idea extended to the CACHE tiers: the round-15
    // driver proved identity-keyed memos refit under a foreign harness;
    // round 16 fixed the model memos, this pins the DataFrame tiers.
    // Resolve once under the suite session, then through newSession()
    // wrappers — same SparkContext, same applicationId, so the compute
    // counters must not move.
    val a0 = mlx.Clustering.assembled(spark, sf).count()
    val s0 = mlx.QualityModel.signals(spark, sf).count()
    val (aComputes, sComputes) =
      (mlx.Clustering.assembledComputeCount.get(),
        mlx.QualityModel.signalsComputeCount.get())
    assert(aComputes >= 1 && sComputes >= 1)
    val wrapped = spark.newSession()
    assert(mlx.Clustering.assembled(wrapped, sf).count() == a0)
    assert(mlx.QualityModel.signals(wrapped, sf).count() == s0)
    assert(mlx.Clustering.assembledComputeCount.get() == aComputes,
      "assembled tier recomputed under a wrapped session — the appKey " +
        "keyspace regressed to identity semantics")
    assert(mlx.QualityModel.signalsComputeCount.get() == sComputes,
      "signals tier recomputed under a wrapped session — the appKey " +
        "keyspace regressed to identity semantics")
  }

  test("connected components: chain, cycle, and disjoint pair resolve to min label") {
    import spark.implicits._
    // chain 1-2-3-4-5 (diameter 4: exercises multi-round propagation),
    // triangle 10-11-12, isolated pair 20-21
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (12L, 10L), (20L, 21L))
      .toDF("a", "b")
    val comp = ext.Graph.connectedComponents(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connected components: empty edge set yields empty result, no error") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(ext.Graph.connectedComponents(empty, "a", "b").count() == 0L)
    // and on the distributed loop (cap 0)
    assert(ext.Graph.connectedComponentsCapped(empty, "a", "b", 50, 0)
      .count() == 0L)
  }

  test("connected components: superseded round checkpoints are released") {
    import spark.implicits._
    // chain 1..6 (diameter 5): the loop runs >= 5 propagate rounds, so
    // it creates several label-table generations. The round-22 release
    // discipline unpersists each superseded round's checkpointed RDD
    // right after the probe saves its successor — only the FINAL label
    // table stays persisted when the loop returns (e and sym are freed
    // when the loop's own scope exits), and the caller's scope frees
    // that one when it closes. Relies on suites running sequentially
    // in the forked test JVM (no testForkedParallel), so no other
    // suite mutates the context's persistent-RDD map mid-test.
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("a", "b")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val inScope = Overlap(spark) { _ =>
      // cap 0: the distributed loop, whatever the graph's size
      val comp = ext.Graph.connectedComponentsCapped(edges, "a", "b",
        maxIter = 50, driverMaxEdges = 0)
      comp.write.format("noop").mode("overwrite").save()
      spark.sparkContext.getPersistentRDDs.keySet -- before
    }
    assert(inScope.size == 1,
      s"${inScope.size} persistent RDDs survive the CC loop inside the " +
        "scope — superseded label rounds must be released eagerly, and " +
        "the final one must outlive the loop for the caller to read")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"${leaked.size} persistent RDDs survive the caller's scope")
  }

  test("connected components: a failed loop releases its label tables") {
    import spark.implicits._
    // maxIter = 1 cannot converge on a diameter-5 chain, so the loop
    // (cap 0: the driver union-find would fold the chain at once) exits
    // through its require — every checkpoint generation it made must be
    // released on that path too, not left to the ContextCleaner
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("a", "b")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[IllegalArgumentException] {
      ext.Graph.connectedComponentsCapped(edges, "a", "b", maxIter = 1,
        driverMaxEdges = 0)
    }
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"a non-converging CC loop left ${leaked.size} persistent RDDs behind")
  }

  /** `(id, group_id)` of [[ext.Graph.connectedComponentsCapped]] with
    * the driver path's cap at `cap` (0 runs the distributed loop).
    */
  private def components(edges: DataFrame, cap: Int): Map[Any, Any] =
    ext.Graph.connectedComponentsCapped(edges, "a", "b", 50, cap)
      .collect().map(r => r.get(0) -> r.get(1)).toMap

  test("connected components: driver union-find == loop on a long chain, " +
      "duplicate and reversed edges") {
    import spark.implicits._
    // chain 0-1-...-39 listed from the far end (every union links two
    // multi-vertex trees), each edge also reversed and repeated, plus
    // a self-loop and a separate pair
    val chain = (1L until 40L).reverse.map(i => (i, i - 1L))
    val edges = (chain ++ chain.map(_.swap) ++ chain.take(5) ++
      Seq((7L, 7L), (100L, 90L), (90L, 100L))).toDF("a", "b")
    val driver = components(edges, ext.Graph.DriverMaxEdges)
    assert(driver == components(edges, 0))
    assert(driver == ((0L until 40L).map(i => (i: Any) -> (0L: Any)) ++
      Seq((90L: Any) -> (90L: Any), (100L: Any) -> (90L: Any))).toMap)
  }

  test("connected components: int ids give int columns on both paths") {
    import spark.implicits._
    val edges = Seq((3, 1), (3, 2), (9, 8)).toDF("a", "b")
    Seq(ext.Graph.DriverMaxEdges, 0).foreach { cap =>
      val comp = ext.Graph.connectedComponentsCapped(edges, "a", "b", 50, cap)
      assert(comp.schema.map(_.dataType) ==
        Seq(org.apache.spark.sql.types.IntegerType,
          org.apache.spark.sql.types.IntegerType), s"cap $cap")
      assert(comp.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap ==
        Map(1 -> 1, 2 -> 1, 3 -> 1, 8 -> 8, 9 -> 8), s"cap $cap")
    }
  }

  test("connected components: a small graph costs one job on its edge list") {
    import spark.implicits._
    // four cached partitions: a take-style read would scan them in
    // more than one job
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("a", "b").repartition(4).persist()
    try {
      edges.count()
      val w = Trace(spark)(
        ext.Graph.connectedComponents(edges, "a", "b").collect())
      assert(w.jobs.size <= 1,
        s"${w.jobs.size} jobs ran for a 5-edge graph on the driver path")
      assert(w.value.map(r => r.getLong(0) -> r.getLong(1)).toMap ==
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
          10L -> 10L, 11L -> 10L))
    } finally edges.unpersist()
  }

  test("ann probe-many: bench formulation rows match the union's batch 4") {
    // the bench path computes batch 4 as an eager localCheckpoint on
    // the serve pool (round 22); the frame it hands back must stay
    // row-identical to the registered (oracle-checked) union's batch-4
    // slice — pins the checkpoint refactor to the fn it stands in for
    val cols = Seq("q_id", "c_id", "rank", "cos_sim")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val bench = ext.Similarity.annProbeManyBench(spark, sf)
      .select(cols.map(col): _*).collect().map(_.toSeq).toSet
    val union = ext.Similarity.annProbeMany(spark, sf)
      .filter(col("batch") === 4)
      .select(cols.map(col): _*).collect().map(_.toSeq).toSet
    assert(bench == union,
      "annProbeManyBench's returned frame diverged from the registered " +
        "union's batch-4 rows")
    // the batch-4 checkpoint is Memos-tracked: the per-query clear the
    // bench runs after every sample releases it
    Memos.clearDerived()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"${leaked.size} persistent RDDs outlived " +
      "annProbeManyBench past Memos.clearDerived()")
  }

  test("dup groups: both endpoints of every near-dup pair share a group") {
    val edges = ext.Similarity.cosineNearDupPairs(spark, sf)
      .select(col("vec_a"), col("vec_b"))
    val groups = ext.Graph.dupGroups(spark, sf)
      .select(col("vec_id"), col("group_id"))
    val ga = groups.withColumnRenamed("vec_id", "vec_a")
      .withColumnRenamed("group_id", "g_a")
    val gb = groups.withColumnRenamed("vec_id", "vec_b")
      .withColumnRenamed("group_id", "g_b")
    val broken = edges.join(ga, "vec_a").join(gb, "vec_b")
      .filter(col("g_a") =!= col("g_b")).count()
    assert(broken == 0L, s"$broken edges straddle two groups")
  }

  test("bigram LM score: qlp bound, pair accounting, surprise ordering") {
    val rows = ext.TextAnalysis.bigramLmScore(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, sumQ, mean) = (r.getInt(1), r.getInt(2), r.getDouble(3))
      // a pair can never outnumber its own history: qlp <= 0 always
      assert(sumQ <= 0, s"doc ${r.getLong(0)}: positive sum_qlp $sumQ")
      assert(mean <= 0.0 && mean >= -64.0)
      assert(n >= 1)
      // mean is the floor-rounded sum/n (the oracle's exact arithmetic)
      val expected = math.floor(sumQ.toDouble / n * 1000 + 0.5) / 1000
      assert(math.abs(mean - expected) < 1e-9)
    }
  }

  test("mixture plan: selection realizes the plan, bounds hold per stratum") {
    val rows = ext.Curation.mixturePlan(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nDocs, stratum) = (r.getInt(1), r.getLong(2))
      val (w, planned) = (r.getInt(3), r.getLong(4))
      val (keptD, keptT, permille) =
        (r.getInt(5), r.getLong(6), r.getLong(7))
      assert(keptD <= nDocs && keptT <= stratum && permille <= 1000)
      if (w == 0) assert(keptD == 0, s"${r.getString(0)}: zero-weight stratum kept docs")
      // a stratum smaller than its budget is kept whole (rate caps at 1)
      if (planned >= stratum) assert(keptD == nDocs && keptT == stratum)
      // systematic hash selection lands near the planned budget
      else assert(math.abs(keptT - planned).toDouble / stratum <= 0.25,
        s"${r.getString(0)}: kept $keptT vs planned $planned of $stratum")
    }
  }

  test("boilerplate removal: accounting closes, untouched docs keep their text") {
    import org.apache.spark.sql.functions.{col, concat_ws, md5, split}
    val rows = ext.Curation.boilerplateRemoval(spark, sf).collect()
    assert(rows.nonEmpty)
    val emptyMd5 = "d41d8cd98f00b204e9800998ecf8427e"
    rows.foreach { r =>
      val (nSegs, nBoiler) = (r.getInt(1), r.getInt(2))
      val (nTok, kept) = (r.getInt(3), r.getInt(4))
      assert(nBoiler <= nSegs && kept <= nTok)
      if (nBoiler == 0) assert(kept == nTok && r.getLong(6) == 0L)
      if (nBoiler == nSegs) {
        assert(kept == 0, s"doc ${r.getLong(0)}: all segs cut but tokens kept")
        assert(r.getString(5) == emptyMd5)
      }
    }
    // a doc with nothing removed must hash to its own rejoined text
    val untouched = rows.filter(_.getInt(2) == 0).map(_.getLong(0)).toSet
    if (untouched.nonEmpty) {
      val raw = graft.io.Sources.table(spark, sf, "documents")
        .select(col("doc_id"),
          md5(concat_ws(" ", split(col("text"), " ")).cast("binary")).as("m"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      rows.filter(r => untouched(r.getLong(0))).foreach { r =>
        assert(r.getString(5) == raw(r.getLong(0)),
          s"doc ${r.getLong(0)}: cleaned_md5 drifted with zero removals")
      }
    }
  }

  test("shard pack: shards contiguous, budget respected, tokens conserved") {
    import org.apache.spark.sql.functions.{col, size, split}
    val budget = 2048L
    val rows = ext.Curation.shardPack(spark, sf).collect()
    assert(rows.nonEmpty)
    val maxDoc = graft.io.Sources.table(spark, sf, "documents")
      .select(size(split(col("text"), " ")).cast("long").as("n"))
      .agg(org.apache.spark.sql.functions.max(col("n"))).collect()(0).getLong(0)
    val ids = rows.map(_.getLong(0))
    assert(ids.toSeq == (0L until rows.length).toSeq, "shard ids not contiguous")
    val total = rows.map(_.getLong(2)).sum
    val corpus = graft.io.Sources.table(spark, sf, "documents")
      .select(size(split(col("text"), " ")).cast("long").as("n"))
      .agg(org.apache.spark.sql.functions.sum(col("n"))).collect()(0).getLong(0)
    assert(total == corpus, s"token conservation broke: $total vs $corpus")
    rows.foreach { r =>
      assert(r.getLong(2) <= budget + maxDoc,
        s"shard ${r.getLong(0)} overfilled: ${r.getLong(2)}")
    }
    rows.dropRight(1).foreach { r =>
      assert(r.getLong(2) >= budget - maxDoc + 1,
        s"non-final shard ${r.getLong(0)} underfilled: ${r.getLong(2)}")
    }
    // hash spans tile the order: a shard never reaches past its successor
    rows.sliding(2).foreach {
      case Array(a, b) => assert(a.getLong(4) <= b.getLong(3))
      case _ =>
    }
  }

  test("bm25: top-10 ordered, tiebreak deterministic, hits bounded by query") {
    val rows = ext.TextAnalysis.bm25TopK(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    rows.foreach(r => assert(r.getInt(1) >= 1 && r.getInt(1) <= 3))
    rows.sliding(2).foreach {
      case Array(a, b) =>
        val (sa, sb) = (a.getLong(2), b.getLong(2))
        assert(sa > sb || (sa == sb && a.getLong(0) < b.getLong(0)),
          "ranking not (score desc, doc_id) ordered")
      case _ =>
    }
  }

  test("incremental dedup: one verdict per delta doc, fields consistent") {
    import org.apache.spark.sql.functions.col
    val rows = ext.Dedup.incrementalDedup(spark, sf).collect()
    val nDelta = graft.io.Sources.table(spark, sf, "documents")
      .filter(col("doc_id") % 5 === 4).count()
    assert(rows.length == nDelta, "a delta doc lost or duplicated its verdict")
    rows.foreach { r =>
      val (id, v, m, j) =
        (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))
      assert(id % 5 == 4, s"non-delta doc $id in the verdict set")
      v match {
        case "novel" => assert(m == -1L && j == 0.0)
        case "near" =>
          assert(m >= 0 && m % 5 != 4, s"near match $m is not a base doc")
          assert(j >= 0.5 && j <= 1.0)
        case "exact" => assert(m >= 0 && m % 5 != 4 && j == 1.0)
        case other => fail(s"unknown verdict $other")
      }
    }
  }

  test("quality gate: mask encodes exactly the failed signals, keep = mask 0") {
    val rows = ext.Curation.qualityGate(spark, sf).collect()
    val nDocs = graft.io.Sources.table(spark, sf, "documents").count()
    assert(rows.length == nDocs, "a doc lost its gate verdict")
    rows.foreach { r =>
      val (sLen, sShape, sRep, sFlu) =
        (r.getBoolean(3), r.getBoolean(4), r.getBoolean(5), r.getBoolean(6))
      val mask = r.getInt(7)
      val expected = (if (sLen) 0 else 1) + (if (sShape) 0 else 2) +
        (if (sRep) 0 else 4) + (if (sFlu) 0 else 8)
      assert(mask == expected, s"doc ${r.getLong(0)}: mask $mask != $expected")
      assert(r.getBoolean(8) == (mask == 0))
    }
  }

  test("streaming quality gate == batch gate on the shared (stateless) bits") {
    val stream = streaming.EventStream.streamQualityGate(spark, sf).collect()
      .map(r => r.getInt(0) -> r.getInt(2)).toMap
    val batch = ext.Curation.qualityGate(spark, sf).collect()
      .groupBy(_.getInt(7) & 7).map { case (m, rs) => m -> rs.length }
    assert(stream == batch,
      s"stream manifest $stream != batch manifest (mask & 7) $batch")
  }

  test("bloom contamination: probe bench path == verified path, superset holds") {
    // the registered Q benches bloomContaminationProbe while Verify
    // hash-checks bloomContamination — pin the two formulations to the
    // same filter (same m, same positions, same hits)
    val full = ext.Dedup.bloomContamination(spark, sf).collect()
    val probe = ext.Dedup.bloomContaminationProbe(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getBoolean(3)))
      .toMap
    assert(full.length == probe.size)
    var falsePos = 0L
    var probed = 0L
    full.foreach { r =>
      val (nGrams, nBloom, flag) = probe(r.getLong(0))
      assert(r.getInt(1) == nGrams && r.getInt(3) == nBloom &&
        r.getBoolean(5) == flag,
        s"doc ${r.getLong(0)}: probe path diverges from verified path")
      // Bloom can only over-report: exact hits are always flagged
      assert(r.getInt(3) >= r.getInt(2),
        s"doc ${r.getLong(0)}: bloom missed an exact hit")
      assert(r.getInt(4) == r.getInt(3) - r.getInt(2))
      falsePos += r.getInt(4)
      probed += r.getInt(1)
    }
    // realized FPR over all probed grams stays within 10x the design
    // point (~0.1% at load factor 1/16, k=5)
    assert(falsePos.toDouble / probed <= 0.01,
      s"realized FPR ${falsePos.toDouble / probed} exceeds 1%")
  }

  test("range join: grid decomposition equals the naive overlap join") {
    val grid = ops.Intervals.rangeJoin(spark, sf).collect().toSeq
    // ground truth: the O(n*m) formulation the decomposition replaces —
    // a raw inequality join over the same session/window inputs
    val events = spark.read.parquet(s"$sf/events.parquet")
    val sess = events
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("s_end"))
      .select(col("user_id"), col("session_start"),
        unix_timestamp(col("session_start")).as("s0"),
        unix_timestamp(col("s_end")).as("s1"))
    val win = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(min(unix_timestamp(col("ts"))).as("w0"))
      .select(col("event_type"), col("w0"), (col("w0") + 5400L).as("w1"))
    val naive = sess.crossJoin(win)
      .filter(col("s0") <= col("w1") && col("w0") <= col("s1"))
      .select(col("user_id"), col("session_start"), col("event_type"),
        (least(col("s1"), col("w1")) - greatest(col("s0"), col("w0")))
          .as("overlap_s"))
      .distinct()
      .orderBy(col("user_id"), col("session_start"), col("event_type"),
        col("overlap_s"))
      .collect().toSeq
    assert(grid.nonEmpty && grid == naive,
      s"grid join (${grid.size} rows) != naive join (${naive.size} rows)")
  }

  test("observe(): in-flight quality metrics ride the query, zero extra jobs") {
    // the production monitoring surface: named aggregates attached to a
    // query collect DURING its one pass (no second scan, no collect of
    // data rows — the listener hands back a single metrics Row)
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.apache.spark.sql.execution.QueryExecution
    @volatile var observed: Option[org.apache.spark.sql.Row] = None
    val latch = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
        qe.observedMetrics.get("doc_quality").foreach { r =>
          observed = Some(r); latch.countDown()
        }
      }
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val docs = spark.read.parquet(s"$sf/documents.parquet")
        .observe("doc_quality",
          count(lit(1)).as("n_rows"),
          sum(when(col("n_chars") <= 0, 1).otherwise(0)).as("n_empty"),
          sum(when(col("lang").isNull, 1).otherwise(0)).as("n_nolang"))
      val kept = docs.filter(col("n_chars") > 0).count()
      assert(latch.await(30, TimeUnit.SECONDS), "metrics never delivered")
      val m = observed.get
      val nRows = m.getAs[Long]("n_rows")
      assert(nRows == spark.read.parquet(s"$sf/documents.parquet").count())
      assert(m.getAs[Long]("n_empty") == nRows - kept)
      assert(m.getAs[Long]("n_nolang") == 0L)
    } finally spark.listenerManager.unregister(listener)
  }

  test("funnel is monotone; retention day-0 covers every user") {
    val f = ops.Eventing.e10Funnel(spark, sf).collect()
    assert(f.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    val counts = f.map(_.getLong(2))
    assert(counts(0) >= counts(1) && counts(1) >= counts(2),
      s"funnel must be non-increasing: ${counts.toSeq}")
    assert(counts(0) > 0)
    val r = ops.Eventing.e11Retention(spark, sf)
    // every user is active on their own first-seen day, so the
    // offset-0 rows partition the user base exactly
    val day0 = r.filter(col("day_offset") === 0)
      .agg(sum(col("n_active"))).head().getLong(0)
    val users = spark.read.parquet(s"$sf/events.parquet")
      .select("user_id").distinct().count()
    assert(day0 == users, s"day-0 active $day0 != $users users")
  }

  test("bpe encode: token accounting closes against the raw corpus") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val enc = ext.BpeTrainer.bpeEncode(spark, sf).collect()
    assert(enc.length == docs.count(), "one accounting row per document")
    // whole-corpus word count from the raw text must equal the sum of
    // per-doc n_words (nothing dropped by the join path)
    val rawWords = docs
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .count()
    assert(enc.map(_.getLong(1)).sum == rawWords)
    enc.foreach { r =>
      val (nWords, nOov, nTokens) =
        (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nOov <= nWords)
      // byte fallback: every word yields >= 1 token (in-vocab words at
      // least one merge symbol, OOV words at least one byte symbol), so
      // the total budget now covers the WHOLE document
      assert(nTokens >= nWords,
        s"doc ${r.getLong(0)}: fewer tokens than words despite fallback")
    }
  }

  test("pseudonymize: k-anonymity holds and nothing leaks the raw id") {
    // sf0.01, not the suite default: 15 users all land under the k=50
    // cohort floor at sf0.001, which would leave the released path (and
    // with it every k-anonymity assertion) vacuously green
    val dir = "/root/testdata/sf0.01"
    val out = ext.Governance.pseudonymize(spark, dir).collect()
    val k = ext.Governance.KAnonymity
    val released = out.filter(_.getString(0) != "suppressed")
    assert(released.nonEmpty, "fixture exercises no released cohort")
    released.foreach { r =>
      // 16-hex token, never a raw numeric id
      assert(r.getString(0).matches("[0-9a-f]{16}"))
      // released attributes are GENERALIZED bands, not exact values
      assert(r.getLong(1) % ext.Governance.NBandWidth == 0)
      assert(r.getLong(2) % ext.Governance.CentsBandWidth == 0)
      assert(r.getLong(3) >= k, s"released token under the k=$k floor")
    }
    // k-anonymity checked on the OUTPUT itself: every released
    // (n_band, cents_band) combination is shared by >= k released rows
    released.groupBy(r => (r.getLong(1), r.getLong(2)))
      .foreach { case (bands, rs) =>
        assert(rs.length >= k, s"cohort $bands smaller than k on output")
        // and the released anonymity_set equals the cohort's true size
        rs.foreach(r => assert(r.getLong(3) == rs.length))
      }
    // suppressed bucket masks its bands entirely
    val supp = out.filter(_.getString(0) == "suppressed")
    supp.foreach { r =>
      assert(r.getLong(1) == -1L && r.getLong(2) == -1L)
    }
    // users conserve: released tokens (one user each) + suppressed
    // bucket size = all users in the log
    val totalUsers = io.Sources.table(spark, dir, "events")
      .select("user_id").distinct().count()
    assert(released.length + supp.map(_.getLong(3)).sum == totalUsers)
  }

  test("forget user: manifest equals the real purge, totals conserve, " +
      "no requested user survives") {
    import org.apache.spark.sql.functions._
    val out = ext.Governance.forgetUser(spark, sf).collect()
    // the attached verification boolean comes from the REAL anti-join
    // purge, not the flag aggregate — it must hold on every row
    assert(out.nonEmpty && out.forall(_.getBoolean(5)))
    val ev = io.Sources.table(spark, sf, "events")
    // flag-aggregate manifest == counts over the actual purge output
    val purged = ev.filter(pmod(col("user_id"), lit(97)) =!= 0)
    val kept = purged.groupBy(col("event_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      assert(r.getLong(1) == kept.getOrElse(r.getString(0), 0L),
        s"${r.getString(0)}: manifest n_kept diverges from the purge")
    }
    // every event accounted for exactly once across kept + purged
    assert(out.map(r => r.getLong(1) + r.getLong(2)).sum == ev.count())
    // the fixture actually exercises the purge path
    assert(out.map(_.getLong(2)).sum > 0, "no requested users in fixture")
  }

  test("ann index update: increment touches only the delta's buckets " +
      "and the merged index holds the full corpus") {
    import org.apache.spark.sql.functions._
    val hist = ext.Similarity.annIndexUpdate(spark, sf).collect()
    val n = io.Sources.table(spark, sf, "embeddings").count()
    // merged layout holds everything; origins partition the corpus
    assert(hist.map(_.getLong(3)).sum == n)
    assert(hist.map(r => r.getLong(1) + r.getLong(2)).toSeq ==
      hist.map(_.getLong(3)).toSeq)
    // the append wrote files ONLY under the delta's signature
    // partitions: one part-file per untouched bucket (the base write's
    // repartition(sig) gives exactly one), two per touched bucket
    val root = new java.io.File(ext.Similarity.annIndexIncrPath(sf))
    val touched = hist.filter(_.getLong(2) > 0).map(_.getInt(0)).toSet
    val withDelta = hist.exists(_.getLong(2) > 0)
    assert(withDelta, "fixture has no delta vectors")
    hist.foreach { r =>
      val dir = new java.io.File(root, s"sig=${r.getInt(0)}")
      val parts = Option(dir.listFiles()).getOrElse(Array.empty)
        .count(_.getName.startsWith("part-"))
      val expected = if (touched(r.getInt(0))) 2 else 1
      assert(parts == expected,
        s"bucket ${r.getInt(0)}: $parts part files, expected $expected" +
          " — the increment rewrote untouched buckets")
    }
  }

  test("ann index scratch paths: punctuation-variant dirs never share one") {
    import ext.Similarity.{annIndexIncrPath, annIndexPath, annPointerPath}
    val (a, b) = ("/x/a b", "/x/a_b")
    assert(annIndexPath(a, 5) != annIndexPath(b, 5))
    assert(annPointerPath(a) != annPointerPath(b))
    assert(annIndexIncrPath(a) != annIndexIncrPath(b))
    // the layout stays per-nBits within one dir
    assert(annIndexPath(a, 5) != annIndexPath(a, 6))
  }

  test("ann index freshness manifest: probe-time check is metadata-only, " +
      "fresh probes never rebuild, same-count regenerations do") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    // private corpus dir owned by this test — the manifest drill bumps
    // file mtimes, which must not invalidate shared fixtures' indexes
    val dir = s"${ScalingBench.FixtureRoot}/manifest-v1"
    graft.io.Sources.rmTree(dir)
    new java.io.File(dir).mkdirs()
    // testdata tables are single parquet FILES — copy the file itself
    val corpusFile = new java.io.File(s"$dir/embeddings.parquet")
    Files.copy(
      Paths.get("/root/testdata/sf0.001/embeddings.parquet"),
      corpusFile.toPath, StandardCopyOption.REPLACE_EXISTING)
    val n = io.Sources.table(spark, dir, "embeddings").count()
    val manifest = Paths.get(
      ext.Similarity.annIndexPath(dir, ext.Similarity.autoBits(n)),
      "_graft_manifest")
    Files.deleteIfExists(manifest)

    // first probe: builds index + manifest
    ext.Similarity.annProbeBatch(spark, dir, 0)
    assert(Files.exists(manifest), "build did not write the manifest")
    val m1 = new String(Files.readAllBytes(manifest), "UTF-8")
    val t1 = Files.getLastModifiedTime(manifest)

    // fresh corpus: a second probe must NOT rebuild (same manifest
    // object, same mtime — the freshness check did metadata work only)
    ext.Similarity.annProbeBatch(spark, dir, 1)
    assert(Files.getLastModifiedTime(manifest) == t1 &&
      new String(Files.readAllBytes(manifest), "UTF-8") == m1,
      "fresh index was rebuilt — manifest check not trusted")

    // same-row-count regeneration: bump the source file's mtime (the
    // case the old count()-based staleness probe was blind to) -> the
    // fingerprint differs -> next probe rebuilds
    assert(corpusFile.setLastModified(corpusFile.lastModified + 5000))
    val probe = ext.Similarity.annProbeBatch(spark, dir, 0)
    val m2 = new String(Files.readAllBytes(manifest), "UTF-8")
    assert(m2 != m1,
      "same-count regeneration did not trigger a rebuild")
    // and the rebuilt index still answers
    assert(probe.count() > 0)

    // CONTENT regeneration with live caches (the stale-cache drill):
    // the corpus() memo and the raw scan cache still hold the full
    // corpus from the probes above; replace the on-disk corpus with a
    // half-size subset and probe again. The rebuild must serve the NEW
    // data — an index rebuilt from the memoized old corpus but stamped
    // with the new files' fingerprint would be permanently-fresh wrong
    // results
    val half = n / 2
    val tmp = s"$dir/subset_tmp"
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(org.apache.spark.sql.functions.col("vec_id") < half)
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val partFile = new java.io.File(tmp).listFiles
      .find(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).get
    Files.copy(partFile.toPath, corpusFile.toPath,
      StandardCopyOption.REPLACE_EXISTING)
    graft.io.Sources.rmTree(tmp)
    val rows = ext.Similarity.annProbeBatch(spark, dir, 0).collect()
    assert(rows.nonEmpty)
    val ids = rows.flatMap(r => Seq(r.getLong(0), r.getLong(1)))
    assert(ids.forall(_ < half),
      s"probe served vectors evicted by the regeneration: " +
        s"${ids.filter(_ >= half).take(5).mkString(",")} — " +
        "index rebuilt from a stale cached corpus")
  }

  test("corpus(): a raw tier warmed before first resolution is evicted, " +
      "and regeneration detection is derived-clear granular") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = s"${ScalingBench.FixtureRoot}/corpusfresh-v1"
    graft.io.Sources.rmTree(dir)
    new java.io.File(dir).mkdirs()
    val corpusFile = new java.io.File(s"$dir/embeddings.parquet")
    def regenerate(keepBelow: Long): Unit = {
      // what another process's in-place rewrite looks like: the same
      // single-file layout, fewer rows, written via a temp dir
      val tmp = s"$dir/regen_tmp"
      spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .filter(col("vec_id") < keepBelow)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles
        .find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, corpusFile.toPath,
        StandardCopyOption.REPLACE_EXISTING)
      graft.io.Sources.rmTree(tmp)
    }
    Files.copy(
      Paths.get("/root/testdata/sf0.001/embeddings.parquet"),
      corpusFile.toPath, StandardCopyOption.REPLACE_EXISTING)
    val n = spark.read.parquet(corpusFile.getPath).count()
    val (half, quarter) = (n / 2, n / 4)
    // the round-12 ADVICE scenario needs the process-global raw-table
    // cache ON (Bench/Verify mode); restore it for the plan suites
    val prev = graft.io.Sources.setTableCacheForTest(Some(true))
    try {
      // Bench's warm order: the raw tier caches the table BEFORE any
      // corpus() call for this dir...
      assert(graft.io.Sources.table(spark, dir, "embeddings")
        .count() == n)
      // ...then another process regenerates the corpus in place
      regenerate(half)
      // FIRST corpus() resolution: without the first-resolution
      // eviction this memoizes the warmed full-size scan and stamps it
      // with the new files' fingerprint — permanently-fresh wrong data
      val c1 = ext.Similarity.corpus(spark, dir).count()
      assert(c1 == half,
        s"first corpus() resolution served $c1 rows (stale warmed " +
          s"scan), expected the regenerated $half")
      // within the same query window a second regeneration is NOT
      // seen — the per-query fingerprint memo is the documented
      // staleness granularity for non-ANN consumers
      regenerate(quarter)
      assert(ext.Similarity.corpus(spark, dir).count() == half,
        "per-query fingerprint memo re-walked within a query window")
      // the next query window re-walks, detects, and invalidates
      Memos.clearDerived()
      val c2 = ext.Similarity.corpus(spark, dir).count()
      assert(c2 == quarter,
        s"post-clearDerived corpus() served $c2 rows from before the " +
          s"regeneration, expected $quarter")
    } finally {
      graft.io.Sources.setTableCacheForTest(prev)
      Memos.clearDerived()
      graft.io.Sources.evictTable(spark, dir, "embeddings")
    }
  }

  test("withZ: zero-variance type pins z to 0 instead of NaN") {
    import spark.implicits._
    // 'flat' has identical cents per event (variance 0) and 'single'
    // one event — both would divide by sqrt(0) without the guard
    val cents = Seq((1L, "flat", 500L), (2L, "flat", 500L),
      (3L, "single", 900L), (4L, "vary", 100L), (5L, "vary", 700L))
      .toDF("event_id", "event_type", "cents")
    val stats = cents.groupBy($"event_type")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum($"cents").as("sc"),
        org.apache.spark.sql.functions.sum($"cents" * $"cents").as("sc2"))
    val z = ext.Governance.withZ(cents, stats)
      .select("event_id", "event_type", "az_bps").collect()
    z.filter(r => Set("flat", "single")(r.getString(1)))
      .foreach(r => assert(r.getLong(2) == 0L,
        s"degenerate type leaked non-zero z for event ${r.getLong(0)}"))
    // sanity: the non-degenerate type still scores |z| = 1 (two points
    // symmetric around their mean) -> 10000 bps
    z.filter(_.getString(1) == "vary")
      .foreach(r => assert(r.getLong(2) == 10000L))
  }

  test("event anomaly: dense ranks 1..5 per type, magnitudes descending") {
    val rows = ext.Governance.eventAnomaly(spark, sf).collect()
    rows.groupBy(_.getString(0)).foreach { case (t, rs) =>
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to sorted.length),
        s"$t: ranks not dense")
      val mags = sorted.map(_.getLong(4))
      assert(mags.zip(mags.tail).forall { case (a, b) => a >= b },
        s"$t: |z| not descending by rank")
    }
  }

  test("embedding drift: every dimension accounts for the whole corpus") {
    val n = io.Sources.table(spark, sf, "embeddings").count()
    val rows = ext.Governance.embeddingDrift(spark, sf).collect()
    assert(rows.length == 64)
    rows.foreach { r =>
      assert(r.getLong(1) + r.getLong(2) == n,
        s"dim ${r.getInt(0)}: halves do not partition the corpus")
    }
  }

  /** The ObjectHashAggregate fallback-threshold raise is scoped to the
    * queries whose aggregation state is k-bounded (Q.KBoundedAggConfs)
    * — NOT set session-wide, which would remove the sort-based safety
    * valve for unbounded collect_list/collect_set states the memory
    * manager cannot see. This pins (a) the session default stays stock,
    * (b) the tagged set exactly, (c) every tagged query's executed plan
    * actually runs an ObjectHashAggregate with none of its aggregate
    * functions unbounded (a stale or mis-applied tag fails here), and
    * (d) withConfs restores prior conf state either way.
    */
  test("k-bounded agg conf: session default stock, tag set pinned, " +
      "tagged plans hash-aggregate bounded states only") {
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    assert(spark.conf.get(key) == "128",
      "Sessions.local must not raise the objectHashAggregate fallback " +
        "threshold globally — Q.KBoundedAggConfs scopes it per-query")
    val tagged = SparkEntry.registry.filter(_.confs.nonEmpty)
    assert(tagged.forall(_.confs == Q.KBoundedAggConfs),
      "per-query confs beyond KBoundedAggConfs need their own pin here")
    assert(tagged.map(_.name).toSet == Set(
      "x_knn_classify", "x_knn_ann", "x_semantic_contamination",
      "x_event_anomaly", "x_simhash", "x_simhash_pairs"),
      s"tagged set drifted: ${tagged.map(_.name).sorted}")

    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case q: QueryStageExec => p +: flatten(q.plan)
      case a: AdaptiveSparkPlanExec => p +: flatten(a.executedPlan)
      case _ => p +: p.children.flatMap(flatten)
    }
    tagged.foreach { q =>
      val df = Sessions.withConfs(spark, q.confs) {
        val d = q.fn(spark, sf)
        d.queryExecution.toRdd.foreach(_ => ()) // finalize AQE
        d
      }
      val ohas = flatten(df.queryExecution.executedPlan).collect {
        case o: ObjectHashAggregateExec => o
      }
      assert(ohas.nonEmpty,
        s"${q.name}: tagged with KBoundedAggConfs but no " +
          "ObjectHashAggregate in its executed plan — stale tag")
      val aggFns = ohas.flatMap(_.aggregateExpressions)
        .map(_.aggregateFunction.prettyName.toLowerCase)
      assert(!aggFns.exists(f =>
        f.contains("collect_list") || f.contains("collect_set")),
        s"${q.name}: unbounded aggregate under the raised threshold: " +
          s"$aggFns")
      Memos.clearDerived()
    }
    // restore semantics: prior explicit value comes back; a previously
    // unset key is unset again (reads back its stock default)
    Sessions.withConfs(spark, Map(key -> "4096")) {
      assert(spark.conf.get(key) == "4096")
    }
    assert(spark.conf.get(key) == "128")
  }

  // ================================================================
  // Poisoned-input robustness (round-15 directive 5): adversarial
  // rows must get SKIP/NULL semantics — no crash, no silent wrong
  // rows — through the dedup / ANN / text families. Fixtures are
  // deterministic, built once under target/ like the guard fixtures.
  // ================================================================

  private def writeOnce(path: String)(write: String => Unit): Unit =
    if (!new java.io.File(s"$path/_SUCCESS").exists) write(path)

  /** Poisoned embeddings: 100 clean seeded vectors plus a zero vector,
    * a NaN component, a +Inf component, an empty array, and a NULL
    * array — next to a clean twin dir with ONLY the 100 clean rows, so
    * "no silent wrong rows" is literal result equality, not a spot
    * check.
    */
  private lazy val poisonEmbDir: String = {
    val dir = s"${ScalingBench.FixtureRoot}/poison-emb-v1"
    val clean = s"${ScalingBench.FixtureRoot}/poison-emb-clean-v1"
    import spark.implicits._
    def cleanRows: Seq[(Long, Seq[Float], Int)] = (0 until 100).map { i =>
      val rng = new scala.util.Random(i * 2654435761L)
      (i.toLong, Seq.fill(64)(rng.nextGaussian().toFloat), i % 10)
    }
    val poisonRows: Seq[(Long, Seq[Float], Int)] = Seq(
      (1000L, Seq.fill(64)(0.0f), 0),
      (1001L, Float.NaN +: Seq.fill(63)(1.0f), 1),
      (1002L, Float.PositiveInfinity +: Seq.fill(63)(1.0f), 2),
      (1003L, Seq.empty[Float], 3),
      (1004L, null, 4))
    writeOnce(s"$dir/embeddings.parquet") { p =>
      (cleanRows ++ poisonRows).toDF("vec_id", "embedding", "label")
        .coalesce(1).write.mode("overwrite").parquet(p)
    }
    writeOnce(s"$clean/embeddings.parquet") { p =>
      cleanRows.toDF("vec_id", "embedding", "label")
        .coalesce(1).write.mode("overwrite").parquet(p)
    }
    dir
  }
  private lazy val cleanEmbDir: String = {
    poisonEmbDir // ensures both twins exist
    s"${ScalingBench.FixtureRoot}/poison-emb-clean-v1"
  }

  /** Poisoned documents: 40 clean seeded docs plus empty text, a
    * 1-token doc, a 2-token doc, whitespace-only text, NULL text, a
    * decomposed/precomposed NFC pair, and unpaired-surrogate + astral
    * code points (WTF-8 once UTF8String encodes the lone surrogate —
    * the closest a DataFrame writer gets to malformed UTF-8).
    */
  private lazy val poisonDocDir: String = {
    val dir = s"${ScalingBench.FixtureRoot}/poison-doc-v1"
    import spark.implicits._
    val words = Seq("spark", "batch", "filter", "query", "stream",
      "vector", "table", "merge", "scan", "group")
    val cleanRows = (0 until 40).map { i =>
      val rng = new scala.util.Random(i * 40503L + 7)
      val text = Seq.fill(12 + rng.nextInt(30))(
        words(rng.nextInt(words.length))).mkString(" ")
      (i.toLong, text, if (i % 3 == 0) "en" else "es", s"src${i % 4}")
    }
    val poisonRows = Seq(
      (100L, "", "en", "src0"),
      (101L, "spark", "en", "src0"),
      (102L, "spark batch", "en", "src1"),
      (103L, "   ", "en", "src1"),
      (104L, null, "en", "src2"),
      // decomposed (e + combining acute) vs precomposed e-acute
      (105L, "cafe\u0301 filter batch query scan", "fr", "src2"),
      (106L, "caf\u00e9 filter batch query scan", "fr", "src2"),
      // lone high surrogate + astral plane + BOM + NUL
      (107L, "\uD800 bad \uFEFF bytes \u0000 \uD83D\uDE00 tail", "en",
        "src3"))
    writeOnce(s"$dir/documents.parquet") { p =>
      (cleanRows ++ poisonRows)
        .toDF("doc_id", "text", "lang", "source")
        .withColumn("n_chars",
          coalesce(length(col("text")).cast("long"), lit(0L)))
        .coalesce(1).write.mode("overwrite").parquet(p)
    }
    dir
  }

  test("poisoned vectors: every similarity result is finite and equals " +
      "the clean-corpus run — zero/NaN/Inf/empty/null vectors are " +
      "skipped, never ranked") {
    val poisonedIds = Set(1000L, 1001L, 1002L, 1003L, 1004L)
    for ((name, fn) <- Seq[(String,
        (org.apache.spark.sql.SparkSession, String) =>
          org.apache.spark.sql.DataFrame)](
        "cosineTopK" -> (ext.Similarity.cosineTopK(_, _)),
        "annLsh" -> (ext.Similarity.annLsh(_, _)))) {
      val poisoned = fn(spark, poisonEmbDir).collect()
      val clean = fn(spark, cleanEmbDir).collect()
      // no silent wrong rows: literal equality with the clean twin —
      // without the corpus norm filter the NaN-cosine rows would take
      // rank 1 in every query's top-k (NaN sorts above every double)
      assert(poisoned.toSeq == clean.toSeq,
        s"$name diverges between poisoned and clean corpora")
      poisoned.foreach { r =>
        assert(!poisonedIds.contains(r.getLong(0)) &&
          !poisonedIds.contains(r.getLong(1)),
          s"$name ranked a poisoned vector: $r")
        val cos = r.getDouble(3)
        assert(!cos.isNaN && !cos.isInfinite,
          s"$name emitted a non-finite similarity: $r")
      }
      Memos.clearDerived()
    }
  }

  test("poisoned documents: the gram dedup / text-analysis family " +
      "completes with skip or per-row semantics, no crash, no NaN") {
    val dir = poisonDocDir
    val gramless = Set(100L, 101L, 102L, 103L, 104L) // < 3 words or null

    val jac = ext.Dedup.ngramJaccard(spark, dir).collect()
    jac.foreach { r =>
      assert(!gramless.contains(r.getLong(0)) &&
        !gramless.contains(r.getLong(1)),
        s"ngramJaccard paired a gramless doc: $r")
      val j = r.getDouble(4)
      assert(j >= 0.0 && j <= 1.0, s"jaccard out of range: $r")
    }
    // the NFC pair is byte-different but both are real 5-word docs in
    // the same source: the byte-keyed gram pass treats them as the
    // near-dups they are AFTER normalization (x_unicode_dedup's job);
    // here they must at least flow through without poisoning anything
    assert(ext.Dedup.exactDedup(spark, dir).count() >= 0) // no crash
    val incr = ext.Dedup.incrementalDedup(spark, dir).collect()
    assert(incr.nonEmpty)
    incr.foreach { r =>
      assert(Set("exact", "near", "novel").contains(r.getString(1)),
        s"incrementalDedup verdict malformed: $r")
      val j = r.getDouble(3)
      assert(!j.isNaN && j >= 0.0 && j <= 1.0, s"jaccard malformed: $r")
    }

    val nDocs = graft.io.Sources.table(spark, dir, "documents").count()
    val gate = ext.Curation.qualityGate(spark, dir).collect()
    assert(gate.length == nDocs,
      s"qualityGate dropped rows: ${gate.length} of $nDocs — poisoned " +
        "docs must be scored keep=false, not vanish")
    gate.foreach(r => assert(!r.isNullAt(r.fieldIndex("keep")),
      s"qualityGate emitted null keep: $r"))

    // per-row NULL semantics: null text -> null stats (doc 104); every
    // non-null text gets complete stats
    ext.TextAnalysis.tokenStats(spark, dir).collect().foreach { r =>
      if (r.getLong(0) != 104L)
        assert(!r.anyNull, s"tokenStats emitted null for non-null text: $r")
    }
    // chunking: every emitted chunk belongs to a real doc and is
    // non-empty; gramless docs may legitimately produce no chunk
    val chunks = ext.TextAnalysis.chunking(spark, dir).collect()
    assert(chunks.nonEmpty)
    Memos.clearDerived()
  }

  test("nfc_normalize and poly_hash2 are total on hostile strings") {
    graft.functions.NfcNormalize.register(spark)
    graft.functions.PolyHash.register(spark)
    import spark.implicits._
    val hostile = Seq(
      "", " ", "cafe\u0301", "caf\u00e9",
      "\uD800", "\uFEFF", "\u0000", "\uD83D\uDE00",
      "a\uD800b\uDFFFc", // lone high + lone low surrogate
      "\u0301\u0301\u0301") // bare combining marks
    val df = hostile.toDF("s")
      .selectExpr("s", "nfc_normalize(s) AS n",
        "poly_hash2(nfc_normalize(s)) AS h",
        "nfc_normalize(nfc_normalize(s)) AS n2")
    val rows = df.collect() // no crash is the first assertion
    rows.foreach { r =>
      assert(r.getString(1) == r.getString(3),
        s"nfc_normalize not idempotent on ${r.getString(0)}")
    }
    // the NFC pair collapses to one byte sequence and one fingerprint
    val Seq(hDecomp, hPrecomp) = rows
      .filter(r => r.getString(0).startsWith("caf")).map(_.getLong(2)).toSeq
    assert(hDecomp == hPrecomp,
      "decomposed/precomposed pair fingerprints differently after NFC")
    // determinism on WTF-8: same hostile input, same hash, both runs
    val again = hostile.toDF("s")
      .selectExpr("poly_hash2(nfc_normalize(s)) AS h").collect()
      .map(_.getLong(0)).toSeq
    assert(again == rows.map(_.getLong(2)).toSeq,
      "poly_hash2 nondeterministic on hostile strings")
  }
}
