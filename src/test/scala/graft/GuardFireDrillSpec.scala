package graft

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Repartition, ResolvedHint}
import org.apache.spark.sql.functions._

import graft.ext.{Curation, Dedup}
import graft.io.Sources

/** Guard fire-drill (round-8 directive 2): every skew/size guard was
  * previously proven on its over-cap branch only via conf override —
  * ordinary testdata never crosses the default thresholds. This suite
  * generates pathological synthetic draws (a mirror-heavy crawl, a
  * boilerplate hot gram) whose REAL optimizer size estimates / document
  * frequencies cross the guards' DEFAULT caps, and asserts both the
  * branch flip and that results are unchanged against the guard-free
  * control formulation.
  *
  * Fixture A ("mirror crawl"): 18,500 docs of ~20 KB incompressible hex
  * text, 3,700 distinct texts x 5 exact copies (duplicates are 80% of
  * the corpus — the mirror-heavy shape the gatedBroadcast Scaladoc
  * names as its failure mode). Written uncompressed + dictionary-off so
  * on-disk bytes track logical bytes (~373 MB): big enough that the
  * stage-1 removal set's size-only estimate (0.189 x scan bytes for
  * this plan shape — project/window/filter defaultSize ratios) crosses
  * the 64 MB RemovalBroadcastMaxBytes cap, and that tableWide's widen
  * gate trips (>= 64 MB, ceil(bytes / 128 MB maxPartitionBytes) = 3 <
  * 4 cores). Built once and cached under target/ across test runs.
  *
  * Fixture B ("boilerplate hot key"): 1,200 same-source docs sharing a
  * navigation-chrome prefix, so two 3-gram keys have document frequency
  * 1,200 > the 1,000 default df cutoff — the posting-list guard trips
  * on real frequencies. 50 planted near-dup pairs share 8-word tails.
  */
class GuardFireDrillSpec extends SparkSuite {

  /** Fixture A: mirror-heavy corpus, ~373 MB on disk. */
  private lazy val mirrorDir: String = {
    val dir = s"${ScalingBench.FixtureRoot}/mirror-v1"
    val path = s"$dir/documents.parquet"
    if (!new File(s"$path/_SUCCESS").exists) {
      // 3,700 distinct texts (624 chained md5 hex blocks = 19,968 chars
      // of incompressible text each) x 5 identical copies
      val base = spark.range(3700).select(
        col("id").as("base"),
        concat_ws("", expr(
          """transform(sequence(0, 623),
             j -> md5(concat(cast(id as string), '-',
                             cast(j as string))))""")).as("text"))
      val docs = base
        .select(col("base"), col("text"),
          explode(expr("sequence(0, 4)")).as("c"))
        .select((col("base") * 5 + col("c")).as("doc_id"), col("text"),
          lit("en").as("lang"), lit("mirror").as("source"),
          length(col("text")).cast("long").as("n_chars"))
      docs.write.mode("overwrite")
        .option("compression", "uncompressed")
        .option("parquet.enable.dictionary", "false")
        .parquet(path)
    }
    dir
  }

  /** Fixture B: hot-gram corpus (df 1200 on the boilerplate grams) —
    * shared with `CurateSpec` via [[FireDrillFixtures]].
    */
  private lazy val hotDir: String = FireDrillFixtures.hotgramDir(spark)

  /** Fixture C: planted semantic cluster — 2/7 (~29%) of 2,000
    * embeddings within 1e-4 of one unit direction (same LSH bucket,
    * cos ~ 1 but not exact copies), the rest isotropic gaussian.
    * Membership by `vec_id % 7 < 2` so the % 50 == 0 query set mixes
    * in-cluster and outside-cluster queries. Deterministic (seeded per
    * id); built once under target/ like fixtures A/B.
    */
  private lazy val clusterDir: String = {
    val dir = s"${ScalingBench.FixtureRoot}/embcluster-v1"
    val path = s"$dir/embeddings.parquet"
    if (!new File(s"$path/_SUCCESS").exists) {
      import spark.implicits._
      val dim = 64
      val u = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
      val rows = (0 until 2000).map { i =>
        val rng = new scala.util.Random(i * 2654435761L)
        val v =
          if (i % 7 < 2)
            u.map(x => (x + (rng.nextDouble() - 0.5) * 2e-4).toFloat)
          else Array.fill(dim)(rng.nextGaussian().toFloat)
        (i.toLong, v.toSeq, i % 10)
      }
      rows.toDF("vec_id", "embedding", "label")
        .coalesce(1).write.mode("overwrite").parquet(path)
    }
    dir
  }

  private def onDiskBytes(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) f.listFiles.map(walk).sum else f.length
    walk(new File(path))
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  // ---------------------------------------------------------------
  // Guard 1: Curation.gatedBroadcast 64 MB removal-broadcast cap
  // ---------------------------------------------------------------

  test("mirror crawl: removal-set estimate really exceeds the default 64 MB cap") {
    val est = Curation.stage1Losers(spark, mirrorDir)
      .queryExecution.optimizedPlan.stats.sizeInBytes
    assert(est > BigInt(Curation.RemovalBroadcastMaxBytes),
      s"removal estimate $est did not cross the default cap " +
        s"${Curation.RemovalBroadcastMaxBytes} — fixture too small")
  }

  test("gatedBroadcast drops the hint over-cap and results match the forced-hint control") {
    // over-cap branch, chosen by the DATA (no conf override): no
    // broadcast hint anywhere in the analyzed plan — AQE alone decides
    // the join strategy from runtime sizes
    val unhinted = Curation.stage1Survivors(spark, mirrorDir)
    val hints = unhinted.queryExecution.analyzed.collect {
      case h: ResolvedHint => h
    }
    assert(hints.isEmpty,
      s"expected no broadcast hint on the over-cap branch, got $hints")

    // control arm: raise the cap so the same data takes the hinted
    // branch, and pin that the two branches agree row-for-row
    withConf(Curation.RemovalBroadcastMaxBytesKey,
      Long.MaxValue.toString) {
      val hinted = Curation.stage1Survivors(spark, mirrorDir)
      val controlHints = hinted.queryExecution.analyzed.collect {
        case h: ResolvedHint => h
      }
      assert(controlHints.nonEmpty,
        "control arm should carry the broadcast hint")
      val a = unhinted.select("doc_id")
      val b = hinted.select("doc_id")
      assert(a.count() == 3700L, "mirror dedup should keep one doc per text")
      assert(a.except(b).count() == 0 && b.except(a).count() == 0,
        "over-cap and hinted branches disagree")
    }
  }

  // ---------------------------------------------------------------
  // Guard 2: Sources.tableWide 64 MB widen gate
  // ---------------------------------------------------------------

  test("tableWide widen gate trips on real on-disk bytes (and not on small tables)") {
    // document the real trip arithmetic with default confs
    val bytes = onDiskBytes(s"$mirrorDir/documents.parquet")
    val maxSplit = spark.conf
      .get("spark.sql.files.maxPartitionBytes", (128L << 20).toString)
      .toLong
    val cores = spark.sparkContext.defaultParallelism
    assert(bytes >= Sources.WidenMinBytes,
      s"fixture $bytes under the ${Sources.WidenMinBytes} widen floor")
    assert((bytes + maxSplit - 1) / maxSplit < cores,
      s"fixture splits not under $cores cores — widen gate would not fire")

    val widened = Sources.tableWide(spark, mirrorDir, "documents")
    val reparts = widened.queryExecution.logical.collect {
      case r: Repartition => r
    }
    assert(reparts.nonEmpty, "widen gate did not fire on the 373 MB table")
    assert(widened.rdd.getNumPartitions == cores,
      s"widened to ${widened.rdd.getNumPartitions}, expected $cores")

    // under the floor (sf0.001 documents is ~100 KB) the re-spread is a
    // net loss and must NOT fire
    val small = Sources.tableWide(spark, sf, "documents")
    val smallReparts = small.queryExecution.logical.collect {
      case r: Repartition => r
    }
    assert(smallReparts.isEmpty, "widen gate fired under the size floor")
  }

  // ---------------------------------------------------------------
  // Guard 3: posting-list df cutoff (Dedup.ngramJaccard maxDf)
  // ---------------------------------------------------------------

  test("hot boilerplate gram really exceeds the default df cutoff and the guard bounds the pair blowup") {
    graft.functions.NgramSet.register(spark)
    val docs = Sources.table(spark, hotDir, "documents")

    // the trip is real: boilerplate grams have df 1200 > default 1000
    val maxDf = docs
      .filter(size(split(col("text"), " ")) >= 3)
      .select(explode(expr("ngram_set(text, 3)")).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .agg(max(col("df"))).head().getLong(0)
    assert(maxDf > 1000,
      s"max gram df $maxDf does not cross the default 1000 cutoff")

    val guarded = Dedup.ngramJaccard(spark, hotDir, maxDf = 1000)
    val unguarded = Dedup.ngramJaccard(spark, hotDir, maxDf = 2000)

    // without the guard the two hot grams alone force ~C(1200,2) pair
    // rows; with it, pairs only come from discriminating tail grams
    val nGuarded = guarded.count()
    val nUnguarded = unguarded.count()
    assert(nUnguarded > 500000L,
      s"unguarded pair count $nUnguarded — hot grams not quadratic?")
    assert(nGuarded < 1000L,
      s"guarded pair count $nGuarded — cutoff did not bound the blowup")

    // the 50 planted near-dup pairs survive the guard (the dropped
    // grams carry no discriminating signal; recall on true pairs holds)
    val planted = guarded
      .filter(col("doc_b") === col("doc_a") + 600 && col("doc_a") < 50)
    assert(planted.count() == 50L, "planted near-dup pairs lost")
  }

  // ---------------------------------------------------------------
  // Guard 4: ANN/LSH bucket skew — autoBits sizing + the occupancy
  // histogram as the detection surface (round-9 directive 5)
  // ---------------------------------------------------------------

  test("planted ~30% embedding cluster: histogram exposes the hot bucket, " +
      "probe stays occupancy-bounded and exact under skew") {
    val hist = ext.Similarity.annIndexBuild(spark, clusterDir).collect()
    val n = hist.map(_.getLong(1)).sum
    assert(n == 2000L)
    val occ = hist.map(r => r.getInt(0) -> r.getLong(1)).toMap
    val hot = occ.values.max
    // the registered build output IS the skew guard surface: the
    // planted cluster must surface as a >= 25%-occupancy bucket, not
    // average away (a per-bucket mean would hide it; the histogram
    // cannot)
    assert(hot >= n / 4, s"hot bucket $hot of $n — cluster split?")
    // autoBits sizing still holds for the NON-planted mass: the skew
    // is confined to the hot bucket, the median bucket stays within
    // 4x the ~64 design target
    val nBits = ext.Similarity.autoBits(n)
    assert(occ.size <= (1 << nBits))
    val rest = occ.values.toSeq.sorted.dropRight(1)
    assert(rest(rest.length / 2) <= 256,
      s"non-hot median ${rest(rest.length / 2)} — skew leaked")

    // probe cost is OCCUPANCY-bounded, never corpus x queries: each
    // query scans exactly the occupancy sum of its 1+nbits+C(nbits,2)
    // probed buckets (replayed here from the histogram + signatures).
    // Even with 29% of the corpus in one bucket, the total stays under
    // the brute-force candidate count — and the probed-bucket fraction
    // (16/32 at 5 bits) SHRINKS as autoBits grows with the corpus
    // (79/4096 at the 12-bit end), while brute force stays at 100%.
    val planes = functions.LshSignature.planes(nBits, 64)
    def sig(v: Array[Float]): Int =
      planes.zipWithIndex.foldLeft(0) { case (s, (p, b)) =>
        val dot = p.indices.foldLeft(0.0)((a, i) => a + p(i) * v(i))
        if (dot >= 0) s | (1 << b) else s
      }
    val queries = io.Sources.table(spark, clusterDir, "embeddings")
      .filter(col("vec_id") % 50 === 0)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val probeMasks = (0 until (1 << nBits))
      .filter(m => Integer.bitCount(m) <= 2)
    val perQuery = queries.map { case (_, v) =>
      val s0 = sig(v)
      probeMasks.map(m => occ.getOrElse(s0 ^ m, 0L)).sum
    }
    val bruteRows = n * queries.length
    assert(perQuery.forall(_ <= n), "a probe exceeded a full scan")
    assert(perQuery.sum < bruteRows,
      s"probe scans ${perQuery.sum} vs brute $bruteRows under skew")

    // and the skewed index still ANSWERS: every query gets its exact
    // top-5 re-rank; in-cluster queries find fellow cluster members at
    // cos ~ 1 (rank-1 cos_sim >= 0.999)
    val probe = ext.Similarity.annIndexProbe(spark, clusterDir).collect()
    val byQ = probe.groupBy(_.getLong(0))
    assert(byQ.size == queries.length && byQ.values.forall(_.length == 5))
    val clusterQs = queries.map(_._1).filter(_ % 7 < 2)
    assert(clusterQs.nonEmpty)
    clusterQs.foreach { q =>
      val top1 = byQ(q).minBy(_.getInt(2))
      assert(top1.getDouble(3) >= 0.999,
        s"in-cluster query $q rank-1 cos ${top1.getDouble(3)}")
    }
  }

  // ---------------------------------------------------------------
  // Guard 5: Similarity.gatedProbeBroadcast 64 MB probe-side cap
  // (round-11 directive 3)
  // ---------------------------------------------------------------

  /** Fixture D: an UNBOUNDED-labeling-batch corpus — 500k 64-dim
    * embeddings (~128 MB uncompressed parquet; deterministic
    * sin-of-murmur3 values — hash(id, j) decorrelates the dims, so the
    * 12 hyperplane sign bits spread across the 4096 LSH buckets), big
    * enough that the optimizer's size-only estimates of BOTH gated
    * frames (the exploded (q_id, sig) probe pairs ~161 B/vec and the
    * query payload ~258 B/vec, measured at sf0.001) cross the default
    * 64 MB ProbeBroadcastMaxBytes cap on REAL data. Built once under
    * target/; its serving index (4096 signature partitions at
    * autoBits=12) builds once into the persistent tmpDir and stays
    * fresh via the manifest.
    */
  private lazy val bigEmbDir: String = ScalingBench.ensureDrillFixture(spark)

  test("unbounded labeling batch: probe-side estimates cross the default cap, " +
      "both broadcast hints drop, control arm keeps them") {
    // the fixture is genuinely past the cap's scale (estimates track
    // file bytes; the 128 MB corpus puts both gated frames over 64 MB)
    assert(onDiskBytes(s"$bigEmbDir/embeddings.parquet") >
      ext.Similarity.ProbeBroadcastMaxBytes,
      "fixture under the cap — estimates could not trip")
    // over-cap branch chosen by the DATA (no conf override): no
    // broadcast hint anywhere — the sig join degrades to a shuffle
    // bucket-join and AQE decides strategy from runtime sizes
    val unhinted = ext.Similarity.knnAnn(spark, bigEmbDir)
    val hints = unhinted.queryExecution.analyzed.collect {
      case h: ResolvedHint => h
    }
    assert(hints.isEmpty,
      s"expected no probe-side hints on the over-cap branch, got $hints")

    // control arm: cap raised -> both probe-side hints (pairs + payload)
    withConf(ext.Similarity.ProbeBroadcastMaxBytesKey,
      Long.MaxValue.toString) {
      val hinted = ext.Similarity.knnAnn(spark, bigEmbDir)
      val controlHints = hinted.queryExecution.analyzed.collect {
        case h: ResolvedHint => h
      }
      assert(controlHints.size == 2,
        s"control arm should carry 2 probe-side hints, got $controlHints")
    }
  }

  test("gated probe fallback: hinted and shuffle-join branches agree row-for-row") {
    // equality at executable scale (fixture C): force the fallback with
    // cap = 0 and pin it against the default hinted run
    val hinted = ext.Similarity.knnAnn(spark, clusterDir)
    val fallback = withConf(ext.Similarity.ProbeBroadcastMaxBytesKey, "0") {
      val df = ext.Similarity.knnAnn(spark, clusterDir)
      assert(df.queryExecution.analyzed.collect {
        case h: ResolvedHint => h }.isEmpty,
        "cap 0 must drop every probe-side hint")
      df.collect()
    }
    val a = hinted.collect().map(_.toString).sorted
    val b = fallback.map(_.toString).sorted
    assert(a.sameElements(b),
      "gated-broadcast branches disagree on knnAnn output")
  }

  test("guarded n-gram jaccard equals the brute-force control with the same cutoff") {
    graft.functions.NgramSet.register(spark)
    val docs = Sources.table(spark, hotDir, "documents")
    val guarded = Dedup.ngramJaccard(spark, hotDir, maxDf = 1000)

    // brute-force control: per-doc gram sets, hot grams (df > 1000)
    // removed from the INTERSECTION only (the op's documented
    // semantics: union sizes stay full-set), all-pairs array_intersect
    // within the source block
    val g = docs
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), col("source"),
        expr("ngram_set(text, 3)").as("grams"))
      .withColumn("n_grams", size(col("grams")))
    val hot = g
      .select(col("source"), explode(col("grams")).as("gram"))
      .groupBy(col("source"), col("gram"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > 1000)
      .groupBy(col("source"))
      .agg(collect_list(col("gram")).as("hot_grams"))
    val kept = g.join(hot, Seq("source"), "left")
      .withColumn("kept", when(col("hot_grams").isNull, col("grams"))
        .otherwise(array_except(col("grams"), col("hot_grams"))))
      .select(col("doc_id"), col("source"), col("n_grams"), col("kept"))
    val brute = kept.as("a")
      .join(kept.as("b"),
        col("a.source") === col("b.source") &&
          col("a.doc_id") < col("b.doc_id"))
      .withColumn("n_inter",
        size(array_intersect(col("a.kept"), col("b.kept"))))
      .filter(col("n_inter") >= 1)
      .withColumn("n_union",
        col("a.n_grams") + col("b.n_grams") - col("n_inter"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("n_inter").cast("int").as("n_inter"),
        col("n_union").cast("int").as("n_union"),
        (floor(col("n_inter").cast("double") / col("n_union") * 10000
          + lit(0.5)) / 10000).as("jaccard"))

    assert(guarded.except(brute).count() == 0 &&
      brute.except(guarded).count() == 0,
      "guarded posting-list result diverges from brute-force control")
  }

  // ---------------------------------------------------------------
  // Guard 6 (round-15): editDedup's within-block candidate cap — the
  // quadratic contract's red line. Fixture B's 1,200 same-(source,
  // lang) ~90-char docs land in ONE (web, en, lb=1) blocking cell,
  // past the DEFAULT EditDedupMaxBlockDocs = 1024, so the cap fires
  // on real data with no conf override.
  // ---------------------------------------------------------------

  test("edit-dedup block cap fires on a skewed cell: the over-cap cell is " +
      "rerouted linear and emits no wrong rows") {
    val docs = Sources.table(spark, hotDir, "documents")

    // the trip is real: the largest (source, lang, length-bucket) cell
    // exceeds the default cap
    val cells = docs
      .groupBy(col("source"), col("lang"),
        floor(length(col("text")) / 80).as("lb"))
      .agg(count(lit(1)).as("n"))
    val maxCell = cells.agg(max(col("n"))).head().getLong(0)
    assert(maxCell > Dedup.EditDedupMaxBlockDocs,
      s"max cell $maxCell does not cross the default " +
        s"${Dedup.EditDedupMaxBlockDocs} cap — fixture drifted")
    val hotPop = cells.filter(col("n") > Dedup.EditDedupMaxBlockDocs)
      .agg(sum(col("n"))).head().getLong(0)
    // the fixture straddles two length buckets (~1050 docs in the
    // over-cap lb cell, ~150 in a cold one) — so the linear bound is
    // asserted on BOTH-HOT pairs, the only pairs the reroute arm emits
    val hotDocs = docs
      .withColumn("lb", floor(length(col("text")) / 80))
      .join(broadcast(cells.filter(col("n") > Dedup.EditDedupMaxBlockDocs)
        .select(col("source"), col("lang"), col("lb"))),
        Seq("source", "lang", "lb"), "left_semi")
      .select(col("doc_id"))

    val capped = Dedup.editDedup(spark, hotDir)
    val control =
      Dedup.editDedupCapped(spark, hotDir, maxBlockDocs = Long.MaxValue)
    def bothHot(df: DataFrame): Long = df
      .join(hotDocs.withColumnRenamed("doc_id", "doc_a"),
        Seq("doc_a"), "left_semi")
      .join(hotDocs.withColumnRenamed("doc_id", "doc_b"),
        Seq("doc_b"), "left_semi")
      .count()

    // the reroute is LINEAR: each over-cap doc is verified against at
    // most 2 sort-order neighbors, so the capped over-cap-cell pair
    // count is bounded by 2x the over-cap population — while the
    // uncapped control pays the block-square (~C(1050,2) candidates
    // in the hot cell on this fixture)
    val nCappedHot = bothHot(capped)
    val nControlHot = bothHot(control)
    assert(nCappedHot <= 2L * hotPop,
      s"capped emitted $nCappedHot over-cap-cell pairs > the 2n = " +
        s"${2L * hotPop} sorted-neighborhood bound — the cap did not " +
        "reroute")
    assert(nControlHot > 100000L,
      s"uncapped control emitted only $nControlHot over-cap-cell " +
        "pairs — the fixture is no longer block-quadratic and proves " +
        "nothing")

    // no wrong rows: every capped pair is a true <=80 pair with the
    // same verified distance (reduced recall is the documented price;
    // wrong rows would be a defect)
    assert(capped.except(control).count() == 0,
      "capped result emitted pairs the full-quadratic control does not")

    // recall on the pairs that matter: the 50 planted near-dup pairs
    // differ only in their final token, sort adjacently, and survive
    val planted = capped
      .filter(col("doc_b") === col("doc_a") + 600 && col("doc_a") < 50)
    assert(planted.count() == 50L,
      "planted near-dup pairs lost by the rerouted arm")
  }

  test("edit-dedup reroute report names exactly the over-cap cells " +
      "(and is empty on a clean corpus)") {
    // round-15 verdict item 5: the cap rerouted SILENTLY — the report
    // is the output contract that tells a production user which cells
    // degraded to SNM recall. On the hot fixture it must name exactly
    // the cells the census finds over the cap, with their doc counts.
    val docs = Sources.table(spark, hotDir, "documents")
    val expect = docs
      .groupBy(col("source"), col("lang"),
        floor(length(col("text")) / 80).as("lb"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > Dedup.EditDedupMaxBlockDocs)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(expect.nonEmpty, "fixture no longer trips the cap")
    val report = Dedup.editDedupRerouteReport(spark, hotDir).collect()
    assert(report.map(r => (r.getString(0), r.getString(1), r.getLong(2),
      r.getLong(3))).toSet == expect,
      "report cells diverge from the census the dedup plan reroutes on")
    assert(report.forall(_.getBoolean(4)), "rerouted flag must be true")
    // clean corpora: empty report, so the registered query's oracle on
    // the sf dirs is the (trivially matching) empty frame and the
    // dedup's own semantics are untouched when the guard never fires
    assert(Dedup.editDedupRerouteReport(spark,
      "/root/testdata/sf0.001").count() == 0L,
      "reroute report fired on a clean corpus")
  }
}
