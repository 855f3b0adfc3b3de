package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec,
  ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec,
  BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Structural assertions on the INITIAL physical plans of the headline
  * queries — the properties that decide 100 TB behavior are checked,
  * not eyeballed: filters reach the scan, dims broadcast, windows share
  * one shuffle, cross joins broadcast instead of going cartesian.
  *
  * Division of labor with `ShuffleBudgetSpec`: this suite pins what
  * Catalyst STATICALLY guarantees — the pre-AQE plan, deterministic
  * and independent of runtime sizes, so a lost hint or a degraded join
  * strategy fails here even when AQE would rescue it at test scale.
  * The post-AQE EXECUTED plan (what actually ran, stages and reuse
  * included) is audited by ShuffleBudgetSpec's exchange budgets.
  */
class PlanAssertionsSpec extends SparkSuite {

  /** The query's planned physical tree. `executedPlan` on a
    * never-executed AdaptiveSparkPlanExec returns the INITIAL adaptive
    * plan — deliberately so, per the suite contract above. (Earlier
    * versions also ran the query through a noop sink first; that write
    * is a SEPARATE QueryExecution and never advances this one's AQE
    * state, so it was pure wasted execution and is gone.)
    */
  private def finalPlan(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  private def collectAll[T](p: SparkPlan)(pf: PartialFunction[SparkPlan, T]): Seq[T] = {
    val here = p.collect(pf)
    val nested = p.subqueries.flatMap(collectAll(_)(pf))
    here ++ nested
  }

  test("p1: predicates and projection are pushed into the parquet scan") {
    val df = ops.Relational.p1ProjectFilter(spark, sf)
    val scans = df.queryExecution.executedPlan.collectLeaves()
    val desc = scans.map(_.toString).mkString("\n")
    assert(desc.contains("PushedFilters: [IsNotNull(l_quantity)"),
      s"missing pushed filters in:\n$desc")
    assert(desc.contains("ReadSchema: struct<l_orderkey:bigint," +
      "l_linenumber:int,l_quantity:double,l_extendedprice:double>"),
      s"scan not pruned to 4 columns:\n$desc")
  }

  test("j2: both dims broadcast — zero shuffle before the aggregate") {
    val p = finalPlan(ops.Relational.j2Join3wayBroadcast(spark, sf))
    val bhj = collectAll(p) { case b: BroadcastHashJoinExec => b }
    assert(bhj.size == 2, s"expected 2 broadcast joins, got ${bhj.size}")
  }

  test("j3: aggregated side broadcasts; customer side never shuffles pre-join") {
    val p = finalPlan(ops.Relational.j3LeftJoinNullfill(spark, sf))
    val bhj = collectAll(p) { case b: BroadcastHashJoinExec => b }
    assert(bhj.nonEmpty, "left join should be broadcast after AQE")
  }

  test("e4 as-of join: ONE window aggregate, one user_id shuffle") {
    // the row-atomic struct-max pick folds what used to be two stacked
    // window functions (max ts + last value) into a single aggregate —
    // one WindowExec, and value can never come from a different row
    // than ts
    val df = ops.Eventing.e4AsofJoin(spark, sf)
    val p = finalPlan(df)
    val windows = collectAll(p) { case w: WindowExec => w }
    assert(windows.size == 1, s"expected 1 window, ${windows.size}")
    // shuffles: one for the keyed window + one for the final orderBy
    val shuffles = collectAll(p) { case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 2,
      s"window should need one exchange, found ${shuffles.size}")
  }

  test("stratified sample: rank filter pushes a WindowGroupLimit below the shuffle") {
    val p = finalPlan(ext.TextAnalysis.stratifiedSample(spark, sf))
    // Spark rewrites row_number()+filter(rk<=N) into WindowGroupLimit
    // nodes; the Partial one runs map-side BEFORE the stratum shuffle, so
    // a billion-doc stratum ships only N rows per task. If this node
    // disappears, the op degrades to shuffling whole strata.
    val limits = collectAll(p) {
      case w if w.getClass.getSimpleName == "WindowGroupLimitExec" => w
    }
    assert(limits.size >= 2,
      s"expected partial+final WindowGroupLimit, got ${limits.size} in:\n$p")
  }

  test("corr matrix: all pairs fold into ONE aggregate pass over one scan") {
    val df = quality.Correlation.corrMatrixQ(spark, sf)
    val p = finalPlan(df)
    val scans = p.collectLeaves()
    assert(scans.size == 1, s"expected a single scan, got ${scans.size}")
    // one shuffle to merge the partial aggregates, one for the orderBy —
    // a per-pair-job formulation would show a scan+shuffle per pair
    val shuffles = collectAll(p) { case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 2,
      s"corr matrix must be one fused aggregate, found ${shuffles.size} shuffles")
  }

  test("contamination: benchmark gram set broadcasts; corpus side map-only semi-join") {
    val p = finalPlan(ext.Dedup.contamination(spark, sf))
    val bhj = collectAll(p) { case b: BroadcastHashJoinExec => b }
    assert(bhj.nonEmpty, "benchmark grams must broadcast to the corpus side")
  }

  test("cosine top-k: broadcast nested-loop, never an unbroadcast cartesian") {
    val p = finalPlan(ext.Similarity.cosineTopK(spark, sf))
    val cart = collectAll(p) { case c: CartesianProductExec => c }
    val bnl = collectAll(p) { case b: BroadcastNestedLoopJoinExec => b }
    assert(cart.isEmpty, "query-set join must broadcast, not cartesian")
    assert(bnl.nonEmpty || collectAll(p) {
      case b: BroadcastHashJoinExec => b }.nonEmpty)
  }

  test("ann lsh: probe set broadcasts on the signature key, no cartesian") {
    val p = finalPlan(ext.Similarity.annLsh(spark, sf))
    assert(collectAll(p) { case c: CartesianProductExec => c }.isEmpty,
      "bucket join must never go cartesian")
    assert(collectAll(p) { case b: BroadcastHashJoinExec => b }.nonEmpty,
      "multi-probe query side must broadcast-hash-join on sig")
  }

  test("tfidf: vocabulary df join carries NO broadcast hint — only the 1-row N scalar") {
    val df = ext.TextAnalysis.tfidf(spark, sf)
    // the 100 TB failure mode is a HINTED broadcast of the unbounded
    // vocabulary table (forced regardless of size); Catalyst/AQE
    // choosing broadcast from runtime stats at test scale is fine. So
    // assert on the analyzed plan's hints, not the physical join pick.
    val hints = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.size == 1,
      s"expected exactly the scalar-N broadcast hint, got ${hints.size}")
    assert(hints.head.child.schema.fieldNames.sameElements(Array("n_docs")),
      "the only broadcast hint must be the 1-row doc-count scalar, " +
        s"not ${hints.head.child.schema.fieldNames.mkString(",")}")
  }

  test("edit dedup: the length bucket is part of the equi-join KEY") {
    val p = finalPlan(ext.Dedup.editDedup(spark, sf))
    val joins = collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }
    // (source, lang, lb) — a 2-key join would mean the length bound
    // degraded back to a post-join filter (block-quadratic at scale)
    assert(joins.exists(_.leftKeys.size >= 3),
      s"join keys must include the length bucket:\n$p")
  }

  test("size-gated tableWide: small-table text scan feeds the projection " +
      "with no re-spread exchange (only the final sort shuffles)") {
    val p = finalPlan(ext.TextAnalysis.tokenStats(spark, sf))
    val shuffles = collectAll(p) { case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 1,
      s"expected at most the ORDER BY exchange, got ${shuffles.size}:\n$p")
  }

  test("substring dedup: exchanges carry fingerprints, never the text") {
    val p = finalPlan(ext.Dedup.substringDedup(spark, sf))
    val shuffles = collectAll(p) { case s: ShuffleExchangeExec => s }
    assert(shuffles.nonEmpty)
    // the corpus body must stay in the scan stage: no shuffle's input
    // schema may include a string column as wide as a document (the
    // widest exchanged strings are md5 hex / window fingerprints)
    shuffles.foreach { s =>
      val hasText = s.child.output.exists(_.name == "text")
      assert(!hasText, s"a shuffle carries the document text:\n$p")
    }
    // the hot-fingerprint skew guard is a broadcast anti-join
    assert(collectAll(p) { case b: BroadcastHashJoinExec => b }
      .exists(_.joinType.sql == "LEFT ANTI"),
      s"df-cutoff guard must broadcast:\n$p")
  }

  test("exact dedup: the group-by exchange carries (md5, length), not text") {
    val p = finalPlan(ext.Dedup.exactDedup(spark, sf))
    val shuffles = collectAll(p) { case s: ShuffleExchangeExec => s }
    shuffles.foreach { s =>
      assert(!s.child.output.exists(_.name == "text"),
        s"the exchange must carry the hash key, not the corpus body:\n$p")
    }
  }

  test("lang id: map-only scoring — only the ORDER BY shuffles") {
    val p = finalPlan(ext.TextAnalysis.langId(spark, sf))
    val shuffles = collectAll(p) { case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 1,
      s"trigram scoring must stay map-only, got ${shuffles.size} shuffles:\n$p")
  }

  test("domain cap: WindowGroupLimit truncates each source map-side") {
    val p = finalPlan(ext.Curation.domainCap(spark, sf))
    // without this node a skewed mega-domain ships ALL its docs through
    // the source-keyed exchange; with it, at most cap rows per map task
    val limits = collectAll(p) {
      case w if w.getClass.getSimpleName == "WindowGroupLimitExec" => w
    }
    assert(limits.size >= 2,
      s"expected partial+final WindowGroupLimit, got ${limits.size} in:\n$p")
  }

  test("bigram LM score: every exchange carries hashed keys, never token strings") {
    val p = finalPlan(ext.TextAnalysis.bigramLmScore(spark, sf))
    // pair generation is map-only zip_with and the hash projection sits
    // directly above it — if a shuffle sees w1/pr/words the corpus text
    // is riding the exchanges at 100 TB
    val shuffles = collectAll(p) { case s: ShuffleExchangeExec => s }
    assert(shuffles.nonEmpty)
    shuffles.foreach { s =>
      assert(!s.child.output.exists(a =>
        Seq("text", "words", "w1", "pr", "s").contains(a.name)),
        s"a shuffle carries token strings:\n$p")
    }
  }

  test("bigram LM score: the pair counts are the build side, run after run") {
    // x_quality_model reaches the occurrence ⋈ pair-count join through
    // its cached signals frame, which the fit's scoring executes: walk
    // the executed plan, into cached and adaptive sub-plans, to that
    // join. Each run owns (and rebuilds) its signals in its own scope.
    def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
      case _ => p.children.flatMap(walk)
    })
    val pairSides = (1 to 3).map { _ =>
      Overlap(spark) { _ =>
        val df = SparkEntry.queries("x_quality_model")(spark, sf)
        // the join on the pair hash `ph`: true when it broadcasts the
        // pair-count side
        def onPair(j: BaseJoinExec) =
          (j.leftKeys ++ j.rightKeys).flatMap(_.references)
            .exists(_.name == "ph")
        walk(df.queryExecution.executedPlan).collect {
          case j: BroadcastHashJoinExec if onPair(j) =>
            val build = if (j.buildSide == BuildRight) j.right else j.left
            build.output.exists(_.name == "n_pair")
          case j: BaseJoinExec if onPair(j) => false
        }
      }
    }
    assert(pairSides.forall(sides => sides.nonEmpty && sides.forall(identity)),
      s"pair-count side broadcast per run: $pairSides")
  }

  test("mixture plan: plan table broadcasts, no document text in exchanges") {
    val p = finalPlan(ext.Curation.mixturePlan(spark, sf))
    // the per-language plan table (rows = #langs) must reach the doc
    // frame as a broadcast; text reduces to (n_tokens, h20) in the scan
    // projection so no exchange may carry it
    val bhj = collectAll(p) { case b: BroadcastHashJoinExec => b }
    assert(bhj.nonEmpty, s"plan table should broadcast-join:\n$p")
    val shuffles = collectAll(p) { case s: ShuffleExchangeExec => s }
    shuffles.foreach { s =>
      assert(!s.child.output.exists(_.name == "text"),
        s"a shuffle carries document text:\n$p")
    }
  }

  test("boilerplate removal: removed-set broadcasts back, text never shuffles") {
    val p = finalPlan(ext.Curation.boilerplateRemoval(spark, sf))
    // reconstruction must happen map-side over the scan's words array;
    // the removed-position lists are the broadcast side
    val bhj = collectAll(p) { case b: BroadcastHashJoinExec => b }
    assert(bhj.nonEmpty, s"removed-set should broadcast-join:\n$p")
    val shuffles = collectAll(p) { case s: ShuffleExchangeExec => s }
    shuffles.foreach { s =>
      assert(!s.child.output.exists(a =>
        a.name == "text" || a.name == "words" || a.name == "seg"),
        s"a shuffle carries document text/segments:\n$p")
    }
  }

  test("shard pack: range offsets broadcast, doc frame never globally windowed") {
    val p = finalPlan(ext.Curation.shardPack(spark, sf))
    val bhj = collectAll(p) { case b: BroadcastHashJoinExec => b }
    assert(bhj.nonEmpty, s"offset table should broadcast-join:\n$p")
    // every window over the doc-sized frame must be partitioned by the
    // range bucket — a global (unpartitioned) window over docs is the
    // single-partition prefix sum this op exists to avoid. The only
    // unpartitioned window allowed is the one on the 32-row offsets.
    val wins = collectAll(p) { case w: WindowExec => w }
    val unpart = wins.filter(_.partitionSpec.isEmpty)
    assert(unpart.size <= 1, s"more than one global window:\n$p")
    unpart.foreach { w =>
      assert(w.child.output.exists(_.name == "bt"),
        s"global window must sit on the 32-row offsets frame only:\n$p")
    }
    val shuffles = collectAll(p) { case s: ShuffleExchangeExec => s }
    shuffles.foreach { s =>
      assert(!s.child.output.exists(_.name == "text"),
        s"a shuffle carries document text:\n$p")
    }
  }

  test("bm25: query filter precedes every shuffle, raw text never exchanges") {
    val p = finalPlan(ext.TextAnalysis.bm25TopK(spark, sf))
    // the (doc_id, word) tf frame may shuffle its query-bounded words,
    // but the raw token array / text must be reduced before any exchange
    val shuffles = collectAll(p) { case s: ShuffleExchangeExec => s }
    assert(shuffles.nonEmpty)
    shuffles.foreach { s =>
      assert(!s.child.output.exists(a =>
        a.name == "text" || a.name == "words"),
        s"a shuffle carries the raw corpus:\n$p")
    }
    // global top-10 must be a limit (TakeOrderedAndProject), not a sort
    val takes = collectAll(p) {
      case t if t.getClass.getSimpleName.startsWith("TakeOrderedAndProject") => t
    }
    assert(takes.nonEmpty, s"top-k should be TakeOrderedAndProject:\n$p")
  }

  test("incremental dedup: skew guard broadcasts, document text never shuffles") {
    val p = finalPlan(ext.Dedup.incrementalDedup(spark, sf))
    val bhj = collectAll(p) { case b: BroadcastHashJoinExec => b }
    assert(bhj.nonEmpty, s"hot-gram anti-join should broadcast:\n$p")
    val shuffles = collectAll(p) { case s: ShuffleExchangeExec => s }
    shuffles.foreach { s =>
      assert(!s.child.output.exists(a =>
        a.name == "text" || a.name == "grams"),
        s"a shuffle carries document text / gram arrays:\n$p")
    }
  }

  test("quality gate: signal arithmetic stays map-side, no arrays shuffle") {
    val p = finalPlan(ext.Curation.qualityGate(spark, sf))
    // the three list signals fuse into the scan projection; only the
    // doc-keyed fluency join and the bigram model tables may shuffle
    val shuffles = collectAll(p) { case s: ShuffleExchangeExec => s }
    shuffles.foreach { s =>
      assert(!s.child.output.exists(a =>
        Seq("text", "words", "grams").contains(a.name)),
        s"a shuffle carries token arrays:\n$p")
    }
  }

  test("removal broadcast gate: hint under the cap, shuffle anti-join above") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"))
    val removals = docs.filter(col("doc_id") % 7 === 0)
    // branch A (default 64 MB cap): the removal set broadcasts
    val under = docs.join(ext.Curation.gatedBroadcast(spark, removals),
      Seq("doc_id"), "left_anti")
    val pA = finalPlan(under)
    assert(collectAll(pA) { case b: BroadcastHashJoinExec => b }.nonEmpty,
      s"under-cap removal set should carry the broadcast hint:\n$pA")
    // branch B (cap 0 = every estimate is over it): the hint must be
    // absent. AQE may STILL convert at runtime from real sizes — that
    // is the designed fallback — so disable the auto threshold too and
    // assert the join is genuinely un-hinted (no broadcast anywhere).
    val autoKey = "spark.sql.autoBroadcastJoinThreshold"
    val prevAuto = spark.conf.get(autoKey)
    spark.conf.set(ext.Curation.RemovalBroadcastMaxBytesKey, "0")
    spark.conf.set(autoKey, "-1")
    try {
      val over = docs.join(ext.Curation.gatedBroadcast(spark, removals),
        Seq("doc_id"), "left_anti")
      val pB = finalPlan(over)
      assert(collectAll(pB) { case b: BroadcastHashJoinExec => b }.isEmpty,
        s"over-cap removal set must not be broadcast-hinted:\n$pB")
      assert(collectAll(pB) { case s: ShuffleExchangeExec => s }.nonEmpty,
        s"over-cap branch should fall back to a shuffle join:\n$pB")
    } finally {
      spark.conf.unset(ext.Curation.RemovalBroadcastMaxBytesKey)
      spark.conf.set(autoKey, prevAuto)
    }
  }

  test("registry sweep: no batch query plans an unbroadcast cartesian") {
    // blanket scale-killer guard over the WHOLE catalog: an equi-join
    // that silently loses its equality conjunct (refactor, column
    // rename) degenerates to CartesianProductExec — O(n*m) at scale.
    // Planning every query at sf0.001 catches that class of regression
    // before any benchmark does. Streaming queries are skipped (their
    // construction runs full micro-batch lifecycles; their batch twins
    // are all swept), as is the JDBC round-trip (Derby boot per call).
    val skip = streaming.EventStream.qs.map(_.name).toSet +
      "s6_jdbc_roundtrip"
    SparkEntry.registry.filterNot(q => skip(q.name)).foreach { q =>
      val p = q.fn(spark, sf).queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
      val cart = collectAll(p) { case c: CartesianProductExec => c }
      assert(cart.isEmpty,
        s"${q.name} plans an unbroadcast CartesianProduct:\n$p")
      Memos.clearDerived()
    }
  }

  test("AQE splits a skewed sort-merge join at runtime (skew=true)") {
    // the engine's OTHER skew answer next to scale1's manual salting:
    // prove the session's AQE config actually splits a hot partition
    // when the skew materializes at runtime (what the scaladocs lean on
    // for keys too hot to pre-salt)
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "32KB")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "128KB")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "1.0")
      import org.apache.spark.sql.functions.{col, when}
      val left = spark.range(0, 200000).select(
        when(col("id") % 2 === 0, 7L).otherwise(col("id")).as("k"),
        col("id").as("v"))
      val right = spark.range(0, 2000).select(col("id").as("k"),
        (col("id") * 2).as("w"))
      val joined = left.join(right, "k")
      // execute through THIS Dataset's own QueryExecution: the noop-write
      // path plans a separate execution, leaving this one's adaptive
      // plan in its initial (pre-runtime-stats, no skew info) state
      joined.collect()
      val p = joined.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
      // the final plan nests the join below QueryStage leaves, which
      // TreeNode traversal does not descend into — assert on the
      // rendered plan (the skew markers are part of the node format)
      val rendered = p.toString
      assert(rendered.contains("SortMergeJoin(skew=true)"),
        s"AQE did not mark/split the skewed join:\n$rendered")
      assert(rendered.contains("AQEShuffleRead coalesced and skewed"),
        s"skewed partition not split by the shuffle read:\n$rendered")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("shuffle-hash hint: the join hashes instead of sort-merging") {
    val p = finalPlan(ops.Scale.shuffleHashJoinQ(spark, sf))
    val shj = collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    val smj = collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(shj.nonEmpty && smj.isEmpty,
      s"SHUFFLE_HASH hint did not steer the join strategy:\n$p")
  }

  test("range join: grid decomposition plans an equi-join, never a nested loop") {
    val p = finalPlan(ops.Intervals.rangeJoin(spark, sf))
    // the whole point of the cell explode: the interval-overlap join
    // must reach Catalyst WITH an equality conjunct (the cell), so the
    // physical plan is an ordinary hash/sort-merge join — never the
    // O(n*m) nested-loop a raw inequality join degenerates to
    assert(collectAll(p) { case b: BroadcastNestedLoopJoinExec => b }.isEmpty
      && collectAll(p) { case c: CartesianProductExec => c }.isEmpty,
      s"range join fell back to a nested loop / cartesian:\n$p")
  }

  test("bloom contamination probe: bit-set broadcasts, no gram strings shuffle") {
    val p = finalPlan(ext.Dedup.bloomContaminationProbe(spark, sf))
    // the filter (set-bit positions) must reach the corpus as a
    // broadcast — a shuffled membership join would re-shuffle the
    // probe rows on pos and defeat the map-only design
    val bhj = collectAll(p) { case b: BroadcastHashJoinExec => b }
    assert(bhj.nonEmpty, s"bit-set must broadcast to the probe side:\n$p")
    // exchanges carry only narrow numeric keys: the gram text is hashed
    // before the first aggregation, the document text never leaves scan
    val shuffles = collectAll(p) { case s: ShuffleExchangeExec => s }
    shuffles.foreach { s =>
      assert(!s.child.output.exists(a =>
        a.name == "text" || a.name == "gram"),
        s"a shuffle carries gram/document strings:\n$p")
    }
  }

  test("knn classify: queries broadcast; candidates reduced by the bounded aggregate, not a window") {
    val df = ext.Similarity.knnClassify(spark, sf)
    val p = finalPlan(df)
    // the <> self-pair condition is non-equi, so the broadcast shows up
    // as a BroadcastNestedLoopJoin with the query batch as build side —
    // the corpus side streams map-only (same shape as cosineTopK)
    val bnl = collectAll(p) { case b: BroadcastNestedLoopJoinExec => b }
    assert(bnl.nonEmpty, s"query batch must broadcast:\n$p")
    // the |q| x |corpus| scored candidate set is cut to k per (query,
    // partition) by partial_topk_structs BEFORE any exchange; the only
    // window is the |q|-row vote
    assert(p.toString.contains("partial_topk_structs"),
      s"candidate top-k not partial-aggregated map-side:\n$p")
    val wins = collectAll(p) { case w: WindowExec => w }
    assert(wins.size == 1, s"expected only the tiny vote window:\n$p")
  }

  test("knn ann: probe set broadcast-hash-joins the index on sig; bounded aggregate, one vote window") {
    val df = ext.Similarity.knnAnn(spark, sf)
    val p = finalPlan(df)
    // unlike knnClassify's non-equi BNL, the index probe is an EQUI
    // join on the signature — the probe set (queries x Hamming<=4
    // masks) broadcasts and hash-joins the index scan, so at scale the
    // scan touches only probed signature partitions
    val bhj = collectAll(p) { case b: BroadcastHashJoinExec => b }
    assert(bhj.exists(_.leftKeys.nonEmpty),
      s"probe set must broadcast-hash-join the index on sig:\n$p")
    assert(collectAll(p) { case b: BroadcastNestedLoopJoinExec => b }.isEmpty,
      s"knn-ann must never fall back to the all-pairs BNL shape:\n$p")
    // candidates cut to k per (query, partition) map-side, and the
    // only window is the |q|-row vote — same bounded shape as the twin
    assert(p.toString.contains("partial_topk_structs"),
      s"candidate top-k not partial-aggregated map-side:\n$p")
    val wins = collectAll(p) { case w: WindowExec => w }
    assert(wins.size == 1, s"expected only the tiny vote window:\n$p")
  }

  test("event anomaly: stats broadcast back; sort-free bounded top-k, no window stage") {
    val p = finalPlan(ext.Governance.eventAnomaly(spark, sf))
    val bhj = collectAll(p) { case b: BroadcastHashJoinExec => b }
    assert(bhj.nonEmpty, s"per-type stats must broadcast:\n$p")
    assert(p.toString.contains("partial_topk_structs"),
      s"per-type top-5 not partial-aggregated map-side:\n$p")
    val wins = collectAll(p) { case w: WindowExec => w }
    assert(wins.isEmpty,
      s"a window stage would locally sort every event of the hot type:\n$p")
  }
}
