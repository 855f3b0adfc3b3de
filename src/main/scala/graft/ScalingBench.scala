package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.core.{JsonFactory, JsonToken}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
import org.apache.spark.sql.functions._

import graft.Bench.{jarr, jobj, jstr, median, r3}

/** Scaling-curve benchmark (round-12 directive 3): the 100x claims for
  * the headline families were plan-ASSERTED (ShuffleBudgetSpec,
  * BucketingSpec) but never TIMED across scale — this main measures the
  * curve the claims predict. It times the pinned family queries at
  * sf0.001 / sf0.01 / sf0.1 in ONE process (same session conf as
  * [[Bench]]) and records each query's sf0.01 -> sf0.1 wall ratio —
  * 10x the data, so a family claimed ~linear must stay under
  * [[RatioCeiling]] (15x: 10x data plus headroom for fixed per-query
  * costs — plan/codegen, job launch, small-file constants — which do
  * NOT scale with the data and dominate sub-second draws at the small
  * end; a ratio past the ceiling at 10x data means superlinear work:
  * a pair blow-up, a lost pushdown, a bucket join gone all-pairs).
  *
  * Protocol per sf: warm the raw-table tier, one untimed pass of the
  * pinned set (classloading, codegen, the serving-index build), then
  * [[Runs]] interleaved timed passes ([[Bench.schedule]] — consecutive
  * samples of one query are separated by a full pass, so the median
  * spans contention windows; the round-9 lesson). Medians per sf, ratio
  * of medians, everything written to SCALING.json — committed, and
  * red-lined by `ScalingContractSpec` so superlinear drift in a pinned
  * family is a failing test, not a prose claim.
  *
  * The artifact's second section times the GATED-FALLBACK branch
  * (round-12 directive 4): `GuardFireDrillSpec` guard 5 proves the
  * probe-side broadcast gate's shuffle bucket-join fallback is
  * result-identical on the 500k-vector fixture, but the branch an
  * unbounded labeling batch actually RUNS had no recorded cost. Here
  * both arms run on that fixture — fallback = default cap (the data
  * itself trips the gate: ~128 MB corpus vs the 64 MB cap), hinted =
  * cap raised — with per-run seconds and stage counts, so
  * `bench_history/BENCH.md` can state the price of the guard's degraded
  * mode next to its happy path.
  */
object ScalingBench {

  /** The families whose 100 TB posture claims ~linear scaling —
    * dedup posting joins (guards bound the pair expansion), the ANN
    * serving lifecycle (bucketed probes, partition-pruned scans),
    * curation (one survivor-set pass + broadcast fan-out), with
    * `q1_agg` as the scan-aggregate control every engine must keep
    * linear. Order matters within a pass: the index BUILD precedes the
    * probes that read its artifact.
    */
  val PinnedQueries: Seq[String] = Seq(
    "q1_agg",
    "x_exact_dedup", "x_fingerprint_dedup", "x_ngram_jaccard",
    "x_minhash_banded", "x_substring_dedup", "x_incremental_dedup",
    "x_ann_index_build", "x_ann_index_probe", "x_knn_ann",
    "x_curation_pipeline", "x_quality_gate",
    // round 13: the remaining families with a genuine superlinear
    // failure mode — the interval grid-cell equi-join (a lost grid
    // pushdown degenerates toward cross-product), the unrolled
    // iterative edge exchange (per-round cost must track |edges|),
    // and the BM25 posting join (df-cutoff guard bounds the posting
    // blow-up). x_cosine_topk is deliberately NOT pinned: the brute
    // pair set is quadratic BY CONTRACT (the documented baseline);
    // its scale path is the pinned ANN family above.
    "e8_range_join", "x_pagerank", "x_bm25_topk",
    // round-13 post-review widening: every remaining batch family
    // whose scale posture has a named superlinear failure mode now
    // carries a measured ratio — connected components (iterative
    // pair join; a lost projection re-explodes the edge list), the
    // threshold sweep (PAIR-table fan-out must stay decoupled from
    // corpus size), bloom contamination (build + probe must stay one
    // pass each), sorted-neighborhood windows (candidates bounded by
    // window size, never corpus^2), simhash banded pairs (hamming
    // posting join), tf-idf (term shuffle join; the vocabulary must
    // never broadcast-OOM), the funnel (event-sequence window), and
    // cosine near-dup (the blocked/bucketed embedding pair join).
    // x_edit_dedup is deliberately NOT pinned, same contract as
    // x_cosine_topk: its (source, lang, length-bucket) blocks grow
    // linearly with the corpus, so candidate pairs within a block are
    // quadratic BY CONTRACT (measured 13.6x at 10x data — real
    // candidate growth, not a lost pushdown; the bounded_lev verify
    // stays linear per pair). Its corpus-scale paths are the pinned
    // x_sorted_neighborhood window and the minhash family.
    "x_dup_groups", "x_dedup_threshold_sweep", "x_bloom_contamination",
    "x_sorted_neighborhood", "x_simhash_pairs",
    "x_tfidf", "e10_funnel", "x_cosine_neardup",
    // round 14: extend the red line to the streaming module (it had
    // no pinned family) — incremental dedup is the one whose 100 TB
    // posture is the sharpest claim (zero stream state; per-batch
    // work = delta x base posting join, never corpus^2), and
    // late-data handling is the one whose superlinear failure mode is
    // STATE growth (the watermark must bound retained window state to
    // the lateness horizon; a lost watermark retains every window and
    // the per-batch cost tracks the full history instead of the
    // horizon). The per-sf untimed warm pass absorbs the first-batch
    // sink-bootstrap stage the bench's run_stages shows ([8,7,7]),
    // keeping the flat-stage contract.
    "s14_stream_incremental_dedup", "s18_stream_late_data",
    // round 15: the two composed pipeline mains — the most expensive
    // bench entries and the jobs a user actually SCHEDULES (profiling
    // -> clean -> features+cluster sinks; the curation main's dedup
    // stack + split + shard-pack + manifest writes). They had stage
    // budgets (PipelineStageBudgetSpec) but no committed tri-sf ratio;
    // a composed main is exactly where a single stage's superlinear
    // drift hides behind the others' wall. Their run() includes the
    // real sinks (parquet/JDBC/manifest), same as the bench times them.
    "pipe1_end_to_end", "pipe2_curate_main")

  /** Max allowed sf0.01 -> sf0.1 median-seconds ratio (10x data). */
  val RatioCeiling = 15.0

  /** The five families whose tri-sf sf0.01 -> sf0.1 ratio landed at
    * >= 2.45x/decade (round-14 verdict item 2): two small-data decades
    * can't separate "fixed costs amortizing toward linear" from
    * "superlinear work compounding" — 2.96x/decade UNCHECKED
    * extrapolates to ~750x at 100 TB. This set gets a FOURTH, 10x-
    * bigger sweep point on a synthetic fixture ([[ensureDecadeFixture]])
    * and its own red line: the x10 ratio must stay under
    * [[RatioCeiling]] (linear 10x + fixed-cost headroom). If the
    * per-decade ratio were compounding (quadratic work), this point
    * would land near the prior ratio SQUARED x10 — far past the
    * ceiling — so the red line distinguishes the two hypotheses.
    */
  val Decade4Queries: Seq[String] = Seq(
    "x_ngram_jaccard", "x_quality_gate", "x_dedup_threshold_sweep",
    "x_incremental_dedup", "x_pagerank",
    // round-15 widening: the two composed mains — tri-sf-pinned this
    // round, but they are the jobs a user actually schedules, and a
    // composed main is exactly where one stage's superlinear drift
    // hides behind the others' wall. The v2 fixture carries the full
    // schemas they consume (orders with status/priority/price/date,
    // lineitem with l_shipdate, customer, events) at the same
    // constant-per-key-depth design: 10 orders/customer, ~67
    // events/user, 4 lineitems/order — the sf0.1 values.
    "pipe1_end_to_end", "pipe2_curate_main")

  /** The two steepest per-decade trajectories after the 4th point
    * (x_dedup_threshold_sweep ~3.0x/decade, x_pagerank ~2.9x/decade
    * in the committed decade4 draw) get a FIFTH, 100x-sf0.1 point —
    * a 3-point same-process series (sf0.1, 10x, 100x) across THREE
    * measured decades of data, the direct instrument for "is the
    * per-decade ratio constant-or-flattening (wall ~ N^0.5, fine) or
    * compounding (quadratic, ~100x/decade)". Only these two: every
    * other decade4 family sits at <= 2.43x (pipe1's composed sinks —
    * including the embedded-Derby stand-in a real deployment replaces —
    * are the next steepest and are not a plan-scaling question), and
    * the 100x fixture's cost should buy evidence where the trajectory
    * is actually in question.
    */
  val Decade5Queries: Seq[String] = Seq(
    "x_dedup_threshold_sweep", "x_pagerank",
    // round 16 (verdict item 3): the two composed pipeline mains join
    // the 100x point — they are the jobs a user actually SCHEDULES,
    // their tri-sf + decade4 pins stop at 10x, and a composed main is
    // exactly where one stage's superlinear drift hides behind the
    // others' wall. They need the full table set, so the 100x fixture
    // is the full-schema decade5-v2 (same parameterized construction
    // as decade4-v2 — round-15 ADVICE 4 factored the generators).
    "pipe1_end_to_end", "pipe2_curate_main",
    // round 17 (verdict item 4): the fused ~80-actions-to-one-agg
    // profiler rewrite (SURVEY §4.3.1, the single biggest plan-shape
    // claim vs the reference's per-column job loops,
    // pre_analysis.py:75-159) gets its own 100x point — its scaling
    // evidence previously stopped at tri-sf, hiding inside pipe1's
    // composed wall. prof1 carries the expensive shape (per-column
    // countDistinct expansion over the orders scan); prof2_integrity
    // is the SAME fused one-agg pattern over the same scan minus the
    // distinct columns, so prof1's curve upper-bounds it (documented
    // here rather than paying 15 more 100x samples for a strictly
    // cheaper plan).
    "prof1_completeness")

  val Runs = 3

  /** Samples per decade5 point (round-15 verdict item 4): the committed
    * 100x runs were wide (`x_pagerank` [86.9, 71.3, 144.7]), so the
    * per-decade ratios carried ~2x run noise — at 5 samples the median
    * survives two contended draws.
    */
  val Decade5Runs = 5

  /** The artifact's top-level sections, in artifact order: the tri-sf
    * sweep, the two decade sweeps and the two drills. `main` draws the
    * sections it is given and carries the rest from SCALING.json.
    */
  val Sections: Seq[String] =
    Seq("queries", "decade4", "decade5", "fallback_drill", "rewrite_drill")

  /** One timed sample: wall seconds and the Spark stages it ran. */
  type Sample = (Double, Long)

  /** A sweep section's data: its queries, its `(label, dir)` points
    * (dirs resolved against the session, so a fixture builds on first
    * use), the raw tables each point warms, samples per point, the
    * `(key, over, under)` median ratios recorded per query, and its
    * `(fixture, growth_axis)` header — `None` for the tri-sf sweep,
    * whose header fields sit at the artifact root.
    */
  private[graft] final case class Sweep(
      queries: Seq[String],
      points: Seq[(String, SparkSession => String)],
      warm: Seq[String],
      runs: Int,
      ratios: Seq[(String, String, String)],
      about: Option[(String, String)])

  private def sfDir(sf: String): SparkSession => String =
    _ => s"/root/testdata/sf$sf"

  /** The full table set: the composed mains consume all five (profiling
    * rules, the cleaning window, feature joins, both sinks), so every
    * decade point warms them.
    */
  private val DecadeTables =
    Seq("documents", "orders", "lineitem", "customer", "events")

  /** The tri-sf sweep: [[PinnedQueries]] at sf0.001 / sf0.01 / sf0.1. */
  private[graft] val TriSf = Sweep(PinnedQueries,
    Seq("0.001", "0.01", "0.1").map(sf => sf -> sfDir(sf)),
    io.Sources.tableNames, Runs,
    Seq(("ratio_001_to_01", "0.01", "0.001"),
      ("ratio_01_to_1", "0.1", "0.01")),
    None)

  /** The 4th sweep point for [[Decade4Queries]]: times each family at
    * sf0.1 AND at the 10x [[ensureDecadeFixture]] in the SAME process
    * (fresh same-session sf0.1 medians, so the ratio compares draws
    * from one contention regime, not this run against a committed
    * number). The x10/sf0.1 median ratio is the committed verdict on
    * whether the >=2.45x/decade families flatten toward linear
    * (ratio ~ 10 with fixed costs amortized) or compound
    * (quadratic work lands near prior-ratio^2 x 10, past the
    * [[RatioCeiling]] red line in `ScalingContractSpec`).
    */
  private[graft] val Decade4 = Sweep(Decade4Queries,
    Seq("sf0.1" -> sfDir("0.1"), "x10" -> ensureDecadeFixture),
    DecadeTables, Runs, Seq(("ratio_1_to_10x", "x10", "sf0.1")),
    Some(("target/guard-fixture/decade4-v2 (50k docs: 10 disjoint " +
      "dialect vocabularies x 20 sources x 250 docs, sf0.1-shaped per " +
      "dialect; 1.5M orders / 6M lineitem / 150k customers / 1M events, " +
      "full schemas, constant per-key depth)",
      "breadth — per-key posting df and vertex degree held at sf0.1 " +
      "levels while volume grows 10x; the depth axis is the operators' " +
      "contractual quadratic term, guarded by maxDf / the edit-dedup " +
      "block cap")))

  /** The 5th sweep point: [[Decade5Queries]] timed at sf0.1, the 10x
    * decade4 fixture AND a 100x fixture in ONE process — three decades
    * of data in one contention regime, so the two per-decade ratios
    * are directly comparable; both red-lined under [[RatioCeiling]] in
    * `ScalingContractSpec`.
    */
  private[graft] val Decade5 = Sweep(Decade5Queries,
    Seq("sf0.1" -> sfDir("0.1"), "x10" -> ensureDecadeFixture,
      "x100" -> ensureDecade5Fixture),
    DecadeTables, Decade5Runs,
    Seq(("ratio_1_to_10x", "x10", "sf0.1"),
      ("ratio_10x_to_100x", "x100", "x10")),
    Some(("target/guard-fixture/decade5-v2 (500k docs: 100 dialect " +
      "vocabularies x 2000 sources, sf0.1 posting density; 15M orders / " +
      "60M lineitem at constant degree; full schemas + 1.5M customer / " +
      "10M events for the composed mains — same parameterized " +
      "construction as decade4-v2)",
      "breadth, same construction as decade4 — per-key posting df and " +
      "vertex degree held at sf0.1 levels while volume grows 100x")))

  private val Sweeps: Map[String, Sweep] =
    Map("queries" -> TriSf, "decade4" -> Decade4, "decade5" -> Decade5)

  /** A drill section's fixed fields: its fixture note, the query it
    * prices and its two arms' names, the `false` arm first.
    */
  private[graft] final case class Drill(fixture: String, query: String,
      arms: (String, String))

  private[graft] val FallbackDrill = Drill("target/guard-fixture/bigemb-v1 " +
    "(500k x 64-dim, ~128 MB uncompressed, index 4096 sig partitions)",
    "x_knn_ann", ("fallback", "hinted"))

  private[graft] val RewriteDrill = Drill("target/guard-fixture/bigemb-v1 " +
    "(500k x 64-dim, 100-query probe batch)",
    "x_ann_lsh_rewrite", ("brute", "rewrite"))

  /** What one `main` call does: the sections it draws, and the exact
    * committed text of every other section, copied verbatim.
    */
  private[graft] final case class Plan(draw: Seq[String],
      carried: Seq[(String, String)]) {
    def mode: String =
      if (carried.isEmpty) "full"
      else draw.mkString("+") + "_reusing_committed_" +
        carried.map(_._1).mkString("+")
  }

  /** Decides a draw from the section list (empty = every section), the
    * committed SCALING.json text (if any) and this session's width.
    * `Left` is a refusal naming the fix. Carrying needs the committed
    * artifact to hold every carried section and to be stamped with
    * this width: wall numbers without their core count are not
    * comparable, and the round-17 incident proved it — a 4-wide x100
    * redraw read 3.3x over the 32-wide committed medians at
    * byte-identical flat stage counts, a config-drift artifact that
    * perfectly impersonates a real regression. A full draw stamps the
    * session's width. Pure so the spec can pin every case.
    */
  private[graft] def plan(args: Seq[String], committed: Option[String],
      cpus: Int): Either[String, Plan] = {
    val unknown = args.filterNot(Sections.contains)
    val named = args.toSet
    val draw = if (named.isEmpty) Sections else Sections.filter(named)
    val carry = Sections.filterNot(draw.contains)
    lazy val top = topLevel(committed.get).toMap
    lazy val missing = carry.filterNot(top.contains)
    if (unknown.nonEmpty)
      Left(s"unknown section ${unknown.mkString(", ")} — the sections " +
        s"are ${Sections.mkString(", ")}")
    else if (carry.isEmpty) Right(Plan(draw, Nil))
    else if (committed.isEmpty)
      Left(s"drawing ${draw.mkString(" ")} carries ${carry.mkString(" ")} " +
        "from ./SCALING.json, which does not exist — run with no " +
        "section list to draw every section")
    else if (missing.nonEmpty)
      Left(s"SCALING.json has no ${missing.mkString(", ")} section to " +
        s"carry — add ${missing.mkString(" ")} to the section list")
    else if (!top.get("cpus").contains(cpus.toString))
      Left(s"SCALING.json is stamped cpus=${top.getOrElse("cpus", "none")} " +
        s"but this session has $cpus cores, and a carried section must " +
        "share the draw's width — set SPARK_GRAFT_CPUS to the stamp, or " +
        "run with no section list to redraw every section")
    else Right(Plan(draw, carry.map(n => n -> top(n))))
  }

  /** The artifact's top-level fields in file order: objects and arrays
    * as their exact source text, scalars as their token text.
    */
  private[graft] def topLevel(json: String): Seq[(String, String)] = {
    val p = new JsonFactory().createParser(json)
    try {
      require(p.nextToken() == JsonToken.START_OBJECT,
        "SCALING.json is not a JSON object")
      val fields = Seq.newBuilder[(String, String)]
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        val name = p.currentName()
        if (p.nextToken().isStructStart) {
          val from = p.currentTokenLocation().getCharOffset.toInt
          p.skipChildren()
          fields += name ->
            json.substring(from, p.currentLocation().getCharOffset.toInt)
        } else fields += name -> p.getText
      }
      fields.result()
    } finally p.close()
  }

  private def runsJson(ss: Seq[Sample]): String =
    jarr(ss.map(s => r3(s._1)))

  private def stagesJson(ss: Seq[Sample]): String =
    jarr(ss.map(_._2.toString))

  /** One sweep section from its samples, `byPoint` in point order: per
    * query, each point's median seconds (`sec`), every sample's seconds
    * (`runs`) and stage count (`stages`), and the sweep's median
    * ratios. Pure so the spec can feed committed samples back through.
    */
  private[graft] def sweepJson(sw: Sweep,
      byPoint: Seq[(String, Map[String, Seq[Sample]])]): String = {
    val m = byPoint.toMap
    def sec(point: String, n: String): Double =
      median(m(point)(n).map(_._1))
    val queries = jobj(sw.queries.map { n =>
      def perPoint(f: Seq[Sample] => String): String =
        jobj(byPoint.map { case (l, p) => l -> f(p(n)) })
      val ratios = sw.ratios.map { case (key, over, under) =>
        key -> r3(sec(over, n) / math.max(sec(under, n), 1e-9))
      }
      n -> jobj(Seq(
        "sec" -> perPoint(ss => r3(median(ss.map(_._1)))),
        "runs" -> perPoint(runsJson),
        "stages" -> perPoint(stagesJson)) ++ ratios)
    })
    sw.about.fold(queries) { case (fixture, axis) =>
      s"""{"fixture":${jstr(fixture)},"growth_axis":${jstr(axis)},""" +
        s""""runs_per_point":${sw.runs},""" +
        s""""ratio_ceiling":${r3(RatioCeiling)},"queries":$queries}"""
    }
  }

  /** One drill section from its samples, each tagged with its arm
    * (`false` = the first arm). Pure, like [[sweepJson]].
    */
  private[graft] def drillJson(d: Drill,
      samples: Seq[(Boolean, Sample)]): String = {
    def arm(on: Boolean): String = {
      val ss = samples.collect { case (`on`, s) => s }
      s"""{"median_sec":${r3(median(ss.map(_._1)))},""" +
        s""""runs":${runsJson(ss)},"stages":${stagesJson(ss)}}"""
    }
    s"""{"fixture":${jstr(d.fixture)},"query":${jstr(d.query)},""" +
      s"""${jstr(d.arms._1)}:${arm(false)},${jstr(d.arms._2)}:${arm(true)}}"""
  }

  /** The whole artifact: the root fields (the tri-sf sweep's header among
    * them) and each section's text, in [[Sections]] order.
    */
  private[graft] def artifactJson(mode: String, cpus: Int,
      sections: Seq[(String, String)]): String =
    jobj(Seq("generated_by" -> jstr("graft.ScalingBench"),
      "mode" -> jstr(mode), "cpus" -> cpus.toString,
      "runs_per_point" -> TriSf.runs.toString,
      "sfs" -> jarr(TriSf.points.map(p => jstr(p._1))),
      "ratio_ceiling_01_to_1" -> r3(RatioCeiling)) ++ sections)

  /** `runMain graft.ScalingBench [section ...]`: draws the named
    * [[Sections]] (every section when none is named) and writes
    * SCALING.json in the working directory, carrying every other
    * section verbatim from the SCALING.json already there — the
    * fallback drill is ~755 s a sample at 32 cores, so a sweep can be
    * retaken without paying the drills again. `mode` records which
    * sections were carried, so the artifact never implies one run
    * produced all. Refuses (see [[plan]]) before any sample runs.
    */
  def main(args: Array[String]): Unit = {
    io.Sources.enableTableCache()
    val spark = Sessions.local(appName = "graft-scaling")
    val cpus = spark.sparkContext.defaultParallelism
    val path = Paths.get("SCALING.json")
    val committed = Option.when(Files.exists(path))(
      new String(Files.readAllBytes(path), StandardCharsets.UTF_8))
    val todo = plan(args.toSeq, committed, cpus)
      .fold(why => { spark.stop(); sys.error(why) }, identity)

    val reg = SparkEntry.registry.map(q => q.name -> q).toMap
    val missing = PinnedQueries.filterNot(reg.contains)
    require(missing.isEmpty, s"pinned queries not in registry: $missing")

    // one sweep point: warm the dir's raw tier, one untimed pass of the
    // query set, then `runs` interleaved timed passes
    // ([[Bench.schedule]] — consecutive samples of one query are
    // separated by a full pass, so the median spans contention windows)
    def samplePoint(sw: Sweep, dir: String): Map[String, Seq[Sample]] = {
      sw.warm.foreach { t =>
        io.Sources.table(spark, dir, t).write.format("noop")
          .mode("overwrite").save()
      }
      def run(name: String): Sample = {
        val q = reg(name)
        Sessions.withConfs(spark, q.confs) {
          timedWrite(spark)(q.benchFn.getOrElse(q.fn)(spark, dir))
        }
      }
      sw.queries.foreach(run) // untimed warm pass
      val samples = Bench.schedule(sw.queries, sw.runs).map(n => n -> run(n))
      System.err.println(s"[scaling] $dir done")
      samples.groupMap(_._1)(_._2)
    }

    def draw(section: String): String = section match {
      case "fallback_drill" => fallbackDrill(spark)
      case "rewrite_drill" => rewriteDrill(spark)
      case sweep =>
        val sw = Sweeps(sweep)
        // every point's dir first: fixtures build before any sample
        val dirs = sw.points.map { case (label, dir) => label -> dir(spark) }
        sweepJson(sw, dirs.map { case (label, d) =>
          label -> samplePoint(sw, d) })
    }

    val carried = todo.carried.toMap
    val json = artifactJson(todo.mode, cpus,
      Sections.map(n => n -> carried.getOrElse(n, draw(n))))
    Files.write(path, json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
    println(json)
  }

  /** One timed sample: `df`'s build and a noop write in a scope of its
    * own (which frees what the sample cached), with the stages of a
    * [[Trace]] window around it. Per-sample stage counts are COMMITTED
    * artifact values with a flatness red line (ScalingContractSpec);
    * the window's settling marker runs outside the timed span.
    */
  private def timedWrite(spark: SparkSession)(df: => DataFrame): Sample = {
    val w = Trace(spark)(Overlap(spark) { _ =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    })
    (w.value, w.stages)
  }

  /** [[Runs]] samples per arm, interleaved (false, true, false, ...) so
    * each arm's median spans contention windows instead of one arm
    * owning one window — the lesson [[Bench.schedule]] encodes
    * (the back-to-back version let a single contention window skew a
    * whole arm).
    */
  private def interleaved(sample: Boolean => Sample): Seq[(Boolean, Sample)] =
    (1 to Runs).flatMap(_ => Seq(false -> sample(false), true -> sample(true)))

  /** One fixture root for every guard/scale fixture: `target/guard-fixture`
    * under the working directory (the repository root when run via sbt).
    */
  private[graft] val FixtureRoot =
    new java.io.File("target/guard-fixture").getAbsolutePath

  /** Scale parameters for one decade fixture — decade4-v2 (10x) and
    * decade5-v2 (100x) are the SAME hash-seeded construction at
    * different values (round-15 ADVICE 4: two hand-copied generators
    * could drift apart and quietly invalidate the "same breadth axis"
    * design claim the scaling contract relies on). Growth axis is
    * BREADTH everywhere: dialects x sources grow with the corpus so
    * per-(source, gram) posting df stays at sf0.1 levels; customer/
    * supplier/user key ranges grow with the rows so vertex degree and
    * per-user event depth stay at sf0.1 levels. `Decade4FixtureSpec` /
    * `Decade5FixtureSpec` measure those properties, not assume them.
    */
  private[graft] final case class DecadeSpec(
      dir: String,
      nDocs: Long, nDialects: Int, nSources: Int,
      nOrders: Long, nCustomers: Long,
      nLineitem: Long, nSuppliers: Long,
      nEvents: Long, nUsers: Long,
      parts: Int)

  private[graft] val Decade4Spec = DecadeSpec(
    dir = s"$FixtureRoot/decade4-v2",
    nDocs = 50000L, nDialects = 10, nSources = 200,
    nOrders = 1500000L, nCustomers = 150000L,
    nLineitem = 6000000L, nSuppliers = 10000L,
    nEvents = 1000000L, nUsers = 15000L,
    parts = 8)

  private[graft] val Decade5Spec = DecadeSpec(
    dir = s"$FixtureRoot/decade5-v2",
    nDocs = 500000L, nDialects = 100, nSources = 2000,
    nOrders = 15000000L, nCustomers = 1500000L,
    nLineitem = 60000000L, nSuppliers = 100000L,
    nEvents = 10000000L, nUsers = 150000L,
    parts = 16)

  /** Deterministic decade-fixture builder — everything hash-seeded from
    * the row id (no RNG state), built once under target/ and keyed on
    * the per-table _SUCCESS marker. Full design rationale:
    *
    * documents: [[DecadeSpec.nDialects]] disjoint "dialect"
    * vocabularies — the 31 sf0.1 words, suffixed per dialect — each an
    * sf0.1-shaped sub-corpus with the same length distribution (8..96
    * words, mean ~52). Growth axis is BREADTH (new domains bring new
    * vocabulary — the Heaps'-law shape of real corpora), so per-(block,
    * gram) posting df stays at sf0.1 levels and candidate pairs grow
    * with the corpus. The alternative axis — deepening the existing
    * 31-word blocks — measures the OPERATOR's contractual quadratic
    * term (pairs ~ sum df^2), which is separately guarded (maxDf
    * cutoff, the edit-dedup block cap), not the engine's amortization.
    * ~0.4% exact dups are planted (doc_id % 251 == 250 copies its
    * predecessor's seed) so dedup verdicts stay non-degenerate.
    *
    * orders/lineitem: key ranges scale with the rows so the
    * co-purchase graph grows as |V|, |E| ~ scale at CONSTANT degree
    * (cust ~40, supp ~600 — the sf0.1 values); a fixed key range would
    * deepen per-vertex degree and measure the data model, not the
    * engine. Full sf schemas (status/priority/price/date, l_shipdate)
    * with sf0.1 value distributions, so every rule predicate and
    * when-chain keeps its sf0.1 selectivity.
    *
    * customer/events: the composed mains' whole stage graph (profiling
    * rules, the cleaning window, feature joins, the KMeans assembly,
    * both sinks) runs at scale; events hold ~67 events/user — the
    * sf0.1 per-user depth — by growing nUsers with nEvents.
    */
  private[graft] def ensureDecadeFixtureFor(spark: SparkSession,
      spec: DecadeSpec): String = {
    import spec._
    val vocabSql = Seq("a", "agg", "batch", "big", "column", "customer",
      "data", "dup", "fast", "filter", "group", "hash", "join", "key",
      "line", "merge", "order", "part", "query", "row", "scan", "slow",
      "small", "sort", "spark", "stream", "table", "the", "value",
      "vector", "window").map(w => s"'$w'").mkString("array(", ", ", ")")
    def missing(table: String): Boolean =
      !new java.io.File(s"$dir/$table.parquet/_SUCCESS").exists
    if (missing("documents"))
      spark.range(nDocs)
        .selectExpr("id AS doc_id",
          "CASE WHEN id % 251 = 250 THEN id - 1 ELSE id END AS seed")
        .selectExpr("doc_id", "seed",
          // dialect 0 keeps the bare sf0.1 vocabulary; the rest suffix it
          s"""CASE WHEN seed % $nDialects = 0 THEN ''
             ELSE concat('x', cast(seed % $nDialects as string)) END AS sfx""",
          // 8..96 words, mean ~52 — the sf0.1 length band
          "8 + pmod(hash(seed, 1000), 89) AS len")
        .selectExpr("doc_id",
          s"""array_join(transform(sequence(1, len),
              j -> concat(element_at($vocabSql,
                1 + pmod(hash(seed, j), 31)), sfx)), ' ') AS text""",
          """element_at(array('en','en','en','zh','es','fr','de'),
             1 + pmod(hash(seed, 97), 7)) AS lang""",
          s"concat('src', cast(seed % $nSources as string)) AS source")
        .selectExpr("doc_id", "text", "lang", "source",
          "cast(length(text) as long) AS n_chars")
        .repartition(parts)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    if (missing("orders"))
      spark.range(nOrders)
        .selectExpr("id AS o_orderkey",
          s"cast(pmod(hash(id, 3), $nCustomers) as long) AS o_custkey",
          """element_at(array('P','O','F'),
             1 + cast(pmod(hash(id, 5), 3) as int)) AS o_orderstatus""",
          // 1000.00 .. 500000.00, the sf0.1 band
          """round(1000.0 + pmod(hash(id, 19), 4990000) / 10.0, 2)
             AS o_totalprice""",
          // 1995-01-01 .. ~2001-08 — same span as sf0.1, so the
          // integrity rule's 1992..1998 date_in_range keeps its
          // sf0.1 selectivity
          """timestampadd(DAY, cast(pmod(hash(id, 29), 2400) as int),
             timestamp'1995-01-01 00:00:00') AS o_orderdate""",
          """element_at(array('1-URGENT','2-HIGH','3-MEDIUM',
             '4-NOT SPECIFIED','5-LOW'),
             1 + cast(pmod(hash(id, 11), 5) as int)) AS o_orderpriority""")
        .repartition(parts)
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    if (missing("lineitem"))
      spark.range(nLineitem)
        .selectExpr("id div 4 AS l_orderkey",
          s"cast(pmod(hash(id, 7), $nSuppliers) as long) AS l_suppkey",
          """timestampadd(DAY, cast(pmod(hash(id, 31), 2500) as int),
             timestamp'1995-01-02 00:00:00') AS l_shipdate""")
        .repartition(parts)
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    if (missing("customer"))
      spark.range(nCustomers)
        .selectExpr("id AS c_custkey",
          "format_string('Customer#%09d', id) AS c_name",
          "cast(pmod(hash(id, 37), 25) as int) AS c_nationkey",
          // -1000.00 .. 9999.90 — spans the bal_group when-chain's
          // negative/low/high branches at sf0.1 proportions
          "round(-1000.0 + pmod(hash(id, 23), 110000) / 10.0, 2) AS c_acctbal",
          """element_at(array('AUTOMOBILE','BUILDING','FURNITURE',
             'HOUSEHOLD','MACHINERY'),
             1 + cast(pmod(hash(id, 41), 5) as int)) AS c_mktsegment""")
        .repartition(math.max(parts / 2, 1))
        .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    if (missing("events"))
      spark.range(nEvents)
        .selectExpr("id AS event_id",
          // 30 days of Jan 2024 at second resolution — half the log
          // predates the 2024-01-15 flag window, so the cleaning
          // rules' dt-without-flag inconsistencies occur at sf0.1
          // rates
          """timestampadd(SECOND, cast(pmod(hash(id, 13), 2592000) as int),
             timestamp'2024-01-01 00:00:00') AS ts""",
          // nUsers grows with nEvents so per-user depth stays ~67
          // events/user — the sf0.1 level
          s"cast(pmod(hash(id, 3), $nUsers) as long) AS user_id",
          """element_at(array('signup','purchase','view','click','error'),
             1 + cast(pmod(hash(id, 43), 5) as int)) AS event_type""",
          "round(pmod(hash(id, 17), 56021) / 100.0, 2) AS value",
          """concat('{"k": ', cast(pmod(hash(id, 47), 100) as string), '}')
             AS props""")
        .repartition(parts)
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  /** The decade-5 fixture: 100x sf0.1 on the SAME breadth axis as
    * [[ensureDecadeFixture]] — see [[Decade5Spec]] /
    * [[ensureDecadeFixtureFor]]. v2 (round 16): full schemas +
    * customer/events so the composed mains run their whole stage graph
    * at the 100x point.
    */
  private[graft] def ensureDecade5Fixture(spark: SparkSession): String =
    ensureDecadeFixtureFor(spark, Decade5Spec)
  /** The shared 500k-vector / ~128 MB drill fixture (also
    * `GuardFireDrillSpec` fixture D). Returns its dir; builds it on
    * first use.
    */
  private[graft] def ensureDrillFixture(spark: SparkSession): String = {
    val dir = s"$FixtureRoot/bigemb-v1"
    val path = s"$dir/embeddings.parquet"
    if (!new java.io.File(s"$path/_SUCCESS").exists) {
      spark.range(500000).select(
        col("id").as("vec_id"),
        expr("""transform(sequence(1, 64),
                j -> cast(sin(hash(id, j)) as float))""").as("embedding"),
        (col("id") % 10).cast("int").as("label"))
        .write.mode("overwrite")
        .option("compression", "uncompressed").parquet(path)
    }
    dir
  }

  /** The decade-4 fixture: a 10x-sf0.1 corpus whose STATISTICAL DEPTH
    * is held at sf0.1 levels while total volume grows 10x — see
    * [[Decade4Spec]] / [[ensureDecadeFixtureFor]] for the construction
    * and its design rationale (v2, round 15: full schemas + customer/
    * events for the composed mains; round 16 factored the generator so
    * decade4 and decade5 share one parameterized construction).
    */
  private[graft] def ensureDecadeFixture(spark: SparkSession): String =
    ensureDecadeFixtureFor(spark, Decade4Spec)

  /** Both arms of the probe-broadcast gate on the 500k-vector /
    * ~128 MB fixture (same deterministic construction as
    * `GuardFireDrillSpec` fixture D — the sizes genuinely trip the
    * default 64 MB cap, no conf override on the fallback arm). Asserts
    * each arm really is on its branch (analyzed-plan hint count) before
    * timing it, so the recorded numbers can't silently both measure the
    * same plan.
    */
  private def fallbackDrill(spark: SparkSession): String = {
    val dir = ensureDrillFixture(spark)

    // one SAMPLE per call, with the conf flipped and the branch
    // re-asserted each time, the arms' samples interleaved.
    // the drill flips ProbeBroadcastMaxBytesKey per-arm via a
    // defensive unset OUTSIDE withConfs (the fallback arm needs the
    // cap ABSENT even if a caller left an override behind) — so
    // save/restore the caller's value here at drill scope, the same
    // discipline withConfs applies per-block. Harmless in this main(),
    // but the drill should not be the one site that clobbers session
    // state it didn't own.
    val priorCap =
      spark.conf.getOption(ext.Similarity.ProbeBroadcastMaxBytesKey)

    def sample(hinted: Boolean): Sample = {
      // defensive baseline: the fallback arm needs the cap ABSENT
      spark.conf.unset(ext.Similarity.ProbeBroadcastMaxBytesKey)
      // x_knn_ann carries Q.KBoundedAggConfs in the registry; the drill
      // calls knnAnn directly, so it applies the same scoped conf — the
      // committed arm medians were measured with the k-bounded top-k
      // running hash-aggregated, as the bench runs it. The hinted arm's
      // cap raise rides the SAME withConfs (which restores the key to
      // unset) instead of a second hand-rolled set/finally-unset idiom.
      val armConfs = Q.KBoundedAggConfs ++
        (if (hinted)
          Map(ext.Similarity.ProbeBroadcastMaxBytesKey ->
            Long.MaxValue.toString)
        else Map.empty[String, String])
      Sessions.withConfs(spark, armConfs) {
        val hints = Overlap(spark) { _ =>
          ext.Similarity.knnAnn(spark, dir).queryExecution.analyzed.collect {
            case h: ResolvedHint => h }.size
        }
        require(hints == (if (hinted) 2 else 0),
          s"drill arm hinted=$hinted landed on the wrong branch " +
            s"($hints hints)")
        timedWrite(spark)(ext.Similarity.knnAnn(spark, dir))
      }
    }

    // fallback warm-up first: it builds the serving index (4096
    // signature partitions at autoBits=12) both arms then reuse fresh.
    // Under the SAME scoped conf as the timed arms: without it the
    // stock 128-key fallback threshold sorts the ~970M candidate rows
    // (the 20+ min pathology Q.KBoundedAggConfs documents) before a
    // single timed sample even starts — the session-wide raise used to
    // cover this call; the per-query scoping must too.
    Overlap(spark) { _ =>
      Sessions.withConfs(spark, Q.KBoundedAggConfs) {
        ext.Similarity.knnAnn(spark, dir).write.format("noop")
          .mode("overwrite").save()
      }
    }
    val samples =
      try interleaved(sample)
      finally priorCap match {
        case Some(v) =>
          spark.conf.set(ext.Similarity.ProbeBroadcastMaxBytesKey, v)
        case None =>
          spark.conf.unset(ext.Similarity.ProbeBroadcastMaxBytesKey)
      }
    drillJson(FallbackDrill, samples)
  }

  /** Prices `AnnIndexRewrite` — the flag-gated Catalyst rule behind
    * `x_ann_lsh_rewrite` — against the brute plan it replaces, on the
    * same 500k fixture as the gate drill (round-13 directive 4: the
    * rewrite had recall/plan assertions but no large-fixture timing).
    * Both arms run the CANONICAL user plan (`Similarity.bruteTopK`)
    * for a 100-query probe batch (modulus 5000); the rewrite arm's
    * child session flips the flag and the optimizer swaps the
    * 100 x 500k = 50M-pair scoring join for the Hamming<=2 bucket
    * probe (~79 probe signatures / 4096 buckets per query, ~1M
    * candidates). Samples interleave (brute, rewrite, brute, ...)
    * and each arm is branch-asserted from the OPTIMIZED plan — the
    * probe `Generate` must be present in the rewrite arm and absent
    * in brute — so the committed speedup can't silently time the
    * same plan twice.
    */
  private def rewriteDrill(spark: SparkSession): String = {
    val dir = ensureDrillFixture(spark)
    val QueryModulus = 5000

    // the rewrite-enabled child session is built ONCE, outside every
    // timed window (round-14 ADVICE: annLshRewriteWith pays a fresh
    // newSession() + the autoBits corpus count inside the timed build,
    // so the committed rewrite-arm number mixed fixed bootstrap into
    // plan cost). A serving deployment configures the index once and
    // probes many times — the per-sample cost is the plan, not the
    // session bootstrap. Both arms still re-pay the corpus cache build
    // in each sample's scope, symmetrically.
    val rewriteSession = ext.Similarity.annLshRewriteSession(spark, dir)

    def build(rewrite: Boolean): DataFrame =
      if (rewrite) ext.Similarity.bruteTopK(rewriteSession, dir, QueryModulus)
      else ext.Similarity.bruteTopK(spark, dir, QueryModulus)

    def probeGenerates(df: DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case g: org.apache.spark.sql.catalyst.plans.logical.Generate
            if g.generatorOutput.exists(_.name == "__ann_probe") => g
      }.size

    def sample(rewrite: Boolean): Sample = {
      val gens = Overlap(spark)(_ => probeGenerates(build(rewrite)))
      require(gens == (if (rewrite) 1 else 0),
        s"rewrite drill arm rewrite=$rewrite landed on the wrong " +
          s"branch ($gens probe Generates in the optimized plan)")
      timedWrite(spark)(build(rewrite))
    }

    // untimed warm pass per arm, run through the SAME sample() shape
    // (plan build + branch assert in a scope, traced noop write) and
    // discarded: the committed r14/r15 brute arms both showed a 9th
    // stage on their FIRST timed sample only — whatever one-time
    // materialization the first post-warm execution pays, running the
    // warm pass in sample shape makes the discarded warm draw absorb
    // it, so every committed sample measures the steady-state plan
    Seq(false, true).foreach(r => sample(rewrite = r))
    drillJson(RewriteDrill, interleaved(sample))
  }
}
