package graft

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** Pins the driver-contract bench line: the driver captures stdout and
  * json-parses the LAST line, so the format must stay byte-stable —
  * rounds 1 and 2 lost the perf gate to formatting drift around this
  * line. No Spark session needed: the builder is a pure function.
  */
class BenchContractSpec extends AnyFunSuite {

  private val sample = Seq("q1_agg" -> 1.2345, "j3" -> 0.5)

  test("line is a single compact JSON object with the contract fields") {
    val line = Bench.jsonLine(sample, "/root/testdata/sf0.1", Nil)
    assert(line ==
      """{"metric":"total","value":1.735,"unit":"sec","queries":{"q1_agg":1.235,"j3":0.500},"sf":0.1,"failed":[]}""")
    assert(!line.contains("\n"))
  }

  test("sf falls back to a quoted string for unconventional dirs") {
    val line = Bench.jsonLine(sample, "/data/custom", Nil)
    assert(line.contains(""""sf":"/data/custom""""))
  }

  test("failed queries are listed; totalOverride carries the gate total") {
    val line = Bench.jsonLine(Seq("a" -> 1.0), "/root/testdata/sf0.01",
      Seq("bad_q"), totalOverride = Some(42.5))
    assert(line.contains(""""failed":["bad_q"]"""))
    assert(line.contains(""""value":42.500"""))
    assert(line.contains(""""sf":0.01"""))
  }

  test("fullJson parses as JSON and carries per-query cost maps") {
    val timings = Seq(
      "q1_agg" -> Bench.Timing(1.2345, 3, 7, 42),
      "j3" -> Bench.Timing(0.5, 1, 2, 8))
    val full = Bench.fullJson(timings, "/root/testdata/sf0.1", Seq("bad_q"))
    // must survive a strict JSON parse — a malformed query name or a
    // jsonLine format change would corrupt BENCH_FULL.json silently
    import org.json4s.jackson.JsonMethods
    val parsed = JsonMethods.parse(full)
    assert((parsed \ "metric").values == "total")
    assert((parsed \ "jobs" \ "q1_agg").values == 3L)
    assert(full.contains(""""jobs":{"q1_agg":3,"j3":1}"""))
    assert(full.contains(""""stages":{"q1_agg":7,"j3":2}"""))
    assert(full.contains(""""tasks":{"q1_agg":42,"j3":8}"""))
    assert(full.contains(""""failed":["bad_q"]"""))
    // no multi-sample queries -> empty but well-formed runs map
    assert(full.contains(""""runs":{}"""))
    // raw-tier warm-up cost is reported, defaulting to zero
    assert(full.contains(""""warm_sec":0.000"""))
    assert(Bench.fullJson(timings, "sf0.1", Nil, warmSec = 2.3456)
      .contains(""""warm_sec":2.346"""))
    // fit-once provenance rides the artifact (round-16 directive 1):
    // empty-but-well-formed by default, populated from the counters
    assert(full.contains(""""fit_counts":{}"""))
    val withFits = Bench.fullJson(timings, "sf0.1", Nil,
      fitCounts = Seq("quality_model_lbfgs" -> 1L, "ml_kmeans" -> 1L))
    assert(withFits.contains(
      """"fit_counts":{"quality_model_lbfgs":1,"ml_kmeans":1}"""))
    assert((JsonMethods.parse(withFits) \ "fit_counts" \
      "quality_model_lbfgs").values == 1L)
    // draw parallelism rides the artifact (round 17: a local[4]
    // mis-draw impersonated a 3x regression); 0 = unstamped default
    assert(full.contains(""""cpus":0"""))
    assert(Bench.fullJson(timings, "sf0.1", Nil, cpus = 32)
      .contains(""""cpus":32"""))
  }

  /** Round-17 red line: every committed full draw must record the core
    * count it was drawn at — wall medians are not comparable across
    * widths (the round-17 local[4] ScalingBench mis-draw read as a 3.3x
    * regression at flat stages). Cross-width comparisons are refused
    * where they happen: BenchAudit reads them as `config_mismatch`.
    */
  test("the committed artifact carries a positive integer cpus stamp") {
    val c = committed
    (c.json \ "cpus") match {
      case JInt(n) => assert(n > 0, s"[${c.source}] cpus stamp $n")
      case JLong(n) => assert(n > 0, s"[${c.source}] cpus stamp $n")
      case other => fail(s"[${c.source}] cpus missing/malformed: $other — " +
        "regenerate BENCH_FULL.json with the full-catalog graft.Bench")
    }
  }

  test("fullJson carries raw per-run samples for multi-sample queries") {
    val timings = Seq("s7" -> Bench.Timing(1.5, 3, 7, 42))
    val full = Bench.fullJson(timings, "/root/testdata/sf0.1", Nil,
      runs = Seq("s7" -> Seq(1.4, 1.5, 9.0)))
    import org.json4s.jackson.JsonMethods
    val parsed = JsonMethods.parse(full)
    assert((parsed \ "runs" \ "s7").values == List(1.4, 1.5, 9.0))
    assert(full.contains(""""runs":{"s7":[1.400,1.500,9.000]}"""))
    // per-run stage counts ride next to the second samples, so a wide
    // spread at flat stage counts is self-flagging as contention
    val withStages = Bench.fullJson(timings, "/root/testdata/sf0.1", Nil,
      runs = Seq("s7" -> Seq(1.4, 1.5, 9.0)),
      runStages = Seq("s7" -> Seq(7L, 7L, 7L)))
    assert(withStages.contains(""""run_stages":{"s7":[7,7,7]}"""))
    assert((JsonMethods.parse(withStages) \ "run_stages" \ "s7").values ==
      List(7L, 7L, 7L))
  }

  test("schedule interleaves samples as round-robin passes") {
    // passes 1-3: every query once per pass, in input order
    val sched = Bench.schedule(Seq("a", "s7", "x_heavy"), Bench.BaseRuns)
    assert(sched == Seq("a", "s7", "x_heavy", "a", "s7", "x_heavy",
      "a", "s7", "x_heavy"))
    // consecutive samples of one query are never adjacent when more than
    // one query exists — the interleave property itself
    assert(!sched.sliding(2).exists(p => p.length == 2 && p(0) == p(1)))

    // the heavy rule: exactly the queries whose median over their first
    // three samples is >= 2.0 s, whatever the later samples say
    val drawn = Seq(
      "light" -> Seq(0.5, 0.6, 0.7),
      "edge" -> Seq(2.0, 1.0, 3.0),     // median exactly 2.0: heavy
      "spiky" -> Seq(9.0, 1.9, 0.1),    // one slow draw: median 1.9
      "heavy_a" -> Seq(2.5, 2.4, 2.6),
      "late" -> Seq(1.0, 1.0, 1.0, 9.0, 9.0), // samples 4-5 don't count
      "heavy_b" -> Seq(4.0, 3.0, 1.0),
      "short" -> Seq(5.0))              // < 3 samples: no median yet
    assert(Bench.heavy(drawn) == Seq("edge", "heavy_a", "heavy_b"))
    assert(Bench.HeavySec == 2.0 && Bench.BaseRuns == 3 &&
      Bench.HeavyRuns == 5)
    // passes 4-5 over the heavy set stay interleaved round-robin passes
    val extra = Bench.schedule(Bench.heavy(drawn),
      Bench.HeavyRuns - Bench.BaseRuns)
    assert(extra == Seq("edge", "heavy_a", "heavy_b",
      "edge", "heavy_a", "heavy_b"))
    assert(!extra.sliding(2).exists(p => p.length == 2 && p(0) == p(1)))
  }

  /** Returns (artifact JSON, blob source label). Reads the COMMITTED blob
    * (`git show HEAD:BENCH_FULL.json`), not the working tree, so a
    * driver/CI regeneration sitting uncommitted in the tree can never
    * fail the suite for non-code reasons (exactly how round 13 went
    * 393/394). The label rides every assertion message so a failure
    * always says WHICH blob was judged (round-14 ADVICE: the silent
    * worktree fallback could validate a doctored/stale worktree file
    * while appearing to check the commit). Inside a git checkout a
    * `git show` failure is a test failure, not a fallback — the only
    * legitimate worktree read is the explicit
    * SPARK_GRAFT_BENCH_BLOB=worktree self-check of a freshly generated
    * artifact, or a non-git export.
    */
  private def committedBenchFull(): (String, String) = {
    val path = java.nio.file.Paths.get("BENCH_FULL.json")
    def worktree() = {
      assert(java.nio.file.Files.exists(path),
        "BENCH_FULL.json missing — the committed bench artifact is part " +
          "of the repo contract")
      (new String(java.nio.file.Files.readAllBytes(path),
        java.nio.charset.StandardCharsets.UTF_8), "worktree")
    }
    if (sys.env.get("SPARK_GRAFT_BENCH_BLOB").contains("worktree")) worktree()
    // `.git` is a directory in a clone and a file in a worktree
    else if (!java.nio.file.Files.exists(java.nio.file.Paths.get(".git")))
      worktree() // not a git checkout (source export): worktree honestly
    else {
      val out = scala.util.Try(BenchAudit.gitShow("HEAD:BENCH_FULL.json"))
      assert(out.isSuccess,
        "git show HEAD:BENCH_FULL.json failed inside a git checkout — " +
          "refusing to silently judge the worktree file instead; commit " +
          "the artifact or set SPARK_GRAFT_BENCH_BLOB=worktree to " +
          "self-check an uncommitted regeneration")
      (out.get, "git show HEAD")
    }
  }

  /** The committed artifact, parsed once for every test that judges it:
    * the blob source label, the JSON, the per-query medians (`queries`)
    * and the per-query samples (`runs`).
    */
  private final class Committed(val source: String, val json: JValue,
      val medians: Map[String, Double], val runs: Map[String, Seq[Double]])

  private lazy val committed: Committed = {
    val (blob, source) = committedBenchFull()
    val json = JsonMethods.parse(blob)
    def secs(v: JValue): Double = v match {
      case JDouble(d) => d
      case JDecimal(d) => d.toDouble
      case JInt(i) => i.toDouble
      case JLong(l) => l.toDouble
      case other => fail(s"[$source] non-numeric seconds: $other")
    }
    def obj(key: String): List[(String, JValue)] = (json \ key) match {
      case JObject(fields) => fields
      case other => fail(s"[$source] $key missing/malformed: $other")
    }
    new Committed(source, json,
      obj("queries").map { case (n, v) => n -> secs(v) }.toMap,
      obj("runs").map {
        case (n, JArray(rs)) => n -> rs.map(secs)
        case (n, other) => fail(s"[$source] runs.$n malformed: $other")
      }.toMap)
  }

  /** The round-9 lesson as a red line: on a contended box single draws
    * swing 2-3x, so no committed number may be a single draw. Rounds
    * 12-14 walked a conversion line down (0.8 s, then 0.55 s, then
    * 0.35 s) as each band's headroom was falsified by the next
    * contended draw; Bench now samples every query at least
    * [[Bench.BaseRuns]] times, so the line covers the whole catalog —
    * every committed median has its samples in the artifact's `runs`.
    */
  test("every committed query has >= 3 samples in runs") {
    val c = committed
    val reg = SparkEntry.registry.map(_.name).toSet
    // staleness: a committed artifact naming queries the registry no
    // longer has (renamed/deleted) is measuring a different catalog
    val stale = c.medians.keySet.filterNot(reg.contains)
    assert(stale.isEmpty,
      s"BENCH_FULL.json [${c.source}] names unknown queries: $stale")
    // scale floor: the committed artifact must be the FULL-catalog
    // closing-ritual draw — a targeted run (SPARK_GRAFT_ONLY) writes
    // BENCH_TARGETED.json, but a clobbered artifact (round 13 briefly
    // committed a 1-query BENCH_FULL.json) must fail here, not in the
    // next verdict
    assert(c.medians.size >= 150,
      s"BENCH_FULL.json [${c.source}] has only ${c.medians.size} " +
        "queries — clobbered by a targeted run? Regenerate with the " +
        "full-catalog graft.Bench")
    val underSampled = c.medians.keys.toSeq.sorted
      .filter(n => c.runs.get(n).forall(_.size < Bench.BaseRuns))
    assert(underSampled.isEmpty,
      s"[${c.source}] medians without >= ${Bench.BaseRuns} samples in " +
        s"the artifact's runs map: $underSampled")
  }

  /** Round-16 directive 2: with 3 samples, a box slow for 2 of 3 draws
    * contaminates the MEDIAN itself — the round-15 driver artifact
    * moved the headline 1.86x at zero plan change exactly that way. So
    * a query whose own first three samples have a median >= 2.0 s gets
    * five, and every other query exactly three ([[Bench.heavy]]: each
    * draw decides its heavy set from its own samples). The sufficiency
    * line is kept as well: every committed >2 s median whose own samples
    * are tight (max/min <= 2: genuine plan cost, not a contended draw)
    * must be a 5-sample median.
    */
  test("committed sample counts follow the 2.0 s heavy rule") {
    val c = committed
    val heavy = Bench.heavy(c.runs.toSeq).toSet
    val wrongCount = c.runs.toSeq.sortBy(_._1).collect {
      case (n, ss) if ss.size !=
          (if (heavy(n)) Bench.HeavyRuns else Bench.BaseRuns) => n -> ss
    }
    assert(wrongCount.isEmpty,
      s"[${c.source}] sample counts off the rule (5 exactly when the " +
        s"first-three median is >= ${Bench.HeavySec} s): $wrongCount")
    def tightSpread(n: String): Boolean = c.runs.get(n) match {
      case Some(secs) if secs.size >= 2 =>
        secs.max / math.max(secs.min, 1e-9) <= 2.0
      case _ => false // single draw or missing: can't attest tightness
    }
    val missing = c.medians.collect {
      case (n, sec) if sec > 2.0 && tightSpread(n) &&
        c.runs(n).size < Bench.HeavyRuns => n -> sec
    }
    assert(missing.isEmpty,
      s"[${c.source}] tight-spread medians > 2 s with fewer than 5 " +
        s"samples (genuine cost needing contention-resistant sampling): " +
        s"$missing")
  }

  /** The artifact-side fit-once red line (round-16 directive 1): the
    * committed full-catalog draw must record EXACTLY one fit per model
    * memo — more means a refit ran inside a timed window (the round-15
    * driver failure), zero means the artifact predates the counters or
    * the catalog stopped exercising the model paths.
    */
  test("committed artifact records exactly one fit per model memo") {
    val c = committed
    val fits = (c.json \ "fit_counts") match {
      case JObject(fields) => fields.toMap
      case other => fail(
        s"[${c.source}] fit_counts missing/malformed: $other — " +
          "regenerate BENCH_FULL.json with the full-catalog graft.Bench")
    }
    val expected = Set("quality_model_lbfgs", "ml_kmeans", "ml_pca",
      "ann_ivf_kmeans")
    assert(fits.keySet == expected,
      s"[${c.source}] fit_counts keys drifted: ${fits.keySet}")
    val bad = fits.collect {
      case (n, JInt(k)) if k != 1 => n -> k
      case (n, JLong(k)) if k != 1L => n -> k
    }
    assert(bad.isEmpty,
      s"[${c.source}] fit counters != 1 — a fit memo was defeated " +
        s"inside the bench run: $bad")
  }

  test("jstr escapes quotes, backslashes, and control characters") {
    assert(Bench.jstr("plain") == "\"plain\"")
    assert(Bench.jstr("a\"b") == "\"a\\\"b\"")
    assert(Bench.jstr("a\\b") == "\"a\\\\b\"")
    assert(Bench.jstr("a\nb") == "\"a\\u000ab\"")
    // a hostile query name round-trips through both emitters unbroken
    val line = Bench.jsonLine(Seq("q\"uote" -> 1.0), "sf0.01", Seq("f\\q"))
    assert(line.contains(""""q\"uote":1.000"""))
    assert(line.contains(""""failed":["f\\q"]"""))
  }

  test("number format is locale-independent (decimal point, 3 digits)") {
    val prev = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY) // uses ','
      val line = Bench.jsonLine(Seq("x" -> 1.5), "sf0.001", Nil)
      assert(line.contains(""""x":1.500"""), line)
    } finally java.util.Locale.setDefault(prev)
  }
}
