package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the BenchAudit classifier (round-15 verdict item 7): the
  * round-15 driver headline needed manual stage-diff forensics to be
  * exonerated as contention — this is the forensics as a function, and
  * these are the cases it must keep separating. Pure JSON in/out, no
  * Spark session.
  */
class BenchAuditSpec extends AnyFunSuite {

  import org.json4s.jackson.JsonMethods

  private def artifact(
      queries: Map[String, Double],
      stages: Map[String, Long],
      runs: Map[String, Seq[Double]] = Map.empty,
      fits: Map[String, Long] = Map.empty): String = {
    def m[T](xs: Map[String, T], f: T => String): String =
      xs.toSeq.sortBy(_._1)
        .map { case (k, v) => Bench.jstr(k) + ":" + f(v) }
        .mkString("{", ",", "}")
    val total = queries.values.sum
    s"""{"metric":"total","value":$total,""" +
      s""""queries":${m[Double](queries, _.toString)},""" +
      s""""stages":${m[Long](stages, _.toString)},""" +
      s""""runs":${m[Seq[Double]](runs, _.mkString("[", ",", "]"))},""" +
      s""""fit_counts":${m[Long](fits, _.toString)}}"""
  }

  private val reference = artifact(
    queries = Map("q1" -> 0.4, "x_heavy" -> 3.0, "pipe1_end_to_end" -> 4.0),
    stages = Map("q1" -> 4L, "x_heavy" -> 20L, "pipe1_end_to_end" -> 46L))

  test("a contended foreign draw at identical plans reads as noise") {
    // 1.9x headline, wide runs, stage counts within the band — the
    // round-15 driver shape
    val foreign = artifact(
      queries = Map("q1" -> 0.8, "x_heavy" -> 6.2,
        "pipe1_end_to_end" -> 7.5),
      stages = Map("q1" -> 5L, "x_heavy" -> 21L,
        "pipe1_end_to_end" -> 47L),
      runs = Map("x_heavy" -> Seq(2.9, 6.2, 15.0),
        "pipe1_end_to_end" -> Seq(4.1, 7.5, 18.0)))
    val parsed = JsonMethods.parse(
      BenchAudit.auditJson(foreign, reference, "f", "r"))
    assert((parsed \ "verdict").values == "contention_noise")
    assert((parsed \ "plan_changes").values ==
      Map.empty[String, Any])
    val contended = (parsed \ "contended").values
      .asInstanceOf[Map[String, Any]]
    assert(contended.keySet == Set("x_heavy", "pipe1_end_to_end"))
  }

  test("a stage-count jump reads as plan change, naming the query") {
    // the round-15 x_quality_model shape: +13 stages (an extra fit)
    val foreign = artifact(
      queries = Map("q1" -> 0.4, "x_heavy" -> 5.4,
        "pipe1_end_to_end" -> 4.1),
      stages = Map("q1" -> 4L, "x_heavy" -> 33L,
        "pipe1_end_to_end" -> 46L))
    val parsed = JsonMethods.parse(
      BenchAudit.auditJson(foreign, reference, "f", "r"))
    assert((parsed \ "verdict").values == "plan_change")
    val pc = (parsed \ "plan_changes").values.asInstanceOf[Map[String, Any]]
    assert(pc.keySet == Set("x_heavy"))
  }

  test("the composed mains get the ±1 async-exchange allowance on top") {
    // 46 -> 49 is 3 over: within band for pipe1 (2+1), over for others
    val foreign = artifact(
      queries = Map("pipe1_end_to_end" -> 4.2, "x_heavy" -> 3.0),
      stages = Map("pipe1_end_to_end" -> 49L, "x_heavy" -> 23L))
    val parsed = JsonMethods.parse(
      BenchAudit.auditJson(foreign, reference, "f", "r"))
    val pc = (parsed \ "plan_changes").values.asInstanceOf[Map[String, Any]]
    assert(pc.keySet == Set("x_heavy"),
      "pipe1 at +3 stages must sit inside its band; x_heavy at +3 must not")
  }

  test("a foreign fit count above one reads as plan change (refit)") {
    val foreign = artifact(
      queries = Map("q1" -> 0.4, "x_heavy" -> 3.1,
        "pipe1_end_to_end" -> 4.0),
      stages = Map("q1" -> 4L, "x_heavy" -> 20L,
        "pipe1_end_to_end" -> 46L),
      fits = Map("quality_model_lbfgs" -> 3L, "ml_kmeans" -> 1L))
    val parsed = JsonMethods.parse(
      BenchAudit.auditJson(foreign, reference, "f", "r"))
    assert((parsed \ "verdict").values == "plan_change")
    assert((parsed \ "refits" \ "quality_model_lbfgs").values == 3L)
  }

  test("a headline-only artifact (no stage maps) refuses to classify") {
    val headlineOnly =
      """{"metric":"total","value":213.7,"queries":{"q1":0.5}}"""
    val parsed = JsonMethods.parse(
      BenchAudit.auditJson(headlineOnly, reference, "f", "r"))
    assert((parsed \ "verdict").values == "insufficient_artifact",
      "no plan evidence must not read as consistency")
  }

  test("a moved headline at flat plans WITHOUT runs evidence is " +
      "insufficient, not consistent") {
    // round-16 ADVICE 2: stages present, no runs arrays, 1.9x headline
    // at in-band stage counts — the noise verdict's evidence is absent,
    // so the classifier must refuse rather than default to consistent
    val foreign = artifact(
      queries = Map("q1" -> 0.8, "x_heavy" -> 6.2,
        "pipe1_end_to_end" -> 7.5),
      stages = Map("q1" -> 5L, "x_heavy" -> 21L,
        "pipe1_end_to_end" -> 47L))
    val parsed = JsonMethods.parse(
      BenchAudit.auditJson(foreign, reference, "f", "r"))
    assert((parsed \ "verdict").values == "insufficient_artifact")
  }

  test("a moved headline at flat plans with TIGHT runs is " +
      "headline_moved_unexplained") {
    // runs present and tight (max/min <= 2): contention can't explain
    // the 1.9x move, so it surfaces as its own verdict a human must
    // read — never a silent pass
    val foreign = artifact(
      queries = Map("q1" -> 0.8, "x_heavy" -> 6.2,
        "pipe1_end_to_end" -> 7.5),
      stages = Map("q1" -> 5L, "x_heavy" -> 21L,
        "pipe1_end_to_end" -> 47L),
      runs = Map("x_heavy" -> Seq(5.9, 6.2, 6.8),
        "pipe1_end_to_end" -> Seq(7.1, 7.5, 7.9)))
    val parsed = JsonMethods.parse(
      BenchAudit.auditJson(foreign, reference, "f", "r"))
    assert((parsed \ "verdict").values == "headline_moved_unexplained")
  }

  test("a missing or non-positive headline total refuses to classify") {
    // round-16 ADVICE 2: value absent -> ratio was silently 0.000 and
    // the verdict fell through to consistent; both degenerate totals
    // must read as insufficient_artifact instead
    val noValue =
      """{"metric":"total","queries":{"q1":0.4},"stages":{"q1":4}}"""
    val parsedNoValue = JsonMethods.parse(
      BenchAudit.auditJson(noValue, reference, "f", "r"))
    assert((parsedNoValue \ "verdict").values == "insufficient_artifact")

    val zeroRef =
      """{"metric":"total","value":0.0,"queries":{"q1":0.4},""" +
        """"stages":{"q1":4}}"""
    val parsedZeroRef = JsonMethods.parse(
      BenchAudit.auditJson(reference, zeroRef, "f", "r"))
    assert((parsedZeroRef \ "verdict").values == "insufficient_artifact")
  }

  test("cross-width draws read as config_mismatch, never plan_change") {
    // round-17: Sessions.local sizes shuffle partitions to the core
    // count, so a 4-core draw has genuinely different plans and its
    // stage counts would read as spurious plan changes against a
    // 32-core reference — the audit must name the config problem first
    val narrow =
      """{"metric":"total","value":30.0,"queries":{"q1":0.9},""" +
        """"stages":{"q1":9},"cpus":4}"""
    val wide =
      """{"metric":"total","value":7.4,"queries":{"q1":0.4},""" +
        """"stages":{"q1":4},"cpus":32}"""
    val parsed = JsonMethods.parse(
      BenchAudit.auditJson(narrow, wide, "f", "r"))
    assert((parsed \ "verdict").values == "config_mismatch")
    // absent cpus on either side (pre-round-17 artifacts): fall through
    // to the evidence ladder, don't invent a mismatch
    val legacy = JsonMethods.parse(
      BenchAudit.auditJson(reference, wide, "f", "r"))
    assert((legacy \ "verdict").values != "config_mismatch")
  }

  test("a headline SPEED-UP at flat plans is symmetric: unexplained " +
      "with tight reference runs, contention only via WIDE reference " +
      "runs, insufficient without them") {
    // round-19 review: bench mode kept the one-sided move test after
    // the scaling mode was symmetrized; and only the REFERENCE side's
    // spread can explain a foreign speed-up (contention inflates a
    // median, never shrinks it)
    val fast = artifact(
      queries = Map("q1" -> 0.2, "x_heavy" -> 1.5,
        "pipe1_end_to_end" -> 2.0),
      stages = Map("q1" -> 4L, "x_heavy" -> 20L,
        "pipe1_end_to_end" -> 46L),
      runs = Map("x_heavy" -> Seq(1.4, 1.5, 1.6)))
    // reference without runs arrays: the slow side's noise can't be
    // attested -> insufficient, not consistent
    val noRefRuns = JsonMethods.parse(
      BenchAudit.auditJson(fast, reference, "f", "r"))
    assert((noRefRuns \ "verdict").values == "insufficient_artifact")
    // tight reference runs: contention can't explain the speed-up
    val refTight = artifact(
      queries = Map("q1" -> 0.4, "x_heavy" -> 3.0,
        "pipe1_end_to_end" -> 4.0),
      stages = Map("q1" -> 4L, "x_heavy" -> 20L,
        "pipe1_end_to_end" -> 46L),
      runs = Map("x_heavy" -> Seq(2.9, 3.0, 3.2)))
    val tight = JsonMethods.parse(
      BenchAudit.auditJson(fast, refTight, "f", "r"))
    assert((tight \ "verdict").values == "headline_moved_unexplained")
    // wide reference runs: the reference draw was the contended one —
    // its inflated median explains the foreign speed-up
    val refWide = artifact(
      queries = Map("q1" -> 0.4, "x_heavy" -> 3.0,
        "pipe1_end_to_end" -> 4.0),
      stages = Map("q1" -> 4L, "x_heavy" -> 20L,
        "pipe1_end_to_end" -> 46L),
      runs = Map("x_heavy" -> Seq(1.4, 3.0, 7.2),
        "pipe1_end_to_end" -> Seq(1.9, 4.0, 9.5)))
    val wide = JsonMethods.parse(
      BenchAudit.auditJson(fast, refWide, "f", "r"))
    assert((wide \ "verdict").values == "contention_noise")
  }

  test("matching artifacts read as consistent") {
    val parsed = JsonMethods.parse(
      BenchAudit.auditJson(reference, reference, "f", "r"))
    assert((parsed \ "verdict").values == "consistent")
    assert((parsed \ "headline_ratio").values.toString.toDouble == 1.0)
  }

  // ---- scaling mode (round-17 verdict item 5): decade4/decade5
  // re-draws get the same rung ladder as the bench artifacts ----------

  /** SCALING.json-shaped synthetic artifact: one section with per-point
    * (median, runs, stages) per family.
    */
  private def scalingArtifact(
      cpus: Option[Int],
      fixture: String,
      queries: Map[String, Map[String, (Double, Seq[Double], Seq[Long])]],
      section: String = "decade5",
      runsPerPoint: Int = 5): String = {
    def pts[T](m: Map[String, T], f: T => String): String =
      m.toSeq.sortBy(_._1)
        .map { case (k, v) => Bench.jstr(k) + ":" + f(v) }
        .mkString("{", ",", "}")
    val qJson = queries.toSeq.sortBy(_._1).map { case (n, byPt) =>
      Bench.jstr(n) + ":{" +
        "\"sec\":" + pts(byPt.map { case (p, v) => p -> v._1 },
          (d: Double) => d.toString) + "," +
        "\"runs\":" + pts(byPt.map { case (p, v) => p -> v._2 },
          (r: Seq[Double]) => r.mkString("[", ",", "]")) + "," +
        "\"stages\":" + pts(byPt.map { case (p, v) => p -> v._3 },
          (s: Seq[Long]) => s.mkString("[", ",", "]")) + "}"
    }.mkString("{", ",", "}")
    val cpusJson = cpus.fold("")(c => s""""cpus":$c,""")
    s"""{"generated_by":"graft.ScalingBench",$cpusJson""" +
      s""""$section":{"fixture":${Bench.jstr(fixture)},""" +
      s""""runs_per_point":$runsPerPoint,"queries":$qJson}}"""
  }

  private def fam(pts: (String, (Double, Seq[Double], Seq[Long]))*)
      : Map[String, (Double, Seq[Double], Seq[Long])] = pts.toMap

  private val scalingRef = scalingArtifact(Some(32), "fx-v2", Map(
    "x_pagerank" -> fam(
      "sf0.1" -> (4.7, Seq(4.5, 4.7, 4.9), Seq(25L, 25L, 25L)),
      "x100" -> (66.0, Seq(61.0, 66.0, 72.0), Seq(22L, 22L, 22L))),
    "pipe2_curate_main" -> fam(
      "sf0.1" -> (5.2, Seq(5.0, 5.2, 5.5), Seq(72L, 72L, 72L)),
      "x100" -> (21.6, Seq(19.6, 21.6, 25.0), Seq(76L, 76L, 76L)))))

  test("scaling: identical artifacts read as consistent") {
    val parsed = JsonMethods.parse(BenchAudit.scalingAuditJson(
      scalingRef, scalingRef, "f", "r"))
    assert((parsed \ "verdict").values == "consistent")
    assert((parsed \ "shared_points").values.toString.toInt == 4)
    assert((parsed \ "max_point_ratio").values.toString.toDouble == 1.0)
  }

  test("scaling: a fixture bump or cross-width draw is config_mismatch " +
      "before any other rung") {
    val bumped = scalingArtifact(Some(32), "fx-v3", Map(
      "x_pagerank" -> fam(
        // would otherwise be a blatant plan change + 3x move
        "x100" -> (200.0, Seq(190.0, 200.0, 210.0), Seq(40L, 40L, 40L)))))
    val p1 = JsonMethods.parse(BenchAudit.scalingAuditJson(
      bumped, scalingRef, "f", "r"))
    assert((p1 \ "verdict").values == "config_mismatch")
    val narrow = scalingArtifact(Some(4), "fx-v2", Map(
      "x_pagerank" -> fam(
        "x100" -> (200.0, Seq(190.0, 200.0, 210.0), Seq(22L, 22L, 22L)))))
    val p2 = JsonMethods.parse(BenchAudit.scalingAuditJson(
      narrow, scalingRef, "f", "r"))
    assert((p2 \ "verdict").values == "config_mismatch")
    // both sides unstamped (pre-round-18 artifacts): fall through to
    // the evidence ladder rather than inventing a mismatch
    val legacyF = scalingArtifact(None, "fx-v2", Map(
      "x_pagerank" -> fam(
        "sf0.1" -> (4.7, Seq(4.5, 4.7, 4.9), Seq(25L, 25L, 25L)))))
    val p3 = JsonMethods.parse(BenchAudit.scalingAuditJson(
      legacyF, legacyF, "f", "r"))
    assert((p3 \ "verdict").values == "consistent")
  }

  test("scaling: a stage shift at one point is plan_change naming the " +
      "(section, family, point); the composed mains keep their ±1 band") {
    val shifted = scalingArtifact(Some(32), "fx-v2", Map(
      "x_pagerank" -> fam(
        "sf0.1" -> (4.7, Seq(4.5, 4.7, 4.9), Seq(25L, 25L, 25L)),
        "x100" -> (66.0, Seq(61.0, 66.0, 72.0), Seq(27L, 27L, 27L))),
      "pipe2_curate_main" -> fam(
        "sf0.1" -> (5.2, Seq(5.0, 5.2, 5.5), Seq(73L, 73L, 73L)),
        "x100" -> (21.6, Seq(19.6, 21.6, 25.0), Seq(76L, 76L, 76L)))))
    val parsed = JsonMethods.parse(BenchAudit.scalingAuditJson(
      shifted, scalingRef, "f", "r"))
    assert((parsed \ "verdict").values == "plan_change")
    val pc = (parsed \ "plan_changes").values.asInstanceOf[Map[String, Any]]
    assert(pc.keySet == Set("decade5/x_pagerank@x100"),
      "pagerank +5 stages must flag; pipe2 +1 must sit in the mains' band")
  }

  test("scaling: a >1.25x point move at flat plans is contention with " +
      "wide foreign runs, unexplained with tight ones") {
    def moved(runs: Seq[Double]) = scalingArtifact(Some(32), "fx-v2", Map(
      "x_pagerank" -> fam(
        "sf0.1" -> (4.7, Seq(4.5, 4.7, 4.9), Seq(25L, 25L, 25L)),
        "x100" -> (95.0, runs, Seq(22L, 22L, 22L))),
      "pipe2_curate_main" -> fam(
        "sf0.1" -> (5.2, Seq(5.0, 5.2, 5.5), Seq(72L, 72L, 72L)),
        "x100" -> (21.6, Seq(19.6, 21.6, 25.0), Seq(76L, 76L, 76L)))))
    val wide = JsonMethods.parse(BenchAudit.scalingAuditJson(
      moved(Seq(60.0, 95.0, 180.0)), scalingRef, "f", "r"))
    assert((wide \ "verdict").values == "contention_noise")
    val tight = JsonMethods.parse(BenchAudit.scalingAuditJson(
      moved(Seq(92.0, 95.0, 99.0)), scalingRef, "f", "r"))
    assert((tight \ "verdict").values == "headline_moved_unexplained")
  }

  test("scaling: no shared decade sections or missing stage evidence " +
      "refuses to classify") {
    val benchShaped =
      """{"metric":"total","value":7.4,"queries":{"q1":0.4}}"""
    val p1 = JsonMethods.parse(BenchAudit.scalingAuditJson(
      benchShaped, scalingRef, "f", "r"))
    assert((p1 \ "verdict").values == "insufficient_artifact")
    val noStages = scalingArtifact(Some(32), "fx-v2", Map(
      "x_pagerank" -> fam(
        "sf0.1" -> (4.7, Seq(4.5, 4.7, 4.9), Seq.empty[Long]))))
    val p2 = JsonMethods.parse(BenchAudit.scalingAuditJson(
      noStages, scalingRef, "f", "r"))
    assert((p2 \ "verdict").values == "insufficient_artifact")
  }

  test("scaling: the root tri-sf sweep is audited as its own section; " +
      "a bench-shaped flat queries map never qualifies") {
    def triSf(sfs: String, secs: Map[String, Double]): String = {
      val pts = secs.toSeq.sortBy(_._1).map { case (sf, s) =>
        Bench.jstr(sf) + ":" + s }.mkString("{", ",", "}")
      val runs = secs.toSeq.sortBy(_._1).map { case (sf, s) =>
        Bench.jstr(sf) + s":[${s * 0.95},$s,${s * 1.1}]" }
        .mkString("{", ",", "}")
      val stages = secs.keys.toSeq.sorted.map(sf =>
        Bench.jstr(sf) + ":[4,4,4]").mkString("{", ",", "}")
      s"""{"cpus":32,"runs_per_point":3,"sfs":$sfs,""" +
        s""""queries":{"q1_agg":{"sec":$pts,"runs":$runs,""" +
        s""""stages":$stages}}}"""
    }
    val a = triSf("""["0.001","0.01","0.1"]""",
      Map("0.001" -> 0.35, "0.01" -> 0.22, "0.1" -> 0.36))
    val parsed = JsonMethods.parse(BenchAudit.scalingAuditJson(
      a, a, "f", "r"))
    assert((parsed \ "sections").values == List("queries"))
    assert((parsed \ "shared_points").values.toString.toInt == 3)
    assert((parsed \ "verdict").values == "consistent")
    // a different sf grid is a config problem, not a comparison
    val narrowGrid = triSf("""["0.001","0.01"]""",
      Map("0.001" -> 0.35, "0.01" -> 0.22))
    val p2 = JsonMethods.parse(BenchAudit.scalingAuditJson(
      narrowGrid, a, "f", "r"))
    assert((p2 \ "verdict").values == "config_mismatch")
    // bench-shaped artifacts (flat name->median root queries) do not
    // impersonate a tri-sf section — with no decade sections either,
    // the pair refuses to classify
    val benchShaped =
      """{"metric":"total","value":7.4,"queries":{"q1":0.4},"cpus":32}"""
    val p3 = JsonMethods.parse(BenchAudit.scalingAuditJson(
      benchShaped, benchShaped, "f", "r"))
    assert((p3 \ "verdict").values == "insufficient_artifact")
  }

  test("scaling: a detected plan change outranks evidence holes at " +
      "other points") {
    // pagerank x100: +5 stages (real plan change). pipe2 x100: moved
    // 1.4x with NO runs array (an evidence hole). The hole must not
    // reclassify the detected plan change as insufficient_artifact.
    val shifted = scalingArtifact(Some(32), "fx-v2", Map(
      "x_pagerank" -> fam(
        "sf0.1" -> (4.7, Seq(4.5, 4.7, 4.9), Seq(25L, 25L, 25L)),
        "x100" -> (66.0, Seq(61.0, 66.0, 72.0), Seq(27L, 27L, 27L))),
      "pipe2_curate_main" -> fam(
        "sf0.1" -> (5.2, Seq(5.0, 5.2, 5.5), Seq(72L, 72L, 72L)),
        "x100" -> (30.0, Seq.empty[Double], Seq(76L, 76L, 76L)))))
    val parsed = JsonMethods.parse(BenchAudit.scalingAuditJson(
      shifted, scalingRef, "f", "r"))
    assert((parsed \ "verdict").values == "plan_change")
    val pc = (parsed \ "plan_changes").values.asInstanceOf[Map[String, Any]]
    assert(pc.keySet == Set("decade5/x_pagerank@x100"))
  }

  test("scaling: a section present on only one side refuses to read " +
      "as full-coverage consistent") {
    // reference predates decade5: the shared decade4 section is clean,
    // but a decade5 regression in the foreign draw was never compared —
    // partial coverage is an evidence hole, not a pass
    val d4fam = Map("x_ngram_jaccard" -> fam(
      "sf0.1" -> (1.8, Seq(1.7, 1.8, 1.9), Seq(7L, 7L, 7L))))
    val refOld = scalingArtifact(Some(32), "d4-v2", d4fam,
      section = "decade4", runsPerPoint = 3)
    def merged(a: String, b: String): String =
      a.dropRight(1) + "," + b.drop(1)
    val foreignBoth = merged(
      scalingArtifact(Some(32), "d4-v2", d4fam,
        section = "decade4", runsPerPoint = 3),
      scalingRef)
    val parsed = JsonMethods.parse(BenchAudit.scalingAuditJson(
      foreignBoth, refOld, "f", "r"))
    assert((parsed \ "verdict").values == "insufficient_artifact")
    assert((parsed \ "sections").values == List("decade4"))
    assert((parsed \ "sections_uncompared").values == List("decade5"))
  }

  test("scaling: a non-positive point median refuses to classify " +
      "instead of minting an astronomical ratio") {
    val corrupt = scalingArtifact(Some(32), "fx-v2", Map(
      "x_pagerank" -> fam(
        "sf0.1" -> (4.7, Seq(4.5, 4.7, 4.9), Seq(25L, 25L, 25L))),
      "pipe2_curate_main" -> fam(
        "sf0.1" -> (5.2, Seq(5.0, 5.2, 5.5), Seq(72L, 72L, 72L)))))
    val zeroRef = scalingArtifact(Some(32), "fx-v2", Map(
      "x_pagerank" -> fam(
        "sf0.1" -> (0.0, Seq(0.0, 0.0, 0.0), Seq(25L, 25L, 25L))),
      "pipe2_curate_main" -> fam(
        "sf0.1" -> (5.2, Seq(5.0, 5.2, 5.5), Seq(72L, 72L, 72L)))))
    val parsed = JsonMethods.parse(BenchAudit.scalingAuditJson(
      corrupt, zeroRef, "f", "r"))
    assert((parsed \ "verdict").values == "insufficient_artifact")
    assert((parsed \ "moved").values == Map.empty[String, Any])
  }

  test("scaling: the drills are audited as single-point arm families") {
    def drill(hintedSec: Double, query: String = "x_knn_ann"): String =
      s"""{"cpus":32,"fallback_drill":{"fixture":"bigemb-v1",""" +
        s""""query":${Bench.jstr(query)},""" +
        s""""fallback":{"median_sec":754.9,"runs":[777.0,754.9,750.3],""" +
        s""""stages":[16,16,16]},""" +
        s""""hinted":{"median_sec":$hintedSec,""" +
        s""""runs":[${hintedSec * 0.98},$hintedSec,${hintedSec * 1.05}],""" +
        s""""stages":[14,14,14]}}}"""
    val same = JsonMethods.parse(BenchAudit.scalingAuditJson(
      drill(320.4), drill(320.4), "f", "r"))
    assert((same \ "sections").values == List("fallback_drill"))
    assert((same \ "shared_points").values.toString.toInt == 2)
    assert((same \ "verdict").values == "consistent")
    // the hinted arm regressing 1.5x at tight runs and a flat plan is
    // a verdict a human must look at
    val slower = JsonMethods.parse(BenchAudit.scalingAuditJson(
      drill(490.0), drill(320.4), "f", "r"))
    assert((slower \ "verdict").values == "headline_moved_unexplained")
    // a drill re-pointed at a different query is a config problem
    val otherQuery = JsonMethods.parse(BenchAudit.scalingAuditJson(
      drill(320.4, query = "x_ann_probe_many"), drill(320.4), "f", "r"))
    assert((otherQuery \ "verdict").values == "config_mismatch")
  }

  test("scaling: a family present on only one side is an evidence " +
      "hole, not silently dropped from the comparison") {
    // round-18 ADVICE (medium): the shared-key intersection used to
    // drop a renamed/removed family so partial coverage read as
    // full-coverage consistent
    val missingPipe2 = scalingArtifact(Some(32), "fx-v2", Map(
      "x_pagerank" -> fam(
        "sf0.1" -> (4.7, Seq(4.5, 4.7, 4.9), Seq(25L, 25L, 25L)),
        "x100" -> (66.0, Seq(61.0, 66.0, 72.0), Seq(22L, 22L, 22L)))))
    val parsed = JsonMethods.parse(BenchAudit.scalingAuditJson(
      missingPipe2, scalingRef, "f", "r"))
    assert((parsed \ "verdict").values == "insufficient_artifact")
    assert((parsed \ "families_uncompared").values ==
      List("decade5/pipe2_curate_main"))
    assert((parsed \ "points_uncompared").values == List.empty,
      "points of a one-sided family report at family granularity only")
  }

  test("scaling: a point present on only one side of a shared family " +
      "is an evidence hole named at point granularity") {
    val missingX100 = scalingArtifact(Some(32), "fx-v2", Map(
      "x_pagerank" -> fam(
        "sf0.1" -> (4.7, Seq(4.5, 4.7, 4.9), Seq(25L, 25L, 25L))),
      "pipe2_curate_main" -> fam(
        "sf0.1" -> (5.2, Seq(5.0, 5.2, 5.5), Seq(72L, 72L, 72L)),
        "x100" -> (21.6, Seq(19.6, 21.6, 25.0), Seq(76L, 76L, 76L)))))
    val parsed = JsonMethods.parse(BenchAudit.scalingAuditJson(
      missingX100, scalingRef, "f", "r"))
    assert((parsed \ "verdict").values == "insufficient_artifact")
    assert((parsed \ "families_uncompared").values == List.empty)
    assert((parsed \ "points_uncompared").values ==
      List("decade5/x_pagerank@x100"))
  }

  test("scaling: a drill arm lacking median_sec on one side is an " +
      "evidence hole, not a silent drop") {
    def drill(withHintedMedian: Boolean): String = {
      val hinted =
        if (withHintedMedian)
          """"hinted":{"median_sec":320.4,"runs":[315.0,320.4,336.0],""" +
            """"stages":[14,14,14]}"""
        else """"hinted":{"runs":[315.0,320.4,336.0],"stages":[14,14,14]}"""
      s"""{"cpus":32,"fallback_drill":{"fixture":"bigemb-v1",""" +
        s""""query":"x_knn_ann",""" +
        s""""fallback":{"median_sec":754.9,"runs":[777.0,754.9,750.3],""" +
        s""""stages":[16,16,16]},$hinted}}"""
    }
    val parsed = JsonMethods.parse(BenchAudit.scalingAuditJson(
      drill(withHintedMedian = false), drill(withHintedMedian = true),
      "f", "r"))
    assert((parsed \ "verdict").values == "insufficient_artifact")
    assert((parsed \ "families_uncompared").values ==
      List("fallback_drill/hinted"))
  }

  test("scaling: a >1.25x SPEED-UP at flat stages surfaces like a " +
      "slowdown, and min_point_ratio is reported") {
    // round-18 ADVICE (low): a point silently doing less work after a
    // harness change folded into max_point_ratio as a value below 1
    // that max() hid
    val fast = scalingArtifact(Some(32), "fx-v2", Map(
      "x_pagerank" -> fam(
        "sf0.1" -> (4.7, Seq(4.5, 4.7, 4.9), Seq(25L, 25L, 25L)),
        "x100" -> (40.0, Seq(39.0, 40.0, 41.5), Seq(22L, 22L, 22L))),
      "pipe2_curate_main" -> fam(
        "sf0.1" -> (5.2, Seq(5.0, 5.2, 5.5), Seq(72L, 72L, 72L)),
        "x100" -> (21.6, Seq(19.6, 21.6, 25.0), Seq(76L, 76L, 76L)))))
    val parsed = JsonMethods.parse(BenchAudit.scalingAuditJson(
      fast, scalingRef, "f", "r"))
    assert((parsed \ "verdict").values == "headline_moved_unexplained")
    val mv = (parsed \ "moved").values.asInstanceOf[Map[String, Any]]
    assert(mv.keySet == Set("decade5/x_pagerank@x100"))
    assert((parsed \ "min_point_ratio").values.toString.toDouble < 0.8)
    assert((parsed \ "max_point_ratio").values.toString.toDouble <= 1.0)
  }

  test("scaling: a speed-up point is exonerated ONLY by wide REFERENCE " +
      "spread — a noisy foreign draw cannot green-light its own speed-up") {
    // round-19 review: the old partition tested the FOREIGN spread for
    // every move, so a speed-up with wide foreign runs (median still
    // down 0.6x) read contention_noise and sailed through round-open
    def fast(runs: Seq[Double]) = scalingArtifact(Some(32), "fx-v2", Map(
      "x_pagerank" -> fam(
        "sf0.1" -> (4.7, Seq(4.5, 4.7, 4.9), Seq(25L, 25L, 25L)),
        "x100" -> (40.0, runs, Seq(22L, 22L, 22L))),
      "pipe2_curate_main" -> fam(
        "sf0.1" -> (5.2, Seq(5.0, 5.2, 5.5), Seq(72L, 72L, 72L)),
        "x100" -> (21.6, Seq(19.6, 21.6, 25.0), Seq(76L, 76L, 76L)))))
    // wide FOREIGN runs around the fast median: NOT contention — the
    // reference's own spread (61-72, tight) is what would have to
    // explain it, and it can't
    val wideForeign = JsonMethods.parse(BenchAudit.scalingAuditJson(
      fast(Seq(22.0, 40.0, 58.0)), scalingRef, "f", "r"))
    assert((wideForeign \ "verdict").values == "headline_moved_unexplained")
    // same fast point against a WIDE-spread reference: the slow side
    // was the noisy one — contention explains the move
    val noisyRef = scalingArtifact(Some(32), "fx-v2", Map(
      "x_pagerank" -> fam(
        "sf0.1" -> (4.7, Seq(4.5, 4.7, 4.9), Seq(25L, 25L, 25L)),
        "x100" -> (66.0, Seq(30.0, 66.0, 150.0), Seq(22L, 22L, 22L))),
      "pipe2_curate_main" -> fam(
        "sf0.1" -> (5.2, Seq(5.0, 5.2, 5.5), Seq(72L, 72L, 72L)),
        "x100" -> (21.6, Seq(19.6, 21.6, 25.0), Seq(76L, 76L, 76L)))))
    val wideRef = JsonMethods.parse(BenchAudit.scalingAuditJson(
      fast(Seq(39.0, 40.0, 41.5)), noisyRef, "f", "r"))
    assert((wideRef \ "verdict").values == "contention_noise")
  }

  test("scaling: a section malformed identically on BOTH sides is an " +
      "uncompared section, not a silent coverage gap") {
    // round-19 review: a harness schema change (median_sec renamed)
    // present in both blobs yields zero point keys on either side —
    // no compared points AND no one-sided entries — so both drills
    // vanished from coverage while the sweep kept the verdict green
    def blob(): String = {
      val sweep = scalingArtifact(Some(32), "fx-v2", Map(
        "x_pagerank" -> fam(
          "sf0.1" -> (4.7, Seq(4.5, 4.7, 4.9), Seq(25L, 25L, 25L)))))
      val drill =
        """"fallback_drill":{"fixture":"bigemb-v1","query":"x_knn_ann",""" +
          """"fallback":{"median":754.9,"runs":[777.0,754.9,750.3],""" +
          """"stages":[16,16,16]},""" +
          """"hinted":{"median":320.4,"runs":[315.0,320.4,336.0],""" +
          """"stages":[14,14,14]}}"""
      sweep.dropRight(1) + "," + drill + "}"
    }
    val parsed = JsonMethods.parse(BenchAudit.scalingAuditJson(
      blob(), blob(), "f", "r"))
    assert((parsed \ "verdict").values == "insufficient_artifact")
    assert((parsed \ "sections_uncompared").values ==
      List("fallback_drill"))
  }

  test("the round-open gate passes only fully-evidenced verdicts") {
    assert(BenchAudit.roundOpenRefusal("consistent", "consistent").isEmpty)
    assert(BenchAudit.roundOpenRefusal(
      "contention_noise", "consistent").isEmpty)
    val benchRed = BenchAudit.roundOpenRefusal("plan_change", "consistent")
    assert(benchRed.exists(m =>
      m.contains("bench") && m.contains("plan_change")))
    val scalingRed = BenchAudit.roundOpenRefusal(
      "consistent", "config_mismatch")
    assert(scalingRed.exists(m =>
      m.contains("scaling") && m.contains("config_mismatch")))
    val bothRed = BenchAudit.roundOpenRefusal(
      "insufficient_artifact", "headline_moved_unexplained")
    assert(bothRed.exists(m => m.contains("bench") && m.contains("scaling")))
  }

  test("scaling: decade4 and decade5 are both audited when shared") {
    val d4 = scalingArtifact(Some(32), "d4-v2", Map(
      "x_ngram_jaccard" -> fam(
        "sf0.1" -> (1.8, Seq(1.7, 1.8, 1.9), Seq(7L, 7L, 7L)),
        "x10" -> (3.7, Seq(3.6, 3.7, 3.8), Seq(7L, 7L, 7L)))),
      section = "decade4", runsPerPoint = 3)
    // splice both sections into one artifact
    def merged(a: String, b: String): String =
      a.dropRight(1) + "," + b.drop(1)
    val both = merged(scalingRef, d4)
    val parsed = JsonMethods.parse(BenchAudit.scalingAuditJson(
      both, both, "f", "r"))
    assert((parsed \ "sections").values ==
      List("decade4", "decade5"))
    assert((parsed \ "shared_points").values.toString.toInt == 6)
    assert((parsed \ "verdict").values == "consistent")
  }

  private def committed(name: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(name)),
      java.nio.charset.StandardCharsets.UTF_8)

  test("the committed artifacts read as consistent against themselves, " +
      "every entry compared") {
    import org.json4s._
    val bench = committed("BENCH_FULL.json")
    val b = JsonMethods.parse(BenchAudit.auditJson(bench, bench, "f", "r"))
    assert((b \ "verdict").values == "consistent")
    val queries = (JsonMethods.parse(bench) \ "queries").values
      .asInstanceOf[Map[String, Any]]
    assert(queries.size >= 150)
    assert((b \ "shared_queries").values.toString.toInt == queries.size)

    val scaling = committed("SCALING.json")
    val s = JsonMethods.parse(BenchAudit.scalingAuditJson(
      scaling, scaling, "f", "r"))
    assert((s \ "verdict").values == "consistent")
    for (k <- Seq("sections_uncompared", "families_uncompared",
        "points_uncompared"))
      assert((s \ k).values == List.empty, k)
    // (family, point) entries of the three sweeps plus the drill arms,
    // counted from the file itself
    val a = JsonMethods.parse(scaling)
    def fields(v: JValue): List[(String, JValue)] = v match {
      case JObject(fs) => fs
      case _ => Nil
    }
    val sweepPoints = Seq(a, a \ "decade4", a \ "decade5").map(root =>
      fields(root \ "queries").map(fam => fields(fam._2 \ "sec").size).sum)
    val arms = Seq("fallback_drill", "rewrite_drill").map(d =>
      fields(a \ d).count(_._2 \ "median_sec" != JNothing))
    assert(sweepPoints.forall(_ > 0) && arms == Seq(2, 2))
    assert((s \ "shared_points").values.toString.toInt ==
      sweepPoints.sum + arms.sum)
  }

  test("the artifact's shape picks the audit; a mixed pair is refused " +
      "naming both shapes") {
    import BenchAudit.{BenchShape, ScalingShape, pairShape}
    val headlineOnly = """{"metric":"total","value":213.7}"""
    assert(pairShape(reference, headlineOnly) == Right(BenchShape))
    assert(pairShape(scalingRef, scalingRef) == Right(ScalingShape))
    val (bench, scaling) =
      (committed("BENCH_FULL.json"), committed("SCALING.json"))
    assert(pairShape(bench, bench) == Right(BenchShape))
    assert(pairShape(scaling, scaling) == Right(ScalingShape))
    assert((BenchShape.reference, BenchShape.out) ==
      ("HEAD:BENCH_FULL.json", "BENCH_AUDIT.json"))
    assert((ScalingShape.reference, ScalingShape.out) ==
      ("HEAD:SCALING.json", "SCALING_AUDIT.json"))
    for ((f, r) <- Seq(bench -> scaling, scalingRef -> reference))
      pairShape(f, r) match {
        case Left(msg) =>
          assert(msg.contains("bench") && msg.contains("scaling"), msg)
        case Right(shape) => fail(s"mixed pair audited as ${shape.name}")
      }
  }

  test("an artifact of neither shape is refused naming its root keys") {
    // a per-round wrapper nests the bench line under `parsed`: neither
    // a root "metric":"total" nor ScalingBench's generated_by stamp
    import BenchAudit.{pairShape, shapeOf}
    val wrapper = committed("bench_history/BENCH_r22.json")
    val scaling = committed("SCALING.json")
    assert(shapeOf(scaling) == Right(BenchAudit.ScalingShape))
    for ((f, r) <- Seq(wrapper -> scaling, scaling -> wrapper,
        wrapper -> wrapper))
      pairShape(f, r) match {
        case Left(msg) => assert(msg.contains("neither") &&
          msg.contains("parsed") && msg.contains("tail"), msg)
        case Right(shape) => fail(s"wrapper audited as ${shape.name}")
      }
    assert(shapeOf(wrapper).isLeft)
  }

  test("a runs array holding a non-number gives no spread evidence, " +
      "in both modes") {
    // the 1.9x contended bench shape, one sample in each runs array
    // malformed: no spread evidence is left, so the move cannot read
    // as noise
    val foreign = artifact(
      queries = Map("q1" -> 0.8, "x_heavy" -> 6.2,
        "pipe1_end_to_end" -> 7.5),
      stages = Map("q1" -> 5L, "x_heavy" -> 21L,
        "pipe1_end_to_end" -> 47L),
      runs = Map("x_heavy" -> Seq(2.9, 6.2, 15.0),
        "pipe1_end_to_end" -> Seq(4.1, 7.5, 18.0)))
      .replace("[2.9,6.2,15.0]", "[2.9,\"6.2\",15.0]")
      .replace("[4.1,7.5,18.0]", "[4.1,null,18.0]")
    val bench = JsonMethods.parse(
      BenchAudit.auditJson(foreign, reference, "f", "r"))
    assert((bench \ "verdict").values == "insufficient_artifact")
    assert((bench \ "contended").values == Map.empty[String, Any])
    // the same malformed sample on a wide scaling point
    val moved = scalingArtifact(Some(32), "fx-v2", Map(
      "x_pagerank" -> fam(
        "sf0.1" -> (4.7, Seq(4.5, 4.7, 4.9), Seq(25L, 25L, 25L)),
        "x100" -> (95.0, Seq(60.0, 95.0, 180.0), Seq(22L, 22L, 22L))),
      "pipe2_curate_main" -> fam(
        "sf0.1" -> (5.2, Seq(5.0, 5.2, 5.5), Seq(72L, 72L, 72L)),
        "x100" -> (21.6, Seq(19.6, 21.6, 25.0), Seq(76L, 76L, 76L)))))
      .replace("[60.0,95.0,180.0]", "[60.0,\"95.0\",180.0]")
    val scaling = JsonMethods.parse(BenchAudit.scalingAuditJson(
      moved, scalingRef, "f", "r"))
    assert((scaling \ "verdict").values == "insufficient_artifact")
    assert((scaling \ "contended").values == Map.empty[String, Any])
  }
}
