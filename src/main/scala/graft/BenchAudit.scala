package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.Bench.{jarr, jobj, jstr, median, r3}

/** Post-hoc bench-artifact provenance (round-15 verdict item 7): the
  * round-15 driver headline moved 1.86x on ZERO plan change, and
  * exonerating it took manual forensics (per-query stage diffs + runs
  * arrays). This main turns that forensics into one assertion: given a
  * FOREIGN full-bench artifact (a driver draw) and a REFERENCE one (the
  * builder's committed BENCH_FULL.json), it classifies every shared
  * query as plan-consistent or plan-changed (stage counts are
  * box-independent; wall seconds are not) and flags contended queries
  * (wide run spread at consistent plans), emitting ONE JSON line whose
  * `verdict` says "noise vs plan-change" — committed next to each
  * round's artifact so the next 213-second headline carries its own
  * explanation. SCALING.json-shaped pairs get the same rungs per
  * (section, family, point) — [[scalingAuditJson]].
  *
  * Both classifiers read an artifact the same way: flattened once into
  * a key -> [[Side]] map ([[benchPoints]], [[scalingPoints]]), then the
  * two maps are compared.
  *
  * Usage: graft.BenchAudit <foreignArtifact> [<referenceArtifact>].
  * The foreign artifact's shape ([[shapeOf]]) picks the audit, its
  * default reference (`git show HEAD:BENCH_FULL.json` or
  * `HEAD:SCALING.json`) and the file it writes (BENCH_AUDIT.json or
  * SCALING_AUDIT.json); the line is also printed. Pure classification
  * lives in [[auditJson]] / [[scalingAuditJson]] so `BenchAuditSpec`
  * pins it without artifacts.
  */
object BenchAudit {

  /** Run-spread threshold: max/min > 2 at a consistent plan reads as
    * contention (the demonstrated 3x single-draw swing on this box
    * class), not cost drift.
    */
  private val SpreadThreshold = 2.0

  /** One artifact entry (a bench query, or a scaling point or drill
    * arm): its median seconds, its median sample's stage count and its
    * run spread, each absent when the artifact does not carry it.
    */
  private final case class Side(sec: Option[Double],
      stages: Option[Double], spread: Option[Double])

  private def num(v: JValue): Option[Double] = v match {
    case JDouble(d) => Some(d)
    case JDecimal(d) => Some(d.toDouble)
    case JInt(i) => Some(i.toDouble)
    case JLong(l) => Some(l.toDouble)
    case _ => None
  }

  /** The numbers of a non-empty array holding nothing but numbers. */
  private def nums(v: JValue): Option[Seq[Double]] = v match {
    case JArray(vs) =>
      val ns = vs.flatMap(num)
      if (ns.size == vs.size && ns.nonEmpty) Some(ns) else None
    case _ => None
  }

  private def str(v: JValue): Option[String] = v match {
    case JString(s) => Some(s)
    case _ => None
  }

  private def keys(v: JValue): Seq[String] = v match {
    case JObject(fields) => fields.map(_._1)
    case _ => Nil
  }

  /** The one run-spread rule: max/min over a runs array of at least two
    * samples. An array holding anything but numbers is no spread
    * evidence at all.
    */
  private def spread(runs: JValue): Option[Double] =
    nums(runs).filter(_.size >= 2).map(xs => xs.max / math.max(xs.min, 1e-9))

  /** The one plan-change test: both stage counts present and apart by
    * more than `slack` plus the composed mains' racing AQE exchange
    * allowance (`PipelineBench.asyncExchangeBand`, the
    * ScalingContractSpec band). A real extra shuffle/fit moves the
    * count by whole stages per sample and clears the band (the
    * round-15 refit was +26 stages over 3 samples).
    *
    * Bench artifacts pass a slack of 2: the async cost listener can
    * shift ±1 stage into a neighboring query. SCALING.json's
    * within-point stage flatness is itself a committed contract, so
    * scaling points pass 0 — a cross-round diff past the band means
    * the code change between the rounds moved the plan at that point.
    */
  private def planChanged(name: String, slack: Long)(f: Side, r: Side)
      : Boolean = f.stages.zip(r.stages).exists { case (fs, rs) =>
    math.abs(fs - rs) > slack + PipelineBench.asyncExchangeBand(name)
  }

  private def cpus(v: JValue): Option[Double] = num(v \ "cpus").filter(_ > 0)

  /** Cross-width draws are not comparable AT ALL — Sessions.local sizes
    * shuffle partitions to the core count, so a 4-core artifact has
    * genuinely different plans and even the stage-count signal reads as
    * spurious plan changes (the round-17 local[4] mis-draw). Only both
    * stamps present and different is a mismatch: an absent stamp
    * (pre-round-17 artifacts) cannot attest one.
    */
  private def cpusMismatch(f: JValue, r: JValue): Boolean =
    cpus(f).zip(cpus(r)).exists { case (a, b) => a != b }

  /** The keys both sides measured (a numeric `sec` on both), in the
    * foreign map's order.
    */
  private def sharedKeys(f: Map[String, Side], r: Map[String, Side])
      : Seq[String] = f.keys.toSeq.filter(k =>
    f(k).sec.isDefined && r.get(k).exists(_.sec.isDefined))

  private def planChangesJson(keys: Seq[String], f: Map[String, Side],
      r: Map[String, Side]): String = jobj(keys.map(k => k -> jobj(Seq(
    "ref_stages" -> r(k).stages.fold(0L)(_.toLong).toString,
    "foreign_stages" -> f(k).stages.fold(0L)(_.toLong).toString,
    "ref_sec" -> r3(r(k).sec.getOrElse(0.0)),
    "foreign_sec" -> r3(f(k).sec.getOrElse(0.0))))))

  /** `key -> 3-decimal number` objects: contended spreads, moved ratios. */
  private def numsJson(xs: Seq[(String, Double)]): String =
    jobj(xs.map { case (k, v) => k -> r3(v) })

  /** A bench artifact flattened to query name -> [[Side]]: `sec` from
    * `queries`, `stages` from `stages`, `spread` from `runs`. A name
    * in any of the three maps is an entry; entries are name-sorted.
    */
  private def benchPoints(v: JValue): ListMap[String, Side] = ListMap(
    (keys(v \ "queries") ++ keys(v \ "stages") ++ keys(v \ "runs"))
      .distinct.sorted.map(n => n -> Side(num(v \ "queries" \ n),
        num(v \ "stages" \ n), spread(v \ "runs" \ n))): _*)

  /** Classify `foreign` against `reference` (both BENCH_FULL-shaped
    * JSON). Returns the one-line audit JSON.
    */
  def auditJson(foreign: String, reference: String,
      foreignLabel: String, referenceLabel: String): String = {
    val f = JsonMethods.parse(foreign)
    val r = JsonMethods.parse(reference)
    val (fp, rp) = (benchPoints(f), benchPoints(r))
    val shared = sharedKeys(fp, rp)
    val planChanges = shared.filter(n => planChanged(n, 2L)(fp(n), rp(n)))

    // contended: wide run spread at a plan consistent with reference.
    // One definition for both sides: a threshold or filter change can
    // never diverge the foreign and reference contention sets again
    def contendedIn(side: Map[String, Side]): Seq[(String, Double)] =
      shared.filterNot(planChanges.contains).flatMap(n =>
        side(n).spread.filter(_ > SpreadThreshold).map(n -> _))
    val contended = contendedIn(fp)
    // contention on the REFERENCE draw: the only evidence that can
    // legitimately exonerate a foreign SPEED-UP — foreign contention
    // inflates the foreign median, it can never shrink it, so a fast
    // headline needs the slow side's noise attested (round-19 review)
    val rContended = contendedIn(rp)

    // refits: fit counters in the foreign artifact above the one-fit
    // contract (absent section = pre-round-16 artifact, not judged)
    val refits = keys(f \ "fit_counts").sorted.flatMap(n =>
      num(f \ "fit_counts" \ n).filter(_ > 1.0).map(c => n -> c.toLong))

    val fTotal = num(f \ "value").getOrElse(0.0)
    val rTotal = num(r \ "value").getOrElse(0.0)
    val ratio = if (rTotal > 0) fTotal / rTotal else 0.0

    // does an artifact carry ANY run-spread evidence? The
    // contention_noise verdict rests on it; an artifact with stage maps
    // but no runs arrays cannot attest noise, so a moved headline over
    // it must NOT fold into "consistent" (round-16 ADVICE 2).
    def hasRuns(side: Map[String, Side]) =
      side.values.exists(_.spread.nonEmpty)
    def hasStages(side: Map[String, Side]) =
      side.values.exists(_.stages.nonEmpty)

    // Verdict ladder, most- to least-evidenced (round-16 ADVICE 2
    // hardened the degenerate rungs):
    //  - no stage maps (the driver's headline-only BENCH_rN line): no
    //    plan evidence at all — insufficient, never "consistent";
    //  - missing/non-positive headline totals: the ratio the verdict
    //    hangs on is unmeasurable — insufficient, not a silent 0.000;
    //  - plan_change / contention_noise as before;
    //  - a >1.25x headline at in-band stages needs run-spread evidence
    //    to call noise: absent runs arrays -> insufficient_artifact;
    //    present-but-tight runs -> headline_moved_unexplained (a real
    //    verdict a human must look at, not a default pass);
    //  - the move test is SYMMETRIC (round-19 review, matching the
    //    scaling mode): a <0.8x headline — the foreign draw silently
    //    doing less work — surfaces the same way, and the only
    //    spread that can exonerate it is the REFERENCE side's (a
    //    contended reference median is inflated; foreign contention
    //    can never make the foreign draw faster).
    val verdict =
      if (cpusMismatch(f, r)) "config_mismatch"
      else if (!hasStages(fp) || !hasStages(rp)) "insufficient_artifact"
      else if (fTotal <= 0 || rTotal <= 0) "insufficient_artifact"
      else if (planChanges.nonEmpty || refits.nonEmpty) "plan_change"
      else if (ratio > 1.25 && contended.nonEmpty) "contention_noise"
      else if (ratio > 1.25 && !hasRuns(fp)) "insufficient_artifact"
      else if (ratio > 1.25) "headline_moved_unexplained"
      else if (ratio < 0.8 && rContended.nonEmpty) "contention_noise"
      else if (ratio < 0.8 && !hasRuns(rp)) "insufficient_artifact"
      else if (ratio < 0.8) "headline_moved_unexplained"
      else "consistent"

    jobj(Seq("generated_by" -> jstr("graft.BenchAudit"),
      "foreign" -> jstr(foreignLabel),
      "reference" -> jstr(referenceLabel),
      "verdict" -> jstr(verdict),
      "headline_ratio" -> r3(ratio),
      "shared_queries" -> shared.size.toString,
      "plan_changes" -> planChangesJson(planChanges, fp, rp),
      "refits" -> jobj(refits.map { case (n, c) => n -> c.toString }),
      "contended" -> numsJson(contended)))
  }

  private val Drills = Seq("fallback_drill", "rewrite_drill")

  /** A scaling artifact's sections in artifact order, each with its
    * root. The tri-sf sweep lives at the artifact ROOT (families under
    * root "queries", sample count in root "runs_per_point", the sf grid
    * in root "sfs") — it is the section named "queries", recognized by
    * object-shaped family entries so a bench-shaped artifact's flat
    * name->median map never qualifies.
    */
  private def sectionsOf(v: JValue): ListMap[String, JValue] = {
    val triSf = (v \ "queries") match {
      case JObject(fields) => fields.exists(_._2 \ "sec" != JNothing)
      case _ => false
    }
    ListMap((if (triSf) Seq("queries" -> v) else Nil) ++
      (Seq("decade4", "decade5") ++ Drills).map(s => s -> (v \ s))
        .filter(_._2 != JNothing): _*)
  }

  /** A scaling artifact flattened to `section/family@point` -> [[Side]],
    * in section order, then family and point name order. Sweeps carry
    * per-point maps under each family: `sec`, the median of `stages`,
    * the spread of `runs`. A drill's families are its arms (those with
    * a `median_sec`), each the one point `drill`: `median_sec`, the
    * median of `stages`, the spread of `runs`.
    */
  private def scalingPoints(v: JValue): ListMap[String, Side] =
    ListMap(sectionsOf(v).toSeq.flatMap {
      case (s, sv) if Drills.contains(s) =>
        keys(sv).sorted.filter(a => (sv \ a \ "median_sec") != JNothing)
          .map(a => s"$s/$a@drill" -> Side(num(sv \ a \ "median_sec"),
            nums(sv \ a \ "stages").map(median), spread(sv \ a \ "runs")))
      case (s, sv) =>
        keys(sv \ "queries").sorted.flatMap { n =>
          val q = sv \ "queries" \ n
          keys(q \ "sec").sorted.map(p => s"$s/$n@$p" -> Side(
            num(q \ "sec" \ p), nums(q \ "stages" \ p).map(median),
            spread(q \ "runs" \ p)))
        }
    }: _*)

  /** Classify two SCALING.json-shaped artifacts (round-17 verdict item
    * 5): BenchAudit classified BENCH_FULL pairs while scaling re-draws
    * were still compared by hand across rounds. Covers every measured
    * section — the root tri-sf sweep (as section "queries"),
    * decade4/decade5, and both drills (each arm a single-point
    * family). Same rungs as [[auditJson]], applied per (section,
    * family, point), with one deliberate ordering difference: a
    * DETECTED plan change always outranks evidence holes elsewhere in
    * the artifact (in the bench mode the holes are artifact-global, so
    * the question never arises; here one malformed point must not
    * reclassify another point's real plan change as "re-draw needed").
    *
    *  - `config_mismatch`: cpus stamps both present and different, or
    *    a shared section's fixture string / sf grid / runs_per_point /
    *    drill query differ — cross-width and cross-fixture draws are
    *    not comparable at all (the round-17 local[4] mis-draw; a
    *    fixture bump re-bases every median). A cpus stamp absent on
    *    one side cannot attest a mismatch (pre-round-18 blobs are
    *    legitimately unstamped) but IS surfaced in the output's
    *    `cpus` field — `ScalingContractSpec` guarantees every
    *    committed artifact from round 18 on carries the stamp, so the
    *    tolerant branch ages out of the history it exists for;
    *  - `plan_change`: a shared point's stage medians disagree past
    *    [[planChanged]]'s band (no listener slack);
    *  - `insufficient_artifact`: no shared points at all, a section /
    *    family / point / drill arm present on only one side (partial
    *    coverage must not read as a full-coverage "consistent" — the
    *    uncompared entries are listed in `sections_uncompared` /
    *    `families_uncompared` / `points_uncompared`; round-18 ADVICE:
    *    the original hardening stopped at whole-section granularity,
    *    so a renamed family or a decade point missing from one draw
    *    was silently dropped from the comparison), a shared point
    *    without stage evidence or with a non-positive median, or a
    *    moved point with no run-spread evidence;
    *  - `contention_noise` / `headline_moved_unexplained`: a point
    *    median moved PAST 1.25x in either direction (round-18 ADVICE:
    *    a large unexplained speed-up at flat stages — a point silently
    *    doing less work — must surface the same way a slowdown does;
    *    `min_point_ratio` is reported alongside `max_point_ratio` so
    *    cross-round speed-ups are visible even below the move line),
    *    with / without run spread attesting contention ON THE SIDE
    *    THAT CAN EXPLAIN IT — contention inflates a median, never
    *    shrinks it, so a slowdown is exonerated by wide FOREIGN
    *    spread and a speed-up only by wide REFERENCE spread (a noisy
    *    foreign draw must not green-light its own speed-up);
    *  - a shared section whose point grid is empty on BOTH sides
    *    (a harness schema change present in both blobs) is surfaced
    *    in `sections_uncompared` rather than vanishing from coverage;
    *  - `consistent` otherwise.
    */
  def scalingAuditJson(foreign: String, reference: String,
      foreignLabel: String, referenceLabel: String): String = {
    val f = JsonMethods.parse(foreign)
    val r = JsonMethods.parse(reference)
    val (fRoots, rRoots) = (sectionsOf(f), sectionsOf(r))
    val sections = fRoots.keys.toSeq.filter(rRoots.contains)

    // per-section config agreement: same fixture (decades, drills) /
    // same sf grid (tri-sf) / same drill query, same sample count
    val configMismatches = sections.flatMap { s =>
      Seq[(String, JValue => Option[Any])]("fixture" -> str,
        "sfs" -> ((v: JValue) => Some(v).collect { case a: JArray => a }),
        "query" -> str, "runs_per_point" -> num).collect {
        case (k, get) if get(fRoots(s) \ k).zip(get(rRoots(s) \ k))
          .exists { case (a, b) => a != b } => s"$s.$k"
      }
    } ++ (if (cpusMismatch(f, r)) Seq("cpus") else Nil)

    // every point of a shared section, each side enumerated on its own:
    // an entry present on only one side — a renamed/removed family, a
    // decade point missing from one draw, a drill arm lacking
    // median_sec — is an evidence hole (round-18 ADVICE), reported at
    // family granularity when the whole family is one-sided and at
    // point granularity otherwise; so is a point whose median is not a
    // number on one side
    def section(k: String) = k.takeWhile(_ != '/')
    def family(k: String) = k.take(k.lastIndexOf('@'))
    val fp = scalingPoints(f).filter(e => sections.contains(section(e._1)))
    val rp = scalingPoints(r).filter(e => sections.contains(section(e._1)))
    val points = sharedKeys(fp, rp)
    def perSection(ks: Set[String]): Seq[String] =
      sections.flatMap(s => ks.filter(section(_) == s).toSeq.sorted)
    val (ff, rf) = (fp.keySet.map(family), rp.keySet.map(family))
    val familiesUncompared = perSection((ff ++ rf) -- (ff & rf))
    val pointsUncompared = perSection(fp.keySet ++ rp.keySet -- points)
      .filterNot(k => familiesUncompared.contains(family(k)))
    // a section present on only one side is an evidence hole, and so is
    // a shared section with no points on EITHER side (a harness schema
    // change renaming median_sec/sec present in both blobs, round-19
    // review) — it would otherwise vanish from coverage entirely
    val sectionsUncompared =
      (fRoots.keys ++ rRoots.keys).toSeq.distinct
        .filterNot(sections.contains) ++
        sections.filterNot(s => (fp.keys ++ rp.keys).exists(section(_) == s))

    // evidence holes: a point that cannot be judged (no stage medians,
    // non-positive wall) — auditJson screens these artifact-globally
    // (empty stage maps, non-positive totals); here the same screens
    // apply per point
    def sec(side: Map[String, Side], k: String) = side(k).sec.getOrElse(0.0)
    val nonPositive = points.filter(k => sec(fp, k) <= 0 || sec(rp, k) <= 0)
    val judgeable = points.filterNot(nonPositive.contains)
    val noStageEvidence = judgeable.filter(k =>
      fp(k).stages.isEmpty || rp(k).stages.isEmpty)
    val planChanges = judgeable.filter(k => planChanged(
      family(k).drop(section(k).length + 1), 0L)(fp(k), rp(k)))
    def ratio(k: String): Double = sec(fp, k) / math.max(sec(rp, k), 1e-9)
    // symmetric move test (round-18 ADVICE): a point silently doing
    // LESS work after a harness change moves the ratio below 1 at flat
    // stages, and max() over the other points hides it — a >1.25x move
    // in either direction needs the same spread evidence
    val moved = judgeable.filter(k => (ratio(k) > 1.25 || ratio(k) < 0.8) &&
      !planChanges.contains(k) && !noStageEvidence.contains(k))
    // side-aware exoneration (round-19 review): contention inflates a
    // median, never shrinks it — a SLOWDOWN is explained by wide
    // FOREIGN spread, a SPEED-UP only by wide REFERENCE spread (the
    // slow side was the noisy one). The evidence-absence screen uses
    // the same side the exoneration would.
    def explainSpread(k: String): Option[Double] =
      (if (ratio(k) > 1.25) fp(k) else rp(k)).spread
    val (contended, movedRest) = moved.partition(k =>
      explainSpread(k).exists(_ > SpreadThreshold))
    val (movedNoEvidence, movedTight) =
      movedRest.partition(k => explainSpread(k).isEmpty)
    val ratios = judgeable.map(ratio)
    val evidenceHoles = sectionsUncompared.nonEmpty ||
      familiesUncompared.nonEmpty || pointsUncompared.nonEmpty ||
      nonPositive.nonEmpty || noStageEvidence.nonEmpty ||
      movedNoEvidence.nonEmpty

    // a DETECTED plan change outranks evidence holes elsewhere: one
    // malformed point must not reclassify another point's real plan
    // change as "re-draw needed" (auditJson's holes are artifact-
    // global, so its ladder never faces the choice)
    val verdict =
      if (configMismatches.nonEmpty) "config_mismatch"
      else if (points.isEmpty) "insufficient_artifact"
      else if (planChanges.nonEmpty) "plan_change"
      else if (evidenceHoles) "insufficient_artifact"
      else if (movedTight.nonEmpty) "headline_moved_unexplained"
      else if (contended.nonEmpty) "contention_noise"
      else "consistent"

    // stamps are reported even when absence keeps the verdict tolerant
    // (a null here on a post-round-18 artifact is itself the finding)
    def cpusJson(v: JValue): String = cpus(v).fold("null")(_.toLong.toString)
    def names(xs: Seq[String]) = jarr(xs.map(jstr))
    jobj(Seq("generated_by" -> jstr("graft.BenchAudit"),
      "mode" -> jstr("scaling"),
      "foreign" -> jstr(foreignLabel),
      "reference" -> jstr(referenceLabel),
      "verdict" -> jstr(verdict),
      "cpus" -> jobj(Seq("foreign" -> cpusJson(f), "reference" -> cpusJson(r))),
      "sections" -> names(sections),
      "sections_uncompared" -> names(sectionsUncompared),
      "families_uncompared" -> names(familiesUncompared),
      "points_uncompared" -> names(pointsUncompared),
      "shared_points" -> points.size.toString,
      "max_point_ratio" -> r3(if (ratios.isEmpty) 0.0 else ratios.max),
      "min_point_ratio" -> r3(if (ratios.isEmpty) 0.0 else ratios.min),
      "config_mismatches" -> names(configMismatches),
      "plan_changes" -> planChangesJson(planChanges, fp, rp),
      "moved" -> numsJson((movedTight ++ movedNoEvidence)
        .map(k => k -> ratio(k))),
      "contended" -> numsJson(contended.map(k =>
        k -> explainSpread(k).getOrElse(0.0)))))
  }

  /** The round-open gate (round-18 verdict item 3): the per-round
    * ritual runs BOTH audits — the incoming driver bench draw against
    * the prior builder-committed `BENCH_FULL.json`, and the current
    * `SCALING.json` against the prior round's committed blob — and the
    * round must not build on the draw unless both land on a verdict
    * that needs no human action. `consistent` and `contention_noise`
    * are green (noise is the demonstrated box behavior, fully
    * evidenced by run spread); everything else — a plan change on
    * supposedly-identical code, a config mismatch, an evidence hole,
    * an unexplained move — is a finding to inspect first.
    */
  def roundOpenRefusal(benchVerdict: String,
      scalingVerdict: String): Option[String] = {
    val green = Set("consistent", "contention_noise")
    val red = Seq("bench" -> benchVerdict, "scaling" -> scalingVerdict)
      .filterNot { case (_, v) => green(v) }
    if (red.isEmpty) None
    else Some(red.map { case (m, v) => s"$m audit verdict '$v'" }
      .mkString("round-open gate RED: ", "; ",
        " — read the committed audit artifacts before building on this draw"))
  }

  /** An artifact shape: its classifier, the reference a lone foreign
    * artifact is audited against, and the file the audit line goes to.
    */
  private[graft] final case class Shape(name: String, reference: String,
      out: String, audit: (String, String, String, String) => String)
  private[graft] val BenchShape = Shape("bench", "HEAD:BENCH_FULL.json",
    "BENCH_AUDIT.json", auditJson)
  private[graft] val ScalingShape = Shape("scaling", "HEAD:SCALING.json",
    "SCALING_AUDIT.json", scalingAuditJson)

  /** A root `"metric":"total"` (the [[Bench.jsonLine]] contract) marks
    * a bench artifact and a root `"generated_by":"graft.ScalingBench"`
    * a scaling artifact. Anything else (a per-round wrapper such as
    * `bench_history/BENCH_r22.json`, which nests the bench line under
    * `parsed`) is refused, naming its root keys.
    */
  private[graft] def shapeOf(json: String): Either[String, Shape] = {
    val root = JsonMethods.parse(json)
    if ((root \ "metric") == JString("total")) Right(BenchShape)
    else if ((root \ "generated_by") == JString("graft.ScalingBench"))
      Right(ScalingShape)
    else {
      val keys = root match {
        case JObject(fs) => fs.map(_._1)
        case _ => Nil
      }
      Left("neither a bench artifact (root \"metric\":\"total\") nor a " +
        "scaling artifact (root \"generated_by\":\"graft.ScalingBench\"); " +
        s"root keys: ${keys.mkString("[", ", ", "]")}")
    }
  }

  /** The shape a (foreign, reference) pair is audited as, or a refusal:
    * naming the artifact of neither shape, or — when the two differ in
    * shape — naming both shapes. Pure so the spec can pin it.
    */
  private[graft] def pairShape(foreign: String, reference: String)
      : Either[String, Shape] =
    for {
      f <- shapeOf(foreign).left.map("the foreign artifact is " + _)
      r <- shapeOf(reference).left.map("the reference is " + _)
      _ <- Either.cond(f == r, (), "the foreign artifact is " +
        s"${f.name}-shaped but the reference is ${r.name}-shaped — " +
        "audit two artifacts of one shape")
    } yield f

  /** Resolve a `<rev>:<path>` spec against the CURRENT working
    * directory's repository (round-17 ADVICE: a hardcoded checkout
    * path silently read the wrong repo from any other checkout).
    * Stderr is discarded rather than drained: `git show` of a blob
    * writes only the blob to stdout, and a full stderr pipe would
    * otherwise block the child before `waitFor`.
    */
  private[graft] def gitShow(spec: String): String = {
    val p = new ProcessBuilder("git", "show", spec)
      .redirectError(ProcessBuilder.Redirect.DISCARD)
      .start()
    val out = new String(p.getInputStream.readAllBytes(),
      StandardCharsets.UTF_8)
    require(p.waitFor() == 0 && out.nonEmpty,
      s"git show $spec failed — pass a plain artifact path instead")
    out
  }

  /** An artifact's text and label: a path, or a `<rev>:<path>` git spec
    * (self-documenting provenance for the committed audit — by audit
    * time the artifacts compared may only exist as git blobs).
    */
  private def readArg(p: String): (String, String) =
    if (p.contains(':') && !Files.exists(Paths.get(p)))
      (gitShow(p), s"git show $p")
    else (new String(Files.readAllBytes(Paths.get(p)),
      StandardCharsets.UTF_8), p)

  /** A [[shapeOf]] / [[pairShape]] result, or its refusal as an
    * exception — raised before any audit file is written.
    */
  private def orRefuse(shape: Either[String, Shape]): Shape =
    shape.fold(msg => throw new IllegalArgumentException(msg), identity)

  private def writeLine(file: String, line: String): Unit = {
    Files.write(Paths.get(file), line.getBytes(StandardCharsets.UTF_8))
    println(line)
  }

  /** One-command round-open ritual: bench audit + scaling audit, both
    * artifacts written (so a red verdict can be inspected), THEN the
    * gate — a non-green verdict on either audit fails the run. A pair
    * of mixed shapes, or the two pairs swapped, is refused before
    * either audit runs.
    */
  private def roundOpen(specs: Seq[String]): Unit = {
    require(specs.size == 4,
      "usage: graft.BenchAudit --round-open <driverBench> <priorBench> " +
        "<currentScaling> <priorScaling> (each a path or <rev>:<path>)")
    val Seq((fb, fbL), (rb, rbL), (fs, fsL), (rs, rsL)) = specs.map(readArg)
    val shapes = Seq(orRefuse(pairShape(fb, rb)), orRefuse(pairShape(fs, rs)))
    require(shapes == Seq(BenchShape, ScalingShape),
      s"round-open got a ${shapes.map(_.name).mkString(" pair, then a ")} " +
        "pair — pass the bench pair first: <driverBench> <priorBench> " +
        "<currentScaling> <priorScaling>")
    val benchLine = auditJson(fb, rb, fbL, rbL)
    writeLine(BenchShape.out, benchLine)
    val scalingLine = scalingAuditJson(fs, rs, fsL, rsL)
    writeLine(ScalingShape.out, scalingLine)
    def verdictOf(line: String): String =
      (JsonMethods.parse(line) \ "verdict") match {
        case JString(s) => s
        case _ => "unparseable"
      }
    roundOpenRefusal(verdictOf(benchLine), verdictOf(scalingLine))
      .foreach(msg => throw new IllegalStateException(msg))
    println("round-open gate GREEN: both audits committed-ready")
  }

  def main(args: Array[String]): Unit = {
    val paths = args.filterNot(_ == "--round-open").toSeq
    if (args.contains("--round-open")) { roundOpen(paths); return }
    require(paths.nonEmpty,
      "usage: graft.BenchAudit <foreignArtifact> [<referenceArtifact>] " +
        "(either may be a <rev>:<path> git spec; the foreign artifact's " +
        "shape picks the audit and its default reference; --round-open " +
        "runs both audits and gates)")
    val (foreign, foreignLabel) = readArg(paths(0))
    val (reference, refLabel) =
      readArg(paths.lift(1).getOrElse(orRefuse(shapeOf(foreign)).reference))
    val shape = orRefuse(pairShape(foreign, reference))
    writeLine(shape.out,
      shape.audit(foreign, reference, foreignLabel, refLabel))
  }
}
