package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.Bench.{median, r3}

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
  * explanation.
  *
  * Usage: graft.BenchAudit <foreignArtifact> [<referenceArtifact>]
  * (reference defaults to `git show HEAD:BENCH_FULL.json`). Writes
  * BENCH_AUDIT.json and prints the line. Pure classification lives in
  * [[auditJson]] so `BenchAuditSpec` pins it without artifacts.
  */
object BenchAudit {

  /** Stage-count agreement band between two artifacts of the same code:
    * the async cost listener can shift ±1 stage into a neighboring
    * query, and the composed mains' racing AQE exchange jobs add one
    * more non-deterministic stage (the ScalingContractSpec band) — so
    * plans are "changed" only past listener noise + the composed-main
    * allowance. A real extra shuffle/fit moves the count by whole
    * stages per sample and clears the band (the round-15 refit was +26
    * stages over 3 samples).
    */
  private def planBand(name: String): Long =
    2L + PipelineBench.asyncExchangeBand(name)

  /** Run-spread threshold: max/min > 2 at a consistent plan reads as
    * contention (the demonstrated 3x single-draw swing on this box
    * class), not cost drift.
    */
  private val SpreadThreshold = 2.0

  private def num(v: JValue): Option[Double] = v match {
    case JDouble(d) => Some(d)
    case JDecimal(d) => Some(d.toDouble)
    case JInt(i) => Some(i.toDouble)
    case JLong(l) => Some(l.toDouble)
    case _ => None
  }

  private def numMap(v: JValue): Map[String, Double] = v match {
    case JObject(fields) =>
      fields.flatMap { case (k, jv) => num(jv).map(k -> _) }.toMap
    case _ => Map.empty
  }

  /** Classify `foreign` against `reference` (both BENCH_FULL-shaped
    * JSON). Returns the one-line audit JSON.
    */
  def auditJson(foreign: String, reference: String,
      foreignLabel: String, referenceLabel: String): String = {
    val f = JsonMethods.parse(foreign)
    val r = JsonMethods.parse(reference)
    val fSec = numMap(f \ "queries"); val rSec = numMap(r \ "queries")
    val fStages = numMap(f \ "stages"); val rStages = numMap(r \ "stages")
    val shared = (fSec.keySet & rSec.keySet).toSeq.sorted

    // plan changes: median-sample stage counts disagree past the band
    val planChanges = shared.flatMap { n =>
      for {
        fs <- fStages.get(n); rs <- rStages.get(n)
        if math.abs(fs - rs) > planBand(n)
      } yield n -> ((rs.toLong, fs.toLong,
        fSec.getOrElse(n, 0.0), rSec.getOrElse(n, 0.0)))
    }

    // contended: wide run spread at a plan consistent with reference
    def spread(v: JValue): Option[Double] = v match {
      case JArray(rs) if rs.size >= 2 =>
        val secs = rs.flatMap(num)
        if (secs.size < 2) None
        else Some(secs.max / math.max(secs.min, 1e-9))
      case _ => None
    }
    // one definition for both sides: a threshold or filter change can
    // never diverge the foreign and reference contention sets again
    def contendedIn(side: JValue): Seq[(String, Double)] =
      shared.flatMap { n =>
        spread(side \ "runs" \ n) match {
          case Some(s) if s > SpreadThreshold &&
            !planChanges.exists(_._1 == n) => Some(n -> s)
          case _ => None
        }
      }
    val contended = contendedIn(f)

    // refits: fit counters in the foreign artifact above the one-fit
    // contract (absent section = pre-round-16 artifact, not judged)
    val refits = numMap(f \ "fit_counts").collect {
      case (n, c) if c > 1.0 => n -> c.toLong
    }.toSeq.sortBy(_._1)

    val fTotal = num(f \ "value").getOrElse(0.0)
    val rTotal = num(r \ "value").getOrElse(0.0)
    val ratio = if (rTotal > 0) fTotal / rTotal else 0.0

    // does the foreign artifact carry ANY per-run samples? The
    // contention_noise verdict rests on run-spread evidence; an
    // artifact with stage maps but no runs arrays cannot attest noise,
    // so a moved headline over it must NOT fold into "consistent"
    // (round-16 ADVICE 2).
    def hasRuns(v: JValue): Boolean = (v \ "runs") match {
      case JObject(fields) => fields.exists {
        case (_, JArray(rs)) => rs.size >= 2
        case _ => false
      }
      case _ => false
    }
    val fHasRuns = hasRuns(f)
    val rHasRuns = hasRuns(r)
    // contention on the REFERENCE draw (wide reference run spread):
    // the only evidence that can legitimately exonerate a foreign
    // SPEED-UP — foreign contention inflates the foreign median, it
    // can never shrink it, so a fast headline needs the slow side's
    // noise attested (round-19 review finding)
    val rContended = contendedIn(r)

    // cross-width draws are not comparable AT ALL — Sessions.local
    // sizes shuffle partitions to the core count, so a 4-core artifact
    // has genuinely different plans (hashpartitioning(4), different
    // AQE coalescing) and even the stage-count signal this audit rests
    // on reads as spurious plan changes (the round-17 local[4]
    // mis-draw). Both fields present and different -> name the config
    // problem instead of misclassifying it.
    val fCpus = num(f \ "cpus").filter(_ > 0)
    val rCpus = num(r \ "cpus").filter(_ > 0)
    val cpusMismatch = (for (fc <- fCpus; rc <- rCpus) yield fc != rc)
      .getOrElse(false)

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
      if (cpusMismatch) "config_mismatch"
      else if (fStages.isEmpty || rStages.isEmpty) "insufficient_artifact"
      else if (fTotal <= 0 || rTotal <= 0) "insufficient_artifact"
      else if (planChanges.nonEmpty || refits.nonEmpty) "plan_change"
      else if (ratio > 1.25 && contended.nonEmpty) "contention_noise"
      else if (ratio > 1.25 && !fHasRuns) "insufficient_artifact"
      else if (ratio > 1.25) "headline_moved_unexplained"
      else if (ratio < 0.8 && rContended.nonEmpty) "contention_noise"
      else if (ratio < 0.8 && !rHasRuns) "insufficient_artifact"
      else if (ratio < 0.8) "headline_moved_unexplained"
      else "consistent"

    val pcJson = planChanges.map { case (n, (rs, fs, fSecV, rSecV)) =>
      Bench.jstr(n) + s""":{"ref_stages":$rs,"foreign_stages":$fs,""" +
        s""""ref_sec":${r3(rSecV)},"foreign_sec":${r3(fSecV)}}"""
    }.mkString("{", ",", "}")
    val ctJson = contended.map { case (n, s) =>
      Bench.jstr(n) + ":" + r3(s)
    }.mkString("{", ",", "}")
    val rfJson = refits.map { case (n, c) => Bench.jstr(n) + ":" + c }
      .mkString("{", ",", "}")

    s"""{"generated_by":"graft.BenchAudit",""" +
      s""""foreign":${Bench.jstr(foreignLabel)},""" +
      s""""reference":${Bench.jstr(referenceLabel)},""" +
      s""""verdict":${Bench.jstr(verdict)},""" +
      s""""headline_ratio":${r3(ratio)},""" +
      s""""shared_queries":${shared.size},""" +
      s""""plan_changes":$pcJson,"refits":$rfJson,""" +
      s""""contended":$ctJson}"""
  }

  /** Within-point stage flatness in SCALING.json is a committed
    * contract (`ScalingContractSpec`: exact for single-plan families,
    * ±1 for the composed mains' racing async exchanges), so
    * CROSS-artifact stage agreement inherits the same bands — unlike
    * the bench artifacts, whose async cost listener earns the wider
    * [[planBand]]. A cross-round stage diff past this band means the
    * code change between the rounds moved the plan at that point.
    */
  private def scalingBand(name: String): Long =
    PipelineBench.asyncExchangeBand(name).toLong

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
    *    [[scalingBand]];
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

    val fCpus = num(f \ "cpus").filter(_ > 0)
    val rCpus = num(r \ "cpus").filter(_ > 0)
    val cpusMismatch = (for (fc <- fCpus; rc <- rCpus) yield fc != rc)
      .getOrElse(false)

    def str(v: JValue): Option[String] = v match {
      case JString(s) => Some(s)
      case _ => None
    }
    def keys(v: JValue): Seq[String] = v match {
      case JObject(fields) => fields.map(_._1)
      case _ => Nil
    }
    def arr(v: JValue): Option[Seq[Double]] = v match {
      case JArray(vs) =>
        val ns = vs.flatMap(num)
        if (ns.size == vs.size && ns.nonEmpty) Some(ns) else None
      case _ => None
    }

    // the tri-sf sweep lives at the artifact ROOT (families under root
    // "queries", sample count in root "runs_per_point", the sf grid in
    // root "sfs") — treat it as a section named "queries" alongside the
    // decade sections, recognized by object-shaped family entries so a
    // bench-shaped artifact's flat name->median map never qualifies.
    def triSf(v: JValue): Boolean = (v \ "queries") match {
      case JObject(fields) =>
        fields.exists { case (_, fam) => (fam \ "sec") != JNothing }
      case _ => false
    }
    val DrillSections = Seq("fallback_drill", "rewrite_drill")
    def sectionNames(v: JValue): Seq[String] =
      (if (triSf(v)) Seq("queries") else Nil) ++
        (Seq("decade4", "decade5") ++ DrillSections)
          .filter(s => (v \ s) != JNothing)
    val fSections = sectionNames(f)
    val rSections = sectionNames(r)
    val sections = fSections.filter(rSections.contains)
    // a section present on only one side is an evidence hole: the
    // verdict must not read as full-coverage "consistent" when (say)
    // the reference predates decade5 and a decade5 regression was
    // never compared at all
    val sectionsUncompared =
      (fSections ++ rSections).distinct.filterNot(sections.contains)
    def root(v: JValue, s: String): JValue =
      if (s == "queries") v else v \ s
    val sectionRoots: Seq[(String, JValue, JValue)] =
      sections.map(s => (s, root(f, s), root(r, s)))

    // per-section config agreement: same fixture (decades, drills) /
    // same sf grid (tri-sf) / same drill query, same sample count
    val configMismatches = sectionRoots.flatMap { case (s, fv, rv) =>
      val fx = (str(fv \ "fixture"), str(rv \ "fixture")) match {
        case (Some(a), Some(b)) if a != b => Seq(s"$s.fixture")
        case _ => Nil
      }
      val grid = (fv \ "sfs", rv \ "sfs") match {
        case (a: JArray, b: JArray) if a != b => Seq(s"$s.sfs")
        case _ => Nil
      }
      val dq = (str(fv \ "query"), str(rv \ "query")) match {
        case (Some(a), Some(b)) if a != b => Seq(s"$s.query")
        case _ => Nil
      }
      val rp = (num(fv \ "runs_per_point"),
        num(rv \ "runs_per_point")) match {
        case (Some(a), Some(b)) if a != b => Seq(s"$s.runs_per_point")
        case _ => Nil
      }
      fx ++ grid ++ dq ++ rp
    } ++ (if (cpusMismatch) Seq("cpus") else Nil)

    // shared (section, family, point) grid. Sweep sections carry
    // per-point maps under each family; a drill section's families are
    // its arms (fallback/hinted, brute/rewrite), each one point.
    final case class Pt(key: String, name: String, fSec: Double,
      rSec: Double, fStages: Option[Double], rStages: Option[Double],
      fSpread: Option[Double], rSpread: Option[Double])
    def spreadOf(v: JValue): Option[Double] =
      arr(v).filter(_.size >= 2)
        .map(xs => xs.max / math.max(xs.min, 1e-9))
    val points = sectionRoots.flatMap { case (s, fv, rv) =>
      if (DrillSections.contains(s)) {
        val arms = (keys(fv).toSet & keys(rv).toSet).toSeq.sorted
          .filter(a => (fv \ a \ "median_sec") != JNothing ||
            (rv \ a \ "median_sec") != JNothing)
        arms.flatMap { a =>
          for {
            fs <- num(fv \ a \ "median_sec")
            rs <- num(rv \ a \ "median_sec")
          } yield Pt(s"$s/$a@drill", a, fs, rs,
            arr(fv \ a \ "stages").map(median),
            arr(rv \ a \ "stages").map(median),
            spreadOf(fv \ a \ "runs"),
            spreadOf(rv \ a \ "runs"))
        }
      } else {
        val shared = (keys(fv \ "queries").toSet &
          keys(rv \ "queries").toSet).toSeq.sorted
        shared.flatMap { n =>
          val fq = fv \ "queries" \ n
          val rq = rv \ "queries" \ n
          val pts = (keys(fq \ "sec").toSet & keys(rq \ "sec").toSet)
            .toSeq.sorted
          pts.flatMap { p =>
            for {
              fs <- num(fq \ "sec" \ p); rs <- num(rq \ "sec" \ p)
            } yield Pt(s"$s/$n@$p", n, fs, rs,
              arr(fq \ "stages" \ p).map(median),
              arr(rq \ "stages" \ p).map(median),
              spreadOf(fq \ "runs" \ p),
              spreadOf(rq \ "runs" \ p))
          }
        }
      }
    }

    // one-sided families / points / drill arms (round-18 ADVICE): the
    // shared-key intersections above silently DROP an entry present on
    // only one side — a renamed/removed sweep family, a decade point
    // missing from one draw, a drill arm lacking median_sec on one
    // side — so sub-section partial coverage could still read as
    // full-coverage "consistent". Enumerate each side's point keys
    // independently; anything not in the compared set is an evidence
    // hole, reported at family granularity when the whole family is
    // one-sided and at point granularity otherwise. An intersection
    // entry that fails numeric extraction (a malformed median) lands
    // here too rather than vanishing.
    def famsOf(v: JValue, s: String): Seq[String] =
      if (DrillSections.contains(s))
        keys(v).filter(a => (v \ a \ "median_sec") != JNothing)
      else keys(v \ "queries")
    def pointKeysOf(v: JValue, s: String): Seq[String] =
      if (DrillSections.contains(s))
        famsOf(v, s).map(a => s"$s/$a@drill")
      else keys(v \ "queries").flatMap(n =>
        keys(v \ "queries" \ n \ "sec").map(p => s"$s/$n@$p"))
    val familiesUncompared = sectionRoots.flatMap { case (s, fv, rv) =>
      val ff = famsOf(fv, s).toSet; val rf = famsOf(rv, s).toSet
      ((ff ++ rf) -- (ff & rf)).toSeq.sorted.map(n => s"$s/$n")
    }
    val comparedKeys = points.map(_.key).toSet
    val pointsUncompared = sectionRoots.flatMap { case (s, fv, rv) =>
      (pointKeysOf(fv, s) ++ pointKeysOf(rv, s)).distinct.sorted
        .filterNot(comparedKeys)
        .filterNot(k => familiesUncompared.exists(f => k.startsWith(f + "@")))
    }
    // a shared section malformed identically on BOTH sides (e.g. a
    // harness schema change renaming median_sec/sec in round N whose
    // round-N+1 audit compares two such blobs) produces zero point
    // keys on either side — no compared points AND no one-sided
    // entries, so it would vanish from coverage entirely (round-19
    // review): surface it as an uncompared section
    val sectionsEmptyBothSides = sectionRoots.collect {
      case (s, fv, rv)
        if pointKeysOf(fv, s).isEmpty && pointKeysOf(rv, s).isEmpty => s
    }
    val sectionsUncomparedAll =
      (sectionsUncompared ++ sectionsEmptyBothSides).distinct

    // evidence holes: a point that cannot be judged (no stage medians,
    // non-positive wall) — auditJson screens these artifact-globally
    // (empty stage maps, non-positive totals); here the same screens
    // apply per point
    val nonPositive = points.filter(p => p.fSec <= 0 || p.rSec <= 0)
    val judgeable = points.filterNot(p => nonPositive.exists(_.key == p.key))
    val noStageEvidence = judgeable.filter(p =>
      p.fStages.isEmpty || p.rStages.isEmpty)
    val planChanges = judgeable.flatMap { p =>
      for {
        fs <- p.fStages; rs <- p.rStages
        if math.abs(fs - rs) > scalingBand(p.name)
      } yield p
    }
    def ratio(p: Pt): Double = p.fSec / math.max(p.rSec, 1e-9)
    // symmetric move test (round-18 ADVICE): a point silently doing
    // LESS work after a harness change moves the ratio below 1 at flat
    // stages, and max() over the other points hides it — a >1.25x move
    // in either direction needs the same spread evidence
    def movedPast(p: Pt): Boolean = {
      val r = ratio(p); r > 1.25 || r < 0.8
    }
    val moved = judgeable.filter(p => movedPast(p) &&
      !planChanges.exists(_.key == p.key) &&
      !noStageEvidence.exists(_.key == p.key))
    // side-aware exoneration (round-19 review): contention inflates a
    // median, never shrinks it — a SLOWDOWN is explained by wide
    // FOREIGN spread, a SPEED-UP only by wide REFERENCE spread (the
    // slow side was the noisy one). The evidence-absence screen uses
    // the same side the exoneration would.
    def explainSpread(p: Pt): Option[Double] =
      if (ratio(p) > 1.25) p.fSpread else p.rSpread
    val (contended, movedRest) = moved.partition(p =>
      explainSpread(p).exists(_ > SpreadThreshold))
    val (movedNoEvidence, movedTight) =
      movedRest.partition(p => explainSpread(p).isEmpty)
    val maxRatio =
      if (judgeable.isEmpty) 0.0 else judgeable.map(ratio).max
    val minRatio =
      if (judgeable.isEmpty) 0.0 else judgeable.map(ratio).min
    val evidenceHoles = sectionsUncomparedAll.nonEmpty ||
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

    val pcJson = planChanges.map { p =>
      Bench.jstr(p.key) +
        s""":{"ref_stages":${p.rStages.fold(0L)(_.toLong)},""" +
        s""""foreign_stages":${p.fStages.fold(0L)(_.toLong)},""" +
        s""""ref_sec":${r3(p.rSec)},"foreign_sec":${r3(p.fSec)}}"""
    }.mkString("{", ",", "}")
    val ctJson = contended.map(p =>
      Bench.jstr(p.key) + ":" + r3(explainSpread(p).getOrElse(0.0)))
      .mkString("{", ",", "}")
    val mvJson = (movedTight ++ movedNoEvidence).map(p =>
      Bench.jstr(p.key) + ":" + r3(ratio(p))).mkString("{", ",", "}")
    val cfJson = configMismatches.map(Bench.jstr)
      .mkString("[", ",", "]")
    // stamps are reported even when absence keeps the verdict tolerant
    // (a null here on a post-round-18 artifact is itself the finding)
    def cpusJson(c: Option[Double]): String =
      c.fold("null")(v => v.toLong.toString)

    s"""{"generated_by":"graft.BenchAudit","mode":"scaling",""" +
      s""""foreign":${Bench.jstr(foreignLabel)},""" +
      s""""reference":${Bench.jstr(referenceLabel)},""" +
      s""""verdict":${Bench.jstr(verdict)},""" +
      s""""cpus":{"foreign":${cpusJson(fCpus)},""" +
      s""""reference":${cpusJson(rCpus)}},""" +
      s""""sections":${sections.map(Bench.jstr).mkString("[", ",", "]")},""" +
      s""""sections_uncompared":${sectionsUncomparedAll.map(Bench.jstr)
        .mkString("[", ",", "]")},""" +
      s""""families_uncompared":${familiesUncompared.map(Bench.jstr)
        .mkString("[", ",", "]")},""" +
      s""""points_uncompared":${pointsUncompared.map(Bench.jstr)
        .mkString("[", ",", "]")},""" +
      s""""shared_points":${points.size},""" +
      s""""max_point_ratio":${r3(maxRatio)},""" +
      s""""min_point_ratio":${r3(minRatio)},""" +
      s""""config_mismatches":$cfJson,""" +
      s""""plan_changes":$pcJson,""" +
      s""""moved":$mvJson,"contended":$ctJson}"""
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

  /** Resolve a `<rev>:<path>` spec against the CURRENT working
    * directory's repository (round-17 ADVICE: the old hardcoded
    * `/root/repo` silently read the wrong repo from any other
    * checkout). Stderr is discarded rather than drained: `git show` of
    * a blob writes only the blob to stdout, and a full stderr pipe
    * would otherwise block the child before `waitFor`.
    */
  private def gitShow(spec: String): String = {
    val p = new ProcessBuilder("git", "show", spec)
      .redirectError(ProcessBuilder.Redirect.DISCARD)
      .start()
    val out = new String(p.getInputStream.readAllBytes(),
      StandardCharsets.UTF_8)
    require(p.waitFor() == 0 && out.nonEmpty,
      s"git show $spec failed — pass a plain artifact path instead")
    out
  }

  private def readArg(p: String): (String, String) =
    if (p.contains(':') && !Files.exists(Paths.get(p)))
      (gitShow(p), s"git show $p")
    else (new String(Files.readAllBytes(Paths.get(p)),
      StandardCharsets.UTF_8), p)

  private def writeLine(file: String, line: String): Unit = {
    Files.write(Paths.get(file), line.getBytes(StandardCharsets.UTF_8))
    println(line)
  }

  /** One-command round-open ritual: bench audit + scaling audit, both
    * artifacts written (so a red verdict can be inspected), THEN the
    * gate — a non-green verdict on either audit fails the run.
    */
  private def roundOpen(specs: Seq[String]): Unit = {
    require(specs.size == 4,
      "usage: graft.BenchAudit --round-open <driverBench> <priorBench> " +
        "<currentScaling> <priorScaling> (each a path or <rev>:<path>)")
    val Seq((fb, fbL), (rb, rbL), (fs, fsL), (rs, rsL)) = specs.map(readArg)
    val benchLine = auditJson(fb, rb, fbL, rbL)
    writeLine("BENCH_AUDIT.json", benchLine)
    val scalingLine = scalingAuditJson(fs, rs, fsL, rsL)
    writeLine("SCALING_AUDIT.json", scalingLine)
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
    val scaling = args.contains("--scaling")
    val paths = args.filterNot(a => a == "--scaling" || a == "--round-open")
    if (args.contains("--round-open")) { roundOpen(paths.toSeq); return }
    require(paths.nonEmpty,
      "usage: graft.BenchAudit [--scaling] <foreignArtifact> " +
        "[<referenceArtifact>] (either may be a <rev>:<path> git spec; " +
        "--scaling audits SCALING.json-shaped artifacts into " +
        "SCALING_AUDIT.json; --round-open runs both audits and gates)")
    val (foreign, foreignPath) = readArg(paths(0))
    // `<rev>:<path>` git specs are accepted for both arguments
    // (self-documenting provenance for the committed audit: the
    // round-open ritual compares the incoming driver draw against the
    // PRIOR round's builder-committed artifact, and by audit time one
    // or both may only exist as git blobs)
    val defaultRef =
      if (scaling) "HEAD:SCALING.json" else "HEAD:BENCH_FULL.json"
    val (reference, refLabel) = paths.lift(1) match {
      case Some(p) => readArg(p)
      case None => (gitShow(defaultRef), s"git show $defaultRef")
    }
    val (line, outFile) =
      if (scaling)
        (scalingAuditJson(foreign, reference, foreignPath, refLabel),
          "SCALING_AUDIT.json")
      else
        (auditJson(foreign, reference, foreignPath, refLabel),
          "BENCH_AUDIT.json")
    writeLine(outFile, line)
  }
}
