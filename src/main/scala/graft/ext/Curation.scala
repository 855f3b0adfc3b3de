package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Q
import graft.functions.Rounding.r4
import graft.io.Sources.tableWide

/** [EXT] The composed training-data curation pipeline — the stages every
  * individual `x_*` operator demonstrates, chained the way a user would
  * actually run them over a raw corpus:
  *
  *   1. fingerprint dedup   (case/punct-normalized md5, keep min doc_id)
  *   2. decontamination     (drop the benchmark slice itself + any doc
  *                           sharing >= 20% of its 3-grams with it)
  *   3. quality filter      (length/stopword/punctuation score >= 0.35;
  *                           median on this corpus is ~0.49, so the
  *                           filter keeps the bulk and drops the tail)
  *   4. chunking            (40-word windows, 30-word stride)
  *   5. train/test split    (content-hash bucketing, 2/16 held out)
  *
  * Output: per (lang, split) — surviving docs, chunks, and summed chunk
  * words. Fully DuckDB-oracled: every stage is deterministic arithmetic
  * both engines share (md5, list ops, floor-rounding discipline).
  *
  * 100 TB shape: the dedup is one uniform content-hash shuffle; the
  * benchmark gram set is broadcast (eval suites are small by definition)
  * so the corpus never shuffles for decontamination — just one uniform
  * doc-keyed overlap count; quality/chunking/split are map-only; the
  * final rollup is a tiny keyed aggregate. No stage is corpus².
  *
  * Each stage rule has one definition that every other copy calls:
  * [[exactFingerprint]] (also [[Dedup.fingerprintDedup]]'s key),
  * [[withQuality]] over [[StopwordList]] (also
  * [[TextAnalysis.qualityScore]] and the quality model's weak label),
  * [[withinIds]] (survivor restriction of near-dup pairs), and
  * [[Dedup.benchOverlap]] for decontamination.
  */
object Curation {

  /** Size-gate for the removal-set broadcasts (round-8 directive): the
    * curation drops (dedup losers, near-dup cluster members,
    * contaminated docs, boilerplate position lists) are the minority of
    * the corpus by definition, so broadcasting them back as anti-join
    * sides is the right default — but a pathological corpus (a
    * mirror-heavy crawl where duplicates are the MAJORITY) would OOM
    * the driver through an unconditional hint. Mirror of `tableWide`'s
    * 64 MB gate: apply the hint only while the optimizer's size
    * estimate stays under the cap; above it, drop the hint and let
    * AQE pick the join side/strategy from the REAL runtime shuffle
    * sizes (which also rescues the case where the estimate is wrong in
    * either direction). Cap overridable per session via
    * [[RemovalBroadcastMaxBytesKey]] — `PlanAssertionsSpec` pins both
    * branches with it.
    */
  private[graft] def gatedBroadcast(spark: SparkSession,
      removals: DataFrame): DataFrame =
    gatedBroadcastWith(spark, removals, RemovalBroadcastMaxBytesKey,
      RemovalBroadcastMaxBytes)

  /** The one size-gate implementation, shared by the curation removal
    * broadcasts (above) and the ANN probe-side broadcasts
    * ([[graft.ext.Similarity.gatedProbeBroadcast]]) — estimate-handling
    * fixes land once, the two call families keep independent caps/keys.
    */
  private[graft] def gatedBroadcastWith(spark: SparkSession,
      df: DataFrame, capKey: String, capDefault: Long): DataFrame = {
    val cap = spark.conf.getOption(capKey)
      .map(_.toLong).getOrElse(capDefault)
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est <= BigInt(cap)) broadcast(df) else df
  }

  val RemovalBroadcastMaxBytes: Long = 64L << 20
  val RemovalBroadcastMaxBytesKey =
    "spark.graft.curation.removalBroadcast.maxBytes"

  def curationPipeline(spark: SparkSession, dir: String): DataFrame =
    rollup(curatedDocs(spark, dir))

  /** The near-dup composition (round-7 directive): the same pipeline
    * with stage 1b — banded-MinHash near-dup pairs folded into
    * duplicate clusters by [[Graph.connectedComponents]], keeping only
    * each cluster's canonical (min doc_id) member — between the exact
    * fingerprint dedup and decontamination. This is the full
    * production dedup stack (exact THEN fuzzy) composed in one plan.
    * This is the PRODUCTION formulation the bench times (`benchFn`);
    * the registered hash-checked entry is [[curationNearDupVerified]].
    */
  def curationNearDup(spark: SparkSession, dir: String): DataFrame =
    rollup(curatedDocs(spark, dir,
      Some(Dedup.minhashBanded(spark, dir)
        .select(col("doc_a"), col("doc_b")))))

  /** Band-oracle formulation of [[curationNearDup]] (round-8 directive)
    * — the registered, driver-hash-checked entry. Through round 7 the
    * production composition itself was hash-checked, which made oracle
    * equality CONDITIONAL on banded-MinHash recall being exactly 1.0 on
    * the data under test: 8 bands x 2 rows misses a jaccard≈0.5 pair
    * with probability ~(1-0.25)^8 ≈ 10%, so on a regenerated corpus one
    * unlucky pair could fail the gate with no code being wrong. Same
    * cure as `x_minhash_banded` (`Dedup.minhashBandedVerified`):
    *
    *  - truth rows: the rollup replayed with the EXACT posting-list
    *    Jaccard >= 0.5 pair set in stage 1b — engine-independent rows
    *    DuckDB recomputes verbatim, so the hash equality is
    *    unconditional;
    *  - verdict booleans from the banded production run, restricted to
    *    stage-1 survivors: `no_false_positives` (every banded pair is
    *    in the truth set — structurally guaranteed by its exact-verify
    *    stage) and `recall_ok` (banded found >= 90% of the truth pairs;
    *    measured 1.0 at all three sf).
    *
    * The bench keeps timing the production stack via `benchFn` — the
    * truth recomputation is verification work, not the operator.
    */
  def curationNearDupVerified(spark: SparkSession, dir: String)
      : DataFrame = {
    val truthPairs = Dedup
      .jaccardPairsBlocked(spark, dir, Seq.empty, maxDf = 1000)
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"))
    val truthRows = rollup(curatedDocs(spark, dir, Some(truthPairs)))
    // verdicts: compare pair sets among stage-1 survivors only (the
    // composition semi-joins both endpoints to survivors before
    // clustering, so that is the set whose recall matters here)
    val ids = stage1Survivors(spark, dir).select(col("doc_id"))
    val verdict = Q.recallVerdict(withinIds(truthPairs, ids),
      withinIds(Dedup.minhashBanded(spark, dir)
        .select(col("doc_a"), col("doc_b")), ids),
      Seq("doc_a", "doc_b"), minRecall = 0.9, withFp = true)
    truthRows.crossJoin(broadcast(verdict))
      .orderBy(col("lang"), col("split"))
  }

  private[graft] def curatedDocs(spark: SparkSession, dir: String)
      : DataFrame = curatedDocs(spark, dir, None)

  /** Near-dup pairs (doc_a, doc_b) with both endpoints in `ids` — two
    * semi-joins on a projected id column, so the text never moves.
    */
  private def withinIds(pairs: DataFrame, ids: DataFrame): DataFrame =
    pairs
      .join(ids.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"),
        "left_semi")
      .join(ids.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"),
        "left_semi")

  /** Stage 1 (exact fingerprint dedup) survivors: keep the min doc_id
    * per normalized content hash. Scale shape: the window runs over a
    * PROJECTED (doc_id, fp) frame — the shuffle carries ~48 bytes/row,
    * never the document text — and the losers (non-representative
    * duplicates, the minority by definition) come back as an anti-join,
    * the same pattern as x_semantic_dedup.
    */
  private[graft] def stage1Survivors(spark: SparkSession, dir: String)
      : DataFrame = {
    val docs = tableWide(spark, dir, "documents")
    docs.join(gatedBroadcast(spark, stage1Losers(spark, dir)),
      Seq("doc_id"), "left_anti")
  }

  /** The stage-1 removal set alone (doc_ids of non-representative exact
    * duplicates) — the frame whose optimizer size estimate drives
    * [[gatedBroadcast]]'s branch. Exposed for the guard fire-drill
    * (`GuardFireDrillSpec`), which asserts the over-cap branch on data
    * whose estimate really exceeds the default cap.
    */
  private[graft] def stage1Losers(spark: SparkSession, dir: String)
      : DataFrame = {
    val docs = tableWide(spark, dir, "documents")
    docs.select(col("doc_id"), exactFingerprint.as("fp"))
      .withColumn("rep",
        min(col("doc_id")).over(Window.partitionBy(col("fp"))))
      .filter(col("doc_id") =!= col("rep"))
      .select(col("doc_id"))
  }

  /** Stages 1-3 (dedup, [1b near-dup], decontaminate, quality-filter):
    * the surviving documents with their floor-rounded quality score.
    * Exposed separately so stage invariants are testable without
    * re-deriving the pipeline (`OperatorInvariantsSpec`). `nearDupPairs`
    * (when set) is the stage-1b near-dup pair frame (doc_a, doc_b) —
    * the banded-MinHash production pairs for [[curationNearDup]], the
    * exact-Jaccard truth pairs for [[curationNearDupVerified]].
    */
  private[graft] def curatedDocs(spark: SparkSession, dir: String,
      nearDupPairs: Option[DataFrame]): DataFrame = {
    val docs = tableWide(spark, dir, "documents")
    val dedupedExact = stage1Survivors(spark, dir)

    // 1b (optional): fuzzy near-dup dedup — near-dup candidate pairs
    // (verified exact-Jaccard >= 0.5), restricted to stage-1
    // survivors, clustered transitively, non-canonical members dropped.
    // Scale shape: the pair set is tiny relative to the corpus (dups
    // are the minority), so both the survivor restriction (semi-joins
    // on a projected id column) and the final drop (size-gated
    // broadcast anti-join) never move the text; connectedComponents
    // folds a pair list this small on the driver in one job and
    // returns the clusters as a local frame (above its edge cap, the
    // distributed loop sizes its own shuffle width to the edge count).
    val deduped = nearDupPairs.fold(dedupedExact) { rawPairs =>
      val pairs = withinIds(rawPairs, dedupedExact.select(col("doc_id")))
      val drop = Graph.connectedComponents(pairs, "doc_a", "doc_b")
        .filter(col("id") =!= col("group_id"))
        .select(col("id").as("doc_id"))
      dedupedExact.join(gatedBroadcast(spark, drop), Seq("doc_id"),
        "left_anti")
    }

    // 2. decontamination: benchmark slice = doc_id % 37 == 0 of the RAW
    // corpus (an external eval set in a real pipeline). Benchmark docs
    // leave the training mix; survivors sharing >= 20% of their grams
    // with the benchmark's gram set are dropped. Docs under 3 words
    // have no grams and cannot be contaminated — they pass through.
    val candidates = deduped.filter(col("doc_id") % 37 =!= 0)
    val contaminated = Dedup.benchOverlap(
        Dedup.withGrams(docs.filter(col("doc_id") % 37 === 0)),
        Dedup.withGrams(candidates))
      .filter(col("n_overlap").cast("double") / col("n_grams") >= 0.2)
      .select(col("doc_id"))
    val clean = candidates
      .join(gatedBroadcast(spark, contaminated), Seq("doc_id"), "left_anti")

    // 3. quality filter on the floor-rounded score (identical rounding
    // in the oracle, so the threshold compare is ulp-safe)
    val kept = withQuality(clean).filter(col("quality") >= QualityGateMin)
    kept.select(col("doc_id"), col("lang"), col("n_chars"), col("text"),
      col("quality"))
  }

  /** The stage-1 exact-dedup content fingerprint, defined ONCE: the
    * curate main's pilot estimator predicts the exact-dedup survivor
    * count with `approx_count_distinct` over the SAME expression the
    * dedup window partitions on, so the estimate and the operator
    * cannot drift apart (the round-15 band-drift failure mode, applied
    * to cardinality estimation).
    */
  private[graft] def exactFingerprint: Column =
    md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
      .cast("binary"))

  /** The stage-3 gate threshold on the floor-rounded quality score. */
  private[graft] val QualityGateMin = 0.35

  /** The stage-3 quality-score computation (expects `text` + `n_chars`
    * columns), shared verbatim by the gate above and the curate main's
    * pilot estimator: a pass-rate sampled through a DIFFERENT formula
    * than the gate applies would make the estimate wrong by
    * construction rather than by sampling error. Adds `lwords`,
    * `n_words`, `sw_cnt`, `punct_cnt` and the 1e-4-floored `quality`;
    * [[TextAnalysis.qualityScore]] reports these columns and the
    * quality model's weak label thresholds the same score.
    */
  private[graft] def withQuality(df: DataFrame): DataFrame =
    df.withColumn("lwords", split(lower(col("text")), " "))
      .withColumn("n_words", size(col("lwords")))
      .withColumn("sw_cnt",
        expr(s"size(filter(lwords, w -> w IN ($StopwordList)))"))
      .withColumn("punct_cnt",
        expr("size(regexp_extract_all(text, '[^\\\\w\\\\s]', 0))"))
      .withColumn("quality", r4(
        lit(0.5) * least(col("n_words").cast("double") / 100, lit(1.0)) +
          lit(0.3) * (col("sw_cnt").cast("double") / col("n_words")) +
          lit(0.2) * (lit(1.0) -
            col("punct_cnt").cast("double") / col("n_chars"))))

  /** The quality score's stopword set as a quoted SQL list
    * (`'the', 'a', ...`), for [[withQuality]] and the oracle of
    * [[TextAnalysis.qualityScore]].
    */
  private[graft] val StopwordList: String =
    Seq("the", "a", "of", "and", "to", "in", "is").map(w => s"'$w'")
      .mkString(", ")

  /** Stages 4-5: chunk (40-word windows, stride 30), content-hash
    * split, and the per-(lang, split) rollup.
    */
  private def rollup(kept: DataFrame): DataFrame =
    kept
      .withColumn("words", split(col("text"), " "))
      .withColumn("n_chunks", greatest(
        ceil((size(col("words")) - 10) / lit(30.0)).cast("int"), lit(1)))
      .withColumn("chunk_words", expr(
        """aggregate(
             transform(sequence(0, n_chunks - 1),
               s -> size(slice(words, s * 30 + 1, 40))),
             0L, (acc, x) -> acc + x)"""))
      .withColumn("split",
        when(substring(md5(col("text").cast("binary")), 1, 1)
          .isin("0", "1"), "test").otherwise("train"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chunks")).cast("long").as("n_chunks"),
        sum(col("chunk_words")).as("chunk_words"))
      .orderBy(col("lang"), col("split"))

  /** Stage-1b CTEs: exact posting-list Jaccard >= 0.5 pairs among
    * stage-1 survivors — the TRUTH pair set, which is exactly what
    * [[curationNearDupVerified]]'s Spark side now also uses (the banded
    * production run is pinned separately via the verdict booleans), so
    * this replay is unconditional. Recursive-CTE transitive closure,
    * non-canonical members dropped. Same shapes as
    * `Dedup.jaccardTruthSqlCte` / `Graph.dupGroupsSql`.
    */
  private val nearDupCtes =
    """ndt AS (SELECT doc_id, string_split(text, ' ') AS words
              FROM deduped WHERE len(string_split(text, ' ')) >= 3),
       ndg AS (SELECT doc_id,
                 list_distinct(list_transform(range(2, len(words)),
                   i -> words[i-1] || ' ' || words[i] || ' ' || words[i+1]))
                   AS grams
               FROM ndt),
       ndpost AS (SELECT doc_id, len(grams) AS n, unnest(grams) AS gram
                  FROM ndg),
       ndpair AS (SELECT a.doc_id AS src, b.doc_id AS dst,
                    a.n AS na, b.n AS nb, count(*) AS ni
                  FROM ndpost a JOIN ndpost b
                    ON a.gram = b.gram AND a.doc_id < b.doc_id
                  GROUP BY 1, 2, 3, 4),
       ndsel AS (SELECT src, dst FROM ndpair
                 WHERE floor(CAST(ni AS DOUBLE) / (na + nb - ni) * 10000
                         + 0.5) / 10000 >= 0.5),
       sym AS (SELECT src, dst FROM ndsel
               UNION SELECT dst, src FROM ndsel),
       reach(src, dst) AS (
         SELECT src, dst FROM sym
         UNION
         SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
       lab AS (SELECT src AS doc_id, least(src, min(dst)) AS group_id
               FROM reach GROUP BY src),
       nd_drop AS (SELECT doc_id FROM lab WHERE doc_id <> group_id),
       base AS (SELECT * FROM deduped
                WHERE doc_id NOT IN (SELECT doc_id FROM nd_drop))"""

  /** One SQL template for both compositions: `base` is the post-dedup
    * survivor set — stage 1 only, or stages 1 + 1b with the EXACT
    * truth pair set (the verified formulation pins the banded run's
    * recall separately, so the TRUE verdict literals are unconditional).
    */
  private def curationSql(nearDup: Boolean): String = {
    val baseCtes =
      if (nearDup) nearDupCtes
      else "base AS (SELECT * FROM deduped)"
    val verdictCols =
      if (nearDup) ",\n         TRUE AS no_false_positives, TRUE AS recall_ok"
      else ""
    s"""WITH RECURSIVE deduped AS (
         SELECT * FROM (
           SELECT d.*, min(doc_id) OVER (
             PARTITION BY md5(trim(regexp_replace(lower(text),
               '[^a-z0-9]+', ' ', 'g')))) AS rep
           FROM documents d) t
         WHERE doc_id = rep),
       $baseCtes,
       bench AS (
         SELECT DISTINCT unnest(list_distinct(
             list_transform(range(2, len(string_split(text, ' '))),
               i -> string_split(text, ' ')[i-1] || ' ' ||
                    string_split(text, ' ')[i] || ' ' ||
                    string_split(text, ' ')[i+1]))) AS gram
         FROM documents
         WHERE doc_id % 37 = 0 AND len(string_split(text, ' ')) >= 3),
       cand AS (SELECT * FROM base WHERE doc_id % 37 <> 0),
       gd AS (
         SELECT doc_id, list_distinct(
             list_transform(range(2, len(string_split(text, ' '))),
               i -> string_split(text, ' ')[i-1] || ' ' ||
                    string_split(text, ' ')[i] || ' ' ||
                    string_split(text, ' ')[i+1])) AS grams
         FROM cand WHERE len(string_split(text, ' ')) >= 3),
       post AS (SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS gram
                FROM gd),
       contaminated AS (
         SELECT doc_id FROM post JOIN bench USING (gram)
         GROUP BY doc_id, n_grams
         HAVING CAST(count(*) AS DOUBLE) / n_grams >= 0.2),
       clean AS (
         SELECT * FROM cand
         WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
       scored AS (
         SELECT *, floor(
             (0.5 * least(CAST(len(string_split(lower(text), ' ')) AS DOUBLE)
                            / 100, CAST(1.0 AS DOUBLE))
            + 0.3 * (CAST(len(list_filter(string_split(lower(text), ' '),
                w -> w IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
                  / len(string_split(lower(text), ' ')))
            + 0.2 * (CAST(1.0 AS DOUBLE)
                  - CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
                    / n_chars)) * 10000 + 0.5) / 10000 AS quality
         FROM clean),
       kept AS (SELECT * FROM scored WHERE quality >= 0.35),
       chunked AS (
         SELECT lang, text,
           greatest(CAST(ceil((len(string_split(text, ' ')) - 10) / 30.0)
             AS INT), 1) AS n_chunks,
           CAST(list_sum(list_transform(
               range(0, greatest(CAST(ceil(
                 (len(string_split(text, ' ')) - 10) / 30.0) AS INT), 1)),
               s -> len(string_split(text, ' ')[s*30+1 : s*30+40])))
             AS BIGINT) AS chunk_words,
           CASE WHEN substring(md5(text), 1, 1) IN ('0', '1')
                THEN 'test' ELSE 'train' END AS split
         FROM kept)
       SELECT lang, split, count(*) AS n_docs,
         CAST(sum(n_chunks) AS BIGINT) AS n_chunks,
         CAST(sum(chunk_words) AS BIGINT) AS chunk_words$verdictCols
       FROM chunked GROUP BY lang, split ORDER BY lang, split"""
  }

  private val curationPipelineSql = curationSql(nearDup = false)
  private val curationNearDupVerifiedSql = curationSql(nearDup = true)

  /** Deterministic weighted sampling per language stratum — importance
    * sampling for training-data mixes (upweight long documents, hold
    * language balance) WITHOUT randomness: systematic sampling over
    * each stratum's cumulative weight line. Within a language, docs lie
    * on [0, W_lang) in doc_id order, each owning a segment of its
    * weight (n_chars); the k=25 evenly-spaced points W_lang*i/k hit
    * exactly the docs whose segment spans a point — so P(selected) ∝
    * weight within the stratum, every run/engine/parallelism picks the
    * SAME sample, and a doc heavier than W_lang/k is picked with
    * multiplicity (emitted as n_hits). All arithmetic is integer
    * (weights are char counts, cum sums < 2^53, the selection test is
    * integer division), so the DuckDB oracle replays it exactly — no
    * RNG to seed, no float accumulation order to pin.
    *
    * 100 TB shape: ONE pass — the cumulative sum and stratum total are
    * lang-KEYED windows (uniform shuffle on the stratum key, no global
    * single-partition window) and the per-row test is integer math; no
    * joins, no candidate sets. The k sample points never materialize.
    */
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    val k = 25
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("lang")).rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    tableWide(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        col("n_chars").cast("long").as("weight"))
      .withColumn("cum", sum(col("weight")).over(w))
      .withColumn("total", max(col("cum")).over(wAll))
      .withColumn("n_hits",
        (expr(s"(cum * $k) div total") -
          expr(s"((cum - weight) * $k) div total")).cast("int"))
      .filter(col("n_hits") >= 1)
      .select(col("doc_id"), col("lang"), col("weight"), col("n_hits"))
      .orderBy(col("doc_id"))
  }

  private val weightedSampleSql =
    """WITH c AS (
         SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS weight,
           sum(CAST(n_chars AS BIGINT)) OVER (PARTITION BY lang
             ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         FROM documents),
       t AS (SELECT *, max(cum) OVER (PARTITION BY lang) AS total FROM c)
       SELECT doc_id, lang, weight,
         CAST((cum * 25) // total - ((cum - weight) * 25) // total
           AS INT) AS n_hits
       FROM t
       WHERE (cum * 25) // total - ((cum - weight) * 25) // total >= 1
       ORDER BY doc_id"""

  /** Per-domain document cap — the standard curation guard against a
    * handful of giant sources dominating the training mix (the
    * "cap documents per domain" step in public web-corpus recipes):
    * keep at most `cap` documents per `source`, preferring the longest
    * (`n_chars` desc, `doc_id` tiebreak), and emit the kept set with
    * its per-source rank.
    *
    * 100 TB shape: ONE source-keyed exchange. The rank<=cap filter is
    * recognized by Spark's WindowGroupLimit rule (plan-asserted in
    * `PlanAssertionsSpec`): every map task pre-truncates each source
    * group to its local top `cap` BEFORE the shuffle, so a skewed
    * mega-domain contributes at most cap rows per map task to the
    * exchange instead of its full document count — the cap itself is
    * the skew guard.
    */
  def domainCap(spark: SparkSession, dir: String): DataFrame = {
    val cap = 20
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    tableWide(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= cap)
      .orderBy(col("source"), col("rk"))
  }

  private val domainCapSql =
    """WITH r AS (
         SELECT doc_id, source, n_chars,
           row_number() OVER (PARTITION BY source
             ORDER BY n_chars DESC, doc_id) AS rk
         FROM documents)
       SELECT doc_id, source, n_chars, CAST(rk AS INT) AS rk
       FROM r WHERE rk <= 20 ORDER BY source, rk"""

  /** Data-mixture planning + deterministic apply — the "mixing weights"
    * step of every training recipe (rebalance a skewed crawl toward a
    * target per-language token share): given inline target weights,
    * compute each stratum's planned token budget out of a global target
    * (half the corpus here), then SELECT the documents that realize it —
    * keep a doc iff `h20 · stratum_tokens < planned_tokens · 2^20`,
    * where h20 is 20 bits of the content md5. The inequality is exact
    * integer fixed-point: the keep RATE is planned/stratum with no
    * float, no RNG, and a selection that is stable under reordering,
    * partitioning, and reruns (the property that makes a 100 TB sample
    * reproducible). Output per lang: corpus stats, plan, and the
    * realized mix side by side (`realized_permille` ≈
    * 1000·planned/stratum, capped at 1000 when the stratum is smaller
    * than its budget).
    *
    * 100 TB shape: the doc frame shuffles only (doc_id, lang, n_tokens,
    * h20) — text is reduced to a hash and a count in the scan
    * projection. Stratum stats are ONE narrow map-side-combined
    * aggregation; the plan table (rows = #languages) is broadcast back
    * for the selection filter — genuinely tiny at any corpus size.
    * Fixed-point scale 2^20 keeps `h20 · stratum_tokens` inside a long
    * up to ~8×10^12 stratum tokens (~petabyte strata); raise the hash
    * to fewer bits before that overflows.
    */
  def mixturePlan(spark: SparkSession, dir: String): DataFrame = {
    val m = 1048576L
    val weight =
      when(col("lang") === "en", 3).when(col("lang") === "zh", 3)
        .when(col("lang") === "de", 2).when(col("lang") === "fr", 1)
        .when(col("lang") === "es", 1).otherwise(0)
    val docs = graft.Overlap.own(tableWide(spark, dir, "documents")
      .select(col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        conv(substring(md5(col("text").cast("binary")), 1, 5), 16, 10)
          .cast("long").as("h20"))
      .persist())
    val stats = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("stratum_tokens"))
    val total = stats.agg(sum(col("stratum_tokens")).as("total_tokens"))
    val plan = stats.crossJoin(broadcast(total))
      .withColumn("weight", weight)
      .withColumn("planned_tokens",
        expr("(total_tokens div 2) * weight div 10"))
    val kept = docs
      .join(broadcast(plan.select(col("lang"), col("stratum_tokens"),
        col("planned_tokens"))), Seq("lang"))
      .filter(col("h20") * col("stratum_tokens") <
        col("planned_tokens") * m)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("kept_docs"), sum(col("n_tokens")).as("kept_tokens"))
    plan.join(kept, Seq("lang"), "left")
      .select(col("lang"), col("n_docs").cast("int").as("n_docs"),
        col("stratum_tokens"), col("weight"), col("planned_tokens"),
        coalesce(col("kept_docs"), lit(0L)).cast("int").as("kept_docs"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        expr("coalesce(kept_tokens, 0L) * 1000 div stratum_tokens")
          .as("realized_permille"))
      .orderBy(col("lang"))
  }

  private val mixturePlanSql =
    """WITH d AS (
         SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT)
             AS n_tokens,
           CAST('0x' || substr(md5(text), 1, 5) AS BIGINT) AS h20
         FROM documents),
       s AS (SELECT lang, count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS stratum_tokens
             FROM d GROUP BY lang),
       t AS (SELECT CAST(sum(stratum_tokens) AS BIGINT) AS total_tokens
             FROM s),
       w(lang, weight) AS (VALUES ('en', 3), ('zh', 3), ('de', 2),
                                  ('fr', 1), ('es', 1)),
       p AS (SELECT s.lang, s.n_docs, s.stratum_tokens,
               coalesce(w.weight, 0) AS weight,
               ((t.total_tokens // 2) * coalesce(w.weight, 0)) // 10
                 AS planned_tokens
             FROM s LEFT JOIN w USING (lang), t),
       k AS (SELECT d.lang, count(*) AS kept_docs,
               CAST(sum(d.n_tokens) AS BIGINT) AS kept_tokens
             FROM d JOIN p USING (lang)
             WHERE d.h20 * p.stratum_tokens < p.planned_tokens * 1048576
             GROUP BY d.lang)
       SELECT p.lang, CAST(p.n_docs AS INT) AS n_docs, p.stratum_tokens,
         p.weight, p.planned_tokens,
         CAST(coalesce(k.kept_docs, 0) AS INT) AS kept_docs,
         CAST(coalesce(k.kept_tokens, 0) AS BIGINT) AS kept_tokens,
         (CAST(coalesce(k.kept_tokens, 0) AS BIGINT) * 1000)
           // p.stratum_tokens AS realized_permille
       FROM p LEFT JOIN k USING (lang) ORDER BY p.lang"""

  /** Boilerplate-segment removal — the CCNet / RefinedWeb "repeated
    * lines" cleanup adapted to segment granularity: the corpus is cut
    * into NON-overlapping 6-token segments (the unit a nav bar, cookie
    * banner, or license header occupies), any segment appearing in >= 3
    * distinct documents is boilerplate, and EVERY occurrence is cut —
    * zero copies survive, unlike [[Dedup.substringDedupApply]] which
    * keeps one canonical copy of a shared span (dedup keeps content,
    * boilerplate removal deletes it). Emits per doc the segment/token
    * accounting, floor-rounded removed fraction, and the cleaned-text
    * md5.
    *
    * 100 TB shape: segmentation + [[graft.functions.PolyHash2]]
    * fingerprinting happen in ONE map-side projection, so the
    * document-frequency aggregation and the flag join shuffle only
    * (doc_id, pos, h) longs. The removed-position lists ride back to
    * the corpus as a BROADCAST (bounded by docs-containing-boilerplate
    * — the minority by definition) and reconstruction is a map-side
    * `filter(words, ...)` — the corpus text never shuffles
    * (plan-asserted). A segment hot enough to sit in millions of docs
    * skews the flag join's h key; that is AQE skew-split territory
    * (`OptimizeSkewedJoin`), and unlike the Jaccard posting join a df
    * cutoff is NOT available — the hottest segments are precisely the
    * ones that must be removed.
    */
  def boilerplateRemoval(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.PolyHash2.register(spark)
    val w = 6
    val minDf = 3
    val docs = tableWide(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("words"))
    val segs = graft.Overlap.own(docs
      .select(col("doc_id"),
        posexplode(expr(
          s"""transform(sequence(0, cast(ceil(size(words) / $w.0) as int) - 1),
                i -> poly_hash2(concat_ws(' ', slice(words, i * $w + 1, $w))))"""))
          .as(Seq("pos", "h")))
      .persist())
    val boiler = segs.select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    val rem = segs.join(boiler, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("pos"))).as("rlist"))
    docs.join(gatedBroadcast(spark, rem), Seq("doc_id"), "left")
      .select(col("doc_id"),
        ceil(size(col("words")) / w.toDouble).cast("int").as("n_segs"),
        when(col("rlist").isNull, 0).otherwise(size(col("rlist")))
          .cast("int").as("n_boiler_segs"),
        size(col("words")).cast("int").as("n_tokens"),
        size(expr(s"filter(words, (t, i) -> rlist IS NULL" +
          s" OR NOT array_contains(rlist, i div $w))"))
          .cast("int").as("kept_tokens"),
        md5(concat_ws(" ", expr(s"filter(words, (t, i) -> rlist IS NULL" +
          s" OR NOT array_contains(rlist, i div $w))")).cast("binary"))
          .as("cleaned_md5"))
      .withColumn("removed_permille",
        expr("(n_tokens - kept_tokens) * 1000 div n_tokens"))
      .orderBy(col("doc_id"))
  }

  private val boilerplateRemovalSql =
    """WITH t AS (
         SELECT doc_id, string_split(text, ' ') AS words FROM documents),
       s AS (
         SELECT doc_id,
           unnest(list_transform(
             range(0, CAST(ceil(len(words) / 6.0) AS BIGINT)),
             i -> struct_pack(pos := i,
               seg := array_to_string(words[i*6+1:i*6+6], ' ')))) AS u
         FROM t),
       segs AS (SELECT doc_id, u.pos AS pos, u.seg AS seg FROM s),
       boiler AS (
         SELECT seg FROM (
           SELECT seg, count(DISTINCT doc_id) AS df FROM segs GROUP BY seg)
         WHERE df >= 3),
       rem AS (
         SELECT doc_id, list_sort(list(pos)) AS rlist
         FROM segs JOIN boiler USING (seg) GROUP BY doc_id),
       j AS (
         SELECT t.doc_id, t.words, rem.rlist,
           CASE WHEN rem.rlist IS NULL THEN t.words
             ELSE list_filter(t.words,
               (tok, i) -> NOT list_contains(rem.rlist, (i - 1) // 6))
           END AS kept
         FROM t LEFT JOIN rem USING (doc_id))
       SELECT doc_id,
         CAST(ceil(len(words) / 6.0) AS INT) AS n_segs,
         CAST(coalesce(len(rlist), 0) AS INT) AS n_boiler_segs,
         CAST(len(words) AS INT) AS n_tokens,
         CAST(len(kept) AS INT) AS kept_tokens,
         md5(coalesce(array_to_string(kept, ' '), '')) AS cleaned_md5,
         CAST((len(words) - len(kept)) * 1000 // len(words) AS BIGINT)
           AS removed_permille
       FROM j ORDER BY doc_id"""

  /** Token-budgeted shard packing — the "write the training shards"
    * step: documents in a deterministic global order (content hash,
    * doc_id tiebreak) are packed greedily into shards of ~2048 tokens;
    * a doc belongs to the shard its global token offset starts in. The
    * interesting part is HOW the global offset is computed at 100 TB:
    * a global running sum is a single-partition window, so this uses
    * the classic two-phase distributed prefix sum instead — 32 hash
    * ranges accumulate per-range partials in one narrow shuffle, the
    * 32-row range-total table turns into starting offsets with one
    * tiny driver-side-scale window, and those offsets BROADCAST back
    * so each range computes its local running sum independently
    * (`global = range_offset + local_cum`). Every stage is data-sized
    * parallel; nothing global ever materializes. Output: per-shard doc
    * and token counts plus the hash span, which the oracle checks
    * against DuckDB's genuinely-global window — proving the two-phase
    * decomposition IS the global prefix sum.
    */
  def shardPack(spark: SparkSession, dir: String): DataFrame = {
    // docs feeds both the offsets aggregation and the packing join:
    // persist so the split+md5 scan pass runs once
    val docs = graft.Overlap.own(tableWide(spark, dir, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        conv(substring(md5(col("text").cast("binary")), 1, 5), 16, 10)
          .cast("long").as("h20"))
      .persist())
    assignShards(docs, budget = 2048L).groupBy(col("shard_id"))
      .agg(count(lit(1)).cast("int").as("n_docs"),
        sum(col("n_tokens")).as("shard_tokens"),
        min(col("h20")).as("min_h"), max(col("h20")).as("max_h"))
      .orderBy(col("shard_id"))
  }

  /** The per-doc shard assignment behind [[shardPack]] (and
    * [[graft.Curate]]'s corpus writer): the two-phase distributed
    * prefix sum over an arbitrary (doc_id, n_tokens, h20) frame —
    * 32 hash-range partials, a 32-row offsets table broadcast back,
    * local running sums. Returns the input plus `shard_id`.
    */
  private[graft] def assignShards(docsIn: DataFrame, budget: Long)
      : DataFrame = {
    val nb = 32L
    val m = 1048576L
    val docs = docsIn.withColumn("rb", expr(s"h20 * $nb div $m").cast("int"))
    val offsets = docs.groupBy(col("rb"))
      .agg(sum(col("n_tokens")).as("bt"))
      .withColumn("off", coalesce(
        sum(col("bt")).over(Window.orderBy(col("rb"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    docs
      .join(broadcast(offsets.select(col("rb"), col("off"))), Seq("rb"))
      .withColumn("local_cum",
        sum(col("n_tokens")).over(Window.partitionBy(col("rb"))
          .orderBy(col("h20"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("shard_id",
        expr(s"(off + local_cum - n_tokens) div $budget"))
      .drop("rb", "off", "local_cum")
  }

  private val shardPackSql =
    """WITH d AS (
         SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST('0x' || substr(md5(text), 1, 5) AS BIGINT) AS h20
         FROM documents),
       c AS (
         SELECT doc_id, n_tokens, h20,
           sum(n_tokens) OVER (ORDER BY h20, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gcum
         FROM d),
       s AS (SELECT CAST((gcum - n_tokens) // 2048 AS BIGINT) AS shard_id,
               n_tokens, h20
             FROM c)
       SELECT shard_id, CAST(count(*) AS INT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
         min(h20) AS min_h, max(h20) AS max_h
       FROM s GROUP BY shard_id ORDER BY shard_id"""

  /** The three STATELESS gate signals over any frame with a `words`
    * column — one definition executed in two modes: [[qualityGate]]
    * (batch, plus the model-dependent fluency bit) and
    * [[graft.streaming.EventStream.streamQualityGate]] (per micro-batch,
    * zero state). Sharing the projection is what makes the "batch
    * stages are streaming-safe as written" claim literal: the stream
    * runs THIS code, not a copy that could drift.
    */
  private[graft] def gateSignals(df: DataFrame): DataFrame = df
    .withColumn("n_tokens", size(col("words")).cast("long"))
    .withColumn("sum_chars",
      expr("aggregate(words, 0L, (acc, w) -> acc + length(w))"))
    .withColumn("grams",
      when(size(col("words")) >= 3, expr(
        """transform(sequence(0, size(words) - 3),
             i -> concat_ws(' ', words[i], words[i+1], words[i+2]))"""))
        .otherwise(array().cast("array<string>")))
    .withColumn("s_len",
      col("n_tokens") >= 20 && col("n_tokens") <= 5000)
    .withColumn("s_shape",
      col("sum_chars") >= col("n_tokens") * 2 &&
        col("sum_chars") <= col("n_tokens") * 12)
    .withColumn("s_rep",
      size(array_distinct(col("grams"))) * 100 >= size(col("grams")) * 95)

  /** The signal CTE + predicates of [[gateSignals]] in DuckDB form,
    * interpolated into BOTH gate oracles so the SQL twins cannot drift
    * from each other either.
    */
  private[graft] val gateBaseCteSql =
    """SELECT doc_id, lang, CAST(len(words) AS BIGINT) AS n_tokens,
           CAST(list_aggregate(list_transform(words, w -> length(w)),
             'sum') AS BIGINT) AS sum_chars,
           list_transform(range(1, len(words) - 1),
             i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
             AS grams
         FROM t"""
  private[graft] val sLenSql = "(n_tokens >= 20 AND n_tokens <= 5000)"
  private[graft] val sShapeSql =
    "(sum_chars >= n_tokens * 2 AND sum_chars <= n_tokens * 12)"
  private[graft] val sRepSql =
    "(len(list_distinct(grams)) * 100 >= len(grams) * 95)"

  /** The quality GATE — the final keep/drop decision a curation
    * pipeline actually executes, composing four orthogonal signals into
    * one verdict per document with a reason bitmask (bit 0 length, 1
    * word shape, 2 repetition, 3 LM fluency — the operational artifact:
    * "why did my doc get dropped" without re-running anything):
    *
    *  - length gate: 20 <= tokens <= 5000 (Gopher-style bounds)
    *  - word shape: mean word length in [2, 12], compared as the exact
    *    integer cross-product `2n <= sum_chars <= 12n` — no division
    *  - repetition: distinct-trigram fraction >= 0.95, again integer
    *    (`100·distinct >= 95·total`)
    *  - fluency: [[TextAnalysis.bigramLmScore]]'s mean_qlp >= -4.75
    *    (the corpus's 5th percentile — the "high-perplexity tail" cut)
    *
    * 100 TB shape: the first three signals are map-only list arithmetic
    * fused into the scan projection; the only non-map stage is the
    * fluency join against the bigram score frame (doc-keyed, narrow),
    * which itself shuffles only hashed longs. The gate emits a row per
    * doc — at production scale you'd write it next to the corpus as the
    * filter manifest.
    */
  def qualityGate(spark: SparkSession, dir: String): DataFrame = {
    val lm = graft.ext.TextAnalysis.bigramLmScore(spark, dir)
      .select(col("doc_id"), col("mean_qlp"))
    val d = gateSignals(tableWide(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("words")))
    d.join(lm, Seq("doc_id"), "left")
      .withColumn("s_flu",
        col("mean_qlp").isNotNull && col("mean_qlp") >= -4.75)
      .withColumn("reason_mask",
        (when(col("s_len"), 0).otherwise(1)
          + when(col("s_shape"), 0).otherwise(2)
          + when(col("s_rep"), 0).otherwise(4)
          + when(col("s_flu"), 0).otherwise(8)).cast("int"))
      .select(col("doc_id"), col("lang"),
        col("n_tokens").cast("int").as("n_tokens"),
        col("s_len"), col("s_shape"), col("s_rep"), col("s_flu"),
        col("reason_mask"), (col("reason_mask") === 0).as("keep"))
      .orderBy(col("doc_id"))
  }

  private val qualityGateSql =
    s"""WITH t AS (
         SELECT doc_id, lang, string_split(text, ' ') AS words
         FROM documents),
       base AS (
         $gateBaseCteSql),
       lmt AS (
         SELECT doc_id, string_split(text, ' ') AS words FROM documents
         WHERE len(string_split(text, ' ')) >= 2),
       lmp AS (
         SELECT doc_id,
           unnest(list_transform(range(1, len(words)),
             i -> struct_pack(w1 := words[i],
                              pr := words[i] || ' ' || words[i+1]))) AS s
         FROM lmt),
       occ AS (SELECT doc_id, s.w1 AS w1, s.pr AS pr FROM lmp),
       pairn AS (SELECT pr, count(*) AS n_pair FROM occ GROUP BY pr),
       histn AS (SELECT w1, count(*) AS n_hist FROM occ GROUP BY w1),
       lm AS (
         SELECT doc_id,
           floor(avg(length(bin(n_pair)) - length(bin(n_hist))) * 1000
             + 0.5) / 1000 AS mean_qlp
         FROM occ JOIN pairn USING (pr) JOIN histn USING (w1)
         GROUP BY doc_id),
       g AS (
         SELECT base.*, lm.mean_qlp,
           $sLenSql AS s_len,
           $sShapeSql AS s_shape,
           $sRepSql AS s_rep,
           (lm.mean_qlp IS NOT NULL AND lm.mean_qlp >= -4.75) AS s_flu
         FROM base LEFT JOIN lm USING (doc_id))
       SELECT doc_id, lang, CAST(n_tokens AS INT) AS n_tokens,
         s_len, s_shape, s_rep, s_flu,
         CAST((CASE WHEN s_len THEN 0 ELSE 1 END)
           + (CASE WHEN s_shape THEN 0 ELSE 2 END)
           + (CASE WHEN s_rep THEN 0 ELSE 4 END)
           + (CASE WHEN s_flu THEN 0 ELSE 8 END) AS INT) AS reason_mask,
         ((CASE WHEN s_len THEN 0 ELSE 1 END)
           + (CASE WHEN s_shape THEN 0 ELSE 2 END)
           + (CASE WHEN s_rep THEN 0 ELSE 4 END)
           + (CASE WHEN s_flu THEN 0 ELSE 8 END)) = 0 AS keep
       FROM g ORDER BY doc_id"""

  val qs: Seq[Q] = Seq(
    Q("x_curation_pipeline", curationPipeline, Some(curationPipelineSql),
      bench = true),
    Q("x_curation_neardup", curationNearDupVerified,
      Some(curationNearDupVerifiedSql), benchFn = Some(curationNearDup)),
    Q("x_weighted_sample", weightedSample, Some(weightedSampleSql)),
    Q("x_domain_cap", domainCap, Some(domainCapSql)),
    Q("x_mixture_plan", mixturePlan, Some(mixturePlanSql)),
    Q("x_boilerplate_removal", boilerplateRemoval,
      Some(boilerplateRemovalSql), bench = true),
    Q("x_shard_pack", shardPack, Some(shardPackSql)),
    Q("x_quality_gate", qualityGate, Some(qualityGateSql)))
}
