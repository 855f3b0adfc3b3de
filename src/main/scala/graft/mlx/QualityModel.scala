package graft.mlx

import org.apache.spark.ml.classification.{LogisticRegression, LogisticRegressionModel}
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Q
import graft.functions.Rounding.r4
import graft.io.Sources.tableWide

/** [EXT] Model-based document quality scorer (round-8 directive) — the
  * learned companion of the rule-based `x_quality_gate`: a logistic
  * regression over the engine's existing quality SIGNALS (word entropy,
  * trigram repetition, Zipf word-rank, bigram-LM fluency), trained
  * against a weak label the signals do NOT see — the stopword/length/
  * punctuation composite score of the curation pipeline (the public
  * GPT-3/CCNet recipe shape: train a cheap classifier to predict
  * "looks like the curated reference", then score everything with it).
  *
  * Band-oracled like ml1-ml3: the LBFGS fit is engine-specific, so the
  * driver hash-checks the engine-independent TRUTH rows — the per-doc
  * signal/label table, every column already floor-rounded or integer
  * (each signal is the exact formulation its own registered query
  * oracles) — plus verdict booleans distilled from the fit:
  *
  *  - `auc_beats_gate`: the model's ROC AUC against the weak label is
  *    >= the rule-based gate's binary keep bit scored the same way —
  *    the learned combination must rank at least as well as the
  *    hand-written rule (measured 0.87 vs 0.62 at sf0.01, 0.87 vs 0.64
  *    at sf0.001; the spec pins a +0.05 margin);
  *  - `auc_floor_ok`: model AUC >= 0.7 outright;
  *  - `fit_ok`: the fit produced finite coefficients.
  *
  * Determinism: the fit input is pinned to a fixed hash layout
  * (repartition(16, doc_id) + within-partition sort — the
  * [[Clustering.assembled]] discipline), maxIter/regParam explicit, so
  * the model is bit-stable across parallelism; the verdict scalars are
  * O(1) driver values (two evaluator runs + the coefficient vector),
  * within the §2.9 collect-boundary policy.
  *
  * 100 TB shape: every signal is the already-audited distributed
  * formulation (map-side-combined aggregates on narrow keys; the vocab
  * rank table is top-k'd then broadcast); the signal join is doc-keyed;
  * the LBFGS fit iterates over the pinned assembly (one pass per
  * iteration, the inherent cost of training); production scoring
  * ([[benchScores]]) is map-only against the broadcast coefficients.
  */
object QualityModel {

  /** The signals table, memoized per (app, dir) in the owning
    * [[graft.Overlap]] scope.
    */
  private val SignalsMemo = "quality-model.signals"

  /** Fitted-model memo (round-12 directive 1): one LBFGS fit per
    * (session, dir) — `qualityModelVerified` previously fit TWICE (once
    * inside [[aucs]], once for `fitOk`) and [[benchScores]] refit on
    * every bench sample despite documenting a map-only scoring pass
    * (4.81 s driver median, most of it fit iterations). Deliberately
    * NOT owned by a [[graft.Overlap]] scope: Bench opens one per
    * sample, which would reinstate the per-sample refit;
    * the model is O(#features) doubles — no cached plan or storage
    * blocks to release — so a plain process-lifetime map is the right
    * lifecycle (same class of fix as round 10's `pipe2_curate_main`
    * double-execution). Correctness unchanged: the fit input is pinned
    * to a fixed hash layout, so cached vs refit is bit-identical.
    *
    * Asymmetry vs the `Similarity` corpus memo (deliberate, round-12
    * ADVICE): this cache carries NO input-fingerprint validation — an
    * in-place regeneration of the documents table mid-session keeps
    * serving the model fit on the old data. Acceptable under the
    * single-writer harness contract (testdata is immutable within a
    * session); a multi-writer deployment would key the memo with the
    * same source-file fingerprint pattern `Similarity.corpus` uses.
    *
    * Keyed on [[graft.Sessions.appKey]] (round-16 directive 1), NOT on
    * `System.identityHashCode(spark)`: the round-15 driver bench ran
    * extra LBFGS fits inside the timed window at unchanged code (39
    * jobs / 65 stages vs 26/26 at HEAD) — a harness that wraps or
    * clones the session defeats an identity-keyed memo, while
    * applicationId is stable for the whole app. The model is
    * deterministic given (dir + the pinned 16-partition fit layout),
    * so app-wide sharing is bit-identical to per-session fitting.
    */
  private val modelMemo =
    new java.util.concurrent.ConcurrentHashMap[String, LogisticRegressionModel]()

  /** Number of LBFGS fits actually run — pinned to 1-per-session by
    * `OperatorInvariantsSpec` so the memoization can't silently regress.
    */
  private[graft] val fitCount = new java.util.concurrent.atomic.AtomicLong

  private val FitPartitions = 16

  /** The per-doc signal + weak-label table — the truth rows. All four
    * signals reuse the exact formulations of their registered queries
    * (`x_entropy_filter`, `x_repetition`, `x_word_rank_score`,
    * `x_bigram_lm_score`); docs too short for a signal (under 3 words
    * for trigrams, under 2 for bigrams) contribute the neutral 0.
    */
  /** Signals-tier computes actually run — see
    * [[graft.mlx.Clustering.assembledComputeCount]]; the wrapped-session
    * row in `OperatorInvariantsSpec` pins this at no-recompute too.
    */
  private[graft] val signalsComputeCount =
    new java.util.concurrent.atomic.AtomicLong

  private[graft] def signals(spark: SparkSession, dir: String): DataFrame =
    // Sessions.appKey, one keyspace with the model memo below (round-16
    // directive 2): an identity-keyed entry here meant a wrapping
    // harness recomputed the whole four-signal join per wrapper even
    // while the model memo held
    graft.Overlap.memo(SignalsMemo, graft.Sessions.appKey(spark, dir)) {
      signalsComputeCount.incrementAndGet()
      val ent = graft.ext.TextAnalysis.entropyFilter(spark, dir)
        .select(col("doc_id"), col("n_words"), col("entropy_q"))
      val rep = graft.ext.TextAnalysis.repetition(spark, dir)
        .select(col("doc_id"), col("dup_frac"))
      val wrs = graft.ext.TextAnalysis.wordRankScore(spark, dir)
        .select(col("doc_id"), col("mean_log_rank"), col("oov_frac"))
      val lm = graft.ext.TextAnalysis.bigramLmScore(spark, dir)
        .select(col("doc_id"), col("mean_qlp"))
      // the weak label: x_curation_pipeline's stage-3 score over
      // signals the model does NOT consume — length, stopword ratio,
      // punctuation density
      val lbl = graft.ext.Curation.withQuality(
          tableWide(spark, dir, "documents"))
        .select(col("doc_id"),
          (col("quality") >= 0.45).cast("int").as("label"))
      val df = graft.Overlap.own(ent
        .join(rep, Seq("doc_id"), "left")
        .join(wrs, Seq("doc_id"), "left")
        .join(lm, Seq("doc_id"), "left")
        .join(lbl, Seq("doc_id"))
        .select(col("doc_id"), col("n_words"), col("entropy_q"),
          coalesce(col("dup_frac"), lit(0.0)).as("dup_frac"),
          col("mean_log_rank"), col("oov_frac"),
          coalesce(col("mean_qlp"), lit(0.0)).as("mean_qlp"),
          col("label"))
        .repartition(FitPartitions, col("doc_id"))
        .sortWithinPartitions(col("doc_id"))
        .cache())
      // NO materializing count here (round 22, §2.4), unlike
      // Clustering.assembled: the LBFGS fit that would misattribute the
      // assembly cost is PROCESS-memoized (fitCount == 1), so after the
      // first call the only consumer is the scoring/verdict action of
      // the CURRENT query — which materializes the cache in the job it
      // already runs. The count was one extra planned action on every
      // bench sample (the signals memo lives for one sample) for
      // attribution the fit memo already made moot.
      df
    }

  private def assemble(df: DataFrame): DataFrame =
    new VectorAssembler()
      .setInputCols(Array("entropy_rate", "dup_frac", "mean_log_rank",
        "oov_frac", "mean_qlp"))
      .setOutputCol("features")
      .transform(df.withColumn("entropy_rate",
        col("entropy_q").cast("double") / col("n_words")))

  private def fit(spark: SparkSession, dir: String)
      : LogisticRegressionModel =
    modelMemo.computeIfAbsent(graft.Sessions.appKey(spark, dir),
      _ => {
        fitCount.incrementAndGet()
        new LogisticRegression()
          .setMaxIter(50).setRegParam(0.0).setTol(1e-6)
          .setStandardization(true)
          .setFeaturesCol("features").setLabelCol("label")
          .fit(assemble(signals(spark, dir)))
      })

  /** Production path (timed by Bench): per-doc learned quality
    * probability — a map-only pass against the broadcast model once the
    * signals exist. The model comes from the session-lifetime
    * [[modelMemo]], so only the FIRST call in a session pays the LBFGS
    * iterations; subsequent bench samples time what this doc claims —
    * signal derivation plus the scoring map.
    */
  def benchScores(spark: SparkSession, dir: String): DataFrame = {
    val model = fit(spark, dir)
    model.transform(assemble(signals(spark, dir)))
      .withColumn("p1", org.apache.spark.ml.functions
        .vector_to_array(col("probability"))(1))
      .select(col("doc_id"), col("label"),
        r4(col("p1")).as("quality_p"))
      .orderBy(col("doc_id"))
  }

  /** (model AUC, rule-gate AUC) against the weak label — the two O(1)
    * driver scalars behind the verdicts; exposed so the invariant spec
    * asserts the margin on the same computation the query pins.
    */
  private[graft] def aucs(spark: SparkSession, dir: String)
      : (Double, Double) = {
    val model = fit(spark, dir)
    val scored = model.transform(assemble(signals(spark, dir)))
      .withColumn("p1", org.apache.spark.ml.functions
        .vector_to_array(col("probability"))(1))
    val eval = new BinaryClassificationEvaluator()
      .setLabelCol("label").setMetricName("areaUnderROC")
    val aucModel = eval.setRawPredictionCol("p1").evaluate(scored)
    // the rule-based gate's keep bit as a (binary) score on the same
    // label: the baseline the learned model must beat
    val gate = graft.ext.Curation.qualityGate(spark, dir)
      .select(col("doc_id"), col("keep").cast("double").as("gate_score"))
    val gated = signals(spark, dir).join(gate, Seq("doc_id"))
    (aucModel, eval.setRawPredictionCol("gate_score").evaluate(gated))
  }

  /** Band-oracle registered entry — truth rows + pinned fit verdicts. */
  def qualityModelVerified(spark: SparkSession, dir: String): DataFrame = {
    val (aucModel, aucGate) = aucs(spark, dir)
    val fitOk = fit(spark, dir).coefficients.toArray.forall(c =>
      !c.isNaN && !c.isInfinite)
    signals(spark, dir)
      .withColumn("auc_beats_gate", lit(aucModel >= aucGate))
      .withColumn("auc_floor_ok", lit(aucModel >= 0.7))
      .withColumn("fit_ok", lit(fitOk))
      .orderBy(col("doc_id"))
  }

  /** DuckDB replay of the truth rows: the four signal formulations
    * (same CTE bodies their own oracles use) joined per doc, the weak
    * label's composite, and the verdicts pinned TRUE.
    */
  private val qualityModelSql =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS words
                  FROM documents),
       wc AS (SELECT doc_id, w, max(n) AS n, count(*) AS c
              FROM (SELECT doc_id, len(words) AS n, unnest(words) AS w
                    FROM t)
              GROUP BY doc_id, w),
       ent AS (SELECT doc_id, CAST(max(n) AS INT) AS n_words,
                 CAST(sum(c * (length(bin(CAST(n AS BIGINT)))
                               - length(bin(CAST(c AS BIGINT)))))
                   AS BIGINT) AS entropy_q
               FROM wc GROUP BY doc_id),
       rg AS (SELECT doc_id,
                unnest(list_transform(range(2, len(words)),
                  i -> words[i-1] || ' ' || words[i] || ' ' || words[i+1]))
                  AS gram
              FROM t WHERE len(words) >= 3),
       rc AS (SELECT doc_id, gram, count(*) AS cnt FROM rg GROUP BY 1, 2),
       rep AS (SELECT doc_id,
                 floor((1.0 - CAST(count(*) AS DOUBLE) / sum(cnt)) * 10000
                   + 0.5) / 10000 AS dup_frac
               FROM rc GROUP BY doc_id),
       v0 AS (SELECT unnest(words) AS word FROM t),
       v1 AS (SELECT word, count(*) AS n FROM v0 GROUP BY word),
       vocab AS (SELECT word, rank FROM (
                   SELECT word,
                     row_number() OVER (ORDER BY n DESC, word) AS rank
                   FROM v1) x
                 WHERE rank <= 20),
       post AS (SELECT doc_id, unnest(words) AS word FROM t),
       wrs AS (SELECT doc_id,
                 floor(avg(ln(coalesce(rank, 21))) * 10000 + 0.5) / 10000
                   AS mean_log_rank,
                 floor(avg(CASE WHEN rank IS NULL THEN 1.0 ELSE 0.0 END)
                   * 10000 + 0.5) / 10000 AS oov_frac
               FROM post LEFT JOIN vocab USING (word)
               GROUP BY doc_id),
       lmt AS (SELECT doc_id, words FROM t WHERE len(words) >= 2),
       lmp AS (SELECT doc_id,
                 unnest(list_transform(range(1, len(words)),
                   i -> struct_pack(w1 := words[i],
                                    pr := words[i] || ' ' || words[i+1])))
                   AS s
               FROM lmt),
       occ AS (SELECT doc_id, s.w1 AS w1, s.pr AS pr FROM lmp),
       pairn AS (SELECT pr, count(*) AS n_pair FROM occ GROUP BY pr),
       histn AS (SELECT w1, count(*) AS n_hist FROM occ GROUP BY w1),
       lm AS (SELECT doc_id,
                floor(avg(length(bin(n_pair)) - length(bin(n_hist)))
                  * 1000 + 0.5) / 1000 AS mean_qlp
              FROM occ JOIN pairn USING (pr) JOIN histn USING (w1)
              GROUP BY doc_id),
       lbl AS (SELECT doc_id,
                 CAST(floor(
                   (0.5 * least(CAST(len(string_split(lower(text), ' '))
                                  AS DOUBLE) / 100, CAST(1.0 AS DOUBLE))
                  + 0.3 * (CAST(len(list_filter(
                        string_split(lower(text), ' '),
                        w -> w IN ('the','a','of','and','to','in','is')))
                        AS DOUBLE)
                      / len(string_split(lower(text), ' ')))
                  + 0.2 * (CAST(1.0 AS DOUBLE)
                      - CAST(len(regexp_extract_all(text, '[^\w\s]'))
                          AS DOUBLE) / n_chars)) * 10000 + 0.5) / 10000
                   >= 0.45 AS INT) AS label
               FROM documents)
       SELECT ent.doc_id, ent.n_words, ent.entropy_q,
         coalesce(rep.dup_frac, 0.0) AS dup_frac,
         wrs.mean_log_rank, wrs.oov_frac,
         coalesce(lm.mean_qlp, 0.0) AS mean_qlp,
         lbl.label,
         TRUE AS auc_beats_gate, TRUE AS auc_floor_ok, TRUE AS fit_ok
       FROM ent
       LEFT JOIN rep USING (doc_id)
       LEFT JOIN wrs USING (doc_id)
       LEFT JOIN lm USING (doc_id)
       JOIN lbl USING (doc_id)
       ORDER BY ent.doc_id"""

  val qs: Seq[Q] = Seq(
    Q("x_quality_model", qualityModelVerified, Some(qualityModelSql),
      benchFn = Some(benchScores)))
}
