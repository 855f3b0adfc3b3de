package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Q
import graft.functions.Rounding.{r4, rN}
import graft.io.Sources.{table, tableWide}

/** [EXT] Text analysis for LLM-data pipelines over `documents`:
  * token counting, quality scoring, language-ID (marker heuristic).
  * All pure `functions._` column expressions — whole-stage codegen, no
  * UDFs, embarrassingly parallel (no shuffle at all: scan → project).
  */
object TextAnalysis {

  /** Token counting: whitespace words + a BPE-ish regex token count
    * (word pieces or single non-space punctuation).
    */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    tableWide(spark, dir, "documents")
      .withColumn("n_words", size(split(col("text"), " ")))
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_calc"),
        col("n_words"),
        expr("size(regexp_extract_all(text, '\\\\w+|[^\\\\w\\\\s]', 0))")
          .as("n_tokens"),
        rN(length(col("text")).cast("double") / col("n_words"), 2)
          .as("chars_per_word"))
      .orderBy(col("doc_id"))

  private val tokenStatsSql =
    """SELECT doc_id,
       length(text) AS n_chars_calc,
       CAST(len(string_split(text, ' ')) AS INT) AS n_words,
       CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS INT) AS n_tokens,
       floor((CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')))
         * 100 + 0.5) / 100 AS chars_per_word
       FROM documents ORDER BY doc_id"""

  /** Quality scoring: length/stopword/punctuation signals combined into
    * a [0,1] score — the standard pre-training quality-filter shape.
    * The score is the curation pipeline's stage-3 score
    * ([[Curation.withQuality]]); this op adds the two rounded ratios.
    */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    Curation.withQuality(tableWide(spark, dir, "documents"))
      .select(
        col("doc_id"), col("n_words"), col("sw_cnt"), col("punct_cnt"),
        r4(col("sw_cnt").cast("double") / col("n_words"))
          .as("stopword_ratio"),
        r4(col("punct_cnt").cast("double") / col("n_chars"))
          .as("punct_ratio"),
        col("quality"))
      .orderBy(col("doc_id"))

  private val qualityScoreSql =
    s"""WITH t AS (
          SELECT doc_id, n_chars,
            len(string_split(lower(text), ' ')) AS n_words,
            len(list_filter(string_split(lower(text), ' '),
                w -> w IN (${Curation.StopwordList}))) AS sw_cnt,
            len(regexp_extract_all(text, '[^\\w\\s]')) AS punct_cnt
          FROM documents),
        r AS (
          SELECT doc_id, n_words, sw_cnt, punct_cnt,
            CAST(sw_cnt AS DOUBLE) / n_words AS sw_ratio,
            CAST(punct_cnt AS DOUBLE) / n_chars AS punct_ratio
          FROM t)
        SELECT doc_id, CAST(n_words AS INT) AS n_words,
          CAST(sw_cnt AS INT) AS sw_cnt, CAST(punct_cnt AS INT) AS punct_cnt,
          floor(sw_ratio * 10000 + 0.5) / 10000 AS stopword_ratio,
          floor(punct_ratio * 10000 + 0.5) / 10000 AS punct_ratio,
          floor((0.5 * least(CAST(n_words AS DOUBLE) / 100, CAST(1.0 AS DOUBLE))
               + 0.3 * sw_ratio + 0.2 * (CAST(1.0 AS DOUBLE) - punct_ratio))
            * 10000 + 0.5) / 10000 AS quality
        FROM r ORDER BY doc_id"""

  /** Char-trigram profiles for the n-gram language-ID (Cavnar &
    * Trenkle-style "text categorization with character n-grams"): the
    * highest-frequency boundary-padded trigrams of each language's
    * function-word layer, as inline literals so the scorer is a pure
    * deterministic column expression BOTH engines replay exactly.
    * Profiles overlap (" de" is top-rank in German, French, AND
    * Spanish) — that's real; the argmax over ~35 trigrams per language
    * is what separates them, proven >= 95% accurate on genuinely
    * multilingual text in `LangIdSpec`.
    */
  private val trigramProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" th", "the", "he ", "ing", "ng ", " an", "and", "nd ",
      "ion", " of", "of ", "ed ", " to", "to ", "er ", "ent", " in",
      "is ", " is", "at ", "es ", " co", "re ", "tio", " be", " re",
      "hat", "ere", "his", " wh", "ith", " it", "ver", "all", " on"),
    "de" -> Seq(" de", "der", "er ", "ie ", " di", "die", "und", " un",
      "ein", "ch ", "cht", "sch", " ge", "gen", "en ", "ich", " ic",
      "ber", "ten", "das", " da", "ung", " ei", "ine", "nde", "ist",
      "den", "ses", "eit", " zu", "auf", " au", "ben", "ert", " we"),
    "fr" -> Seq(" de", "de ", "es ", " le", "le ", "ent", "nt ", "la ",
      " la", "et ", " et", "ion", "que", " qu", "ue ", " pa", "ait",
      "re ", " re", "les", "eur", "our", " co", "des", "ois", "eme",
      "ais", "ant", " pr", "dan", " da", "ans", "une", " un", "ur "),
    "es" -> Seq(" de", "de ", "os ", " la", "la ", "el ", " el", "es ",
      " es", "ent", "nte", " en", "en ", "ión", "que", " qu", "ue ",
      "ar ", "ado", "con", " co", "los", " lo", "as ", " se", "del",
      "cio", "ien", "and", "ora", "par", " pa", "sta", "ara", "una"))

  /** The trigram scorer over any frame with a `text` column: pads with
    * word-boundary spaces, scores every char-trigram window against all
    * four profiles in ONE pass of the custom codegen
    * [[graft.functions.TrigramProfileScore]] expression (packed-long
    * window keys binary-searched in a shared mask table — the
    * declarative 4x IN-list formulation scanned ~140 literals per
    * window and benchmarked 10x slower; `TrigramProfileScoreSpec` pins
    * bit-equivalence, and the DuckDB oracle keeps the declarative
    * form), and argmaxes with a deterministic tie-break
    * (en > de > fr > es; CJK chars force zh). Exposed for [[langId]]
    * and for `LangIdSpec`'s real-language accuracy floor.
    */
  private[graft] def langScores(df: DataFrame): DataFrame = {
    graft.functions.TrigramProfileScore.register(df.sparkSession,
      "trigram_scores", trigramProfiles.map(_._2))
    val base = df
      .withColumn("padded", concat(lit(" "), lower(col("text")), lit(" ")))
      .withColumn("tscores", expr("trigram_scores(padded)"))
    val scored = trigramProfiles.zipWithIndex.foldLeft(base) {
      case (d, ((l, _), i)) =>
        d.withColumn(s"${l}_n", col("tscores").getItem(i))
    }.withColumn("zh_n",
      expr("size(regexp_extract_all(text, '[\\\\x{4e00}-\\\\x{9fff}]', 0))"))
    scored.withColumn("pred",
      when(col("zh_n") > 0, "zh")
        .when(col("de_n") > col("en_n") && col("de_n") >= col("fr_n") &&
          col("de_n") >= col("es_n"), "de")
        .when(col("fr_n") > col("en_n") && col("fr_n") > col("de_n") &&
          col("fr_n") >= col("es_n"), "fr")
        .when(col("es_n") > col("en_n") && col("es_n") > col("de_n") &&
          col("es_n") > col("fr_n"), "es")
        .otherwise("en"))
  }

  /** Language-ID: char-trigram profile scoring (upgraded in round 7
    * from a 7-stopword marker heuristic) + CJK detection. Emits per-lang
    * trigram-hit scores, the argmax prediction, and agreement with the
    * labeled `lang` column.
    *
    * On classifier quality vs. `match_actual`: the synthetic corpus's
    * `lang` labels are CONTENT-FREE — verified empirically (identical
    * vocabulary across labels, zero marker words, zero CJK characters
    * in `zh`-labeled rows), so label agreement on this table measures
    * only the `en` base rate (~0.44) for ANY content-based classifier,
    * not accuracy. The classifier's real accuracy floor (>= 95%) is
    * asserted in `LangIdSpec` on genuinely multilingual sentences;
    * this oracled entry pins the scoring arithmetic across engines.
    */
  def langId(spark: SparkSession, dir: String): DataFrame =
    langScores(tableWide(spark, dir, "documents"))
      .select(col("doc_id"), col("en_n"), col("de_n"), col("fr_n"),
        col("es_n"), col("zh_n"), col("pred"),
        (col("pred") === col("lang")).cast("int").as("match_actual"))
      .orderBy(col("doc_id"))

  private val langIdSql = {
    val scoreCols = trigramProfiles.map { case (l, ts) =>
      val lst = ts.map(t => s"'$t'").mkString(", ")
      s"CAST(len(list_filter(trigs, t -> t IN ($lst))) AS INT) AS ${l}_n"
    }.mkString(",\n            ")
    s"""WITH p AS (
          SELECT doc_id, lang, text, ' ' || lower(text) || ' ' AS padded
          FROM documents),
        tg AS (
          SELECT doc_id, lang, text,
            list_transform(range(1, length(padded) - 1),
              i -> substr(padded, CAST(i AS BIGINT), 3)) AS trigs
          FROM p),
        s AS (
          SELECT doc_id, lang,
            $scoreCols,
            CAST(len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS INT) AS zh_n
          FROM tg)
        SELECT doc_id, en_n, de_n, fr_n, es_n, zh_n,
          CASE WHEN zh_n > 0 THEN 'zh'
               WHEN de_n > en_n AND de_n >= fr_n AND de_n >= es_n THEN 'de'
               WHEN fr_n > en_n AND fr_n > de_n AND fr_n >= es_n THEN 'fr'
               WHEN es_n > en_n AND es_n > de_n AND es_n > fr_n THEN 'es'
               ELSE 'en' END AS pred,
          CAST((CASE WHEN zh_n > 0 THEN 'zh'
               WHEN de_n > en_n AND de_n >= fr_n AND de_n >= es_n THEN 'de'
               WHEN fr_n > en_n AND fr_n > de_n AND fr_n >= es_n THEN 'fr'
               WHEN es_n > en_n AND es_n > de_n AND es_n > fr_n THEN 'es'
               ELSE 'en' END) = lang AS INT) AS match_actual
        FROM s ORDER BY doc_id"""
  }

  /** Word-frequency table via explode (the vocabulary-building pass of
    * a text pipeline): one shuffle keyed by word, partial counts
    * map-side.
    */
  def wordFreq(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= 50)
      .orderBy(col("n").desc, col("word"))

  private val wordFreqSql =
    """SELECT word, count(*) AS n FROM (
         SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
       GROUP BY word HAVING count(*) >= 50
       ORDER BY n DESC, word"""

  /** Heavy hitters via Count-Min Sketch — the frequency twin of the HLL
    * cardinality sketch (`x_approx_distinct`): at 100 TB you don't
    * group-by the full token stream to find hot terms, you merge
    * constant-size CMS partials map-side (the `count_min_sketch`
    * aggregate is a `TypedImperativeAggregate` like our `SimHashAgg`)
    * and query the sketch for candidates. Band-oracle shape: the truth
    * rows are the exact top-10 terms with exact counts (DuckDB
    * recomputes them); the sketch's estimates are distilled into
    * `cms_in_band` — CMS never underestimates, and with eps=0.001 the
    * overestimate is bounded by eps * N tokens (pinned TRUE; the
    * deterministic seed makes the estimate reproducible). The
    * driver-side sketch probe reads ONE binary blob + 10 lookups —
    * O(1), within the §2.9 collect boundary.
    */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val words = table(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
    val top = words.groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(10)
    val r = words.agg(
      expr("count_min_sketch(word, 0.001d, 0.99d, 42)").as("cms"),
      count(lit(1)).as("total")).head()
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      r.getAs[Array[Byte]](0))
    val totalTokens = r.getLong(1)
    val bound = math.ceil(0.001 * totalTokens).toLong
    val inBand = udf((w: String, exact: Long) => {
      val est = cms.estimateCount(w)
      est >= exact && est <= exact + bound
    })
    // the udf runs over exactly 10 driver-bound rows — it is a probe of
    // the already-collected sketch, not a per-corpus-row operator
    top.withColumn("cms_in_band", inBand(col("word"), col("n")))
      .orderBy(col("n").desc, col("word"))
  }

  private val heavyHittersSql =
    """SELECT word, count(*) AS n, TRUE AS cms_in_band FROM (
         SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
       GROUP BY word ORDER BY n DESC, word LIMIT 10"""

  /** Document chunking: overlapping word windows (40-word chunks,
    * 30-word stride) — the standard context-window preparation step.
    * posexplode keeps (doc, chunk_id) addressable; no shuffle at all
    * until a downstream op needs one.
    */
  def chunking(spark: SparkSession, dir: String): DataFrame =
    tableWide(spark, dir, "documents")
      .withColumn("words", split(col("text"), " "))
      .select(col("doc_id"), col("n_chars"),
        posexplode(expr(
          """transform(sequence(0, greatest(cast(ceil((size(words) - 10) / 30.0) as int) - 1, 0)),
             s -> concat_ws(' ', slice(words, s * 30 + 1, 40)))"""))
          .as(Seq("chunk_id", "chunk_text")))
      .withColumn("chunk_words", size(split(col("chunk_text"), " ")))
      .select(col("doc_id"), col("chunk_id"), col("chunk_words"),
        md5(col("chunk_text").cast("binary")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_id"))

  private val chunkingSql =
    """WITH w AS (
         SELECT doc_id, string_split(text, ' ') AS words FROM documents),
       s AS (
         SELECT doc_id, words,
           unnest(range(0,
             greatest(CAST(ceil((len(words) - 10) / 30.0) AS INT), 1))) AS s
         FROM w),
       c AS (
         SELECT doc_id, CAST(s AS INT) AS chunk_id,
           array_to_string(words[s * 30 + 1 : s * 30 + 40], ' ') AS chunk_text
         FROM s)
       SELECT doc_id, chunk_id,
         CAST(len(string_split(chunk_text, ' ')) AS INT) AS chunk_words,
         md5(chunk_text) AS chunk_md5
       FROM c ORDER BY doc_id, chunk_id"""

  /** [EXT] Chunk-reassembly round-trip — the integrity contract behind
    * [[chunking]]: 40-word windows at stride 30 must be INVERTIBLE
    * (chunk 0 whole, every later chunk contributes its last 30 words),
    * or the RAG/packing pipeline built on the chunks silently loses or
    * duplicates text at the seams. Both engines independently rebuild
    * every document from its own chunk decomposition and compare md5s —
    * the slice/stride algebra itself is what gets hash-checked.
    *
    * Scale shape: entirely map-only — the chunk list, the reassembly,
    * and the md5 comparison are per-row array expressions inside one
    * scan projection; only the final ORDER BY exchanges (doc_id,
    * n_chunks, lossless), never text.
    */
  def chunkRoundtrip(spark: SparkSession, dir: String): DataFrame =
    tableWide(spark, dir, "documents")
      .withColumn("words", split(col("text"), " "))
      .withColumn("chunks", expr(
        """transform(sequence(0, greatest(cast(ceil((size(words) - 10) / 30.0) as int) - 1, 0)),
           s -> slice(words, s * 30 + 1, 40))"""))
      .withColumn("rebuilt", expr(
        """concat(element_at(chunks, 1),
           flatten(transform(slice(chunks, 2, size(chunks) - 1),
             c -> slice(c, 11, 30))))"""))
      .select(col("doc_id"), size(col("chunks")).as("n_chunks"),
        (md5(concat_ws(" ", col("rebuilt")).cast("binary")) ===
          md5(col("text").cast("binary"))).as("lossless"))
      .orderBy(col("doc_id"))

  private val chunkRoundtripSql =
    """WITH w AS (
         SELECT doc_id, text, string_split(text, ' ') AS words
         FROM documents),
       c AS (
         SELECT doc_id, text,
           list_transform(range(0,
             greatest(CAST(ceil((len(words) - 10) / 30.0) AS INT), 1)),
             s -> words[s * 30 + 1 : s * 30 + 40]) AS chunks
         FROM w),
       r AS (
         SELECT doc_id, text, chunks,
           chunks[1] || flatten(list_transform(chunks[2:],
             x -> x[11:40])) AS rebuilt
         FROM c)
       SELECT doc_id, CAST(len(chunks) AS INT) AS n_chunks,
         md5(array_to_string(rebuilt, ' ')) = md5(text) AS lossless
       FROM r ORDER BY doc_id"""

  /** PII scrubbing: regex redaction of emails / phone-shaped numbers /
    * long digit runs — the privacy pass of a training-data pipeline.
    * Identity on clean text; behavior proven on synthetic PII in
    * `OperatorInvariantsSpec`.
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("\\+?[0-9][0-9()\\- ]{7,}[0-9]", "<PHONE>"),
    ("[0-9]{6,}", "<NUM>"))

  def scrub(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    piiPatterns.foldLeft(c) { case (acc, (pat, repl)) =>
      regexp_replace(acc, pat, repl)
    }

  def piiScrub(spark: SparkSession, dir: String): DataFrame =
    tableWide(spark, dir, "documents")
      .select(col("doc_id"),
        md5(scrub(col("text")).cast("binary")).as("scrubbed_md5"),
        (scrub(col("text")) =!= col("text")).cast("int").as("was_redacted"))
      .orderBy(col("doc_id"))

  private val piiScrubSql = {
    val scrubbed = piiPatterns.foldLeft("text") { case (acc, (pat, repl)) =>
      s"regexp_replace($acc, '$pat', '$repl', 'g')"
    }
    s"""SELECT doc_id, md5($scrubbed) AS scrubbed_md5,
        CAST($scrubbed <> text AS INT) AS was_redacted
        FROM documents ORDER BY doc_id"""
  }

  /** Deterministic train/test split: content-hash bucketing (first md5
    * hex nibble => 2/16 = 12.5% held out) — reproducible across runs,
    * engines, and cluster sizes, unlike `randomSplit`. The standard way
    * to hold out eval data in a training pipeline.
    */
  def trainTestSplit(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .withColumn("split",
        when(substring(md5(col("text").cast("binary")), 1, 1)
          .isin("0", "1"), "test").otherwise("train"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("split"))

  private val trainTestSplitSql =
    """SELECT lang,
       CASE WHEN substring(md5(text), 1, 1) IN ('0', '1')
            THEN 'test' ELSE 'train' END AS split,
       count(*) AS n
       FROM documents GROUP BY lang, split ORDER BY lang, split"""

  /** Zipf/word-rank fluency score (a cheap perplexity proxy used in
    * corpus quality filtering: text made of common words scores low,
    * rare-word salad scores high). The corpus vocabulary is ranked by
    * frequency ONCE — that table is vocabulary-sized, i.e. broadcast
    * material no matter how big the corpus — and each doc averages
    * log(rank) over its words via the broadcast join (out-of-vocabulary
    * words get rank |V|+1). Shapes: one count shuffle + a DISTRIBUTED
    * top-k (TakeOrderedAndProject, never a global window over the full
    * vocabulary) for the vocab; ranks assigned by a window over just
    * the k kept rows; one doc-keyed aggregation for the scores.
    */
  def wordRankScore(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("word"))
    val vocabSize = 20
    val vocab = tableWide(spark, dir, "documents")
      .select(explode_outer(split(col("text"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word")).limit(vocabSize)
      .withColumn("rank", row_number().over(w))
      .select(col("word"), col("rank"))
    tableWide(spark, dir, "documents")
      .select(col("doc_id"), explode_outer(split(col("text"), " ")).as("word"))
      .join(broadcast(vocab), Seq("word"), "left")
      .withColumn("r", coalesce(col("rank"), lit(vocabSize + 1)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_words"),
        r4(avg(log(col("r")))).as("mean_log_rank"),
        r4(avg(when(col("rank").isNull, 1.0).otherwise(0.0)))
          .as("oov_frac"))
      .orderBy(col("doc_id"))
  }

  private val wordRankScoreSql =
    """WITH v0 AS (
         SELECT unnest(string_split(text, ' ')) AS word FROM documents),
       v1 AS (SELECT word, count(*) AS n FROM v0 GROUP BY word),
       vocab AS (
         SELECT word, rank FROM (
           SELECT word, row_number() OVER (ORDER BY n DESC, word) AS rank
           FROM v1) t
         WHERE rank <= 20),
       post AS (
         SELECT doc_id, unnest(string_split(text, ' ')) AS word
         FROM documents)
       SELECT doc_id, CAST(count(*) AS INT) AS n_words,
         floor(avg(ln(coalesce(rank, 21))) * 10000 + 0.5) / 10000
           AS mean_log_rank,
         floor(avg(CASE WHEN rank IS NULL THEN 1.0 ELSE 0.0 END) * 10000
           + 0.5) / 10000 AS oov_frac
       FROM post LEFT JOIN vocab USING (word)
       GROUP BY doc_id ORDER BY doc_id"""

  /** Repetition detection (the standard "repetitious document" quality
    * filter: templated/spammy text repeats the same phrases): per doc,
    * trigram totals vs distinct and the hottest trigram's count.
    * Shape: explode (non-distinct) trigrams -> count per (doc, gram) ->
    * per-doc max/sum — two shuffles, both keyed by doc_id (uniform).
    */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    val g = tableWide(spark, dir, "documents")
      .withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= 3)
      .withColumn("grams", expr(
        """transform(sequence(1, size(words) - 2),
           i -> concat_ws(' ', words[i-1], words[i], words[i+1]))"""))
      .select(col("doc_id"), explode_outer(col("grams")).as("gram"))
    g.groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).cast("int").as("n_grams_total"),
        count(lit(1)).cast("int").as("n_grams_distinct"),
        max(col("cnt")).cast("int").as("top_gram_n"))
      .withColumn("dup_frac",
        r4(lit(1.0) - col("n_grams_distinct").cast("double")
          / col("n_grams_total")))
      .orderBy(col("doc_id"))
  }

  private val repetitionSql =
    """WITH t AS (
         SELECT doc_id, string_split(text, ' ') AS words
         FROM documents WHERE len(string_split(text, ' ')) >= 3),
       g AS (
         SELECT doc_id, unnest(list_transform(range(2, len(words)),
           i -> words[i-1] || ' ' || words[i] || ' ' || words[i+1])) AS gram
         FROM t),
       c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2)
       SELECT doc_id, CAST(sum(cnt) AS INT) AS n_grams_total,
         CAST(count(*) AS INT) AS n_grams_distinct,
         CAST(max(cnt) AS INT) AS top_gram_n,
         floor((1.0 - CAST(count(*) AS DOUBLE) / sum(cnt)) * 10000 + 0.5)
           / 10000 AS dup_frac
       FROM c GROUP BY doc_id ORDER BY doc_id"""

  /** Adjacent word-pair (bigram) frequencies — the pair-counting pass a
    * BPE-style tokenizer trainer runs per merge round. Same shape as
    * [[wordFreq]]: map-side explode, one count shuffle keyed by pair.
    */
  def tokenPairs(spark: SparkSession, dir: String): DataFrame =
    tableWide(spark, dir, "documents")
      .withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= 2)
      .select(explode_outer(expr(
        """transform(sequence(1, size(words) - 1),
           i -> concat_ws(' ', words[i-1], words[i]))""")).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= 40)
      .orderBy(col("n").desc, col("pair"))

  private val tokenPairsSql =
    """WITH t AS (
         SELECT string_split(text, ' ') AS words
         FROM documents WHERE len(string_split(text, ' ')) >= 2),
       p AS (
         SELECT unnest(list_transform(range(2, len(words) + 1),
           i -> words[i-1] || ' ' || words[i])) AS pair
         FROM t)
       SELECT pair, count(*) AS n
       FROM p GROUP BY pair HAVING count(*) >= 40
       ORDER BY n DESC, pair"""

  /** Deterministic stratified sample: fixed quota per stratum (`source`),
    * ranked by content md5 (a seedless, engine-portable "random" order)
    * with doc_id as tiebreak — the curated-mix step of a training
    * pipeline (N docs per source/domain), reproducible anywhere.
    *
    * Scale shape: row_number + rank filter compiles to Spark's
    * WindowGroupLimit pushdown — each map task pre-prunes to the quota
    * per stratum BEFORE the shuffle, so a billion-doc stratum moves only
    * quota rows per task, not the stratum. (Asserted in
    * PlanAssertionsSpec.)
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
    table(spark, dir, "documents")
      .withColumn("h", md5(col("text").cast("binary")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .select(col("source"), col("rk").cast("int").as("rk"), col("doc_id"),
        col("h").as("content_md5"))
      .orderBy(col("source"), col("rk"))
  }

  private val stratifiedSampleSql =
    """WITH d AS (SELECT source, doc_id, md5(text) AS h FROM documents),
       r AS (SELECT source, doc_id, h,
               row_number() OVER (PARTITION BY source
                 ORDER BY h, doc_id) AS rk
             FROM d)
       SELECT source, CAST(rk AS INT) AS rk, doc_id, h AS content_md5
       FROM r WHERE rk <= 10 ORDER BY source, rk"""

  /** TF-IDF keyword extraction: top-3 scoring terms per document with
    * smoothed idf `ln((N+1)/(df+1))`. Shape at scale: one shuffle for
    * per-doc term counts, one for the document-frequency table, then a
    * plain shuffle join on `term` to attach df — NEVER a broadcast of
    * the vocabulary: a web-scale df table (typos, code, junk tokens) is
    * billions of rows and would OOM every executor if hinted broadcast.
    * Catalyst/AQE may still broadcast it when runtime stats prove it
    * small (fine); the plan just must not force it. Only the 1-row N
    * scalar is hint-broadcast. The per-doc top-k is a WindowGroupLimit
    * (top-k pushed below the window sort), never a global sort of all
    * scores. Scores are grid-rounded (1e-6) BEFORE ranking so the rank
    * order — not just the printed value — is identical across engines.
    */
  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = table(spark, dir, "documents")
    val tf = docs.select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf", expr(
        "floor(tf * ln((n_docs + 1.0d) / (df + 1.0d)) * 1000000 + 0.5) / 1000000"))
    val win = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rk", row_number().over(win))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk").cast("int").as("rk"), col("term"),
        col("tfidf"))
      .orderBy(col("doc_id"), col("rk"))
  }

  private val tfidfSql =
    """WITH toks AS (
         SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
         FROM documents),
       t AS (SELECT doc_id, term, count(*) AS tf FROM toks
             WHERE length(term) > 0 GROUP BY doc_id, term),
       d AS (SELECT term, count(*) AS df FROM t GROUP BY term),
       n AS (SELECT count(*) AS n_docs FROM documents),
       s AS (SELECT t.doc_id, t.term,
               floor(t.tf * ln((n.n_docs + 1.0) / (d.df + 1.0))
                 * 1000000 + 0.5) / 1000000 AS tfidf
             FROM t JOIN d USING (term) CROSS JOIN n),
       r AS (SELECT doc_id, term, tfidf,
               row_number() OVER (PARTITION BY doc_id
                 ORDER BY tfidf DESC, term) AS rk
             FROM s)
       SELECT doc_id, CAST(rk AS INT) AS rk, term, tfidf
       FROM r WHERE rk <= 3 ORDER BY doc_id, rk"""

  /** Bigram language-model quality score — the "perplexity filter" of
    * web-corpus curation recipes (CCNet trains a 5-gram KenLM and drops
    * high-perplexity docs; the same signal at bigram order, computed
    * entirely in-engine from the corpus itself). Each adjacent token
    * pair scores its quantized conditional log-probability
    * `qlp = floor(log2 c(w1,w2)) - floor(log2 c(w1·))` (never positive;
    * 0 means w1 is always followed by w2, strongly negative means a
    * surprising continuation) via `length(bin(n))` — INTEGER-only, so
    * the DuckDB oracle matches exactly, no float log in sight. A doc's
    * `mean_qlp` is its fluency score; low outliers are the filter
    * targets.
    *
    * 100 TB shape: pair generation is map-only (`zip_with` over the
    * token array — no window, no per-doc shuffle) and the SAME
    * projection replaces both strings with [[graft.functions.PolyHash2]]
    * keys, so every exchange below carries (doc_id, uh, ph) longs — the
    * corpus text never shuffles (plan-asserted). The model tables
    * (pair / history counts) are map-side-combined aggregations on
    * those 8-byte keys; the pair counts broadcast back only under the
    * size gate ([[Curation.gatedBroadcastWith]]) and otherwise join by
    * SHUFFLE — a web-scale bigram vocabulary outgrows any driver (same
    * posture as x_tfidf's df join; AQE still broadcasts when genuinely
    * small).
    * Counts keyed by the 61-bit hash merge on collision (~n²/2⁶² odds —
    * the md5 fingerprint-dedup tradeoff); the oracle joins the exact
    * strings, which also certifies the collision-free regime.
    */
  def bigramLmScore(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.PolyHash2.register(spark)
    val docs = tableWide(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .filter(size(col("words")) >= 2)
    val occ = graft.Overlap.own(docs
      .select(col("doc_id"),
        explode(zip_with(
          slice(col("words"), lit(1), size(col("words")) - 1),
          slice(col("words"), lit(2), size(col("words")) - 1),
          (a, b) => struct(a.as("w1"), concat_ws(" ", a, b).as("pr"))))
          .as("s"))
      .select(col("doc_id"),
        expr("poly_hash2(s.w1)").as("uh"),
        expr("poly_hash2(s.pr)").as("ph"))
      .persist())
    val pairN = occ.groupBy(col("ph")).agg(count(lit(1)).as("n_pair"))
    val histN = occ.groupBy(col("uh")).agg(count(lit(1)).as("n_hist"))
    // the pair-count side is the build side while its estimate is under
    // the curation broadcast cap (one cap for the engine's small-side
    // broadcasts): unhinted, AQE builds on whichever side's stage
    // finishes first, often the larger occurrence table
    occ.join(Curation.gatedBroadcastWith(spark, pairN,
        Curation.RemovalBroadcastMaxBytesKey,
        Curation.RemovalBroadcastMaxBytes), Seq("ph"))
      .join(histN, Seq("uh"))
      .withColumn("qlp",
        length(bin(col("n_pair"))) - length(bin(col("n_hist"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_pairs"),
        sum(col("qlp")).cast("int").as("sum_qlp"),
        rN(avg(col("qlp")), 3).as("mean_qlp"))
      .orderBy(col("doc_id"))
  }

  private val bigramLmScoreSql =
    """WITH t AS (
         SELECT doc_id, string_split(text, ' ') AS words FROM documents
         WHERE len(string_split(text, ' ')) >= 2),
       p AS (
         SELECT doc_id,
           unnest(list_transform(range(1, len(words)),
             i -> struct_pack(w1 := words[i],
                              pr := words[i] || ' ' || words[i+1]))) AS s
         FROM t),
       occ AS (SELECT doc_id, s.w1 AS w1, s.pr AS pr FROM p),
       pairn AS (SELECT pr, count(*) AS n_pair FROM occ GROUP BY pr),
       histn AS (SELECT w1, count(*) AS n_hist FROM occ GROUP BY w1),
       q AS (
         SELECT doc_id,
           length(bin(n_pair)) - length(bin(n_hist)) AS qlp
         FROM occ JOIN pairn USING (pr) JOIN histn USING (w1))
       SELECT doc_id, CAST(count(*) AS INT) AS n_pairs,
         CAST(sum(qlp) AS INT) AS sum_qlp,
         floor(avg(qlp) * 1000 + 0.5) / 1000 AS mean_qlp
       FROM q GROUP BY doc_id ORDER BY doc_id"""

  /** BM25 top-k retrieval — the ranking function behind corpus search /
    * retrieval-augmented pipelines, quantized so it is hash-exact across
    * engines: idf uses the integer bit-log `len(bin(2(N-df)+1)) -
    * len(bin(2df+1))` (≈ log2 of the BM25 idf ratio, same discipline as
    * x_bigram_lm_score), the tf saturation term (k1=1.2, b=0.75) is a
    * fixed chain of correctly-rounded IEEE ops written IDENTICALLY in
    * both engines, and each term's contribution floors to integer
    * MICROS before summing — an integer sum is associative, so Spark's
    * arbitrary aggregation order cannot drift from DuckDB's. Output:
    * global top-10 docs for a fixed query, doc_id tiebreak.
    *
    * 100 TB shape: the corpus reduces to (doc_id, word) pairs filtered
    * to the query terms map-side, BEFORE any shuffle, so the tf frame
    * is query-bounded, the 3-row df table and
    * 1-row corpus stats broadcast, and the doc-length join is the only
    * corpus-sized exchange — narrow (doc_id, dl) longs. The final
    * top-10 is an orderBy+limit: per-partition top-k then a 10-row
    * merge, never a global sort.
    *
    * Overflow audit (round-8 directive, after pmiCollocations' fix):
    * the bit-logged arguments here are linear in corpus size —
    * `(n_docs-df)·2+1 < 2^63` needs only n_docs < 2^62, and the
    * saturation term's `dl·n_docs` is ≈ 2^17·2^37 ≈ 2^54 at the 100 TB
    * point — no factor product of two corpus-sized counts is ever
    * formed (the failure mode pmi had). Same for x_bigram_lm_score
    * (bare counts, no products) and x_entropy_filter
    * (`c·(bitlen(n)-bitlen(c))` ≤ 2^43·64 ≈ 2^49).
    */
  def bm25TopK(spark: SparkSession, dir: String): DataFrame = {
    val terms = Seq("spark", "query", "window")
    val docs = tableWide(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("words"))
    val dl = graft.Overlap.own(docs
      .select(col("doc_id"), size(col("words")).cast("long").as("dl"))
      .persist())
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))
    val tf = docs
      .select(col("doc_id"), explode(col("words")).as("word"))
      .filter(col("word").isin(terms: _*))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), Seq("word"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("idf_q",
        length(bin((col("n_docs") - col("df")) * 2 + 1))
          - length(bin(col("df") * 2 + 1)))
      .withColumn("contrib", expr(
        """cast(floor((idf_q * ((tf * 2.2) /
           (tf + 1.2 * (0.25 + 0.75 * ((dl * n_docs) / total_dl)))))
           * 1000000) as bigint)"""))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_terms_hit"),
        sum(col("contrib")).as("score_micro"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(10)
  }

  private val bm25TopKSql =
    """WITH docs AS (
         SELECT doc_id, string_split(text, ' ') AS words FROM documents),
       dl AS (SELECT doc_id, CAST(len(words) AS BIGINT) AS dl FROM docs),
       stats AS (SELECT count(*) AS n_docs,
                   CAST(sum(dl) AS BIGINT) AS total_dl FROM dl),
       tf AS (
         SELECT doc_id, word, count(*) AS tf
         FROM (SELECT doc_id, unnest(words) AS word FROM docs)
         WHERE word IN ('spark', 'query', 'window')
         GROUP BY doc_id, word),
       df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
       sc AS (
         SELECT tf.doc_id,
           CAST(floor(((length(bin((s.n_docs - df.df) * 2 + 1))
                        - length(bin(df.df * 2 + 1)))
             * ((tf.tf * 2.2) /
                (tf.tf + 1.2 * (0.25 + 0.75 * ((dl.dl * s.n_docs) / s.total_dl)))))
             * 1000000) AS BIGINT) AS contrib
         FROM tf JOIN df USING (word) JOIN dl ON tf.doc_id = dl.doc_id, stats s)
       SELECT doc_id, CAST(count(*) AS INT) AS n_terms_hit,
         CAST(sum(contrib) AS BIGINT) AS score_micro
       FROM sc GROUP BY doc_id
       ORDER BY score_micro DESC, doc_id LIMIT 10"""

  /** PMI collocation scores — the association-strength step after
    * [[tokenPairs]]'s raw pair counting (a BPE trainer counts pairs; a
    * phrase/collocation extractor needs to know which pairs co-occur
    * MORE than their unigram frequencies predict):
    *
    *   pmi = log2( p(a,b) / (p(a)·p(b)) )
    *       = log2 n_ab + 2·log2 U - log2 T - log2 n_a - log2 n_b
    *
    * quantized to the integer bit-log `floor(log2 x) = length(bin(x))-1`
    * (the [[bigramLmScore]] discipline) so the score is pure integer
    * arithmetic — hash-exact across engines and partitionings, no float
    * log. The quantization contract (round-8 directive) is PER-FACTOR:
    * each factor is floor-logged before the sum, so no product is ever
    * formed — `bitlen(n_ab·U²)` would silently wrap int64 at
    * U ≈ 2^43 (a 10-trillion-token corpus, well inside the 100 TB
    * design point) while DuckDB promotes to HUGEINT, silently diverging
    * the engines. Per-factor bitlens are exact at ANY count that fits
    * int64 individually (property-tested at 2^43-scale counts in
    * `PropertySpec`); the score differs from the product form by at
    * most ±2 quantization steps, applied identically in both engines.
    *
    * Scale shape: one explode+count shuffle for unigrams, one for
    * adjacent pairs (both map-side-combined), then the pair table joins
    * the unigram table TWICE by term — plain shuffle joins, never a
    * forced vocabulary broadcast (the [[tfidf]] posture); only the two
    * 1-row totals are hint-broadcast.
    */
  def pmiCollocations(spark: SparkSession, dir: String): DataFrame = {
    val docs = tableWide(spark, dir, "documents")
      .withColumn("words", split(col("text"), " "))
    val uni = docs.select(explode(col("words")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("nw"))
    val uniTot = uni.agg(sum(col("nw")).cast("long").as("u_total"))
    val pairDocs = docs.filter(size(col("words")) >= 2)
    val pairs = pairDocs
      .select(explode(expr(
        """transform(sequence(1, size(words) - 1),
           i -> struct(words[i-1] AS wa, words[i] AS wb))""")).as("p"))
      .select(col("p.wa").as("wa"), col("p.wb").as("wb"))
      .groupBy("wa", "wb").agg(count(lit(1)).as("nab"))
      .filter(col("nab") >= 20)
    val pairTot = pairDocs
      .agg(sum(size(col("words")) - 1).cast("long").as("t_total"))
    pairs
      .join(uni.select(col("w").as("wa"), col("nw").as("na")), "wa")
      .join(uni.select(col("w").as("wb"), col("nw").as("nb")), "wb")
      .crossJoin(broadcast(uniTot)).crossJoin(broadcast(pairTot))
      .withColumn("pmi_q", expr(
        """(length(bin(nab)) - 1) + 2 * (length(bin(u_total)) - 1)
           - (length(bin(t_total)) - 1)
           - (length(bin(na)) - 1) - (length(bin(nb)) - 1)"""))
      .select(concat_ws(" ", col("wa"), col("wb")).as("pair"),
        col("nab").cast("int").as("n_pair"),
        col("na").cast("int").as("n_a"), col("nb").cast("int").as("n_b"),
        col("pmi_q").cast("int").as("pmi_q"))
      .orderBy(col("pmi_q").desc, col("pair"))
  }

  private val pmiCollocationsSql =
    """WITH t AS (SELECT string_split(text, ' ') AS words FROM documents),
       uc AS (SELECT w, count(*) AS nw
              FROM (SELECT unnest(words) AS w FROM t) GROUP BY w),
       ut AS (SELECT CAST(sum(nw) AS BIGINT) AS u_total FROM uc),
       pr AS (SELECT unnest(list_transform(range(2, len(words) + 1),
                i -> {'wa': words[i-1], 'wb': words[i]})) AS p
              FROM t WHERE len(words) >= 2),
       pc AS (SELECT p.wa AS wa, p.wb AS wb, count(*) AS nab
              FROM pr GROUP BY 1, 2 HAVING count(*) >= 20),
       pt AS (SELECT CAST(sum(len(words) - 1) AS BIGINT) AS t_total
              FROM t WHERE len(words) >= 2)
       SELECT wa || ' ' || wb AS pair, CAST(nab AS INT) AS n_pair,
         CAST(a.nw AS INT) AS n_a, CAST(b.nw AS INT) AS n_b,
         CAST((length(bin(CAST(nab AS BIGINT))) - 1)
            + 2 * (length(bin(CAST(u_total AS BIGINT))) - 1)
            - (length(bin(CAST(t_total AS BIGINT))) - 1)
            - (length(bin(CAST(a.nw AS BIGINT))) - 1)
            - (length(bin(CAST(b.nw AS BIGINT))) - 1)
           AS INT) AS pmi_q
       FROM pc JOIN uc a ON a.w = pc.wa JOIN uc b ON b.w = pc.wb, ut, pt
       ORDER BY pmi_q DESC, pair"""

  /** Quantized word-entropy filter — the low-entropy signal of the
    * Gopher/C4 quality-rule family ([[repetition]] catches repeated
    * n-grams; this catches the degenerate unigram DISTRIBUTION — token
    * spam, keyword stuffing, boilerplate — even when no single gram
    * repeats adjacently). Shannon entropy's numerator quantized to
    * integer bit-lengths (the [[bigramLmScore]] discipline):
    *
    *   entropy_q = Σ_w c_w · (bitlen(n) - bitlen(c_w))   (≈ n·H bits)
    *
    * — pure integer arithmetic, hash-exact at any partitioning. The
    * keep/drop flag compares against a 2-bits-per-word floor without
    * ever dividing. Scale shape: one explode + two map-side-combined
    * aggregates keyed (doc_id, word) then doc_id; only (doc_id, word,
    * count) rows cross the exchange.
    */
  def entropyFilter(spark: SparkSession, dir: String): DataFrame =
    tableWide(spark, dir, "documents")
      .withColumn("n", size(split(col("text"), " ")))
      .select(col("doc_id"), col("n"),
        explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(max(col("n")).as("n"), count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).cast("int").as("n_words"),
        count(lit(1)).cast("int").as("n_distinct"),
        sum(expr("c * (length(bin(n)) - length(bin(c)))"))
          .cast("long").as("entropy_q"))
      .withColumn("low_entropy", col("entropy_q") < col("n_words") * 2)
      .orderBy(col("doc_id"))

  private val entropyFilterSql =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS words
                  FROM documents),
       wc AS (SELECT doc_id, w, max(n) AS n, count(*) AS c
              FROM (SELECT doc_id, len(words) AS n, unnest(words) AS w
                    FROM t)
              GROUP BY doc_id, w)
       SELECT doc_id, CAST(max(n) AS INT) AS n_words,
         CAST(count(*) AS INT) AS n_distinct,
         CAST(sum(c * (length(bin(CAST(n AS BIGINT)))
                       - length(bin(CAST(c AS BIGINT))))) AS BIGINT)
           AS entropy_q,
         CAST(sum(c * (length(bin(CAST(n AS BIGINT)))
                       - length(bin(CAST(c AS BIGINT))))) AS BIGINT)
           < max(n) * 2 AS low_entropy
       FROM wc GROUP BY doc_id ORDER BY doc_id"""

  /** [EXT] Zipf profile — the vocabulary's frequency spectrum in log2
    * bands: for each band b, how many distinct words occur [2^b, 2^(b+1))
    * times and how many tokens they account for. Zipfian text shows the
    * signature linear decay across bands; a corpus whose spectrum
    * deviates (flat head = boilerplate flood, missing tail = template
    * text) fails the naturalness check. This is the SCALABLE transpose
    * of the classic rank-frequency plot: ranking needs a global sort of
    * the vocabulary (single-partition window at 10^8 words), while the
    * band profile is two map-side-combined groupBys (word, then band)
    * — integer-exact in both engines via the bin-length log2.
    */
  def zipfProfile(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .groupBy((length(bin(col("n"))) - 1).as("freq_band"))
      .agg(count(lit(1)).as("n_words"), sum(col("n")).as("n_tokens"))
      .orderBy(col("freq_band"))

  private val zipfProfileSql =
    """WITH wc AS (SELECT word, count(*) AS n FROM (
         SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
         GROUP BY word)
       SELECT CAST(length(bin(CAST(n AS BIGINT))) - 1 AS INT) AS freq_band,
         count(*) AS n_words, CAST(sum(n) AS BIGINT) AS n_tokens
       FROM wc GROUP BY 1 ORDER BY freq_band"""

  val qs: Seq[Q] = Seq(
    Q("x_zipf_profile", zipfProfile, Some(zipfProfileSql)),
    Q("x_tfidf", tfidf, Some(tfidfSql)),
    Q("x_pmi_collocations", pmiCollocations, Some(pmiCollocationsSql)),
    Q("x_entropy_filter", entropyFilter, Some(entropyFilterSql)),
    Q("x_bm25_topk", bm25TopK, Some(bm25TopKSql)),
    Q("x_bigram_lm_score", bigramLmScore, Some(bigramLmScoreSql)),
    Q("x_train_test_split", trainTestSplit, Some(trainTestSplitSql)),
    Q("x_stratified_sample", stratifiedSample, Some(stratifiedSampleSql)),
    Q("x_repetition", repetition, Some(repetitionSql)),
    Q("x_word_rank_score", wordRankScore, Some(wordRankScoreSql)),
    Q("x_token_pairs", tokenPairs, Some(tokenPairsSql)),
    Q("x_chunking", chunking, Some(chunkingSql)),
    Q("x_chunk_roundtrip", chunkRoundtrip, Some(chunkRoundtripSql)),
    Q("x_pii_scrub", piiScrub, Some(piiScrubSql)),
    Q("x_word_freq", wordFreq, Some(wordFreqSql)),
    Q("x_heavy_hitters", heavyHitters, Some(heavyHittersSql)),
    Q("x_token_stats", tokenStats, Some(tokenStatsSql), bench = true),
    Q("x_quality_score", qualityScore, Some(qualityScoreSql)),
    Q("x_lang_id", langId, Some(langIdSql)))
}
