package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Q
import graft.io.Sources.tableWide

/** [EXT] BPE merge-loop trainer — the iterative half of the tokenizer-
  * training story on top of `x_token_pairs`' counting pass (round-8
  * directive; the reference has no tokenizer, this is north-star
  * pipeline surface). Standard byte-pair-encoding training restricted
  * to in-word merges (the GPT-2/SentencePiece pre-tokenize-then-merge
  * shape, Sennrich et al. 2016):
  *
  *   1. vocab = (word, freq) over lowercased alphanumeric words — the
  *      corpus collapses to its vocabulary ONCE.
  *   2. each word becomes a symbol sequence, initially its characters.
  *   3. per round (fixed N=8): count adjacent symbol pairs weighted by
  *      word freq; pick the most frequent pair (integer count,
  *      deterministic tie-break: count DESC, then lexicographic
  *      (left, right) ASC); merge every greedy left-to-right,
  *      non-overlapping occurrence in every word.
  *
  * Output: the learned merge table, one row per round — (round, lhs,
  * rhs, merged, n_freq) — the artifact a tokenizer ships.
  *
  * The symbol sequence is encoded as a single STRING `"(a)(b)(c)"`
  * (symbols never contain parens — the vocab is `^[a-z0-9]+$`), which
  * makes the merge step a plain `replace(seq, '(a)(b)', '(ab)')`:
  * built-in left-to-right non-overlapping string replace IS greedy BPE
  * merge semantics, identical in Spark and DuckDB — so an ITERATIVE
  * trainer stays fully hash-oracled, the `x_pagerank` discipline (the
  * oracle unrolls exactly N rounds; integer counts never drift).
  *
  * 100 TB shape: the corpus-sized work is the ONE vocab aggregation
  * (map-side-combined count keyed by word). Every round after that
  * runs on the VOCABULARY (bounded by distinct words, not corpus
  * bytes): one map-only pair explode + one map-side-combined count
  * shuffle keyed by symbol pair, then a 1-row top-1
  * (TakeOrderedAndProject — per-partition top-1 then a 1-row merge,
  * never a global sort). The chosen pair is the round's only driver
  * scalar — O(1) per round, the `pageRank` node-count class, and
  * inherent to the algorithm (round k+1's counts depend on the merge
  * chosen in round k). The vocab persists once; each round's plan is
  * the cached base plus k map-only replaces.
  */
object BpeTrainer {

  private val Rounds = 8

  /** Run the merge loop: returns the vocabulary with its FINAL symbol
    * sequences (word, freq, seq — vocab-sized, the tokenizer's working
    * set) plus the learned merge table. Shared by the trainer query
    * ([[bpeMerges]], which ships the merges) and the apply step
    * ([[bpeEncode]], which ships per-document token counts).
    */
  private def trained(spark: SparkSession, dir: String)
      : (DataFrame, Seq[(Int, String, String, String, Long)]) = {
    val vocab = graft.Overlap.own(
      tableWide(spark, dir, "documents")
        .select(explode(split(lower(col("text")), " ")).as("word"))
        .filter(col("word").rlike("^[a-z0-9]+$"))
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
        .withColumn("seq", regexp_replace(col("word"), "(.)", "($1)"))
        .persist())

    var seqs = vocab.select(col("word"), col("freq"), col("seq"))
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    for (round <- 1 to Rounds) {
      val best = seqs
        .select(col("freq"),
          split(expr("substring(seq, 2, length(seq) - 2)"), "\\)\\(")
            .as("syms"))
        .select(col("freq"), explode(expr(
          """transform(sequence(1, size(syms) - 1),
             i -> struct(syms[i-1] AS wa, syms[i] AS wb))""")).as("p"))
        .groupBy(col("p.wa").as("wa"), col("p.wb").as("wb"))
        .agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("wa"), col("wb"))
        .limit(1)
        .collect()
      assert(best.nonEmpty, s"vocabulary exhausted before round $round")
      val (pa, pb) = (best(0).getString(0), best(0).getString(1))
      val n = best(0).getLong(2)
      merges += ((round, pa, pb, pa + pb, n))
      seqs = seqs.withColumn("seq",
        expr(s"replace(seq, '($pa)($pb)', '($pa$pb)')"))
    }
    (seqs, merges.result())
  }

  def bpeMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    trained(spark, dir)._2
      .toDF("round", "lhs", "rhs", "merged", "n_freq")
      .orderBy(col("round"))
  }

  /** [EXT] BPE apply step — tokenize the corpus with the learned merges
    * and ship per-document token accounting: (doc_id, n_words, n_oov,
    * n_tokens). The artifact every training-data pipeline needs next to
    * the merge table: token budgets per document drive packing, pricing,
    * and mixture math.
    *
    * 100 TB shape: tokenization cost scales with the VOCABULARY, not
    * the corpus — the final symbol sequences from the merge loop are
    * reduced to a (word -> n_tok) map, and the corpus-sized work is one
    * map-side-combined count keyed by (doc_id, word) followed by a
    * vocab join keyed by word (shuffle join: at 100 TB the vocabulary
    * is ~10^8 rows, above any broadcast bound) and a doc_id re-agg.
    * Document text crosses the wire once as distinct (doc_id, word,
    * cnt) triples — never as raw text. Out-of-vocabulary words (the
    * non-alphanumeric residue the trainer's pre-tokenizer excluded) go
    * through GPT-2-style BYTE FALLBACK: each OOV word tokenizes to one
    * symbol per UTF-8 byte (octet_length — Spark's octet_length ==
    * DuckDB's strlen, both byte counts), so `n_tokens` covers EVERY
    * word of the document — the budget a packer can actually trust —
    * while `n_oov` still reports how many word occurrences took the
    * fallback path (the tokenizer-health signal).
    */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val enc = trained(spark, dir)._1
      .select(col("word"),
        size(split(expr("substring(seq, 2, length(seq) - 2)"), "\\)\\("))
          .cast("long").as("n_tok"))
    val perWord = tableWide(spark, dir, "documents")
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("cnt"))
    perWord.join(enc, Seq("word"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_words"),
        sum(when(col("n_tok").isNull, col("cnt")).otherwise(lit(0L)))
          .as("n_oov"),
        sum(when(col("n_tok").isNull,
          col("cnt") * octet_length(col("word")).cast("long"))
          .otherwise(col("cnt") * col("n_tok"))).as("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** The N rounds unrolled as CTEs (the `pageRankSql` pattern): same
    * vocab, same pair counting, same top-1 tie-break, same
    * string-replace merge — all integer/string ops both engines share.
    */
  /** The N training rounds unrolled as a shared CTE chain (v0..vN carry
    * (word, freq, seq); b_i is round i's chosen pair) — the prefix both
    * the trainer oracle and the encode oracle build on.
    */
  private val trainedCtes = {
    def round(i: Int): String = {
      val prev = s"v${i - 1}"
      s"""p$i AS (SELECT s.p.wa AS wa, s.p.wb AS wb,
               CAST(sum(s.freq) AS BIGINT) AS n
             FROM (SELECT freq,
                     unnest(list_transform(range(2, len(syms) + 1),
                       j -> struct_pack(wa := syms[j-1], wb := syms[j])))
                       AS p
                   FROM (SELECT freq,
                           string_split(seq[2:-2], ')(') AS syms
                         FROM $prev)) s
             GROUP BY 1, 2),
       b$i AS (SELECT wa, wb, n FROM p$i
               ORDER BY n DESC, wa, wb LIMIT 1),
       v$i AS (SELECT word, freq,
                 replace(seq, '(' || b.wa || ')(' || b.wb || ')',
                   '(' || b.wa || b.wb || ')') AS seq
               FROM $prev, b$i b)"""
    }
    s"""w AS (
         SELECT unnest(string_split(lower(text), ' ')) AS word
         FROM documents),
       v0 AS (
         SELECT word, count(*) AS freq,
           regexp_replace(word, '(.)', '(\\1)', 'g') AS seq
         FROM w WHERE regexp_matches(word, '^[a-z0-9]+$$')
         GROUP BY word),
       ${(1 to Rounds).map(round).mkString(",\n       ")}"""
  }

  private val bpeMergesSql = {
    val rows = (1 to Rounds).map(i =>
      s"""SELECT $i AS round, wa AS lhs, wb AS rhs,
         wa || wb AS merged, n AS n_freq FROM b$i""")
    s"""WITH $trainedCtes
       SELECT CAST(round AS INT) AS round, lhs, rhs, merged, n_freq
       FROM (${rows.mkString("\n         UNION ALL ")})
       ORDER BY round"""
  }

  private val bpeEncodeSql =
    s"""WITH $trainedCtes,
       enc AS (SELECT word,
                 CAST(len(string_split(seq[2:-2], ')(')) AS BIGINT)
                   AS n_tok
               FROM v$Rounds),
       dw AS (SELECT doc_id,
                unnest(string_split(lower(text), ' ')) AS word
              FROM documents),
       pw AS (SELECT doc_id, word, count(*) AS cnt
              FROM dw GROUP BY 1, 2)
       SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_words,
         CAST(sum(CASE WHEN e.n_tok IS NULL THEN cnt ELSE 0 END)
           AS BIGINT) AS n_oov,
         CAST(sum(CASE WHEN e.n_tok IS NULL THEN cnt * strlen(word)
                       ELSE cnt * e.n_tok END)
           AS BIGINT) AS n_tokens
       FROM pw LEFT JOIN enc e USING (word)
       GROUP BY doc_id ORDER BY doc_id"""

  val qs: Seq[Q] = Seq(
    Q("x_bpe_merges", bpeMerges, Some(bpeMergesSql)),
    Q("x_bpe_encode", bpeEncode, Some(bpeEncodeSql)))
}
