package graft

import java.io.File

import org.apache.spark.sql.SparkSession

/** Shared fire-drill fixture builders — deterministic skewed corpora,
  * built once under target/ and reused across test runs and suites
  * (`GuardFireDrillSpec` drills the guards on them; `CurateSpec` pins
  * the composed main's input-skew advisory on the same data, so the
  * two can never drift onto different fixtures).
  */
object FireDrillFixtures {

  /** Fixture B ("boilerplate hot key" / hotgram): 1,200 same-(source,
    * lang) ~90-char docs sharing a navigation-chrome prefix. Two 3-gram
    * keys have df 1,200 > the 1,000 default posting cutoff, and the
    * largest (web, en, length-bucket) cell exceeds the default
    * `Dedup.EditDedupMaxBlockDocs` = 1024 block cap — both guards trip
    * on real frequencies with no conf override. Docs 600..649 reuse doc
    * (i-600)'s tail stem -> 50 planted NEAR-dup pairs (the last word
    * stays unique per doc, so jaccard < 1 — near dups, not exact
    * copies).
    */
  def hotgramDir(spark: SparkSession): String = {
    val dir = s"${ScalingBench.FixtureRoot}/hotgram-v1"
    val path = s"$dir/documents.parquet"
    if (!new File(s"$path/_SUCCESS").exists) {
      import spark.implicits._
      val rows = (0 until 1200).map { i =>
        val stem = if (i >= 600 && i < 650) i - 600 else i
        val tail = (0 until 8).map(k => s"t${stem}w$k").mkString(" ")
        val text = s"home about contact login $tail u$i"
        (i.toLong, text, "en", "web", text.length.toLong)
      }
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(path)
    }
    dir
  }

  /** Fixture for the composed-main block-cap fire drill (`CurateSpec`,
    * round-16 directive 3): 1,100 same-(source, lang) docs of IDENTICAL
    * byte length (110 disjoint 7-char tokens each), so every doc lands
    * in ONE (web, en, length-bucket) cell of 1,100 >
    * `Dedup.EditDedupMaxBlockDocs` = 1024 — the cap fires at its
    * DEFAULT. Unlike [[hotgramDir]] (whose 13-word boilerplate docs all
    * fail the curation quality gate), these docs pass the full curation
    * stack: 110 words clears the length term (score 0.7 >= 0.35),
    * token sets are disjoint across docs, so there are no exact/near
    * dups and zero decontamination overlap — the main runs end-to-end
    * and the ONLY abnormal output is the input-skew advisory.
    */
  def curateHotDir(spark: SparkSession): String = {
    val dir = s"${ScalingBench.FixtureRoot}/curatehot-v1"
    val path = s"$dir/documents.parquet"
    if (!new File(s"$path/_SUCCESS").exists) {
      import spark.implicits._
      val rows = (0 until 1100).map { i =>
        val words = (0 until 110).map(k => f"w${i * 110 + k}%06d")
        val text = words.mkString(" ")
        (i.toLong, text, "en", "web", text.length.toLong)
      }
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(path)
    }
    dir
  }
}
