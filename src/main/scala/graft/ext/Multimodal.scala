package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Q
import graft.functions.PolyHash
import graft.functions.Rounding.r4
import graft.io.Sources.{table, tableWide}

/** [EXT] Multimodal-column plumbing: media payloads as opaque `binary`
  * columns with typed metadata, batch feature extraction via
  * `mapPartitions` over a typed Dataset (the Scala analogue of
  * `mapInPandas` batch UDFs).
  *
  * The container has no image/audio codecs, so the decode step is a
  * clearly-marked deterministic STUB (`fakeDecode`); everything Spark —
  * schema, binary handling, partitioning, batch shape, typed encoders —
  * is real and tested (`MultimodalSpec`).
  */
object Multimodal {

  /** Binary metadata extraction with pure built-ins (oracled): byte
    * length, content md5, first-8-bytes hex. `documents.text` stands in
    * for the media payload (cast to its UTF-8 bytes).
    */
  def mediaMeta(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .withColumn("payload", col("text").cast("binary"))
      .select(col("doc_id"),
        length(col("payload")).as("byte_len"),
        md5(col("payload")).as("content_md5"),
        hex(expr("substring(payload, 1, 8)")).as("head_hex"))
      .orderBy(col("doc_id"))

  private val mediaMetaSql =
    """SELECT doc_id,
       CAST(octet_length(encode(text)) AS INT) AS byte_len,
       md5(text) AS content_md5,
       substring(hex(encode(text)), 1, 16) AS head_hex
       FROM documents ORDER BY doc_id"""

  /** A "media" row: opaque payload + typed metadata. */
  case class MediaRow(doc_id: Long, payload: Array[Byte], mime: String,
      n_bytes: Int)

  /** Extracted per-frame features. */
  case class MediaFeatures(doc_id: Long, n_bytes: Int, n_frames: Int,
      mean_byte: Double, frame_hash: Long)

  /** STUB decoder: a real implementation would decode image/audio frames
    * here (codecs are absent in this environment). Deterministic fake:
    * 256-byte "frames", per-payload byte stats, rolling hash. The
    * surrounding Spark plumbing (typed Dataset, mapPartitions batching,
    * partition-preserving) is the real, tested contract.
    */
  def fakeDecode(payload: Array[Byte]): (Int, Double, Long) = {
    val frames = math.max(1, payload.length / 256)
    val mean =
      if (payload.isEmpty) 0.0
      else payload.map(b => (b & 0xff).toDouble).sum / payload.length
    (frames, mean, PolyHash.hashBytes(payload))
  }

  /** Batch feature extraction: one decoder invocation per partition
    * iterator (amortized setup — the mapInPandas batch shape), payloads
    * never collected to the driver.
    */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition decoder setup would go here (model/codec init)
      rows.map { r =>
        val (frames, mean, hash) = fakeDecode(r.payload)
        MediaFeatures(r.doc_id, r.n_bytes, frames,
          graft.functions.Rounding.jvm(mean, 2), hash)
      }
    }
  }

  /** t2 entry (rows-only; decode is engine-specific): documents as fake
    * media payloads -> typed Dataset -> batch feature extraction,
    * repartitioned by doc_id bucket as a 100 TB-shaped media pipeline
    * would be.
    */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = tableWide(spark, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"),
        lit("text/plain").as("mime"),
        length(col("text").cast("binary")).as("n_bytes"))
      .as[MediaRow]
    extractFeatures(media).toDF().orderBy(col("doc_id"))
  }

  /** Frame sampling: slice the opaque payload into fixed-size frames
    * and keep every 4th (the video/audio "sample k frames per clip"
    * shape, done with pure binary expressions — no decode needed for
    * sampling). Map-only: sequence-with-step + substring slices, no
    * shuffle until the oracle sort. Frame identity is md5 over the hex
    * encoding (hex, not raw bytes: frame boundaries can split UTF-8
    * sequences and blob→string casts differ across engines).
    */
  def mediaFrames(spark: SparkSession, dir: String): DataFrame =
    frameSlices(spark, dir, step = 4)
      .orderBy(col("doc_id"), col("frame_idx"))

  /** Shared frame slicer: fixed 64-byte frames (128 hex chars), every
    * `step`-th kept. Map-only. [[mediaFrames]] samples (step 4);
    * [[mediaDedup]] fingerprints every frame (step 1).
    */
  private def frameSlices(spark: SparkSession, dir: String,
      step: Int): DataFrame =
    tableWide(spark, dir, "documents")
      .withColumn("ph", hex(col("text").cast("binary")))
      .withColumn("nf", expr("int(ceil(length(ph) / 128.0))"))
      .filter(col("nf") >= 1)
      .select(col("doc_id"), explode_outer(expr(
        s"""transform(sequence(0, nf - 1, $step),
           i -> struct(i AS frame_idx,
                       substring(ph, i * 128 + 1, 128) AS frame))"""))
        .as("f"))
      .select(col("doc_id"), col("f.frame_idx").cast("int").as("frame_idx"),
        (length(col("f.frame")) / 2).cast("int").as("frame_len"),
        md5(expr("cast(f.frame AS binary)")).as("frame_md5"))

  private val mediaFramesSql =
    """WITH d AS (SELECT doc_id, hex(encode(text)) AS ph FROM documents),
       f AS (SELECT doc_id, ph,
               unnest(range(0, CAST(ceil(length(ph) / 128.0) AS INT), 4))
                 AS frame_idx
             FROM d WHERE length(ph) >= 1)
       SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
         CAST(length(substring(ph, CAST(frame_idx * 128 + 1 AS BIGINT), 128))
           / 2 AS INT) AS frame_len,
         md5(substring(ph, CAST(frame_idx * 128 + 1 AS BIGINT), 128))
           AS frame_md5
       FROM f ORDER BY doc_id, frame_idx"""

  /** Rolling-hash fingerprint via the custom codegen Expression
    * [[graft.functions.PolyHash]]. The hash is mod-prime
    * (`(h*131 + byte) mod 1e9+7`) so every intermediate product fits a
    * 64-bit integer — which makes it exactly replayable in ANSI SQL:
    * the DuckDB oracle hex-decodes the UTF-8 bytes and folds the same
    * recurrence with `list_reduce`, byte for byte.
    */
  def rollingFingerprint(spark: SparkSession, dir: String): DataFrame = {
    PolyHash.register(spark)
    tableWide(spark, dir, "documents")
      .select(col("doc_id"), expr("poly_hash(text)").as("fingerprint"))
      .orderBy(col("doc_id"))
  }

  /** The PolyHash recurrence replayed in DuckDB: hex() exposes the
    * UTF-8 bytes two chars at a time; list_reduce folds
    * `(h*131 + byte) mod 1_000_000_007` with a prepended 0 seed (an
    * empty document hashes to 0, matching the Scala reference).
    */
  private val rollingFingerprintSql =
    """WITH d AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents)
       SELECT doc_id,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(range(0, CAST(length(hx)//2 AS BIGINT)),
               i -> CAST((strpos('0123456789ABCDEF',
                            substr(hx, CAST(2*i+1 AS BIGINT), 1))-1)*16
                    + (strpos('0123456789ABCDEF',
                            substr(hx, CAST(2*i+2 AS BIGINT), 1))-1)
                    AS BIGINT))),
           (h, b) -> (h*131 + b) % 1000000007) AS fingerprint
       FROM d ORDER BY doc_id"""

  /** The mapPartitions feature extractor IS oracle-checkable: the stub
    * decode is deterministic arithmetic over the payload bytes (frame
    * count, unsigned-byte mean, PolyHash), all of which DuckDB replays
    * from the hex-exposed bytes — same decode trick as
    * [[rollingFingerprintSql]]. The byte sum is a sum of integers
    * (< 2^53), so the Scala double accumulation is exact and the
    * division + half-up rounding agree bit-for-bit. This makes the
    * typed-Dataset/mapPartitions plumbing itself driver-hash-checked,
    * not just row-counted; a real codec would drop the oracle and keep
    * the invariant tests.
    */
  private val mediaFeaturesSql =
    """WITH d AS (SELECT doc_id, hex(encode(text)) AS hx,
                    CAST(octet_length(encode(text)) AS INT) AS n_bytes
                  FROM documents),
       b AS (SELECT doc_id, n_bytes,
               list_transform(range(0, CAST(length(hx)//2 AS BIGINT)),
                 i -> CAST((strpos('0123456789ABCDEF',
                              substr(hx, CAST(2*i+1 AS BIGINT), 1))-1)*16
                      + (strpos('0123456789ABCDEF',
                              substr(hx, CAST(2*i+2 AS BIGINT), 1))-1)
                      AS BIGINT)) AS bytes
             FROM d)
       SELECT doc_id, n_bytes,
         CAST(greatest(1, n_bytes // 256) AS INT) AS n_frames,
         CASE WHEN n_bytes = 0 THEN 0.0
              ELSE floor(CAST(list_sum(bytes) AS DOUBLE) / n_bytes * 100
                     + 0.5) / 100 END AS mean_byte,
         list_reduce(list_prepend(CAST(0 AS BIGINT), bytes),
           (h, bb) -> (h*131 + bb) % 1000000007) AS frame_hash
       FROM b ORDER BY doc_id"""

  /** Frame-fingerprint near-dup detection over opaque media payloads —
    * the video/audio dedup shape: no decode, no embedding; two payloads
    * sharing enough fixed-size frame hashes are near-duplicates (clips
    * of each other, re-containered copies, padded variants). The binary
    * analogue of [[graft.ext.Dedup]]'s substring dedup:
    *
    *  1. fingerprint EVERY 64-byte frame ([[frameSlices]] step 1) —
    *     map-only; from here on only (doc_id, frame_md5) moves, the
    *     payload never shuffles;
    *  2. df-cutoff skew guard (frames in 2..50 docs): a frame in one
    *     doc pairs nothing, a boilerplate frame (zero padding, format
    *     headers — in >50 docs) would explode the pair join
    *     quadratically, same guard as the n-gram Jaccard df-cutoff;
    *  3. posting-list self-join keyed by frame_md5 (pairs only among
    *     docs sharing a frame — never corpus²), count shared frames,
    *     keep pairs sharing >= 2.
    */
  def mediaDedup(spark: SparkSession, dir: String): DataFrame = {
    // pinned: the df filter and BOTH sides of the pair join read this —
    // unpersisted, the payload slicing pass would run three times
    val fr = graft.Overlap.own(frameSlices(spark, dir, step = 1)
      .select(col("doc_id"), col("frame_md5")).distinct().persist())
    val keep = fr.groupBy("frame_md5").agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, 50))
    val dk = fr.join(keep.select("frame_md5"), Seq("frame_md5"))
    val a = dk.select(col("frame_md5"), col("doc_id").as("doc_a"))
    val b = dk.select(col("frame_md5"), col("doc_id").as("doc_b"))
    a.join(b, Seq("frame_md5")).filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 2)
      .select(col("doc_a"), col("doc_b"),
        col("shared").cast("int").as("n_shared"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val mediaDedupSql =
    """WITH d AS (SELECT doc_id, hex(encode(text)) AS ph FROM documents),
       x AS (SELECT doc_id, ph,
               unnest(range(0, CAST(ceil(length(ph) / 128.0) AS INT), 1))
                 AS fi
             FROM d WHERE length(ph) >= 1),
       f AS (SELECT DISTINCT doc_id,
               md5(substring(ph, CAST(fi * 128 + 1 AS BIGINT), 128))
                 AS frame_md5
             FROM x),
       keep AS (SELECT frame_md5 FROM f
                GROUP BY frame_md5 HAVING count(*) BETWEEN 2 AND 50),
       fk AS (SELECT f.doc_id, f.frame_md5
              FROM f JOIN keep USING (frame_md5))
       SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS INT) AS n_shared
       FROM fk a JOIN fk b
         ON a.frame_md5 = b.frame_md5 AND a.doc_id < b.doc_id
       GROUP BY 1, 2 HAVING count(*) >= 2
       ORDER BY doc_a, doc_b"""

  /** Content-defined chunking dedup report — the storage-dedup twin of
    * [[mediaDedup]]: boundaries come from the content (codegen
    * [[graft.functions.CdcCuts]], rolling 16-byte window, cut where
    * hash % 64 == 0 — expected 64-byte chunks), so unlike fixed frames
    * an insertion re-chunks only its neighborhood and every chunk after
    * resynchronization keeps its identity. Per source: how many chunks,
    * how many distinct, and the byte fraction content-addressable
    * storage would dedup away.
    *
    * Scale shape: cuts + chunk hashing are map-only (one byte pass per
    * doc); from there only (source, chunk_md5, chunk_len) rows move —
    * 40-ish bytes per chunk, never the payload. Two aggregates: distinct
    * chunks within (source, chunk_md5), then the per-source rollup —
    * both map-side-combining uniform-key shuffles. Chunk extraction
    * slices the HEX encoding (2i+1, like [[mediaFrames]]) so byte
    * offsets never split a UTF-8 sequence.
    */
  def cdcChunks(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.CdcCuts.register(spark)
    val chunks = tableWide(spark, dir, "documents")
      .withColumn("hx", hex(col("text").cast("binary")))
      .withColumn("n", (length(col("hx")) / 2).cast("int"))
      .filter(col("n") >= 1)
      .withColumn("bounds",
        expr("concat(array(0), cdc_cuts(text, 16, 6), array(n))"))
      .select(col("source"), col("hx"), explode(expr(
        """transform(sequence(0, size(bounds) - 2),
           i -> struct(bounds[i] AS a, bounds[i+1] AS b))""")).as("s"))
      .select(col("source"),
        (col("s.b") - col("s.a")).cast("long").as("chunk_len"),
        md5(expr("cast(substring(hx, s.a * 2 + 1, (s.b - s.a) * 2) AS binary)"))
          .as("chunk_md5"))
    val perChunk = chunks.groupBy(col("source"), col("chunk_md5"))
      .agg(count(lit(1)).as("cnt"), max(col("chunk_len")).as("clen"))
    perChunk.groupBy(col("source"))
      .agg(sum(col("cnt")).cast("int").as("n_chunks"),
        count(lit(1)).cast("int").as("n_distinct_chunks"),
        sum(col("cnt") * col("clen")).cast("long").as("total_bytes"),
        sum(col("clen")).cast("long").as("unique_bytes"))
      .withColumn("dedup_pct",
        r4(lit(1.0) - col("unique_bytes").cast("double")
          / col("total_bytes")))
      .orderBy(col("source"))
  }

  /** The CDC rule replayed in SQL: the same PolyHash recurrence folded
    * directly over each 16-byte window (O(n·w) — verification work),
    * same cut predicate, same hex-slice chunk identity.
    */
  private val cdcChunksSql =
    """WITH d AS (SELECT source, hex(encode(text)) AS hx FROM documents),
       b AS (SELECT source, hx, CAST(length(hx) // 2 AS INT) AS n,
               list_transform(range(0, CAST(length(hx) // 2 AS BIGINT)),
                 i -> CAST((strpos('0123456789ABCDEF',
                              substr(hx, CAST(2*i+1 AS BIGINT), 1))-1)*16
                      + (strpos('0123456789ABCDEF',
                              substr(hx, CAST(2*i+2 AS BIGINT), 1))-1)
                      AS BIGINT)) AS bytes
             FROM d WHERE length(hx) >= 2),
       c AS (SELECT source, hx, n,
               list_prepend(CAST(0 AS BIGINT), list_append(
                 list_filter(range(16, CAST(n AS BIGINT)), i ->
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_slice(bytes, i - 15, i)),
                     (h, bb) -> (h * 131 + bb) % 1000000007) % 64 = 0),
                 CAST(n AS BIGINT))) AS bounds
             FROM b),
       sp AS (SELECT source, hx,
                unnest(list_transform(range(1, len(bounds)),
                  i -> {'a': bounds[i], 'b': bounds[i+1]})) AS s
              FROM c),
       chunks AS (SELECT source, s.b - s.a AS chunk_len,
                    md5(substring(hx, CAST(s.a * 2 + 1 AS BIGINT),
                      CAST((s.b - s.a) * 2 AS BIGINT))) AS chunk_md5
                  FROM sp),
       pc AS (SELECT source, chunk_md5, count(*) AS cnt,
                max(chunk_len) AS clen
              FROM chunks GROUP BY 1, 2)
       SELECT source, CAST(sum(cnt) AS INT) AS n_chunks,
         CAST(count(*) AS INT) AS n_distinct_chunks,
         CAST(sum(cnt * clen) AS BIGINT) AS total_bytes,
         CAST(sum(clen) AS BIGINT) AS unique_bytes,
         floor((1.0 - CAST(sum(clen) AS DOUBLE) / sum(cnt * clen)) * 10000
           + 0.5) / 10000 AS dedup_pct
       FROM pc GROUP BY source ORDER BY source"""

  val qs: Seq[Q] = Seq(
    Q("x_media_meta", mediaMeta, Some(mediaMetaSql)),
    Q("x_media_features", mediaFeatures, Some(mediaFeaturesSql)),
    Q("x_media_frames", mediaFrames, Some(mediaFramesSql)),
    Q("x_media_dedup", mediaDedup, Some(mediaDedupSql)),
    Q("x_cdc_chunks", cdcChunks, Some(cdcChunksSql)),
    Q("x_rolling_fingerprint", rollingFingerprint,
      Some(rollingFingerprintSql)))
}
