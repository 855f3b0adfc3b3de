package graft.ext

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Q
import graft.functions.Rounding.r4
import graft.io.Sources.{dirKey, table, tableWide}

/** [EXT] Similarity search over the `embeddings` table
  * (`embedding: array<float>`, 64-dim).
  *
  * Two paths, both pure column expressions for the math (codegen'd
  * `zip_with`/`aggregate` — no UDF):
  *  - brute-force cosine top-k: exact baseline. The query set is
  *    broadcast; candidates stream — at scale this is a map-only pass
  *    over the corpus plus a per-query top-k (no global sort).
  *  - IVF (KMeans-partitioned) ANN: the 100 TB path — centroid
  *    assignment buckets the corpus; queries probe only their nearest
  *    centroid's bucket. `SimilaritySpec` measures recall vs. brute
  *    force.
  */
object Similarity {

  /** Add double-cast embedding + L2 norm columns. The math runs through
    * the custom codegen [[graft.functions.DotProduct]] expression
    * (registered as `vec_dot`) — a tight primitive loop, ~4x the
    * throughput of the `aggregate(zip_with(...))` formulation and
    * bit-identical results (same sequential accumulation order).
    */
  private def withNorm(df: DataFrame): DataFrame = {
    graft.functions.VectorOps.register(df.sparkSession)
    df.withColumn("emb", expr("transform(embedding, v -> cast(v AS double))"))
      .withColumn("nrm", expr("sqrt(vec_dot(emb, emb))"))
      // skip semantics for poisoned vectors (round-15 directive 5):
      // a zero/empty/null vector has norm 0 and a NaN/Inf component
      // has norm NaN/Inf — each would turn cosine into NaN, and Spark
      // orders NaN ABOVE every double, so one poisoned corpus vector
      // would take rank 1 in every query's top-k: silent wrong rows,
      // not a crash. Excluding them here (the one pass every
      // similarity operator starts from) makes every downstream
      // cosine finite by construction; `OperatorInvariantsSpec` pins
      // it on a poisoned fixture. Clean corpora are unaffected (no
      // row has non-finite or zero norm), so the DuckDB oracles are
      // unchanged.
      .filter(col("nrm") > 0 && !isnan(col("nrm")) &&
        col("nrm") =!= Double.PositiveInfinity)
  }

  /** Normalized corpus, memoized + cached per (session, dir) in the
    * owning [[graft.Overlap]] scope: every similarity operator starts
    * from the same cast+norm pass, and the self-join / fit / probe
    * shapes below each consume it two or three times — one cached copy
    * instead of recomputing the cast + dot per consumer (same
    * discipline as `mlx.Clustering.assembled`).
    */
  private val CorpusMemo = "similarity.corpus"

  /** Source-file fingerprint each memoized corpus entry was built from
    * (round-12 ADVICE): lets [[corpus]] detect an in-place regeneration
    * performed by ANOTHER session/process — whose rebuild invalidates
    * only ITS caches — and drop this session's stale view instead of
    * joining a fresh index against stale queries. Keyed like the corpus
    * memo; process-wide (strings, nothing to unpersist) and never
    * cleared: a surviving entry whose fingerprint still matches is
    * exactly the warm-cache case we want to keep.
    */
  private val corpusFp =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Per-QUERY fingerprint memo keyed by dir (round-12 ADVICE): a
    * single plan build calls [[corpus]] 2-3 times, and the O(#files)
    * metadata walk should run once per owner ([[graft.Overlap]]), not
    * once per call — so the next query re-walks: that is the
    * staleness-detection granularity for non-ANN consumers (the ANN
    * index/freshness paths keep their own strict, unmemoized walks in
    * [[ensureAnnIndex]]/[[writeAnnIndex]], where a stale view would be
    * stamped permanently fresh).
    */
  private val FingerprintMemo = "similarity.corpus-fingerprint"

  /** Fingerprint of a locally readable corpus dir, or None when the
    * dir is not on the local FS (Sources reads it via Hadoop FS just
    * fine; freshness validation is then scoped to the ANN paths,
    * which fail fast with a store-native message — round-12 ADVICE
    * un-did the blanket `require` that made every brute-force
    * similarity operator hard-fail on non-local stores).
    */
  private def corpusFingerprintOpt(dir: String): Option[String] =
    graft.Overlap.memo(FingerprintMemo, dir)(
      if (new java.io.File(s"$dir/embeddings.parquet").exists)
        Some(corpusFingerprint(dir))
      else None)

  private[graft] def corpus(spark: SparkSession, dir: String): DataFrame = {
    // SESSION-scoped on purpose (Sessions.sessionKey — the documented
    // exception to the appKey unification): the corpus frame is the
    // probe side of the AnnIndexRewrite pattern, and the rewrite drill
    // plans the same shape inside a flag-enabled newSession() child.
    // A cached frame pins planning to its birth session, so an
    // app-shared corpus either starves the child's rule (born in the
    // parent — AnnIndexRewriteSpec's branch assertion catches this) or
    // leaks the rewrite into parent queries (born in the child). The
    // wrapped-harness recompute this re-admits is one norm pass over a
    // cached scan — bounded, unlike the model refits appKey eliminates.
    val key = graft.Sessions.sessionKey(spark, dir)
    corpusFingerprintOpt(dir).foreach { fp =>
      val prior = corpusFp.get(key)
      if (prior != null && prior != fp) invalidateCorpus(spark, dir)
      else if (prior == null)
        // first resolution in this session: the raw-table tier may
        // have been warmed BEFORE this call (Bench warms all tables)
        // and another process may have regenerated the corpus in
        // between — evict the raw scan so the fingerprint stamped
        // below is guaranteed to describe the data actually read
        // (round-12 ADVICE; cheap, first-resolution-only)
        graft.io.Sources.evictTable(spark, dir, "embeddings")
    }
    graft.Overlap.memo(CorpusMemo, key) {
      corpusFingerprintOpt(dir).foreach(corpusFp.put(key, _))
      graft.Overlap.own(withNorm(tableWide(spark, dir, "embeddings")).cache())
    }
  }

  private val dotExpr = "vec_dot(q_emb, c_emb)"

  /** Brute-force cosine top-5 neighbors for each query vector
    * (vec_id % 50 == 0).
    */
  def cosineTopK(spark: SparkSession, dir: String): DataFrame =
    bruteTopK(spark, dir, queryModulus = 50)

  /** The canonical brute top-k plan with a parametrized query sample
    * (vec_id % queryModulus == 0) — the shape [[cosineTopK]] registers
    * at modulus 50 and `ScalingBench.rewriteDrill` prices at modulus
    * 5000 on the 500k fixture (the registered 2% sample there would be
    * 10k queries x 500k corpus = 5B scored-then-sorted pair rows —
    * a ~150 GB spill per sample, which is the point of the REWRITE,
    * not a price a drill should pay three times per arm).
    */
  private[graft] def bruteTopK(spark: SparkSession, dir: String,
      queryModulus: Int): DataFrame = {
    val e = corpus(spark, dir)
    val q = e.filter(pmod(col("vec_id"), lit(queryModulus)) === 0)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"))
    val c = e.select(col("vec_id").as("c_id"), col("emb").as("c_emb"),
      col("nrm").as("c_nrm"))
    top5Cosine(c.join(broadcast(q), col("q_id") =!= col("c_id"), "inner"))
  }

  /** The top-5 cosine ranking every vector search here ends with: the
    * cosine of each (q, c) candidate pair, the best five per `q_id`
    * (ties by `c_id`), rounded and ordered. `AnnIndexRewrite` matches
    * this exact shape over [[bruteTopK]]'s pair join.
    */
  private def top5Cosine(pairs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id"))
    pairs
      .withColumn("cos", expr(dotExpr) / (col("q_nrm") * col("c_nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("c_id"), col("rank"),
        r4(col("cos")).as("cos_sim"))
      .orderBy(col("q_id"), col("rank"))
  }

  private val cosineTopKSql =
    """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
                  FROM embeddings WHERE vec_id % 50 = 0),
       c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS ce
             FROM embeddings),
       p AS (SELECT q_id, c_id, list_cosine_similarity(qe, ce) AS cos
             FROM q JOIN c ON q_id <> c_id),
       r AS (SELECT q_id, c_id, cos,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY cos DESC, c_id) AS rank
             FROM p)
       SELECT q_id, c_id, CAST(rank AS INT) AS rank,
         floor(cos * 10000 + 0.5) / 10000 AS cos_sim
       FROM r WHERE rank <= 5 ORDER BY q_id, rank"""

  /** IVF-style ANN with multi-probe: KMeans(k=16, fixed seed) buckets
    * the corpus; each query searches its `nprobe=4` nearest centroids'
    * buckets — the standard recall/cost knob (scanning ~4/16 of the
    * corpus instead of all of it; at 100 TB the buckets are partition
    * keys and probes prune partitions). Approximate by construction —
    * the registered entry is the [[annIvfVerified]] band-oracle wrapper
    * (exact truth set + recall verdict); the bench times this plan, and
    * recall vs. brute force is also asserted in
    * `OperatorInvariantsSpec`.
    */
  /** Fit-once memo for the IVF centroids, process-lifetime per
    * (session, dir) — the `mlx.Clustering.kmMemo` pattern. No
    * per-probe fingerprint check (single-writer harness), but a
    * DETECTED corpus regeneration does evict it: `invalidateCorpus`
    * removes the (session, dir) key so the rebuild retrains centroids
    * on the corpus it actually reads. In a deployment the
    * centroids are the IVF index's TRAINED half, built once and
    * probed many times — per-probe refits were exactly the
    * round-8 `annLsh` defect the build/probe split fixed for the LSH
    * path; the memo is that split's session-scale analogue for IVF.
    */
  private val ivfMemo = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.ml.clustering.KMeansModel]()
  // keyed on Sessions.appKey like every model memo (round-16
  // directive 1): centroids are deterministic given (dir + the pinned
  // fit layout), so app-wide sharing survives a harness that clones
  // the session, where an identityHashCode key silently refits
  private[graft] val ivfFitCount =
    new java.util.concurrent.atomic.AtomicLong

  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = corpus(spark, dir)
      .withColumn("features", array_to_vector(col("emb")))
    val model = ivfMemo.computeIfAbsent(
      graft.Sessions.appKey(spark, dir), _ => {
        ivfFitCount.incrementAndGet()
        val km = new KMeans().setK(16).setSeed(7L).setMaxIter(8)
          .setFeaturesCol("features").setPredictionCol("bucket")
        // fixed fit-input layout: k-means|| init samples per partition,
        // so the centroids are reproducible across cluster sizes only
        // if the fit input's partitioning doesn't float with the
        // session (same discipline as mlx.Clustering.fitPartitions).
        // Pruned to the two needed columns BEFORE the pinning shuffle
        // (the row order — and so the model — is unchanged; the
        // exchange moves half the bytes) and persisted once so the
        // init + iteration jobs never re-run the shuffle+sort. maxIter
        // is capped: bucketing needs a reasonable Voronoi partition,
        // not convergence, and each extra iteration is a full job over
        // the corpus.
        km.fit(graft.Overlap.own(e.select(col("vec_id"), col("features"))
          .repartition(16, col("vec_id"))
          .sortWithinPartitions(col("vec_id"))
          .persist()))
      })
    val bucketed = model.transform(e)
    val centers = model.clusterCenters.zipWithIndex
      .map { case (v, i) => (i, v.toArray) }.toSeq
      .toDF("bucket", "centroid")
    // nprobe=4 nearest centroids per query (L2, the KMeans metric)
    val wProbe = Window.partitionBy(col("q_id"))
      .orderBy(col("dist2").asc, col("bucket"))
    val probes = bucketed.filter(pmod(col("vec_id"), lit(50)) === 0)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"))
      .crossJoin(broadcast(centers))
      .withColumn("dist2", expr(
        "vec_dot(q_emb, q_emb) - 2 * vec_dot(q_emb, centroid) + vec_dot(centroid, centroid)"))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= 4)
      .select(col("q_id"), col("q_emb"), col("q_nrm"), col("bucket"))
    val c = bucketed.select(col("vec_id").as("c_id"), col("emb").as("c_emb"),
      col("nrm").as("c_nrm"), col("bucket"))
    top5Cosine(c.join(broadcast(probes), Seq("bucket"), "inner")
      .filter(col("q_id") =!= col("c_id")))
  }

  /** LSH-bucketed ANN — the second scale path next to [[annIvf]],
    * completing SURVEY's "IVF or LSH-bucketed variant" pair. A fixed
    * seeded hyperplane matrix gives every vector an nBits-bit
    * sign-signature (codegen [[graft.functions.LshSignature]], one
    * pass, no shuffle); the corpus is bucketed by signature and each
    * query multi-probes every bucket within Hamming distance 2 of its
    * own (1 + nBits + C(nBits,2) of 2^nBits buckets). `nBits` scales
    * with the corpus ([[autoBits]]: constant ~64 expected bucket size,
    * so per-query candidate cost is flat as the corpus grows). On
    * this corpus the true top-5 sit near cos 0.5 (per-bit flip
    * probability θ/π ≈ 1/3), so Hamming<=2 recovers
    * P(Binom(nBits,1/3) <= 2) of them — recall on par with
    * [[annIvf]]'s learned centroids, without any training step.
    * Unlike IVF there is NO training step (no fit jobs, nothing to
    * converge): the index is a deterministic projection, which also
    * makes it the cheaper choice when the corpus churns. At 100 TB the
    * signature is the partition key (probes prune partitions) and the
    * candidate set is ~(nprobe / 2^nbits) of the corpus per query.
    * Approximate vs. brute force (recall asserted in
    * OperatorInvariantsSpec / BenchScaleRecallSpec) but fully
    * DETERMINISTIC given the seeded planes — so unlike IVF it carries a
    * full DuckDB oracle (see [[sigBitsSql]]: the plane matrix is
    * inlined as SQL literals and the oracle recomputes the exact same
    * buckets, candidates, and ranking).
    */
  def annLsh(spark: SparkSession, dir: String): DataFrame =
    annLsh(spark, dir, autoBits(corpus(spark, dir).count()))

  /** Auto-scaled LSH bucket count: the smallest `nBits` in
    * [minBits, maxBits] with `target * 2^nBits >= n` — i.e. the expected
    * bucket size `n / 2^nBits` is held in (target/2, target] as the
    * corpus grows (the same data-sized-knob discipline as
    * `Graph.connectedComponents`'s shuffle-partition count). Fixed bits
    * would let buckets grow linearly with the corpus: at 100 TB a 6-bit
    * index is 64 buckets of ~10^8 vectors — every probe a full scan.
    * Integer-only derivation (no float log2), so the DuckDB oracle
    * replays the exact same `nBits` from `count(*)` at any sf and the
    * queries stay FULLY hash-checked despite the dynamic knob.
    * `maxBits` is capped by the 12 plane rows inlined in the oracle SQL
    * ([[oraclePlanes]]); the engine API accepts any cap.
    */
  private[graft] def autoBits(n: Long, target: Long = 64L,
      minBits: Int = 3, maxBits: Int = 12): Int = {
    var b = minBits
    while (b < maxBits && target * (1L << b) < n) b += 1
    b
  }

  /** `nBits` is the quality/cost dial: buckets = 2^nbits, probed
    * fraction ≈ (1 + nbits + nbits·(nbits-1)/2) / 2^nbits. Raised
    * with corpus size ([[autoBits]]) to hold the per-bucket candidate
    * count constant.
    */
  def annLsh(spark: SparkSession, dir: String, nBits: Int): DataFrame = {
    graft.functions.LshSignature.register(spark, nBits)
    val sigd = corpus(spark, dir).withColumn("sig", expr("lsh_sig(emb)"))
    // query side: own signature + every 1- and 2-bit flip (all
    // distinct, so a candidate pair joins exactly once)
    val flips = (0 until nBits).map(i => 1 << i) ++
      (for (i <- 0 until nBits; j <- i + 1 until nBits) yield (1 << i) | (1 << j))
    val probes = sigd.filter(pmod(col("vec_id"), lit(50)) === 0)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"), col("sig"))
      .withColumn("probe", explode(array(
        col("sig") +: flips.map(m => col("sig").bitwiseXOR(lit(m))): _*)))
      .select(col("q_id"), col("q_emb"), col("q_nrm"),
        col("probe").as("sig"))
    val c = sigd.select(col("vec_id").as("c_id"), col("emb").as("c_emb"),
      col("nrm").as("c_nrm"), col("sig"))
    top5Cosine(c.join(broadcast(probes), Seq("sig"), "inner")
      .filter(col("q_id") =!= col("c_id")))
  }

  /** The Catalyst-rewrite path as a registered, driver-benched entry
    * (round-8 directive): the BRUTE-FORCE [[cosineTopK]] DataFrame,
    * built on a child session with [[graft.plans.AnnIndexRewrite]]
    * enabled and its bit width pinned to the same [[autoBits]] knob the
    * hand-written [[annLsh]] uses — so at action time the optimizer
    * swaps the all-pairs scoring join for the LSH bucket probe. Same
    * planes, same Hamming<=2 probe set, same ranking ⇒ the result is
    * row-identical to [[annLsh]] (pinned in `AnnIndexRewriteSpec`) and
    * shares its full DuckDB oracle. The child session scopes the flag:
    * every other catalog entry keeps its untouched plan (the flag is
    * read at optimization time, so disabling it in this session before
    * the driver's action would silently un-rewrite the query — session
    * isolation is the correct scope, not enable/disable bracketing).
    */
  def annLshRewrite(spark: SparkSession, dir: String): DataFrame =
    annLshRewriteWith(spark, dir, queryModulus = 50)

  /** [[annLshRewrite]] with the query sample parametrized, for
    * `ScalingBench.rewriteDrill` — same child-session scoping, same
    * autoBits pin, same canonical shape fed to the optimizer.
    */
  private[graft] def annLshRewriteWith(spark: SparkSession, dir: String,
      queryModulus: Int): DataFrame =
    bruteTopK(annLshRewriteSession(spark, dir), dir, queryModulus)

  /** The rewrite-enabled child session alone — split out so
    * `ScalingBench.rewriteDrill` can build it ONCE per drill and time
    * only the plan execution: the session bootstrap and the autoBits
    * corpus count are index-configuration work a serving deployment
    * pays once, and folding them into every timed sample made the
    * committed rewrite-arm number part bootstrap, part plan
    * (round-14 ADVICE).
    */
  private[graft] def annLshRewriteSession(spark: SparkSession,
      dir: String): SparkSession = {
    val s = spark.newSession()
    graft.plans.AnnIndexRewrite.enable(s)
    s.conf.set(graft.plans.AnnIndexRewrite.NBitsKey,
      autoBits(corpus(s, dir).count()).toString)
    s
  }

  /** Size-gate for the probe-side broadcasts (round-11 directive 3) —
    * the [[graft.ext.Curation.gatedBroadcast]] pattern applied to the
    * ANN serving path. The probe-pair frame ((q_id, sig), 16 B/row) and
    * the query-payload frame (q_id + embedding) are broadcast-right for
    * the registered 2% query sample, but an UNBOUNDED labeling batch
    * (every unlabeled doc at 100 TB, ×794 masks/query at the 12-bit /
    * Hamming<=4 end) would OOM the driver through an unconditional
    * hint. Apply the hint only while the optimizer's size estimate
    * stays under the cap; above it, drop the hint — the join on `sig`
    * (the index's partition key) degrades to a shuffle bucket-join and
    * AQE picks strategy from real runtime sizes. Result-identical
    * either way (`GuardFireDrillSpec` guard 5 pins the flip + equality).
    * Cap overridable per session via [[ProbeBroadcastMaxBytesKey]].
    *
    * The fallback deliberately carries NO shuffle-hash hint either
    * (measured price: 2.36x the broadcast arm on the 500k drill
    * fixture, `SCALING.json.fallback_drill`): this branch only runs
    * when a side's size estimate is past the cap, i.e. exactly when a
    * per-partition SHJ build map could not be trusted to fit executor
    * memory — ShuffledHashJoin's build side does not spill, while
    * sort-merge degrades to disk-backed sorts. Paying the sort is the
    * point of the degraded mode; steering bounded joins to SHJ lives
    * in `ops.Scale` (scale6) where the build side is provably small.
    */
  private[graft] def gatedProbeBroadcast(spark: SparkSession,
      df: DataFrame): DataFrame =
    Curation.gatedBroadcastWith(spark, df, ProbeBroadcastMaxBytesKey,
      ProbeBroadcastMaxBytes)

  val ProbeBroadcastMaxBytes: Long = 64L << 20
  val ProbeBroadcastMaxBytesKey =
    "spark.graft.ann.probeBroadcast.maxBytes"

  /** On-disk LSH index artifact path — per-sf-dir so verify-scale and
    * bench-scale runs never clobber each other's index, and per-nBits
    * so a corpus-size change (different [[autoBits]]) can never probe
    * a stale layout: 8-bit probe masks XORed against 5-bit stored
    * signatures would silently miss most buckets; a changed bit count
    * changes the path and forces a rebuild instead.
    */
  private[graft] def annIndexPath(dir: String, nBits: Int): String =
    graft.io.Sources.tmpDir("ann_index") + "/" +
      dirKey(dir) + s"-b$nBits"

  /** Freshness manifest written by the index build (round-11 directive
    * 5): one `_graft_manifest` file (underscore prefix — invisible to
    * the parquet reader, like `_SUCCESS`) inside the index directory
    * holding the built layout's nBits plus a fingerprint of the SOURCE
    * corpus files (sorted name:length:mtime triples, md5'd). Probe-time
    * freshness is then O(#source files) of filesystem METADATA — no
    * count() over the index, no count() over the corpus — and strictly
    * stronger than the old row-count probe: a same-row-count corpus
    * regeneration changes file lengths/mtimes and is caught, where a
    * count comparison was blind to it. Written AFTER the parquet write
    * completes, so a crashed build leaves no manifest and the next
    * probe rebuilds.
    */
  private def annManifestPath(path: String): String =
    path + "/_graft_manifest"

  /** md5 over the sorted (name, length, mtime) triples of the corpus
    * parquet files — metadata-only, never opens the data.
    */
  private def corpusFingerprint(dir: String): String = {
    val root = new java.io.File(s"$dir/embeddings.parquet")
    // java.io.File is local-FS only: a nonexistent root would degrade
    // the fingerprint to a constant over a missing file — one build
    // would then look fresh FOREVER. Fail fast instead; a deployment
    // whose corpus lives on a non-local store needs a store-native
    // metadata listing here, not a silent constant. Scoped (round-12
    // ADVICE) to the ANN index/freshness paths — plain [[corpus]]
    // consumers go through [[corpusFingerprintOpt]], which skips
    // validation for non-local dirs instead of failing.
    require(root.exists,
      s"ANN corpus not found on the local filesystem at $root — " +
        "metadata fingerprinting requires a locally readable corpus")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles).fold(Seq.empty[java.io.File])(
          _.toSeq.sortBy(_.getName).flatMap(walk))
      else Seq(f)
    val meta = walk(root)
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest(meta.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
  }

  /** Temp-file + ATOMIC_MOVE publish: a concurrent probe in another
    * process never reads a PARTIAL manifest/pointer (a torn read would
    * fail the Try parse anyway — safe direction, rebuild — but atomic
    * publication removes the window outright). Two concurrent BUILDERS
    * remain outside the contract: last mover wins per file, and the
    * test harness is single-writer by construction.
    */
  private def atomicWrite(target: java.nio.file.Path,
      content: String): Unit = {
    val tmp = java.nio.file.Files.createTempFile(
      target.getParent, "." + target.getFileName.toString, ".tmp")
    java.nio.file.Files.write(tmp,
      content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, target,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private def writeAnnManifest(path: String, nBits: Int,
      fingerprint: String): Unit =
    atomicWrite(java.nio.file.Paths.get(annManifestPath(path)),
      s"$nBits\n$fingerprint\n")

  private def readAnnManifest(path: String): Option[(Int, String)] =
    scala.util.Try {
      val lines = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(annManifestPath(path)))
      (lines.get(0).trim.toInt, lines.get(1).trim)
    }.toOption

  /** Family-root pointer to the CURRENT index's nBits — what lets a
    * fresh probe locate its per-nBits index directory without the
    * `autoBits(corpus.count())` pass the old probe path opened with
    * (a corpus-sized count per probe batch, exactly the class of work
    * the manifest exists to eliminate). Written by the build after
    * the manifest; a corpus change is still caught because the
    * pointed-at manifest's FINGERPRINT mismatches and forces a
    * rebuild, which re-derives nBits from the new corpus and moves
    * the pointer.
    */
  private[graft] def annPointerPath(dir: String): java.nio.file.Path =
    java.nio.file.Paths.get(graft.io.Sources.tmpDir("ann_index"),
      dirKey(dir) + ".nbits")

  private def readAnnPointer(dir: String): Option[Int] =
    scala.util.Try(new String(
      java.nio.file.Files.readAllBytes(annPointerPath(dir)),
      java.nio.charset.StandardCharsets.UTF_8).trim.toInt).toOption

  /** Drop every cached view of the corpus (the normalized memo here,
    * the raw scan memo + Spark file-index in Sources) before a stale
    * rebuild: building the new index from a MEMOIZED old corpus while
    * stamping the manifest with the new files' fingerprint would mark
    * wrong data permanently fresh — across processes, since tmpDir
    * persists.
    */
  private def invalidateCorpus(spark: SparkSession, dir: String): Unit = {
    // TWO named scopes, deliberately (round-16 directive 2 asked for
    // one derivation or documentation — this is the documentation):
    // the corpus FRAME tiers are session-scoped (Sessions.sessionKey;
    // see [[corpus]] — per-session rewrite flags must plan them in
    // their own session), while the trained IVF centroids are
    // session-free numbers on the app scope (Sessions.appKey). Both
    // derive from graft.Sessions, so neither can drift into a third
    // ad-hoc keyspace; the eviction targets the calling session's
    // frame view plus the app-wide trained view, which is exactly the
    // pair a detected regeneration staled.
    val sKey = graft.Sessions.sessionKey(spark, dir)
    graft.Overlap.forget(CorpusMemo, sKey)
    corpusFp.remove(sKey)
    // rebuild paths must re-walk, not reuse this query's
    graft.Overlap.forget(FingerprintMemo, dir)
    // the IVF centroids are a TRAINED view of the corpus: keeping them
    // through a detected regeneration would transform the fresh corpus
    // with centroids fit on the old one — exactly the stale-half/
    // fresh-half pairing this invalidation exists to prevent
    ivfMemo.remove(graft.Sessions.appKey(spark, dir))
    graft.io.Sources.evictTable(spark, dir, "embeddings")
  }

  /** Write the LSH serving index: (vec_id, label, emb, nrm)
    * PARTITIONED BY the signature — signature-as-partition-key is the
    * layout every probe relies on at 100 TB (a probe set of
    * ~1+nbits+C(nbits,2) signatures touches exactly those directories;
    * the rest of the corpus is never opened). `label` rides along as an
    * index PAYLOAD column so label-consuming probes ([[knnAnn]]) never
    * join back to the corpus for it — the standard serving-index shape
    * (store what the probe answers with, not just what it ranks by).
    * One hash(sig) exchange before the write gives one file per bucket.
    * Returns nBits so build and probe derive the identical plane set.
    */
  private def writeAnnIndex(spark: SparkSession, dir: String): Int = {
    // fingerprint BEFORE the build reads anything: if the corpus files
    // change mid-build, the manifest records the PRE-build state and
    // the next probe's fingerprint mismatch forces a rebuild — stamping
    // after the build would mark the mid-build mixture fresh
    val fingerprint = corpusFingerprint(dir)
    // unless a PRIOR manifest exists whose fingerprint MATCHES the
    // files on disk, every cached corpus view in this session may
    // predate a regeneration — drop them so the rebuild reads what the
    // fingerprint describes. The match requirement (round-12 ADVICE)
    // covers the no-prior-manifest cases the old differs-only guard
    // missed: a first-ever build, or a crashed rebuild whose overwrite
    // already destroyed the old manifest — in both, a memoized corpus
    // could predate an in-place regeneration and the stamp would mark
    // wrong data permanently fresh (tmpDir persists across processes).
    // Routine warm-cache rebuilds (matching fingerprint) keep their
    // caches. Covers the direct annIndexBuild path too, not just
    // ensureAnnIndex's stale branch.
    val prior = readAnnPointer(dir)
      .flatMap(b => readAnnManifest(annIndexPath(dir, b)))
    if (!prior.exists(_._2 == fingerprint)) invalidateCorpus(spark, dir)
    val nBits = autoBits(corpus(spark, dir).count())
    graft.functions.LshSignature.register(spark, nBits)
    val path = annIndexPath(dir, nBits)
    corpus(spark, dir)
      .withColumn("sig", expr("lsh_sig(emb)"))
      .select(col("vec_id"), col("label"), col("emb"), col("nrm"),
        col("sig"))
      .repartition(col("sig"))
      .write.mode("overwrite").partitionBy("sig")
      .parquet(path)
    // manifest last, pointer after it: a build that dies mid-write
    // leaves no (or a stale) manifest and the next probe rebuilds
    writeAnnManifest(path, nBits, fingerprint)
    atomicWrite(annPointerPath(dir), s"$nBits\n")
    nBits
  }

  /** Locate the current serving index, building it if missing or
    * stale, and return its nBits — the probes' single entry point for
    * index resolution. Freshness (round-11 directive 5) is pure
    * filesystem METADATA: the family-root pointer names the current
    * nBits (so a fresh probe derives its plane set and probe masks
    * with NO `autoBits(corpus.count())` pass), and the pointed-at
    * manifest's source-file fingerprint must match the corpus files on
    * disk NOW. No count() over index or corpus anywhere in the fresh
    * path — an unbounded stream of probe batches pays zero corpus-sized
    * freshness work (the old per-probe counts were exactly the wrong
    * place for that at 100 TB). A regeneration at the SAME row count is
    * caught too (lengths/mtimes change). On a detected regeneration
    * the rebuild drops the cached corpus views first
    * ([[writeAnnIndex]]'s guarded [[invalidateCorpus]]) so it reads
    * the files the fingerprint describes, never a memoized old
    * corpus. The full suite additionally has [[annIndexBuild]]
    * overwrite fresh earlier in registry order.
    */
  private def ensureAnnIndex(spark: SparkSession, dir: String): Int =
    readAnnPointer(dir).filter { b =>
      readAnnManifest(annIndexPath(dir, b)).exists {
        case (mBits, mPrint) =>
          mBits == b && mPrint == corpusFingerprint(dir)
      }
    }.getOrElse(writeAnnIndex(spark, dir))

  /** BUILD side of the build-once / probe-many ANN serving split
    * (round-8 directive): [[annLsh]] refits its index inside every
    * query, which is the batch-job shape — a production vector-serving
    * deployment builds the index ONCE (this query: signature pass +
    * partitioned write), then answers many query batches against the
    * persisted artifact ([[annIndexProbe]], whose bench row is
    * therefore independent of build cost — the same write/read split as
    * `scale4_bucketed_join`). The registered output reads the artifact
    * BACK and emits the per-bucket occupancy histogram — proving the
    * written layout, not the in-memory plan — which DuckDB replays
    * exactly from the inlined plane matrix ([[sigBitsSql]]).
    */
  def annIndexBuild(spark: SparkSession, dir: String): DataFrame = {
    val nBits = writeAnnIndex(spark, dir)
    spark.read.parquet(annIndexPath(dir, nBits))
      .groupBy(col("sig").cast("int").as("sig"))
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy(col("sig"))
  }

  /** Packed signature (= [[graft.functions.LshSignature.compute]]'s
    * `sig |= 1 << b` accumulation) over the first `nb.nbits` bit
    * columns of [[sigBitsSql]].
    */
  private def sigPackSql: String =
    (0 until 12).map(i =>
      s"(CASE WHEN $i < nb.nbits THEN b$i ELSE 0 END) * ${1 << i}")
      .mkString(" + ")

  private def annIndexBuildSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                   FROM embeddings),
       $nbitsSql,
       s AS (SELECT vec_id,
           $sigBitsSql
         FROM e),
       g AS (SELECT CAST($sigPackSql AS INTEGER) AS sig FROM s, nb)
       SELECT sig, count(*) AS n_vectors FROM g
       GROUP BY sig ORDER BY sig"""

  /** PROBE side of the serving split: answer the standard query batch
    * (vec_id % 50) against the PERSISTED index — no signature pass over
    * the corpus, no fit, no index state in this session at all. The
    * probe set (own signature + every Hamming<=2 flip) broadcasts and
    * joins the index on its partition key, so the scan touches only the
    * probed buckets; exact cosine re-ranks within candidates. Output ==
    * [[annLsh]] row for row (same planes, same autoBits) — it shares
    * the full [[annLshSql]] oracle. A probe-only run against a missing
    * artifact builds it first (dev convenience); the full suite always
    * has [[annIndexBuild]] overwrite the artifact fresh beforehand.
    */
  def annIndexProbe(spark: SparkSession, dir: String): DataFrame =
    annProbeBatch(spark, dir, 0)

  /** One probe batch (query set `vec_id % 50 == batch`) against the
    * standing index — the unit [[annIndexProbe]] (batch 0) and
    * [[annProbeMany]] (batches 0..4) share.
    */
  private[graft] def annProbeBatch(spark: SparkSession, dir: String,
      batch: Int): DataFrame =
    annProbeWhere(spark, dir, pmod(col("vec_id"), lit(50)) === batch)

  /** [[annProbeBatch]] generalized over the query-set predicate — the
    * serving entry point for an arbitrary query batch (and the handle
    * the partition-pruning plan test probes a single query through:
    * at registered-batch scale every bucket is collectively probed, so
    * observable pruning needs a probe set smaller than the bucket
    * count).
    */
  private[graft] def annProbeWhere(spark: SparkSession, dir: String,
      queryPred: Column): DataFrame = {
    val nBits = ensureAnnIndex(spark, dir)
    graft.functions.LshSignature.register(spark, nBits)
    val index = spark.read.parquet(annIndexPath(dir, nBits))
      .select(col("vec_id").as("c_id"), col("emb").as("c_emb"),
        col("nrm").as("c_nrm"), col("sig").cast("int").as("sig"))
    val flips = (0 until nBits).map(i => 1 << i) ++
      (for (i <- 0 until nBits; j <- i + 1 until nBits)
        yield (1 << i) | (1 << j))
    val q = corpus(spark, dir)
      .filter(queryPred)
      .withColumn("sig", expr("lsh_sig(emb)"))
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"), col("sig"))
    // two broadcasts, not one: the probe-pair frame carries ONLY
    // (q_id, sig) — 16 bytes per probe row — and the per-query payload
    // (q_emb, q_nrm) attaches AFTER the bucket join via a q_id
    // broadcast join. A single exploded broadcast would replicate each
    // query's ~550 B embedding once per probe mask (79x at the 12-bit
    // end) in the broadcast relation on every executor. Both hints are
    // size-GATED ([[gatedProbeBroadcast]]): an unbounded query batch
    // flips to a shuffle bucket-join on sig / q_id instead of OOMing
    // the driver.
    val probePairs = q.select(col("q_id"), explode(array(
      col("sig") +: flips.map(m => col("sig").bitwiseXOR(lit(m))): _*))
      .as("sig"))
    top5Cosine(
      index.join(gatedProbeBroadcast(spark, probePairs), Seq("sig"), "inner")
        .filter(col("q_id") =!= col("c_id"))
        .join(gatedProbeBroadcast(spark, q.drop("sig")), Seq("q_id")))
  }

  /** SERVE-MANY row (round-11 directive 6): five successive DISJOINT
    * query batches (`vec_id % 50 == 0..4`) answered against the
    * standing persisted index inside one registered entry — the
    * resident-engine shape [[annIndexProbe]]'s single batch only hints
    * at. The build amortizes across all five (freshness is the O(1)
    * manifest check per batch, never a rebuild); what the bench row
    * prices is the MARGINAL per-batch probe cost. The registered
    * output unions the five batch results under a `batch` column and
    * is fully hash-oracled by the same inlined-planes replay as
    * [[annIndexProbe]], once per batch. The timed formulation
    * ([[annProbeManyBench]]) issues the batches as five independent
    * probe plans run concurrently, as a serving tier answering
    * concurrent clients would, rather than letting one union plan share
    * scans across batches.
    */
  def annProbeMany(spark: SparkSession, dir: String): DataFrame =
    (0 until 5).map { b =>
      annProbeBatch(spark, dir, b).withColumn("batch", lit(b))
        .select(col("batch"), col("q_id"), col("c_id"), col("rank"),
          col("cos_sim"))
    }.reduce(_.unionAll(_))
      .orderBy(col("batch"), col("q_id"), col("rank"))

  /** Bench formulation of [[annProbeMany]]: all FIVE batches
    * materialize as OVERLAPPED independent probe plans (optimization
    * guide §2.6 — a serving tier answers concurrent clients, and
    * Spark's scheduler runs concurrent jobs fine; the round-21 profile
    * showed the strictly sequential loop gated on five sets of
    * driver-side planning barriers in a row). Round 21 overlapped
    * batches 0-3 and left batch 4 as a serial tail for Bench's own
    * materialization; round 22 forks batch 4 too, as an EAGER
    * localCheckpoint — the checkpoint computes every column of the
    * batch inside its branch (concurrently with batches 0-3, still
    * entirely inside the timed span, every branch joined before
    * return), and the frame handed back to Bench's noop sink is the
    * checkpointed rows (round-22 min-of-5: 1.242 s -> 0.716 s
    * same-box). Those blocks outlive the call: the checkpoint is the
    * frame the scope returns, so it passes to the caller's owner
    * ([[graft.Overlap]]) and is freed when the caller's query ends.
    * The index is resolved ONCE before the fan-out so concurrent
    * probes can never race a missing-index rebuild.
    */
  def annProbeManyBench(spark: SparkSession, dir: String): DataFrame = {
    ensureAnnIndex(spark, dir)
    graft.Overlap(spark) { s =>
      val served = (0 until 4).map { b =>
        s.fork(s"ann serve: batch $b") {
          annProbeBatch(spark, dir, b)
            .write.format("noop").mode("overwrite").save()
        }
      }
      val last = s.fork("ann serve: batch 4") {
        s.release(annProbeBatch(spark, dir, 4).localCheckpoint(true))
      }
      served.foreach(s.join(_))
      s.join(last)
    }
  }

  private def annProbeManySql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                   FROM embeddings),
       $nbitsSql,
       s AS (SELECT vec_id, emb,
           $sigBitsSql
         FROM e),
       c AS (SELECT q.vec_id % 50 AS batch,
               q.vec_id AS q_id, t.vec_id AS c_id,
               list_cosine_similarity(q.emb, t.emb) AS cos
             FROM s q, s t, nb
             WHERE q.vec_id % 50 <= 4 AND q.vec_id <> t.vec_id
               AND ${hammingSql("q", "t")} <= 2),
       r AS (SELECT batch, q_id, c_id, cos,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY cos DESC, c_id) AS rank
             FROM c)
       SELECT CAST(batch AS INT) AS batch, q_id, c_id,
         CAST(rank AS INT) AS rank,
         floor(cos * 10000 + 0.5) / 10000 AS cos_sim
       FROM r WHERE rank <= 5 ORDER BY batch, q_id, rank"""

  /** Scratch path for the INCREMENTAL index twin — separate from
    * [[annIndexPath]] so the build/probe pair and the update op never
    * clobber each other's artifact.
    */
  private[graft] def annIndexIncrPath(dir: String): String =
    graft.io.Sources.tmpDir("ann_index_incr") + "/" +
      dirKey(dir)

  /** [EXT] Incremental serving-index maintenance — the UPDATE story
    * the build-once/probe-many split needs to be a real deployment:
    * new embeddings arrive continuously (the `vec_id % 5 == 4` delta,
    * the s14/s15 incremental-ingest convention), and refitting the
    * whole index per batch is the refit-per-query anti-pattern one
    * level up. Because the index layout is signature-PARTITIONED and
    * the signature is a pure function of the vector (no centroids to
    * drift, nothing trained), an increment is an APPEND that touches
    * ONLY the delta's own signature partitions — untouched buckets'
    * files are not rewritten, and probes see base+delta immediately
    * (`OperatorInvariantsSpec` pins exactly that: one file per
    * untouched bucket, two per touched, full-corpus readback).
    *
    * `nBits` is sized by [[autoBits]] on the FULL corpus (base +
    * delta): production sizes the bucket count for the data it will
    * hold, not the bootstrap batch, precisely so increments never
    * force a re-bucket. Registered output = the post-update occupancy
    * histogram split by origin (n_base / n_delta / n_total per
    * bucket) — proving the merged layout, fully DuckDB-replayed from
    * the inlined planes and `count(*)`.
    */
  def annIndexUpdate(spark: SparkSession, dir: String): DataFrame = {
    val path = annIncrBase(spark, dir)
    annIncrAppend(spark, dir)
    spark.read.parquet(path)
      .groupBy(col("sig").cast("int").as("sig"))
      .agg(sum(when(col("origin") === "base", 1L).otherwise(0L))
          .as("n_base"),
        sum(when(col("origin") === "delta", 1L).otherwise(0L))
          .as("n_delta"),
        count(lit(1)).as("n_total"))
      .orderBy(col("sig"))
  }

  private def annIncrSigged(spark: SparkSession, dir: String,
      df: DataFrame, origin: String): DataFrame = {
    val nBits = autoBits(corpus(spark, dir).count())
    graft.functions.LshSignature.register(spark, nBits)
    df.withColumn("sig", expr("lsh_sig(emb)"))
      .select(col("vec_id"), col("label"), col("emb"), col("nrm"),
        lit(origin).as("origin"), col("sig"))
  }

  /** Bootstrap phase of [[annIndexUpdate]]: the standing base index
    * (yesterday's corpus), published as snapshot v0. Returns the
    * index path. Split out so the probe-during-update drill
    * (`ConcurrencySpec`) can stand the base up, start probing, and
    * race [[annIncrAppend]] against the probes.
    */
  private[graft] def annIncrBase(spark: SparkSession, dir: String)
      : String = {
    val path = annIndexIncrPath(dir)
    graft.io.Sources.rmTree(path)
    val e = corpus(spark, dir)
    annIncrSigged(spark, dir,
      e.filter(pmod(col("vec_id"), lit(5)) =!= 4), "base")
      .repartition(col("sig"))
      .write.mode("overwrite").partitionBy("sig").parquet(path)
    publishIncrSnapshot(path, 0)
    path
  }

  /** Maintenance phase of [[annIndexUpdate]]: the increment's append
    * lands files only under the delta's signature partitions, then
    * snapshot v1 is published. Base files are never rewritten, so a
    * reader on snapshot v0 stays consistent throughout.
    */
  private[graft] def annIncrAppend(spark: SparkSession, dir: String)
      : Unit = {
    val path = annIndexIncrPath(dir)
    val e = corpus(spark, dir)
    annIncrSigged(spark, dir,
      e.filter(pmod(col("vec_id"), lit(5)) === 4), "delta")
      .repartition(col("sig"))
      .write.mode("append").partitionBy("sig").parquet(path)
    publishIncrSnapshot(path, 1)
  }

  /** Versioned snapshot manifests for the incremental index (round-15
    * directive 6): a plain parquet append publishes its files
    * NON-atomically — task files move into the partition dirs one
    * rename at a time at job commit — so a probe that lists the
    * directory mid-commit could see a subset of the delta's buckets:
    * a torn candidate set, the exact hazard the "probes are safe
    * during maintenance" claim must exclude. Each commit therefore
    * publishes an immutable file-listing manifest
    * (`_graft_incr_m<version>`, temp-file + ATOMIC_MOVE like every
    * manifest here) and flips ONE pointer file to it;
    * [[annIncrSnapshot]] reads pointer -> manifest -> exactly those
    * files. A probe racing the append resolves to the base file set
    * or the base+delta file set — never anything in between — and a
    * v0 reader stays consistent DURING the append because append-only
    * partitions never rewrite base files. This is the minimal local
    * form of a table format's snapshot isolation (Delta/Iceberg
    * manifests); underscore-prefixed names keep the manifests
    * invisible to the plain parquet reader the sequential histogram
    * query uses.
    */
  private def annIncrPointerPath(path: String): java.nio.file.Path =
    java.nio.file.Paths.get(path, "_graft_incr_current")

  private def listIncrDataFiles(path: String): Seq[String] = {
    val root = new java.io.File(path)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles).fold(Seq.empty[java.io.File])(
          _.toSeq.sortBy(_.getName).flatMap(walk))
      else Seq(f)
    walk(root)
      .filter(_.getName.endsWith(".parquet"))
      .map(f => root.toPath.relativize(f.toPath).toString)
      // no hidden/temporary path segment anywhere: files under an
      // in-flight _temporary dir are uncommitted and must never land
      // in a published manifest
      .filterNot(_.split('/').exists(seg =>
        seg.startsWith("_") || seg.startsWith(".")))
      .sorted
  }

  private def publishIncrSnapshot(path: String, version: Int): Unit = {
    val files = listIncrDataFiles(path)
    atomicWrite(java.nio.file.Paths.get(path, s"_graft_incr_m$version"),
      files.mkString("", "\n", "\n"))
    atomicWrite(annIncrPointerPath(path), s"_graft_incr_m$version\n")
  }

  /** Read the incremental index at its CURRENT published snapshot:
    * pointer -> immutable manifest -> exactly those files (basePath
    * keeps the `sig` partition column). The read contract the
    * concurrency drill pins: base or base+delta, never a torn listing.
    */
  private[graft] def annIncrSnapshot(spark: SparkSession, path: String)
      : DataFrame = {
    val mName = new String(java.nio.file.Files.readAllBytes(
      annIncrPointerPath(path)),
      java.nio.charset.StandardCharsets.UTF_8).trim
    val files = scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(path, mName))).asScala
      .map(_.trim).filter(_.nonEmpty)
      .map(rel => s"$path/$rel").toSeq
    spark.read.option("basePath", path).parquet(files: _*)
  }

  private def annIndexUpdateSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                   FROM embeddings),
       $nbitsSql,
       s AS (SELECT vec_id,
           $sigBitsSql
         FROM e),
       g AS (SELECT vec_id, CAST($sigPackSql AS INTEGER) AS sig
             FROM s, nb)
       SELECT sig,
         CAST(sum(CASE WHEN vec_id % 5 <> 4 THEN 1 ELSE 0 END)
           AS BIGINT) AS n_base,
         CAST(sum(CASE WHEN vec_id % 5 = 4 THEN 1 ELSE 0 END)
           AS BIGINT) AS n_delta,
         CAST(count(*) AS BIGINT) AS n_total
       FROM g GROUP BY sig ORDER BY sig"""

  /** Global embedding near-dup pairs with NO precomputed block key —
    * the general form of [[cosineNearDup]] (which blocks on the given
    * `label` column): LSH signatures make the blocks. Candidates are
    * pairs whose signatures sit within Hamming distance 2 (the lower
    * vec_id side explodes its 1+6+15 probe masks; the other side keeps
    * its single signature, so each pair joins exactly once), then exact
    * cosine verifies — emitted pairs are never false positives, recall
    * depends on how similar the true dups are: at cos 0.9 (a real
    * near-dup corpus; per-bit flip prob 0.14) Hamming<=2 catches
    * ~0.96 of pairs; this synthetic corpus tops out near cos 0.5, so
    * the 0.35 threshold targets its planted structure and the
    * invariant asserts the geometry-implied floor (~0.6), plus zero
    * false positives. At 100 TB nbits grows with the corpus
    * (constant bucket size), the join is bucket-local shuffle — never
    * corpus² — and the probed fraction is (1+nbits+C(nbits,2))/2^nbits.
    */
  def lshNearDup(spark: SparkSession, dir: String): DataFrame = {
    val nBits = autoBits(corpus(spark, dir).count())
    graft.functions.LshSignature.register(spark, nBits)
    val sigd = corpus(spark, dir).withColumn("sig", expr("lsh_sig(emb)"))
    val masks = 0 +: ((0 until nBits).map(i => 1 << i) ++
      (for (i <- 0 until nBits; j <- i + 1 until nBits)
        yield (1 << i) | (1 << j)))
    val a = sigd
      .select(col("vec_id").as("vec_a"), col("emb").as("q_emb"),
        col("nrm").as("nrm_a"), col("sig"))
      .withColumn("probe", explode(array(
        masks.map(m => col("sig").bitwiseXOR(lit(m))): _*)))
    val b = sigd.select(col("vec_id").as("vec_b"), col("emb").as("c_emb"),
      col("nrm").as("nrm_b"), col("sig").as("probe"))
    a.join(b, Seq("probe"), "inner")
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", expr(dotExpr) / (col("nrm_a") * col("nrm_b")))
      .filter(col("cos") >= 0.35)
      .select(col("vec_a"), col("vec_b"),
        r4(col("cos")).as("cos_sim"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Band-oracle formulation of [[annIvf]] — the registered,
    * driver-hash-checked entry. The IVF candidate set depends on the
    * KMeans centroids (a seeded iterative fit DuckDB cannot replay), so
    * what the oracle recomputes is the exact brute-force truth set —
    * each query's true cosine top-5, the same engine-independent rows
    * [[cosineTopK]] emits — plus a verdict boolean distilled from the
    * IVF run: `recall_ok` = IVF recovered >= 50% of the true top-5
    * pairs (the `OperatorInvariantsSpec` floor; measured ~0.85 at
    * sf0.001 and ~0.9 at sf0.1 — the corpus's planted neighbors sit in
    * probed cells). DuckDB recomputes the truth rows and pins the
    * boolean TRUE — same pattern as `x_minhash_banded`. The bench times
    * [[annIvf]] itself (benchFn): the truth-set recomputation is
    * verification work, not the operator.
    */
  def annIvfVerified(spark: SparkSession, dir: String): DataFrame = {
    val truth = cosineTopK(spark, dir)
    val found = annIvf(spark, dir).select(col("q_id"), col("c_id"))
    val verdict = Q.recallVerdict(truth, found, Seq("q_id", "c_id"),
      minRecall = 0.5, withFp = false)
    truth.crossJoin(broadcast(verdict))
      .select(col("q_id"), col("c_id"), col("rank"), col("cos_sim"),
        col("recall_ok"))
      .orderBy(col("q_id"), col("rank"))
  }

  private val annIvfVerifiedSql =
    """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
                  FROM embeddings WHERE vec_id % 50 = 0),
       c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS ce
             FROM embeddings),
       p AS (SELECT q_id, c_id, list_cosine_similarity(qe, ce) AS cos
             FROM q JOIN c ON q_id <> c_id),
       r AS (SELECT q_id, c_id, cos,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY cos DESC, c_id) AS rank
             FROM p)
       SELECT q_id, c_id, CAST(rank AS INT) AS rank,
         floor(cos * 10000 + 0.5) / 10000 AS cos_sim,
         TRUE AS recall_ok
       FROM r WHERE rank <= 5 ORDER BY q_id, rank"""

  /** The hyperplane-LSH ops are FULLY oracle-checkable, unlike every
    * other approximate family here: the "randomness" is a fixed seeded
    * plane matrix, so the bucket assignment is just sign(emb · plane) —
    * arithmetic DuckDB can recompute if it is handed the plane values.
    * This builder inlines the plane matrix as SQL literals and
    * emits each signature bit as an explicit left-associated sum of
    * products: `emb[1]*w0 + emb[2]*w1 + ...` evaluates the SAME
    * sequence of IEEE double ops as [[graft.functions.LshSignature]]'s
    * accumulation loop (`Double.toString` literals round-trip exactly),
    * so the sign — and therefore the candidate set — is bit-identical
    * across engines, not merely close. That turns both LSH queries from
    * invariant-tested into driver-hash-checked.
    *
    * The [[autoBits]] knob stays oracle-able because the plane
    * generator is PREFIX-STABLE (planes(k) = the first k rows of
    * planes(12) — one sequential seeded stream): the oracle inlines all
    * 12 rows, computes all 12 bit columns, derives the same `nBits`
    * from `count(*)` with the same integer recurrence, and masks the
    * Hamming test to the first `nBits` bits — identical buckets at any
    * corpus size.
    */
  private val oraclePlanes = graft.functions.LshSignature.planes(12, 64)

  /** `b0..b11` bit columns for a CTE exposing `emb` (DOUBLE[]). */
  private def sigBitsSql: String =
    oraclePlanes.zipWithIndex.map { case (p, b) =>
      val dot = p.zipWithIndex
        .map { case (w, i) => s"emb[${i + 1}] * $w" }.mkString(" + ")
      s"CASE WHEN ($dot) >= 0 THEN 1 ELSE 0 END AS b$b"
    }.mkString(",\n           ")

  /** [[autoBits]] replayed in SQL: smallest b in [lo, hi] with
    * 64 * 2^b >= count (integer-only, engine-exact). The CTE expects a
    * corpus CTE named `e`.
    */
  private def nbitsSqlRange(lo: Int, hi: Int): String =
    s"""nb AS (SELECT coalesce(min(r.range), $hi) AS nbits
             FROM range($lo, ${hi + 1}) r
             WHERE 64 * (CAST(1 AS BIGINT) << r.range)
                     >= (SELECT count(*) FROM e))"""

  private val nbitsSql = nbitsSqlRange(3, 12)

  /** Hamming distance over the first `nb.nbits` signature bits. */
  private def hammingSql(a: String, c: String): String =
    (0 until 12).map(i =>
      s"(CASE WHEN $i < nb.nbits THEN abs($a.b$i - $c.b$i) ELSE 0 END)")
      .mkString(" + ")

  private def lshNearDupSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                   FROM embeddings),
       $nbitsSql,
       s AS (SELECT vec_id, emb,
           $sigBitsSql
         FROM e),
       c AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               list_cosine_similarity(a.emb, b.emb) AS cos
             FROM s a, s b, nb
             WHERE a.vec_id < b.vec_id
               AND ${hammingSql("a", "b")} <= 2)
       SELECT vec_a, vec_b, floor(cos * 10000 + 0.5) / 10000 AS cos_sim
       FROM c WHERE cos >= 0.35 ORDER BY vec_a, vec_b"""

  private def annLshSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                   FROM embeddings),
       $nbitsSql,
       s AS (SELECT vec_id, emb,
           $sigBitsSql
         FROM e),
       c AS (SELECT q.vec_id AS q_id, t.vec_id AS c_id,
               list_cosine_similarity(q.emb, t.emb) AS cos
             FROM s q, s t, nb
             WHERE q.vec_id % 50 = 0 AND q.vec_id <> t.vec_id
               AND ${hammingSql("q", "t")} <= 2),
       r AS (SELECT q_id, c_id, cos,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY cos DESC, c_id) AS rank
             FROM c)
       SELECT q_id, c_id, CAST(rank AS INT) AS rank,
         floor(cos * 10000 + 0.5) / 10000 AS cos_sim
       FROM r WHERE rank <= 5 ORDER BY q_id, rank"""

  /** Embedding-cosine near-dup pairs, blocked by `label` (the cluster /
    * shard key — at 100 TB the block is an LSH bucket or IVF cell so the
    * pair join is block-local, never corpus²). Exact within the block.
    * Unsorted raw pair set — the edge input for [[Graph.dupGroups]].
    */
  def cosineNearDupPairs(spark: SparkSession, dir: String): DataFrame = {
    val e = corpus(spark, dir)
    val a = e.select(col("vec_id").as("vec_a"), col("label"),
      col("emb").as("q_emb"), col("nrm").as("nrm_a"))
    val b = e.select(col("vec_id").as("vec_b"),
      col("label").as("label_b"), col("emb").as("c_emb"),
      col("nrm").as("nrm_b"))
    a.join(b, col("label") === col("label_b") &&
        col("vec_a") < col("vec_b"), "inner")
      .withColumn("cos", expr(dotExpr) / (col("nrm_a") * col("nrm_b")))
      .filter(col("cos") >= 0.2)
      .select(col("vec_a"), col("vec_b"), col("label"), col("cos"))
  }

  def cosineNearDup(spark: SparkSession, dir: String): DataFrame =
    cosineNearDupPairs(spark, dir)
      .select(col("vec_a"), col("vec_b"), col("label"),
        r4(col("cos")).as("cos_sim"))
      .orderBy(col("vec_a"), col("vec_b"))

  private val cosineNearDupSql =
    """WITH e AS (SELECT vec_id, label,
         CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
       SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
         floor(list_cosine_similarity(a.emb, b.emb) * 10000 + 0.5) / 10000
           AS cos_sim
       FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
       WHERE list_cosine_similarity(a.emb, b.emb) >= 0.2
       ORDER BY vec_a, vec_b"""

  /** Scalar int8 quantization + quantized probe + exact re-rank — the
    * memory side of the ANN story ([[annIvf]]/[[annLsh]] prune WHICH
    * vectors a query touches; quantization shrinks WHAT each touch
    * costs). Production vector stores keep the float corpus on disk and
    * probe a quantized in-memory index (SQ8: 8 bytes/dim -> 1), then
    * re-rank a shortlist at full precision:
    *
    *  1. stats: ONE full aggregate to a single scalar — the global
    *     absmax `m = max_i |v_i/‖v‖|` over the normalized corpus
    *     (map-side partials; never an exploded (vec, dim) shuffle);
    *  2. quantize: map-only `transform` against the broadcast scale —
    *     `q_i = floor(u_i·127/m + 0.5)` per dim of the L2-normalized
    *     vector (absmax symmetric quantization: zero maps to zero, so
    *     the integer dot product is monotone in cosine up to
    *     quantization noise — no offset bias terms);
    *  3. probe: integer dot products (exact, order-independent — no
    *     float-summation drift across partitionings) against the
    *     broadcast quantized queries, top-20 shortlist per query via
    *     WindowGroupLimit;
    *  4. re-rank: full-precision cosine for the SHORTLIST ONLY — the
    *     broadcast (q_id, c_id) list joins back to the float corpus, so
    *     at 100 TB the expensive vectors are fetched for 20 rows per
    *     query, not the corpus.
    *
    * Every arithmetic step is either integer-exact or the identical
    * IEEE double sequence in both engines — the oracle computes ‖v‖ as
    * the same left-associated 64-term sum `vec_dot` accumulates (the
    * [[sigBitsSql]] technique) — so unlike IVF this approximate index
    * is FULLY hash-oracled: DuckDB replays the normalization, the
    * scale, the quantization, the integer shortlist, and the re-rank
    * bit for bit. Quantized-probe recall vs. exact brute force is
    * asserted in `OperatorInvariantsSpec`.
    */
  def embedQuantize(spark: SparkSession, dir: String): DataFrame = {
    val e = corpus(spark, dir)
    // absmax SYMMETRIC quantization of the NORMALIZED vectors — not an
    // affine min/max map of the raw ones: the integer probe score must
    // be monotone in cosine, and (a) a per-dim offset adds per-vector
    // bias terms to the dot, (b) unnormalized vectors rank by raw dot,
    // not cosine (a round-1 formulation here measured recall 0.14; this
    // one measures 1.0 at sf0.001)
    val un = e.withColumn("u", expr("transform(emb, x -> x / nrm)"))
    // ONE full aggregate to a single scalar (map-side partials) — never
    // an exploded (vec, dim) shuffle of 64·N rows. Persisted: both the
    // query and index branches consume it, and without the pin each
    // would re-run the full corpus pass for the same 1-row scalar
    val m = graft.Overlap.own(un.agg(
      max(expr("array_max(transform(u, x -> abs(x)))")).as("m")).persist())
    // |u_i·127/m| <= 127.5 by construction, so floor(.. + 0.5) lands in
    // [-127, 127] without clamping
    val qz = un.crossJoin(broadcast(m)).withColumn("q8",
      expr("transform(u, x -> CAST(floor(x * 127 / m + 0.5) AS BIGINT))"))
    val queries = qz.filter(pmod(col("vec_id"), lit(50)) === 0)
      .select(col("vec_id").as("q_id"), col("q8").as("q8q"))
    val index = qz.select(col("vec_id").as("c_id"), col("q8"))
    val wS = Window.partitionBy(col("q_id"))
      .orderBy(col("qscore").desc, col("c_id"))
    val shortlist = index
      .join(broadcast(queries), col("q_id") =!= col("c_id"), "inner")
      .withColumn("qscore", expr(
        """aggregate(zip_with(q8, q8q, (x, y) -> x * y),
           CAST(0 AS BIGINT), (a, x) -> a + x)"""))
      .withColumn("srk", row_number().over(wS))
      .filter(col("srk") <= 20)
      .select(col("q_id"), col("c_id"), col("qscore"))
    val qf = e.filter(pmod(col("vec_id"), lit(50)) === 0)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"))
    val cf = e.select(col("vec_id").as("c_id"), col("emb").as("c_emb"),
      col("nrm").as("c_nrm"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id"))
    cf.join(broadcast(shortlist), Seq("c_id"))
      .join(broadcast(qf), Seq("q_id"))
      .withColumn("cos", expr(dotExpr) / (col("q_nrm") * col("c_nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("c_id"), col("rank"),
        r4(col("cos")).as("cos_sim"),
        col("qscore"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** The quantized index replayed in SQL: ‖v‖ as the explicit
    * left-associated 64-term sum (bit-identical to `vec_dot`'s
    * accumulation loop), the same normalize/scale/floor sequence,
    * integer shortlist scores (CAST from DuckDB's HUGEINT sum back to
    * BIGINT), full-precision re-rank of the top-20. The re-rank cosine
    * is ALSO the explicit left-associated dot over the per-vector
    * sqrt norms — NOT DuckDB's `list_cosine_similarity`, whose internal
    * formulation (e.g. sqrt(sa·sb) vs sqrt(sa)·sqrt(sb)) could differ
    * by an ulp and flip a near-tie rank, breaking the bit-for-bit
    * contract the rest of this oracle keeps.
    */
  private val embedQuantizeSql = {
    val sumSq = (1 to 64).map(i => s"emb[$i] * emb[$i]").mkString(" + ")
    val dotAB = (1 to 64).map(i => s"a.emb[$i] * b.emb[$i]").mkString(" + ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                  FROM embeddings),
       nr AS (SELECT vec_id, emb, sqrt($sumSq) AS nrm FROM e),
       uv AS (SELECT vec_id, i, emb[i] / nrm AS u
              FROM nr, range(1, 65) t(i)),
       mm AS (SELECT max(abs(u)) AS m FROM uv),
       qv AS (SELECT vec_id, i,
                CAST(floor(u * 127 / mm.m + 0.5) AS BIGINT) AS q
              FROM uv, mm),
       sc AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
                CAST(sum(q.q * c.q) AS BIGINT) AS qscore
              FROM qv q JOIN qv c ON q.i = c.i AND q.vec_id <> c.vec_id
              WHERE q.vec_id % 50 = 0
              GROUP BY 1, 2),
       sh AS (SELECT q_id, c_id, qscore,
                row_number() OVER (PARTITION BY q_id
                  ORDER BY qscore DESC, c_id) AS srk
              FROM sc),
       rr AS (SELECT s.q_id, s.c_id, s.qscore,
                ($dotAB) / (a.nrm * b.nrm) AS cos
              FROM sh s JOIN nr a ON a.vec_id = s.q_id
                        JOIN nr b ON b.vec_id = s.c_id
              WHERE s.srk <= 20),
       r AS (SELECT q_id, c_id, qscore, cos,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY cos DESC, c_id) AS rank
             FROM rr)
       SELECT q_id, c_id, CAST(rank AS INT) AS rank,
         floor(cos * 10000 + 0.5) / 10000 AS cos_sim, qscore
       FROM r WHERE rank <= 5 ORDER BY q_id, rank"""
  }

  /** Scalable exact distinct twin: approx_count_distinct (HLL) next to
    * the exact count — the 100 TB posture for the reference's
    * `distinct().count()` sites. The HLL estimate itself is
    * engine-specific, so the query emits the exact count plus a boolean
    * asserting the estimate landed within 5% (2.5 sigma at rsd 0.02) of
    * it; the DuckDB oracle recomputes the exact count and pins the
    * boolean TRUE — a driver-checked band oracle instead of an
    * unverified invariant.
    */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem").agg(
      countDistinct(col("l_partkey")).as("exact_parts"),
      expr("""abs(approx_count_distinct(l_partkey, 0.02)
                  - count(DISTINCT l_partkey))
                <= count(DISTINCT l_partkey) * 0.05""")
        .as("approx_in_band"))

  private val approxDistinctSql =
    """SELECT count(DISTINCT l_partkey) AS exact_parts,
         TRUE AS approx_in_band
       FROM lineitem"""

  /** [EXT] Contrastive-pair mining — the training-data side of the
    * similarity stack: for each anchor, its best POSITIVE (top cosine at
    * or above the near-dup threshold) and its HARDEST NEGATIVE (top
    * cosine strictly below it — the confusable non-match that makes a
    * contrastive/triplet loss learn anything). One scored pass over the
    * broadcast anchor set, then a single window partitioned by
    * (anchor, is_positive) and a conditional aggregate — the two ranks
    * share one q_id-keyed shuffle, no self-join of the scored table.
    * `margin_bps` is an integer difference of the two quantized
    * cosines, so the pair's separation is hash-exact. At 100 TB the
    * anchor set is the batch being mined (bounded, broadcastable) and
    * the corpus side stays a map-only scan + one keyed exchange; with
    * an unbounded anchor set the scored pass swaps to the LSH-bucketed
    * candidate join ([[annLsh]]) unchanged downstream.
    */
  def contrastivePairs(spark: SparkSession, dir: String): DataFrame = {
    val e = corpus(spark, dir)
    val q = e.filter(pmod(col("vec_id"), lit(40)) === 0)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"))
    val c = e.select(col("vec_id").as("c_id"), col("emb").as("c_emb"),
      col("nrm").as("c_nrm"))
    // quantize FIRST, then classify and rank on the integer: Spark's
    // dot/norm arithmetic and DuckDB's list_cosine_similarity can
    // differ in the last ulps, so a raw-double threshold test
    // (cos >= 0.2) or a raw-double rank near-tie could flip pos/neg
    // selection between engines; on cos_bps both decisions are
    // hash-exact in both.
    val w = Window.partitionBy(col("q_id"), col("is_pos"))
      .orderBy(col("cos_bps").desc, col("c_id"))
    val best = c.join(broadcast(q), col("q_id") =!= col("c_id"), "inner")
      .withColumn("cos_bps",
        floor(expr(dotExpr) / (col("q_nrm") * col("c_nrm")) * 10000
          + lit(0.5)).cast("long"))
      .withColumn("is_pos", col("cos_bps") >= 2000)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") === 1)
    best.groupBy(col("q_id"))
      .agg(max(when(col("is_pos"), col("c_id"))).as("pos_id"),
        max(when(col("is_pos"), col("cos_bps"))).as("pos_bps"),
        max(when(!col("is_pos"), col("c_id"))).as("neg_id"),
        max(when(!col("is_pos"), col("cos_bps"))).as("neg_bps"))
      .filter(col("pos_id").isNotNull && col("neg_id").isNotNull)
      .select(col("q_id"), col("pos_id"), col("neg_id"),
        col("pos_bps"), col("neg_bps"),
        (col("pos_bps") - col("neg_bps")).as("margin_bps"))
      .orderBy(col("q_id"))
  }

  private val contrastivePairsSql =
    """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
                  FROM embeddings WHERE vec_id % 40 = 0),
       c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS ce
             FROM embeddings),
       p AS (SELECT q_id, c_id,
               CAST(floor(list_cosine_similarity(qe, ce) * 10000 + 0.5)
                 AS BIGINT) AS cos_bps
             FROM q JOIN c ON q_id <> c_id),
       r AS (SELECT q_id, c_id, cos_bps, cos_bps >= 2000 AS is_pos,
               row_number() OVER (PARTITION BY q_id, (cos_bps >= 2000)
                 ORDER BY cos_bps DESC, c_id) AS rank
             FROM p),
       b AS (SELECT q_id, c_id, is_pos, cos_bps
             FROM r WHERE rank = 1),
       g AS (SELECT q_id,
               max(CASE WHEN is_pos THEN c_id END) AS pos_id,
               max(CASE WHEN is_pos THEN cos_bps END) AS pos_bps,
               max(CASE WHEN NOT is_pos THEN c_id END) AS neg_id,
               max(CASE WHEN NOT is_pos THEN cos_bps END) AS neg_bps
             FROM b GROUP BY q_id)
       SELECT q_id, pos_id, neg_id, pos_bps, neg_bps,
         pos_bps - neg_bps AS margin_bps
       FROM g WHERE pos_id IS NOT NULL AND neg_id IS NOT NULL
       ORDER BY q_id"""

  /** [EXT] k-NN label classification — leave-one-out 5-NN majority vote
    * over the embedding corpus (the label-propagation / weak-labeling
    * primitive of a curation stack: score unlabeled or held-out docs by
    * their nearest labeled neighbors).
    *
    * Scale shape — this is the query that motivates
    * [[graft.functions.TopKStructs]]: the window-rank formulation
    * (`cosineTopK`) must SORT the full (query, candidate) scored set
    * within every map partition before WindowGroupLimit can prune it
    * to k; the bounded top-k aggregate streams the same rows in one
    * O(n·k) pass with k rows of state — no sort, no spill surface —
    * and partial-aggregates map-side so the shuffle still carries at
    * most k rows per query per map partition. The vote is then a tiny
    * |q|-row aggregate.
    *
    * Hash-exactness: cosine is quantized to integer bps BEFORE rank
    * and vote (the `contrastivePairs` discipline), and the oracle
    * replays the dot/norm as the same left-associated 64-term sums
    * `vec_dot` accumulates (the `embedQuantize` technique) — an ulp
    * flip at rank 5/6 would change the VOTE here, not just a row's
    * order, so the looser `list_cosine_similarity` oracle form is not
    * enough.
    */
  def knnClassify(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.TopKStructs.register(spark)
    val e = corpus(spark, dir)
    val q = e.filter(pmod(col("vec_id"), lit(50)) === 0)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val c = e.select(col("vec_id").as("c_id"), col("label").as("c_label"),
      col("emb").as("c_emb"), col("nrm").as("c_nrm"))
    knnVote(c.join(broadcast(q), col("q_id") =!= col("c_id"), "inner"))
  }

  /** The kNN tail [[knnClassify]] and [[knnAnn]] share over their
    * (query, candidate) pairs: bps-quantized cosine, the k=5
    * [[graft.functions.TopKStructs]] bound, then the majority vote.
    */
  private def knnVote(pairs: DataFrame): DataFrame = {
    // struct ordering = (bps desc, c_id asc) via (bps, -c_id): the
    // aggregate keeps the k LARGEST structs lexicographically
    val top = pairs
      .withColumn("cos_bps",
        floor(expr(dotExpr) / (col("q_nrm") * col("c_nrm")) * 10000
          + lit(0.5)).cast("long"))
      .groupBy(col("q_id"), col("q_label"))
      .agg(expr("topk_structs(struct(cos_bps, -c_id AS nid, c_label), 5)")
        .as("nn"))
    val votes = top
      .select(col("q_id"), col("q_label"),
        explode(col("nn.c_label")).as("c_label"))
      .groupBy(col("q_id"), col("q_label"), col("c_label"))
      .agg(count(lit(1)).as("cnt"))
    val wVote = Window.partitionBy(col("q_id"))
      .orderBy(col("cnt").desc, col("c_label"))
    votes.withColumn("vr", row_number().over(wVote))
      .filter(col("vr") === 1)
      .select(col("q_id"), col("q_label").as("true_label"),
        col("c_label").as("pred_label"),
        col("cnt").cast("int").as("n_votes"),
        when(col("c_label") === col("q_label"), 1).otherwise(0)
          .cast("int").as("correct"))
      .orderBy(col("q_id"))
  }

  private val knnClassifySql = {
    val sumSq = (1 to 64).map(i => s"emb[$i] * emb[$i]").mkString(" + ")
    val dotAB = (1 to 64).map(i => s"a.emb[$i] * b.emb[$i]").mkString(" + ")
    s"""WITH e AS (SELECT vec_id, label,
                   CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       nr AS (SELECT vec_id, label, emb, sqrt($sumSq) AS nrm FROM e),
       p AS (SELECT a.vec_id AS q_id, a.label AS q_label,
               b.vec_id AS c_id, b.label AS c_label,
               CAST(floor(($dotAB) / (a.nrm * b.nrm) * 10000 + 0.5)
                 AS BIGINT) AS cos_bps
             FROM nr a JOIN nr b ON a.vec_id <> b.vec_id
             WHERE a.vec_id % 50 = 0),
       $knnVoteSql"""
  }

  /** [[knnVote]]'s replay over a candidate CTE `p` (q_id, q_label,
    * c_id, c_label, cos_bps): top-5 by (cos_bps desc, c_id), then the
    * majority vote — shared by every kNN oracle.
    */
  private def knnVoteSql: String =
    """r AS (SELECT q_id, q_label, c_label,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY cos_bps DESC, c_id) AS rnk FROM p),
       v AS (SELECT q_id, q_label, c_label, count(*) AS cnt
             FROM r WHERE rnk <= 5 GROUP BY 1, 2, 3),
       w AS (SELECT q_id, q_label, c_label, cnt,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY cnt DESC, c_label) AS vr FROM v)
       SELECT q_id, q_label AS true_label, c_label AS pred_label,
         CAST(cnt AS INT) AS n_votes,
         CAST(CASE WHEN c_label = q_label THEN 1 ELSE 0 END AS INT)
           AS correct
       FROM w WHERE vr = 1 ORDER BY q_id"""

  /** [EXT] ANN-backed k-NN labeling — the UNBOUNDED-query-set twin of
    * [[knnClassify]]: same bps-quantized cosine, same k=5
    * [[graft.functions.TopKStructs]] bound, same majority vote — but
    * candidates come from the PERSISTED LSH serving index
    * ([[annIndexBuild]]'s artifact, probed like [[annIndexProbe]] but
    * at Hamming <= [[KnnProbeHamming]]) instead of a brute-force
    * corpus × query-set join. [[knnClassify]] is bounded by contract to a 2% query
    * sample because its candidate stage is corpus-sized per query;
    * this shape is what labels EVERY unlabeled document at 100 TB —
    * per-query cost is the probed-bucket fraction at this operator's
    * radius: sum of C(nbits, h) for h in 0..[[KnnProbeHamming]] masks
    * out of 2^nbits buckets (794/4096 ≈ 19% at 12 bits / radius 4 —
    * see the radius discussion on [[KnnProbeHamming]]; the tighter
    * (1+nbits+C(nbits,2))/2^nbits fraction belongs to the Hamming<=2
    * dedup/top-k probes), the index's `label` payload answers the vote
    * with no corpus join-back, and exact cosine re-ranks only within
    * candidates.
    *
    * Fully hash-oracled despite being approximate: the candidate set
    * is deterministic given the seeded planes (the [[annLsh]]
    * technique — DuckDB replays sign bits from the inlined matrix,
    * autoBits from count(*)), and the vote replays over exactly those
    * candidates. Label agreement vs the brute-force twin is pinned
    * >= 0.9 in BenchScaleRecallSpec — the recall contract that makes
    * "twin" meaningful rather than aspirational.
    */
  /** [[knnAnn]]'s probe radius — wider than the dedup/top-k probes'
    * Hamming<=2 because the failure modes differ: a missed near-dup
    * pair costs one surviving duplicate, a missed NEIGHBOR can flip a
    * 5-way VOTE. The value is set by the pinned >= 0.9 label-agreement
    * contract against the measured radius/agreement curve on the
    * fixture (DuckDB oracle replay at sf0.1, autoBits = 5):
    * radius 2 -> 0.575, 3 -> 0.800, 4 -> 0.975, 5 -> 1.0. The fixture
    * is ADVERSARIAL for hyperplane LSH — its true top-5 sit near
    * cos 0.5, i.e. per-bit flip probability θ/π ≈ 1/3, so at 5 bits
    * radius 4 probes 31/32 buckets and the shortlist is close to a
    * scan. That is a property of the corpus geometry, not the
    * operator: on a production embedding corpus whose same-label
    * neighbors sit at cos >= 0.8 (flip prob <= 0.2), the same 0.9+
    * vote fidelity arrives at radius 2-3, which at the 12-bit /
    * 100 TB end of [[autoBits]] probes 2-7% of buckets. The SHAPE is
    * the scale win (persisted index, partition-pruned probe, k-row
    * bounded vote aggregate); radius is the per-corpus recall dial.
    */
  val KnnProbeHamming = 4

  def knnAnn(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.TopKStructs.register(spark)
    val nBits = ensureAnnIndex(spark, dir)
    graft.functions.LshSignature.register(spark, nBits)
    val index = spark.read.parquet(annIndexPath(dir, nBits))
      .select(col("vec_id").as("c_id"), col("label").as("c_label"),
        col("emb").as("c_emb"), col("nrm").as("c_nrm"),
        col("sig").cast("int").as("sig"))
    // every non-zero mask with popcount <= KnnProbeHamming (the own
    // signature rides separately below)
    val flips = (1 until (1 << nBits))
      .filter(m => Integer.bitCount(m) <= KnnProbeHamming)
    val q = corpus(spark, dir)
      .filter(pmod(col("vec_id"), lit(50)) === 0)
      .withColumn("sig", expr("lsh_sig(emb)"))
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("emb").as("q_emb"), col("nrm").as("q_nrm"), col("sig"))
    // the annIndexProbe two-broadcast discipline, and it matters MORE
    // here: at KnnProbeHamming = 4 the 12-bit probe set is 794 masks,
    // so a single exploded broadcast would hold each query's ~550 B
    // embedding 794x; (q_id, sig) pairs explode instead, payload
    // attaches after the bucket join via a q_id broadcast join. Both
    // hints are size-GATED (gatedProbeBroadcast): this operator's whole
    // point is UNBOUNDED query batches, and |q|×794 probe rows past the
    // 64 MB estimate flip to a shuffle bucket-join instead of an
    // unconditional driver-side build of the broadcast relation.
    val probePairs = q.select(col("q_id"), explode(array(
      col("sig") +: flips.map(m => col("sig").bitwiseXOR(lit(m))): _*))
      .as("sig"))
    knnVote(index.join(gatedProbeBroadcast(spark, probePairs),
        Seq("sig"), "inner")
      .filter(col("q_id") =!= col("c_id"))
      .join(gatedProbeBroadcast(spark, q.drop("sig")), Seq("q_id")))
  }

  /** [[knnClassifySql]]'s vote over [[annLshSql]]'s candidate
    * machinery at Hamming <= [[KnnProbeHamming]]: the LSH probe
    * (inlined planes, autoBits from count(*)) supplies candidates,
    * the bps-quantized rank + vote replays unchanged — one oracle,
    * both stages exact.
    */
  private def knnAnnSql: String =
    lshKnnSql("q.vec_id % 50 = 0 AND q.vec_id <> t.vec_id")

  /** [[knnAnnSql]] with the incremental-ingest split: queries are the
    * ARRIVING delta (`vec_id % 5 == 4`, the s14/s15 convention),
    * candidates only the standing base — the oracle for
    * `s20_stream_knn_probe` (streaming/EventStream), which runs this
    * exact candidate/rank/vote shape with the delta as a stream and
    * the base index broadcast. Same planes, same autoBits from
    * count(*), same Hamming <= [[KnnProbeHamming]] probe.
    */
  private[graft] def streamKnnProbeSql: String =
    lshKnnSql("q.vec_id % 5 = 4 AND t.vec_id % 5 <> 4")

  /** LSH-probed kNN oracle: candidates are the (q, t) pairs passing
    * `pairPred` within Hamming <= [[KnnProbeHamming]], voted by
    * [[knnVoteSql]].
    */
  private def lshKnnSql(pairPred: String): String = {
    val sumSq = (1 to 64).map(i => s"emb[$i] * emb[$i]").mkString(" + ")
    val dotQT = (1 to 64).map(i => s"q.emb[$i] * t.emb[$i]").mkString(" + ")
    s"""WITH e AS (SELECT vec_id, label,
                   CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       $nbitsSql,
       s AS (SELECT vec_id, label, emb, sqrt($sumSq) AS nrm,
           $sigBitsSql
         FROM e),
       p AS (SELECT q.vec_id AS q_id, q.label AS q_label,
               t.vec_id AS c_id, t.label AS c_label,
               CAST(floor(($dotQT) / (q.nrm * t.nrm) * 10000 + 0.5)
                 AS BIGINT) AS cos_bps
             FROM s q, s t, nb
             WHERE $pairPred
               AND ${hammingSql("q", "t")} <= $KnnProbeHamming),
       $knnVoteSql"""
  }

  /** [EXT] SEMANTIC decontamination — the embedding layer of the
    * contamination family (`x_contamination` catches n-gram overlap,
    * `x_bloom_contamination` scales the exact set; this catches
    * PARAPHRASED eval leakage that shares no 3-gram): candidate docs
    * whose best cosine against the benchmark slice's embeddings
    * crosses the near-topic threshold, with the offending benchmark
    * doc attached for audit.
    *
    * Scale shape — identical posture to the n-gram op: the benchmark
    * side is small by definition (eval suites, not corpora) and
    * BROADCASTS; the corpus side is one map-only scored pass, then
    * `topk_structs(k=1)` keeps each candidate's best match with one
    * bounded map-side-combined aggregate (no window, no sort). The
    * corpus never shuffles scored pairs — only (candidate, best) rows.
    * Hash-exactness: bps quantization before threshold and argmax, and
    * the oracle replays dot/norm as vec_dot's left-associated sums
    * (the `knnClassify` discipline — the argmax pick must not flip on
    * an ulp).
    */
  def semanticContamination(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.TopKStructs.register(spark)
    val e = corpus(spark, dir)
    val bench = e.filter(pmod(col("vec_id"), lit(37)) === 0)
      .select(col("vec_id").as("bench_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"))
    val cand = e.filter(pmod(col("vec_id"), lit(37)) =!= 0)
      .select(col("vec_id").as("doc_id"), col("emb").as("c_emb"),
        col("nrm").as("c_nrm"))
    cand.join(broadcast(bench))
      .withColumn("cos_bps",
        floor(expr("vec_dot(q_emb, c_emb)") / (col("q_nrm") * col("c_nrm"))
          * 10000 + lit(0.5)).cast("long"))
      .groupBy(col("doc_id"))
      .agg(expr("topk_structs(struct(cos_bps, -bench_id AS nb), 1)")
        .as("best"))
      .select(col("doc_id"),
        col("best").getItem(0).getField("cos_bps").as("cos_bps"),
        (-col("best").getItem(0).getField("nb")).as("bench_id"))
      .filter(col("cos_bps") >= 2000)
      .select(col("doc_id"), col("bench_id"), col("cos_bps"))
      .orderBy(col("doc_id"))
  }

  private val semanticContaminationSql = {
    val sumSq = (1 to 64).map(i => s"emb[$i] * emb[$i]").mkString(" + ")
    val dotAB = (1 to 64).map(i => s"a.emb[$i] * b.emb[$i]").mkString(" + ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                  FROM embeddings),
       nr AS (SELECT vec_id, emb, sqrt($sumSq) AS nrm FROM e),
       p AS (SELECT a.vec_id AS doc_id, b.vec_id AS bench_id,
               CAST(floor(($dotAB) / (a.nrm * b.nrm) * 10000 + 0.5)
                 AS BIGINT) AS cos_bps
             FROM nr a JOIN nr b
               ON a.vec_id % 37 <> 0 AND b.vec_id % 37 = 0),
       r AS (SELECT doc_id, bench_id, cos_bps,
               row_number() OVER (PARTITION BY doc_id
                 ORDER BY cos_bps DESC, bench_id) AS rk FROM p)
       SELECT doc_id, bench_id, cos_bps
       FROM r WHERE rk = 1 AND cos_bps >= 2000 ORDER BY doc_id"""
  }

  /** [[topicCard]]'s bucket-count cap: topics scale with the corpus
    * through the same [[autoBits]] recurrence as the ANN index (8
    * topics at 500 docs, 64 at 4k+), then CAP at 2^6 = 64 — a card is
    * a human-readable summary, and past ~64 rows of (size, top terms)
    * it stops being one; more granularity is [[annIndexBuild]]'s job,
    * not the card's. The cap also keeps the oracle's 12 inlined plane
    * rows comfortably sufficient.
    */
  val CardMaxBits = 6

  /** [EXT] Topic card — the semantic slice of the corpus-card family
    * (`prof3_dataset_card` profiles by (lang, source); this profiles by
    * CONTENT): the corpus partitioned into hyperplane-LSH semantic
    * buckets ([[autoBits]]-scaled, capped by [[CardMaxBits]] — 16 at
    * this fixture's sf0.01, 32 at sf0.1), each described by its size
    * and top-3 characteristic terms. The train-free twin of a KMeans
    * topic model — and unlike one, fully hash-oracled: the signature
    * is the same deterministic codegen `lsh_sig` the ANN index uses
    * (DuckDB replays the sign bits from the inlined plane matrix and
    * the bit count from count(*), the `annLsh` technique), so bucket
    * assignment is bit-exact at every sf.
    *
    * Scale shape: signature is map-side codegen on the embedding scan;
    * the doc join is one doc_id equi-join (text moves once); term
    * counts are a map-combined (bucket, term) aggregate
    * (vocabulary-sized, never corpus-sized) and the top-3 rank filter
    * map-side-prunes via WindowGroupLimit before the final tiny join.
    */
  def topicCard(spark: SparkSession, dir: String): DataFrame = {
    val nBits = autoBits(corpus(spark, dir).count(), maxBits = CardMaxBits)
    graft.functions.LshSignature.register(spark, nBits, "lsh_sig_card")
    val buckets = corpus(spark, dir)
      .select(col("vec_id").as("doc_id"),
        expr("lsh_sig_card(emb)").as("bucket"))
    val docs = tableWide(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val terms = docs.join(buckets, Seq("doc_id"))
      .select(col("bucket"),
        explode(split(lower(col("text")), " ")).as("term"))
      .filter(length(col("term")) >= 4)
      .groupBy(col("bucket"), col("term")).agg(count(lit(1)).as("n"))
    val sizes = buckets.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("bucket"))
      .orderBy(col("n").desc, col("term"))
    terms.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .join(sizes, Seq("bucket"))
      .select(col("bucket"), col("n_docs"), col("rank"), col("term"),
        col("n"))
      .orderBy(col("bucket"), col("rank"))
  }

  private def topicCardSql: String =
    s"""WITH e AS (SELECT vec_id AS doc_id,
                   CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       ${nbitsSqlRange(3, CardMaxBits)},
       s AS (SELECT doc_id,
           $sigBitsSql
         FROM e),
       g AS (SELECT doc_id, CAST($sigPackSql AS INTEGER) AS bucket
             FROM s, nb),
       t AS (SELECT g.bucket,
               unnest(string_split(lower(d.text), ' ')) AS term
             FROM documents d JOIN g ON d.doc_id = g.doc_id),
       c AS (SELECT bucket, term, count(*) AS n FROM t
             WHERE length(term) >= 4 GROUP BY bucket, term),
       sz AS (SELECT bucket, count(*) AS n_docs FROM g GROUP BY bucket),
       r AS (SELECT bucket, term, n,
               row_number() OVER (PARTITION BY bucket
                 ORDER BY n DESC, term) AS rank
             FROM c)
       SELECT r.bucket, sz.n_docs, CAST(r.rank AS INT) AS rank,
         r.term, CAST(r.n AS BIGINT) AS n
       FROM r JOIN sz ON r.bucket = sz.bucket
       WHERE r.rank <= 3 ORDER BY r.bucket, r.rank"""

  val qs: Seq[Q] = Seq(
    Q("x_cosine_topk", cosineTopK, Some(cosineTopKSql), bench = true),
    Q("x_knn_classify", knnClassify, Some(knnClassifySql), bench = true,
      confs = Q.KBoundedAggConfs),
    Q("x_semantic_contamination", semanticContamination,
      Some(semanticContaminationSql),
      confs = Q.KBoundedAggConfs),
    Q("x_topic_card", topicCard, Some(topicCardSql)),
    Q("x_contrastive_pairs", contrastivePairs, Some(contrastivePairsSql)),
    Q("x_cosine_neardup", cosineNearDup, Some(cosineNearDupSql)),
    Q("x_ann_ivf", annIvfVerified, Some(annIvfVerifiedSql), bench = true,
      benchFn = Some(annIvf)),
    Q("x_ann_lsh", annLsh(_, _), Some(annLshSql)),
    // build BEFORE probe in registry order: the full suite always
    // probes a freshly-overwritten artifact
    Q("x_ann_index_build", annIndexBuild, Some(annIndexBuildSql)),
    Q("x_ann_index_probe", annIndexProbe, Some(annLshSql), bench = true),
    // serve-many: 5 disjoint batches against the standing index; the
    // benchFn materializes them sequentially (5 separate probe plans)
    Q("x_ann_probe_many", annProbeMany, Some(annProbeManySql),
      bench = true, benchFn = Some(annProbeManyBench)),
    // after build in registry order: labels EVERY query via the fresh
    // persisted index (the unbounded-set twin of x_knn_classify)
    Q("x_knn_ann", knnAnn, Some(knnAnnSql), bench = true,
      confs = Q.KBoundedAggConfs),
    Q("x_ann_index_update", annIndexUpdate, Some(annIndexUpdateSql)),
    Q("x_ann_lsh_rewrite", annLshRewrite, Some(annLshSql)),
    Q("x_lsh_neardup", lshNearDup, Some(lshNearDupSql)),
    Q("x_embed_quantize", embedQuantize, Some(embedQuantizeSql)),
    Q("x_approx_distinct", approxDistinct, Some(approxDistinctSql)))
}
