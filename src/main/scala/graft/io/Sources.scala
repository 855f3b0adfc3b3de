package graft.io

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.schema.Schemas

/** Sources & sinks (SURVEY.md §2.1, S1-S10).
  *
  * The reference reads header CSV from Azure Blob (`pre_analysis.py:36-38`),
  * re-reads one table with multiLine+escape (`pre_analysis.py:52-59`), picks
  * the newest `part-*` file by modification time (`transform.py:36-51`),
  * writes CSV back (`pre_process.py:304-306`) and pushes the final table
  * over JDBC (`transform.py:260`). Our engine exposes each of those as a
  * named, schema-typed operation over local paths; parquet is the primary
  * format (testdata), CSV/JDBC are exercised as round-trips.
  */
object Sources {

  val tableNames: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  /** Opt-in per-process table cache. The reference re-reads the same CSVs
    * for ~80 actions with no cache (`pre_analysis.py` passim) — an
    * anti-pattern at any scale. [[graft.Bench]] and [[graft.Verify]]
    * enable it via [[enableTableCache]] to amortize scans across the
    * query suite, mirroring what a warm cluster cache / DataFrame reuse
    * would give; the raw tier outlives every query's own cached frames
    * (see [[graft.Overlap]]). Off by default so library users and plan
    * tests see the real FileSourceScan (pushdown assertions).
    */
  @volatile private var cacheFlag: Option[Boolean] = None
  private def cacheEnabled: Boolean = cacheFlag.getOrElse(false)

  /** Turn the raw-table cache on for this process. */
  def enableTableCache(): Unit = cacheFlag = Some(true)

  /** Test hook: flip the raw-table cache and return the PREVIOUS flag
    * so the caller can restore it. The flag is process-global and the
    * plan-shape suites assert UNCACHED scans (pushdown reaches the
    * FileSourceScan), so any test that turns the cache on must restore
    * in a finally.
    */
  private[graft] def setTableCacheForTest(
      v: Option[Boolean]): Option[Boolean] = {
    val prev = cacheFlag
    cacheFlag = v
    prev
  }

  private val cached = new ConcurrentHashMap[String, DataFrame]()

  /** Unpersist and forget the raw-table tier ([[graft.Memos.clear]]). */
  private[graft] def uncacheTables(): Unit = {
    cached.values.forEach(df => graft.Memos.free(df))
    cached.clear()
  }

  /** S1 primary scan: parquet read of a testdata table with the schema
    * given up front. Spark infers a parquet schema with a Spark job (one
    * task reading the footer, even for a single file), so the inferred
    * schema is memoized ([[tableSchema]]) and each later read of the
    * same file skips that job.
    *
    * `events.ts` is parquet TIMESTAMP(NANOS), which Spark reads only as a
    * raw long (`spark.sql.legacy.parquet.nanosAsLong=true`, set by
    * [[graft.Sessions]]/Verify/Bench); we truncate to microseconds —
    * exactly what DuckDB does when loading ns parquet into its µs-native
    * TIMESTAMP — so both sides see identical values.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    def load() = {
      val raw = spark.read.schema(tableSchema(spark, dir, name))
        .parquet(s"$dir/$name.parquet")
      raw.schema.find(f => f.name == "ts" &&
          f.dataType == org.apache.spark.sql.types.LongType) match {
        case Some(_) => raw.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
        case None => raw
      }
    }
    if (cacheEnabled)
      // SESSION-scoped on purpose (see Sessions.sessionKey): a cached
      // frame pins planning to its birth session, and the raw tier
      // feeds plans that per-session Catalyst flags must see — the
      // AnnIndexRewrite/NgramChainRewrite child sessions would never
      // fire over an app-shared frame born in the parent (and a frame
      // born in a flag-enabled child would leak the rewrite out). The
      // session key also keeps a second session from receiving frames
      // of a stopped sibling context.
      cached.computeIfAbsent(
        s"${graft.Sessions.sessionKey(spark, dir)}/$name",
        _ => load().cache())
    else load()
  }

  /** [[table]] for COMPUTE-BOUND consumers (text shingling, vector
    * math): guarantees the scan feeds at least `defaultParallelism`
    * partitions — when the table is big enough for that to pay.
    * Parquet splits at row-group granularity, so a table written as one
    * row group scans as ONE partition and every map-side expression
    * above it runs serially no matter how many cores exist. But the
    * re-spread is itself a shuffle round-trip with fixed latency: below
    * [[WidenMinBytes]] on disk, the serial scan-stage work finishes
    * faster than the exchange costs (measured: x_quality_score at
    * sf0.1/32 cores is ~40% faster WITHOUT the re-spread), so small
    * tables pass through untouched. Both inputs come from the file
    * index — no eager RDD lineage per call. Scan-then-aggregate
    * consumers should keep using [[table]]: for them the same shuffle
    * would defeat map-side partial aggregation and move MORE bytes, not
    * fewer. At production scale a large table has thousands of row
    * groups, estimated partitions >= cores, and the guard never fires;
    * filters and column pruning still reach the scan below the
    * exchange.
    */
  def tableWide(spark: SparkSession, dir: String, name: String): DataFrame = {
    val t = table(spark, dir, name)
    val cores = spark.sparkContext.defaultParallelism
    val bytes = tableBytes(spark, dir, name)
    // scan parallelism upper bound from the file index: FileSourceScan
    // packs splits of at most maxPartitionBytes
    val maxSplit = spark.conf.get("spark.sql.files.maxPartitionBytes",
      (128L << 20).toString).toLong
    val estParts = math.max(1L, (bytes + maxSplit - 1) / maxSplit)
    if (bytes >= WidenMinBytes && estParts < cores) t.repartition(cores) else t
  }

  /** Below this on-disk size the [[tableWide]] re-spread is a net loss
    * (exchange latency > serial scan-stage compute).
    */
  val WidenMinBytes: Long = 64L << 20

  /** Drop every per-process cache layer for one table so the next
    * [[table]] call re-reads the files as they are NOW: the raw memo
    * entry (unpersisted), the size and schema memos, and Spark's own
    * file-index / cache entries for the path. Used by consumers that
    * detect an in-place regeneration of their input (e.g. the ANN
    * index freshness check) — rebuilding a derived artifact from a
    * stale cached scan while stamping it with the new files'
    * fingerprint would mark wrong data permanently fresh.
    */
  private[graft] def evictTable(spark: SparkSession, dir: String,
      name: String): Unit = {
    // same sessionKey derivation as [[table]]: eviction must target the
    // entry the CALLING session would read — detectors run in the same
    // session whose view they invalidate
    val key = s"${graft.Sessions.sessionKey(spark, dir)}/$name"
    Option(cached.remove(key)).foreach(_.unpersist(blocking = false))
    sizeMemo.remove(s"$dir/$name")
    schemaMemo.remove(key)
    scala.util.Try(spark.catalog.refreshByPath(s"$dir/$name.parquet"))
    ()
  }

  /** A value computed at most once, on first read; concurrent first
    * readers wait for it. A failed compute is retried by the next read.
    */
  private final class Once[T](compute: => T) { lazy val value: T = compute }

  private type Stamped[T] = ConcurrentHashMap[String, ((Long, Long), Once[T])]

  /** `memo(key)`, stamped with the status — modification time and
    * length — of the file `p` it was computed from, so a file rewritten
    * in place is computed again. One `getFileStatus` per call.
    * Single-flight: readers racing on one key and stamp share ONE
    * compute (three branches of a run opening the same fresh table
    * start one schema-inference job, not three); the map is locked only
    * to swap the entry, so the compute never blocks other keys.
    */
  private def stamped[T](memo: Stamped[T], spark: SparkSession, p: Path,
      key: String)(compute: => T): T = {
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p)
    val stamp = (st.getModificationTime, st.getLen)
    memo.compute(key, (_, old) =>
      if (old != null && old._1 == stamp) old else (stamp, new Once(compute))
    )._2.value
  }

  private val sizeMemo: Stamped[Long] = new ConcurrentHashMap()

  /** Total on-disk bytes of a table's files, memoized per path ([[stamped]]). */
  private[graft] def tableBytes(spark: SparkSession, dir: String,
      name: String): Long = {
    val p = new Path(s"$dir/$name.parquet")
    stamped(sizeMemo, spark, p, s"$dir/$name")(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength)
  }

  private val schemaMemo: Stamped[StructType] = new ConcurrentHashMap()

  /** The schema Spark infers for a table's parquet, memoized per
    * session (the inference reads the session's timestamp confs, the
    * same key as the raw tier) and path; no Spark job on a hit.
    */
  private def tableSchema(spark: SparkSession, dir: String,
      name: String): StructType = {
    val p = new Path(s"$dir/$name.parquet")
    stamped(schemaMemo, spark, p,
      s"${graft.Sessions.sessionKey(spark, dir)}/$name")(
      spark.read.parquet(p.toString).schema)
  }

  /** S1/S5: CSV round-trip — write a DataFrame as header CSV (overwrite,
    * like `pre_process.py:304-306`), read it back with an explicit schema
    * (the engine's typed twin of the reference's all-string read).
    */
  def csvRoundTrip(spark: SparkSession, df: DataFrame, path: String,
      schema: StructType): DataFrame = {
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
    spark.read.schema(schema).option("header", "true").csv(path)
  }

  /** S2: CSV with embedded newlines in quoted fields
    * (`pre_analysis.py:52-59`: `multiline=True, escape='"'`).
    */
  def csvMultilineRoundTrip(spark: SparkSession, df: DataFrame, path: String,
      schema: StructType): DataFrame = {
    df.write.mode(SaveMode.Overwrite)
      .option("header", "true").option("quoteAll", "true")
      .option("escape", "\"").csv(path)
    spark.read.schema(schema)
      .option("header", "true").option("multiLine", "true")
      .option("escape", "\"").csv(path)
  }

  /** S3/S4: latest-partition scan — list a directory, pick the file with
    * the max modification time, read only it (`transform.py:36-51`).
    * At scale, prefer reading the whole directory (Spark-native) or a
    * transactional table format; this op reproduces the reference's
    * snapshot-picking contract.
    */
  def latestPartition(spark: SparkSession, dir: String,
      schema: StructType): DataFrame = {
    val fs = FileSystem.get(new java.net.URI(dir),
      spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(new Path(dir))
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
    require(parts.nonEmpty, s"latestPartition: no part-* files under $dir")
    val newest = parts.maxBy(_.getModificationTime)
    spark.read.schema(schema).option("header", "true")
      .csv(newest.getPath.toString)
  }

  /** S6: JDBC sink + read-back (`transform.py:260` writes the final table
    * to Azure SQL). Embedded Derby stands in for the external RDBMS; the
    * Spark-side API (`df.write.jdbc` overwrite / `spark.read.jdbc`) is
    * identical.
    *
    * Writer shape is sized for the TARGET, not the cluster: an EMBEDDED
    * database is single-instance — its internal lock serializes every
    * writer, so one connection per upstream partition buys contention,
    * not throughput (measured on a 150k-row sink, 32 cores: 32
    * connections x the 1000-row default batch = 4.45 s; ONE connection
    * at 10k-row batches = 1.66 s). The writer therefore coalesces to
    * [[JdbcWriterPartitions]] and batches [[JdbcBatchSize]] rows per
    * executeBatch. Against a networked server farm (the reference's
    * Azure SQL), raise the partition knob — parallel connections then
    * scale until the SERVER serializes — and keep the batch size: tiny
    * default batches are round-trip-bound on any target.
    */
  val JdbcWriterPartitions: Int = 1
  val JdbcBatchSize: Int = 10000

  /** `writerPartitions` (round-15 ADVICE): the single-writer coalesce
    * is the right shape for the embedded-Derby stand-in ONLY — it is a
    * per-call parameter, not a global, so a caller targeting a
    * networked server (the reference's Azure SQL) raises it locally
    * and nothing else inherits the embedded tuning. The coalesce
    * caveat stands for any value: coalesce(n) also collapses an
    * UNCACHED upstream to n tasks, so callers with an expensive
    * uncached frame must materialize first (Pipeline hands a frame
    * already cached + materialized by its parquet write; s6's frame is
    * a 25-row dim scan). coalesce, not repartition: the narrow fan-in
    * adds NO exchange — measured, an AQE-planned repartition(1) here
    * was not even stage-deterministic at tiny inputs ([37,36,37]
    * across samples, breaking the scaling artifact's flat-stage
    * contract).
    */
  def jdbcRoundTrip(spark: SparkSession, df: DataFrame, dbDir: String,
      tableName: String,
      writerPartitions: Int = JdbcWriterPartitions): DataFrame = {
    require(writerPartitions >= 1,
      s"jdbcRoundTrip needs >= 1 writer partition, got $writerPartitions")
    // Derby writes derby.log into derby.system.home, which defaults to
    // the process CWD — i.e. the repo root for every Bench/Verify run.
    // Pin it under target/ BEFORE the engine first loads (the property
    // is read once at boot); no-op if the caller already set it.
    if (System.getProperty("derby.system.home") == null)
      System.setProperty("derby.system.home", tmpDir("derby_home"))
    val url = s"jdbc:derby:$dbDir;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    props.setProperty("batchsize", JdbcBatchSize.toString)
    df.coalesce(writerPartitions)
      .write.mode(SaveMode.Overwrite).jdbc(url, tableName, props)
    spark.read.jdbc(url, tableName, props)
  }

  /** [EXT] JSONL round-trip — newline-delimited JSON is the interchange
    * format of LLM training-data pipelines (one record per line). Write
    * with the JSON sink, read back with the schema'd JSON source:
    * proves string escaping (quotes, backslashes, control chars)
    * survives both directions. The schema'd read skips inference (no
    * extra corpus pass) and is what keeps the source splittable and
    * type-stable at 100 TB.
    */
  def jsonlRoundTrip(spark: SparkSession, df: DataFrame, path: String,
      schema: StructType): DataFrame = {
    df.write.mode(SaveMode.Overwrite).json(path)
    spark.read.schema(schema).json(path)
  }

  /** [EXT] Small-file compaction — THE operational fix at 100 TB: a
    * partition landed as thousands of KB-scale files (one per micro-batch
    * / reducer) makes every downstream scan pay per-file open cost and
    * starves split planning. Sizes the output from the INPUT LISTING
    * (ceil(total bytes / target)), so the rewrite is one
    * read-repartition-write with round-robin balance — no driver-side
    * data, only the file status list (one RPC per file, the same listing
    * any scan performs).
    */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      targetBytes: Long): DataFrame = {
    // derive the FS from the PATH's scheme (as latestPartition does) —
    // FileSystem.get(conf) resolves the default filesystem, which would
    // silently list nothing for an s3a://... input and collapse nFiles
    // to 1
    val in = new org.apache.hadoop.fs.Path(inPath)
    val fs = in.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.listStatus(in)
      .filter(_.getPath.getName.startsWith("part-"))
      .map(_.getLen).sum
    require(totalBytes > 0, s"compact: no part-* files under $inPath")
    val nFiles = math.max(1L,
      (totalBytes + targetBytes - 1) / targetBytes).toInt
    spark.read.parquet(inPath)
      .repartition(nFiles)
      .write.mode(SaveMode.Overwrite).parquet(outPath)
    spark.read.parquet(outPath)
  }

  /** Per-dir key for sink paths, checkpoint dirs, and memory-sink
    * table/query names: the dir path sanitized to [A-Za-z0-9_], plus
    * an 8-hex-char md5 of the RAW string. The sanitized prefix keeps
    * keys readable; the digest makes them collision-free for
    * arbitrary dirs — sanitization alone maps e.g. `/x/a.b` and
    * `/x/a_b` to one key, and two colliding dirs would share one
    * sink/checkpoint path, the second query's fresh-sink rmTree
    * deleting the first's still-live results. Always a valid
    * identifier fragment (`math.abs(dir.hashCode)`, which the
    * sanitized form replaced, was not: abs(Int.MinValue) is still
    * negative, invalid in a memory-sink table name).
    */
  def dirKey(dir: String): String = {
    val sanitized = dir.replaceAll("[^A-Za-z0-9]+", "_")
      .stripPrefix("_").stripSuffix("_")
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = md5.take(4).map(b => f"${b & 0xff}%02x").mkString
    s"${sanitized}_$hex"
  }

  /** The one scratch root: every scratch dir, the session warehouse
    * and the default curate output live under it (never under the
    * read-only test data). It is `target/tmp` under the JVM's working
    * directory: the repository root under sbt.
    */
  val TmpRoot: String = new java.io.File("target/tmp").getAbsolutePath

  /** The session warehouse (`spark.sql.warehouse.dir`). */
  val WarehouseDir = s"$TmpRoot/warehouse"

  /** Scratch dir `sub` under [[TmpRoot]], created. */
  def tmpDir(sub: String): String = {
    val d = s"$TmpRoot/$sub"
    new java.io.File(d).mkdirs()
    d
  }

  /** Recursive delete of a scratch/sink dir — the one shared helper
    * for every fresh-artifact-per-run site (streaming checkpoints,
    * index rebuilds), so a filesystem-semantics fix lands once.
    */
  def rmTree(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(path))
  }

  def schemaOf(name: String): StructType = Schemas.all(name)
}
