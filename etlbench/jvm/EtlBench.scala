package etlbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.{Memos, SparkEntry}

/** Load generator for one benchmark run: one client, closed loop, calling
  * the program's public entry points (`Pipeline.run`, `Curate.run`, and a
  * registry query's `fn`/`benchFn`). Everything it learns goes into one
  * JSON file for `etlbench/run.py`; it prints nothing a caller parses.
  *
  * Usage: EtlBench <spec.json>  (keys: workload, seconds, trace, seed,
  * cores, inputs, queries, out_root, result)
  */
object EtlBench {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val spec = json.readValue(new java.io.File(args(0)), classOf[Map[String, Any]])
    val workload = spec("workload").toString
    val seconds = spec("seconds").toString.toDouble
    val traced = spec("trace").toString.toInt == 1
    val seed = spec("seed").toString.toLong
    def strings(v: Any): Seq[String] = v match {
      case j: java.util.List[_] => j.asScala.map(_.toString).toSeq
      case s: Iterable[_] => s.map(_.toString).toSeq
    }
    val inputs = strings(spec("inputs"))
    val queries = strings(spec.getOrElse("queries", Nil))
    val outRoot = spec("out_root").toString
    val launched = ProcessHandle.current().info().startInstant().get().toEpochMilli

    if (workload == "catalog_mix") graft.io.Sources.enableTableCache()
    val spark = graft.Sessions.local(spec("cores").toString, s"etlbench-$workload")
    val w: Workload = workload match {
      case "etl_pipeline" => new Mains(spark, inputs, outRoot, curate = false)
      case "llm_curate" => new Mains(spark, inputs, outRoot, curate = true)
      case "catalog_mix" => new Catalog(spark, inputs.head, queries, outRoot, seed)
    }
    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    val warm = w.warmUp()
    val setupS = (System.currentTimeMillis() - launched) / 1e3
    ops += warm
    ops ++= w.untimedRest()

    def window(phase: String): (Long, Long) = {
      val t0 = System.currentTimeMillis()
      while ((System.currentTimeMillis() - t0) / 1e3 < seconds && w.hasNext)
        ops ++= w.nextBatch().map(_ + ("phase" -> phase))
      (t0, System.currentTimeMillis())
    }
    val untraced = window("untraced")
    val tracedWin = if (traced) {
      Recorder.attach(spark)
      w.probes = true
      Some(window("traced"))
    } else None
    val peakRssMb = vmHwmMb()
    val checks = w.afterWindow()
    val result = Map(
      "setup_s" -> setupS,
      "ops" -> ops.toSeq,
      "windows" -> (Map("untraced" -> Seq(untraced._1, untraced._2)) ++
        tracedWin.map(t => "traced" -> Seq(t._1, t._2))),
      "peak_rss_mb" -> peakRssMb,
      "checks" -> checks,
      "cores" -> spark.sparkContext.defaultParallelism)
    spark.stop() // drains the listener bus, so the recorder holds every event
    val full = if (traced) result + ("trace" -> Recorder.dump()) else result
    Files.write(Paths.get(spec("result").toString),
      json.writeValueAsString(full).getBytes(StandardCharsets.UTF_8))
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)

  /** One timed call plus the per-op counters the trace run wants. */
  private[etlbench] def timed(name: String, input: String, probes: Boolean,
      clear: Boolean)(body: => Map[String, Any]): Map[String, Any] = {
    val spark = SparkSession.active
    val before = if (probes) Probe.take(spark) else Probe.empty
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val (ok, fields) =
      try (true, body)
      catch { case e: Throwable =>
        System.err.println(s"[etlbench] $name failed: $e")
        (false, Map[String, Any]("error" -> e.toString))
      }
    val wall = (System.nanoTime() - n0) / 1e9
    val t1 = System.currentTimeMillis()
    if (clear) Memos.clearDerived()
    val delta = if (probes) Probe.take(spark).minus(before) else Map.empty
    Map("name" -> name, "input" -> input, "t0" -> t0, "t1" -> t1,
      "wall_s" -> wall, "ok" -> ok) ++ fields ++ delta
  }
}

/** Counters read around each op on the traced run only. */
private[etlbench] final case class Probe(values: Map[String, Double]) {
  def minus(o: Probe): Map[String, Any] =
    values.map { case (k, v) => k -> (v - o.values.getOrElse(k, 0.0)) }
}

private[etlbench] object Probe {
  val empty = Probe(Map.empty)
  private val effective =
    """^\s*(\S*graft\.plans\.\S+)\s+\S+\s*/\s*\S+\s+(\d+)\s*/\s*(\d+)""".r.unanchored

  def take(spark: SparkSession): Probe = {
    val sc = spark.sparkContext
    val rules = org.apache.spark.sql.catalyst.rules.RuleExecutor.getCurrentMetrics()
    val plansEff = org.apache.spark.sql.catalyst.rules.RuleExecutor.dumpTimeSpent()
      .split("\n").collect { case effective(_, eff, _) => eff.toDouble }.sum
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.toDouble).sum
    Probe(Map(
      "persistent_rdds" -> sc.getPersistentRDDs.size.toDouble,
      "storage_mb" -> sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0,
      "threads" -> ManagementFactory.getThreadMXBean.getThreadCount.toDouble,
      "fits" -> graft.Bench.fitCountSnapshot().map(_._2.toDouble).sum,
      "rule_ns" -> rules.time.toDouble,
      "plans_effective_runs" -> plansEff,
      "gc_ms" -> gcMs))
  }
}

private[etlbench] abstract class Workload {
  @volatile var probes = false
  def warmUp(): Map[String, Any]
  def untimedRest(): Seq[Map[String, Any]] = Nil
  def hasNext: Boolean
  def nextBatch(): Seq[Map[String, Any]]
  def afterWindow(): Seq[String]
}

/** `Pipeline.run` / `Curate.run`, each op on an input dir no earlier op
  * of this process has read (the model memos key on the dir).
  */
private[etlbench] final class Mains(spark: SparkSession, inputs: Seq[String],
    outRoot: String, curate: Boolean) extends Workload {
  private var next = 0
  private val done = mutable.ArrayBuffer[(String, String, Map[String, Any])]()

  private def op(kind: String): Map[String, Any] = {
    val in = inputs(next)
    val out = s"$outRoot/op$next"
    next += 1
    val m = EtlBench.timed(if (curate) "Curate.run" else "Pipeline.run", in, probes,
        clear = false) {
      if (curate) {
        val r = graft.Curate.run(spark, in, out)
        Map("input_docs" -> r.inputDocs, "curated_docs" -> r.curatedDocs,
          "train_docs" -> r.trainDocs, "test_docs" -> r.testDocs,
          "shards" -> r.shards, "tokens" -> r.totalTokens,
          "estimates" -> r.estimates.map { case (s, p, a) => Seq(s, p, a) })
      } else {
        val r = graft.Pipeline.run(spark, in, out)
        Map("completeness" -> r.completeness, "cleaned" -> r.cleaned,
          "analysis" -> r.analysis)
      }
    } + ("kind" -> kind) + ("out" -> out)
    done += ((in, out, m))
    m
  }

  def warmUp(): Map[String, Any] = op("warm")
  def hasNext: Boolean = next < inputs.length
  def nextBatch(): Seq[Map[String, Any]] = Seq(op("timed"))

  /** Read every sink back, the Derby table included. */
  def afterWindow(): Seq[String] = {
    val bad = mutable.ArrayBuffer[String]()
    def rows(p: String): Long = spark.read.parquet(p).count()
    done.foreach { case (in, out, m) =>
      if (m("ok") == true) try {
        if (curate) {
          val corpus = rows(s"$out/corpus")
          if (corpus != m("curated_docs")) bad += s"$out/corpus has $corpus rows, run said ${m("curated_docs")}"
          if (rows(s"$out/manifest") < 1) bad += s"$out/manifest is empty"
          if (rows(s"$out/estimate") != 6) bad += s"$out/estimate lacks six rows"
        } else {
          Seq("profile_completeness" -> "completeness", "cleaned" -> "cleaned",
            "analysis" -> "analysis").foreach { case (sink, key) =>
            val n = rows(s"$out/$sink")
            if (n != m(key)) bad += s"$out/$sink has $n rows, run said ${m(key)}"
          }
          Seq("profile_integrity", "rule_counts").foreach { s =>
            if (rows(s"$out/$s") < 1) bad += s"$out/$s is empty"
          }
        }
      } catch { case e: Throwable => bad += s"$out unreadable: $e" }
    }
    if (!curate) done.lastOption.filter(_._3("ok") == true).foreach { case (_, _, m) =>
      // every op overwrites the one Derby table; it holds the last op's rows
      val url = s"jdbc:derby:${graft.io.Sources.tmpDir("derby")}/pipeline_db"
      val props = new java.util.Properties()
      props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      try {
        val n = spark.read.jdbc(url, "analysis", props).count()
        if (n != m("analysis")) bad += s"Derby analysis has $n rows, last run said ${m("analysis")}"
      } catch { case e: Throwable => bad += s"Derby sink unreadable: $e" }
    }
    bad.toSeq
  }
}

/** A warm analyst session: registry queries into the noop sink the way
  * `Bench.run` runs them, in a seeded shuffled order per pass. The
  * untimed first pass writes each query's `fn` result for the oracle
  * hash check and fills the table cache and the model memos.
  */
private[etlbench] final class Catalog(spark: SparkSession, dir: String,
    names: Seq[String], outRoot: String, seed: Long) extends Workload {
  private val byName = SparkEntry.registry.map(q => q.name -> q).toMap
  private val qs = names.map(n => byName.getOrElse(n,
    throw new IllegalArgumentException(s"no registry query named $n")))
  private var pass = 0

  private def check(q: graft.Q): Map[String, Any] =
    EtlBench.timed(q.name, dir, probes = false, clear = true) {
      graft.Sessions.withConfs(spark, q.confs) {
        q.fn(spark, dir).coalesce(1).write.mode(SaveMode.Overwrite)
          .parquet(s"$outRoot/check/${q.name}")
      }
      Map.empty
    } + ("kind" -> "check")

  def warmUp(): Map[String, Any] = check(qs.head) + ("kind" -> "warm")
  override def untimedRest(): Seq[Map[String, Any]] = qs.tail.map(check)
  def hasNext: Boolean = true

  def nextBatch(): Seq[Map[String, Any]] = {
    pass += 1
    new scala.util.Random(seed * 1000003L + pass).shuffle(qs).map { q =>
      EtlBench.timed(q.name, dir, probes, clear = true) {
        graft.Sessions.withConfs(spark, q.confs) {
          q.benchFn.getOrElse(q.fn)(spark, dir)
            .write.format("noop").mode("overwrite").save()
        }
        Map.empty
      } + ("kind" -> "timed") + ("pass" -> pass)
    }
  }

  def afterWindow(): Seq[String] = Nil
}

/** The traced run's listeners: job, stage, SQL execution, query execution
  * and streaming-progress events, kept in memory as plain maps. Query
  * execution and streaming listeners are per session, and the program
  * plans and streams in child sessions of its own, so those two are
  * installed in every session through the static confs
  * `spark.sql.queryExecutionListeners` and
  * `spark.sql.streaming.streamingQueryListeners`, which run.py sets only
  * on a traced run; they record once `attach` has run.
  */
private[etlbench] object Recorder {
  @volatile private var on = false
  private val events = new ConcurrentLinkedQueue[Map[String, Any]]()
  private[etlbench] def add(m: Map[String, Any]): Unit = if (on) { events.add(m); () }

  private def frames(details: String): Seq[String] =
    Option(details).toSeq.flatMap(_.split("\n")).map(_.trim).filter(_.contains("graft."))

  private def scans(p: SparkPlanInfo): (Int, Int) =
    if (p.nodeName.startsWith("InMemoryTableScan")) (1, 0)
    else if (p.children.isEmpty) (0, if (p.nodeName.contains("Scan")) 1 else 0)
    else p.children.map(scans).foldLeft((0, 0)) { case ((a, b), (c, d)) => (a + c, b + d) }

  private def nodeNames(p: SparkPlanInfo): Seq[String] =
    p.nodeName +: p.children.flatMap(nodeNames)

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add(Map(
      "type" -> "job_start", "job" -> e.jobId, "t" -> e.time,
      "stages" -> e.stageIds,
      "sql" -> Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong),
      "frames" -> frames(e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).orNull)))
    override def onJobEnd(e: SparkListenerJobEnd): Unit = add(Map(
      "type" -> "job_end", "job" -> e.jobId, "t" -> e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      add(Map("type" -> "stage", "stage" -> s.stageId,
        "t0" -> s.submissionTime.getOrElse(0L), "t1" -> s.completionTime.getOrElse(0L),
        "tasks" -> s.numTasks, "frames" -> frames(s.details),
        "failed" -> s.failureReason.isDefined,
        "run_ms" -> Option(m).map(_.executorRunTime).getOrElse(0L),
        "cpu_ns" -> Option(m).map(_.executorCpuTime).getOrElse(0L),
        "gc_ms" -> Option(m).map(_.jvmGCTime).getOrElse(0L),
        "read_b" -> Option(m).map(_.inputMetrics.bytesRead).getOrElse(0L),
        "written_b" -> Option(m).map(_.outputMetrics.bytesWritten).getOrElse(0L),
        "shuffle_read_b" -> Option(m).map(x => x.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
        "shuffle_write_b" -> Option(m).map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        "spill_b" -> Option(m).map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L)))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        val (cached, other) = scans(s.sparkPlanInfo)
        val nodes = nodeNames(s.sparkPlanInfo)
        add(Map("type" -> "sql_start", "sql" -> s.executionId,
          "root" -> s.rootExecutionId.getOrElse(s.executionId), "t" -> s.time,
          "frames" -> frames(s.details), "cached_scans" -> cached, "other_scans" -> other,
          "write" -> nodes.exists(n => n.contains("InsertIntoHadoopFsRelationCommand") ||
            n.contains("SaveIntoDataSourceCommand")),
          "jdbc" -> (s.physicalPlanDescription.contains("JDBCRelation") ||
            s.physicalPlanDescription.contains("JdbcRelationProvider"))))
      case s: SparkListenerSQLExecutionEnd =>
        add(Map("type" -> "sql_end", "sql" -> s.executionId, "t" -> s.time))
      case _ =>
    }
  }

  def attach(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(jobs)
    on = true
  }

  def dump(): Seq[Map[String, Any]] = events.asScala.toSeq
}

private[etlbench] final class PlanListener extends QueryExecutionListener {
  private def rec(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    if (ph.nonEmpty) Recorder.add(Map("type" -> "plan",
      "t" -> ph.values.map(_.startTimeMs).min,
      "plan_ms" -> ph.values.map(_.durationMs).sum))
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = rec(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = rec(qe)
}

private[etlbench] final class ProgressListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    Recorder.add(Map("type" -> "trigger", "t" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "ms" -> Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)))
  }
}

/** Build-time dump of the registry: per query, the class that registers
  * it, whether it has a separate bench formulation, and its oracle SQL.
  */
object DumpRegistry {
  def main(args: Array[String]): Unit = {
    val reg = SparkEntry.registry.map { q =>
      q.name -> Map("class" -> q.fn.getClass.getName, "bench_fn" -> q.benchFn.isDefined,
        "oracle" -> q.oracle.orNull)
    }.toMap
    Files.write(Paths.get(args(0)), new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValueAsString(reg).getBytes(StandardCharsets.UTF_8))
  }
}
