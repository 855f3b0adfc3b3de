package graft

import java.util.concurrent.{CompletableFuture, TimeUnit}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** The one recorder of the Spark work a window of driver code ran.
  * `Trace(spark) { body }` runs `body` and returns its value with a
  * record of every job that started while it ran — on any thread, so
  * the jobs of the body's [[Overlap]] branches count too (and so would
  * another thread's unrelated jobs running at the same time).
  *
  * Counting: a job counts when it starts; a stage counts when it
  * completes (failed or cancelled included) and belongs to the first
  * window job that lists it; a stage's tasks are its `numTasks`. These
  * are the units of the bench artifacts' `jobs`/`stages`/`tasks`.
  *
  * Settling: listener delivery is asynchronous, so events the body
  * caused can still be queued when it returns. The window therefore
  * ends with a one-task marker job and waits for the marker's end
  * event: the listener bus delivers events in the order they were
  * posted, and every job the body started posted its events before
  * the marker started. The marker is left out of the records (so is a
  * nested window's marker). A throwing body is rethrown without the
  * marker; the listener is removed on every exit.
  */
object Trace {

  /** One job of a window: its event times (epoch ms; `endMs` is empty
    * for a job still running when the window settled), its
    * description and short call site, and the stages and tasks it
    * completed.
    */
  final case class Job(id: Int, startMs: Long, endMs: Option[Long],
      description: String, callSite: String, stages: Int, tasks: Long)

  final case class Window[T](value: T, jobs: Seq[Job]) {
    def stages: Long = jobs.map(_.stages.toLong).sum
    def tasks: Long = jobs.map(_.tasks).sum

    /** Seconds during which at least one ended job ran: the union of
      * their intervals.
      */
    def busySec: Double = jobs.flatMap(j => j.endMs.map(j.startMs -> _))
      .sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (s, e)) =>
        if (e <= reach) (sum, reach) else (sum + e - math.max(s, reach), e)
      }._1 / 1e3
  }

  def apply[T](spark: SparkSession)(body: => T): Window[T] = {
    val sc = spark.sparkContext
    val marker = s"$MarkerPrefix ${java.util.UUID.randomUUID()}"
    val rec = new Recorder(marker)
    sc.addSparkListener(rec)
    try {
      val value = body
      val prev = sc.getLocalProperty(DescriptionKey)
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(DescriptionKey, prev)
      // bounded: a bus that drops events never delivers the marker's end
      Window(value, rec.done.get(60, TimeUnit.SECONDS))
    } finally sc.removeSparkListener(rec)
  }

  private val MarkerPrefix = "graft.Trace marker"
  private val DescriptionKey = "spark.job.description"

  /** Runs on the listener bus's one thread and hands an immutable copy
    * of its records over through `done` when the marker ends.
    */
  private final class Recorder(marker: String) extends SparkListener {
    val done = new CompletableFuture[Seq[Job]]
    private val jobs = mutable.LinkedHashMap[Int, Job]()
    private val stageJob = mutable.HashMap[Int, Int]()
    private var markerId = -1

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val desc = Option(j.properties)
        .flatMap(p => Option(p.getProperty(DescriptionKey))).getOrElse("")
      if (desc == marker) markerId = j.jobId
      else if (!desc.startsWith(MarkerPrefix)) {
        // the final stage (the highest id) is named by the job's short
        // call site
        val site = j.stageInfos.maxByOption(_.stageId).fold("")(_.name)
        jobs(j.jobId) = Job(j.jobId, j.time, None, desc, site, 0, 0L)
        j.stageIds.foreach(stageJob.getOrElseUpdate(_, j.jobId))
      }
    }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      for (id <- stageJob.get(s.stageInfo.stageId); r <- jobs.get(id))
        jobs(id) = r.copy(stages = r.stages + 1,
          tasks = r.tasks + s.stageInfo.numTasks)

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == markerId) done.complete(jobs.values.toVector)
      else jobs.get(e.jobId).foreach(r =>
        jobs(e.jobId) = r.copy(endMs = Some(e.time)))
  }
}
