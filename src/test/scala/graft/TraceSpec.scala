package graft

import org.apache.spark.ListenerProbe

/** `Trace` attributes exactly the Spark work of its window: RDD actions
  * with a fixed stage layout (no adaptive planning), so each window's
  * jobs, stages and tasks are known in advance.
  */
class TraceSpec extends SparkSuite {

  /** One job, two stages: 4 map tasks and 2 reduce tasks. */
  private def twoStages(): Unit = spark.sparkContext
    .parallelize(1 to 100, 4).map(i => (i % 5, i)).reduceByKey(_ + _, 2)
    .collect()

  test("a window reports exactly the jobs, stages and tasks of its actions") {
    val empty = Trace(spark)(42)
    assert(empty.value == 42 && empty.jobs.isEmpty,
      "a window with no action recorded its settling marker")
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    val w = Trace(spark) {
      sc.setJobDescription("one stage")
      try sc.parallelize(1 to 10, 3).count()
      finally sc.setLocalProperty("spark.job.description", prev)
      twoStages()
    }
    assert(w.jobs.map(j => (j.stages, j.tasks)) == Seq((1, 3L), (2, 6L)))
    assert(w.jobs.head.description == "one stage")
    assert((w.jobs.size, w.stages, w.tasks) == ((2, 3L, 9L)))
    assert(w.jobs.forall(j => j.endMs.exists(_ >= j.startMs)))
    assert(w.jobs.head.callSite.contains("TraceSpec.scala"),
      s"call site ${w.jobs.head.callSite} does not name the action's line")
  }

  test("busy seconds are the union of the ended jobs' intervals") {
    def job(start: Long, end: Option[Long]) =
      Trace.Job(0, start, end, "", "", 0, 0L)
    val jobs = Seq(job(20, Some(30)), job(0, Some(10)), job(5, Some(15)),
      job(12, Some(14)), job(40, None))
    assert(Trace.Window((), jobs).busySec == 0.025)
  }

  test("20 back-to-back windows each report exactly their own counts") {
    val counts = (1 to 20).map { _ =>
      val w = Trace(spark)(twoStages())
      (w.jobs.size, w.stages, w.tasks)
    }
    val off = counts.zipWithIndex.filter(_._1 != ((1, 2L, 6L)))
    assert(off.isEmpty, s"windows off (counts, index): $off")
  }

  test("jobs started by Overlap branches inside the window are counted") {
    val w = Trace(spark)(Overlap(spark) { s =>
      val bs = Seq("branch a", "branch b").map(d =>
        s.fork(d)(spark.sparkContext.parallelize(1 to 8, 2).count()))
      bs.map(s.join(_)).sum
    })
    assert(w.value == 16L)
    assert(w.jobs.map(_.description).sorted == Seq("branch a", "branch b"))
    assert((w.stages, w.tasks) == ((2L, 4L)))
  }

  test("a throwing body is rethrown and leaves no listener behind") {
    val sc = spark.sparkContext
    val before = ListenerProbe.count(sc)
    val e = intercept[IllegalStateException](Trace(spark) {
      sc.parallelize(1 to 4, 2).count()
      throw new IllegalStateException("boom")
    })
    assert(e.getMessage == "boom")
    assert(ListenerProbe.count(sc) == before,
      "the failed window's recorder is still registered")
    Trace(spark)(sc.parallelize(1 to 4, 2).count())
    assert(ListenerProbe.count(sc) == before,
      "a settled window's recorder is still registered")
  }
}
