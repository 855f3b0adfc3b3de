package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** TEMPORARY round-21 profiling harness (not registered, not shipped):
  * runs one named query through the noop sink with a listener that
  * prints every Spark job's wall time and description/call site, so
  * per-query job budgets can be attributed to code lines.
  *
  * Usage: runMain graft.DevProfile <sfDir> <query> [warmRuns]
  */
object DevProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val warm = args.lift(2).map(_.toInt).getOrElse(1)
    io.Sources.enableTableCache()
    val spark = Sessions.local(appName = "graft-devprofile")
    val q = SparkEntry.registry.find(_.name == name).get
    // DEV_CONFS="k=v;k=v" layers ad-hoc session confs over Q.confs for
    // A/B runs (profiling harness only — never the bench or a query);
    // empty segments (a trailing ';') are skipped
    val devConfs = sys.env.getOrElse("DEV_CONFS", "").split(";")
      .filter(_.nonEmpty).map { seg =>
        val kv = seg.split("=", 2)
        require(kv.length == 2, s"DEV_CONFS segment '$seg' is not k=v")
        kv(0) -> kv(1)
      }.toMap
    def once(): Unit = Overlap(spark) { _ =>
      Sessions.withConfs(spark, q.confs ++ devConfs) {
        q.benchFn.getOrElse(q.fn)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      }
    }
    // warm the raw tier + JIT
    (1 to warm).foreach(_ => once())

    val epoch = System.nanoTime()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        val site = Option(j.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
        starts.put(j.jobId, (System.nanoTime(), s"$site | $desc"))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(starts.get(e.jobId)).foreach { case (t0, what) =>
          val ms = (System.nanoTime() - t0) / 1e6
          val off = (t0 - epoch) / 1e6
          println(f"[job] ${e.jobId}%4d start=${off}%8.1f dur=${ms}%8.1f ms  $what")
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val reps = sys.env.get("DEV_REPS").map(_.toInt).getOrElse(1)
    val times = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      once()
      (System.nanoTime() - t0) / 1e9
    }
    Thread.sleep(500)
    val ts = times.map(t => f"$t%.3f").mkString(", ")
    println(f"[total] $name min=${times.min}%.3f s  all=[$ts]")
    spark.stop()
  }
}
