package graft

/** TEMPORARY round-21 profiling harness (not registered, not shipped):
  * runs one named query through the noop sink in a [[Trace]] window per
  * rep and prints every Spark job's wall time and description/call
  * site, so per-query job budgets can be attributed to code lines, then
  * each rep's wall, busy and idle seconds.
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

    val reps = sys.env.get("DEV_REPS").map(_.toInt).getOrElse(1)
    val epoch = System.currentTimeMillis()
    val windows = (1 to reps).map { _ =>
      Trace(spark) {
        val t0 = System.nanoTime()
        once()
        (System.nanoTime() - t0) / 1e9
      }
    }
    for (w <- windows; j <- w.jobs; end <- j.endMs) {
      val what = s"${j.callSite} | ${j.description}"
      println(f"[job] ${j.id}%4d start=${(j.startMs - epoch).toDouble}%8.1f " +
        f"dur=${(end - j.startMs).toDouble}%8.1f ms  $what")
    }
    // busy: the union of a rep's job intervals; idle: its wall minus busy
    def secs(xs: Seq[Double]) = xs.map(t => f"$t%.3f").mkString("[", ", ", "]")
    val times = windows.map(_.value)
    println(f"[total] $name min=${times.min}%.3f s  all=${secs(times)}" +
      s"  busy=${secs(windows.map(_.busySec))}" +
      s"  idle=${secs(windows.map(w => w.value - w.busySec))}")
    spark.stop()
  }
}
