package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** Bucketed co-located join: writing both sides bucketed+sorted by the
  * join key lets Spark sort-merge-join WITHOUT any shuffle exchange —
  * the standard way to amortize one shuffle across many joins of the
  * same fact table at 100 TB (SURVEY.md §2.4 note). Asserted on the
  * physical plan, not just the result.
  */
class BucketingSpec extends SparkSuite {

  test("bucketed join runs with zero shuffle exchanges") {
    // warehouse dir is set statically in Sessions.local; a previous JVM's
    // table files survive the in-memory catalog, so clear them on disk too
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    Seq("b_orders", "b_customer").foreach { t =>
      val d = new java.io.File(s"/root/repo/target/tmp/warehouse/$t")
      if (d.exists()) {
        d.listFiles().foreach(_.delete()); d.delete()
      }
    }

    val o = spark.read.parquet(s"$sf/orders.parquet")
    val c = spark.read.parquet(s"$sf/customer.parquet")
    o.write.mode("overwrite").bucketBy(8, "o_custkey").sortBy("o_custkey")
      .saveAsTable("b_orders")
    c.write.mode("overwrite").bucketBy(8, "c_custkey").sortBy("c_custkey")
      .saveAsTable("b_customer")

    val joined = spark.table("b_orders")
      .join(spark.table("b_customer"),
        col("o_custkey") === col("c_custkey"), "inner")
      .select(col("o_orderkey"), col("c_name"))

    // disable broadcast so the join strategy choice is structural
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val n = joined.count()
      assert(n == 1500)
      val executed = joined.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val shuffles = executed.collect { case s: ShuffleExchangeExec => s }
      assert(shuffles.isEmpty,
        s"expected shuffle-free bucketed join, found ${shuffles.size} exchanges")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("scale4 registered query: join subtree is shuffle-free") {
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = ops.Scale.bucketedJoinQ(spark, sf)
      df.collect() // materialize THIS queryExecution so AQE finalizes it
      val executed = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      // AQE query stages are leaf wrappers — collect() stops at them, so
      // flatten through their inner plans explicitly
      def flatten(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          p +: flatten(q.plan)
        case a: AdaptiveSparkPlanExec => p +: flatten(a.executedPlan)
        case _ => p +: p.children.flatMap(flatten)
      }
      val all = flatten(executed)
      val smj = all.collectFirst {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      assert(smj.nonEmpty, s"expected a sort-merge join:\n$executed")
      val shufflesUnderJoin = flatten(smj.get).drop(1).collect {
        case s: ShuffleExchangeExec => s
        case q: org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec
          => q
      }
      assert(shufflesUnderJoin.isEmpty,
        "bucketed join subtree must not re-shuffle either side " +
          s"(the global ORDER BY above it may):\n${smj.get}")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("ann index probe: scan opens ONLY the probed signature partitions " +
      "(dynamic partition pruning, round-11 directive 4)") {
    // own fixture: 2000 64-dim sin-lattice embeddings -> autoBits = 5,
    // 32 signature buckets, signs spread so (nearly) all are occupied.
    // The registered probe batches collectively cover every bucket at
    // test scale, so observable pruning needs a probe set smaller than
    // the bucket count: ONE query probes 1+5+C(5,2) = 16 of 32.
    val dir = s"${ScalingBench.FixtureRoot}/dpp-emb-v1"
    val path = s"$dir/embeddings.parquet"
    if (!new java.io.File(s"$path/_SUCCESS").exists) {
      // per-id seeded isotropic gaussians (the fixture-C recipe) so the
      // 5 hyperplane sign bits are independent and all 32 buckets fill
      import spark.implicits._
      val rows = (0 until 2000).map { i =>
        val rng = new scala.util.Random(i * 2654435761L)
        (i.toLong,
          Array.fill(64)(rng.nextGaussian().toFloat).toSeq,
          i % 10)
      }
      rows.toDF("vec_id", "embedding", "label")
        .coalesce(1).write.mode("overwrite").parquet(path)
    }

    val df = ext.Similarity.annProbeWhere(spark, dir, col("vec_id") === 0)
    val qe = df.queryExecution
    qe.toRdd.foreach(_ => ())

    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
      val here = p.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(q.plan)
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      }.flatten
      // subqueries are node-local: gather them from every node
      here ++ p.collect { case n => n }.flatMap(_.subqueries).flatMap(scans)
    }
    val idxScan = scans(qe.executedPlan)
      .find(_.relation.location.rootPaths.exists(
        _.toString.contains("ann_index")))
      .getOrElse(fail("no index scan in the probe plan"))

    // the pruning is IN the plan (a real DPP subquery, not the
    // degraded literal-true Spark emits under reuseBroadcastOnly)
    val pf = idxScan.partitionFilters.mkString(";")
    assert(pf.contains("dynamicpruning") && !pf.contains("(true)"),
      s"index scan carries no live dynamic pruning filter: $pf")

    // and it PRUNED: of the >16 bucket dirs on disk, the single-query
    // probe opened at most its 16 probe-mask partitions
    val total = Option(new java.io.File(
        ext.Similarity.annIndexPath(dir, 5)).listFiles())
      .getOrElse(Array.empty).count(_.getName.startsWith("sig="))
    assert(total > 16, s"fixture occupies only $total buckets")
    val read = idxScan.metrics("numPartitions").value
    assert(read <= 16,
      s"probe read $read of $total partitions — index scan not pruned")

    // the labeling twin probes the same layout at Hamming<=4: its
    // registered batch covers every bucket at this scale (31/32 masks
    // per query), so only the live filter is asserted — the pruning
    // arithmetic is the radius's job, the plan mechanism is the same
    val knn = ext.Similarity.knnAnn(spark, dir)
    val kqe = knn.queryExecution
    kqe.toRdd.foreach(_ => ())
    val knnScan = scans(kqe.executedPlan)
      .find(_.relation.location.rootPaths.exists(
        _.toString.contains("ann_index")))
      .getOrElse(fail("no index scan in the knnAnn plan"))
    val kpf = knnScan.partitionFilters.mkString(";")
    assert(kpf.contains("dynamicpruning") && !kpf.contains("(true)"),
      s"knnAnn index scan carries no live dynamic pruning filter: $kpf")
  }

  test("salted join equals plain join") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_linenumber"))
    val o = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"))
    val plain = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("o_totalprice"))
    val salted = ops.Scale.saltedJoin(li, o, "l_orderkey", "o_orderkey", 4)
      .select(col("l_orderkey"), col("l_linenumber"), col("o_totalprice"))
    assert(plain.exceptAll(salted).count() == 0 &&
      salted.exceptAll(plain).count() == 0)
  }
}
