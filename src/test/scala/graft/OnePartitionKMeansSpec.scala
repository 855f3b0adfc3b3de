package graft

import scala.util.Try

import org.apache.spark.ml.clustering.{KMeans, KMeansModel,
  OnePartitionKMeans}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.linalg.SparseVector
import org.apache.spark.sql.DataFrame

import mlx.Clustering.activityKMeans

/** The one-partition KMeans fit ([[OnePartitionKMeans]]) gives exactly
  * `KMeans.fit`'s model — every center coordinate bit for bit, the
  * training cost, the iteration count and every row's label — in at
  * most one Spark job, on the activity fit inputs at three scales and
  * on small inputs that reach the algorithm's edge cases.
  */
class OnePartitionKMeansSpec extends SparkSuite {

  private def bits(m: KMeansModel): Seq[Seq[Long]] =
    m.clusterCenters.toSeq.map(_.toArray.toSeq
      .map(java.lang.Double.doubleToRawLongBits))

  private def labels(m: KMeansModel, input: DataFrame): Seq[Int] =
    m.transform(input).select("prediction").collect().toSeq.map(_.getInt(0))

  /** Fits `input` both ways and compares; returns Spark's model. */
  private def assertSameFit(input: DataFrame): KMeansModel = {
    val theirs = activityKMeans(new KMeans()).fit(input)
    val w = Trace(spark)(activityKMeans(new OnePartitionKMeans()).fit(input))
    val ours = w.value
    assert(w.jobs.size <= 1, s"the one-partition fit ran ${w.jobs.size} " +
      s"jobs: ${w.jobs.map(_.callSite)}")
    assert(bits(ours) == bits(theirs))
    assert(ours.summary.trainingCost == theirs.summary.trainingCost)
    assert(ours.summary.numIter == theirs.summary.numIter)
    assert(labels(ours, input) == labels(theirs, input))
    theirs
  }

  /** `rows` as a cached frame of assembled features in `parts`
    * partitions, the way [[mlx.Clustering.fitInput]] builds the real one.
    */
  private def assembled(rows: Seq[(Double, Double, Double)],
      parts: Int = 1): DataFrame = {
    import spark.implicits._
    val raw = rows.toDF("tx_count", "total_spend", "days_since_first_order")
    val df = new VectorAssembler()
      .setInputCols(raw.columns)
      .setOutputCol("features")
      .transform(if (parts == 1) raw.coalesce(1) else raw.repartition(parts))
      .cache()
    df.count()
    df
  }

  private def withFrame[T](df: DataFrame)(body: DataFrame => T): T =
    try body(df) finally df.unpersist()

  for ((scale, iters) <- Seq("sf0.001" -> None, "sf0.01" -> None,
      "sf0.1" -> Some(20))) {
    test(s"the $scale activity fit input fits to Spark's model") {
      val dir = sf.stripSuffix("sf0.001") + scale
      Overlap(spark) { s =>
        val features = s.release(feature.Features.build(spark, dir).cache())
        val input = s.release(mlx.Clustering.fitInput(spark, dir, features))
        assert(input.rdd.getNumPartitions == 1)
        val m = assertSameFit(input)
        iters.foreach(n => assert(m.summary.numIter == n))
      }
    }
  }

  test("one row: both fits are Spark's block-solver fit, which fails") {
    // with fewer rows than features, Spark's "auto" solver choice is its
    // block solver, which indexes a center per k and so fails when the
    // initialization found fewer than k distinct points
    withFrame(assembled(Seq((3.0, 120.5, 40.0)))) { df =>
      val theirs = Try(activityKMeans(new KMeans()).fit(df))
      val ours = Try(activityKMeans(new OnePartitionKMeans()).fit(df))
      assert(theirs.isFailure && ours.isFailure)
      assert(ours.failed.get.getClass == theirs.failed.get.getClass)
    }
  }

  test("fewer distinct points than k") {
    withFrame(assembled(Seq.fill(4)((1.0, 10.0, 5.0)) ++
      Seq.fill(3)((7.0, 900.0, 300.0))))(assertSameFit)
  }

  test("rows the assembler compresses to sparse vectors") {
    val rows = (1 to 60).map { i =>
      if (i % 5 == 0) (0.0, 0.0, 0.0) // stored sparse: no non-zero entry
      else if (i % 3 == 0) (0.0, 0.0, -1.0) // a customer with no orders
      else (i % 7 + 1.0, i * 37.25, i * 11.0)
    }
    withFrame(assembled(rows)) { df =>
      assert(df.select("features").collect()
        .exists(_.get(0).isInstanceOf[SparseVector]))
      assertSameFit(df)
    }
  }

  test("heavy duplicates") {
    val rows = (1 to 400).map(i => ((i % 4).toDouble, (i % 4) * 250.0 + 1,
      (i % 5) * 30.0))
    withFrame(assembled(rows))(assertSameFit)
  }

  test("a two-partition input keeps Spark's fit") {
    withFrame(assembled((1 to 60).map(i => (i % 6 + 1.0, i * 13.5, i * 2.0)),
        parts = 2)) { input =>
      val w = Trace(spark)(
        activityKMeans(new OnePartitionKMeans()).fit(input))
      assert(w.jobs.size > 2, "a two-partition input was not fitted by " +
        "KMeans.fit")
    }
  }
}
