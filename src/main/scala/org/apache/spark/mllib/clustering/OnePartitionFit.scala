package org.apache.spark.mllib.clustering

import java.util.Random

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.mllib.linalg.{Vector, Vectors}
import org.apache.spark.util.Utils
import org.apache.spark.util.random.{BernoulliSampler, SamplingUtils,
  XORShiftRandom}

/** [[KMeans]]'s k-means|| fit (`runWithWeight`: `initKMeansParallel`,
  * then `runAlgorithmWithWeight`'s Lloyd loop) for points held in ONE
  * partition, computed on the caller's thread from that partition's
  * points in order. Every random draw, cost, sum and convergence test is
  * the distributed code's for partition index 0, with the same Spark
  * helpers, so the model is bit-identical to the distributed fit's, with
  * no Spark job. It lives in this package to reach the Spark-private
  * pieces it reuses.
  */
private[spark] object OnePartitionFit {

  /** The fit of `points` (vector, weight), or None where Spark computes
    * the center statistics with a job of their own (many centers times
    * features).
    */
  def run(points: Array[(Vector, Double)], k: Int, maxIterations: Int,
      initSteps: Int, epsilon: Double, seed: Long,
      distanceMeasure: String): Option[KMeansModel] = {
    val measure = DistanceMeasure.decodeFromString(distanceMeasure)
    val data = points.map { case (v, w) =>
      new VectorWithNorm(v, Vectors.norm(v, 2.0), w)
    }
    val centers = initKMeansParallel(data, k, initSteps, seed, measure)
    val dims = centers.head.vector.size
    val withStats = DistanceMeasure.shouldComputeStatistics(centers.length)
    if (withStats &&
      !DistanceMeasure.shouldComputeStatisticsLocally(centers.length, dims)) {
      return None
    }

    var converged = false
    var cost = 0.0
    var iteration = 0
    while (iteration < maxIterations && !converged) {
      val stats =
        if (withStats) Some(measure.computeStatistics(centers)) else None
      val sums = Array.fill(centers.length)(Vectors.zeros(dims))
      val weights = new Array[Double](centers.length)
      // the task's cost accumulator starts at 0.0, and so does the
      // driver's it merges into
      var taskCost = 0.0
      data.foreach { point =>
        val (best, c) = measure.findClosest(centers, stats, point)
        taskCost += c * point.weight
        measure.updateClusterSum(point, sums(best))
        weights(best) += point.weight
      }
      converged = true
      for (j <- centers.indices if weights(j) > 0) {
        val newCenter = measure.centroid(sums(j), weights(j))
        if (converged &&
          !measure.isCenterConverged(centers(j), newCenter, epsilon)) {
          converged = false
        }
        centers(j) = newCenter
      }
      cost = 0.0 + taskCost
      iteration += 1
    }
    Some(new KMeansModel(centers.map(_.vector), distanceMeasure, cost,
      iteration))
  }

  private def initKMeansParallel(data: Array[VectorWithNorm], k: Int,
      steps: Int, seed: Long,
      measure: DistanceMeasure): Array[VectorWithNorm] = {
    var costs = data.map(_ => Double.PositiveInfinity)

    val sampleSeed = new XORShiftRandom(seed).nextInt()
    val sample = takeOne(data, sampleSeed)
    require(sample.nonEmpty, "No samples available from the input")

    val centers = ArrayBuffer[VectorWithNorm]()
    var newCenters = Array(sample.head.toDense)
    centers ++= newCenters
    var step = 0
    while (step < steps) {
      val drawn = newCenters
      costs = data.zip(costs).map { case (p, c) =>
        math.min(measure.pointCost(drawn, p), c)
      }
      // RDD.sum: the partition folds from 0.0, the driver adds that to 0.0
      val sumCosts = 0.0 + costs.fold(0.0)(_ + _)
      val rand = new XORShiftRandom(sampleSeed ^ (step << 16) ^ 0)
      newCenters = data.iterator.zip(costs.iterator)
        .filter { case (_, c) => rand.nextDouble() < 2.0 * c * k / sumCosts }
        .map(_._1.toDense).toArray
      centers ++= newCenters
      step += 1
    }

    val distinct = centers.map(_.vector).distinct.map(new VectorWithNorm(_))
      .toArray
    if (distinct.length <= k) distinct else {
      val counts = data.groupMapReduce(measure.findClosest(distinct, _)._1)(
        _ => 1L)(_ + _)
      val weights = distinct.indices.map(counts.getOrElse(_, 0L).toDouble)
        .toArray
      LocalKMeans.kMeansPlusPlus(0, distinct, weights, k, 30)
    }
  }

  /** `RDD.takeSample(false, 1, seed)` over one partition. */
  private def takeOne(data: Array[VectorWithNorm],
      seed: Long): Array[VectorWithNorm] = {
    if (data.isEmpty) return Array.empty
    val rand = new Random(seed)
    if (data.length == 1) return Utils.randomizeInPlace(data.clone(), rand)
    val fraction = SamplingUtils.computeFractionForSampleSize(1,
      data.length.toLong, withReplacement = false)
    // PartitionwiseSampledRDD seeds partition 0's sampler with the first
    // draw of a Random seeded with the sample's seed
    def draw(): Array[VectorWithNorm] = {
      val sampler = new BernoulliSampler[VectorWithNorm](fraction)
      sampler.setSeed(new Random(rand.nextInt().toLong).nextLong())
      sampler.sample(data.iterator).toArray
    }
    var samples = draw()
    while (samples.isEmpty) samples = draw()
    Utils.randomizeInPlace(samples, rand).take(1)
  }
}
