package org.apache.spark.ml.clustering

import org.apache.spark.ml.linalg.{Vector, VectorUDT}
import org.apache.spark.ml.util.{DatasetUtils, Identifiable}
import org.apache.spark.mllib.clustering.OnePartitionFit
import org.apache.spark.mllib.linalg.{Vectors => OldVectors}
import org.apache.spark.sql.Dataset

/** A [[KMeans]] that fits an input held in ONE partition with one Spark
  * job: it collects the partition's rows and runs, on the driver, the
  * algorithm `KMeans.fit` runs for them ([[OnePartitionFit]]), so the
  * model — centers, training cost, iteration count — is bit-identical
  * to `KMeans.fit`'s. Spark's fit runs one job per initialization round
  * and Lloyd iteration (29 for an input that runs all 20 iterations),
  * each a scheduling round trip over a few KB.
  *
  * Everything else goes to `KMeans.fit`: more than one partition (the
  * k-means|| draws are seeded per partition), random initialization,
  * center statistics Spark would compute with a job, and inputs Spark
  * fits with its block solver. Under the default "auto" solver that is
  * an input with fewer rows than features: Spark 4.1's
  * `preferBlockSolver` sums the indices of the per-feature non-zero
  * counts, not the counts, so it picks the row solver for every larger
  * input whatever its sparsity. It lives in this package to reach the
  * Spark-private model and summary constructors it reuses.
  */
class OnePartitionKMeans(uid: String) extends KMeans(uid) {

  def this() = this(Identifiable.randomUID("kmeans"))

  override def fit(dataset: Dataset[_]): KMeansModel = {
    if ($(initMode) != KMeans.K_MEANS_PARALLEL ||
      dataset.rdd.getNumPartitions != 1) return super.fit(dataset)
    transformSchema(dataset.schema, logging = true)
    // the columns and order `KMeans.trainWithRow` reads
    val rows = dataset.select(
      DatasetUtils.checkNonNanVectors(
        DatasetUtils.columnToVector(dataset, $(featuresCol))),
      DatasetUtils.checkNonNegativeWeights(get(weightCol))).collect()
    val dims = rows.headOption.fold(0)(_.getAs[Vector](0).size)
    val rowSolver = $(solver) == KMeans.ROW || $(solver) == KMeans.AUTO &&
      dataset.schema($(featuresCol)).dataType.isInstanceOf[VectorUDT] &&
      dims > 0 && rows.length >= dims
    val fitted = if (rows.isEmpty || !rowSolver) None else {
      OnePartitionFit.run(
        rows.map(r => (OldVectors.fromML(r.getAs[Vector](0)), r.getDouble(1))),
        $(k), $(maxIter), $(initSteps), $(tol), $(seed), $(distanceMeasure))
    }
    fitted.fold(super.fit(dataset)) { parent =>
      val model = copyValues(new KMeansModel(uid, parent).setParent(this))
      model.createSummary(model.transform(dataset), parent.numIter,
        parent.trainingCost)
      model
    }
  }
}
