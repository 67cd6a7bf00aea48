package org.apache.spark.ml.classification

import breeze.linalg.{DenseVector => BDV}
import breeze.optimize.{CachedDiffFunction, DiffFunction, LBFGS => BreezeLBFGS}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.ml.feature.{Instance, InstanceBlock, StandardScalerModel}
import org.apache.spark.ml.linalg.{BLAS, DenseMatrix, Vector, Vectors}
import org.apache.spark.ml.optim.aggregator.BinaryLogisticBlockAggregator
import org.apache.spark.ml.stat.{MultiClassSummarizer, Summarizer}
import org.apache.spark.ml.util.{DatasetUtils, MetadataUtils}
import org.apache.spark.sql.{Dataset, Row}
import scala.reflect.ClassTag

/** A binomial `LogisticRegression` fit run on the driver, for a training
  * set small enough to collect. Spark 4.1.2's `train` runs one
  * `treeAggregate` job per loss evaluation, and on a few dozen rows each
  * job is almost all scheduling. This replays `train` over the collected
  * rows with MLlib's own pieces: the summarizer seqOps,
  * `InstanceBlock.blokifyWithMaxMemUsage`, the
  * `BinaryLogisticBlockAggregator` fold merged into a zero aggregator (as a
  * one-partition `treeAggregate` merges it), and breeze L-BFGS with
  * `train`'s `maxIter`, `m = 10`, `tol`, initial intercept, centering and
  * unscaling. So the model's coefficients and intercept equal those of
  * `lr.fit(dataset.coalesce(1))` bit for bit. The model carries no
  * training summary.
  *
  * Lives in MLlib's package because those pieces are `private[ml]`, as
  * `org.apache.spark.sql.GraftBridge` does for `private[sql]`.
  */
object DriverLogisticRegression {

  /** `lr`'s model over `dataset`, collected in one Spark job. `lr` must be
    * an unregularized, unweighted, unbounded binomial fit with an
    * intercept, and the labels must be exactly two classes.
    */
  def fit(lr: LogisticRegression, dataset: Dataset[_]): LogisticRegressionModel = {
    require(lr.getFitIntercept && lr.getRegParam == 0.0 &&
      Seq(lr.family, lr.weightCol, lr.thresholds, lr.lowerBoundsOnCoefficients,
        lr.upperBoundsOnCoefficients, lr.lowerBoundsOnIntercepts,
        lr.upperBoundsOnIntercepts).forall(!lr.isSet(_)),
      "DriverLogisticRegression replays only the unregularized binomial fit")
    lr.transformSchema(dataset.schema)
    // the column checks `train` applies
    val instances = dataset.select(
        DatasetUtils.checkClassificationLabels(lr.getLabelCol, None),
        DatasetUtils.checkNonNegativeWeights(None),
        DatasetUtils.checkNonNanVectors(lr.getFeaturesCol))
      .rdd.map {
        case Row(label: Double, weight: Double, features: Vector) =>
          Instance(label, weight, features)
      }.collect()

    val (summary, labels) = instances.foldLeft(
        (Summarizer.createSummarizerBuffer("mean", "std", "count"), new MultiClassSummarizer)) {
      case ((s, l), i) => (s.add(i.features, i.weight), l.add(i.label, i.weight))
    }
    val histogram = labels.histogram
    val numClasses = MetadataUtils.getNumClasses(dataset.schema(lr.getLabelCol))
      .getOrElse(histogram.length)
    require(numClasses == 2 && histogram.length == 2 && !histogram.contains(0.0),
      s"DriverLogisticRegression needs two label classes, got ${histogram.mkString(", ")}")

    val featuresMean = summary.mean.toArray
    val featuresStd = summary.std.toArray
    val numFeatures = featuresMean.length
    val inverseStd = featuresStd.map(std => if (std != 0) 1.0 / std else 0.0)
    val scaledMean = Array.tabulate(numFeatures)(i => inverseStd(i) * featuresMean(i))
    val scale = StandardScalerModel.getTransformFunc(Array.empty, inverseStd, false, true)
    val blockSizeInMB =
      if (lr.getMaxBlockSizeInMB == 0.0) InstanceBlock.DefaultBlockSizeInMB
      else lr.getMaxBlockSizeInMB
    val blocks = InstanceBlock.blokifyWithMaxMemUsage(
      instances.iterator.map(i => Instance(i.label, i.weight, scale(i.features))),
      (blockSizeInMB * 1024L * 1024L).ceil.toLong).toArray

    val bcInverseStd = new Held(inverseStd)
    val bcScaledMean = new Held(scaledMean)
    val loss = new DiffFunction[BDV[Double]] {
      def calculate(x: BDV[Double]): (Double, BDV[Double]) = {
        val coefficients = new Held(Vectors.fromBreeze(x))
        def zero = new BinaryLogisticBlockAggregator(
          bcInverseStd, bcScaledMean, true, true)(coefficients)
        val agg = zero.merge(blocks.foldLeft(zero)(_.add(_)))
        (agg.loss, agg.gradient.asBreeze.toDenseVector)
      }
    }

    // the label-prior intercept, shifted for the aggregator's centering
    val x0 = new Array[Double](numFeatures + 1)
    x0(numFeatures) = math.log(histogram(1) / histogram(0))
    x0(numFeatures) += BLAS.javaBLAS.ddot(numFeatures, x0, 1, scaledMean, 1)
    val lbfgs = new BreezeLBFGS[BDV[Double]](lr.getMaxIter, 10, lr.getTol)
    val x = lbfgs.iterations(new CachedDiffFunction(loss), new BDV(x0))
      .reduceLeft((_, next) => next).x.toArray
    x(numFeatures) -= BLAS.javaBLAS.ddot(numFeatures, x, 1, scaledMean, 1)

    val coefficients = Array.tabulate(numFeatures)(i =>
      if (featuresStd(i) != 0.0) x(i) / featuresStd(i) else 0.0)
    val model = new LogisticRegressionModel(lr.uid,
      new DenseMatrix(1, numFeatures, coefficients, isTransposed = true).compressed,
      Vectors.dense(x(numFeatures)).compressed, numClasses, isMultinomial = false)
    lr.params.filter(lr.isSet).foreach(p => model.set(model.getParam(p.name), lr.getOrDefault(p)))
    model.setParent(lr)
  }

  /** A driver-held value where MLlib's aggregator takes a broadcast. */
  private class Held[T: ClassTag](v: T) extends Broadcast[T](-1L) {
    override protected def getValue(): T = v
    override protected def doUnpersist(blocking: Boolean): Unit = ()
    override protected def doDestroy(blocking: Boolean): Unit = ()
  }
}
