package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Signed-random-projection (hyperplane) LSH signature of an
  * `array<double>` embedding as ONE codegen expression: bit i of the
  * result is the sign of the dot product with plane i. Vectors with
  * small angular distance collide with probability `1 - θ/π` per bit
  * (Charikar's SimHash family applied to dense vectors), so the packed
  * signature is a locality-preserving bucket key: at 100 TB the corpus
  * is partitioned by it and a query probes only its own + adjacent
  * buckets. The plane matrix is tiny (nbits × dim doubles), generated
  * from a fixed seed and carried into generated code as a reference
  * object — never a shuffle or a join.
  */
case class LshSignature(child: Expression, planes: Array[Array[Double]])
    extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "lsh_sig"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) if planes.nonEmpty && planes.length <= 30 =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"lsh_sig requires array<double> input and 1..30 planes, got $t / " +
        s"${planes.length} planes")
  }

  override protected def nullSafeEval(input: Any): Any =
    LshSignature.compute(input.asInstanceOf[ArrayData], planes)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", planes, "double[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.LshSignature.compute($c, $ref);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): LshSignature = copy(child = newChild)
}

object LshSignature {

  /** Packed sign-bit signature (called from generated code). */
  def compute(v: ArrayData, planes: Array[Array[Double]]): Int = {
    var sig = 0
    var b = 0
    while (b < planes.length) {
      val p = planes(b)
      val n = math.min(v.numElements(), p.length)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += v.getDouble(i) * p(i); i += 1 }
      if (acc >= 0) sig |= 1 << b
      b += 1
    }
    sig
  }

  /** Deterministic Gaussian plane matrix (fixed seed: same buckets in
    * every session, on every executor — the determinism discipline all
    * graft approximate ops follow).
    */
  def planes(nBits: Int, dim: Int, seed: Long = 421L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nBits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Register `name(emb)` over `nBits` fixed-seed planes. Testdata
    * embeddings are 64-dim (TESTDATA.md); [[compute]] clips to the
    * shorter of vector/plane, so a dim change degrades, not breaks.
    */
  def register(spark: SparkSession, nBits: Int,
      name: String = "lsh_sig"): Unit = {
    val p = planes(nBits, 64)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => LshSignature(exprs.head, p), "scala_udf")
  }
}
