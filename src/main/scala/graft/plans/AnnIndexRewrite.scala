package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan, Project, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

import graft.functions.LshSignature

/** Config-gated optimizer rule: swap the brute-force cosine-top-k plan
  * for an LSH index probe — the `SparkStrategy`-shaped custom Catalyst
  * work SURVEY.md §4.3.5 anticipated for [EXT] ANN search, realized as
  * a logical rewrite (the physical operators — broadcast hash join on
  * the signature key, generate, window top-k — are all ones Catalyst
  * already plans well; what the built-ins cannot do is recognize that a
  * `q × corpus` top-k join admits an index).
  *
  * Matched shape (what [[graft.ext.Similarity.cosineTopK]] and any
  * like-written user query produce): a row_number Window over a
  * Project computing `vec_dot(qe, ce) / (qn * cn)` over an inner Join
  * whose condition is exactly `NOT (q_id = c_id)` — the all-pairs
  * scoring join. The rewrite adds an [[LshSignature]] column to both
  * sides, explodes the (broadcast) query side to its own + every
  * Hamming-1/2-flipped bucket, and re-joins with the signature EQUALITY
  * prepended to the original condition: the join becomes bucket-local —
  * at 100 TB, a partition-pruned probe instead of a full corpus scan
  * per query. Everything above the join (cos projection, window,
  * rank filter) is untouched and now ranks only the candidate set.
  *
  * OFF by default — the rewrite trades exactness for scale (recall at
  * the default 6 bits measured >= 0.45 at every sf, the same floor as
  * the hand-written [[graft.ext.Similarity.annLsh]], which remains the
  * explicit API for this plan). Enable with
  * `spark.graft.annRewrite=true`; `spark.graft.annRewrite.nbits` sets
  * the signature width (default 6) over 64-dim planes. Deliberately
  * conservative, like [[NgramChainRewrite]]: only the exact canonical
  * shape fires, and a rewritten join (condition now an And) can never
  * re-match.
  */
case class AnnIndexRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  private def enabled: Boolean =
    spark.conf.getOption(AnnIndexRewrite.Flag).contains("true")

  private def conf(key: String, default: Int): Int =
    spark.conf.getOption(key).map(_.toInt).getOrElse(default)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    // the optimizer may have inserted a logical WindowGroupLimit (the
    // rank-filter pushdown) between the Window and the scoring project
    // by the time extraOptimizations run — both shapes are the same
    // brute-force top-k
    plan.transformUp {
      case w @ Window(Seq(Alias(WindowExpression(_: RowNumber, _), _)),
          _, _, p @ Project(projList, j: Join), _)
          if isBruteForceTopK(projList, j) =>
        val (corpusEmb, queryEmb) = embeddingsOf(projList, j).get
        w.copy(child = p.copy(child = indexProbeJoin(j, corpusEmb, queryEmb)))
      case w @ Window(Seq(Alias(WindowExpression(_: RowNumber, _), _)),
          _, _, wgl @ WindowGroupLimit(_, _, _, _,
            p @ Project(projList, j: Join)), _)
          if isBruteForceTopK(projList, j) =>
        val (corpusEmb, queryEmb) = embeddingsOf(projList, j).get
        w.copy(child = wgl.copy(child =
          p.copy(child = indexProbeJoin(j, corpusEmb, queryEmb))))
    }
  }

  /** The all-pairs scoring join: inner, condition exactly
    * `NOT (a = b)` with one id per side, and the project above it
    * computing `vec_dot(qe, ce) / (n1 * n2)` with the dot's arguments
    * drawn one from each side.
    */
  private def isBruteForceTopK(projList: Seq[NamedExpression],
      j: Join): Boolean =
    j.joinType == org.apache.spark.sql.catalyst.plans.Inner &&
      (j.condition match {
        case Some(Not(EqualTo(a: AttributeReference, b: AttributeReference))) =>
          sidesOf(a, b, j).isDefined
        case _ => false
      }) && embeddingsOf(projList, j).isDefined

  /** (left-side attr, right-side attr) if one comes from each side. */
  private def sidesOf(a: AttributeReference, b: AttributeReference,
      j: Join): Option[(Attribute, Attribute)] =
    if (j.left.outputSet.contains(a) && j.right.outputSet.contains(b))
      Some((a, b))
    else if (j.left.outputSet.contains(b) && j.right.outputSet.contains(a))
      Some((b, a))
    else None

  /** (corpus-side embedding, query-side embedding) from the cos alias. */
  private def embeddingsOf(projList: Seq[NamedExpression],
      j: Join): Option[(Attribute, Attribute)] =
    projList.collectFirst {
      case Alias(Divide(
          graft.functions.DotProduct(x: AttributeReference,
            y: AttributeReference), Multiply(_, _, _), _), _)
          if sidesOf(x, y, j).isDefined =>
        sidesOf(x, y, j).get
    }

  private def indexProbeJoin(j: Join, corpusEmb: Attribute,
      queryEmb: Attribute): Join = {
    val nBits = conf(AnnIndexRewrite.NBitsKey, 6)
    val planes = LshSignature.planes(nBits, 64)
    // corpus side: + signature column
    val sigC = Alias(LshSignature(corpusEmb, planes), "__ann_sig_c")()
    val corpus = Project(j.left.output :+ sigC, j.left)
    // query side: + signature, exploded to own + 1- and 2-bit flips
    // (all distinct, so each candidate pair joins exactly once)
    val sigQ = Alias(LshSignature(queryEmb, planes), "__ann_sig_q")()
    val qSig = Project(j.right.output :+ sigQ, j.right)
    val flips = (0 until nBits).map(i => 1 << i) ++
      (for (i <- 0 until nBits; k <- i + 1 until nBits)
        yield (1 << i) | (1 << k))
    val probeExprs = sigQ.toAttribute +:
      flips.map(m => BitwiseXor(sigQ.toAttribute, Literal(m, IntegerType)))
    val probeAttr = AttributeReference("__ann_probe", IntegerType,
      nullable = false)()
    val probes = Generate(Explode(CreateArray(probeExprs)),
      unrequiredChildIndex = Nil, outer = false, qualifier = None,
      generatorOutput = Seq(probeAttr), child = qSig)
    j.copy(left = corpus, right = probes,
      condition = Some(And(EqualTo(sigC.toAttribute, probeAttr),
        j.condition.get)))
  }
}

object AnnIndexRewrite {
  val Flag = "spark.graft.annRewrite"
  val NBitsKey = "spark.graft.annRewrite.nbits"

  /** Inject into a live session (idempotent). */
  def enable(spark: SparkSession): Unit = {
    if (!spark.experimental.extraOptimizations.exists(
        _.isInstanceOf[AnnIndexRewrite]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ AnnIndexRewrite(spark)
    spark.conf.set(Flag, "true")
  }

  def disable(spark: SparkSession): Unit =
    spark.conf.set(Flag, "false")
}
