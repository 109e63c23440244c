package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.types._

/** A native vector function: analyzed under its SQL name, then replaced
  * by a `StaticInvoke` of its one [[VectorKernels]] body, which
  * whole-stage codegen calls directly and interpreted plans call by
  * reflection. The right argument is either a second numeric array or
  * (`packedRight`) a packed candidate table `array<struct<int,
  * array<double>>>`; each numeric array passes an `isFloat` literal.
  */
sealed abstract class VectorKernelExpression(
    override val prettyName: String, kernel: String, result: DataType,
    packedRight: Boolean) extends RuntimeReplaceable with BinaryLike[Expression] {
  import VectorKernelExpression._

  override def checkInputDataTypes(): TypeCheckResult = {
    val (rightOk, rightType) =
      if (packedRight) (isPackedTable(right.dataType), "array<struct<int, array<double>>>")
      else (isNumericArray(right.dataType), "array<float|double>")
    if (isNumericArray(left.dataType) && rightOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<float|double>, $rightType), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override lazy val replacement: Expression = StaticInvoke(
    VectorKernels.getClass, result, kernel,
    Seq(left, right, isFloat(left)) ++ (if (packedRight) Nil else Seq(isFloat(right))),
    propagateNull = true, returnNullable = true)
}

private object VectorKernelExpression {
  def isNumericArray(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  def isPackedTable(dt: DataType): Boolean = dt match {
    case ArrayType(StructType(Array(
      StructField(_, IntegerType, _, _),
      StructField(_, ArrayType(DoubleType, _), _, _))), _) => true
    case _ => false
  }

  def isFloat(e: Expression): Literal = Literal(e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  })

  def winner(score: String): StructType = StructType(Seq(
    StructField("c", IntegerType, nullable = false),
    StructField(score, DoubleType, nullable = false)))
}

case class DotProduct(left: Expression, right: Expression)
    extends VectorKernelExpression("dot_product", "dotProduct", DoubleType, false) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

case class CosineSimilarity(left: Expression, right: Expression)
    extends VectorKernelExpression("cosine_sim", "cosineSim", DoubleType, false) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimilarity =
    copy(left = l, right = r)
}

case class L2Sq(left: Expression, right: Expression)
    extends VectorKernelExpression("l2_sq", "l2Sq", DoubleType, false) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): L2Sq =
    copy(left = l, right = r)
}

case class ArgmaxCosine(left: Expression, right: Expression)
    extends VectorKernelExpression("argmax_cosine", "argmaxCosine",
      VectorKernelExpression.winner("cos"), true) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ArgmaxCosine =
    copy(left = l, right = r)
}

case class ArgminL2(left: Expression, right: Expression)
    extends VectorKernelExpression("argmin_l2", "argminL2",
      VectorKernelExpression.winner("d2"), true) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ArgminL2 =
    copy(left = l, right = r)
}

/** Registration + Column-API surface for the native vector and
  * tokenizer functions.
  * Sessions built with `graft.GraftExtensions` get them at session
  * construction; `register` is the fallback for plain sessions.
  */
object VectorFunctions {
  /** The one table of native functions, read by `GraftExtensions` and
    * by [[register]].
    */
  val descriptions: Seq[SparkSessionExtensions#FunctionDescription] =
    Seq[(String, Class[_], (Expression, Expression) => Expression)](
      ("cosine_sim", classOf[CosineSimilarity], CosineSimilarity),
      ("dot_product", classOf[DotProduct], DotProduct),
      ("argmax_cosine", classOf[ArgmaxCosine], ArgmaxCosine),
      ("argmin_l2", classOf[ArgminL2], ArgminL2),
      ("l2_sq", classOf[L2Sq], L2Sq),
      ("unigram_pieces", classOf[UnigramPieces], UnigramPieces)
    ).map { case (name, cls, build) =>
      (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
        (exprs: Seq[Expression]) => build(exprs(0), exprs(1)))
    }

  /** Idempotent SQL registration: a function that already exists is
    * left as it is.
    */
  def register(s: SparkSession): Unit = {
    val reg = s.sessionState.functionRegistry
    descriptions.foreach { case (id, info, build) =>
      if (!reg.functionExists(id)) reg.registerFunction(id, info, build)
    }
  }

  private def call(s: SparkSession, name: String, a: Column, b: Column): Column = {
    register(s)
    org.apache.spark.sql.functions.call_function(name, a, b)
  }

  /** Column API: `cosine_sim($"a", $"b")` → double (see [[VectorKernels.cosineSim]]). */
  def cosine_sim(s: SparkSession, a: Column, b: Column): Column = call(s, "cosine_sim", a, b)

  /** Column API: `dot_product($"a", $"b")` → double (see [[VectorKernels.dotProduct]]). */
  def dot_product(s: SparkSession, a: Column, b: Column): Column = call(s, "dot_product", a, b)

  /** Column API: `argmax_cosine($"vec", $"packedCentroids")` →
    * `struct<c, cos>` (see [[VectorKernels.argmaxCosine]]).
    */
  def argmax_cosine(s: SparkSession, v: Column, cents: Column): Column =
    call(s, "argmax_cosine", v, cents)

  /** Column API: `argmin_l2($"subvec", $"packedCodebook")` →
    * `struct<c, d2>` (see [[VectorKernels.argminL2]]).
    */
  def argmin_l2(s: SparkSession, v: Column, cands: Column): Column =
    call(s, "argmin_l2", v, cands)

  /** Column API: `l2_sq($"a", $"b")` → double Σ(aᵢ−bᵢ)² (see [[VectorKernels.l2Sq]]). */
  def l2_sq(s: SparkSession, a: Column, b: Column): Column = call(s, "l2_sq", a, b)

  /** Column API: `unigram_pieces($"w", $"costs")` → `array<string>`,
    * the Viterbi pieces last first (see [[TokenizerKernels.unigramPieces]]).
    */
  def unigram_pieces(s: SparkSession, w: Column, costs: Column): Column =
    call(s, "unigram_pieces", w, costs)

  /** The aggregate that packs a (piece, cost) table into the one-row
    * cost map `unigram_pieces` reads, keys in ascending order (the
    * table is alphabet + the trainer's piece budget, small enough to
    * broadcast).
    */
  def unigram_cost_map(piece: Column, cost: Column): Column = {
    import org.apache.spark.sql.functions.{collect_list, map_from_entries, sort_array, struct}
    map_from_entries(sort_array(collect_list(struct(piece, cost))))
  }
}
