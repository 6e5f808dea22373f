package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for the embedding dot product.
  *
  * Why a custom Expression (SURVEY.md §4 extension ladder): the
  * built-in formulation `aggregate(zip_with(a, b, _*_), 0d, _+_)` is a
  * higher-order function — evaluated INTERPRETED, per lambda-element,
  * outside WholeStageCodegen. For similarity search the dot product is
  * the innermost loop over every candidate pair × dimension, exactly
  * where codegen matters at 100 TB. This expression generates a tight
  * primitive float loop (no lambda dispatch, no boxing) via doGenCode,
  * with an interpreted eval fallback. Null elements contribute 0.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_dot expects (array<float>, array<float>), got ($l, $r)")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0; var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i))
        acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {

  /** Adds the engine's native functions to every session built with
    * these extensions; [[graft.GraftSession.builder]] installs it, so
    * query builders and SQL text can name a `graft_…` function without
    * registering it first. A `newSession()` shares its parent's
    * extensions.
    */
  def inject(ext: SparkSessionExtensions): Unit = {
    def fn(name: String, cls: Class[_])(build: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    fn("graft_dot", classOf[DotProduct])(c => DotProduct(c.head, c(1)))
    fn("graft_minhash", classOf[MinhashSig])(c => MinhashSig(c.head,
      intLiteral("graft_minhash", c(1))))
    fn("graft_shingles", classOf[Shingles])(c => Shingles(c.head,
      intLiteral("graft_shingles", c(1))))
    fn("graft_nfc", classOf[NfcNormalize])(c => NfcNormalize(c.head))
    fn("graft_bpe", classOf[BpeEncode])(c => BpeEncode(c.head,
      stringArrayLiteral("graft_bpe", c(1))))
    fn("graft_minhash48", classOf[Minhash48])(c => Minhash48(c.head,
      intLiteral("graft_minhash48", c(1))))
    fn("graft_sum128", classOf[Sum128])(c => Sum128(c.head))
    fn("graft_pairs", classOf[PairsOf])(c => PairsOf(c.head))
    fn("graft_variant_gets", classOf[VariantGets])(c => VariantGets(c.head,
      c.tail.map(a => VariantGets.parseSpec(stringLiteral("graft_variant_gets", a)))))
    fn("graft_json_valid", classOf[JsonValid])(c => JsonValid(c.head))
    fn("graft_char_ngrams", classOf[CharNgrams])(c => CharNgrams(c.head,
      intLiteral("graft_char_ngrams", c(1))))
    fn("graft_adjacent_pairs", classOf[AdjacentPairs])(c => AdjacentPairs(c.head))
  }

  /** Second arguments of the custom functions must be integral literals
    * (they parameterize the generated code). A clear analysis error
    * beats the raw ClassCastException / Unevaluable a blind
    * `eval().asInstanceOf[Int]` throws on `CAST(16 AS BIGINT)` or a
    * column argument.
    */
  /** The merge table parameterizes [[BpeEncode]]'s generated code, so
    * it must arrive as a FOLDABLE array<string> (`lit(Array(...))`) —
    * a per-row column argument would mean re-parsing the table per
    * row and defeats the codegen reference object.
    */
  private def stringArrayLiteral(fn: String, e: Expression): Seq[String] =
    e.dataType match {
      case ArrayType(org.apache.spark.sql.types.StringType, _) if e.foldable =>
        val a = e.eval(null).asInstanceOf[ArrayData]
        (0 until a.numElements()).map(i => a.getUTF8String(i).toString)
      case other => throw new IllegalArgumentException(
        s"$fn expects a foldable array<string> second argument, got: $other")
    }

  private def stringLiteral(fn: String, e: Expression): String = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: org.apache.spark.unsafe.types.UTF8String, org.apache.spark.sql.types.StringType) =>
      v.toString
    case other => throw new IllegalArgumentException(
      s"$fn expects string literal spec arguments, got: $other")
  }

  private def intLiteral(fn: String, e: Expression): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _)
        if v.isValidInt => v.toInt
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Short, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$fn expects an integer literal as its second argument, got: $other")
  }
}
