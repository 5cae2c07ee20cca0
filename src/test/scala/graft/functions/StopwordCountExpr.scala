package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The stopword-count kernel of the Spark-expression quality score
  * (`graft.text.QualityScoreReference`), which
  * [[GopherKernels.qualityScore]] folds into its one walk. */
object StopwordCount {

  /** Stopword OCCURRENCE count over a token array — exactly
    * `size(filter(toks, t => array_contains(stopArr, t)))`: null
    * tokens never match (array_contains yields null → dropped). */
  def apply(toks: ArrayData, stopwords: Array[UTF8String]): Int = {
    val n = toks.numElements()
    var c = 0
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        val t = toks.getUTF8String(i)
        var j = 0
        var hit = false
        while (!hit && j < stopwords.length) {
          if (stopwords(j).equals(t)) hit = true
          j += 1
        }
        if (hit) c += 1
      }
      i += 1
    }
    c
  }
}

/** array&lt;string&gt; tokens → int stopword occurrence count (see
  * [[StopwordCount.apply]]). */
case class StopwordCountExpr(child: Expression, stopwords: Seq[String])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.sql}")
  }

  override def dataType: DataType = IntegerType
  override def prettyName: String = "stopword_count"

  @transient private lazy val stopU8: Array[UTF8String] =
    stopwords.map(UTF8String.fromString).toArray

  override def nullSafeEval(input: Any): Any =
    StopwordCount(input.asInstanceOf[ArrayData], stopU8)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stopwords", stopU8,
      "org.apache.spark.unsafe.types.UTF8String[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.StopwordCount.apply($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): StopwordCountExpr =
    copy(child = newChild)
}

