package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass document-signal kernels for the Gopher quality gates and
  * the soft quality score (r19 optimization round): the HOF
  * formulations dispatched five interpreted higher-order expressions
  * per document (aggregate over token lengths, three regex filters,
  * a stopword filter — ArrayFilter/ArrayAggregate are
  * CodegenFallback). Each kernel reproduces the SQL semantics
  * exactly — Spark's space-only `trim`, `split(_, regex, -1)`,
  * `rlike` = regex find() — so the derived rule booleans are
  * byte-identical (QualityRulesSpec / TextFunctionsSpec pin parity).
  */
object GopherKernels {

  private val ALPHA = java.util.regex.Pattern.compile("\\p{L}")
  private val BULLET = java.util.regex.Pattern.compile("^(•|\\*|-|–)\\s")
  private val ELLIPSIS_END = java.util.regex.Pattern.compile("(\\.\\.\\.|…)$")
  private val ELLIPSIS_ANY = java.util.regex.Pattern.compile("\\.\\.\\.|…")
  private val WS = java.util.regex.Pattern.compile("\\s+")
  private val NL = java.util.regex.Pattern.compile("\n")

  /** Spark's `trim`: strip leading/trailing SPACE (0x20) only — NOT
    * Java's String.trim (which strips all <= 0x20). */
  private def sparkTrim(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    if (a == 0 && b == s.length) s else s.substring(a, b)
  }

  /** All gopherFlags rule inputs in one walk. Fields:
    * (n_tok, len_sum, n_alpha, n_stop, n_lines, n_bullet,
    * n_ellipsis_lines, n_hash, n_ellipsis_text) — counts only; the
    * rule arithmetic stays in Column land so comparisons and float
    * divisions are the exact expressions they were.
    *
    * Token rules mirror `TextFunctions.tokens`: space-trim, then
    * `split("\\s+", -1)` unless the trimmed text is empty (so
    * tab-only text still yields empty-string tokens, like the SQL).
    * Line rules mirror `filter(split(text, "\n"), len(trim(l)) > 0)`
    * with bullet/ellipsis regexes FINDING in the trimmed line.
    * n_stop counts DISTINCT stopwords present (array_intersect ∘
    * array_distinct). n_hash counts '#' chars; n_ellipsis_text counts
    * non-overlapping `\.\.\.|…` matches over the whole text. */
  def signals(text: UTF8String, stopwords: Array[String]): InternalRow = {
    val s = text.toString
    // ---- token-grain
    var nTok = 0L
    var lenSum = 0L
    var nAlpha = 0L
    val stopSeen = new Array[Boolean](stopwords.length)
    var nStop = 0L
    val trimmed = sparkTrim(s)
    if (!trimmed.isEmpty) {
      val toks = WS.split(trimmed, -1)
      nTok = toks.length.toLong
      var i = 0
      while (i < toks.length) {
        val t = toks(i)
        lenSum += t.codePointCount(0, t.length).toLong
        if (ALPHA.matcher(t).find()) nAlpha += 1
        var j = 0
        while (j < stopwords.length) {
          if (!stopSeen(j) && stopwords(j) == t) { stopSeen(j) = true; nStop += 1 }
          j += 1
        }
        i += 1
      }
    }
    // ---- line-grain
    var nLines = 0L
    var nBullet = 0L
    var nEllLines = 0L
    val rawLines = NL.split(s, -1)
    var li = 0
    while (li < rawLines.length) {
      val l = sparkTrim(rawLines(li))
      if (!l.isEmpty) {
        nLines += 1
        if (BULLET.matcher(l).find()) nBullet += 1
        if (ELLIPSIS_END.matcher(l).find()) nEllLines += 1
      }
      li += 1
    }
    // ---- text-grain
    var nHash = 0L
    var ci = 0
    while (ci < s.length) {
      if (s.charAt(ci) == '#') nHash += 1
      ci += 1
    }
    var nEllText = 0L
    val m = ELLIPSIS_ANY.matcher(s)
    while (m.find()) nEllText += 1
    new GenericInternalRow(Array[Any](nTok, lenSum, nAlpha, nStop,
      nLines, nBullet, nEllLines, nHash, nEllText))
  }

  /** Java regex `\s` (no UNICODE_CHARACTER_CLASS): [ \t\n\x0B\f\r]. */
  private def isRegexSpace(c: Int): Boolean =
    c == ' ' || (c >= '\t' && c <= '\r')

  /** Java regex `\p{L}` or `\p{N}`: the general-category test the
    * regex engine applies per code point. */
  private val LetterOrNumber: Int =
    (1 << Character.UPPERCASE_LETTER) | (1 << Character.LOWERCASE_LETTER) |
      (1 << Character.TITLECASE_LETTER) | (1 << Character.MODIFIER_LETTER) |
      (1 << Character.OTHER_LETTER) | (1 << Character.DECIMAL_DIGIT_NUMBER) |
      (1 << Character.LETTER_NUMBER) | (1 << Character.OTHER_NUMBER)

  /** `TextFunctions.qualityScore` before its `round(_, 6)`, from one
    * decode of the document: one character walk, one token split. The
    * counts are the SQL formulation's:
    * `length(text)` is the UTF-8 char count of the raw bytes; the
    * punctuation and non-whitespace counts are the code points that
    * `regexp_replace(text, [\p{L}\p{N}\s] | \s+, "")` keeps of the
    * decoded text; tokens are `TextFunctions.tokens` (space-trim, then
    * `split(_, "\\s+", -1)` unless empty), and a token counts as a
    * stopword when its UTF-8 bytes equal a stopword's. The arithmetic
    * is the SQL's, in its order. Null text takes the SQL's null path,
    * where `least`/`greatest` skip the null operands: 0.625.
    * `stopwords` must be UTF-8 round-tripped (`UTF8String.fromString(w)
    * .toString`), as bytes compare. */
  def qualityScore(text: UTF8String, stopwords: Array[String]): Double = {
    if (text == null) return (1.0 + 0.0 + 1.0 + 0.5) / 4.0
    val len = text.numChars().toDouble
    val s = text.toString
    var punct = 0L
    var nonSpace = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (!isRegexSpace(cp)) {
        nonSpace += 1
        if (((1 << Character.getType(cp)) & LetterOrNumber) == 0) punct += 1
      }
      i += Character.charCount(cp)
    }
    val t = sparkTrim(s)
    var nTok = 0L
    var nStop = 0L
    if (!t.isEmpty) {
      val toks = WS.split(t, -1)
      nTok = toks.length.toLong
      var i = 0
      while (i < toks.length) {
        if (stopwords.contains(toks(i))) nStop += 1
        i += 1
      }
    }
    val safeNTok = math.max(nTok.toDouble, 1.0)
    val lenScore = math.min(len / 500.0, 1.0)
    val punctScore = 1.0 - math.min(punct.toDouble / math.max(len, 1.0) * 4.0, 1.0)
    val stopScore = math.min(nStop.toDouble / safeNTok * 4.0, 1.0)
    val meanTokLen = nonSpace.toDouble / safeNTok
    val tokLenScore = if (meanTokLen >= 3.0 && meanTokLen <= 10.0) 1.0 else 0.5
    (lenScore + punctScore + stopScore + tokLenScore) / 4.0
  }
}

/** string → struct of gopherFlags rule-input counts (see
  * [[GopherKernels.signals]]). */
case class GopherSignalsExpr(child: Expression, stopwords: Seq[String])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column, got ${child.dataType.sql}")

  override def dataType: DataType = StructType(Seq(
    StructField("n_tok", LongType, nullable = false),
    StructField("len_sum", LongType, nullable = false),
    StructField("n_alpha", LongType, nullable = false),
    StructField("n_stop", LongType, nullable = false),
    StructField("n_lines", LongType, nullable = false),
    StructField("n_bullet", LongType, nullable = false),
    StructField("n_ellipsis_lines", LongType, nullable = false),
    StructField("n_hash", LongType, nullable = false),
    StructField("n_ellipsis_text", LongType, nullable = false)))

  override def prettyName: String = "gopher_signals"

  @transient private lazy val stopArr: Array[String] = stopwords.toArray

  override def nullSafeEval(input: Any): Any =
    GopherKernels.signals(input.asInstanceOf[UTF8String], stopArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("gopherStopwords", stopArr,
      "java.lang.String[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.GopherKernels.signals($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): GopherSignalsExpr =
    copy(child = newChild)
}

/** string → double, [[GopherKernels.qualityScore]]: the quality score
  * before its rounding. Never null — null text scores as the SQL
  * formulation scores it. */
case class QualityScoreExpr(child: Expression, stopwords: Seq[String])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column, got ${child.dataType.sql}")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def prettyName: String = "quality_score"

  @transient private lazy val stopArr: Array[String] =
    stopwords.map(w => UTF8String.fromString(w).toString).toArray

  override def eval(input: InternalRow): Any =
    GopherKernels.qualityScore(child.eval(input).asInstanceOf[UTF8String], stopArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("qualityStopwords", stopArr, "java.lang.String[]")
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      double ${ev.value} = graft.functions.GopherKernels.qualityScore(
        ${c.isNull} ? null : ${c.value}, $ref);""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): QualityScoreExpr =
    copy(child = newChild)
}
