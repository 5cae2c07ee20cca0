package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Spark-expression formulation of [[TextFunctions.qualityScore]] — the
  * form `graft.functions.QualityScoreExpr` replaced, kept so specs can
  * pin the kernel bit for bit. As a `filter` it evaluates `split` four
  * times and each regex twice per row: a FilterExec eliminates no
  * common subexpression. */
object QualityScoreReference {

  def qualityScore(
      text: Column,
      stopwords: Seq[String] = TextFunctions.defaultStopwords): Column = {
    val toks = TextFunctions.tokens(text)
    val nTok = size(toks).cast("double")
    val safeNTok = greatest(nTok, lit(1.0))
    // length component: saturates at 500 chars
    val lenScore = least(length(text).cast("double") / 500.0, lit(1.0))
    // punctuation density: fraction of non-alnum/space chars, lower is better
    val punct = length(regexp_replace(text, "[\\p{L}\\p{N}\\s]", "")).cast("double")
    val punctScore = lit(1.0) - least(punct / greatest(length(text).cast("double"), lit(1.0)) * 4.0, lit(1.0))
    // stopword ratio: healthy natural text has some function words
    val nStop = ColumnBridge(graft.functions.StopwordCountExpr(
      ColumnBridge.expression(toks), stopwords)).cast("double")
    val stopScore = least(nStop / safeNTok * 4.0, lit(1.0))
    // mean token length: 3–10 chars is "wordlike"
    val meanTokLen = length(regexp_replace(text, "\\s+", "")).cast("double") / safeNTok
    val tokLenScore = when(meanTokLen.between(3.0, 10.0), 1.0).otherwise(0.5)
    round((lenScore + punctScore + stopScore + tokLenScore) / 4.0, 6)
  }
}
