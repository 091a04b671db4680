package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.expressions.{ExpressionArgs, RollingFingerprintExpr, SimHashSignature, TokenCounts, Tokenize, WinnowFingerprintsExpr, WordNgramsExpr}

/** Column API over the native text expressions
  * ([[graft.functions.expressions]]). Output-equivalent to
  * [[TextFunctions]] (asserted by tests); used on the hot paths.
  * `register` is idempotent; operators call it before building plans.
  */
object NativeText {

  val TokenizeName    = "graft_tokenize"
  val TokenCountsName = "graft_token_counts"
  val NgramsName      = "graft_word_ngrams"
  val FingerprintName = "graft_rolling_fp"
  val SimHashName     = "graft_simhash"
  val WinnowFpName    = "graft_winnow_fp"

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      TokenizeName, es => Tokenize(es.head), "scala_udf")
    reg.createOrReplaceTempFunction(
      TokenCountsName, es => TokenCounts(es.head), "scala_udf")
    reg.createOrReplaceTempFunction(
      NgramsName,
      es => WordNgramsExpr(es(0), ExpressionArgs.literalInt(es(1), NgramsName)),
      "scala_udf")
    reg.createOrReplaceTempFunction(
      FingerprintName, es => RollingFingerprintExpr(es.head), "scala_udf")
    reg.createOrReplaceTempFunction(
      SimHashName,
      es => SimHashSignature(es(0), ExpressionArgs.literalInt(es(1), SimHashName)),
      "scala_udf")
    reg.createOrReplaceTempFunction(
      WinnowFpName,
      es => WinnowFingerprintsExpr(es(0), ExpressionArgs.literalInt(es(1), WinnowFpName)),
      "scala_udf")
  }

  /** Lower-cased whitespace tokens, empties dropped. */
  def tokens(text: Column): Column = call_function(TokenizeName, text)

  /** Generator of one `(word, cnt)` row per distinct token of each
    * partition (or of each flush, see [[TokenCounts]]): sum `cnt` per
    * word for the word count.
    */
  def tokenCounts(text: Column): Column = call_function(TokenCountsName, text)

  /** All word n-grams (with duplicates), space-joined. */
  def wordNgrams(toks: Column, n: Int): Column =
    call_function(NgramsName, toks, lit(n))

  /** Distinct word n-gram shingles. */
  def shingles(toks: Column, n: Int): Column = array_distinct(wordNgrams(toks, n))

  /** Rolling polynomial fingerprint over the token array. */
  def rollingFingerprint(toks: Column): Column =
    call_function(FingerprintName, toks)

  /** SimHash fingerprint (`bits` wide) over the token array. */
  def simhashSig(toks: Column, bits: Int): Column =
    call_function(SimHashName, toks, lit(bits))

  /** Distinct winnowing fingerprints (window `w` minima of md5-prefix
    * hashes) over a k-gram array; empty below `w` grams.
    */
  def winnowFp(grams: Column, w: Int): Column =
    call_function(WinnowFpName, grams, lit(w))
}
