package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.GraftColumn
import org.apache.spark.sql.GraftColumn.expr
import org.apache.spark.sql.functions._

import graft.functions.expressions.{RollingFingerprintExpr, SimHashSignature, TokenCounts, Tokenize, WinnowFingerprintsExpr, WordNgramsExpr}

/** Column API over the native text expressions
  * ([[graft.functions.expressions]]). Output-equivalent to
  * [[TextFunctions]] (asserted by tests); used on the hot paths. Each
  * column holds its expression directly: no registration, any session.
  */
object NativeText {

  /** Installs the graft SQL functions ([[graft.GraftExtensions.register]]);
    * only SQL text needs them.
    */
  def register(spark: SparkSession): Unit = graft.GraftExtensions.register(spark)

  /** Lower-cased whitespace tokens, empties dropped. */
  def tokens(text: Column): Column = GraftColumn(Tokenize(expr(text)))

  /** Generator of one `(word, cnt)` row per distinct token of each
    * partition (or of each flush, see [[TokenCounts]]): sum `cnt` per
    * word for the word count.
    */
  def tokenCounts(text: Column): Column = GraftColumn(TokenCounts(expr(text)))

  /** All word n-grams (with duplicates), space-joined. */
  def wordNgrams(toks: Column, n: Int): Column =
    GraftColumn(WordNgramsExpr(expr(toks), n))

  /** Distinct word n-gram shingles. */
  def shingles(toks: Column, n: Int): Column = array_distinct(wordNgrams(toks, n))

  /** Rolling polynomial fingerprint over the token array. */
  def rollingFingerprint(toks: Column): Column =
    GraftColumn(RollingFingerprintExpr(expr(toks)))

  /** SimHash fingerprint (`bits` wide) over the token array. */
  def simhashSig(toks: Column, bits: Int): Column =
    GraftColumn(SimHashSignature(expr(toks), bits))

  /** Distinct winnowing fingerprints (window `w` minima of md5-prefix
    * hashes) over a k-gram array; empty below `w` grams.
    */
  def winnowFp(grams: Column, w: Int): Column =
    GraftColumn(WinnowFingerprintsExpr(expr(grams), w))
}
