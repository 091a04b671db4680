package graft

import org.apache.spark.sql.{GraftColumn, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.AggregatorFunctions
import graft.functions.expressions._
import graft.functions.expressions.ExpressionArgs.{literalDouble, literalInt}
import graft.operators.{DedupOps, LayoutOps}

/** `spark.sql.extensions` entry point: installs every graft native
  * expression as a SQL function at session build time, so a cluster
  * user gets the full SQL surface with
  * `--conf spark.sql.extensions=graft.GraftExtensions`.
  *
  * Only SQL text needs the table. The Column API
  * (`NativeText`, `VectorFunctions`, `SketchFunctions`, ...) builds the
  * same expressions directly and works in any session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(e.injectFunction)
}

object GraftExtensions {

  type Builder = Seq[Expression] => Expression

  /** A call's arguments; `int`/`double` require a constant, named in the error. */
  private final class Args(name: String, val all: Seq[Expression]) {
    def apply(i: Int): Expression = all(i)
    def int(i: Int): Int = literalInt(all(i), name)
    def double(i: Int): Double = literalDouble(all(i), name)
  }

  private def fn(name: String, usage: String)(build: Args => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, ""),
      (es: Seq[Expression]) => build(new Args(name, es)))

  /** Every graft SQL function: (name, usage, builder). Each call builds
    * new entries, so a re-install replaces (and logs) an injected one.
    */
  def functions: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    fn("graft_tokenize", "lower+whitespace-split+drop-empty tokens") { a => Tokenize(a(0)) },
    fn("graft_token_counts", "per-partition (word, cnt) partials of the tokens") { a =>
      TokenCounts(a(0)) },
    fn("graft_word_ngrams", "space-joined word n-grams") { a => WordNgramsExpr(a(0), a.int(1)) },
    fn("graft_rolling_fp", "rolling polynomial fingerprint") { a => RollingFingerprintExpr(a(0)) },
    fn("graft_simhash", "simhash fingerprint of a token array") { a =>
      SimHashSignature(a(0), a.int(1)) },
    fn("graft_winnow_fp", "distinct winnowing fingerprints of a k-gram array") { a =>
      WinnowFingerprintsExpr(a(0), a.int(1)) },
    fn("graft_minhash_sig", "minhash signature of a shingle set") { a =>
      MinHashSignature(a(0), DedupOps.NumHashes, DedupOps.P) },
    fn("graft_cosine", "cosine similarity of two float vectors") { a =>
      CosineSimilarityFloat(a(0), a(1)) },
    fn("graft_dot", "dot product of two float vectors") { a => DotProductFloat(a(0), a(1)) },
    fn("graft_pq_reconstruct", "product-quantization encode + reconstruct") { a =>
      PqReconstructFloat(a(0), a(1), a.int(2), a.int(3), a.int(4)) },
    fn("graft_pq_encode", "product-quantization code word (m ints)") { a =>
      PqEncodeInts(a(0), a(1), a.int(2), a.int(3), a.int(4)) },
    fn("graft_pq_decode", "reassemble a PQ code word into its reconstruction") { a =>
      PqDecodeFloat(a(0), a(1), a.int(2), a.int(3)) },
    fn("graft_kmv_est", "KMV distinct-count estimate aggregate") { a =>
      KmvDistinctEstimate(a(0), a.int(1)) },
    fn("graft_hist_quantile", "fixed-grid histogram quantile aggregate") { a =>
      HistQuantile(a(0), a.double(1), a.double(2), a.int(3), a.double(4)) },
    fn("graft_cms", "count-min sketch grid aggregate") { a =>
      CountMinAgg(a(0), a.int(1), a.int(2)) },
    fn("graft_cms_probe", "count-min sketch point estimate") { a =>
      CmsProbe(a(0), a(1), a.int(2), a.int(3)) },
    fn("graft_bloom", "bloom filter bitmap aggregate") { a => BloomAgg(a(0), a.int(1), a.int(2)) },
    fn("graft_bloom_probe", "bloom filter membership probe") { a =>
      BloomProbe(a(0), a(1), a.int(2), a.int(3)) },
    fn("graft_hilbert", "Hilbert curve distance of a 2-D cell") { a =>
      HilbertIndex(a(0), a(1), LayoutOps.HBits) },
    fn("graft_geomean", "geometric mean of the positive values (typed Aggregator)") { a =>
      GraftColumn.expr(AggregatorFunctions.geoMean(a.all.map(GraftColumn(_)): _*)) })

  /** Installs [[functions]] into a session that is already running,
    * for SQL text in a session built without the extension.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, build) => registry.registerFunction(id, info, build) }
  }
}
