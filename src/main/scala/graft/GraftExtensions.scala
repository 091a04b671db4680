package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.expressions._
import graft.operators.DedupOps

/** `spark.sql.extensions` entry point: installs every graft native
  * expression as a SQL function at session build time, so a cluster
  * user gets the full surface with
  * `--conf spark.sql.extensions=graft.GraftExtensions` — no
  * per-session registration calls.
  *
  * The same functions are also registered imperatively by the
  * operators (`NativeText.register` / `VectorFunctions.register`) for
  * sessions built without the extension.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    def info(name: String, usage: String) =
      new ExpressionInfo(classOf[GraftExtensions].getName, name)

    e.injectFunction((FunctionIdentifier("graft_tokenize"),
      info("graft_tokenize", "lower+whitespace-split+drop-empty tokens"),
      exprs => Tokenize(exprs.head)))
    e.injectFunction((FunctionIdentifier("graft_token_counts"),
      info("graft_token_counts", "per-partition (word, cnt) partials of the tokens"),
      exprs => TokenCounts(exprs.head)))
    e.injectFunction((FunctionIdentifier("graft_word_ngrams"),
      info("graft_word_ngrams", "space-joined word n-grams"),
      exprs => WordNgramsExpr(exprs(0),
        ExpressionArgs.literalInt(exprs(1), "graft_word_ngrams"))))
    e.injectFunction((FunctionIdentifier("graft_rolling_fp"),
      info("graft_rolling_fp", "rolling polynomial fingerprint"),
      exprs => RollingFingerprintExpr(exprs.head)))
    e.injectFunction((FunctionIdentifier("graft_minhash_sig"),
      info("graft_minhash_sig", "minhash signature of a shingle set"),
      exprs => MinHashSignature(exprs.head, DedupOps.NumHashes, DedupOps.P)))
    e.injectFunction((FunctionIdentifier("graft_cosine"),
      info("graft_cosine", "cosine similarity of two float vectors"),
      exprs => CosineSimilarityFloat(exprs(0), exprs(1))))
    e.injectFunction((FunctionIdentifier("graft_dot"),
      info("graft_dot", "dot product of two float vectors"),
      exprs => DotProductFloat(exprs(0), exprs(1))))
    e.injectFunction((FunctionIdentifier("graft_kmv_est"),
      info("graft_kmv_est", "KMV distinct-count estimate aggregate"),
      exprs => KmvDistinctEstimate(exprs(0),
        ExpressionArgs.literalInt(exprs(1), "graft_kmv_est"))))
    e.injectFunction((FunctionIdentifier("graft_simhash"),
      info("graft_simhash", "simhash fingerprint of a token array"),
      exprs => SimHashSignature(exprs(0),
        ExpressionArgs.literalInt(exprs(1), "graft_simhash"))))
    e.injectFunction((FunctionIdentifier("graft_winnow_fp"),
      info("graft_winnow_fp", "distinct winnowing fingerprints of a k-gram array"),
      exprs => WinnowFingerprintsExpr(exprs(0),
        ExpressionArgs.literalInt(exprs(1), "graft_winnow_fp"))))
    e.injectFunction((FunctionIdentifier("graft_cms"),
      info("graft_cms", "count-min sketch grid aggregate"),
      exprs => CountMinAgg(exprs(0),
        ExpressionArgs.literalInt(exprs(1), "graft_cms"),
        ExpressionArgs.literalInt(exprs(2), "graft_cms"))))
    e.injectFunction((FunctionIdentifier("graft_cms_probe"),
      info("graft_cms_probe", "count-min sketch point estimate"),
      exprs => CmsProbe(exprs(0), exprs(1),
        ExpressionArgs.literalInt(exprs(2), "graft_cms_probe"),
        ExpressionArgs.literalInt(exprs(3), "graft_cms_probe"))))
    e.injectFunction((FunctionIdentifier("graft_hist_quantile"),
      info("graft_hist_quantile", "fixed-grid histogram quantile aggregate"),
      exprs => HistQuantile(exprs(0),
        ExpressionArgs.literalDouble(exprs(1), "graft_hist_quantile"),
        ExpressionArgs.literalDouble(exprs(2), "graft_hist_quantile"),
        ExpressionArgs.literalInt(exprs(3), "graft_hist_quantile"),
        ExpressionArgs.literalDouble(exprs(4), "graft_hist_quantile"))))
    e.injectFunction((FunctionIdentifier("graft_pq_reconstruct"),
      info("graft_pq_reconstruct", "product-quantization encode + reconstruct"),
      exprs => PqReconstructFloat(exprs(0), exprs(1),
        ExpressionArgs.literalInt(exprs(2), "graft_pq_reconstruct"),
        ExpressionArgs.literalInt(exprs(3), "graft_pq_reconstruct"),
        ExpressionArgs.literalInt(exprs(4), "graft_pq_reconstruct"))))
    e.injectFunction((FunctionIdentifier("graft_pq_encode"),
      info("graft_pq_encode", "product-quantization code word (m ints)"),
      exprs => PqEncodeInts(exprs(0), exprs(1),
        ExpressionArgs.literalInt(exprs(2), "graft_pq_encode"),
        ExpressionArgs.literalInt(exprs(3), "graft_pq_encode"),
        ExpressionArgs.literalInt(exprs(4), "graft_pq_encode"))))
    e.injectFunction((FunctionIdentifier("graft_pq_decode"),
      info("graft_pq_decode", "reassemble a PQ code word into its reconstruction"),
      exprs => PqDecodeFloat(exprs(0), exprs(1),
        ExpressionArgs.literalInt(exprs(2), "graft_pq_decode"),
        ExpressionArgs.literalInt(exprs(3), "graft_pq_decode"))))
    e.injectFunction((FunctionIdentifier("graft_bloom"),
      info("graft_bloom", "bloom filter bitmap aggregate"),
      exprs => BloomAgg(exprs(0),
        ExpressionArgs.literalInt(exprs(1), "graft_bloom"),
        ExpressionArgs.literalInt(exprs(2), "graft_bloom"))))
    e.injectFunction((FunctionIdentifier("graft_bloom_probe"),
      info("graft_bloom_probe", "bloom filter membership probe"),
      exprs => BloomProbe(exprs(0), exprs(1),
        ExpressionArgs.literalInt(exprs(2), "graft_bloom_probe"),
        ExpressionArgs.literalInt(exprs(3), "graft_bloom_probe"))))
    e.injectFunction((FunctionIdentifier("graft_hilbert"),
      info("graft_hilbert", "Hilbert curve distance of a 2-D cell"),
      exprs => HilbertIndex(exprs(0), exprs(1),
        graft.operators.LayoutOps.HBits)))
  }
}
