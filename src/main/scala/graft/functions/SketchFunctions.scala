package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumn
import org.apache.spark.sql.GraftColumn.expr
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction

import graft.functions.expressions.{BloomAgg, BloomProbe, CmsProbe, CountMinAgg, HistQuantile, KmvDistinctEstimate}

/** Column API over the sketch aggregates and their probes. Each column
  * holds its expression directly: no registration, any session.
  */
object SketchFunctions {

  private def agg(f: AggregateFunction): Column = GraftColumn(f.toAggregateExpression())

  /** KMV distinct-count estimate over a 60-bit hash column (double). */
  def kmvEst(hash: Column, k: Int): Column = agg(KmvDistinctEstimate(expr(hash), k))

  /** Fixed-grid histogram quantile estimate (constant-size mergeable
    * buffer; see [[graft.functions.expressions.HistQuantile]]).
    */
  def histQuantile(value: Column, lo: Double, hi: Double,
                   bins: Int, p: Double): Column =
    agg(HistQuantile(expr(value), lo, hi, bins, p))

  /** Count-min sketch grid (d×w flattened) over a 60-bit hash column
    * (long); see [[graft.functions.expressions.CountMinAgg]].
    */
  def cms(hash: Column, d: Int, w: Int): Column = agg(CountMinAgg(expr(hash), d, w))

  /** Point estimate (min over rows) of a key's count in a CMS grid. */
  def cmsProbe(sketch: Column, hash: Column, d: Int, w: Int): Column =
    GraftColumn(CmsProbe(expr(sketch), expr(hash), d, w))

  /** Bloom bitmap (mBits/64 longs) over a 60-bit hash column (long);
    * see [[graft.functions.expressions.BloomAgg]].
    */
  def bloom(hash: Column, k: Int, mBits: Int): Column = agg(BloomAgg(expr(hash), k, mBits))

  /** Membership probe (boolean) of a key hash in a bloom bitmap. */
  def bloomProbe(sketch: Column, hash: Column, k: Int, mBits: Int): Column =
    GraftColumn(BloomProbe(expr(sketch), expr(hash), k, mBits))
}
