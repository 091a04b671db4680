package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction}
import org.apache.spark.sql.functions.udaf

/** The TYPED `Aggregator` UDAF surface — the public Dataset-friendly
  * custom-aggregate API (the four sketch UDAFs use the lower-level
  * Catalyst `TypedImperativeAggregate`; a user extending the engine
  * reaches for THIS one). Buffers are case classes behind product
  * encoders, constant-size and mergeable, so partial aggregation
  * runs on both sides of the shuffle exactly like a built-in.
  */
object AggregatorFunctions {

  case class GeoAcc(sumLn: Double, n: Long)

  /** Geometric mean as `exp(mean(ln x))` over positive inputs —
    * the multiplicative average (ratios, growth factors) that a
    * plain product would overflow on long groups; the log-space
    * buffer keeps it a two-double state at any group size.
    */
  object GeoMean extends Aggregator[Double, GeoAcc, Double] {
    def zero: GeoAcc = GeoAcc(0.0, 0L)
    def reduce(b: GeoAcc, x: Double): GeoAcc =
      if (x > 0.0) GeoAcc(b.sumLn + math.log(x), b.n + 1) else b
    def merge(a: GeoAcc, b: GeoAcc): GeoAcc =
      GeoAcc(a.sumLn + b.sumLn, a.n + b.n)
    def finish(b: GeoAcc): Double =
      if (b.n == 0) Double.NaN else math.exp(b.sumLn / b.n)
    def bufferEncoder: Encoder[GeoAcc] = Encoders.product[GeoAcc]
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** [[GeoMean]] as a column function, named as SQL calls it. */
  val geoMean: UserDefinedFunction = udaf(GeoMean).withName("graft_geomean")
}
