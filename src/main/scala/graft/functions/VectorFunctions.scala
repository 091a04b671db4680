package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumn
import org.apache.spark.sql.GraftColumn.expr
import org.apache.spark.sql.functions._

import graft.functions.expressions.{CosineSimilarityFloat, DotProductFloat, PqDecodeFloat, PqEncodeInts, PqReconstructFloat}

/** Column-level API for the native vector expressions. Each column
  * holds its expression directly: no registration, any session.
  */
object VectorFunctions {

  /** Cosine similarity of two array<float> columns (double result). */
  def cosine(a: Column, b: Column): Column =
    GraftColumn(CosineSimilarityFloat(expr(a), expr(b)))

  /** Dot product of two array<float> columns (double result). */
  def dot(a: Column, b: Column): Column = GraftColumn(DotProductFloat(expr(a), expr(b)))

  /** L2 norm of an array<float> column. */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** PQ encode+reconstruct of an array<float> against an
    * array<array<float>> codebook (m subspaces of sub dims, k rows).
    */
  def pqReconstruct(x: Column, cb: Column, m: Int, sub: Int, k: Int): Column =
    GraftColumn(PqReconstructFloat(expr(x), expr(cb), m, sub, k))

  /** PQ code word (array<int> of length m) of an array<float> against
    * an array<array<float>> codebook — the persisted-index payload.
    */
  def pqEncode(x: Column, cb: Column, m: Int, sub: Int, k: Int): Column =
    GraftColumn(PqEncodeInts(expr(x), expr(cb), m, sub, k))

  /** Reassemble a code word into its reconstruction (bit-equal to
    * [[pqReconstruct]] of the original vector).
    */
  def pqDecode(codes: Column, cb: Column, m: Int, sub: Int): Column =
    GraftColumn(PqDecodeFloat(expr(codes), expr(cb), m, sub))
}
