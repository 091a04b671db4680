package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions

class VectorExpressionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def refCosine(a: Seq[Float], b: Seq[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    a.zip(b).foreach { case (x, y) =>
      dot += x.toDouble * y.toDouble
      na += x.toDouble * x.toDouble
      nb += y.toDouble * y.toDouble
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  test("cosine matches reference implementation (codegen path)") {
    val rnd = new scala.util.Random(42)
    val rows = (1 to 50).map { _ =>
      (Array.fill(64)(rnd.nextFloat() - 0.5f).toSeq,
        Array.fill(64)(rnd.nextFloat() - 0.5f).toSeq)
    }
    val got = rows.toDF("a", "b")
      .select(VectorFunctions.cosine(col("a"), col("b")).as("c"))
      .collect().map(_.getDouble(0))
    rows.zip(got).foreach { case ((a, b), c) =>
      assert(math.abs(c - refCosine(a.map(_.toFloat), b.map(_.toFloat))) < 1e-12)
    }
  }

  test("cosine handles zero vectors and null inputs") {
    val zero = Seq((Seq.fill(4)(0f), Seq(1f, 2f, 3f, 4f))).toDF("a", "b")
      .select(VectorFunctions.cosine(col("a"), col("b")).as("c"))
      .head.getDouble(0)
    assert(zero === 0.0)
    val withNull = Seq((None: Option[Seq[Float]], Some(Seq(1f, 2f)))).toDF("a", "b")
      .select(VectorFunctions.cosine(col("a"), col("b")).as("c"))
      .head
    assert(withNull.isNullAt(0))
  }

  test("dot and l2Norm consistent with cosine") {
    val df = Seq((Seq(1f, 2f, 2f), Seq(1f, 2f, 2f))).toDF("a", "b")
    assert(df.select(VectorFunctions.dot(col("a"), col("b"))).head.getDouble(0) === 9.0)
    assert(df.select(VectorFunctions.l2Norm(col("a"))).head.getDouble(0) === 3.0)
    assert(df.select(VectorFunctions.cosine(col("a"), col("b"))).head.getDouble(0) === 1.0)
  }

  test("pqReconstruct picks per-subspace nearest rows, ties to the lowest index") {
    // m=2 subspaces of 2 dims, k=3 rows. x = [1,0, 0,1]:
    //   subspace 0: row0 [1,0] exact (d = 1-2 = -1) beats row1/row2
    //   subspace 1: row1 [0,1] exact; row2 duplicates row1 there —
    //   the tie must resolve to the LOWER index (row1's slice)
    val cb = Seq(
      Seq(1f, 0f, 9f, 9f),
      Seq(5f, 5f, 0f, 1f),
      Seq(5f, 5f, 0f, 1f))
    val df = Seq((Seq(1f, 0f, 0f, 1f), cb)).toDF("x", "cb")
    val recon = df.select(
      VectorFunctions.pqReconstruct(col("x"), col("cb"), 2, 2, 3).as("r"))
      .head.getSeq[Float](0)
    assert(recon === Seq(1f, 0f, 0f, 1f))
    // a huge x turns argmin(|c|^2 - 2xc) into max-projection: row1
    // wins subspace 0 ([5,5]), row0 wins subspace 1 ([9,9])
    val far = Seq((Seq(100f, 100f, 100f, 100f), cb)).toDF("x", "cb")
      .select(VectorFunctions.pqReconstruct(col("x"), col("cb"), 2, 2, 3).as("r"))
      .head.getSeq[Float](0)
    assert(far === Seq(5f, 5f, 9f, 9f))
  }
}
