package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{NativeText, SketchFunctions, VectorFunctions}
import graft.operators.{DedupOps, EventsOps, LayoutOps}

/** The Column API builds each native expression directly, so it needs
  * no function registry; only SQL text needs the one function table
  * ([[GraftExtensions.functions]]).
  */
class FunctionTableSpec extends AnyFunSuite {

  private def graftFunctions(s: SparkSession): Seq[String] =
    s.sessionState.functionRegistry.listFunction().map(_.funcName)
      .filter(_.startsWith("graft_"))

  test("every Column API runs in a fresh session and registers nothing") {
    val s = TestSpark.spark.newSession()
    import s.implicits._
    assert(graftFunctions(s).isEmpty)

    val docs = Seq((1L, "The cat sat on the mat"), (2L, "the dog sat")).toDF("doc_id", "text")
    val toks = NativeText.tokens(col("text"))
    val text = docs.orderBy("doc_id").select(toks, NativeText.wordNgrams(toks, 2),
      NativeText.rollingFingerprint(toks), NativeText.simhashSig(toks, 20),
      NativeText.winnowFp(NativeText.wordNgrams(toks, 2), 2)).collect()
    assert(text(0).getSeq[String](0) === Seq("the", "cat", "sat", "on", "the", "mat"))
    assert(text(1).getSeq[String](1) === Seq("the dog", "dog sat"))
    assert(text(0).getLong(2) !== text(1).getLong(2))
    assert(text(0).getSeq[Long](4).nonEmpty)
    val counts = docs.select(NativeText.tokenCounts(col("text")))
      .groupBy("word").agg(sum("cnt")).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("the") === 3L && counts("sat") === 2L && counts.size === 6)

    val vec = Seq((Array(1f, 0f), Array(Array(1f, 0f)))).toDF("x", "cb")
      .select(VectorFunctions.cosine(col("x"), col("x")), VectorFunctions.dot(col("x"), col("x")),
        VectorFunctions.pqReconstruct(col("x"), col("cb"), 1, 2, 1),
        VectorFunctions.pqDecode(VectorFunctions.pqEncode(col("x"), col("cb"), 1, 2, 1),
          col("cb"), 1, 2)).head
    assert(vec.getDouble(0) === 1.0 && vec.getDouble(1) === 1.0)
    assert(vec.getSeq[Float](2) === Seq(1f, 0f) && vec.getSeq[Float](3) === Seq(1f, 0f))

    val keys = s.range(200).select((col("id") % 20).as("h"), (col("id") % 10).cast("double").as("v"))
    val sk = keys.agg(SketchFunctions.kmvEst(col("h").cast("double"), 64),
      SketchFunctions.histQuantile(col("v"), 0.0, 10.0, 10, 0.5),
      SketchFunctions.cms(col("h"), 2, 8).as("cms"), SketchFunctions.bloom(col("h"), 4, 64).as("bf"))
    val probed = sk.select(col("*"), SketchFunctions.cmsProbe(col("cms"), lit(3L), 2, 8),
      SketchFunctions.bloomProbe(col("bf"), lit(3L), 4, 64)).head
    assert(probed.getLong(0) === 20L)
    assert(probed.getDouble(1) > 0.0 && probed.getDouble(1) < 10.0)
    assert(probed.getLong(4) >= 10L)
    assert(probed.getBoolean(5))

    val cells = s.range(16).select(LayoutOps.hValue((col("id") / 4).cast("long"), col("id") % 4))
      .collect().map(_.getLong(0))
    assert(cells.distinct.length === 16 && cells.forall(_ >= 0))
    val bands = DedupOps.bandsOf(Seq((1L, Seq("a b", "b c"))).toDF("doc_id", "sh"))
    assert(bands.count() === DedupOps.NumBands.toLong)
    val geo = EventsOps.geoMeanByType(Seq(("a", 1.0), ("a", 4.0)).toDF("event_type", "value")).head
    assert(geo.getDouble(2) === 2.0)

    assert(graftFunctions(s).isEmpty,
      "a Column API registered SQL functions in the session")
  }

  test("GraftExtensions.register installs every table entry, each name once") {
    val s = TestSpark.spark.newSession()
    GraftExtensions.register(s)
    val names = GraftExtensions.functions.map(_._1.funcName)
    assert(names.distinct.length === names.length)
    names.foreach { n =>
      assert(s.sessionState.functionRegistry.functionExists(FunctionIdentifier(n)), n)
    }
    assert(graftFunctions(s).sorted === names.sorted)
    assert(s.sql("DESCRIBE FUNCTION graft_tokenize").collect().map(_.getString(0))
      .exists(_.contains("lower+whitespace-split")))
  }
}
