package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalacheck.{Gen, Test}
import org.scalacheck.Prop.{forAllNoShrink, propBoolean}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.WordCountOps
import graft.plans.CodedShuffleSim

class CodedShuffleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val docs = Tables.documents(spark, TestSpark.Sf0001).cache()

  test("coded shuffle reduces packets and decode is exact") {
    val r = CodedShuffleSim.simulate(docs)
    assert(r.decodedOk, "XOR decode must reproduce the exact word counts")
    assert(r.encodedPackets > 0, "fixture should offer coding opportunities")
    assert(r.packetsSent == r.naivePackets - r.encodedPackets)
    assert(r.packetsSent < r.naivePackets)
    // theoretical bound: coding at replication r=2 saves at most half
    assert(r.packetsSent * 2 >= r.naivePackets)
  }

  test("simulation is deterministic") {
    val a = CodedShuffleSim.simulate(docs)
    val b = CodedShuffleSim.simulate(docs)
    assert(a === b)
  }

  /** The md5-prefix topology hash, computed without Spark. */
  private def topoHash(s: String): Long = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(md5.take(15), 16) % 4294967291L
  }

  /** The closed form over the distinct (node-set, word) partials of a
    * corpus whose text is single-space-separated lower-case words. A
    * null source has no node-set: its partials only go unicast.
    */
  private def closedForm(corpus: Seq[(String, String)]): CodedShuffleSim.Result = {
    val partials = corpus.flatMap { case (source, text) =>
      val p = Option(source).map(s => (topoHash(s) % 3).toInt)
      text.split(" ").filter(_.nonEmpty).map(w => (p, w))
    }.distinct
    val encoded = partials.collect { case (Some(p), w) => (p, w) }.groupBy { case (p, w) =>
      if (topoHash(w) % 2 == 0) p else (p + 1) % 3
    }.map { case (e, ps) =>
      def n(dp: Int, dt: Int) =
        ps.count { case (p, w) => p == (e + dp) % 3 && topoHash(w) % 3 == (e + dt) % 3 }
      val (l1, l2, r1, r2) = (n(2, 0), n(2, 1), n(0, 2), n(0, 0))
      val x22 = math.min(l2, r2)
      val x21 = math.min(l2 - x22, r1)
      x22 + x21 + math.min(l1, r1 - x21)
    }.sum.toLong
    CodedShuffleSim.Result(partials.size, partials.size - encoded, encoded, decodedOk = true)
  }

  test("simulate equals the closed form on random corpora") {
    import spark.implicits._
    val word = Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'd')))
      .map(_.mkString)
    val source = Gen.frequency(1 -> Gen.const(null),
      8 -> Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, Gen.alphaNumChar)).map(_.mkString))
    val corpus = Gen.listOfN(6, source).flatMap { sources =>
      Gen.listOf(Gen.zip(Gen.oneOf(sources), Gen.listOf(word).map(_.take(25).mkString(" "))))
        .map(_.take(30))
    }
    val prop = forAllNoShrink(corpus) { c =>
      val r = CodedShuffleSim.simulate(c.toDF("source", "text"))
      val want = closedForm(c)
      (r == want) :| s"got $r, closed form $want" &&
        (2 * r.packetsSent >= r.naivePackets) :| "coding saves at most half"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status)
  }

  test("simulate runs one action") {
    val s = spark.newSession()
    val fresh = Tables.documents(s, TestSpark.Sf0001)
    val actions = new ConcurrentLinkedQueue[String]
    val sentinel = new CountDownLatch(1)
    s.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        actions.add(funcName)
        if (qe.analyzed.toString.contains("Range (0, 4242")) sentinel.countDown()
      }
      override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
        actions.add(s"$funcName failed")
    })
    CodedShuffleSim.simulate(fresh)
    // listener events arrive in order: once the sentinel's is here,
    // every event of the simulation is too
    s.range(0, 4242).count()
    assert(sentinel.await(60, TimeUnit.SECONDS), "sentinel action never reported")
    assert(actions.size === 2, s"actions: $actions")
  }

  test("tsv sink round-trips the wordcount (reference O11)") {
    // raw `word TAB count` lines, read back without a CSV reader: words
    // with quotes and commas must come back exactly as counted
    import spark.implicits._
    val quoted = Seq("say \"hello\" to a,b", "\"hello\" x,\"y\" \"").toDF("text")
    val dir = java.nio.file.Files.createTempDirectory("graft-tsv").toString
    val wc = WordCountOps.wordCount(docs.select("text").union(quoted))
    WordCountOps.writeTsv(wc, dir)
    val back = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-"))
      .flatMap(f => java.nio.file.Files.readAllLines(f.toPath).toArray(Array.empty[String]))
      .map { line =>
        val tab = line.lastIndexOf('\t')
        line.substring(0, tab) -> line.substring(tab + 1).toLong
      }
    val expect = wc.collect().map(r => r.getString(0) -> r.getLong(1))
    assert(back.length === expect.length)
    assert(back.toMap === expect.toMap)
    assert(back.toMap.get("\"hello\"") === Some(2L))
    assert(back.toMap.get("x,\"y\"") === Some(1L))
  }
}
