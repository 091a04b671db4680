package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.WordCountOps
import graft.plans.CodedShuffleSim

class CodedShuffleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val docs = Tables.documents(spark, TestSpark.Sf0001).cache()

  test("coded shuffle reduces packets and decode is exact") {
    val acc = spark.sparkContext.longAccumulator("packetsSent")
    val accEnc = spark.sparkContext.longAccumulator("encodedPacketsSent")
    val r = CodedShuffleSim.simulate(docs, Some(acc), Some(accEnc), checkDecode = true)
    assert(r.decodedOk, "XOR decode must reproduce the exact word counts")
    assert(r.encodedPackets > 0, "fixture should offer coding opportunities")
    assert(r.packetsSent == r.naivePackets - r.encodedPackets)
    assert(r.packetsSent < r.naivePackets)
    // theoretical bound: coding at replication r=2 saves at most half
    assert(r.packetsSent * 2 >= r.naivePackets)
    // O14 counter analog
    assert(acc.value === r.packetsSent)
    assert(accEnc.value === r.encodedPackets)
  }

  test("simulation is deterministic") {
    val a = CodedShuffleSim.simulate(docs)
    val b = CodedShuffleSim.simulate(docs)
    assert(a === b)
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
