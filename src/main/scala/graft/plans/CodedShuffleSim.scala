package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.NativeText

/** Faithful simulation of the reference's coded-shuffle *intended*
  * semantics (SURVEY.md §0/§4): trade map redundancy for shuffle
  * packets by XOR-combining two partial aggregates addressed to
  * different reducers into one multicast packet.
  *
  * Reference mapping:
  *  - topology: 3 nodes, replication 2, hard-coded
  *    (`WordCount.java:141,174`) — here: each source is stored on the
  *    node pair `{p, (p+1)%3}` with `p = srcHash(source) % 3`;
  *  - partial aggregates per (node-set, word) = the combiner output
  *    (`WordCount.java:94-103`);
  *  - encoder: two partials whose node sets overlap in EXACTLY one
  *    node and whose words hash to different reducers are XOR'd and
  *    multicast as ONE packet (`WordCount.java:135-183`: same-set
  *    pairs — overlap 2 — are rejected); each partial is encoded at
  *    exactly one of its two replica nodes;
  *  - decode: each reducer strips the half it already knows from
  *    its own map phase — implemented against the CORRECT key,
  *    fixing the reference's wrong-key lookup (§0.1.2,
  *    `WordCount.java:255-258`) and its cross-JVM static-map side
  *    channel (§0.1.1);
  *  - counters `PACKETS_SENT` / `ENCODED_PACKETS_SENT`
  *    (`WordCountDriver.java:17-20`) = [[Result]] fields.
  *
  * Pairing policy (round-10): the reference's encoder is a greedy
  * cache scan whose pair count depends on partial ARRIVAL ORDER —
  * nondeterministic across real runs, so any deterministic policy is
  * an equally faithful realization of the intended "pair overlap-1
  * partials addressed to different reducers" semantics. This sim
  * uses rank-zip matching: at encoder node e the pairable
  * compatibility classes form the capacitated path
  * L1(p=e-1,tgt=e) — R1(p=e,tgt=e-1) — L2(p=e-1,tgt=e+1) — R2(p=e,tgt=e)
  * (tgt outside the partner's replica set can never pair), and the
  * endpoint-first allocation x22 = min(L2,R2), x21 = min(L2-x22,R1),
  * x11 = min(L1,R1-x21) is a MAXIMUM matching on a path (exchange
  * argument), so the coding gain is at least what any greedy run
  * achieves. Entries zip in word order within their class, so every
  * counter is a closed form the DuckDB oracle reproduces: the
  * registry row carries a full hash-gated oracle, not a rows-only
  * check.
  *
  * Execution shape: one Spark action. The partials are an ordinary
  * two-exchange aggregate; `groupByKey(enc)` then hands each simulated
  * encoder node its own partials, and [[encode]] classes, zips, XORs
  * and decodes them in one pass, emitting one delivered row per
  * partial. Those rows meet an independent word count of the same
  * documents (the `graft_token_counts` kernel, negated) in one
  * per-word aggregate, where each word's sum must be 0; one row over
  * it yields every counter, the failed strips and the mismatching
  * words. Five jobs, one per exchange and the result. Counters
  * are counted from output rows, not task-side accumulators, so task
  * retry or speculation cannot double-count; the exact decode check
  * runs on every call.
  *
  * Memory: an encoder group holds its own partials in memory — at most
  * one per word (a word's hash parity fixes which replica node encodes
  * each of its node-sets, and no two of them land on the same node), so
  * the vocabulary, never the corpus — like the in-memory coding cache
  * of the reference's combiner. That is the trade-off: unlike a sorted
  * window, a group cannot spill. Only 3 tasks do the coding, one per
  * simulated node; that is the 3-node topology, not a limit of the
  * engine, and the counts stay closed-form whatever the engine does.
  */
object CodedShuffleSim {

  final case class Result(
      naivePackets: Long,      // partial aggregates, uncoded unicast
      packetsSent: Long,       // with coding: coded pairs count once
      encodedPackets: Long,    // packets that carried 2 words
      decodedOk: Boolean)      // no failed strip, and decoded counts == the word count

  /** Combiner output: `cnt` occurrences of `word` on node-set `p`,
    * bound for reducer `tgt`, encoded at replica node `enc`.
    */
  final case class Partial(p: Int, tgt: Int, enc: Int, word: String, cnt: Long)

  /** One partial as its reducer recovers it; `cnt` is None when the
    * reducer could not strip the partner half of its packet.
    */
  final case class Delivered(word: String, cnt: Option[Long], coded: Boolean)

  private val Nodes = 3

  /** Cross-engine hash for topology placement: the md5-prefix word
    * hash ([[graft.functions.TextFunctions.wordHash]]), reproducible
    * in DuckDB as `('0x' || substr(md5(x),1,15))::UBIGINT % 4294967291`.
    */
  private def topoHash(c: Column): Column =
    graft.functions.TextFunctions.wordHash(c)

  /** Node `k` replicates node-sets `k` and `k-1`. */
  private def holds(node: Int, p: Int): Boolean =
    p == node || p == (node + Nodes - 1) % Nodes

  /** One encoder node `enc`: rank-zip its pairable classes, XOR each
    * pair into one payload, and strip each half at its target. A
    * target may strip only a partner whose node-set it replicates —
    * what the reference's static-map side channel faked; anything else
    * is a failed strip. Unpaired partials go out unicast.
    */
  private[plans] def encode(enc: Int, partials: Iterator[Partial]): Iterator[Delivered] = {
    val prev = (enc + Nodes - 1) % Nodes
    val next = (enc + 1) % Nodes
    val all = partials.toArray.sortBy(_.word)
    val cls = all.groupBy { x =>
      if (x.p == prev && x.tgt == enc) "L1"
      else if (x.p == prev && x.tgt == next) "L2"
      else if (x.p == enc && x.tgt == prev) "R1"
      else if (x.p == enc && x.tgt == enc) "R2"
      else "U"  // target outside the partner replica set: unicast-only
    }.withDefaultValue(Array.empty[Partial])
    // the zips ARE the allocation: x22, then x21 and x11 on what is left
    val a = cls("L2") zip cls("R2")
    val b = cls("L2").drop(a.length) zip cls("R1")
    val c = cls("L1") zip cls("R1").drop(b.length)
    val pairs = a ++ b ++ c
    val paired = pairs.iterator.flatMap { case (l, r) => Iterator(l, r) }.toSet
    def strip(at: Partial, partner: Partial, payload: Long) = Delivered(at.word,
      Option.when(holds(at.tgt, partner.p))(payload ^ partner.cnt), coded = true)
    pairs.iterator.flatMap { case (l, r) =>
      val payload = l.cnt ^ r.cnt
      Iterator(strip(l, r, payload), strip(r, l, payload))
    } ++ all.iterator.filterNot(paired).map(x => Delivered(x.word, Some(x.cnt), coded = false))
  }

  /** Run the simulation over the (node-set, word) partial aggregates
    * of `docs` and verify the decoded stream against the true word
    * counts — one Spark action.
    */
  def simulate(docs: DataFrame): Result = {
    val spark = docs.sparkSession
    import spark.implicits._
    NativeText.register(spark)

    // combiner output per (node-set p, word); reducer target and
    // encoder replica node are column expressions of the cross-engine
    // hash. A null source has no node-set: p = enc = -1 leaves its
    // group without left classes, so it goes unicast, as in the oracle
    val wh = topoHash(col("word"))
    val partials = docs
      .select((topoHash(col("source")) % Nodes).cast("int").as("p"),
        explode(NativeText.tokens(col("text"))).as("word"))
      .groupBy("p", "word").agg(count(lit(1)).as("cnt"))
      .select(coalesce(col("p"), lit(-1)).as("p"), (wh % Nodes).cast("int").as("tgt"),
        coalesce(when(wh % 2 === 0, col("p")).otherwise(pmod(col("p") + 1, lit(Nodes)))
          .cast("int"), lit(-1)).as("enc"),
        col("word"), col("cnt"))
      .as[Partial]

    // the true counts enter negated (coded = null): per word, the
    // decoded rows must cancel them exactly
    val truth = docs.select(NativeText.tokenCounts(col("text")))
      .select(col("word"), (-col("cnt")).as("cnt"), lit(null).cast("boolean").as("coded"))
    val perWord = partials.groupByKey(_.enc).flatMapGroups(encode).toDF()
      .unionByName(truth)
      .groupBy("word").agg(sum("cnt").as("diff"), count(col("coded")).as("rows"),
        count(when(col("coded"), 1)).as("coded_rows"),
        count(when(col("coded").isNotNull && col("cnt").isNull, 1)).as("failed"))
    val row = perWord.agg(
        coalesce(sum("rows"), lit(0L)), coalesce(sum("coded_rows"), lit(0L)),
        coalesce(sum("failed"), lit(0L)), count(when(col("diff") =!= 0L, 1)))
      .head()

    // a coded pair is TWO delivered rows for ONE packet; a unicast row is one
    val naivePackets = row.getLong(0)
    val encodedPackets = row.getLong(1) / 2
    Result(naivePackets, naivePackets - encodedPackets, encodedPackets,
      decodedOk = row.getLong(2) == 0L && row.getLong(3) == 0L)
  }

  /** DataFrame form for the query registry: one deterministic row,
    * every column reproduced in closed form by the DuckDB oracle
    * (the rank-zip counts are the path maximum matching; decoded_ok
    * is TRUE by the pairing's decodability-by-construction, which the
    * Spark side verifies against an independent word count).
    */
  def asDataFrame(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val r = simulate(docs)
    import spark.implicits._
    Seq((r.naivePackets, r.packetsSent, r.encodedPackets,
      math.floor(r.packetsSent.toDouble / r.naivePackets * 10000 + 0.5) / 10000.0,
      r.decodedOk))
      .toDF("naive_packets", "packets_sent", "encoded_packets", "load_ratio", "decoded_ok")
  }
}
