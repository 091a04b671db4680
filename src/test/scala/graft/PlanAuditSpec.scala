package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Pins the shuffle-exchange counts of flagship plans — the scale
  * story is mostly "no surprise exchanges", and a silent plan
  * regression (a lost partial aggregate, a new derived-aggregate
  * self-join, a hint gone wrong) shows up here before it shows up at
  * 100 TB. Counts are on the pre-execution physical plan (AQE can
  * only remove exchanges at runtime, never add them).
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Number of shuffle exchanges (broadcast exchanges excluded). */
  private def shuffles(df: DataFrame): Int =
    df.queryExecution.executedPlan.toString
      .linesIterator
      .count(l => l.contains("Exchange hashpartitioning") ||
        l.contains("Exchange rangepartitioning") ||
        l.contains("Exchange SinglePartition"))

  private def q(name: String): DataFrame =
    Queries.queries(name)(spark, TestSpark.Sf0001)

  /** Structural leaf-scan count (file scans + cached-relation scans)
    * — immune to plan-string rendering, which prints a cached
    * relation's file-scan child as a second "Scan" line.
    */
  private def leafScans(df: DataFrame): Int =
    df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
    }.size

  /** Every query `body` executes in a fresh session, AQE's final plans
    * and actions inside the body (checkpoints, collects) included.
    */
  private def executed(body: org.apache.spark.sql.SparkSession => Unit)
      : Seq[org.apache.spark.sql.execution.QueryExecution] = {
    import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val s = spark.newSession()
    val out = new ConcurrentLinkedQueue[QueryExecution]
    val sentinel = new CountDownLatch(1)
    s.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        out.add(qe)
        if (qe.analyzed.toString.contains("Range (0, 4242")) sentinel.countDown()
      }
      override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()
    })
    body(s)
    s.range(0, 4242).count()
    assert(sentinel.await(60, TimeUnit.SECONDS), "sentinel action never reported")
    import scala.jdk.CollectionConverters._
    out.asScala.toSeq
  }

  test("wordcount: one aggregate exchange + the result sort") {
    assert(shuffles(q("wordcount")) === 2)
  }

  test("wordcount, wordcount_topk: the fused token-count generator, no explode") {
    // a silent fallback to explode(graft_tokenize) would still answer
    // right, one row per token slower
    Seq("wordcount", "wordcount_topk").foreach { name =>
      val plan = q(name).queryExecution.executedPlan.toString
      assert(plan.contains("Generate graft_token_counts("),
        s"$name must count tokens in the generator:\n$plan")
      assert(!plan.contains("explode"), s"$name must not explode tokens:\n$plan")
    }
  }

  test("writeTsv: one hash exchange, a per-partition sort by word, no range exchange") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val dir = java.nio.file.Files.createTempDirectory("graft-tsv").toString
    val qes = executed(s => graft.operators.WordCountOps.writeTsv(
      graft.operators.WordCountOps.wordCount(Tables.documents(s, TestSpark.Sf0001)), dir))
    // every executed node, AQE's final plan and query stages included
    val aqe = new AdaptiveSparkPlanHelper {}
    val writes = qes.map(qe => aqe.collect(qe.executedPlan) { case p => p })
      .filter(_.exists(_.isInstanceOf[DataWritingCommandExec]))
    assert(writes.size === 1, s"write plans: ${qes.map(_.executedPlan)}")
    val nodes = writes.head
    val partitionings = nodes.collect { case e: ShuffleExchangeExec => e.outputPartitioning }
    // one hash exchange, no range exchange (nor any other)
    assert(partitionings.map(_.getClass.getSimpleName) === Seq("HashPartitioning"),
      s"${nodes.head}")
    val sorts = nodes.collect { case x: SortExec => x }
    assert(sorts.size === 1 && !sorts.head.global, s"${nodes.head}")
    assert(sorts.head.toString.startsWith("Sort [word"), s"${nodes.head}")
  }

  test("Tables.documents launches no Spark job") {
    import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val s = spark.newSession()
    val sc = s.sparkContext
    val jobs = new ConcurrentLinkedQueue[Int]
    val sentinel = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.sentinel") == "1")
          sentinel.countDown()
        else if (sentinel.getCount > 0) jobs.add(e.jobId)
    }
    sc.addSparkListener(listener)
    try {
      Tables.documents(s, TestSpark.Sf0001)
      // job events arrive in order: once the sentinel's is here, every
      // job the load launched is too
      sc.setLocalProperty("graft.sentinel", "1")
      try s.range(0, 4343).count() finally sc.setLocalProperty("graft.sentinel", null)
      assert(sentinel.await(60, TimeUnit.SECONDS), "sentinel job never reported")
      assert(jobs.isEmpty, s"jobs launched by the load: $jobs")
    } finally sc.removeSparkListener(listener)
  }

  test("distinct_words, wordcount_observed: the token-count generator, no explode") {
    // the registry's wordcount_observed row is the collected metrics;
    // the plan that counts is the observed wordcount behind it
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    Seq("distinct_words" -> q("distinct_words"),
      "wordcount_observed" -> graft.operators.WordCountOps.wordCountObserved(docs)._1)
      .foreach { case (name, df) =>
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("Generate graft_token_counts("),
          s"$name must count tokens in the generator:\n$plan")
        assert(!plan.contains("explode"), s"$name must not explode tokens:\n$plan")
      }
  }

  test("keyed and filtered token counts run the counting kernel, never explode(tokenize)") {
    // every plan the query executes, its checkpoints and collects
    // included: a count grouped by a document key rides the
    // per-document kernel, one grouped by word alone the per-task one
    Seq("wordcount_per_source", "packets_baseline", "grouped_key_agg", "wordcount_cased",
      "tfidf_topk", "bm25_topk", "hybrid_rrf", "bpe_merge_pairs", "bpe_train_merges",
      "bpe_vocab", "bpe_encode_docs", "unigram_logprob", "dsir_weights",
      "pmi_collocations", "source_vocab_overlap", "coded_shuffle_sim").foreach { name =>
      val plans = executed(s => Queries.queries(name)(s, TestSpark.Sf0001).collect())
        .map(_.executedPlan.toString)
      assert(plans.exists(_.contains("Generate graft_token_counts(")),
        s"$name must count tokens in the kernel:\n${plans.mkString("\n")}")
      assert(!plans.exists(_.contains("explode(tokenize")),
        s"$name must not explode tokens:\n${plans.mkString("\n")}")
    }
  }

  test("q6_forecast: single-partition final aggregate only") {
    assert(shuffles(q("q6_forecast")) === 1)
  }

  test("corpus_clean_pipeline: dedup aggregate + result sort only") {
    // the quality/langid gates must stay fused map-side — a third
    // exchange means a stage leaked in front of the dedup
    assert(shuffles(q("corpus_clean_pipeline")) === 2)
  }

  test("dataset_split: aggregate + result sort only") {
    assert(shuffles(q("dataset_split")) === 2)
  }

  test("events_sessionize: one user_id shuffle reused by the aggregates") {
    // window exchange on user_id + result sort; the two groupBys
    // must reuse the window's partitioning
    assert(shuffles(q("events_sessionize")) === 2)
  }

  test("events_kmv_udaf: one aggregate exchange + result sort") {
    assert(shuffles(q("events_kmv_udaf")) === 2)
  }

  test("tfidf_topk: the five designed exchanges, no recompute join") {
    // tf aggregate + word-partition df window + doc_id rank window +
    // the 1-row N aggregate (SinglePartition) + result sort = 5; a
    // 6th exchange means the old df-join recompute came back
    assert(shuffles(q("tfidf_topk")) === 5)
  }

  test("bigram_lm: bigram aggregate + head window + result sort") {
    assert(shuffles(q("bigram_lm")) === 3)
  }

  test("orders_ntile_banded: sample bounds agg + final agg + sort, bounds broadcast") {
    val df = q("orders_ntile_banded")
    // sample percentile agg + (yr, band) agg + result sort = 3; a 4th
    // exchange means the bounds join stopped broadcasting and the
    // full table is shuffling against a |years|-row side
    assert(shuffles(df) === 3)
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastExchange"),
      "quartile bounds must broadcast, never shuffle the full table")
  }

  test("unigram_logprob: tf partial-agg collapses tokens before the word window") {
    // the ReusedExchange below needs the uncached documents table: a
    // cached one (another suite's .cache() on the shared session) gives
    // each branch its own TableCacheQueryStage and reuse dies, as in
    // the bm25_topk pin
    spark.catalog.clearCache()
    val df = q("unigram_logprob")
    // tf aggregate + word window + doc aggregate + result sort, and
    // the 1-row total (SinglePartition) over its own copy of the tf
    // aggregate's exchange = 6 before execution; AQE reuses that copy
    // (below), so the corpus is counted once
    assert(shuffles(df) === 6)
    // the kernel's rows must hit a partial HashAggregate BEFORE their
    // first exchange — a Generate feeding an Exchange directly is the
    // Zipf-head scale-killer coming back (one reducer receives every
    // (doc, word) row of "the")
    val lines = df.queryExecution.executedPlan.toString.linesIterator.toVector
    val gen = lines.indexWhere(_.contains("Generate graft_token_counts("))
    assert(gen >= 0, "expected the counting kernel's Generate in the plan")
    val aggAbove = lines.lastIndexWhere(_.contains("HashAggregate"), gen)
    val exAbove = lines.lastIndexWhere(_.contains("Exchange hashpartitioning"), gen)
    assert(aggAbove > exAbove,
      "the kernel must feed a partial HashAggregate, not an Exchange")
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(finalPlan.linesIterator.count(_.contains("Generate graft_token_counts(")) === 1,
      s"expected one counting pass in the final plan:\n$finalPlan")
    assert(finalPlan.contains("ReusedExchange"),
      "expected the total to reuse the tf exchange")
  }

  test("event_funnel: one window exchange, groupBy rides it, 1-row final agg") {
    val df = q("event_funnel")
    // user_id window exchange + the SinglePartition final aggregate
    // = 2; a 3rd means the per-user groupBy stopped reusing the
    // window partitioning, or a join formulation (one event-table
    // re-scan per stage) crept back
    assert(shuffles(df) === 2)
    assert(!df.queryExecution.executedPlan.toString.contains("Join"),
      "funnel must be window-chained, not join-chained")
  }

  test("stratified_sample: membership is row-local, counts broadcast") {
    val df = q("stratified_sample")
    // lang-count agg feeds the collected model state; the main pass
    // is scan -> broadcast join -> filter -> final agg + sort
    assert(shuffles(df) === 2)
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastExchange"),
      "the |langs|-row count table must broadcast")
  }

  test("corpus_clean_pipeline2: probe side broadcasts, corpus scans stay bounded") {
    val df = q("corpus_clean_pipeline2")
    // the benchmark probe set is the bounded side of the overlap
    // join — at 100 TB the corpus must never shuffle FOR the
    // contamination stage, only probe against the broadcast
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastExchange"),
      "the probe shingle set must broadcast")
    // composed-pipeline discipline: the inner stages' presentation
    // sorts must not survive into the fused plan — the only Sort is
    // the result ordering
    val sorts = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.SortExec if s.global => s
    }
    // (0 when AQE elides the tiny result sort at spec scale)
    assert(sorts.size <= 1, s"expected only the result sort, got ${sorts.size}")
  }

  test("price_histogram: row-local bucketing, one bounded aggregate") {
    // bucket agg + result sort; anything more means the bucketing
    // stopped being a pure projection
    assert(shuffles(q("price_histogram")) === 2)
  }

  test("lineitem_stats: single co-moment aggregate exchange") {
    assert(shuffles(q("lineitem_stats")) === 2)
  }

  test("events_zscore: moment table broadcast, corpus never shuffles") {
    val df = q("events_zscore")
    // moment aggregate + result sort; scoring must stay row-local
    // against the broadcast stats
    assert(shuffles(df) === 2)
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastExchange"),
      "the per-type moment table must broadcast")
  }

  test("user_transitions: one sequence exchange + bounded agg + sort") {
    // user_id window exchange + |types|^2 aggregate + result sort
    assert(shuffles(q("user_transitions")) === 3)
  }

  test("q10_returns: returnflag pushed to scan, nation broadcast, top-k heap") {
    val df = q("q10_returns")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      "top-20 must plan as a per-partition heap, not a global sort")
    assert(plan.contains("BroadcastExchange"), "nation must broadcast")
    assert(plan.contains("PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)")
      || plan.contains("EqualTo(l_returnflag,R)"),
      s"returnflag filter must reach the parquet scan:\n$plan")
  }

  test("orders_yoy: lag window rides the aggregate, never the fact table") {
    val df = q("orders_yoy")
    // revenue aggregate + month window + result sort; the window's
    // input is the |years|x12-row aggregate
    assert(shuffles(df) === 3)
  }

  test("repetition_score: no exchange before the result sort") {
    // fully row-local: the only exchange is the output orderBy
    assert(shuffles(q("repetition_score")) === 1)
  }

  test("winnow_fingerprint: row-local windows, result sort is the only exchange") {
    assert(shuffles(q("winnow_fingerprint")) === 1)
  }

  test("pii_scrub: pure map work, result sort is the only exchange") {
    assert(shuffles(q("pii_scrub")) === 1)
  }

  test("doc_chunks: row-local explode+slice, result sort is the only exchange") {
    assert(shuffles(q("doc_chunks")) === 1)
  }

  test("chunk_packing: the (lang, bin) aggregate rides the lang window exchange") {
    // window hashpartitioning(lang) already clusters every (lang,
    // bin) group, so Catalyst must NOT add a third exchange for the
    // aggregate — only the window partition + the result sort remain
    assert(shuffles(q("chunk_packing")) === 2)
  }

  test("winnow_overlap: two fp windows + pair aggregate + result sort") {
    // the self-join's two sides each compute the cap window (Catalyst
    // never reuses subtrees) = 2 fp exchanges the join then rides;
    // a 5th exchange means the join stopped reusing the window's
    // partitioning
    assert(shuffles(q("winnow_overlap")) === 4)
  }

  test("orders_pricerank: year window + result sort") {
    assert(shuffles(q("orders_pricerank")) === 2)
  }

  test("customer_rfm: custkey agg + band agg + result sort") {
    assert(shuffles(q("customer_rfm")) === 3)
  }

  test("orders_pricerank_banded: sampled threshold broadcast, no sort or window on the fact table") {
    val df = q("orders_pricerank_banded")
    val plan = df.queryExecution.executedPlan.toString
    // sample percentile agg + final per-year agg + result sort
    assert(shuffles(df) === 3)
    assert(plan.contains("BroadcastExchange"),
      "the |years|-row threshold table must broadcast")
    assert(!plan.contains("Window"),
      "the banded form must not fall back to a rank window")
    // the only Sort is the bounded post-aggregate result sort (range
    // exchange); a Sort feeding anything else means a total order
    // sneaked back in front of the fact scan
    val sortLines = plan.linesIterator.count(_.trim.startsWith("+- Sort"))
    assert(sortLines <= 1, s"unexpected extra Sort:\n$plan")
  }

  test("incremental_dedup: batch digest agg + anti join + result sort") {
    // batch collapses to one row per digest BEFORE the anti join (a
    // lost partial agg would shuffle raw batch rows = 3rd exchange);
    // at fixture scale the corpus digest column broadcasts into the
    // anti join (AQE flips it to a shuffled join when the index
    // outgrows the threshold — the AqeJoinStrategySpec axis), so the
    // plan is the batch agg exchange + the result sort only
    assert(shuffles(q("incremental_dedup")) === 2)
  }

  test("events_moving_avg: window rides the daily aggregate, never the stream") {
    // daily rollup exchange + the window's (re-)partition + result
    // sort; the window input is the |types|x|days| aggregate
    assert(shuffles(q("events_moving_avg")) === 3)
  }

  test("customer_rfm_banded: two custkey aggs + 1-row bounds + band agg + sort, bounds broadcast") {
    // Catalyst never reuses the per-customer aggregate subtree, so
    // the hash-sample bounds path re-aggregates it (2nd custkey
    // exchange) — both are the same one-shuffle class; the bounds
    // collapse to ONE row (SinglePartition) and broadcast
    val df = q("customer_rfm_banded")
    assert(shuffles(df) === 5)
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastExchange"))
  }

  test("bigram_logprob: head-total window runs at bigram grain, never per-doc rows") {
    val df = q("bigram_logprob")
    // Catalyst computes the (doc, bg) aggregate twice (no subtree
    // reuse — the rfm_banded/lesson-18 pattern): once as the join's
    // probe side, once under the model path (bg agg + head window).
    // 6 = 2x(doc,bg) agg + bg agg + head window + doc agg + sort;
    // the one Window must partition the MODEL (bigram grain) — a
    // per-doc-row head window is the stop-word hot group
    assert(shuffles(df) === 6)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.count(_.trim.startsWith("Window")) <= 1)
  }

  test("cms_heavy_hitters: one grid aggregate, sketch broadcast, row-local probe") {
    val df = q("cms_heavy_hitters")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      "the CMS grid must plan through ObjectHashAggregate")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      "the 1-row sketch must broadcast to the probe side")
  }

  test("q12_priority_mix: the priority split is in-aggregate, one pass over the join") {
    // join rides broadcast at fixture scale; linestatus agg + result
    // sort = 2. A 3rd exchange means the CASE sums degenerated into
    // per-priority re-aggregation
    assert(shuffles(q("q12_priority_mix")) === 2)
  }

  test("q14_promo_share: numerator and denominator share ONE aggregate") {
    // single 1-row final aggregate; a 2nd exchange means the ratio
    // split into two scans of the join
    assert(shuffles(q("q14_promo_share")) === 1)
  }

  test("q17_small_qty: the decorrelated avg rides the join's partkey exchange") {
    // partkey avg agg + the fact side's partkey exchange (reused by
    // the same-key join; AQE flips the tiny agg side to broadcast at
    // runtime) + 1-row final agg = 3
    assert(shuffles(q("q17_small_qty")) === 3)
  }

  test("q22_untapped: scalar threshold broadcasts, anti join adds no fact exchange") {
    // 1-row threshold agg + segment agg + result sort = 3; the
    // threshold and anti-join sides reach the fact via broadcast
    assert(shuffles(q("q22_untapped")) === 3)
    val plan = q("q22_untapped").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"),
      "the 1-row threshold must broadcast, never shuffle the corpus")
  }

  test("temperature_sample: |langs|-row model, membership row-local") {
    // lang counts agg + the window's SinglePartition pass over the
    // |langs|-row model + report agg + result sort = 4; the corpus
    // itself joins the model via broadcast only
    assert(shuffles(q("temperature_sample")) === 4)
  }

  test("token_entropy: row-local fold, result sort is the only exchange") {
    assert(shuffles(q("token_entropy")) === 1)
  }

  test("ann_pq: codebook broadcasts; exchanges are the 2 rank windows + sort") {
    // quantized-rank window + exact-rerank window + result sort = 3;
    // the 1-row codebook agg left the warm path when the model went
    // write-once (it now loads from parquet); encode itself must stay
    // map-side (a 4th exchange means encoding shuffled the corpus)
    assert(shuffles(q("ann_pq")) === 3)
    val plan = q("ann_pq").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"),
      "codebook and probes must reach the corpus via broadcast")
  }

  test("q4_late_orders: semi join emits each order once, no distinct exchange") {
    // priority agg + result sort = 2; a 3rd exchange means the EXISTS
    // degenerated into an inner join + DISTINCT re-aggregation
    assert(shuffles(q("q4_late_orders")) === 2)
    val plan = q("q4_late_orders").queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"),
      "the lateness EXISTS must plan as a left-semi join")
  }

  test("q7_volume: bounded nation dims broadcast, one agg + result sort") {
    // (nation-pair, year) agg + result sort = 2; every dimension hop
    // reaches the fact side via broadcast at fixture scale
    assert(shuffles(q("q7_volume")) === 2)
  }

  test("q8_market_share: numerator and denominator share ONE aggregate") {
    // customer hop plans as SMJ at static time (2 exchanges, AQE
    // re-plans from runtime sizes) + year agg + result sort = 4; a
    // 5th exchange means the share split into two join-tree walks
    assert(shuffles(q("q8_market_share")) === 4)
  }

  test("q15_top_supplier: one lineitem pass, rank pre-pruned by WindowGroupLimit") {
    // supplier rollup agg + the rank window's SinglePartition pass
    // over the rollup = 2; a 3rd exchange means the max became a
    // second aggregate subtree re-scanning lineitem (the measured
    // no-exchange-reuse trap this rank form exists to avoid)
    assert(shuffles(q("q15_top_supplier")) === 2)
    val plan = q("q15_top_supplier").queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      "rank<=1 must pre-prune per partition before the global window")
  }

  test("q19_disjunctive: CNF pushes each side's OR into its scan") {
    // single 1-row aggregate; both scans carry the disjunction as a
    // pushed filter so the join probes pre-pruned inputs
    assert(shuffles(q("q19_disjunctive")) === 1)
    val scans = q("q19_disjunctive").queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    val pushed = scans.map(_.metadata("PushedFilters"))
    assert(pushed.exists(f => f.contains("l_quantity") && f.contains("Or(")),
      s"lineitem scan must carry the quantity disjunction, saw $pushed")
    assert(pushed.exists(f => f.contains("p_brand") && f.contains("Or(")),
      s"part scan must carry the brand/size disjunction, saw $pushed")
  }

  test("q21_waiting: semi + anti plan as joins, top-k is a heap") {
    // only the s_name count agg shuffles at fixture scale (dims and
    // the order-key probes broadcast; AQE re-plans at size); the
    // LIMIT rides TakeOrderedAndProject, never a global sort
    assert(shuffles(q("q21_waiting")) === 1)
    val plan = q("q21_waiting").queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi") && plan.contains("LeftAnti"),
      "EXISTS/NOT EXISTS must plan as semi/anti joins")
    assert(plan.contains("TakeOrderedAndProject"),
      "top-100 must be a per-partition heap, not a global sort")
  }

  test("source_cap: rank<=N pre-prunes per map task before the source shuffle") {
    // source window exchange + result sort = 2; the partial
    // WindowGroupLimit below the exchange is the megadomain guard
    assert(shuffles(q("source_cap")) === 2)
    val plan = q("source_cap").queryExecution.executedPlan.toString
    val idxLimit = plan.indexOf("WindowGroupLimit")
    val idxEx = plan.indexOf("Exchange hashpartitioning")
    assert(idxLimit >= 0 && plan.indexOf("WindowGroupLimit", idxLimit + 1) > 0,
      "expected partial + final WindowGroupLimit pair")
    assert(idxEx >= 0, "expected the source window exchange")
  }

  test("quality_logreg: row-local scoring, result sort is the only exchange") {
    assert(shuffles(q("quality_logreg")) === 1)
  }

  test("q9_profit: bounded nation broadcasts, one agg + result sort") {
    // (nation, year) agg + result sort = 2; part/supplier/orders
    // reach the fact via broadcast at fixture scale (AQE re-plans)
    assert(shuffles(q("q9_profit")) === 2)
  }

  test("bpe_merge_pairs: pair explode runs over the vocabulary, not the corpus") {
    // word-freq agg + pair agg = 2; top-K is a TakeOrderedAndProject
    // heap. A 3rd exchange means pair extraction moved corpus-side
    assert(shuffles(q("bpe_merge_pairs")) === 2)
    val plan = q("bpe_merge_pairs").queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      "top-K must be a per-partition heap, not a global sort")
  }

  test("bloom_dedup: sketch broadcasts, probe is row-local") {
    // corpus digest distinct + 1-row sketch agg + is_dup compare join
    // + result sort = 4; the batch side must reach the bitmap via
    // broadcast only (a 5th exchange means the probe shuffled the
    // batch against the sketch)
    assert(shuffles(q("bloom_dedup")) === 4)
    val plan = q("bloom_dedup").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"),
      "the bloom bitmap must broadcast to the batch side")
  }

  test("q16_supplier_cnt: one-pass distinct agg, NOT IN as anti join") {
    // (brand,size,suppkey) partial-distinct exchange + (brand,size)
    // collapse = 2; top-50 rides a heap. A 3rd exchange means the
    // distinct split into a second corpus pass
    assert(shuffles(q("q16_supplier_cnt")) === 2)
    val plan = q("q16_supplier_cnt").queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"),
      "NOT IN must plan as a left-anti join")
    assert(plan.contains("TakeOrderedAndProject"),
      "top-50 must be a per-partition heap")
  }

  test("events_multi_distinct: both DISTINCTs share one Expand subtree") {
    // Expand feeds partial agg + the two-level distinct collapse +
    // result sort = 3 exchanges, ONE scan. A 4th exchange (or a 2nd
    // scan) means Catalyst split the DISTINCTs into separate passes
    assert(shuffles(q("events_multi_distinct")) === 3)
    val plan = q("events_multi_distinct").queryExecution.executedPlan.toString
    assert(plan.contains("Expand"),
      "multi-DISTINCT must plan via Expand, not repeated scans")
    assert(leafScans(q("events_multi_distinct")) === 1,
      "the events table must be scanned exactly once")
  }

  test("source_mix_weights: totals ride a window over the model table, one corpus scan") {
    // per-source agg + the totals window's SinglePartition pass = 2;
    // an aggregate-and-join-back form re-scans the corpus (measured,
    // the q15 subtree-duplication trap)
    assert(shuffles(q("source_mix_weights")) === 2)
    assert(leafScans(q("source_mix_weights")) === 1,
      "documents must be scanned exactly once")
  }

  test("q2_min_cost: the correlated min is a window, one lineitem pass") {
    // offers partkey window + final sort path = 3 exchanges (the ps
    // distinct agg exchange moved into the write-once partsupp
    // materialization — round 10), ZERO lineitem scans (partsupp is
    // read as a table); the agg-and-join-back form measured 9
    // exchanges and 2 scans (subtree dup)
    assert(shuffles(q("q2_min_cost")) === 3)
    val nLineitemScans = q("q2_min_cost").queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains("lineitem")) => s
    }.size
    assert(nLineitemScans === 0,
      "q2 must read the materialized partsupp, not re-derive from lineitem")
  }

  test("q11_important_stock: global total is a window over the model table") {
    // per-part agg + the total window's SinglePartition pass = 2 (ps
    // derivation is the write-once table now); a 3rd means the
    // fraction threshold re-derived the join subtree
    assert(shuffles(q("q11_important_stock")) === 2)
  }

  test("q20_excess_suppliers: nested IN chain plans as semi joins") {
    // shipped agg + excess distinct = 2 exchanges at fixture scale
    // (ps is the write-once table; supplier cut broadcasts);
    // LeftSemi present
    assert(shuffles(q("q20_excess_suppliers")) === 2)
    val plan = q("q20_excess_suppliers").queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"),
      "the IN chain must plan as left-semi joins")
  }

  test("events_daily_gapfill: the grid never re-touches the fact table") {
    // the rollup localCheckpoints, so the final plan's three
    // references all read the materialized model table (ExistingRDD)
    // — zero parquet scans in the grid plan means the corpus was
    // scanned exactly once, at checkpoint time
    val df = q("events_daily_gapfill")
    assert(leafScans(df) === 0,
      "the gapfill grid must read the checkpointed rollup, not re-scan events")
    assert(df.queryExecution.executedPlan.toString.contains("ExistingRDD"),
      "expected the checkpointed rollup as the plan's leaf")
  }

  /** Root paths of every file scan in the pre-adaptive plan. */
  private def scanPaths(df: DataFrame): Seq[String] =
    df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.rootPaths.map(_.toString)
    }.flatten

  test("coorder_triangles_indexed: probes the persisted oriented list, never lineitem") {
    // the graph family's index claim: build-time work (co-order
    // distinct, degree agg, orientation) must NOT reappear on the
    // query path — the plan reads the oriented-list parquet only
    val sf = TestSpark.Sf0001
    val df = graft.operators.GraphOps.coorderTrianglesIndexed(
      Tables.lineitem(spark, sf), sf)
    val paths = scanPaths(df)
    assert(paths.exists(_.contains("graft_coorder_oriented")),
      s"expected the persisted oriented-list scan, got: $paths")
    assert(!paths.exists(_.contains("lineitem.parquet")),
      "indexed triangles must not re-derive the co-order graph from lineitem")
  }

  test("ann models load from persisted artifacts — no training stage on the warm path") {
    // building the query ensures the write-once model artifact; the
    // RETURNED plan must then read the model parquet and contain no
    // training operator (Lloyd's posexplode/avg refine for kmeans,
    // the corpus-wide min/max posexplode for sq8, the codebook
    // collect_list for pq)
    val km = q("ann_ivf_kmeans")
    assert(scanPaths(km).exists(_.contains("graft_ivfkm")),
      "kmeans warm path must scan the persisted centroid model")
    assert(!km.queryExecution.executedPlan.toString.contains("posexplode"),
      "no Lloyd refine stage may appear in the warm plan")

    val sq8 = q("ann_sq8")
    assert(scanPaths(sq8).exists(_.contains("graft_sq8bounds")),
      "sq8 warm path must scan the persisted bounds model")
    assert(!sq8.queryExecution.executedPlan.toString.contains("posexplode"),
      "no bounds-computation stage may appear in the warm plan")

    val pq = q("ann_pq")
    assert(scanPaths(pq).exists(_.contains("graft_pqcb")),
      "pq warm path must scan the persisted codebook model")
    assert(!pq.queryExecution.executedPlan.toString.contains("collect_list"),
      "no codebook-build stage may appear in the warm plan")
  }

  test("dup_components warm path reads the persisted edge index, not the text corpus") {
    // the propagation loop runs eagerly at build time over the
    // persisted graft_ccindex edges; the RETURNED plan is the final
    // round's checkpoint — so the pin is the absence of any text
    // re-derivation (no documents scan anywhere in the plan) plus the
    // checkpoint leaf
    val df = q("dup_components")
    assert(!scanPaths(df).exists(_.contains("documents.parquet")),
      "closure warm path must not re-derive pairs from documents")
    assert(df.queryExecution.executedPlan.toString.contains("ExistingRDD"),
      "expected the converged label checkpoint as the plan's leaf")
  }

  test("ann_ivf_indexed: the probe reads only its nprobe list partitions") {
    // the IVF-index read-path claim: the probed centroid set is an
    // IN filter on the partition column, so the scan touches the
    // probed inverted lists and nothing else — per-query I/O is
    // corpus x (probed / K), the property that makes IVF an index
    // nprobe=1 over 3 probes: at most 3 of the fixture's lists are
    // probed (the registered query's 10x3 probe set can legitimately
    // cover every list at sf0.001 — the pin is about the mechanism)
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = graft.operators.SimilarityOps.annIvfIndexed(
      Tables.embeddings(spark, TestSpark.Sf0001), TestSpark.Sf0001,
      nprobe = 1, nProbes = 3)
    val scans = df.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains("graft_ivflists")) => s
    }
    assert(scans.size === 1, "expected exactly one inverted-lists scan")
    val scan = scans.head
    assert(scan.partitionFilters.nonEmpty,
      "the probed-centroid IN list must plan as a partition filter")
    val selected = scan.selectedPartitions.partitionCount
    val total = scan.relation.location.listFiles(Nil, Nil).length
    assert(selected < total,
      s"probe must prune the list scan: read $selected of $total partitions")
  }

  test("ann_ivfpq_indexed: the coded-list probe reads only its nprobe partitions") {
    // same mechanism pin as ann_ivf_indexed over the CODED layout:
    // the scan that feeds decode must carry the probed-centroid IN
    // list as a partition filter — the whole point of persisting
    // codes is that per-probe I/O is (probed/K) x ~PqM ints/vector
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = graft.operators.SimilarityOps.annIvfPqIndexed(
      Tables.embeddings(spark, TestSpark.Sf0001), TestSpark.Sf0001,
      nprobe = 1, nProbes = 3)
    val scans = df.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains("graft_ivfpqlists")) => s
    }
    assert(scans.size === 1, "expected exactly one coded-lists scan")
    val scan = scans.head
    assert(scan.partitionFilters.nonEmpty,
      "the probed-centroid IN list must plan as a partition filter")
    val selected = scan.selectedPartitions.partitionCount
    val total = scan.relation.location.listFiles(Nil, Nil).length
    assert(selected < total,
      s"probe must prune the coded-list scan: read $selected of $total partitions")
  }

  test("ann_ivf_upsert: the upserted-layout probe keeps partition pruning") {
    // same mechanism pin as ann_ivf_indexed, over the corpus-write +
    // batch-append layout: appending files into the list partitions
    // must not cost the scan its partition filter
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = graft.operators.SimilarityOps.annIvfUpsert(
      Tables.embeddings(spark, TestSpark.Sf0001), TestSpark.Sf0001,
      nprobe = 1, nProbes = 3)
    val scans = df.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains("graft_ivfuplists")) => s
    }
    assert(scans.size === 1, "expected exactly one upserted-lists scan")
    val scan = scans.head
    assert(scan.partitionFilters.nonEmpty,
      "the probed-centroid IN list must plan as a partition filter")
    val selected = scan.selectedPartitions.partitionCount
    val total = scan.relation.location.listFiles(Nil, Nil).length
    assert(selected < total,
      s"probe must prune the upserted scan: read $selected of $total partitions")
  }

  test("ann_ivf_delete: the tombstone anti join costs neither pruning nor the broadcast") {
    // the delete-leg read-path claim: subtracting the tombstone log
    // must not turn the probe into a full-index scan — the probed-
    // centroid IN filter pushes through the anti join's preserved
    // side, and the log itself joins as a broadcast (model-sized)
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val df = graft.operators.SimilarityOps.annIvfDelete(
      Tables.embeddings(spark, TestSpark.Sf0001), TestSpark.Sf0001,
      nprobe = 1, nProbes = 3)
    val plan = df.queryExecution.sparkPlan
    val scans = plan.collect {
      case s: FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains("graft_ivfdellists")) &&
          !s.relation.location.rootPaths.exists(_.toString.contains("_tombstones")) => s
    }
    assert(scans.size === 1, "expected exactly one tombstoned-lists scan")
    val scan = scans.head
    assert(scan.partitionFilters.nonEmpty,
      "the probed-centroid IN list must survive the anti join as a partition filter")
    val selected = scan.selectedPartitions.partitionCount
    val total = scan.relation.location.listFiles(Nil, Nil).length
    assert(selected < total,
      s"probe must prune the tombstoned scan: read $selected of $total partitions")
    val antis = plan.collect {
      case j: BroadcastHashJoinExec if j.joinType.sql == "LEFT ANTI" => j
    }
    assert(antis.nonEmpty, "the tombstone subtraction must be a broadcast anti join")
  }

  test("events_partition_pruned: the day range prunes the scan to 7 of 30 partitions") {
    // the 100 TB read-path claim: a partition-column predicate must
    // resolve against directory names at plan time, not filter rows
    // after a full scan. The fixture has 30 day= directories; the
    // PruneDayFrom..PruneDayTo week must select exactly 7.
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = q("events_partition_pruned")
    // collect on the pre-adaptive plan: AdaptiveSparkPlanExec hides
    // its input plan from executedPlan.collect until execution
    val scans = df.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.size === 1, "expected exactly one file scan")
    val scan = scans.head
    assert(scan.partitionFilters.nonEmpty,
      "the day predicate must plan as a partition filter, not a data filter")
    val selected = scan.selectedPartitions.partitionCount
    val total = scan.relation.location.listFiles(Nil, Nil).length
    assert(total === 30, s"fixture must have 30 day partitions, saw $total")
    assert(selected === 7,
      s"the one-week range must prune to 7 partitions, saw $selected")
  }

  test("mixture_schedule: no per-source window sort; ranks ride a materialized RDD") {
    // the scale claim: NO row_number() OVER (PARTITION BY source) —
    // that window sorts a whole source in one task. Ranks come from
    // the range-partition + zipWithIndex table, materialized once and
    // read by both the offset aggregate and the final join.
    val plan = q("mixture_schedule").queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "a window crept into the schedule plan")
    assert(plan.contains("BroadcastExchange"),
      "the |sources|-row offset table must broadcast")
    val rddScans = plan.linesIterator.count(_.contains("Scan ExistingRDD"))
    assert(rddScans === 2,
      s"both consumers must read the one materialized rank table, saw $rddScans")
  }

  test("incremental_near_dedup: probe subtrees are materialized, not re-derived") {
    // round-11 measurement: the arriving frame's shingle + band tables
    // feed four distinct consumers; left lazy they re-run per consumer.
    // The materialized form shows up as ExistingRDD scans in place of
    // repeated parquet scans of documents.
    val df = q("incremental_near_dedup")
    val rddScans = df.queryExecution.sparkPlan.collect {
      case s if s.getClass.getSimpleName == "RDDScanExec" => s
    }.size
    assert(rddScans >= 3,
      s"expected the truncated shingle/band tables across consumers, saw $rddScans RDD scans")
    // file scans remaining in the PRE-execution plan: index parquet
    // (bands ×1, band_counts ×2 via the twice-referenced keptBands)
    // and the corpus shingle arm of the verify union (×2 — identical
    // subtrees that ReuseExchange unifies at runtime). The pin guards
    // against the pre-round-11 shape, where the ARRIVING side also
    // re-derived per consumer and the count grew past ten.
    assert(leafScans(df) <= 7, s"corpus re-derivation crept back: ${leafScans(df)} file scans")
  }

  test("bm25_topk: the corpus is tokenized once (AQE reuses the tf exchange)") {
    // the round-12 retrieval pin: the query-term selection and the
    // avgdl statistic both rank/aggregate over the SAME (doc, word)
    // tf exchange the postings use. Ranking terms by collection
    // frequency keeps the three subtrees canonically identical
    // (count(*) would prune the branch to a keys-only distinct and
    // re-tokenize). Runtime reuse is an AQE decision, so this pin
    // executes the plan and reads the FINAL form.
    //
    // Hermeticity: a CACHED documents table (another suite's lazy
    // .cache() on the shared session) wraps each branch in its own
    // TableCacheQueryStage, the exchanges stop canonicalizing equal,
    // and AQE reuse silently dies — a Spark wrinkle worth knowing (a
    // user who caches the corpus pays three tokenizes of the cached
    // rows), but this pin is about the uncached production shape.
    spark.catalog.clearCache()
    val df = q("bm25_topk")
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val tokenizes = finalPlan.linesIterator
      .count(_.contains("Generate graft_token_counts("))
    assert(tokenizes === 1,
      s"expected one tokenize pass in the final plan, saw $tokenizes")
    assert(finalPlan.contains("ReusedExchange"),
      "expected the query/stats branches to reuse the tf exchange")
  }

  test("pagerank_trade: base tables never rescanned across iterations") {
    // the iterative-reuse pin, r21 form: the arcs-with-degree table is
    // materialized ONCE to a scratch parquet (orders ⋈ lineitem runs
    // exactly once, during that materialization), and the damped
    // rounds read ONLY the scratch table — the final plan must contain
    // no base-table scan at all, and each round's arc scan must be the
    // scratch parquet (cheap, stats-carrying) rather than a re-derive.
    spark.catalog.clearCache()
    val df = q("pagerank_trade")
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val baseScans = finalPlan.linesIterator.count(l =>
      l.contains("FileScan parquet") &&
        (l.contains("orders.parquet") || l.contains("lineitem.parquet")))
    assert(baseScans === 0,
      s"expected no base-table scan in the iteration plan, saw $baseScans")
    val scratchScans = finalPlan.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("graft_scratch_pr_arcs"))
    assert(scratchScans >= 1,
      "expected the rounds to read the materialized arcs scratch table")
  }

  test("bm25_indexed: the probe reads only its query terms' bucket partitions") {
    // the postings-index read-path claim: the query's bucket set is
    // an IN filter on the partition column, so the scan touches at
    // most |terms| of the WordBuckets partitions however large the
    // corpus grows — plus no tokenize pass at query time
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = q("bm25_indexed")
    val scans = df.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains("graft_postings")) &&
          s.relation.location.rootPaths.exists(_.toString.contains("/postings")) => s
    }
    assert(scans.size === 1, "expected exactly one postings scan")
    val scan = scans.head
    assert(scan.partitionFilters.nonEmpty,
      "the query-bucket IN list must plan as a partition filter")
    val selected = scan.selectedPartitions.partitionCount
    val total = scan.relation.location.listFiles(Nil, Nil).length
    assert(selected <= graft.operators.RetrievalOps.QueryTerms,
      s"probe must read at most one bucket per term: read $selected")
    assert(selected < total,
      s"probe must prune the postings scan: read $selected of $total partitions")
    assert(!df.queryExecution.sparkPlan.toString.contains("tokenize"),
      "the indexed path must not tokenize at query time")
  }

  test("bm25_after_delete: the tombstone anti join costs neither pruning nor the broadcast") {
    // the delete-leg read-path claim, retrieval edition: subtracting
    // the tombstone log must not turn the probe into a full-index
    // scan — the bucket IN filter pushes through the anti join's
    // preserved side, and the log joins as a broadcast (model-sized)
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val df = q("bm25_after_delete")
    val plan = df.queryExecution.sparkPlan
    val scans = plan.collect {
      case s: FileSourceScanExec
        if s.relation.location.rootPaths.exists(p =>
          p.toString.contains("graft_postings_del") &&
            p.toString.contains("/postings")) => s
    }
    assert(scans.size === 1, "expected exactly one postings scan")
    assert(scans.head.partitionFilters.nonEmpty,
      "bucket pruning must survive the tombstone anti join")
    val antiBroadcasts = plan.collect {
      case j: BroadcastHashJoinExec if j.joinType.toString == "LeftAnti" => j
    }
    assert(antiBroadcasts.nonEmpty,
      "the tombstone log must subtract as a broadcast anti join")
  }
}
