package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import graft.operators.{Anonymize, Mape}
import graft.queries.Queries
import graft.sources.Tables

/** 100 TB plan-shape assertions (VERDICT r1 "what's wrong" #2/#3 +
  * SURVEY.md §7.4): the scale-killers must stay out of the physical plans
  * — no mid-pipeline global sort in the MAPE hot path, no forced broadcast
  * of the unbounded key table, top-k compiling to TakeOrderedAndProject
  * instead of a global sort, and filter pushdown reaching the parquet scan.
  */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private def physical(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Node names of the plan, UNWRAPPING AdaptiveSparkPlanExec: with AQE
    * on, `executedPlan` of any shuffling query is a bare AQE root whose
    * children hide behind `.executedPlan` — a `foreach` sees one node and
    * every negative assertion passes vacuously. (Caught in round 7 when a
    * positive node-count assertion returned List(AdaptiveSparkPlan).)
    */
  private def collectNodes(p: SparkPlan): Seq[String] = {
    val b = Seq.newBuilder[String]
    def walk(n: SparkPlan): Unit = n match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        walk(a.executedPlan)
      case _ => b += n.nodeName; n.children.foreach(walk)
    }
    walk(p)
    b.result()
  }

  test("MAPE hot path has no global sort between hourly and daily aggregates") {
    val raw = Seq(("2024-01-01", 0, 1.0, 1.0, 1.0))
      .toDF("proxy_date", "hour", "forecast", "backcast", "settlement")
    val daily = Mape.dailyMapeAggregation(Mape.hourlyAggregation(raw))
    val nodes = collectNodes(daily.queryExecution.executedPlan)
    assert(!nodes.exists(_.toLowerCase.contains("sort")),
      s"unexpected sort in: $nodes")
  }

  test("MapePipeline's daily frames sort only at the root, never below the daily aggregate") {
    import org.apache.spark.sql.execution.{InputAdapter, SortExec, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    // pre-order operators, through AQE roots, codegen wrappers and cached
    // relations: the zonal daily frame reads its daily aggregate from a cache
    def ops(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => ops(a.executedPlan)
      case w: WholeStageCodegenExec => ops(w.child)
      case i: InputAdapter => ops(i.child)
      case m: InMemoryTableScanExec => m +: ops(m.relation.cachedPlan)
      case n => n +: n.children.flatMap(ops)
    }
    def ordering(n: SparkPlan): Boolean = n match {
      case _: SortExec => true
      case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[RangePartitioning]
      case _ => false
    }
    val raw = Seq(("2024-01-01", 0, "east", 1.0, 1.0, 1.0), ("2024-01-01", 1, "west", 2.0, 1.0, 3.0))
      .toDF("proxy_date", "hour", "zone", "forecast", "backcast", "settlement")
    val run = graft.pipelines.MapePipeline.run(raw)
    try {
      for ((name, daily) <- Seq("dailyPortfolioMape" -> run.dailyPortfolioMape,
                                "dailyZoneMape" -> run.dailyZoneMape)) {
        val nodes = ops(daily.queryExecution.executedPlan)
        val names = nodes.map(_.nodeName)
        // the root orders (a global sort over its range exchange); nothing
        // beneath it — the daily and hourly aggregates included — does
        assert(nodes.head.isInstanceOf[SortExec] && ordering(nodes(1)),
          s"$name is not ordered at its root: $names")
        assert(!nodes.drop(2).exists(ordering), s"$name sorts below its root: $names")
        assert(names.count(_ == "HashAggregate") >= 4, s"$name: $names")
      }
    } finally graft.CacheRegistry.releaseAll()
  }

  test("uid pseudonymization fact join carries no forced broadcast hint") {
    val keyDir = tmpDir("graft-plan-key")
    val out = Anonymize.uidAnonymization(spark,
      Seq("u1", "u2").toDF("uid"), "uid", keyDir)
    val analyzed = out.queryExecution.analyzed.toString
    assert(!analyzed.contains("UnresolvedHint") && !analyzed.contains("hints=[broadcast]"),
      "key-table join must let AQE choose the strategy")
  }

  test("q07 top-k compiles to TakeOrderedAndProject, not a global sort") {
    val plan = physical(Queries.byName("q07_topk")(spark, sf0001))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(500))
  }

  test("q19 cosine top-k compiles to TakeOrderedAndProject over a single scan") {
    val plan = physical(Queries.byName("q19_cosine_topk")(spark, sf0001))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(500))
    assert(!plan.contains("Exchange rangepartitioning"), "global sort leaked in")
  }

  test("q01 pushes the shipdate filter and prunes columns at the parquet scan") {
    val plan = physical(Queries.byName("q01_filter_project")(spark, sf0001))
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), " +
      "GreaterThanOrEqual(l_shipdate"), plan.take(2000))
    // projection needs only 4 columns; the scan schema must not include e.g. l_comment/l_tax
    val scanSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(scanSchema.contains("l_orderkey") && !scanSchema.contains("l_tax"),
      scanSchema)
  }

  test("hourly aggregation is a two-phase hash aggregate (partial + final)") {
    val raw = Seq(("2024-01-01", 0, 1.0, 1.0, 1.0))
      .toDF("proxy_date", "hour", "forecast", "backcast", "settlement")
    val plan = physical(Mape.hourlyAggregation(raw))
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
  }

  test("whole-stage codegen covers the blake2b expression") {
    // read from parquet so ConvertToLocalRelation can't pre-evaluate the
    // projection on the driver — the expression must land in a codegen span
    val df = Tables.table(spark, sf0001, "documents")
      .select(graft.functions.GraftFunctions.blake2b_hex(col("doc_id").cast("string")))
    val plan = physical(df)
    assert(plan.contains("*(1)"), s"blake2b fell out of codegen: $plan")
  }

  test("dedup candidate generation contains no cartesian/nested-loop join") {
    val d = Tables.table(spark, sf0001, "documents").select("doc_id", "text")
    val plan = physical(graft.operators.Dedup.minhashNearDups(d, 0.8))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "near-dup path must stay bucketed, never all-pairs")
  }

  test("q25 all-pairs similarity is block-sharded equi-joins, never a nested loop") {
    val plan = physical(Queries.byName("q25_cosine_pairs")(spark, sf0001))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "exact all-pairs must shard through block-pair hash joins")
    assert(plan.contains("TakeOrderedAndProject"), "top-n must not be a global sort")
    assert(plan.contains("array_dot"), "pair kernel must be the native dot expression")
  }

  test("IVF probe is one scan: assignment filter + TakeOrderedAndProject, no Exchange") {
    val emb = Tables.table(spark, sf0001, "embeddings")
    val idx = graft.operators.IVF.train(emb, k = 4, iters = 1)
    val q = emb.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toArray
    val plan = physical(graft.operators.IVF.neighbors(emb, idx, q, 10, nProbe = 2))
    assert(plan.contains("TakeOrderedAndProject"), "top-k must not be a global sort")
    assert(!plan.contains("Exchange"),
      s"probe must not shuffle the data — filter + local top-k only: ${plan.take(400)}")
  }

  test("asofJoin plans one keyed window, ZERO join nodes") {
    import spark.implicits._
    val probes = Seq((1L, "k", new java.sql.Timestamp(0L), 1.0)).toDF("id", "k", "ts", "v")
    val state = Seq(("k", new java.sql.Timestamp(0L), 2.0)).toDF("k", "ts", "sv")
    val plan = physical(graft.operators.AsofJoin.asofJoin(probes, state,
      keys = Seq("k"), stateVals = Seq("sv")))
    assert(!plan.contains("Join"),
      s"as-of must be the union+window shape, not a join: ${plan.take(400)}")
    assert(plan.contains("Window"), "expected the keyed window fill")
  }

  test("KEYLESS range join plans an equi-join on buckets, not a nested loop") {
    import spark.implicits._
    val t0 = new java.sql.Timestamp(0L)
    val t1 = new java.sql.Timestamp(3600000L)
    val probes = Seq((1L, t0)).toDF("id", "ts")
    val intervals = Seq((9L, t0, t1)).toDF("interval_id", "win_start", "win_end")
    val plan = physical(graft.operators.RangeJoin.intervalJoin(probes, intervals))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join must bucketize to an equi-join: ${plan.take(400)}")
  }

  test("fuzzy join blocks on deletion variants: equi-join, never a " +
       "cartesian/nested loop") {
    val df = Seq((1L, "cat"), (2L, "cut"), (3L, "dog")).toDF("id", "name")
    val plan = physical(graft.operators.FuzzyJoin.selfPairsWithin(df, 1))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
  }

  test("phrase search pushes each term filter into its posting scan and " +
       "plans only equi-joins") {
    val docs = Tables.table(spark, sf0001, "documents")
    val q = graft.operators.TextSearch.phraseMatches(docs, "table value")
    val plan = physical(q)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
    // a k-term phrase is exactly k−1 keyed joins over term-filtered
    // posting slivers — one join here, each input pre-filtered (the term
    // predicates appear below the join in the plan tree)
    val nodes = collectNodes(q.queryExecution.executedPlan)
    assert(nodes.count(_.toLowerCase.contains("join")) == 1, nodes.toString)
  }

  test("column stats exact path: per-column hash-agg branches — no Expand " +
       "blow-up, no sort-based aggregation, no joins") {
    val plan = graft.operators.ColumnStats.collect(
      Tables.table(spark, sf0001, "lineitem"),
      Seq("l_orderkey", "l_returnflag")).queryExecution.executedPlan
    val nodes = collectNodes(plan)
    assert(!nodes.exists(_.toLowerCase.contains("join")), nodes.toString)
    // the single multi-distinct aggregate LOOKS one-pass but rewrites to
    // an Expand (scan × k+1) + aggregates keyed on every distinct column
    // at once, sorting the whole expanded stream; the dedupe-then-keyless
    // branch shape must keep Expand AND every Sort out of the plan (a
    // keyless sort-aggregate for var-length min/max buffers is fine — it
    // streams ndv rows without sorting)
    assert(!nodes.contains("Expand"), nodes.toString)
    assert(!nodes.contains("Sort"), nodes.toString)
    assert(nodes.contains("Union"), nodes.toString)
  }

  test("column stats HLL path is genuinely one pass: single scan, " +
       "no Expand, no Union") {
    val plan = graft.operators.ColumnStats.collect(
      Tables.table(spark, sf0001, "lineitem"),
      Seq("l_orderkey", "l_returnflag"), exact = false)
      .queryExecution.executedPlan
    val nodes = collectNodes(plan)
    assert(!nodes.contains("Expand") && !nodes.contains("Union"),
      nodes.toString)
    assert(nodes.count(_.contains("Scan")) == 1, nodes.toString)
  }

  test("large-label enumeration plans no unpartitioned window") {
    import spark.implicits._
    // 100 labels: above MaxExpressionLabels, so the distributed path runs
    val df = (1 to 500).map(i => (i.toLong, s"label_${i % 100}")).toDF("id", "lbl")
    val out = Anonymize.anonymizeColumnLabels(df, "lbl")
    val plan = physical(out)
    assert(!plan.contains("Window"), s"single-partition window leaked in: ${plan.take(400)}")
    // and the enumeration itself is correct: dense 1..100 in sorted order
    val got = out.select("lbl").distinct().collect().map(_.getString(0)).toSet
    assert(got === (1 to 100).map(i => s"ANON_CLIENT $i").toSet)
  }

  test("q46 deterministic sampling is a pure narrow plan: zero Exchanges") {
    val nodes = collectNodes(
      Queries.byName("q46_stratified_sample")(spark, sf0001).queryExecution.executedPlan)
    assert(!nodes.exists(_.contains("Exchange")),
      s"a sample predicate must ride the scan, not shuffle: $nodes")
  }

  test("unigram scoring joins token stats by BROADCAST (vocab ≪ corpus)") {
    val docs = Tables.table(spark, sf0001, "documents")
    val plan = physical(graft.operators.Scoring.unigramLogProbScore(docs))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"vocab join must broadcast:\n${plan.take(800)}")
    assert(!plan.contains("SortMergeJoin"),
      "the token-stats join must never sort-merge the exploded stream")
  }

  test("bm25 keeps idf/globals broadcast and never plans a real cartesian") {
    val docs = Tables.table(spark, sf0001, "documents")
    val plan = physical(graft.operators.Scoring.bm25(docs, Seq("spark", "merge")))
    assert(plan.contains("BroadcastExchange"), plan.take(800))
    // the only nested-loop joins allowed are the deliberate one-row
    // globals crossJoins (broadcast side = single-row aggregate)
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    assert(plan.contains("TakeOrderedAndProject"), "top-k must not global-sort")
  }

  test("contamination audit pre-aggregates distinct before the shuffle") {
    val docs = Tables.table(spark, sf0001, "documents")
    val plan = physical(
      graft.operators.Decontaminate.contamination(docs, col("source") === "src0"))
    // distinct on (doc, shingle) must run as partial+final hash aggregate
    // (map-side collapse before the exchange), not a bare global shuffle
    // (string count: AQE's adaptive root hides children from foreach)
    val aggs = "HashAggregate".r.findAllIn(plan).size
    assert(aggs >= 4, s"expected partial+final aggregates on both distincts: $aggs")
  }

  test("exact group quantiles plan two-phase (partial + final) aggregation") {
    val events = Tables.table(spark, sf0001, "events")
    val plan = physical(graft.operators.Quantiles.groupQuantilesExact(
      events, Seq("event_type"), col("value")))
    val aggs = "Aggregate".r.findAllIn(plan).size
    assert(aggs >= 2, s"percentile must combine map-side partials:\n${plan.take(600)}")
  }

  test("token chunking is a pure narrow plan: zero Exchanges, codegen'd") {
    val docs = Tables.table(spark, sf0001, "documents")
    val plan = physical(graft.operators.Chunking.tokenChunks(docs, 64, 48))
    assert(!plan.contains("Exchange"), s"chunking must not shuffle:\n${plan.take(600)}")
    // "*(1) " is the plan-string marker for a whole-stage-codegen span
    assert(plan.contains("*(1) "), plan.take(600))
  }

  test("tfidf joins the vocabulary-sized idf table by BROADCAST") {
    val docs = Tables.table(spark, sf0001, "documents")
    val plan = physical(graft.operators.Scoring.tfidfTopTerms(docs))
    assert(plan.contains("BroadcastExchange"), plan.take(800))
    assert(!plan.contains("CartesianProduct"), plan.take(800))
  }

  test("bloom contamination probes inside the scan stage: no join nodes at all") {
    val docs = Tables.table(spark, sf0001, "documents")
    val df = graft.operators.Decontaminate.contaminationBloom(
      docs, col("source") === "src0", expectedTrainShingles = 100000L)
    val plan = physical(df)
    assert(!plan.toLowerCase.contains("join"),
      s"the bloom path must replace the train join:\n${plan.take(800)}")
    // the sketch must arrive via a scalar subquery (one query, sketch
    // bytes never a driver-side literal), and the probe must reference it
    assert(plan.contains("Subquery") && plan.contains("bloom_filter_agg"),
      plan.take(1200))
    val analyzed = df.queryExecution.analyzed.toString
    assert(analyzed.contains("might_contain"), analyzed.take(1200))
  }

  test("int8 quantization is a pure narrow plan: zero Exchanges, scan-side") {
    val emb = Tables.table(spark, sf0001, "embeddings")
    val nodes = collectNodes(graft.operators.Embeddings.quantizeInt8(emb)
      .queryExecution.executedPlan)
    assert(!nodes.exists(_.contains("Exchange")), s"quantization shuffled: $nodes")
  }

  test("gap fill broadcasts the hour spine; the fact scan feeds ONE aggregation") {
    val events = Tables.table(spark, sf0001, "events")
    val plan = physical(graft.operators.TimeSeries.gapFillHourly(
      events, col("event_type"), col("ts"), col("value")))
    // the dense grid is tiny by construction → must arrive broadcast, and
    // the observations join must not degenerate to a real cartesian
    assert(plan.contains("BroadcastExchange"), plan.take(800))
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    graft.CacheRegistry.releaseAll()
  }

  test("cross-corpus contamination broadcasts the EVAL side; train side one scan") {
    val emb = Tables.table(spark, sf0001, "embeddings")
    val df = graft.operators.Similarity.crossNearDups(
      emb.filter(col("vec_id") < 400), emb.filter(col("vec_id") >= 400), 0.35)
    val plan = physical(df)
    assert(plan.contains("BroadcastNestedLoopJoin") && plan.contains("BuildRight"),
      plan.take(800))
    // exactly one broadcast (the eval side); the train side must stream
    assert("BroadcastExchange".r.findAllIn(plan).size === 1, plan.take(800))
  }

  test("CDC chunking windows are keyed by doc_id (never an unpartitioned window)") {
    val docs = Tables.table(spark, sf0001, "documents")
    val plan = physical(graft.operators.Chunking.cdcChunks(docs))
    assert(!plan.contains("SinglePartition"),
      s"CDC running count must partition by doc_id:\n${plan.take(800)}")
  }

  test("snapshotDiff ships fingerprints, not payloads, through a single " +
    "shuffled join — no broadcast assumption, no nested loop") {
    val docs = Tables.table(spark, sf0001, "documents")
    val plan = physical(graft.operators.Scd.snapshotDiff(
      docs, docs, Seq("doc_id"), Seq("text", "lang")))
    assert(!plan.contains("BroadcastNestedLoop"), plan.take(400))
    // the join's output carries md5 fingerprints; the text column must be
    // consumed below the join (projected away before the shuffle)
    val joinLine = plan.linesIterator.find(_.contains("SortMergeJoin"))
      .orElse(plan.linesIterator.find(_.contains("ShuffledHashJoin")))
    assert(joinLine.isDefined, s"expected a shuffled equi-join:\n${plan.take(600)}")
  }

  test("applyBins is scan-side only: zero Exchange in the binning plan") {
    val docs = Tables.table(spark, sf0001, "documents")
    val binned = graft.operators.Quantiles.applyBins(
      docs.select("doc_id", "n_chars"),
      org.apache.spark.sql.functions.col("n_chars"),
      Array(10.0, 20.0, 30.0))
    val nodes = collectNodes(binned.queryExecution.executedPlan)
    assert(!nodes.exists(_.contains("Exchange")),
      s"binning must not shuffle: $nodes")
  }

  test("mergeIntervals: both windows and the aggregation share ONE Exchange") {
    import spark.implicits._
    val iv = Seq((1L, 0L, 10L), (1L, 5L, 12L), (2L, 0L, 5L))
      .toDF("k", "s0", "e0")
    val merged = graft.operators.TimeSeries.mergeIntervals(
      iv, Seq("k"), "s0", "e0")
    val nodes = collectNodes(merged.queryExecution.executedPlan)
    val exchanges = nodes.count(_.contains("Exchange"))
    assert(exchanges <= 1,
      s"expected one shared Exchange for both windows + agg, got $exchanges: $nodes")
  }

  test("orphanKeys: child collapses to key counts BEFORE the anti join " +
    "(aggregate below the join, no nested loop)") {
    val li = Tables.table(spark, sf0001, "lineitem")
    val ord = Tables.table(spark, sf0001, "orders")
    val plan = graft.operators.DataQuality.orphanKeys(
      li, "l_orderkey", ord, "o_orderkey").queryExecution.executedPlan
    val nodes = collectNodes(plan)
    assert(!nodes.exists(_.contains("BroadcastNestedLoop")), nodes.toString)
    // the anti join must sit ABOVE at least one hash aggregate (the
    // child-side collapse), not directly on the fact scan
    val s = nodes.mkString(" ")
    assert(s.contains("HashAggregate"), s)
  }

  test("PQ ADC is one scan: zero Exchange, candidate cut and re-rank both " +
    "TakeOrderedAndProject") {
    val emb = Tables.table(spark, sf0001, "embeddings")
    val q = emb.filter(org.apache.spark.sql.functions.col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble).toArray
    val cb = graft.operators.PQ.train(emb, dim = q.length, m = 8, k = 4,
      iters = 1)
    val plan = graft.operators.PQ.neighbors(emb, cb, q, k = 5, rerank = 20,
      excludeId = Some(0L)).queryExecution.executedPlan
    val nodes = collectNodes(plan)
    assert(!nodes.exists(_.contains("Exchange")),
      s"ADC ranking must not shuffle: $nodes")
    assert(nodes.count(_.contains("TakeOrderedAndProject")) === 2,
      s"expected cut + re-rank TakeOrdered pair: $nodes")
  }

  test("residual IVFADC keeps q128's shape: one scan, zero Exchange, " +
    "probe filter + residual + codes fused, TakeOrdered pair") {
    val emb = Tables.table(spark, sf0001, "embeddings")
    val q = emb.filter(org.apache.spark.sql.functions.col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble).toArray
    val idx = graft.operators.IVF.train(emb, k = 4, iters = 1)
    val cb = graft.operators.PQ.trainResidual(emb, idx, dim = q.length,
      m = 8, k = 4, iters = 1)
    val plan = graft.operators.PQ.ivfadcResidualNeighbors(emb, idx, cb, q,
      k = 5, nProbe = 2, rerank = 20, excludeId = Some(0L))
      .queryExecution.executedPlan
    val nodes = collectNodes(plan)
    assert(!nodes.exists(_.contains("Exchange")),
      s"residual IVFADC must not shuffle: $nodes")
    assert(nodes.count(_.contains("TakeOrderedAndProject")) === 2,
      s"expected cut + re-rank TakeOrdered pair: $nodes")
    assert(nodes.count(_.contains("Scan")) === 1,
      s"probe filter, residual, codes and LUT CASE must share one scan: $nodes")
  }

  test("z-order layout is exactly one range Exchange over the scan") {
    val li = Tables.table(spark, sf0001, "lineitem")
      .select(org.apache.spark.sql.functions.col("l_extendedprice").as("a"),
        org.apache.spark.sql.functions.col("l_discount").as("b"))
    val plan = graft.sources.ZOrder.zorder(li,
      Seq(("a", 900.0, 105000.0), ("b", 0.0, 0.1)), numFiles = 8)
      .queryExecution.executedPlan
    val nodes = collectNodes(plan)
    assert(nodes.count(_.contains("Exchange")) === 1,
      s"the layout costs one range repartition, no more: $nodes")
    assert(!nodes.exists(_.toLowerCase.contains("sortmergejoin")), nodes.toString)
  }

  test("bigram scorer: the only FORCED broadcast is the one-row V frame — " +
    "fact and model joins are left to the planner's size estimates") {
    val docs = Tables.table(spark, sf0001, "documents")
    val analyzed = graft.operators.Scoring.bigramLogProbScore(docs)
      .queryExecution.analyzed
    // count broadcast hints in the resolved logical plan: exactly one
    // (the single-row vocabulary total); at sf0.001 AQE may well choose
    // to broadcast the small model table too, and at 100 TB it must be
    // free NOT to — that choice stays unforced
    val hints = analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.size === 1,
      s"expected exactly the one-row V broadcast hint, got ${hints.size}")
    assert(hints.head.child.maxRows.contains(1L),
      "the hinted frame must be provably single-row")
  }

  test("q161 digest plan: one two-phase hash aggregation, no Sort, no Join") {
    val nodes = collectNodes(Queries.byName("q161_table_digest")(
      spark, sf0001).queryExecution.executedPlan)
    assert(!nodes.exists(_.toLowerCase.contains("sort")),
      s"digest must never sort: $nodes")
    assert(!nodes.exists(_.toLowerCase.contains("join")),
      s"digest is one scan, no joins: $nodes")
    assert(nodes.count(_ == "HashAggregate") === 2,
      s"partial + final hash aggregate expected: $nodes")
  }

  test("q171/q172 comparator pair joins are bucket equi-joins, never " +
    "nested loops") {
    for (q <- Seq("q171_jaro_winkler", "q172_damerau")) {
      val nodes = collectNodes(Queries.byName(q)(spark, sf0001)
        .queryExecution.executedPlan)
      assert(!nodes.exists(n => n.contains("Cartesian") ||
        n.contains("BroadcastNestedLoop")),
        s"$q must stay an equi-join: $nodes")
      graft.CacheRegistry.releaseAll()
    }
  }

  test("JW candidate generation (prefix q171/q173, anagram q185) keeps " +
    "every pair join an equi-join — no cartesian under either route") {
    for (q <- Seq("q171_jaro_winkler", "q173_fuzzy_linkage",
        "q185_jw_neardups")) {
      val nodes = collectNodes(Queries.byName(q)(spark, sf0001)
        .queryExecution.executedPlan)
      assert(!nodes.exists(n => n.contains("Cartesian") ||
        n.contains("BroadcastNestedLoop")),
        s"$q must stay on equi-joins: $nodes")
      graft.CacheRegistry.releaseAll()
    }
  }

  test("round-10 queries (q186-q189) stay cartesian-free and keyed: the " +
    "span/removal/packing windows all partition by a key") {
    for (q <- Seq("q186_char_dup_spans", "q187_exactsubstr_dedup",
        "q188_hnsw_recall", "q189_sequence_packing")) {
      val nodes = collectNodes(Queries.byName(q)(spark, sf0001)
        .queryExecution.executedPlan)
      assert(!nodes.exists(n => n.contains("Cartesian") ||
        n.contains("BroadcastNestedLoop")),
        s"$q must stay on equi-joins: $nodes")
      graft.CacheRegistry.releaseAll()
    }
    // the span-merge and prefix-sum windows must be keyed (doc_id /
    // __pid), never a one-partition global window over the corpus
    for (q <- Seq("q186_char_dup_spans", "q187_exactsubstr_dedup",
        "q189_sequence_packing")) {
      val windows = Queries.byName(q)(spark, sf0001)
        .queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
        }
      assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
        s"$q: every window must partition by a key")
      graft.CacheRegistry.releaseAll()
    }
  }

  test("q175 bottom-k window partitions by group — no single-partition " +
    "global window") {
    val plan = physical(Queries.byName("q175_bottomk_sketch")(spark, sf0001))
    // a global window renders as 'Window [...], [rank...]' with an empty
    // partition spec; the keyed form carries 'partitionby' on grp
    assert(!plan.contains("WindowExec, []"), "window must be keyed")
    val windows = Queries.byName("q175_bottomk_sketch")(spark, sf0001)
      .queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
    assert(windows.nonEmpty &&
      windows.forall(_.partitionSpec.nonEmpty),
      "every window must partition by the group key")
  }
}
