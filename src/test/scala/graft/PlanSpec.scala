package graft

import org.apache.spark.sql.DataFrame

/** Physical-plan contracts for the 100 TB path: these assert the plan
  * SHAPE (pushdown, broadcast, top-k, codegen'd expressions), not results
  * — a regression here is a silent 10-100× cost at scale even when every
  * value stays correct.
  */
class PlanSpec extends SparkTestBase {

  private def planOf(df: DataFrame): String = df.queryExecution.executedPlan.toString
  private def q(name: String): DataFrame = SparkEntry.registry(name).fn(spark, sfTiny)

  /** Run `f` over a private copy of the sf0.001 corpus dir, then delete
    * the copy and the state `StateCache` built for it under its dedup
    * root: that state's key carries the copy's path, so no later run can
    * hit it.
    */
  private def withCorpusCopy(prefix: String)(f: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfTiny/documents.parquet"),
      java.nio.file.Paths.get(s"$dir/documents.parquet"))
    val key = "_" + dir.replaceAll("[^A-Za-z0-9.]", "_") + "_"
    def built = Option(new java.io.File(graft.etl.StateCache.dedupRoot).listFiles()).toSeq
      .flatten.filter(_.getName.contains(key))
    try {
      f(dir)
      assert(built.nonEmpty, s"no state under ${graft.etl.StateCache.dedupRoot} for $dir")
    } finally {
      built.foreach(d => graft.etl.ParquetTableStore.deleteStoreDir(d.getPath))
      graft.etl.ParquetTableStore.deleteStoreDir(dir)
    }
  }

  test("p2: filter and projection push into the parquet scan") {
    val p = planOf(q("p2_projection"))
    assert(p.contains("PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,O)]"), p)
    // pruned to the 3 projected columns + the filter column (4 of 9)
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint,o_orderstatus:string,o_orderdate:timestamp_ntz>"), p)
  }

  test("q3: small dimension side is broadcast, never shuffled") {
    val p = planOf(q("q3_top_revenue_orders"))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("j3: both star dims broadcast") {
    val p = planOf(q("j3_star_join"))
    assert(p.split("BroadcastHashJoin").length >= 3, p)
  }

  test("o1: top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = planOf(q("o1_topk_orders"))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("j1: change detection is a hash anti-join over pruned columns") {
    val p = planOf(q("j1_anti_join"))
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"), p)
  }

  test("q1: aggregation is partial+final with one exchange") {
    val p = planOf(q("q1_pricing_summary"))
    // map-side partial agg then final — two HashAggregates around one shuffle
    assert(p.split("HashAggregate").length >= 3, p)
    assert(p.contains("l_shipdate"), p)
  }

  test("d5/ann1: cosine runs through the codegen'd DotProduct expression") {
    assert(planOf(q("d5_embedding_neardup")).contains("dotproduct"), "d5 lost DotProduct")
    assert(planOf(q("ann1_bruteforce_topk")).contains("dotproduct"), "ann1 lost DotProduct")
  }

  test("q5: all three dimension joins broadcast; lineitem never builds a hash side") {
    val p = planOf(q("q5_region_revenue"))
    assert(p.split("BroadcastHashJoin").length >= 4, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("tpch suite: every shape is hash-joined — no nested loop except 1-row scalar broadcasts") {
    // q11/q15/q22 carry a 1-row scalar aggregate via broadcast cross
    // join (plans as BroadcastNestedLoopJoin over exactly one broadcast
    // row — the sanctioned PLANS.md exception); everything else must be
    // hash joins. CartesianProduct is banned everywhere.
    val scalarCross = Set("q11_important_parts", "q15_top_supplier", "q22_global_sales")
    val names = SparkEntry.registry.keys.filter(_.matches("q\\d+_.*")).toSeq.sorted
    // 22 canonical shapes + the Q1 incremental-mart twin
    assert(names.size == 23, s"expected the 22-shape suite + q1 mart, got $names")
    names.foreach { n =>
      val p = planOf(q(n))
      assert(!p.contains("CartesianProduct"), s"$n plans a cartesian product")
      if (!scalarCross(n))
        assert(!p.contains("BroadcastNestedLoopJoin"), s"$n plans a nested loop")
    }
  }

  test("q8/q4: fact-fact joins degrade to sort-merge without broadcast — same answers") {
    // the un-hinted joins (lineitem ⋈ orders, the q4 semi probe) pick
    // broadcast at tiny SF via AQE; at cluster scale the same plan must
    // flip to SMJ. Pin the flip AND result equality — the plan is an
    // optimizer choice, never a correctness dependency.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    def run(name: String) = SparkEntry.registry(name).fn(spark, sfTiny)
    val base8 = run("q8_market_share").collect().map(_.toString).toSeq
    val base4 = run("q4_order_priority").collect().map(_.toString).toSeq
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df8 = run("q8_market_share")
      df8.collect() // materialize so AQE finalizes the plan
      assert(df8.queryExecution.executedPlan.toString.contains("SortMergeJoin"),
        "q8 fact-fact join did not degrade to SMJ")
      assert(run("q8_market_share").collect().map(_.toString).toSeq == base8,
        "q8 answers changed under SMJ")
      assert(run("q4_order_priority").collect().map(_.toString).toSeq == base4,
        "q4 answers changed under SMJ")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q6: all three predicates reach the parquet scan; 4-column read") {
    // the compact toString elides long PushedFilters lists — use the
    // formatted explain (what PLANS.md shows) for the full pushdown list.
    // Another suite may have cached lineitem (Spark substitutes any
    // matching plan fragment with the InMemoryRelation, hiding the
    // parquet scan) — drop caches so the assert sees the real scan.
    spark.catalog.clearCache()
    val p = q("q6_forecast_revenue").queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("GreaterThanOrEqual(l_shipdate,") &&
      p.contains("LessThan(l_quantity,24.0)") &&
      p.contains("GreaterThanOrEqual(l_discount,0.05)"), p)
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate:timestamp_ntz>"), p)
  }

  test("q4/q16/q22: existence probes plan as semi/anti hash joins") {
    assert(planOf(q("q4_order_priority")).contains("LeftSemi"), "q4 lost the semi join")
    assert(planOf(q("q16_supplier_counts")).contains("LeftAnti"), "q16 lost the anti join")
    assert(planOf(q("q22_global_sales")).contains("LeftAnti"), "q22 lost the anti join")
  }

  test("q18/q10: top-k after aggregation plans as TakeOrderedAndProject") {
    assert(planOf(q("q10_returned_items")).contains("TakeOrderedAndProject"), "q10")
    assert(planOf(q("q18_large_orders")).contains("TakeOrderedAndProject"), "q18")
  }

  test("j5: as-of join is one shuffle by user, no theta join") {
    val p = planOf(q("j5_asof_join"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // one hashpartitioning exchange for the window + the final sort
    assert(p.contains("WindowExec") || p.contains("Window"), p)
  }

  test("j7: range join stays an equi-join — no nested loop, no cartesian") {
    val p = planOf(q("j7_range_join"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("Join") || p.contains("BroadcastHashJoin"), p)
  }

  test("st3: sliding window is a flat projection + single aggregation, no self-join") {
    val p = planOf(q("st3_sliding_window"))
    assert(!p.contains("Join"), p)
    assert(p.split("HashAggregate").length >= 3, p) // partial + final
  }

  test("fan: no-op when the input already has enough partitions") {
    import spark.implicits._
    val wide = spark.range(0, 1000, 1, 64).toDF("id")
    assert(graft.operators.Par.fan(wide).rdd.getNumPartitions == 64)
    val narrow = spark.range(0, 1000, 1, 1).toDF("id")
    assert(graft.operators.Par.fan(narrow).rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
  }

  test("ivf training aggregates via vectorSum partials, not posexplode") {
    val emb = Tables.embeddings(spark, sfTiny)
    val v = emb.select(org.apache.spark.sql.functions.col("embedding")
      .cast("array<double>").as("v"))
      .groupBy().agg(graft.functions.VectorFunctions.vectorSum(
        org.apache.spark.sql.functions.col("v")).as("s"))
    val p = planOf(v)
    assert(!p.contains("Generate"), p) // no explode anywhere
    assert(p.contains("vectorsumagg") || p.toLowerCase.contains("vectorsum"), p)
  }

  test("bucketed tables join co-located: zero exchange") {
    import spark.implicits._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val bs = new graft.etl.BucketedStore(spark)
      bs.write("b_orders", Tables.orders(spark, sfTiny)
        .select($"o_custkey", $"o_orderkey", $"o_totalprice"), Seq("o_custkey"), 8)
      bs.write("b_cust", Tables.customer(spark, sfTiny)
        .select($"c_custkey", $"c_name"), Seq("c_custkey"), 8)
      val j = bs.read("b_orders")
        .join(bs.read("b_cust"), $"o_custkey" === $"c_custkey")
      assert(!planOf(j).contains("Exchange"), planOf(j))
      assert(j.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("partitioned staging prunes partitions at planning time") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("part_store").toString
    val store = new graft.etl.ParquetTableStore(spark, root)
    store.overwritePartitioned("staged",
      Tables.events(spark, sfTiny).select($"event_id", $"user_id", $"event_type"),
      Seq("event_type"))
    val read = store.read("staged").filter($"event_type" === "click")
    val p = planOf(read)
    assert(p.contains("PartitionFilters: [isnotnull(event_type"), p)
    // only the click directory is listed — row count matches the source
    assert(read.count() ==
      Tables.events(spark, sfTiny).filter($"event_type" === "click").count())
  }

  test("normalize plan stays narrow: no exchange in the staging projection") {
    import spark.implicits._
    val raw = Seq((1, Map("a" -> "1"))).toDF("sheet_row_number", "payload")
      .selectExpr("'r1' as raw_id", "sheet_row_number",
        "current_timestamp() as received_at", "'live' as source_type", "payload")
    val p = planOf(graft.etl.Normalize(raw))
    assert(!p.contains("Exchange"), p)
  }

  test("j8: the bloom probe filters the fact side BELOW the join") {
    val p = planOf(q("j8_bloom_prune_join"))
    // the probe must sit in a Filter under the join, not above it —
    // above, the shuffle/broadcast would carry the unpruned fact side
    val joinIdx = p.indexOf("Join")
    val probeIdx = p.indexOf("might_contain")
    assert(joinIdx >= 0 && probeIdx > joinIdx,
      s"bloom probe not below the join (join@$joinIdx probe@$probeIdx):\n$p")
    // and it is the native Catalyst expression, not a UDF — the probe
    // stage stays inside whole-stage codegen
    assert(!p.contains("UDF") && !p.contains("BatchEvalPython"), p)
  }

  test("d18: bloom probe is codegen-native; the corpus anti-join sees positives only") {
    val p = planOf(q("d18_bloom_dedup"))
    // the probe is Catalyst's BloomFilterMightContain (no UDF boundary)
    assert(p.contains("might_contain"), p)
    assert(!p.contains("UDF") && !p.contains("BatchEvalPython"), p)
    // the anti-join's probe side is filtered to bloom-positives BELOW the
    // join — negatives never pay the corpus verification
    val antiIdx = p.indexOf("LeftAnti")
    val probeIdx = p.lastIndexOf("might_contain")
    assert(antiIdx >= 0 && probeIdx > antiIdx,
      s"positive-filter not below the anti-join (anti@$antiIdx probe@$probeIdx):\n$p")
  }

  test("e2e9: both retrieval branches broadcast the query side; rankings partial-limit") {
    val p = planOf(q("e2e9_retrieval_eval"))
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q18: the HAVING aggregate runs below the joins, customer broadcasts") {
    val p = planOf(q("q18_large_orders"))
    // lineitem aggregates before any join touches it: the first
    // HashAggregate appears deeper in the plan than the last join
    val lastJoin = p.lastIndexOf("Join")
    val firstAgg = p.indexOf("HashAggregate")
    assert(firstAgg > lastJoin, s"aggregate not below joins:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("st5: the interval join is an equi-join on user_id, never nested-loop") {
    val p = planOf(q("st5_attribution_join"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("a18: sufficient statistics aggregate partially before the exchange") {
    val p = planOf(q("a18_corr"))
    assert(p.split("HashAggregate").length >= 3, p)
  }

  test("dynamic partition pruning fires on a partition-key join") {
    import spark.implicits._
    // at 100 TB the fact table is partitioned and the dim filter is only
    // known at runtime — DPP turns the partition-key join into a
    // partition filter on the scan, so unmatched partitions are never
    // read. Prove the mechanism fires under OUR session config.
    val dir = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    Tables.events(spark, sfTiny)
      .write.partitionBy("event_type").mode("overwrite").parquet(s"$dir/fact")
    // the dim must be a FILTERED SCAN at planning time (a literal local
    // relation constant-folds, and the PartitionPruning rule then sees no
    // selective predicate to propagate)
    Seq(("purchase", 1), ("click", 0)).toDF("etype", "flag")
      .write.mode("overwrite").parquet(s"$dir/dim")
    val fact = spark.read.parquet(s"$dir/fact")
    val dim = spark.read.parquet(s"$dir/dim").filter($"flag" === 1)
    val joined = fact.join(dim, fact("event_type") === dim("etype"))
    val p = joined.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning in:\n$p")
  }

  test("AQE splits a skewed sort-merge join at runtime") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{when, concat, lit}
    // salting (j6) is the manual fix; AQE's skew-join split is the
    // automatic one — prove it engages under our session config (with
    // thresholds scaled down to fixture size).
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val big = spark.range(0, 40000)
        .select(when($"id" % 4 =!= 0, 0L).otherwise($"id").as("k"),
          concat(lit("payload_payload_payload_"), $"id").as("v"))
      val small = spark.range(0, 2000).select($"id".as("k"), $"id".as("w"))
      val j = big.join(small, Seq("k"))
      // materialize THIS Dataset's QueryExecution — AQE finalizes the
      // plan at runtime (count()/write() would plan a separate one)
      assert(j.collect().nonEmpty)
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"), s"no skew-split join in:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("ann7: the metadata filter is pushed into the candidate parquet scan") {
    val p = planOf(q("ann7_filtered_topk"))
    // the filtered-ANN contract: the label predicate prunes BELOW the
    // distance pass — PushedFilters on the embeddings scan, so at scale
    // the distance pass reads only the qualifying stripe
    assert(p.contains("LessThan(label,5)"), s"label filter not pushed:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("srch1/srch2: query terms filter before any shuffle; top-k is TakeOrdered") {
    val p1 = planOf(q("srch1_bm25"))
    assert(p1.contains("TakeOrderedAndProject"), p1)
    assert(!p1.contains("CartesianProduct"), p1)
    val p2 = planOf(q("srch2_bm25_indexed"))
    // the stored-index path pushes the term filter into the postings scan
    assert(p2.contains("PushedFilters: [In(term, [hash,spark,vector])"), p2)
    assert(p2.contains("TakeOrderedAndProject"), p2)
  }

  test("srch2: 100-term hot-vocabulary query runs exchange-free on the postings side") {
    // a wide OR query's shortlist is corpus-shaped, so the bucket layout
    // is what keeps the serve cost flat: the postings scan must arrive
    // pre-partitioned on term (bucketed scan engaged) and NO shuffle may
    // sit between that scan and the per-term df aggregate that consumes
    // it — the only exchange in the whole plan is the doc-grained score
    // aggregation (shortlist-sized by construction).
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = Tables.documents(spark, sfTiny)
    val idx = graft.operators.TextIndexStore.ensure(sfTiny, docs)
    // 100 most frequent tokens — the hot vocabulary
    import org.apache.spark.sql.functions._
    val hot = docs.select(explode(split(col("text"), " ")).as("t"))
      .groupBy(col("t")).count().orderBy(col("count").desc).limit(100)
      .collect().map(_.getString(0)).toSeq
    val df = graft.operators.TextIndexStore.search(spark, idx, hot, k = 20)
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    assert(plan.toString.contains("SelectedBucketsCount"),
      s"postings scan not bucketed\n$plan")
    var found = 0
    def walk(node: SparkPlan, pendingExchange: Boolean): Unit = node match {
      case f: FileSourceScanExec =>
        if (f.toString.contains("graft_bkt_postings")) {
          found += 1
          assert(!pendingExchange,
            s"shuffle between the postings scan and its consumer\n$plan")
        }
      case e: ShuffleExchangeExec => e.children.foreach(walk(_, true))
      // a shuffle ABOVE a join is the shortlist-sized score aggregation
      // — legitimate; the contract is only scan-to-consumer
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
        j.children.foreach(walk(_, false))
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec =>
        j.children.foreach(walk(_, false))
      case other => other.children.foreach(walk(_, pendingExchange))
    }
    walk(plan, pendingExchange = false)
    assert(found > 0, s"no bucketed postings scan in plan\n$plan")
    assert(df.count() == 20)
  }

  test("s9: weighted sampling is one narrow pass + TakeOrdered, zero joins") {
    val p = planOf(q("s9_weighted_sample"))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
  }

  test("s12/mx7: global order comes from the prefix-sum fabric, no corpus-sized window") {
    // both ranks are cumSum (RDD mapPartitions) — zero WindowExec in the
    // executed plan. mx7's one real window (per-source offsets) runs over
    // the source-count AGGREGATE inside the cumSum lineage, never a
    // document scan (PropertySpec drives the semantics).
    for (name <- Seq("s12_deterministic_shuffle", "mx7_curriculum_interleave")) {
      val p = planOf(q(name))
      assert(!p.contains("Window"), s"$name:\n$p")
    }
  }

  test("t15/t16: LM scoring has no cartesian and no data-sized window") {
    for (name <- Seq("t15_lm_score", "t16_lm_frozen")) {
      val p = planOf(q(name))
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
      assert(!p.contains("Window"), s"$name:\n$p")
      // the 1-row vocab crossJoin must be a broadcast nested loop, and
      // the only one in the plan
      assert(p.split("BroadcastNestedLoopJoin").length == 2, s"$name:\n$p")
    }
  }

  test("d23/d24: the indexed serve plan never reads the corpus — only the pinned batch") {
    // the whole point of DedupIndexStore: per-batch work is batch-sized.
    // The serve path pins the arriving batch ONCE with a localCheckpoint
    // (the filtered corpus read runs in that pin job, where the batch
    // predicate is pushed into the scan), so the serve plan itself must
    // contain ZERO documents.parquet FileScans — every batch read is the
    // pinned ExistingRDD, every other scan a stored index table. A
    // documents.parquet FileScan appearing here would mean a corpus-
    // shaped re-read leaked back into the per-batch cost.
    // hermetic corpus dir: other suites cache Tables.documents(sfTiny)
    // raw, and Spark's shared CacheManager could otherwise substitute
    // that cache here and change the printed plan with suite order.
    withCorpusCopy("graft-planspec") { dir =>
      for (name <- Seq("d23_indexed_pairs", "d24_indexed_containment")) {
        val p = planOf(SparkEntry.registry(name).fn(spark, dir))
        val docScanLines = p.split("\n").filter(l =>
          l.contains("FileScan") && l.contains("documents.parquet"))
        assert(docScanLines.isEmpty,
          s"$name: corpus re-read leaked into the serve plan:\n${docScanLines.mkString("\n")}")
        assert(p.contains("ExistingRDD"), s"$name: no pinned batch scan\n$p")
        assert(p.contains("graft-dedup-state"), s"$name: no index-table scan\n$p")
        assert(!p.contains("CartesianProduct"), s"$name:\n$p")
      }
    }
  }

  test("d28/d29: band-index serves never read the corpus — pinned batch + stored bands only") {
    // the HammingIndexStore contract for both faces (64-bit SimHash and
    // the width-parameterized b-bit): the batch's signatures pin once
    // (localCheckpoint), so the serve plan reads ONLY the ExistingRDD
    // and the stored band table — a documents.parquet FileScan would be
    // a corpus-shaped re-read in the per-batch cost.
    withCorpusCopy("graft-planspec-band") { dir =>
      for (name <- Seq("d28_indexed_simhash", "d29_indexed_bbit")) {
        val p = planOf(SparkEntry.registry(name).fn(spark, dir))
        val docScanLines = p.split("\n").filter(l =>
          l.contains("FileScan") && l.contains("documents.parquet"))
        assert(docScanLines.isEmpty,
          s"$name: corpus re-read leaked into the serve plan:\n${docScanLines.mkString("\n")}")
        assert(p.contains("ExistingRDD"), s"$name: no pinned batch scan\n$p")
        assert(p.contains("graft-dedup-state"), s"$name: no stored band-table scan\n$p")
        assert(!p.contains("CartesianProduct"), s"$name:\n$p")
      }
    }
  }

  test("d26: the suffix serve stage never reads the corpus — pinned batch + stored suffix table only") {
    // same contract as d23/d24 for the suffix store: the relational
    // stage feeding the neighbor scan (serveUnion — the scan itself is
    // RDD lineage) must read ONLY the pinned batch (ExistingRDD) and the
    // stored suffix table; a documents.parquet FileScan here would be a
    // corpus re-read leaking into the per-batch cost.
    withCorpusCopy("graft-planspec-sfx") { dir =>
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(spark, dir)
      val idx = graft.operators.SuffixIndexStore.ensure(spark, dir,
        docs.filter(col("doc_id") % 2 === 0), minLen = 8, maxLen = 32)
      val p = planOf(graft.operators.SuffixIndexStore.serveUnion(idx,
        docs.filter(col("doc_id") % 2 === 1)))
      val docScanLines = p.split("\n").filter(l =>
        l.contains("FileScan") && l.contains("documents.parquet"))
      assert(docScanLines.isEmpty,
        s"corpus re-read leaked into the serve stage:\n${docScanLines.mkString("\n")}")
      assert(p.contains("ExistingRDD"), s"no pinned batch scan\n$p")
      assert(p.contains("graft-dedup-state"), s"no stored suffix-table scan\n$p")
      assert(!p.contains("CartesianProduct"), p)
    }
  }

  test("d23/d24: stored index tables join from their bucket layout — no exchange on the stored side") {
    // the r7 scaling probe's one growth term: the serve join re-shuffled
    // the corpus-sized stored postings every batch. With the tables
    // bucket-encoded on their join keys, the stored side of every serve
    // join must arrive pre-partitioned: bucketed scans engaged, and no
    // shuffle between a stored-index scan and the join that consumes it.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    for (name <- Seq("d23_indexed_pairs", "d24_indexed_containment")) {
      val df = SparkEntry.registry(name).fn(spark, sfTiny)
      val plan = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      assert(plan.toString.contains("SelectedBucketsCount"),
        s"$name: no bucketed scan engaged\n$plan")
      // the corpus-sized stored tables (postings / prefix_* / sets) feed
      // their consuming join STRAIGHT from the bucket layout: no shuffle
      // may sit between a stored scan and the nearest join above it.
      // (Exchanges above joins — dedup, ordering — are batch-sized and
      // legitimate; freq may ride a size-gated broadcast: vocab-sized.)
      val bigStored = "graft_bkt_(postings|prefix_jac|prefix_cont|sets)".r
      var found = 0
      def walk(node: SparkPlan, pendingExchange: Boolean): Unit = node match {
        case f: FileSourceScanExec =>
          if (bigStored.findFirstIn(f.toString).isDefined) {
            found += 1
            assert(!pendingExchange,
              s"$name: shuffle between a stored-index scan and its join\n$plan")
          }
        case e: ShuffleExchangeExec => e.children.foreach(walk(_, true))
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec =>
          j.children.foreach(walk(_, false))
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec =>
          j.children.foreach(walk(_, false))
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
          j.children.foreach(walk(_, false))
        case other => other.children.foreach(walk(_, pendingExchange))
      }
      walk(plan, pendingExchange = false)
      assert(found > 0, s"$name: no stored-table scan found\n$plan")
    }
  }

  test("verify stages run through intersect_size, not size(array_intersect)") {
    // the IntersectSizeRewrite optimizer rule must fire across the dedup
    // verify surface: no intersection array is ever materialized just to
    // be counted.
    for (name <- Seq("d11_prefix_pairs", "d23_indexed_pairs", "d24_indexed_containment")) {
      val p = planOf(q(name))
      assert(p.contains("intersectsize"), s"$name: rewrite did not fire\n$p")
      assert(!p.contains("array_intersect"), s"$name: raw array_intersect survived\n$p")
    }
  }

  test("g1/g2: the PageRank iteration never force-broadcasts the rank table") {
    // rank/degree tables are NODE-sized — linear in the corpus on a
    // document graph — so a forced broadcast would hit Spark's broadcast
    // ceiling long before 100 TB. With auto-broadcast disabled the
    // iteration plan must hold NO BroadcastExchange (nothing forces one;
    // at real sizes Spark's size-gated auto-broadcast may still choose
    // one when rank is genuinely small — that gate is the contract), and
    // the pre-partitioned edge side must join without its own exchange.
    import org.apache.spark.sql.functions.{col, count, lit}
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val raw = Tables.orders(spark, sfTiny)
        .select(col("o_custkey").as("src"), col("o_orderkey").as("dst"))
      // cap=0 forces the above-the-gate (100 TB) pin: partitioned caches
      val (edges, deg, small) = graft.operators.Graph.pinned(raw, cap = 0L)
      try {
        assert(!small)
        val ranks = deg.select(col("src").as("node"), lit(1000000L).as("r"))
        def outerPlan(sm: Boolean) = {
          val df = graft.operators.Graph.inflowStep(edges, deg, ranks, sm)
          df.queryExecution.executedPlan match {
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              a.executedPlan
            case p => p
          }
        }
        // above the gate: walk the OUTER physical plan (an
        // InMemoryTableScan is a leaf — the cached plan's build-time
        // exchange is not per-iteration cost); no broadcast anywhere and
        // the only exchange the step needs is the dst aggregation's
        val big = outerPlan(sm = false)
        val exchanges = big.collect {
          case e: org.apache.spark.sql.execution.exchange.Exchange => e
        }
        assert(!exchanges.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.exchange.BroadcastExchangeExec]),
          big.toString)
        assert(exchanges.length <= 1, big.toString)
        // below the gate: measured-small node tables ride broadcast joins
        // (the fast plan auto-broadcast can't pick itself — a checkpointed
        // rank table carries no stats)
        assert(outerPlan(sm = true).toString.contains("BroadcastHashJoin"))
        // and the small pin really is the plain-checkpoint shape
        val (se, sd, ssmall) = graft.operators.Graph.pinned(raw)
        assert(ssmall)
        se.unpersist(); sd.unpersist()
      } finally { edges.unpersist(); deg.unpersist() }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("sem1/sem2 serve from stored state — no centroid training in the timed plan") {
    // the r7 regression: the serve path re-ran labelCentroids (posexplode
    // + per-(label, dim) aggregation) and re-assigned the corpus per
    // call. Served plans must hold NO posexplode — centroids and cell
    // assignments come from the persisted semantic state.
    for (name <- Seq("sem1_semantic_dedup", "sem2_incremental_semdedup")) {
      val p = planOf(q(name))
      assert(!p.toLowerCase.contains("posexplode"),
        s"$name: centroid training ran inside a serve\n$p")
    }
  }

  test("prof1: no multi-distinct Expand — per-column single-distinct passes") {
    val p = planOf(q("prof1_column_profile"))
    assert(!p.contains("Expand"), s"multi-distinct Expand returned:\n$p")
    assert(p.contains("Union"), p)
  }

  test("dq3: cumulative windows run over value-domain aggregates, not doc rows") {
    val df = q("dq3_ks_drift")
    val p = planOf(df)
    // every Window sits above a HashAggregate (counts per value), so the
    // window input is domain-sized; the raw documents scan feeds only aggs
    assert(p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the final statistic is integer: schema has no double column
    assert(df.schema.fields.forall(_.dataType != org.apache.spark.sql.types.DoubleType), p)
  }
}
