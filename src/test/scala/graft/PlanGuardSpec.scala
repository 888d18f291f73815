package graft

/** Physical-plan regression guards: the scale posture of a query lives in
  * its plan shape (what shuffles, what broadcasts, what reaches the scan),
  * and a refactor can silently regress it while every value stays correct.
  * These assert the load-bearing shapes for representative queries at
  * sf0.001 (plan shape is scale-independent; AQE may later improve, but
  * the initial plan must already be right).
  */
class PlanGuardSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, d).queryExecution.executedPlan.toString

  private def shuffles(p: String): Int =
    "Exchange hashpartitioning".r.findAllMatchIn(p).size

  test("s6 random projection: no shuffle, scan pruned to 2 columns") {
    val p = plan("s6_random_projection")
    assert(!p.contains("Exchange"), p)
    assert(p.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"), p)
  }

  test("t20 classifier: the whole model application is map-only — zero exchanges") {
    val p = plan("t20_classifier")
    assert(!p.contains("Exchange"), p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("s12 SQ8: one tiny stats broadcast; the corpus codes never shuffle into the search") {
    val p = plan("s12_sq8_topk")
    // Stats row + query codes are the ONLY broadcasts; the corpus-sided
    // encode is a projection over the scan. The per-query top-k window
    // partitions by query_id (bounded), never a corpus-keyed sort.
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("d11 containment: pair-output joins run as shuffled hash joins (the LSH lesson), never broadcast") {
    val p = plan("d11_containment")
    // The prefix ⋈ inverted-index join's cost is its pair OUTPUT — an
    // input-sized broadcast choice would serialize the explosion.
    assert(p.contains("ShuffledHashJoin"), p)
  }

  test("p5 domain sampling: thresholds broadcast; corpus never shuffled by domain") {
    val p = plan("p5_domain_sample")
    assert(p.contains("BroadcastHashJoin"), p)
    // The per-domain count agg and the final ≤#domains-row summary agg
    // shuffle tiny frames; the corpus rows move only through the
    // summary's partial-agg exchange — never a join shuffle.
    assert(shuffles(p) <= 3, p)
  }

  test("t12 span duplication: exactly the gram-hash and doc-id shuffles") {
    val p = plan("t12_span_dup")
    assert(shuffles(p) == 2, p)
    // The gram shuffle's input is the Generate output (doc_id, h) — the
    // shingle expression evaluates BELOW the exchange, so text stays
    // partition-local and only 16-byte rows move.
    assert(p.contains("Exchange hashpartitioning(h"), p)
    assert("Exchange hashpartitioning\\(h[^\\n]*\\n\\s*\\+- Generate explode\\(shinglehashesexpr".r
      .findFirstIn(p).isDefined, p)
  }

  test("q24 salted join: real hash join, no nested-loop or cartesian fallback") {
    val p = plan("q24_salted_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q24's unsalted twin: AQE skew-join splits the hot key at runtime (SkewJoin's when-to-use contract)") {
    // SkewJoin.scala's claim — "AQE's skew-join split handles the
    // sort-merge case at runtime; this is the explicit form for planners
    // that can't see the skew" — pinned by running the UNSALTED join on a
    // hot-key fixture under AQE and asserting (a) the runtime plan really
    // did split the skewed partition and (b) the output equals the salted
    // operator's, so either remedy is output-identical.
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val keys = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      // Force sort-merge (the case AQE's skew split serves); thresholds
      // shrunk so the unit-test-sized hot partition counts as skewed.
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1KB")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // Half the fact rows pile onto key 7 — one reducer owns them all
      // unless something splits it.
      val big = (0L until 20000L)
        .map(i => (if (i % 2 == 0) 7L else i % 1000, i)).toDF("k", "v")
      val small = (0L until 1000L).map(i => (i, s"s$i")).toDF("k", "name")
      val plain = big.join(small, "k")
      plain.collect() // materialize so AQE finalizes the runtime plan
      val p = plain.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"), s"AQE did not split the hot key:\n$p")
      val salted = graft.operators.SkewJoin.saltedJoin(
        big, small, "k", salts = 8, saltFrom = Some(col("v")))
        .select("k", "v", "name")
      val pl = plain.select("k", "v", "name")
      assert(pl.except(salted).isEmpty && salted.except(pl).isEmpty,
        "salted and AQE-handled unsalted joins must be output-identical")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("c3 bloom decontam: sketch prefilter sits below the exact semi-join") {
    val p = plan("c3_bloom_decontam")
    // The literal-sketch might_contain must filter the corpus-side grams
    // BEFORE the semi-join (that ordering IS the operator's point).
    assert(p.contains("might_contain"), p)
    val semiIdx = p.indexOf("LeftSemi")
    val mcIdx = p.indexOf("might_contain")
    assert(semiIdx >= 0 && mcIdx > semiIdx,
      s"might_contain should appear under (after, in tree print order) the semi-join\n$p")
    // Candidate-derived side must not be force-broadcast.
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("t13 bm25: global top-k via TakeOrderedAndProject, query terms broadcast") {
    val p = plan("t13_bm25")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p) // the 10-row term frame
  }

  test("p6 corpus shuffle: windows partition by shard — no single-partition sort") {
    val p = plan("p6_corpus_shuffle")
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(p.contains("Exchange hashpartitioning(shard"), p)
  }

  test("g1 pagerank: rank map joins shuffle; no broadcast of the growing side") {
    val p = plan("g1_pagerank")
    // 5 rounds of edge⋈rank joins: every join is a real hash/merge join,
    // never a nested-loop fallback.
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q1 saved analytics: dimension join broadcasts, filter reaches the scan") {
    val p = plan("q1_total_distinct")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("PushedFilters: [") && p.contains("IsNotNull"), p)
  }

  test("q1/q19 adopt the catalog: executed plan flips broadcast ↔ bloom with catalog contents, values unchanged") {
    import org.apache.spark.sql.functions._
    import graft.operators.Profiling
    val baselineQ1 = SparkEntry.queries("q1_total_distinct")(spark, d)
      .collect().map(_.toSeq).toSeq
    val baselineQ19 = SparkEntry.queries("q19_star_join")(spark, d)
      .collect().map(_.toSeq).map(_.toString).sorted.toSeq
    val root = java.nio.file.Files.createTempDirectory("graft_cat_root").toString
    spark.conf.set("spark.graft.statsCatalogRoot", root)
    try {
      // Catalog claims: orders is a huge fact, customer is over the
      // broadcast threshold but key-selective → the ladder must pick
      // bloom_reduced at the engine's own sites (the frames themselves
      // are untouched fixture tables — choose-time independence).
      Profiling.writeTableStats(
        spark.range(0, 2000000L).select(col("id").cast("string").as("o_custkey")),
        s"$root/orders.o_custkey", "o_custkey")
      Profiling.writeTableStats(
        spark.range(0, 1200000L).select((col("id") % 5000).cast("string").as("c_custkey")),
        s"$root/customer.c_custkey", "c_custkey")
      val p1 = plan("q1_total_distinct")
      assert(p1.contains("might_contain") || p1.contains("BloomFilter"), p1)
      val p19 = plan("q19_star_join")
      assert(p19.contains("might_contain") || p19.contains("BloomFilter"), p19)
      // hash-green under the flipped plan: identical values
      assert(SparkEntry.queries("q1_total_distinct")(spark, d)
        .collect().map(_.toSeq).toSeq == baselineQ1)
      assert(SparkEntry.queries("q19_star_join")(spark, d)
        .collect().map(_.toSeq).map(_.toString).sorted.toSeq == baselineQ19)
    } finally spark.conf.unset("spark.graft.statsCatalogRoot")
    // root unset → the hand-pinned broadcast is back (the fallback path)
    assert(plan("q1_total_distinct").contains("BroadcastHashJoin"))
  }

  test("q1 selectivity: the freq sidecar flips the filtered dim back to broadcast; values unchanged") {
    import org.apache.spark.sql.functions._
    import graft.operators.Profiling
    val baselineQ1 = SparkEntry.queries("q1_total_distinct")(spark, d)
      .collect().map(_.toSeq).toSeq
    val root = java.nio.file.Files.createTempDirectory("graft_sel_root").toString
    spark.conf.set("spark.graft.statsCatalogRoot", root)
    try {
      // Catalog claims: customer is over the broadcast threshold (2M rows,
      // key-selective → the unfiltered ladder picks bloom_reduced), but
      // the c_mktsegment freq sidecar records BUILDING at 90k rows — q1's
      // declared dimFilter judges the join by THAT, and 90k fits the
      // broadcast rung. q2 (unfiltered, same catalog) must keep the
      // unfiltered choice — the flip is filter-scoped, not global.
      Profiling.writeTableStats(
        spark.range(0, 2000000L).select(col("id").cast("string").as("o_custkey")),
        s"$root/orders.o_custkey", "o_custkey")
      Profiling.writeTableStats(
        spark.range(0, 2000000L).select(
          (col("id") % 5000).cast("string").as("c_custkey"),
          when(col("id") < 90000, "BUILDING").otherwise(
            concat(lit("SEG"), (col("id") % 20).cast("string"))).as("c_mktsegment")),
        s"$root/customer.c_custkey", "c_custkey",
        freqCols = Seq("c_mktsegment"))
      val p1 = plan("q1_total_distinct")
      assert(p1.contains("BroadcastHashJoin"),
        s"filtered-dim selectivity must take the broadcast: $p1")
      val p2 = plan("q2_count_by_group")
      assert(p2.contains("might_contain") || p2.contains("BloomFilter"),
        s"unfiltered q2 keeps the unfiltered-stats choice: $p2")
      assert(SparkEntry.queries("q1_total_distinct")(spark, d)
        .collect().map(_.toSeq).toSeq == baselineQ1)
    } finally spark.conf.unset("spark.graft.statsCatalogRoot")
  }

  test("TPC-H star rows adopt the catalog: q40/q53/q54/q55/q58 plans flip with entries, values unchanged") {
    import org.apache.spark.sql.functions._
    import graft.operators.Profiling
    val rows = Seq("q40_shipping_priority", "q53_local_supplier_volume",
      "q54_market_share", "q55_cust_order_dist", "q58_small_qty_revenue")
    val baseline = rows.map(q => q -> SparkEntry.queries(q)(spark, d)
      .collect().map(_.toSeq).map(_.toString).sorted.toSeq).toMap
    val root = java.nio.file.Files.createTempDirectory("graft_star_root").toString
    spark.conf.set("spark.graft.statsCatalogRoot", root)
    try {
      // Catalog claims chosen to force NON-default choices: customer and
      // supplier are over-threshold but key-selective → bloom_reduced at
      // the q40/q53/q54 dim joins; orders over-threshold on an OUTER join
      // → q55 falls to shuffle (no bloom rung, no broadcast); lineitem's
      // l_partkey entry claims a hot key over the salt share → q58's
      // derived-frame join actuates the hot/cold split (a Union in the
      // plan, which the plain join never has).
      Profiling.writeTableStats(
        spark.range(0, 2000000L).select(col("id").cast("string").as("o_custkey")),
        s"$root/orders.o_custkey", "o_custkey")
      // customer: key-selective AND skewed — dim side for q40/q53/q54
      // (bloom; the dim's top count is ladder-irrelevant), FACT side for
      // q55 (salted — the outer ladder's distinctive actuation)
      Profiling.writeTableStats(
        spark.range(0, 1200000L).select(
          when(col("id") % 2 === 0, lit(0L)).otherwise(col("id") % 5000)
            .cast("string").as("c_custkey")),
        s"$root/customer.c_custkey", "c_custkey")
      Profiling.writeTableStats(
        spark.range(0, 2000000L).select(col("id").cast("string").as("l_suppkey")),
        s"$root/lineitem.l_suppkey", "l_suppkey")
      Profiling.writeTableStats(
        spark.range(0, 1200000L).select((col("id") % 3000).cast("string").as("s_suppkey")),
        s"$root/supplier.s_suppkey", "s_suppkey")
      Profiling.writeTableStats(
        spark.range(0, 400000L).select(
          when(col("id") % 2 === 0, lit(0L)).otherwise(col("id"))
            .cast("string").as("l_partkey")),
        s"$root/lineitem.l_partkey", "l_partkey")
      val p40 = plan("q40_shipping_priority")
      assert(p40.contains("might_contain") || p40.contains("BloomFilter"), p40)
      val p53 = plan("q53_local_supplier_volume")
      assert(p53.contains("might_contain") || p53.contains("BloomFilter"), p53)
      val p54 = plan("q54_market_share")
      assert(p54.contains("might_contain") || p54.contains("BloomFilter"), p54)
      // q55: fact-side skew on an OUTER join → salted actuation (hot/cold
      // split union — legal for outer: the dim carries every salt value)
      val p55 = plan("q55_cust_order_dist")
      assert(p55.contains("Union"), p55)
      // q58: salted actuation = hot/cold split union
      val p58 = plan("q58_small_qty_revenue")
      assert(p58.contains("Union"), p58)
      rows.foreach { q =>
        assert(SparkEntry.queries(q)(spark, d)
          .collect().map(_.toSeq).map(_.toString).sorted.toSeq == baseline(q),
          s"$q values changed under catalog adoption")
      }
    } finally spark.conf.unset("spark.graft.statsCatalogRoot")
  }

  test("q56 anti join adopts the catalog: the declared date dimRange flips the plan via the histogram; values unchanged") {
    import org.apache.spark.sql.functions._
    import graft.operators.Profiling
    val baseline = SparkEntry.queries("q56_sales_opportunity")(spark, d)
      .collect().map(_.toSeq).map(_.toString).sorted.toSeq
    val root = java.nio.file.Files.createTempDirectory("graft_q56_root").toString
    spark.conf.set("spark.graft.statsCatalogRoot", root)
    try {
      // Planted claims sized so the RANGE changes the chosen strategy:
      // customer 4M rows / ~1M distinct, orders 5M rows / ~1M distinct
      // with o_day uniform over 0..2199 → k = n_a/maxD ≈ 4. Without the
      // histogram the anti join is judged by the unfiltered 5M rows
      // (est ≈ 20M > 2·9M) → pinned shuffle_hash; with it, the declared
      // [1096, ∞) window reads ≈ 2.5M from the overlapped bins
      // (est ≈ 10M ≤ 2·6.5M) → plain shuffle (no pin). Broadcast can't
      // absorb either (both over the 1M-row default).
      Profiling.writeTableStats(
        spark.range(0, 4000000L).select(
          (col("id") % 1000000L).cast("string").as("c_custkey")),
        s"$root/customer.c_custkey", "c_custkey")
      val orders = spark.range(0, 5000000L).select(
        (col("id") % 1000000L).cast("string").as("o_custkey"),
        (col("id") % 2200L).as("o_day"))
      Profiling.writeTableStats(orders, s"$root/orders.o_custkey", "o_custkey")
      val pNoHist = plan("q56_sales_opportunity")
      assert(pNoHist.contains("ShuffledHashJoin"),
        s"unfiltered 5M-row claim must pin shuffle_hash:\n$pNoHist")
      // refreshSkew re-arms the sidecars WITH the histogram — the
      // maintenance op a production catalog would run; the same entry now
      // judges the dim by the window's bin sum and drops the pin
      Profiling.refreshSkew(orders, s"$root/orders.o_custkey", "o_custkey",
        histCols = Seq("o_day"))
      val pHist = plan("q56_sales_opportunity")
      assert(!pHist.contains("ShuffledHashJoin"),
        s"range selectivity must release the explosion pin:\n$pHist")
      val adopted = SparkEntry.queries("q56_sales_opportunity")(spark, d)
        .collect().map(_.toSeq).map(_.toString).sorted.toSeq
      assert(adopted == baseline, "q56 values changed under catalog adoption")
    } finally spark.conf.unset("spark.graft.statsCatalogRoot")
  }

  test("q5 filter+project: predicate pushed to parquet, scan pruned") {
    val p = plan("q5_filter_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(!p.contains("Exchange"), p) // pure scan→filter→project
  }

  test("q34 global rank: range exchange + pid-partitioned window, NEVER a single-partition sort") {
    val p = plan("q34_global_rank")
    assert(p.contains("Exchange rangepartitioning"), p)
    // the window must partition by the partition id, not run global
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(p.contains("Exchange hashpartitioning(__pid"), p)
  }

  test("x1 percentile: rank selection — range exchange, NO value-buffer percentile aggregate") {
    val p = plan("x1_percentile")
    // The per-group (value → count) buffer aggregate must be gone…
    assert(!p.toLowerCase.contains("percentile("), p)
    // …replaced by the range shuffle + the broadcast rank-target join.
    assert(p.contains("Exchange rangepartitioning"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("u1 merge upsert: one equi-join, no nested-loop fallback") {
    val p = plan("u1_merge_upsert")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("FullOuter") || p.contains("full_outer") || p.contains("FullOuterJoin"), p)
  }

  test("g2 triangles: degree joins and wedge join are hash joins, corpus never nested-loops") {
    val p = plan("g2_triangles")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("LeftSemi"), p) // the closing-edge check
  }

  test("dynamic partition pruning fires on partitioned fact ⋈ filtered dim") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    graft.sources.Tables.events(spark, d)
      .write.mode("overwrite").partitionBy("event_type").parquet(dir)
    val fact = spark.read.parquet(dir)
    val dimDir = java.nio.file.Files.createTempDirectory("graft_dpp_dim").toString
    Seq(("purchase", 1L), ("error", 2L), ("view", 2L))
      .toDF("event_type", "tier").write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    val joined = fact.join(dim.filter(col("tier") === 1L), Seq("event_type"))
    val p = joined.queryExecution.executedPlan.toString
    // the fact scan's PartitionFilters must carry the runtime subquery —
    // at 100 TB this is the difference between scanning one event_type
    // directory and scanning the whole table
    assert(p.toLowerCase.contains("dynamicpruning"), p)
  }

  test("t25 collocations: global top-k never sorts the full pair table") {
    val p = plan("t25_collocations")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("t10/t13/t25 construction runs ZERO jobs — corpus scalars fold in-plan") {
    // "No query constructs itself by scanning data": bm25's N/Σdl,
    // tfidf's N, and collocations' bigram total are one-row broadcast
    // aggregates INSIDE the returned plan, never driver actions. At
    // 100 TB a construct-time count is an extra full pass before the
    // real job starts.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import graft.operators.TextAnalysis
    val docs = graft.sources.Tables.documents(spark, d)
    docs.count() // any read-side schema/listing job lands outside the window
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      TextAnalysis.bm25(docs)
      TextAnalysis.tfidfTopTerms(docs)
      TextAnalysis.collocations(docs)
      org.apache.spark.sql.graftbridge.ListenerBridge.waitUntilEmpty(spark.sparkContext)
      assert(jobs.get() == 0,
        s"query construction ran ${jobs.get()} Spark job(s) — a construct-time corpus scan")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("x14/x16/h1 construction runs ZERO jobs — the in-plan principle, completed") {
    // The last three construct-time scans (r9 verdict): x14's grand total,
    // x16's corpus total, and h1's Misra-Gries candidate collect are now
    // one-row broadcast attaches / an exploded candidate join INSIDE the
    // returned plan. Building each query must launch no Spark job.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import graft.operators.TextAnalysis
    val docs = graft.sources.Tables.documents(spark, d)
    docs.count() // flush read-side listing jobs outside the window
    graft.sources.Tables.events(spark, d).count()
    graft.sources.Tables.orders(spark, d).count()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      SparkEntry.queries("x14_chisq")(spark, d)
      SparkEntry.queries("x16_benford")(spark, d)
      TextAnalysis.heavyHitters(docs)
      org.apache.spark.sql.graftbridge.ListenerBridge.waitUntilEmpty(spark.sparkContext)
      assert(jobs.get() == 0,
        s"query construction ran ${jobs.get()} Spark job(s) — a construct-time corpus scan")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("runtime bloom-filter join pruning fires on fact ⋈ selective dim") {
    // The row-level sibling of dynamic partition pruning: a bloom filter
    // built from the filtered dim side is injected into the fact scan's
    // data filters, discarding non-joining rows BEFORE the shuffle — at
    // 100 TB the difference between shuffling the whole fact table and
    // shuffling the ~matching slice. Needs a fact side big enough to
    // clear the planner's size threshold and a non-broadcastable join.
    val s = spark.newSession()
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "10KB")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10MB")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import org.apache.spark.sql.functions.col
    val fact = graft.sources.Tables.lineitem(s, d)
    val dim = graft.sources.Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val p = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag")).count()
      .queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("bloomfilter"), p)
  }

  test("r2 interval join: pair join is a pinned ShuffledHashJoin, never a broadcast") {
    val p = plan("r2_interval_join")
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("d10 ppjoin: prefix pair join and verify joins are pinned ShuffledHashJoins") {
    val p = plan("d10_ppjoin")
    assert("ShuffledHashJoin".r.findAllMatchIn(p).size >= 3, p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("checkpointedWithHashPartitioning: rows intact, partitioning restored, " +
      "keyed aggregate plans without a new exchange") {
    import org.apache.spark.sql.functions._
    val bridge = org.apache.spark.sql.graftbridge.DatasetBridge
    val df = spark.range(1000).select((col("id") % 7).as("k"), col("id").as("v"))
    val cp = bridge.checkpointedWithHashPartitioning(
      df.repartition(4, col("k")).localCheckpoint(), "k")
    // correctness first: the metadata claim must not change a single row
    assert(cp.groupBy(col("k")).agg(sum(col("v")).as("s")).orderBy(col("k"))
      .collect().toSeq ==
      df.groupBy(col("k")).agg(sum(col("v")).as("s")).orderBy(col("k"))
        .collect().toSeq)
    // the restored metadata: a groupBy on the partitioning key needs NO
    // shuffle (the plain checkpoint loses this under AQE — guarded here
    // because the CC closure's per-round exchange reuse depends on it)
    val agg = cp.groupBy(col("k")).count()
    agg.collect()
    val p = agg.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"), p)
    val plain = bridge.dropCheckpointConstraints(
      df.repartition(4, col("k")).localCheckpoint())
      .groupBy(col("k")).count()
    plain.collect()
    assert(plain.queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning"),
      "plain checkpoint unexpectedly kept partitioning — the bridge helper " +
        "may be redundant now")
    // misuse guard: naming a column that is not in the output fails loudly
    intercept[IllegalArgumentException] {
      bridge.checkpointedWithHashPartitioning(
        df.repartition(4, col("k")).localCheckpoint(), "nope")
    }
  }

  test("repartition(n,k).distinct() checkpoint: layout preserved through the " +
      "distinct — keyed aggregate AND key-equi join both plan no exchange") {
    // clustersLogStar's round-state contract: an explicit-count repartition
    // followed by distinct() keeps HashPartitioning(k, n) (the aggregate's
    // ClusteredDistribution(k, v) is satisfied by the subset key, so the
    // dedup runs in place), the bridge re-asserts it through AQE, and the
    // star round's half ⋈ mins join — keyed on exactly the partition key —
    // runs co-partitioned with no exchange. (A join keyed on (k, v) would
    // NOT reuse it: requireAllClusterKeysForCoPartition declines subset-key
    // co-partitioning for joins, which is why the convergence anti-join is
    // count-gated instead of free.)
    import org.apache.spark.sql.functions._
    val bridge = org.apache.spark.sql.graftbridge.DatasetBridge
    def mk(lo: Long, hi: Long) = bridge.checkpointedWithHashPartitioning(
      spark.range(lo, hi)
        .select((col("id") % 7).as("k"), (col("id") % 13).as("v"))
        .repartition(4, col("k")).distinct().localCheckpoint(), "k")
    val a = mk(0, 1000)
    // values: the distinct really deduped and the metadata claim is true
    assert(a.count() == 7L * 13L)
    val agg = a.groupBy(col("k")).count()
    agg.collect()
    assert(!agg.queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning"),
      "repartition+distinct checkpoint lost the key layout")
    // the star-round shape: an aggregate of the checkpoint joined back to
    // a filter of the same checkpoint, keyed on the partition key alone
    val mins = a.groupBy(col("k")).agg(min(col("v")).as("m"))
    val joined = a.filter(col("v") > col("k"))
      .join(mins.hint("shuffle_hash"), Seq("k"))
    joined.collect()
    val jp = joined.queryExecution.executedPlan.toString
    assert(!jp.contains("Exchange"),
      s"key-equi join over the checkpoint unexpectedly re-shuffled:\n$jp")
  }

  test("spark.graft.closure.reliableCheckpoint: closure labels identical and " +
      "the reliable checkpoint still restores hash partitioning") {
    // The 100 TB fault-tolerance knob (r12 verdict finding #1): with the
    // conf on, closure round state goes through reliable checkpoint()
    // files instead of unreplicated executor-local blocks. Values must be
    // bit-identical, and the bridge's partitioning restore must hold on a
    // reliable-checkpoint LogicalRDD exactly as on a local one.
    import org.apache.spark.sql.functions._
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_reliable_ckpt")
    spark.sparkContext.setCheckpointDir(ckptDir.toString)
    val docs = spark.range(200).select(col("id").as("doc_id"))
    // chained pairs inside groups of 50 → forces several propagation
    // rounds AND the logStar escalation path under a small budget
    val pairs = spark.range(200).filter(col("id") % 50 =!= 49)
      .select(col("id").as("doc_a"), (col("id") + 1L).as("doc_b"))
    val base = graft.operators.Dedup.clusters(docs, pairs)
      .orderBy(col("doc_id")).collect().toSeq
    val baseStar = graft.operators.Dedup.clustersLogStar(docs, pairs)
      .orderBy(col("doc_id")).collect().toSeq
    spark.conf.set("spark.graft.closure.reliableCheckpoint", "true")
    try {
      assert(graft.operators.Dedup.clusters(docs, pairs)
        .orderBy(col("doc_id")).collect().toSeq == base)
      assert(graft.operators.Dedup.clustersLogStar(docs, pairs)
        .orderBy(col("doc_id")).collect().toSeq == baseStar)
      // partitioning restore on a RELIABLE checkpoint's LogicalRDD
      val bridge = org.apache.spark.sql.graftbridge.DatasetBridge
      val cp = bridge.checkpointedWithHashPartitioning(
        spark.range(1000).select((col("id") % 7).as("k"), col("id").as("v"))
          .repartition(4, col("k")).checkpoint(), "k")
      val agg = cp.groupBy(col("k")).count()
      agg.collect()
      assert(!agg.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"),
        "reliable checkpoint lost the restored layout")
    } finally spark.conf.unset("spark.graft.closure.reliableCheckpoint")
  }

  test("etl write: one rebalance exchange above the rollup's hash exchange; none without partition columns") {
    // Sink.writeData clusters by the partition columns AFTER the rollup, so
    // each county directory gets one writer; a rebalance below the
    // aggregate could not be split by AQE, and a frame without partition
    // columns must not pay a shuffle at all.
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, REBALANCE_PARTITIONS_BY_COL, ShuffleExchangeExec}
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.util.QueryExecutionListener
    val input = graft.sources.Tables.events(spark, d)
      .select(col("ts").as("timestamp"), col("user_id").as("bldg_id"), col("value").as("load"),
        (col("user_id") % 2).cast("int").as("upgrade"), col("event_type").as("state"),
        (col("user_id") % 3).cast("string").as("county"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_write_plan").toString
    def writePlan(write: => Unit): SparkPlan = {
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
      val listener = new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
          plans.add(qe.executedPlan); ()
        }
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        write
        org.apache.spark.sql.graftbridge.ListenerBridge.waitUntilEmpty(spark.sparkContext)
      } finally spark.listenerManager.unregister(listener)
      val writes = plans.toArray(Array.empty[SparkPlan])
        .filter(_.toString.contains("InsertIntoHadoopFsRelationCommand"))
      assert(writes.length === 1, writes.mkString("\n"))
      writes.head
    }
    val aqe = new AdaptiveSparkPlanHelper {}
    def exchanges(p: SparkPlan): Seq[ShuffleExchangeExec] =
      aqe.collect(p) { case e: ShuffleExchangeExec => e }

    val rolled = graft.operators.HourlyRollup(input, passThrough = Seq("upgrade", "state", "county"))
    val p = writePlan(graft.etl.Sink.writeData(rolled, tmp, "rolled"))
    val rebalance = exchanges(p).filter(_.shuffleOrigin == REBALANCE_PARTITIONS_BY_COL)
    assert(rebalance.size === 1, p)
    val keys = rebalance.head.outputPartitioning match {
      case h: HashPartitioning => h.references.map(_.name).toSet
      case other => fail(s"rebalance by $other")
    }
    assert(keys === Set("upgrade", "state", "county"), p)
    val below = exchanges(rebalance.head.child)
    assert(below.size === 1 && below.head.shuffleOrigin == ENSURE_REQUIREMENTS &&
      below.head.toString.contains("hashpartitioning(timestamp"), p)
    assert(exchanges(p).size === 2, p)

    val flat = writePlan(graft.etl.Sink.writeData(input.drop("upgrade", "state", "county"), tmp, "flat"))
    assert(exchanges(flat).isEmpty, flat)
  }

  test("rollup of a 100-float-column frame: one RoundedMeansAgg per aggregate stage, no per-column avg or round") {
    // 100 avg's would carry 200 buffer fields — past codegen.maxFields —
    // and JIT-compile hundreds of generated buffer-projection slots; one
    // imperative aggregate per stage, its fixed-width buffer in the hash map.
    import org.apache.spark.sql.catalyst.expressions.RoundBase
    import org.apache.spark.sql.catalyst.expressions.aggregate.Average
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec}
    import org.apache.spark.sql.functions._
    val df = spark.range(0, 64, 1, 2).select(
      Seq(timestamp_seconds(col("id") * 900).as("timestamp"), (col("id") % 4).as("bldg_id")) ++
        (0 until 100).map(i => (col("id") * (i + 1) / 7.0).as(s"c$i")): _*)
    val rolled = graft.operators.HourlyRollup(df)
    rolled.collect()
    val p = rolled.queryExecution.executedPlan
    val aqe = new AdaptiveSparkPlanHelper {}
    val aggs = aqe.collect(p) { case a: BaseAggregateExec => a }
    assert(aggs.size === 2 && aggs.forall(_.isInstanceOf[HashAggregateExec]), p)
    for (a <- aggs)
      assert(a.aggregateExpressions.count(
        _.aggregateFunction.isInstanceOf[graft.functions.RoundedMeansAgg]) === 1, a)
    val exprs = aqe.flatMap(p)(_.expressions)
    assert(!exprs.exists(_.exists(e => e.isInstanceOf[Average] || e.isInstanceOf[RoundBase])), p)
    assert(rolled.columns.count(_.endsWith("_mean")) === 100)
  }
}
