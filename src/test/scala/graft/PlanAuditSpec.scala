package graft

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._

import graft.ops.Router

/** Plan-quality regression guards: the properties graft.Explain shows
  * interactively, pinned as tests so a refactor can't silently lose
  * pushdown, pruning, or broadcast planning. */
class PlanAuditSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("q1 pushes the shipdate filter to the parquet scan and prunes columns") {
    val plan = SparkEntry.queries("q1_pricing_summary")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter not pushed:\n$plan")
    // projection pruning: the scan must not read l_orderkey/l_partkey etc.
    assert(!plan.contains("l_orderkey"), "scan reads unneeded columns")
  }

  test("star join broadcasts the dimension side") {
    val plan = SparkEntry.queries("q_join_revenue_nation")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
  }

  test("top-k compiles to TakeOrderedAndProject, not a global sort") {
    val plan = SparkEntry.queries("q_topk")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"unexpected plan:\n$plan")
  }

  test("shuffle_hash hint plans a ShuffledHashJoin (no sort phase)") {
    val plan = SparkEntry.queries("q_shuffle_hash_join")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), s"hint not honored:\n$plan")
  }

  test("partitioned layout read prunes partitions via PartitionFilters") {
    val plan = SparkEntry.queries("q_partition_prune")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(o_orderpriority"),
      s"partition filter not applied:\n$plan")
  }

  test("dpp scan carries a dynamicpruning PartitionFilter") {
    val plan = SparkEntry.queries("q_dpp")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no DynamicPruningSubquery on the partitioned scan:\n$plan")
  }

  test("a-priori pair supports generate inline — no basket self-join shuffle") {
    // basketCore replaced the pair self-join with collect_set + an
    // inline pair expression: the only joins left are broadcasts
    // (dims, frequent-item list, scalar totals)
    for (q <- Seq("q_itemsets", "q_assoc_rules")) {
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
        s"$q regressed to a shuffled basket join:\n$plan")
      assert(plan.contains("Generate"), s"$q lost the inline pair generate:\n$plan")
    }
  }

  test("span corruption is pure per-row arithmetic — no join, no window") {
    val plan = SparkEntry.queries("q_span_corruption")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Window"),
      s"span coverage should be recomputed per row, not joined:\n$plan")
  }

  test("contamination broadcasts the benchmark shingle side") {
    val plan = SparkEntry.queries("q_contamination")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"benchmark side not broadcast:\n$plan")
  }

  test("jaccard skew guard plans as broadcast anti-join, not a window") {
    val plan = SparkEntry.queries("q_jaccard_pairs")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"df guard regressed to a window:\n$plan")
    assert(plan.contains("LeftAnti"), s"no anti-join in guard:\n$plan")
  }

  test("simhash plans with no shuffle exchange (pure per-row kernel)") {
    val plan = SparkEntry.queries("q_simhash")(spark, sf)
      .queryExecution.executedPlan.toString
    // the only allowed exchange is the final ORDER BY's range partition
    assert(!plan.contains("Exchange hashpartitioning"),
      s"simhash should not hash-shuffle:\n$plan")
  }

  test("chunking runs through GenerateExec with pruned input") {
    val plan = SparkEntry.queries("q_chunking")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Generate chunk_document"), s"no generator node:\n$plan")
    // the scan must not read unneeded document columns
    assert(!plan.contains("n_chars"), "scan reads unneeded columns")
  }

  test("repetition and pii scrub are narrow maps (no exchange before sort)") {
    Seq("q_repetition", "q_pii_scrub").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"), s"$q shuffles:\n$plan")
    }
  }

  test("bucketed join plans with no exchange on the join key") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the sort-merge path so the assertion pins bucketing, not
      // a broadcast that would also avoid the exchange
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = SparkEntry.queries("q_bucketed_join")(spark, sf)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning(o_orderkey"),
        s"orders side shuffled despite bucketing:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning(l_orderkey"),
        s"lineitem side shuffled despite bucketing:\n$plan")
      // and the answer is right: matches the plain (shuffling) join
      val plain = spark.read.parquet(s"$sf/orders.parquet")
        .join(spark.read.parquet(s"$sf/lineitem.parquet"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_items"),
          (sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long")) / 100.0)
            .as("revenue"))
        .orderBy(col("o_orderstatus"))
      assert(df.collect() === plain.collect())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("zorder query: one narrow kernel map, one agg exchange, no window/sort extras") {
    val plan = SparkEntry.queries("q_zorder")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("zorder2"), s"kernel not in plan:\n$plan")
    assert(!plan.contains("Window"), s"unexpected window:\n$plan")
    // exactly one hash exchange (the zbucket aggregation); the only
    // other exchange is the final ORDER BY's range partitioning
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges === 1, s"expected 1 hash exchange, got $hashExchanges:\n$plan")
  }

  test("filtered-rank queries run under WindowGroupLimit (bounded top-n, partial+final)") {
    // Spark's InferWindowGroupLimit turns `filter(row_number/rank <= k)`
    // into a per-partition bounded heap BEFORE the window sort — the
    // map-side combine of top-n-per-group. At 100 TB this caps the
    // exchange at k rows per group instead of every row; pin it so a
    // query-shape refactor can't silently lose it
    // (q_window_funcs is excluded: its window also computes ntile, which
    // needs the whole partition, so a group limit would be incorrect
    // there and Spark rightly does not infer one)
    Seq("q_window_rank", "q_tfidf").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString
      assert(plan.contains("WindowGroupLimit"), s"$q lost WindowGroupLimit:\n$plan")
      assert(plan.contains("Partial"), s"$q group limit is not map-side:\n$plan")
    }
  }

  test("dynamic partition pruning: dim filter prunes fact partitions at runtime") {
    // lay the fact out hive-partitioned by lang — at 100 TB this is the
    // directory layout that lets a filtered dim join skip whole
    // partitions without reading a byte of them
    val dir = java.nio.file.Files.createTempDirectory("graft-dpp-").toString
    spark.read.parquet(s"$sf/documents.parquet")
      .write.partitionBy("lang").mode("overwrite").parquet(dir)
    val fact = spark.read.parquet(dir)
    // the dim must be a real source: a Seq-backed LocalRelation gets its
    // filter constant-folded away (ConvertToLocalRelation), and DPP
    // requires a surviving selective predicate on the filtering side
    val dimDir = java.nio.file.Files.createTempDirectory("graft-dpp-dim-").toString
    Seq(("en", "keep"), ("de", "drop"), ("fr", "drop"))
      .toDF("lang", "verdict").write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir).filter($"verdict" === "keep")
    val joined = fact.join(dim, "lang").groupBy($"lang").count()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning in plan:\n$plan")
    // and the pruned plan still computes the right answer
    val expected = spark.read.parquet(s"$sf/documents.parquet")
      .filter($"lang" === "en").count()
    val got = joined.collect()
    assert(got.map(_.getLong(1)).sum === expected)
  }

  test("bm25 emits through TakeOrderedAndProject with broadcast stats") {
    val plan = SparkEntry.queries("q_bm25")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"top-k not bounded:\n$plan")
    assert(plan.contains("Broadcast"), s"corpus stats not broadcast:\n$plan")
  }

  test("3-D skyline's dominance pass is a broadcast join, never cartesian") {
    val plan = SparkEntry.queries("q_skyline3d")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"dominance anti-join not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian crept in:\n$plan")
  }

  test("market share joins facts by shuffle and dims by broadcast") {
    val plan = SparkEntry.queries("q_market_share")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"dims not broadcast:\n$plan")
  }

  test("er matching never plans a cartesian across blocks") {
    val plan = SparkEntry.queries("q_er_match")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"blocking must keep the join equi-keyed:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"blocking must keep the join equi-keyed:\n$plan")
  }

  test("regression plans one broadcast dim join and one grouped aggregate") {
    val plan = SparkEntry.queries("q_regression")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"dim join not broadcast:\n$plan")
    // the five moment sums must reduce in ONE aggregate pair (partial +
    // final): exactly one hash exchange on the group key before the sort
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges === 1, s"expected 1 hash exchange, got $exchanges:\n$plan")
  }

  test("k-means corpus never hash-shuffles vectors: model moves by broadcast") {
    val plan = SparkEntry.queries("q_kmeans")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastHashJoin")
      || plan.contains("BroadcastNestedLoopJoin"),
      s"centroid model should ride along broadcast:\n$plan")
    // assignment argmax must be an aggregate (map-side combining), not a
    // per-vector row_number window
    assert(!plan.contains("Window"), s"argmax regressed to a window:\n$plan")
  }

  test("PQ scoring touches codes + broadcast LUT, no window") {
    val plan = SparkEntry.queries("q_pq_adc")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"PQ argmax regressed to a window:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k should be a bounded heap, not a global sort:\n$plan")
  }

  test("EMA is one shuffle on the day key plus a bounded generate") {
    val plan = SparkEntry.queries("q_ema")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Generate explode"), s"no cover-day explode:\n$plan")
    assert(!plan.contains("Window"),
      s"EMA must not fall back to a sequential window:\n$plan")
  }

  test("hubness 3-NN rides the bounded partial heap, never an unbounded per-anchor window") {
    // round-13: stratifiedTopN is the rank-limit window form — the
    // scale property is the WindowGroupLimit[Partial] heap planted
    // BEFORE the exchange (each input partition ships ≤ strata×n
    // survivors), not the absence of a Window node. A plain Window
    // with NO group limit would be the regression.
    val plan = SparkEntry.queries("q_hubness")(spark, sf)
      .queryExecution.executedPlan.toString
    assert("WindowGroupLimit.*Partial".r.findFirstIn(plan).isDefined,
      s"top-3 lost its pre-exchange bounded heap:\n$plan")
  }

  test("theil decomposition materializes the customer table once") {
    val plan = SparkEntry.queries("q_theil_decomp")(spark, sf)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 3,
      s"domain reuse lost its checkpoint ($exchanges hash exchanges):\n$plan")
  }

  test("JL projection joins the sign matrix by broadcast") {
    val plan = SparkEntry.queries("q_jl_distortion")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"1024-row sign matrix should broadcast:\n$plan")
  }

  test("fano factor is two aggregations, no window anywhere") {
    val plan = SparkEntry.queries("q_fano_factor")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"unexpected window:\n$plan")
  }

  test("bench hard gate fires on a synthetic over-budget DRIVER row") {
    // round-11 verdict #1: the audit must apply the 2.5 s hard gate to
    // the driver's BENCH_rNN.json rows the same as the closing run's.
    val names = Set("q_fake_fast", "q_fake_slow", "q_ppr", "q_sssp")
    // an unjustified 3.1 s row is an offender…
    val o1 = Explain.hardOffenders(
      Map("q_fake_fast" -> 0.4, "q_fake_slow" -> 3.1), names)
    assert(o1 === Seq(("q_fake_slow", 3.1)))
    // …a floor-justified query at the same time is NOT…
    val o2 = Explain.hardOffenders(Map("q_sssp" -> 3.3, "q_ppr" -> 3.04), names)
    assert(o2.isEmpty, "floor-justified queries must be exempt")
    // …and a row for a query no longer in the registry is ignored
    val o3 = Explain.hardOffenders(Map("q_retired" -> 9.9), names)
    assert(o3.isEmpty)
    // driver-bench discovery parses round numbers, picks the max
    val latest = Explain.latestDriverBench()
    assert(latest.exists(_.getFileName.toString.matches("BENCH_r\\d+\\.json")))
    assert(Explain.readBenchSecs(latest.get).nonEmpty)
  }

  test("reshape exemption is keyed to the stale bench file only") {
    // round-13: a hard breach recorded in a driver file that PREDATES a
    // measured re-shape of the query is evidence about deleted code —
    // exempt for exactly that file, armed again everywhere else
    val names = Set("q_itemsets", "q_fake_slow")
    val staleRow = Map("q_itemsets" -> 2.69)
    // exempt when the source IS the recorded pre-reshape file…
    assert(Explain.hardOffenders(staleRow, names, Some("BENCH_r12.json")).isEmpty)
    // …but NOT for any later (or unknown) source: the gate re-arms
    assert(Explain.hardOffenders(staleRow, names, Some("BENCH_r13.json"))
      === Seq(("q_itemsets", 2.69)))
    assert(Explain.hardOffenders(staleRow, names) === Seq(("q_itemsets", 2.69)))
    // …and a non-reshaped query in the same stale file still fails
    assert(Explain.hardOffenders(Map("q_fake_slow" -> 3.1), names,
      Some("BENCH_r12.json")) === Seq(("q_fake_slow", 3.1)))
    // every recorded post-reshape min must sit within the advisory
    // budget, or the entry certifies a breach instead of explaining one
    val over = Explain.ReshapedAfter.filter(_._2._2 > Explain.BudgetSecs)
    assert(over.isEmpty, s"ReshapedAfter mins over budget: $over")
  }

  test("every AdvisoryNoted isolated-min sits at or under the advisory budget") {
    // round-11 verdict #2: an AdvisoryNoted value OVER the budget it
    // cites certifies a breach instead of explaining one
    val over = Explain.AdvisoryNoted.filter(_._2 > Explain.BudgetSecs)
    assert(over.isEmpty,
      s"AdvisoryNoted entries exceed the ${Explain.BudgetSecs} s advisory " +
        s"budget they cite: $over — re-measure (TimeQ) or re-shape")
  }

  test("JobCounter skips schema-inference reads, counts actions, drains stably") {
    val dir = tmpDir("graft-jobcounter") + "/t"
    spark.range(100).write.parquet(dir)
    val sc = spark.sparkContext
    val jobs = Harness.JobCounter.attach(spark)
    try {
      val j0 = jobs.drained()
      sc.setJobGroup("jobcounter-read", "schema inference")
      val df = try spark.read.parquet(dir) finally sc.clearJobGroup()
      // the read did run a job: the filter, not its absence, keeps it out
      assert(sc.statusTracker.getJobIdsForGroup("jobcounter-read").nonEmpty)
      assert(jobs.drained() === j0)
      df.collect()
      val j1 = jobs.drained()
      assert(j1 > j0)
      assert(jobs.drained() === j1)
    } finally sc.removeSparkListener(jobs)
  }

  test("failure counters via observable metrics (A2 observe variant)") {
    val obs = Observation("routing")
    val routed = Router.route(
      Seq(("a", "p", 100.0), ("b", "p", 30.0), ("c", "p", 2000.0))
        .toDF("orderId", "product", "price"))
      .observe(obs,
        count(when(col("status") === Router.Success, 1)).as("n_success"),
        count(when(col("status") === Router.Transient, 1)).as("n_transient"),
        count(when(col("status") === Router.Permanent, 1)).as("n_permanent"))
    routed.count()
    val m = obs.get
    assert(m("n_success") === 1L)
    assert(m("n_transient") === 1L)
    assert(m("n_permanent") === 1L)
  }

}
