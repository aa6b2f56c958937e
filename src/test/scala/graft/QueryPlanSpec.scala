package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.types.StructType

/** Plan/structure assertions (the Spark analog of the reference's
  * DagBag tests, `/root/reference/test_dag.py` — but also checking the
  * physical properties that matter at 100 TB: scan pruning, pushdown,
  * broadcast joins, single-shuffle aggregation).
  */
class QueryPlanSpec extends SparkSpec {

  private def plan(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan

  // one build per query (its eager set-up is the cost): the schemas the
  // first test builds are reused by the oracle alias check
  private val schemas = collection.mutable.Map.empty[String, StructType]
  private def schema(name: String): StructType =
    schemas.getOrElseUpdate(name, SparkEntry.queries(name)(spark, sf).schema)

  test("every registered query has a well-formed analyzed plan and schema") {
    val qs = SparkEntry.queries
    assert(qs.size >= 31, s"expected >=31 queries, got ${qs.size}")
    qs.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.schema.fields.nonEmpty, s"$name: empty schema")
      df.queryExecution.assertAnalyzed()
      schemas(name) = df.schema
    }
  }

  test("every query with an oracle aliases columns (driver compares by name)") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    SparkEntry.oracleSql.keys.foreach { name =>
      schema(name).fieldNames.foreach(c => assert(!c.contains("("),
        s"$name: unaliased column `$c` would break the name-sorted compare"))
    }
  }

  test("agg_parquet_stats answers from parquet footers: aggregation pushed into the scan") {
    val p = plan("agg_parquet_stats").toString
    assert(p.contains(
      "PushedAggregation: [COUNT(*), MIN(l_orderkey), MAX(l_orderkey)"),
      s"aggregate not pushed into the parquet scan — the query would " +
        s"silently fall back to decoding every row group:\n$p")
    // the scan's output IS the aggregate values — no data column read
    assert(p.contains("ReadSchema: struct<count(*):bigint"),
      s"scan still reads data columns:\n$p")
  }

  test("agg_partition_stats: grouped aggregation pushed into the partitioned scan") {
    val p = plan("agg_partition_stats").toString
    assert(p.contains("PushedGroupBy: [o_orderpriority]"),
      s"group-by not pushed (grouping must be partition columns):\n$p")
    assert(p.contains("PushedAggregation: [COUNT(*), MIN(o_orderkey)"),
      s"aggregates not pushed:\n$p")
  }

  test("join_dpp: the fact scan carries a dynamic partition pruning subquery") {
    val p = plan("join_dpp").toString
    assert(p.contains("dynamicpruning"),
      s"no DynamicPruningSubquery on the fact scan — remember Catalyst's " +
        s"isLikelySelective rejects bare boolean attribute filters:\n$p")
  }

  test("join_runtime_bloom: the fact scan is bloom-filtered before the shuffle") {
    val p = plan("join_runtime_bloom").toString
    assert(p.contains("might_contain"),
      s"no runtime bloom filter injected on the fact side:\n$p")
    assert(p.contains("bloom_filter_agg"),
      s"no bloom_filter_agg on the creation side:\n$p")
  }

  test("drop_projection prunes the scan to output+filter columns and pushes the filter") {
    val scan = plan("drop_projection").collectLeaves().head.toString
    // 4 of 6 columns: the 3 projected + p_size (kept for the residual
    // filter re-evaluation — Spark never drops pushed-filter columns)
    assert(scan.contains("ReadSchema: struct<p_partkey:bigint,p_brand:string,p_size:int,p_retailprice:double>"),
      s"scan not pruned:\n$scan")
    assert(scan.contains("PushedFilters: [IsNotNull(p_size), GreaterThan(p_size,25)]"),
      s"filter not pushed:\n$scan")
  }

  test("flagship enrich broadcasts both dimension joins") {
    val p = plan("flagship_enrich")
    val bcasts = p.toString.split("BroadcastHashJoin").length - 1
    assert(bcasts == 2, s"expected 2 broadcast joins:\n$p")
  }

  test("sink_partitioned read-back prunes to one hive partition") {
    val leaves = plan("sink_partitioned").collectLeaves().map(_.toString)
    val scan = leaves.find(_.contains("graft_sink_partitioned")).getOrElse(
      fail(s"no partitioned scan leaf in:\n${leaves.mkString("\n")}"))
    assert(scan.contains("PartitionFilters: [isnotnull(o_orderpriority"),
      s"no partition filter:\n$scan")
    assert(scan.contains("1-URGENT"), s"partition literal not pushed:\n$scan")
  }

  test("ann_index_query reads only the probed cells' inverted lists") {
    // the serving contract: the persisted-index scan must carry a
    // LITERAL c_id partition filter (probe list collected to the query
    // head), so unprobed lists are pruned at file-listing time
    val leaves = plan("ann_index_query").collectLeaves().map(_.toString)
    val scan = leaves.find(_.contains("graft_ann_index")).getOrElse(
      fail(s"no index scan leaf in:\n${leaves.mkString("\n")}"))
    assert(scan.contains("PartitionFilters: [c_id"),
      s"no literal partition filter on the index scan:\n$scan")
    assert(scan.contains("INSET"), s"probe list not a literal INSET filter:\n$scan")
  }

  test("generator_items plans a GenerateExec fan-out (native UDTF)") {
    val p = plan("generator_items").toString
    assert(p.contains("Generate graft_extract_items("), s"no Generate node:\n$p")
  }

  test("dedup_simhash is banded: hash joins on signature halves, no nested loop") {
    val p = plan("dedup_simhash").toString
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"simhash must not compare all pairs:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"expected equi-joins on the signature halves:\n$p")
  }

  test("sim_ann_lsh equi-joins the corpus on the probe signature key") {
    val p = plan("sim_ann_lsh").toString
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"ANN candidates must come from a bucket join, not a corpus scan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected a hash join on sig:\n$p")
  }

  test("dedup pair verification runs the codegen'd sorted-hash merge, not array_intersect") {
    Seq("dedup_jaccard_pairs", "dedup_minhash_lsh").foreach { name =>
      val p = plan(name).toString
      assert(p.contains("sorted_intersect_size"),
        s"$name: verification should use the native merge expression:\n$p")
      assert(!p.contains("array_intersect"),
        s"$name: string-array intersection left in the hot path:\n$p")
    }
  }

  test("join_bucketed: sort-merge join reads buckets directly, no Exchange under the join") {
    // (string assertions: TreeNode.collect cannot descend through the
    // AdaptiveSparkPlanExec wrapper, whose children list is empty)
    val p = plan("join_bucketed").toString
    assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n$p")
    assert(p.split("Bucketed: true").length - 1 == 2,
      s"both scans must be bucketed:\n$p")
    assert(!p.contains("Exchange hashpartitioning(l_orderkey") &&
      !p.contains("Exchange hashpartitioning(o_orderkey"),
      s"bucketed join must not shuffle its inputs:\n$p")
  }

  test("sql_tpch_q6 pushes all three predicates into the parquet scan") {
    // (toString truncates the PushedFilters list at ~100 chars, so
    // assert on the un-truncated prefix: all three columns must appear
    // as pushed IsNotNull/range filters before the cut)
    val scan = plan("sql_tpch_q6").collectLeaves().head.toString
    assert(scan.contains(
      "PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), IsNotNull(l_quantity), GreaterThanOrEqual"),
      s"Q6 predicates not pushed to storage:\n$scan")
    assert(scan.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate:timestamp"),
      s"Q6 scan not pruned to the 4 referenced columns:\n$scan")
  }

  test("contamination_check broadcasts the benchmark n-gram index") {
    val p = plan("contamination_check").toString
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark side must broadcast (it is small by construction):\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"contamination must be an equi-join on the n-gram hash:\n$p")
  }

  test("dedup_embedding_cosine grid-joins block pairs, no corpus broadcast loop") {
    val p = plan("dedup_embedding_cosine").toString
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs must be grid-partitioned (1-Bucket-Theta), not a nested loop:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"expected an equi-join on the block-pair id:\n$p")
  }

  test("dedup_semantic pair search is an equi-join on the cluster id") {
    val p = plan("dedup_semantic").toString
    // the O(n²/k) within-cluster search must key on c_id — never a
    // cartesian pair scan; the only nested-loop joins allowed are the
    // 16-row centroid broadcasts of the assignment step
    assert(p.contains("SortMergeJoin [c_id") || p.contains("HashJoin [c_id"),
      s"expected the pair join keyed on c_id:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian pair scan:\n$p")
  }

  test("sim_ann_pq plans only broadcast hash joins (codebook + LUT + rerank)") {
    val p = plan("sim_ann_pq").toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"PQ path must never nested-loop the corpus:\n$p")
    val bcasts = p.split("BroadcastHashJoin").length - 1
    assert(bcasts >= 4, s"expected >=4 broadcast hash joins, got $bcasts:\n$p")
  }

  test("sim_ann_ivfpq broadcasts probes+LUT; no cartesian anywhere") {
    val p = plan("sim_ann_ivfpq").toString
    assert(!p.contains("CartesianProduct"), s"cartesian in the IVF-PQ path:\n$p")
    val bcasts = p.split("BroadcastHashJoin").length - 1
    assert(bcasts >= 3,
      s"probes/LUT/rerank must broadcast, got $bcasts hash-join broadcasts:\n$p")
  }

  test("sql_tpch_q19 pushes the disjunctive predicate unions to both scans") {
    val leaves = plan("sql_tpch_q19").collectLeaves().map(_.toString)
    val part = leaves.find(_.contains("p_brand")).getOrElse(
      fail(s"no part scan leaf:\n${leaves.mkString("\n")}"))
    val li = leaves.find(_.contains("l_quantity")).getOrElse(
      fail(s"no lineitem scan leaf:\n${leaves.mkString("\n")}"))
    // Catalyst unions the per-band side-local conjuncts into Or chains
    // that reach BOTH parquet scans
    assert(part.contains("Or(Or(And(EqualTo(p_brand"),
      s"Q19 disjunction not pushed to the part scan:\n$part")
    assert(li.contains("Or(Or(And(GreaterThanOrEqual(l_quantity"),
      s"Q19 disjunction not pushed to the lineitem scan:\n$li")
  }

  test("window_sliding_frame is one shuffle + per-partition sort") {
    val p = plan("window_sliding_frame")
    val exchanges = p.collect { case e: Exchange => e }
    // one shuffle for the window partition key, one for the final sort
    assert(exchanges.size <= 2, s"too many exchanges:\n$p")
    assert(p.toString.contains("RunningWindowFunction") ||
      p.toString.contains("Window"), s"no window node:\n$p")
  }

  test("runtime bloom filter prunes the fact side under a selective dim filter") {
    // At 100 TB the optimizer's injected bloom filter is what keeps a
    // selective dim join from scanning the whole fact table; the
    // thresholds are lowered because the test fact is tiny.
    import org.apache.spark.sql.functions._
    // autoBroadcastJoinThreshold=-1 models the regime where blooms
    // matter: the filtered dim is too big to broadcast, so the join
    // shuffles both sides and the bloom is the only thing standing
    // between the selective dim filter and a full fact shuffle
    // (InjectRuntimeFilter skips joins it can plan as broadcast).
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = graft.sources.Tables.lineitem(spark, sf)
      val pt = graft.sources.Tables.part(spark, sf)
        .filter(col("p_brand") === "Brand#1")
      val j = li.join(pt, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand")).agg(sum(col("l_quantity")).as("qty"))
      val plan = j.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"),
        s"expected an injected BloomFilterMightContain on l_partkey:\n$plan")
      // soundness end-to-end (round 7): bloom probes may false-positive
      // but never false-negative, so the pruned plan's OUTPUT must be
      // row-identical to the same query with the rule disabled
      val plain = spark.newSession()
      plain.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", false)
      val want = graft.sources.Tables.lineitem(plain, sf)
        .join(graft.sources.Tables.part(plain, sf)
            .filter(col("p_brand") === "Brand#1"),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand")).agg(sum(col("l_quantity")).as("qty"))
        .collect().map(_.toString).sorted
      val got = j.collect().map(_.toString).sorted
      assert(got.nonEmpty && got.sameElements(want),
        "bloom-pruned join output differs from the unpruned plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("dynamic partition pruning injects a runtime subquery on the partition column") {
    // the other half of partition pruning: `sink_partitioned` pins the
    // STATIC literal case; at 100 TB the common shape is a fact
    // partitioned on a key whose selective predicate lives on the DIM
    // side — only resolvable at runtime. Pin that Spark plans the
    // fact scan with a dynamicpruning#... partition filter fed by the
    // dim's broadcast result, so only matching partitions are listed.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_dpp_fact"
    graft.sources.Tables.orders(spark, sf)
      .write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
    val fact = spark.read.parquet(path)
    // the dim must be a FILE source: a literal Seq folds to a
    // pre-filtered LocalRelation with no Filter node left for DPP's
    // selective-predicate detection
    val dimPath = s"${System.getProperty("java.io.tmpdir")}/graft_dpp_dim"
    Seq(("1-URGENT", "keep"), ("2-HIGH", "drop"),
      ("3-MEDIUM", "drop"), ("4-NOT SPECIFIED", "drop"), ("5-LOW", "drop"))
      .toDF("pri", "tag")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter(col("tag") === "keep")
    val q = fact.join(dim, fact("o_orderpriority") === dim("pri"))
      .agg(count(lit(1)).as("n"))
    val leaves = q.queryExecution.executedPlan.collectLeaves().map(_.toString)
    val scan = leaves.find(_.contains("graft_dpp_fact")).getOrElse(
      fail(s"no fact scan leaf in:\n${leaves.mkString("\n")}"))
    assert(scan.contains("dynamicpruning"),
      s"no dynamic-pruning partition filter on the fact scan:\n$scan")
    assert(q.head().getLong(0) ==
      fact.filter(col("o_orderpriority") === "1-URGENT").count(),
      "DPP changed the answer")
  }

  test("ANALYZE TABLE feeds CBO: catalog stats reach the optimized plan") {
    // at 100 TB the cost-based optimizer's join ordering/selectivity
    // estimates only work if ANALYZE-collected stats actually flow
    // into plan Statistics — pin that path
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      spark.sql("DROP TABLE IF EXISTS graft_stats_demo")
      graft.sources.Tables.customer(spark, sf)
        .write.mode("overwrite").saveAsTable("graft_stats_demo")
      spark.sql("ANALYZE TABLE graft_stats_demo COMPUTE STATISTICS " +
        "FOR COLUMNS c_custkey, c_mktsegment")
      val stats = spark.table("graft_stats_demo")
        .queryExecution.optimizedPlan.stats
      assert(stats.rowCount.exists(_.toLong > 0),
        s"row count missing from plan stats: $stats")
      assert(stats.attributeStats.nonEmpty,
        "column-level stats (distinct counts) did not reach the plan")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_stats_demo")
      spark.conf.unset("spark.sql.cbo.enabled")
    }
  }

  test("agg_group is a single-shuffle partial+final aggregation") {
    val p = plan("agg_group")
    val exchanges = p.collect { case e: Exchange => e }
    // one shuffle for the groupBy, one for the final orderBy — no more
    assert(exchanges.size <= 2, s"too many exchanges:\n$p")
    assert(p.toString.contains("HashAggregate"), s"no hash aggregate:\n$p")
  }

  test("join hints steer physical join selection (user control at 100 TB)") {
    import org.apache.spark.sql.functions._
    val li = graft.sources.Tables.lineitem(spark, sf)
    val o = graft.sources.Tables.orders(spark, sf)

    def joined(hint: String): String =
      li.join(o.hint(hint), col("l_orderkey") === col("o_orderkey"))
        .queryExecution.executedPlan.toString

    // The optimizer picks its own default; a hint must override it in
    // BOTH directions — forcing the build-side hash join where it
    // would broadcast or sort-merge, and forcing the sort-merge where
    // a hash join looks cheaper. This is the escape hatch when 100 TB
    // stats mislead the planner (stale CBO, skewed runtime sizes).
    assert(joined("shuffle_hash").contains("ShuffledHashJoin"),
      "SHUFFLE_HASH hint ignored")
    assert(joined("merge").contains("SortMergeJoin"),
      "MERGE hint ignored")
    assert(joined("broadcast").contains("BroadcastHashJoin"),
      "BROADCAST hint ignored")
  }

  test("sim_ann_binary: one slim code scan, rerank joins broadcast, no cartesian") {
    val p = plan("sim_ann_binary")
    val s = p.toString
    // candidate generation is the 5-query-code broadcast against the
    // corpus code scan (a BroadcastNestedLoopJoin over ~24-byte rows —
    // the deliberate linear scan); everything downstream of the top-R
    // filter joins by key
    val bnl = s.split("BroadcastNestedLoopJoin").length - 1
    assert(bnl == 1, s"expected exactly 1 code-scan BNLJ, got $bnl:\n$s")
    assert(!s.contains("CartesianProduct"), s"cartesian in plan:\n$s")
    // the full-vector rerank fetch is keyed (hash join), never a scan
    assert(s.contains("BroadcastHashJoin") || s.contains("SortMergeJoin"),
      s"rerank join not keyed:\n$s")
  }

  test("scd2_history: change-detect, versioning and intervals share one user_id shuffle") {
    val p = plan("scd2_history")
    // count in the tree string: AQE's wrapper hides inner nodes from collect()
    val hashEx = p.toString.split("Exchange hashpartitioning").length - 1
    // lag + row_number + lead all run over (user_id, ts, event_id):
    // Catalyst reuses a single hash exchange; only the presentation
    // orderBy adds a range exchange on top
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx:\n$p")
  }

  test("sketch_cms_freq: counter state partial-aggregates map-side, estimates join broadcast") {
    val p = plan("sketch_cms_freq").toString
    // the D×W counter table must collapse BEFORE its shuffle (the
    // whole point of a mergeable sketch) and be broadcast to the probes
    assert(p.contains("partial_count") || p.contains("partial"),
      s"no map-side partial aggregation:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"counter join not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"non-keyed join in plan:\n$p")
  }

  test("document scans prune to exactly the columns each query touches") {
    def readSchema(name: String): String = {
      val l = plan(name).collectLeaves().head.toString
      l.substring(l.indexOf("ReadSchema")).takeWhile(_ != '\n')
    }
    // the coordinated sample never reads the wide text payload — at
    // 100 TB that is the difference between sampling a catalog and
    // scanning a corpus
    assert(readSchema("sample_bottomk")
      .contains("struct<doc_id:bigint,lang:string,source:string>"),
      s"sample_bottomk reads more than it needs: ${readSchema("sample_bottomk")}")
    // the attribute table needs text (it computes on it) and nothing else
    assert(readSchema("docs_attributes").contains("struct<doc_id:bigint,text:string>"),
      s"docs_attributes scan not pruned: ${readSchema("docs_attributes")}")
  }

  test("rank-filtered top-N windows get WindowGroupLimit pushdown") {
    // Spark's InferWindowGroupLimit turns `filter(row_number() <= k)`
    // into a per-partition group-limit BEFORE the full window sort —
    // at scale each map task forwards only k rows per key instead of
    // its whole partition. Pin it for the top-N paths so a refactor
    // (e.g. filtering on a derived column) can't silently lose it.
    // (dedup_keep_best intentionally has no rank FILTER — it emits a
    // keep flag for every row — so the rewrite correctly can't apply.)
    for (q <- Seq("window_rank_topn", "sim_topk_brute", "sim_ann_binary")) {
      assert(plan(q).toString.contains("WindowGroupLimit"),
        s"$q lost the WindowGroupLimit pushdown")
    }
  }

  test("window_session_native plans MergingSessions with map-side partials, no window pass") {
    val p = plan("window_session_native").toString
    // the built-in sessionization lowers to partial HashAggregate →
    // one user_id shuffle → MergingSessions → final HashAggregate:
    // sessions merge INSIDE the aggregate (map-side partials included),
    // never a Window-function pass over sorted rows
    assert(p.contains("MergingSessions"), s"no MergingSessions operator:\n$p")
    assert(p.contains("partial_count"), s"no map-side partial agg:\n$p")
    assert(!p.contains("WindowExec"), s"unexpected window pass:\n$p")
  }
}
