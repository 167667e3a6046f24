package graft.queries

import graft.{Registry, SparkTestBase}

/** Physical-plan audits (SURVEY §4): the plans must carry the properties
  * that make them survive a 100 TB scale-up — broadcast joins where a side
  * is small, TakeOrderedAndProject for top-k, predicate/projection pushdown
  * into the parquet scan, sort-merge for large⋈large, and no cartesian
  * products anywhere in the inventory.
  */
class PlanAuditSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    Registry.byName(name).run(spark, dir).queryExecution.executedPlan.toString

  test("q_join_broadcast plans BroadcastHashJoin (dimension side broadcast)") {
    assert(planOf("q_join_broadcast").contains("BroadcastHashJoin"))
  }

  test("q_join_semi / q_join_anti plan broadcast semi/anti joins") {
    assert(planOf("q_join_semi").contains("LeftSemi"))
    assert(planOf("q_join_anti").contains("LeftAnti"))
  }

  test("q_join_sortmerge honors the merge hint (no broadcast of the fact side)") {
    assert(planOf("q_join_sortmerge").contains("SortMergeJoin"))
  }

  test("q_topk_global plans TakeOrderedAndProject (no full sort)") {
    assert(planOf("q_topk_global").contains("TakeOrderedAndProject"))
  }

  test("q_epoch_shuffle sorts via range partitioning (parallel ordered slices, no global funnel)") {
    val plan = planOf("q_epoch_shuffle")
    assert(plan.contains("rangepartitioning"), plan.take(500))
    // the sort itself must be distributed — a TakeOrdered/CollectLimit
    // here would funnel the whole corpus through the driver
    assert(!plan.contains("TakeOrderedAndProject") && !plan.contains("CollectLimit"), plan.take(500))
  }

  test("q_pack_sequences shares one shuffle between the window pass and the seq agg") {
    // window partitions on source; the packing agg groups on
    // (source, seq_id) ⊇ that partitioning, so the partial+final hash
    // aggregate must REUSE the window's Exchange — one hashpartitioning
    // total (the presentation sort's rangepartitioning is separate)
    val plan = planOf("q_pack_sequences")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges == 1,
      s"expected the packing agg to reuse the window's shuffle, found $hashExchanges:\n$plan")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string,source:string>"),
      s"the scan must prune to the 3 packing columns:\n$plan")
  }

  test("raw-point transforms window once per series with the time bound pushed down") {
    // q_influxql_raw_derivative: one hashpartitioning Exchange (the
    // per-series window), time bounds at the scan as native ts filters
    val plan = planOf("q_influxql_raw_derivative")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges == 1,
      s"expected one series-window shuffle, found $hashExchanges:\n$plan")
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual(ts,2024-01-01"),
      s"raw transform must keep the scan pushdown:\n$plan")
  }

  test("field-name selects push the field-key IN filter into the parquet scan") {
    // q_influxql_field_select: the fieldTag resolution (r9) must reach
    // the scan as an In(event_type, …) pushdown next to the time bounds —
    // at 100 TB a 3-field panel query then prunes every other field's
    // row groups instead of reading the measurement whole
    // the default 100-char metadata truncation hides the tail of the
    // PushedFilters list — widen it for this assertion only
    spark.conf.set("spark.sql.maxMetadataStringLength", 2000)
    val plan =
      try planOf("q_influxql_field_select")
      finally spark.conf.set("spark.sql.maxMetadataStringLength", 100)
    assert(plan.contains("PushedFilters") && plan.contains("In(event_type"),
      s"field-key IN filter must reach the scan:\n$plan")
  }

  test("field-value WHERE pushes the WHOLE cond into the parquet scan") {
    // q_influxql_field_where (r9): the planner evaluates `WHERE click > 90`
    // against the conditional field projection (`click := value WHERE
    // event_type='click'`), and Catalyst then rewrites the CASE-WHEN
    // comparison back to plain `event_type='click' AND value>90` — so the
    // field-key equality, the time bounds AND the field-value threshold all
    // reach parquet row-group stats. At 100 TB a 1% threshold then skips
    // 99% of row groups instead of filtering post-read.
    spark.conf.set("spark.sql.maxMetadataStringLength", 2000)
    val plan =
      try planOf("q_influxql_field_where")
      finally spark.conf.set("spark.sql.maxMetadataStringLength", 100)
    assert(plan.contains("EqualTo(event_type,click)") &&
        plan.contains("GreaterThan(value,90.0)") &&
        plan.contains("GreaterThanOrEqual(ts,2024-01-01"),
      s"field key + threshold + time bounds must all reach the scan:\n$plan")
  }

  test("store time bounds prune date PARTITIONS, not just row groups") {
    // a time-bounded store query must carry the derived date bound as a
    // PartitionFilter — at 100 TB that skips whole `date=` directories at
    // file-listing time instead of opening every footer (r9)
    import graft.influxql.InfluxQLPlanner
    val store = java.nio.file.Files.createTempDirectory("graft-prune").toString
    import spark.implicits._
    graft.sinks.PointStore.writePartitioned(
      (1 to 3).map(d => (java.sql.Timestamp.valueOf(s"2024-01-0$d 10:00:00"), "plc1", "a", d.toDouble))
        .toDF("ts", "measurement", "alias", "value"), store)
    val df = InfluxQLPlanner.sqlStore(spark, store,
      "SELECT MEAN(value) AS m FROM plc1 WHERE time >= '2024-01-02' AND time < '2024-01-03'")
    spark.conf.set("spark.sql.maxMetadataStringLength", 2000)
    val plan = try df.queryExecution.executedPlan.toString
      finally spark.conf.set("spark.sql.maxMetadataStringLength", 100)
    assert(plan.contains("PartitionFilters: [") &&
      plan.contains("(date#") && plan.contains(">= 2024-01-02"),
      s"derived date bound must be a partition filter:\n$plan")
    // the pruned plan still computes the right answer
    assert(df.collect().head.getDouble(0) == 2.0)
  }

  test("q_time_range pushes the time predicate into the parquet scan (native ts)") {
    val plan = planOf("q_time_range")
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(ts,2024-01-10 00:00:00"),
      s"time bound must reach the scan's row-group stats:\n$plan")
  }

  test("q_filter_active pushes the status predicate into the parquet scan") {
    val plan = planOf("q_filter_active")
    assert(plan.contains("EqualTo(o_orderstatus,O)"))
  }

  test("scans prune columns (q_sort reads only the 3 projected columns)") {
    val plan = planOf("q_sort")
    assert(plan.contains("ReadSchema: struct<c_custkey:bigint,c_name:string,c_mktsegment:string>"))
  }

  test("no cartesian products or nested-loop joins anywhere in the inventory") {
    Registry.all.foreach { q =>
      val plan = q.run(spark, dir).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name} plans a CartesianProduct")
      // BroadcastNestedLoopJoin is acceptable only when one side is a
      // BOUNDED broadcast frame: the ≤5-row probe crossJoins in
      // knn/array_dot, (r13) the sketch/layout keys that attach a
      // 1-row scalar frame (n, median, exact counts), a ≤5-row literal
      // grid (permilles, k thresholds, predicates), or the ≤4096-row
      // inverted bin frame to every row — the correct 100 TB plan for
      // "join everything against a handful of constants" — and (r13
      // optimization round) the text keys whose scalar normalizers
      // (ln N, |V|, avgdl, the DSIR triple) ride the plan as 1-row
      // aggregates attached by a constant-key join (the key folds away,
      // leaving a 1-row IdentityBroadcastMode BNLJ — same bounded shape).
      val scalarAttachKeys = Set("q_unigram_logprob", "q_bigram_logprob", "q_bm25",
        "q_importance_weights", "q_pmi_bigrams")
      if (plan.contains("BroadcastNestedLoopJoin")) {
        assert(Set("q_knn_brute", "q_array_dot", "q_quantized_dot", "q_knn_recall",
            "q_knn_ivf_kmeans", "q_knn_recall_kmeans", "q_knn_probe_sweep", "q_knn_mrr",
            "q_knn_label_vote", "q_hist_quantiles", "q_ams_f2", "q_hll_intersect",
            "q_zorder_layout", "q_k_anonymity", "q_l_diversity").contains(q.name) ||
          scalarAttachKeys.contains(q.name),
          s"${q.name} plans an unexpected BroadcastNestedLoopJoin")
        // the text keys' only sanctioned BNLJ is the 1-row scalar attach:
        // a Cross join whose broadcast side is an IdentityBroadcastMode
        // 1-row aggregate. Pin both properties so a future edit that
        // flips the build side or grows the broadcast frame (losing the
        // hint → BNLJ of two large frames) fails loudly instead of hiding
        // behind the name allowlist (r13 review finding).
        if (scalarAttachKeys.contains(q.name)) {
          assert(plan.contains("IdentityBroadcastMode"),
            s"${q.name}: the scalar-attach BNLJ must broadcast a 1-row aggregate:\n${plan.take(800)}")
          val bnljTypes = "BroadcastNestedLoopJoin BuildRight, (\\w+)".r
            .findAllMatchIn(plan).map(_.group(1)).toSeq ++
            "BroadcastNestedLoopJoin (\\w+)".r.findAllMatchIn(plan)
              .map(_.group(1)).filterNot(_ == "BuildRight").toSeq
          assert(bnljTypes.forall(t => t == "Cross" || t == "BuildRight"),
            s"${q.name}: only the Cross scalar attach is sanctioned, got $bnljTypes")
        }
      }
    }
  }

  test("q_join_bloom applies the bloom prune on the fact side below the shuffle join") {
    val plan = planOf("q_join_bloom")
    assert(plan.contains("SortMergeJoin"), s"bloom pattern needs a shuffle join to shrink:\n$plan")
    assert(plan.contains("might_contain"), s"fact side must be bloom-pruned:\n$plan")
    // The prune must run BEFORE the join: in the plan string the filter
    // appears after (= below) the SortMergeJoin node.
    assert(plan.indexOf("might_contain") > plan.indexOf("SortMergeJoin"),
      "bloom filter must sit below the join, not above it")
  }

  test("q_knn_ivf reads precomputed centroids (checkpointed table, no per-probe corpus re-agg)") {
    val plan = planOf("q_knn_ivf")
    assert(plan.contains("Scan ExistingRDD"),
      s"centroids must come from the materialized checkpoint, not a corpus re-aggregation:\n$plan")
  }

  test("window queries shuffle once on the series key (single Exchange before Window)") {
    val plan = planOf("q_win_derivative")
    assert(plan.contains("Window"))
    assert("hashpartitioning\\(user_id".r.findAllIn(plan).size >= 1)
  }

  test("q_sample pushes per-series top-k map-side (Partial+Final WindowGroupLimit)") {
    val plan = planOf("q_sample")
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"expected partial window-group-limit before the shuffle:\n$plan")
  }

  test("InfluxQL front-end inherits the scan pushdown (textual WHERE time → ts row-group stats)") {
    val plan = planOf("q_influxql_basic")
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(ts,2024-01-01 00:00:00"),
      s"parsed time bounds must reach the parquet scan:\n$plan")
    assert(plan.contains("HashAggregate"), s"bucket agg must be a hash aggregate:\n$plan")
  }

  test("InfluxQL raw select with ORDER BY time DESC LIMIT plans TakeOrderedAndProject") {
    assert(planOf("q_influxql_raw").contains("TakeOrderedAndProject"))
  }

  test("SHOW SERIES CARDINALITY is a partial+final distinct over a pruned 2-column scan") {
    val plan = planOf("q_influxql_cardinality")
    assert(plan.contains("partial_count(distinct"),
      s"distinct count must combine map-side before the single-partition final:\n$plan")
    assert(plan.contains("ReadSchema: struct<user_id:bigint,event_type:string>"),
      s"the scan must read only the tag columns:\n$plan")
  }

  test("SHOW ... LIMIT/OFFSET plans TakeOrderedAndProject with offset (no full sort)") {
    val plan = planOf("q_influxql_show_page")
    assert(plan.contains("TakeOrderedAndProject") && plan.contains("offset=3"),
      s"paged SHOW must be a bounded top-k, not sort+collect:\n$plan")
  }

  test("InfluxQL INTEGRAL's window pre-pass shares its shuffle with the groupBy") {
    // window partitions on (bucket, tags); the following hash aggregate
    // groups on the SAME keys — one hashpartitioning Exchange total (plus
    // the final presentation sort's rangepartitioning)
    val plan = planOf("q_influxql_integral")
    assert(plan.contains("Window") && plan.contains("HashAggregate"))
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges == 1,
      s"expected the groupBy to reuse the window's shuffle, found $hashExchanges:\n$plan")
  }

  test("InfluxQL tz()/time-offset buckets keep the ts_ns scan pushdown") {
    Seq("q_influxql_tz", "q_influxql_time_offset").foreach { k =>
      val plan = planOf(k)
      assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual(ts"),
        s"$k: time bounds must still reach the parquet scan:\n$plan")
    }
  }

  test("InfluxQL SLIMIT pages series via a broadcast semi-join (no extra shuffle)") {
    val plan = planOf("q_influxql_slimit")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"series pagination must broadcast the tiny series list:\n$plan")
  }

  test("InfluxQL HOLT_WINTERS folds over buckets, not raw points (agg before collect)") {
    // collect_list is legitimate here ONLY over the bucketed aggregate —
    // assert the plan aggregates (buckets) below the list collection
    val plan = planOf("q_influxql_holt")
    val aggIdx = plan.indexOf("HashAggregate")
    assert(aggIdx >= 0 && plan.contains("collect_list"))
    assert(plan.indexOf("avg(") > 0, s"bucket mean must precede the fold:\n$plan")
  }

  test("q_holt_forecast folds with O(1) state (no collect_list buffer in the plan)") {
    val plan = planOf("q_holt_forecast")
    assert(!plan.contains("collect_list"),
      s"Holt must stream-fold, not buffer the series history per key:\n$plan")
    assert(plan.contains("MapPartitions") && plan.toLowerCase.contains("sort"),
      s"expected the sortWithinPartitions + mapPartitions fold:\n$plan")
  }

  test("q_cusum folds with O(1) state (no collect_list buffer in the plan)") {
    val plan = planOf("q_cusum")
    assert(!plan.contains("collect_list"),
      s"CUSUM must stream-fold, not buffer whole series per key:\n$plan")
    assert(plan.contains("MapPartitions") && plan.toLowerCase.contains("sort"),
      s"expected the repartition + sortWithinPartitions + mapPartitions fold:\n$plan")
  }

  test("q_macd folds all three EMAs in one O(1)-state pass (no collect_list buffer)") {
    val plan = planOf("q_macd")
    assert(!plan.contains("collect_list"),
      s"MACD must stream-fold, not buffer whole series per key:\n$plan")
    assert(plan.contains("MapPartitions") && plan.toLowerCase.contains("sort"),
      s"expected the repartition + sortWithinPartitions + mapPartitions fold:\n$plan")
  }

  test("q_abc_analysis cumsum never funnels through one reducer (no SinglePartition Exchange)") {
    // r10: the Pareto running sum is a range-partitioned two-pass prefix sum —
    // per-pid windows + broadcast offsets. The r9 global Window.orderBy would
    // show `Exchange SinglePartition` and serialize a 10⁹-row part dimension.
    val plan = planOf("q_abc_analysis")
    assert(!plan.contains("SinglePartition"),
      s"Pareto cumsum must stay parallel:\n$plan")
    assert(plan.contains("hashpartitioning(__pid"),
      s"expected the per-partition window keyed on the prefix pass's __pid:\n$plan")
  }

  test("q_rfm_segments quintile scores never funnel through one reducer") {
    // r10: Q.distributedNtile replaces the three global ntile windows —
    // the legacy spelling shows `Exchange SinglePartition` three times.
    val plan = planOf("q_rfm_segments")
    assert(!plan.contains("SinglePartition"),
      s"RFM scoring must stay parallel:\n$plan")
  }

  test("q_curriculum_order stages and positions never funnel through one reducer") {
    // r10: the stage is Q.distributedRank (range partition + pid window +
    // broadcast offsets) and global_pos is a pure literal projection — a
    // global row_number/ntile spelling would show `Exchange SinglePartition`.
    val plan = planOf("q_curriculum_order")
    assert(!plan.contains("SinglePartition"),
      s"curriculum ordering must stay parallel:\n$plan")
    assert(plan.contains("rangepartitioning"),
      s"expected the range-partitioned rank pass:\n$plan")
  }

  test("q_vocab_growth running totals never funnel through one reducer") {
    // r10: cum_tokens/cum_vocab are Q.distributedCumsum (range partition +
    // pid windows + broadcast long offsets); a global running-sum window
    // would show `Exchange SinglePartition` before the final sort.
    val plan = planOf("q_vocab_growth")
    assert(!plan.contains("SinglePartition"),
      s"vocab-growth prefix sums must stay parallel:\n$plan")
    assert(plan.contains("rangepartitioning"),
      s"expected the range-partitioned cumsum pass:\n$plan")
  }

  test("q_corpus_datasheet is two exchanges total (hash window + source aggregate)") {
    val plan = planOf("q_corpus_datasheet")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges == 2,
      s"the data card must stay two exchanges regardless of corpus size:\n$plan")
  }

  test("Q.fanout is a no-op on an already-parallel input (no Exchange inserted)") {
    val target = spark.sparkContext.defaultParallelism
    val wide = spark.range(1000).toDF("id").repartition(target)
    // Enough partitions already → fanout must return the SAME plan, not
    // stack a second full shuffle on a 100 TB corpus scan.
    assert(Q.fanout(wide) eq wide)
    // Single-partition input (the small-file test-SF case) still fans out.
    val narrow = spark.range(1000).toDF("id").coalesce(1)
    val fanned = Q.fanout(narrow)
    assert(fanned.rdd.getNumPartitions == target)
  }

  test("q_fill_previous generates the time grid distributed (Generate over sequence)") {
    val plan = planOf("q_fill_previous")
    assert(plan.contains("Generate explode(sequence"), s"grid must be executor-side:\n$plan")
    assert(plan.contains("Window"))
  }

  test("q_cluster_kmeans assigns clusters with ZERO joins (centroids are literals)") {
    // the k-means assignment must be a pure codegen'd projection: the
    // centroids travel as broadcast literals inside the expression, so the
    // per-iteration corpus pass carries no join and no assignment shuffle —
    // at 100 TB each Lloyd iteration is one scan + one k×d aggregate
    val plan = planOf("q_cluster_kmeans")
    assert(!plan.contains("Join"), s"assignment must not join:\n${plan.take(800)}")
  }

  test("q_dedup_semantic pairs via a cluster equi-join (SemDeDup bound, no all-pairs)") {
    val plan = planOf("q_dedup_semantic")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"in-cluster pairs must come from an equi-join on the cluster key:\n${plan.take(800)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "semantic dedup must never compare the corpus pairwise")
  }

  test("q_substring_spans bounds pairs via the inverted index (semi-join, no all-pairs)") {
    val plan = planOf("q_substring_spans")
    assert(plan.contains("LeftSemi"),
      s"duplicated grams must come back via a semi-join:\n${plan.take(800)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "span detection must never compare documents pairwise")
  }
}
