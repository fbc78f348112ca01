package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._

/** Driver contract — see SURVEY.md §7 and the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 (and the LLM-data-pipeline
  * extensions) is registered in [[queries]]; each entry with an ANSI-SQL
  * equivalent in [[oracleSql]] is checked by the driver against DuckDB on
  * the same parquet tables. Column names AND types are aligned between the
  * Spark plan and the SQL on purpose (computed ints are widened to BIGINT
  * on both sides; doubles are rounded at the output edge; timestamps are
  * rendered as ISO text) so the hash compare is engine-neutral.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") loadEvents(s, s"$dir/events.parquet")
    else s.read.parquet(s"$dir/$name.parquet")

  /** Events-table reader. `ts` has shipped under two physical encodings
    * across testdata generations: TIMESTAMP(NANOS) (which Spark 4 rejects
    * unless read as long) and plain timestamp[us] (read as TIMESTAMP_NTZ).
    * Dispatch on the actual read schema so either works:
    *  - LongType (nanosAsLong): integer-divide to micros (exact — double
    *    division would lose precision at 1e18) and rebuild; DuckDB's
    *    ns→us truncation matches.
    *  - TIMESTAMP_NTZ: cast to session-zone TimestampType; the UTC session
    *    makes that instant-preserving and DuckDB-consistent.
    */
  def loadEvents(s: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = s.read.parquet(path)
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
      case _                => df
    }
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * A multi-join star query: lineitem facts joined through orders to the
    * broadcast customer/nation/region dimension chain, aggregated per
    * (region, returnflag). Exercises scan pruning, broadcast joins, and
    * partial aggregation in one plan.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    Relational.starRevenue(
      t(spark, dir, "lineitem"), t(spark, dir, "orders"), t(spark, dir, "customer"),
      t(spark, dir, "nation"), t(spark, dir, "region"))
  }

  /** One entry per implemented operator from SURVEY.md §2 + extensions. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- sources / core relational (SURVEY §2.1-2.2) ----
    "q_scan_filter_project" -> ((s, d) => Relational.scanFilterProject(t(s, d, "lineitem"))),
    // DataSource V2 connector (generates its own input; dir unused)
    "q_synth_source" -> ((s, _) => graft.sources.Synth.aggregateByKind(s, 50000L, 8)),
    "q_synth_agg_pushdown" -> ((s, _) => graft.sources.Synth.aggPushdown(s)),
    "q_layout_scan" -> ((s, d) => Relational.sortedLayoutScan(t(s, d, "documents"))),
    "q_layout_zorder" -> ((s, d) => Relational.zorderLayoutScan(t(s, d, "documents"))),
    // Incremental data management (ops/Incremental.scala): CDC apply with
    // last-writer-wins, snapshot diff (change data feed), incremental
    // aggregate maintenance, compaction planning, versioned time travel.
    "q_cdc_apply" -> ((s, d) => Incremental.ordersCdcApply(t(s, d, "orders"))),
    "q_cdc_apply_bc" -> ((s, d) => Incremental.ordersCdcApplyBroadcast(t(s, d, "orders"))),
    "q_cdc_apply_bucketed" -> ((s, d) => Incremental.ordersCdcApplyBucketed(t(s, d, "orders"))),
    "q_cdc_feed" -> ((s, d) => Incremental.ordersCdcFeed(t(s, d, "orders"))),
    "q_incr_agg_merge" -> ((s, d) => Incremental.ordersIncrAggMerge(t(s, d, "orders"))),
    "q_incr_view_refresh" -> ((s, d) => Incremental.ordersViewRefresh(t(s, d, "orders"))),
    "q_agg_sketch_merge" -> ((s, d) => Incremental.ordersSketchMerge(t(s, d, "orders"))),
    "q_table_compaction" -> ((s, d) => Incremental.docsCompactionPlan(t(s, d, "documents"))),
    "q_table_timetravel" -> ((s, d) => Incremental.ordersTimeTravel(t(s, d, "orders"))),
    "q_table_mor" -> ((s, d) => Incremental.ordersMergeOnRead(t(s, d, "orders"))),
    "q_table_changes" -> ((s, d) => Incremental.ordersTableChanges(t(s, d, "orders"))),
    "q_table_posdel" -> ((s, d) => Incremental.ordersPositionalDelete(t(s, d, "orders"))),
    "q_table_binary" -> ((s, d) => Incremental.docsSqlBinary(t(s, d, "documents"))),
    "q_table_nested" -> ((s, d) => Incremental.docsSqlNested(t(s, d, "documents"))),
    "q_table_emb" -> ((s, d) => Incremental.embSqlTopK(t(s, d, "embeddings"))),
    "q_table_map" -> ((s, d) => Incremental.docsSqlMap(t(s, d, "documents"))),
    "q_sql_nested_add" -> ((s, d) => Incremental.docsSqlNestedAdd(t(s, d, "documents"))),
    "q_sql_nested_rename" -> ((s, d) => Incremental.docsSqlNestedRename(t(s, d, "documents"))),
    "q_sql_array_prune" -> ((s, d) => Incremental.docsSqlArrayPrune(t(s, d, "documents"))),
    "q_sql_map_prune" -> ((s, d) => Incremental.docsSqlMapPrune(t(s, d, "documents"))),
    "q_sql_nested_member" -> ((s, d) => Incremental.docsSqlNestedMember(t(s, d, "documents"))),
    "q_sql_overlap_prune" -> ((s, d) => Incremental.docsSqlOverlapPrune(t(s, d, "documents"))),
    "q_sql_nested_prune" -> ((s, d) => Incremental.docsSqlNestedPrune(t(s, d, "documents"))),
    "q_posdel_changes" -> ((s, d) => Incremental.ordersPosDelChanges(t(s, d, "orders"))),
    "q_asof_versioned" -> ((s, d) => Incremental.eventsAsofVersioned(t(s, d, "events"))),
    "q_table_pruned" -> ((s, d) => Incremental.ordersPrunedRead(t(s, d, "orders"))),
    "q_table_merge" -> ((s, d) => Incremental.ordersTableMerge(t(s, d, "orders"))),
    "q_table_optimize" -> ((s, d) => Incremental.ordersTableOptimize(t(s, d, "orders"))),
    "q_table_zorder" -> ((s, d) => Incremental.ordersTableZorder(t(s, d, "orders"))),
    "q_table_history" -> ((s, d) => Incremental.ordersTableHistory(t(s, d, "orders"))),
    "q_table_constraints" -> ((s, d) => Incremental.ordersTableConstraints(t(s, d, "orders"))),
    "q_sql_timetravel" -> ((s, d) => Incremental.ordersSqlTimetravel(t(s, d, "orders"))),
    "q_sql_pruned" -> ((s, d) => Incremental.ordersSqlPruned(t(s, d, "orders"))),
    "q_sql_pruned_str" -> ((s, d) => Incremental.ordersSqlPrunedStr(t(s, d, "orders"))),
    "q_sql_insert" -> ((s, d) => Incremental.ordersSqlInsert(t(s, d, "orders"))),
    "q_sql_ctas" -> ((s, d) => Incremental.ordersSqlCtas(t(s, d, "orders"))),
    "q_sql_restore" -> ((s, d) => Incremental.ordersSqlRestore(t(s, d, "orders"))),
    "q_sql_rename" -> ((s, d) => Incremental.ordersSqlRename(t(s, d, "orders"))),
    "q_table_clone" -> ((s, d) => Incremental.ordersTableClone(t(s, d, "orders"))),
    "q_maint_advisor" -> ((s, d) => Incremental.ordersMaintenanceAdvisor(t(s, d, "orders"))),
    "q_maint_auto" -> ((s, d) => Incremental.ordersAutoMaintain(t(s, d, "orders"))),
    "q_sql_fastcount" -> ((s, d) => Incremental.ordersSqlFastcount(t(s, d, "orders"))),
    "q_sql_fastminmax_str" -> ((s, d) => Incremental.ordersSqlFastMinMaxStr(t(s, d, "orders"))),
    "q_sql_stats" -> ((s, d) => Incremental.ordersSqlStatsTable(t(s, d, "orders"))),
    "q_sql_clustered" -> ((s, d) => Incremental.ordersSqlClustered(t(s, d, "orders"))),
    "q_sql_partitioned" -> ((s, d) => Incremental.ordersSqlPartitioned(t(s, d, "orders"))),
    "q_sql_partitioned_date" -> ((s, d) => Incremental.ordersSqlPartitionedDate(t(s, d, "orders"))),
    "q_sql_partitioned_ts" -> ((s, d) => Incremental.ordersSqlPartitionedTs(t(s, d, "orders"))),
    "q_sql_part_evolve" -> ((s, d) => Incremental.ordersSqlPartEvolve(t(s, d, "orders"))),
    "q_sql_dbl_prune" -> ((s, d) => Incremental.ordersSqlDblPruned(t(s, d, "orders"))),
    "q_sql_fastminmax_dbl" -> ((s, d) => Incremental.ordersSqlFastMinMaxDbl(t(s, d, "orders"))),
    "q_sql_partitioned_trunc" -> ((s, d) => Incremental.ordersSqlPartitionedTrunc(t(s, d, "orders"))),
    "q_sql_bloom" -> ((s, d) => Incremental.ordersSqlBloom(t(s, d, "orders"))),
    "q_sql_fastminmax_date" -> ((s, d) => Incremental.ordersSqlFastMinMaxDate(t(s, d, "orders"))),
    "q_sql_widen" -> ((s, d) => Incremental.ordersSqlWiden(t(s, d, "orders"))),
    "q_sql_widen_dec" -> ((s, d) => Incremental.ordersSqlWidenDec(t(s, d, "orders"))),
    "q_sql_dec_prune" -> ((s, d) => Incremental.ordersSqlDecPrune(t(s, d, "orders"))),
    "q_sql_fastminmax_ts" -> ((s, d) => Incremental.ordersSqlFastMinMaxTs(t(s, d, "orders"))),
    "q_sql_fastminmax_dec" -> ((s, d) => Incremental.ordersSqlFastMinMaxDec(t(s, d, "orders"))),
    "q_layout_zorder_str" -> ((s, d) => Incremental.docsSqlZorderStr(t(s, d, "documents"))),
    "q_sql_table_changes" -> ((s, d) => Incremental.ordersSqlTableChanges(t(s, d, "orders"))),
    "q_sql_spj" -> ((s, d) =>
      Incremental.ordersSqlBucketedJoin(t(s, d, "orders"), t(s, d, "customer"))),
    "q_sql_bucketed" -> ((s, d) =>
      Incremental.ordersSqlBucketedDdl(t(s, d, "orders"), t(s, d, "customer"))),
    "q_sql_bucketed_dml" -> ((s, d) =>
      Incremental.ordersSqlBucketedDml(t(s, d, "orders"), t(s, d, "customer"))),
    "q_sql_dpp" -> ((s, d) =>
      Incremental.ordersSqlDppJoin(t(s, d, "orders"), t(s, d, "customer"))),
    "q_sql_topn" -> ((s, d) => Incremental.ordersSqlTopN(t(s, d, "orders"))),
    "q_sql_delete" -> ((s, d) => Incremental.ordersSqlDelete(t(s, d, "orders"))),
    "q_sql_update" -> ((s, d) => Incremental.ordersSqlUpdate(t(s, d, "orders"))),
    "q_sql_merge" -> ((s, d) => Incremental.ordersSqlMerge(t(s, d, "orders"))),
    "q_quality_report" -> ((s, d) =>
      Relational.qualityReport(t(s, d, "orders"), t(s, d, "customer"))),
    "q_cast_types" -> ((s, d) => Relational.castTypes(t(s, d, "orders"))),
    "q_dedup_rows" -> ((s, d) => Relational.dedupRows(t(s, d, "lineitem"))),
    "q_dedup_key" -> ((s, d) => Relational.dedupByKeyDeterministic(t(s, d, "lineitem"))),
    "q_join_left" -> ((s, d) => Relational.leftJoinExplicit(t(s, d, "orders"), t(s, d, "customer"))),
    "q_join_using" -> ((s, d) => Relational.leftJoinUsing(t(s, d, "nation"), t(s, d, "region"))),
    "q_join_semi" -> ((s, d) => Relational.semiJoin(t(s, d, "customer"), t(s, d, "orders"))),
    "q_join_anti" -> ((s, d) => Relational.antiJoin(t(s, d, "customer"), t(s, d, "orders"))),
    "q_agg_pricing" -> ((s, d) => Relational.pricingSummary(t(s, d, "lineitem"))),
    "q_agg_distinct" -> ((s, d) => Relational.aggDistinct(t(s, d, "orders"))),
    "q_agg_rollup" -> ((s, d) => Relational.rollupAgg(t(s, d, "lineitem"))),
    "q_window_topk" -> ((s, d) => Relational.windowTopKPerGroup(t(s, d, "orders"))),
    "q_window_lag" -> ((s, d) => Relational.windowLag(t(s, d, "orders"))),
    "q_sort_limit" -> ((s, d) => Relational.sortLimit(t(s, d, "orders"))),
    "q_set_union" -> ((s, d) => Relational.unionDistinctKeys(t(s, d, "customer"), t(s, d, "orders"))),
    "q_set_except" -> ((s, d) => Relational.exceptKeys(t(s, d, "customer"), t(s, d, "orders"))),
    "q_set_intersect" -> ((s, d) => Relational.intersectKeys(t(s, d, "customer"), t(s, d, "orders"))),
    "q_agg_collect" -> ((s, d) => Relational.collectAgg(t(s, d, "orders"))),
    "q_window_range" -> ((s, d) => Relational.windowRangeFrame(t(s, d, "orders"))),
    "q_window_ntile" -> ((s, d) => Relational.windowNtile(t(s, d, "orders"))),
    "q_agg_cube" -> ((s, d) => Relational.cubeAgg(t(s, d, "lineitem"))),
    "q_star_revenue" -> ((s, d) => Relational.starRevenue(
      t(s, d, "lineitem"), t(s, d, "orders"), t(s, d, "customer"),
      t(s, d, "nation"), t(s, d, "region"))),
    "q_agg_percentile" -> ((s, d) => Relational.percentiles(t(s, d, "lineitem"))),
    "q_agg_approx" -> ((s, d) => Relational.approxAggAudit(t(s, d, "lineitem"))),
    "q_agg_exact_distinct" -> ((s, d) => Relational.exactDistinctAgg(t(s, d, "lineitem"))),
    "q_agg_salted" -> ((s, d) => Relational.saltedAgg(t(s, d, "lineitem"))),
    "q_pivot" -> ((s, d) => Relational.pivotAgg(t(s, d, "lineitem"))),
    "q_join_full" -> ((s, d) => Relational.fullOuterJoin(t(s, d, "customer"), t(s, d, "orders"))),
    "q_join_bucketed" -> ((s, d) =>
      Relational.bucketedJoin(t(s, d, "lineitem"), t(s, d, "orders"))),
    "q_join_range" -> ((s, d) => Relational.rangeJoinBuckets(t(s, d, "events"))),
    "q_events_json" -> ((s, d) => Relational.jsonExtract(t(s, d, "events"))),
    "q_docs_tfidf" -> ((s, d) => TextAnalysis.tfidfTopTerms(t(s, d, "documents"))),
    "q_docs_bm25" -> ((s, d) => TextAnalysis.bm25TopK(t(s, d, "documents"))),
    // SQL text interface: the same engine surface driven through spark.sql
    // over registered views (TPC-H Q3-shaped).
    "q_sql_revenue" -> ((s, d) => {
      t(s, d, "customer").createOrReplaceTempView("v_customer")
      t(s, d, "orders").createOrReplaceTempView("v_orders")
      t(s, d, "lineitem").createOrReplaceTempView("v_lineitem")
      s.sql("""
        SELECT o_orderkey,
               round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
               count(*) AS n_lines
        FROM v_customer
        JOIN v_orders ON c_custkey = o_custkey
        JOIN v_lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY o_orderkey
        ORDER BY o_orderkey
      """)
    }),
    // TPC-H Q5-shaped: six-table star through the SQL surface — a
    // region-gated dimension chain (region→nation→supplier broadcast down
    // the tree) plus the local-supplier equi-constraint
    // (c_nationkey = s_nationkey) that grafts a second selective edge onto
    // the fact join. Deepens the SQL-interface leg beyond Q3's 3 tables.
    "q_sql_local_revenue" -> ((s, d) => {
      Seq("customer", "orders", "lineitem", "supplier", "nation", "region")
        .foreach(n => t(s, d, n).createOrReplaceTempView(s"v_$n"))
      s.sql("""
        SELECT n_name,
               round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
               count(*) AS n_lines
        FROM v_customer
        JOIN v_orders ON c_custkey = o_custkey
        JOIN v_lineitem ON l_orderkey = o_orderkey
        JOIN v_supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN v_nation ON s_nationkey = n_nationkey
        JOIN v_region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY n_name
        ORDER BY n_name
      """)
    }),
    // TPC-H Q4-shaped: correlated EXISTS — Catalyst decorrelates the
    // subquery into a left-semi hash join on l_orderkey with the
    // correlated l_shipdate > o_orderdate predicate as the join condition;
    // no per-row subquery execution survives in the physical plan.
    "q_sql_exists" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("v_orders")
      t(s, d, "lineitem").createOrReplaceTempView("v_lineitem")
      s.sql("""
        SELECT o_orderpriority, count(*) AS n_orders
        FROM v_orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
          AND EXISTS (
            SELECT 1 FROM v_lineitem
            WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
      """)
    }),
    // TPC-H Q17-shaped: correlated SCALAR subquery (per-part average
    // quantity threshold) — decorrelated into an aggregate-then-join:
    // the inner avg computes once per l_partkey and joins back, not once
    // per outer row.
    "q_sql_scalar" -> ((s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("v_lineitem")
      t(s, d, "part").createOrReplaceTempView("v_part")
      s.sql("""
        SELECT p_brand,
               round(sum(l_extendedprice), 2) AS below_avg_revenue,
               count(*) AS n_lines
        FROM v_lineitem
        JOIN v_part ON p_partkey = l_partkey
        WHERE l_quantity < (
          SELECT 0.5 * avg(l2.l_quantity) FROM v_lineitem l2
          WHERE l2.l_partkey = p_partkey)
        GROUP BY p_brand
        ORDER BY p_brand
      """)
    }),
    // TPC-H Q21-shaped: EXISTS + NOT EXISTS over the same fact table with
    // <> correlation — the decorrelation stress shape. Catalyst rewrites
    // the pair into a left-semi and a left-anti hash join on l_orderkey
    // (the <> predicates ride along as join conditions); nothing executes
    // per-row.
    "q_sql_multi_exists" -> ((s, d) => {
      t(s, d, "supplier").createOrReplaceTempView("v_supplier")
      t(s, d, "orders").createOrReplaceTempView("v_orders")
      t(s, d, "lineitem").createOrReplaceTempView("v_lineitem")
      s.sql("""
        SELECT s_name, count(*) AS numwait
        FROM v_supplier
        JOIN v_lineitem l1 ON s_suppkey = l1.l_suppkey
        JOIN v_orders ON o_orderkey = l1.l_orderkey
        WHERE o_orderstatus = 'F'
          AND l1.l_returnflag = 'R'
          AND EXISTS (
            SELECT 1 FROM v_lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (
            SELECT 1 FROM v_lineitem l3
            WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_returnflag = 'R')
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
      """)
    }),
    // TPC-H Q20-shaped: potential part promotion — the nested-IN chain
    // with a DOUBLY-correlated scalar subquery ((partkey, suppkey) both
    // correlate) that Catalyst must decorrelate into aggregate-joins.
    // The testdata has no partsupp table, so the supply relation derives
    // from lineitem (per-(part, supplier) max quantity × 10 as available
    // stock) — the decorrelation stressors are identical to stock Q20.
    // r19 optimization (guide §3.2): both lineitem consumers — the derived
    // supply relation AND the correlated half-of-shipped-quantity scalar —
    // are pre-filtered to 'red%' partkeys, the predicate the IN chain
    // applies to ps_partkey (and the scalar correlates on that same
    // partkey). Whole (partkey, suppkey) groups drop on both sides
    // together, so every comparison the query evaluates is unchanged —
    // bit-identical output (the oracle replays the unfiltered form).
    "q_sql_part_supply" -> ((s, d) => {
      Seq("supplier", "nation", "part", "lineitem")
        .foreach(n => t(s, d, n).createOrReplaceTempView(s"v_$n"))
      s.sql("""
        WITH li AS (
          SELECT * FROM v_lineitem
          WHERE l_partkey IN (
            SELECT p_partkey FROM v_part WHERE p_name LIKE 'red%')),
        ps AS (
          SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                 max(l_quantity) * 10 AS ps_availqty
          FROM li GROUP BY l_partkey, l_suppkey)
        SELECT s_name, round(s_acctbal, 2) AS acctbal
        FROM v_supplier JOIN v_nation ON s_nationkey = n_nationkey
        WHERE n_nationkey < 13
          AND s_suppkey IN (
            SELECT ps_suppkey FROM ps
            WHERE ps_partkey IN (
                SELECT p_partkey FROM v_part WHERE p_name LIKE 'red%')
              AND ps_availqty > (
                SELECT 0.5 * sum(l_quantity) FROM li
                WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
                  AND l_shipdate >= DATE '1996-01-01'
                  AND l_shipdate < DATE '1997-01-01'))
        ORDER BY s_name
      """)
    }),
    // TPC-H Q11-shaped: important stock — per-part supply value with a
    // HAVING threshold that is a SCALAR subquery over the SAME filtered
    // relation (computed once, broadcast — never per group). Value sums
    // run in exact integer cents so Spark and DuckDB agree bit-for-bit
    // regardless of float summation order.
    // r19 optimization (guide §3.2): the supply-value aggregate is
    // pre-filtered by the qualifying-supplier semi-join (n_nationkey < 13
    // — the predicate BOTH consumers of ps apply through the supplier
    // join). Filtering at suppkey granularity keeps or drops whole
    // (partkey, suppkey) groups, so every surviving group value is
    // unchanged and both the main aggregate and the HAVING scalar see
    // exactly the rows they saw before — bit-identical output (the
    // oracle replays the unfiltered form), ~half the rows into the
    // (partkey, suppkey) shuffle.
    "q_sql_important_stock" -> ((s, d) => {
      Seq("supplier", "nation", "lineitem")
        .foreach(n => t(s, d, n).createOrReplaceTempView(s"v_$n"))
      s.sql("""
        WITH ps AS (
          SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                 sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS ps_value_c
          FROM v_lineitem
          WHERE l_suppkey IN (
            SELECT s_suppkey FROM v_supplier
            JOIN v_nation ON s_nationkey = n_nationkey
            WHERE n_nationkey < 13)
          GROUP BY l_partkey, l_suppkey)
        SELECT ps_partkey, sum(ps_value_c) AS stock_value_c
        FROM ps JOIN v_supplier ON ps_suppkey = s_suppkey
        JOIN v_nation ON s_nationkey = n_nationkey
        WHERE n_nationkey < 13
        GROUP BY ps_partkey
        HAVING sum(ps_value_c) > (
          SELECT sum(ps_value_c) * 0.0005
          FROM ps JOIN v_supplier ON ps_suppkey = s_suppkey
          JOIN v_nation ON s_nationkey = n_nationkey
          WHERE n_nationkey < 13)
        ORDER BY stock_value_c DESC, ps_partkey
      """)
    }),
    // TPC-H Q2-shaped: minimum-cost supplier — a correlated scalar MIN
    // subquery over the same derived supply relation the outer query
    // joins, re-filtered through the supplier→nation→region dim chain.
    // Catalyst decorrelates the per-part min into an aggregate joined
    // back on p_partkey; the dim chain broadcasts. Supply cost derives
    // from lineitem (min line total in exact cents — no partsupp table
    // in this testdata, same derivation precedent as the Q20 shape).
    // r19 optimization (guide §3.2): the derived supply relation is
    // pre-filtered to the partkeys the query can ever surface — the outer
    // block joins ps to parts WHERE p_size = 15 on partkey, and the
    // correlated min subquery correlates on that same p_partkey, so
    // restricting ps to p_size = 15 partkeys (2% of part) drops whole
    // groups that neither consumer could keep. Bit-identical output (the
    // oracle replays the unfiltered form); the (partkey, suppkey) shuffle
    // shrinks ~50×.
    "q_sql_min_cost_supp" -> ((s, d) => {
      Seq("supplier", "nation", "region", "part", "lineitem")
        .foreach(n => t(s, d, n).createOrReplaceTempView(s"v_$n"))
      s.sql("""
        WITH ps AS (
          SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                 min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS ps_cost_c
          FROM v_lineitem
          WHERE l_partkey IN (
            SELECT p_partkey FROM v_part WHERE p_size = 15)
          GROUP BY l_partkey, l_suppkey)
        SELECT round(s_acctbal, 2) AS acctbal, s_name, n_name,
               p_partkey, p_type, ps_cost_c
        FROM v_part
        JOIN ps ON p_partkey = ps_partkey
        JOIN v_supplier ON s_suppkey = ps_suppkey
        JOIN v_nation ON s_nationkey = n_nationkey
        JOIN v_region ON n_regionkey = r_regionkey
        WHERE p_size = 15 AND r_name = 'EUROPE'
          AND ps_cost_c = (
            SELECT min(ps2.ps_cost_c)
            FROM ps ps2
            JOIN v_supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
            JOIN v_nation n2 ON s2.s_nationkey = n2.n_nationkey
            JOIN v_region r2 ON n2.n_regionkey = r2.r_regionkey
            WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE')
        ORDER BY acctbal DESC, n_name, s_name, p_partkey
      """)
    }),
    // TPC-H Q9-shaped: product-type profit by (supplier nation, order
    // year) — lineitem fans out to part/supplier/orders/nation plus the
    // derived per-(part,supp) supply cost. Profit runs ENTIRELY in exact
    // integer cents (revenue cents rounded per-row on the 2-decimal grid,
    // cost = cents × integral quantity) so the big sum is associative and
    // engine-order-independent — no float tolerance needed at any scale.
    //
    // r19 optimization (guide §3.2 — reduce the big side before the
    // shuffle): the supply-cost aggregate and the fact scan are both
    // pre-filtered by the selective part predicate (a broadcast semi-join
    // on the ~12% of partkeys matching '%bolt%'). Equivalence: the final
    // plan joins every ps group and every fact row to the FILTERED part
    // table on partkey, so groups/rows of non-matching partkeys can never
    // reach the output, and the semi-join filters at exactly partkey
    // granularity (whole ps groups). Result is bit-identical (oracle
    // replays the unfiltered form); the (partkey, suppkey) shuffle into
    // `ps` and the fact⋈ps join now carry ~8× fewer rows.
    "q_sql_profit" -> ((s, d) => {
      Seq("supplier", "nation", "part", "orders", "lineitem")
        .foreach(n => t(s, d, n).createOrReplaceTempView(s"v_$n"))
      s.sql("""
        WITH li AS (
          SELECT * FROM v_lineitem
          WHERE l_partkey IN (
            SELECT p_partkey FROM v_part WHERE p_name LIKE '%bolt%')),
        ps AS (
          SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                 min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS ps_cost_c
          FROM li GROUP BY l_partkey, l_suppkey)
        SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
               sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)
                   - ps_cost_c * CAST(l_quantity AS BIGINT)) AS profit_c,
               count(*) AS n_lines
        FROM li
        JOIN ps ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
        JOIN v_part ON p_partkey = l_partkey
        JOIN v_supplier ON s_suppkey = l_suppkey
        JOIN v_orders ON o_orderkey = l_orderkey
        JOIN v_nation ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%bolt%'
        GROUP BY n_name, year(o_orderdate)
        ORDER BY nation, o_year
      """)
    }),
    // TPC-H Q12-shaped: shipping-priority split — orders⋈lineitem with a
    // ship-date window and DUAL conditional counts (high/low priority) in
    // one pass. The testdata carries no l_shipmode, so l_returnflag
    // stands in as the 3-value mode dimension; the shape (fact-fact
    // equi-join + date pushdown + CASE aggregation) is unchanged.
    "q_sql_ship_priority" -> ((s, d) => {
      Seq("orders", "lineitem")
        .foreach(n => t(s, d, n).createOrReplaceTempView(s"v_$n"))
      s.sql("""
        SELECT l_returnflag AS ship_mode,
          sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END) AS high_line_count,
          sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END) AS low_line_count
        FROM v_orders JOIN v_lineitem ON o_orderkey = l_orderkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l_returnflag
        ORDER BY l_returnflag
      """)
    }),
    // TPC-H Q16-shaped: supplier-part relationship count — distinct
    // (part, supplier) pairs from lineitem, filtered by part attributes
    // (<>, IN-list) and a NOT IN subquery over "complaint" suppliers
    // (negative balance stands in for the comment scan). The NOT IN must
    // decorrelate to a null-aware anti join; count(DISTINCT) per tiny
    // group runs as a two-phase distinct aggregate.
    "q_sql_supp_cnt" -> ((s, d) => {
      Seq("supplier", "part", "lineitem")
        .foreach(n => t(s, d, n).createOrReplaceTempView(s"v_$n"))
      s.sql("""
        WITH ps AS (
          SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
          FROM v_lineitem)
        SELECT p_brand, p_type, p_size,
               CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
        FROM ps JOIN v_part ON p_partkey = ps_partkey
        WHERE p_brand <> 'Brand#1' AND p_type <> 'MEDIUM'
          AND p_size IN (1, 4, 7, 10, 15, 23, 38, 45)
          AND ps_suppkey NOT IN (
            SELECT s_suppkey FROM v_supplier WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
      """)
    }),
    // TPC-H Q7-shaped: directed nation-pair shipping volume — the fact
    // table reaches TWO copies of the broadcast nation dim (via supplier
    // and via customer) with an OR over the two directed pairs; grouped by
    // (supp_nation, cust_nation, year). Exercises double-role dims through
    // the SQL surface like q_sql_market_share does through the DataFrame
    // one.
    "q_sql_volume" -> ((s, d) => {
      Seq("customer", "orders", "lineitem", "supplier", "nation")
        .foreach(n => t(s, d, n).createOrReplaceTempView(s"v_$n"))
      s.sql("""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS BIGINT) AS l_year,
               round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS volume,
               count(*) AS n_lines
        FROM v_supplier
        JOIN v_lineitem ON s_suppkey = l_suppkey
        JOIN v_orders ON o_orderkey = l_orderkey
        JOIN v_customer ON c_custkey = o_custkey
        JOIN v_nation n1 ON s_nationkey = n1.n_nationkey
        JOIN v_nation n2 ON c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
        ORDER BY supp_nation, cust_nation, l_year
      """)
    }),
    // TPC-H Q13-shaped: customer order-count distribution — a LEFT OUTER
    // join with an extra join-side predicate (so the filter must stay in
    // the join condition, not be pushed below it: pushing it would turn
    // zero-order customers into dropped rows instead of count 0), then a
    // second aggregation over the first's result. Two shuffles by design;
    // the first groupBy reuses the join's c_custkey partitioning.
    "q_sql_order_dist" -> ((s, d) => {
      t(s, d, "customer").createOrReplaceTempView("v_customer")
      t(s, d, "orders").createOrReplaceTempView("v_orders")
      s.sql("""
        SELECT c_count, count(*) AS custdist
        FROM (
          SELECT c_custkey, count(o_orderkey) AS c_count
          FROM v_customer
          LEFT OUTER JOIN v_orders
            ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey)
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
      """)
    }),
    // TPC-H Q18-shaped: large-volume orders — IN over an aggregated
    // subquery (sum(l_quantity) HAVING > threshold). Catalyst plans the
    // HAVING subquery as an aggregate then a left-semi join on o_orderkey;
    // the outer join tree re-aggregates per order.
    "q_sql_big_orders" -> ((s, d) => {
      Seq("customer", "orders", "lineitem")
        .foreach(n => t(s, d, n).createOrReplaceTempView(s"v_$n"))
      s.sql("""
        SELECT c_name, c_custkey, o_orderkey, o_totalprice,
               round(sum(l_quantity), 2) AS total_qty
        FROM v_customer
        JOIN v_orders ON c_custkey = o_custkey
        JOIN v_lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey IN (
          SELECT l_orderkey FROM v_lineitem
          GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
        GROUP BY c_name, c_custkey, o_orderkey, o_totalprice
        ORDER BY o_totalprice DESC, o_orderkey
      """)
    }),
    // TPC-H Q6-shaped: the pure scan-filter-aggregate revenue forecast —
    // every predicate (date range, discount band, quantity cap) pushes to
    // the parquet scan; the whole query is one codegen stage + one
    // single-row aggregate. The "is pushdown actually free" canary.
    "q_sql_forecast" -> ((s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("v_lineitem")
      s.sql("""
        SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
               count(*) AS n_lines
        FROM v_lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount BETWEEN 0.02 AND 0.09
          AND l_quantity < 24.0
      """)
    }),
    // TPC-H Q10-shaped: returned-item reporting — customers ranked by the
    // revenue they returned in a quarter, nation broadcast onto the
    // grouped result. Fact filters (returnflag + date) push to the scans;
    // the single wide shuffle is the customer-cardinality aggregate.
    "q_sql_returns" -> ((s, d) => {
      Seq("customer", "orders", "lineitem", "nation")
        .foreach(n => t(s, d, n).createOrReplaceTempView(s"v_$n"))
      s.sql("""
        SELECT c_custkey, c_name, n_name,
               round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
               count(*) AS n_lines
        FROM v_customer
        JOIN v_orders ON c_custkey = o_custkey
        JOIN v_lineitem ON l_orderkey = o_orderkey
        JOIN v_nation ON c_nationkey = n_nationkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
          AND l_returnflag = 'R'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
      """)
    }),
    // TPC-H Q14-shaped: promo-revenue share — a conditional-aggregate
    // ratio over one month of facts with the part dim broadcast. The
    // ratio divides two sums of the same rounded grid, computed in ONE
    // aggregate pass (no self-join).
    "q_sql_promo" -> ((s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("v_lineitem")
      t(s, d, "part").createOrReplaceTempView("v_part")
      s.sql("""
        SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                 THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END)
               / sum(l_extendedprice * (1.0 - l_discount)), 6) AS promo_share,
               count(*) AS n_lines
        FROM v_lineitem
        JOIN v_part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'
      """)
    }),
    // TPC-H Q15-shaped: top supplier by quarterly revenue — an aggregate
    // CTE consumed twice (join + scalar max), the view-reuse shape.
    // Revenue is rounded at 4 digits BEFORE the max/equality compare, so
    // the float equality is between bit-identical rounded values on both
    // engines (raw sums would differ in the last ulp by merge order).
    "q_sql_top_supplier" -> ((s, d) => {
      t(s, d, "supplier").createOrReplaceTempView("v_supplier")
      t(s, d, "lineitem").createOrReplaceTempView("v_lineitem")
      s.sql("""
        WITH revenue AS (
          SELECT l_suppkey AS supplier_no,
                 round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS total_revenue
          FROM v_lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
          GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, total_revenue
        FROM v_supplier
        JOIN revenue ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
        ORDER BY s_suppkey
      """)
    }),
    // TPC-H Q19-shaped: a disjunction of (brand, size-range, quantity-
    // range) conjuncts. Catalyst factors the part-only legs of the OR and
    // pushes their union below the join as a part-side scan filter, so the
    // join build side shrinks before any fact row is touched — the
    // disjunctive-pushdown shape.
    "q_sql_disjunct" -> ((s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("v_lineitem")
      t(s, d, "part").createOrReplaceTempView("v_part")
      s.sql("""
        SELECT round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
               count(*) AS n_lines
        FROM v_lineitem
        JOIN v_part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 25
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#14' AND p_size BETWEEN 1 AND 35
               AND l_quantity BETWEEN 20 AND 30)
      """)
    }),
    // TPC-H Q22-shaped: NOT EXISTS anti-join + a scalar-aggregate
    // threshold. The "above average balance" compare is done as an exact
    // integer cross-multiply (cents·count > Σcents) instead of comparing
    // against a float avg — the avg of doubles is summation-order-
    // sensitive, so a boundary row could flip between engines; integer
    // cross-multiplication cannot.
    "q_sql_no_urgent_orders" -> ((s, d) => {
      t(s, d, "customer").createOrReplaceTempView("v_customer")
      t(s, d, "orders").createOrReplaceTempView("v_orders")
      s.sql("""
        SELECT c_nationkey, count(*) AS numcust,
               round(sum(c_acctbal), 4) AS totacctbal
        FROM v_customer
        WHERE CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT)
              * (SELECT count(*) FROM v_customer WHERE c_acctbal > 0.0)
              > (SELECT sum(CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT))
                 FROM v_customer WHERE c_acctbal > 0.0)
          AND NOT EXISTS (
            SELECT 1 FROM v_orders
            WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        GROUP BY c_nationkey
        ORDER BY c_nationkey
      """)
    }),
    "q_when_case" -> ((s, d) => Relational.whenCaseBuckets(t(s, d, "orders"))),
    "q_validate_chain" -> ((s, d) => Relational.validateChain(t(s, d, "lineitem"))),
    "q_struct_pack" -> ((s, d) => Relational.structPackJson(t(s, d, "orders"))),
    // ---- time / ordering (SURVEY §2.3 F11-F15) ----
    "q_date_format" -> ((s, d) => TimeOps.dateFormatIso(t(s, d, "orders"))),
    "q_ts_dispatch" -> ((s, d) => TimeOps.timestampDispatch(t(s, d, "events"))),
    "q_events_hourly" -> ((s, d) => TimeOps.hourlyEventAgg(t(s, d, "events"))),
    "q_sessionize" -> ((s, d) => TimeOps.sessionize(t(s, d, "events"))),
    "q_events_paths" -> ((s, d) => TimeOps.sessionPaths(t(s, d, "events"))),
    "q_asof_join" -> ((s, d) => TimeOps.asofJoinClickToView(t(s, d, "events"))),
    "q_asof_native" -> ((s, d) => TimeOps.asofJoinNative(t(s, d, "events"))),
    "q_asof_tolerance" -> ((s, d) =>
      TimeOps.asofJoinNative(t(s, d, "events"), Some(3600L * 1000000))),
    "q_asof_broadcast" -> ((s, d) => TimeOps.asofJoinBroadcast(t(s, d, "events"))),
    // ---- text analysis (LLM pipeline) ----
    "q_docs_langid" -> ((s, d) => TextAnalysis.langId(t(s, d, "documents"))),
    "q_docs_quality" -> ((s, d) => TextAnalysis.qualityScore(t(s, d, "documents"))),
    "q_docs_tokens" -> ((s, d) => TextAnalysis.tokenStats(t(s, d, "documents"))),
    "q_docs_fingerprint" -> ((s, d) => TextAnalysis.fingerprint(t(s, d, "documents"))),
    "q_docs_rollhash" -> ((s, d) => TextAnalysis.rollingFingerprint(t(s, d, "documents"))),
    "q_docs_topquality" -> ((s, d) => TextAnalysis.topQualityPerSource(t(s, d, "documents"))),
    "q_docs_dedup_best" -> ((s, d) => TextAnalysis.dedupKeepBest(t(s, d, "documents"))),
    "q_docs_contamination" -> ((s, d) => TextAnalysis.crossSourceContamination(t(s, d, "documents"))),
    "q_docs_sample" -> ((s, d) => TextAnalysis.hashSample(t(s, d, "documents"))),
    "q_docs_chunks" -> ((s, d) => TextAnalysis.chunkDocuments(t(s, d, "documents"))),
    "q_docs_pack" -> ((s, d) => TextAnalysis.packSequences(t(s, d, "documents"))),
    "q_docs_wsample" -> ((s, d) => TextAnalysis.weightedSample(t(s, d, "documents"))),
    "q_docs_dsir" -> ((s, d) => TextAnalysis.dsirScores(t(s, d, "documents"))),
    "q_docs_clusters_stars" -> ((s, d) =>
      Dedup.nearDupClusters(t(s, d, "documents"), useStars = true)),
    // ---- dedup suite (LLM pipeline) ----
    "q_docs_exact_dedup" -> ((s, d) => Dedup.exactDedup(t(s, d, "documents"))),
    "q_docs_minhash" -> ((s, d) => Dedup.minhashSignatures(t(s, d, "documents"))),
    "q_docs_lsh_pairs" -> ((s, d) => Dedup.lshCandidatePairs(t(s, d, "documents"))),
    "q_docs_pagerank" -> ((s, d) => Dedup.nearDupPageRank(t(s, d, "documents"))),
    "q_docs_central_keep" -> ((s, d) => Dedup.centralKeep(t(s, d, "documents"))),
    "q_docs_triangles" -> ((s, d) => Dedup.nearDupTriangles(t(s, d, "documents"))),
    "q_docs_lcc" -> ((s, d) => Dedup.clusteringCoefficient(t(s, d, "documents"))),
    "q_docs_bpe" -> ((s, d) => TextAnalysis.bpeMerges(t(s, d, "documents"))),
    "q_docs_bpe_encode" -> ((s, d) => TextAnalysis.bpeEncode(t(s, d, "documents"))),
    "q_docs_gopher_rules" -> ((s, d) => TextAnalysis.gopherRules(t(s, d, "documents"))),
    "q_docs_neardup" -> ((s, d) => Dedup.ngramJaccardNearDup(t(s, d, "documents"))),
    "q_docs_containment" -> ((s, d) => Dedup.containmentNearDup(t(s, d, "documents"))),
    "q_docs_simhash" -> ((s, d) => Dedup.simhash(t(s, d, "documents"))),
    "q_docs_simhash_pairs" -> ((s, d) => Dedup.simhashNearDupPairs(t(s, d, "documents"))),
    "q_docs_bigrams" -> ((s, d) => Dedup.wordBigrams(t(s, d, "documents"))),
    "q_docs_clusters" -> ((s, d) => Dedup.nearDupClusters(t(s, d, "documents"))),
    "q_docs_lp_communities" -> ((s, d) => Dedup.labelPropagation(t(s, d, "documents"))),
    "q_docs_substring_dedup" -> ((s, d) => Dedup.substringDedup(t(s, d, "documents"))),
    "q_docs_substring_spans" -> ((s, d) => Dedup.substringDedupSpans(t(s, d, "documents"))),
    "q_docs_substring_apply" -> ((s, d) => Dedup.substringDedupApply(t(s, d, "documents"))),
    "q_docs_setsim_join" -> ((s, d) => Dedup.setSimilarityJoin(t(s, d, "documents"))),
    "q_docs_winnow_pairs" -> ((s, d) => Dedup.winnowCandidatePairs(t(s, d, "documents"))),
    "q_emb_rand_neg" -> ((s, d) => Similarity.randomNegatives(t(s, d, "embeddings"))),
    // ---- similarity search (LLM pipeline) ----
    "q_emb_topk" -> ((s, d) => Similarity.bruteForceTopK(t(s, d, "embeddings"))),
    "q_emb_topk_agg" -> ((s, d) => Similarity.bruteForceTopKAgg(t(s, d, "embeddings"))),
    "q_emb_ivf_assign" -> ((s, d) => Similarity.ivfAssign(t(s, d, "embeddings"))),
    "q_emb_cluster_balance" -> ((s, d) => Similarity.clusterBalancedSample(t(s, d, "embeddings"))),
    "q_emb_mmr" -> ((s, d) => Similarity.mmrRerank(t(s, d, "embeddings"))),
    "q_emb_pq_rerank" -> ((s, d) => Similarity.pqRerank(t(s, d, "embeddings"))),
    "q_emb_ivf_kmeans" -> ((s, d) => Similarity.ivfAssignKMeans(t(s, d, "embeddings"))),
    "q_emb_ivf_topk" -> ((s, d) => Similarity.ivfTopK(t(s, d, "embeddings"))),
    "q_emb_ivf_mp" -> ((s, d) => Similarity.ivfTopKMultiProbe(t(s, d, "embeddings"))),
    "q_emb_neardup" -> ((s, d) => Similarity.cosineNearDupPairs(t(s, d, "embeddings"))),
    "q_emb_semdedup" -> ((s, d) => Similarity.semanticDedup(t(s, d, "embeddings"))),
    "q_emb_srp_buckets" -> ((s, d) => Similarity.srpBuckets(t(s, d, "embeddings"))),
    "q_emb_quantize" -> ((s, d) => Similarity.quantizeAudit(t(s, d, "embeddings"))),
    "q_emb_pq_encode" -> ((s, d) => Similarity.pqEncode(t(s, d, "embeddings"))),
    "q_emb_pq_topk" -> ((s, d) => Similarity.pqTopK(t(s, d, "embeddings"))),
    "q_emb_ivfadc" -> ((s, d) => Similarity.ivfAdcTopK(t(s, d, "embeddings"))),
    "q_emb_rrf" -> ((s, d) => Similarity.rrfFusion(t(s, d, "embeddings"))),
    "q_emb_hardneg" -> ((s, d) => Similarity.hardNegatives(t(s, d, "embeddings"))),
    "q_agg_stats" -> ((s, d) => Relational.statsAgg(t(s, d, "lineitem"))),
    "q_agg_histogram" -> ((s, d) => Relational.histogramAgg(t(s, d, "lineitem"))),
    "q_join_salted" -> ((s, d) =>
      Relational.saltedJoin(t(s, d, "orders"), t(s, d, "customer"))),
    "q_events_sliding" -> ((s, d) => Relational.slidingEventWindow(t(s, d, "events"))),
    "q_agg_gsets" -> ((s, d) => Relational.groupingSetsAgg(t(s, d, "lineitem"))),
    "q_window_firstlast" -> ((s, d) => Relational.windowFirstLast(t(s, d, "orders"))),
    "q_set_union_byname" -> ((s, d) => Relational.unionByNameMissing(t(s, d, "orders"))),
    "q_events_funnel" -> ((s, d) => TimeOps.funnelStages(t(s, d, "events"))),
    "q_events_retention" -> ((s, d) => TimeOps.retentionCohorts(t(s, d, "events"))),
    "q_events_attribution" -> ((s, d) => TimeOps.lastTouchAttribution(t(s, d, "events"))),
    "q_events_scd2" -> ((s, d) => TimeOps.scd2History(t(s, d, "events"))),
    "q_events_transitions" -> ((s, d) => TimeOps.eventTransitions(t(s, d, "events"))),
    "q_events_active" -> ((s, d) => TimeOps.activeUsers(t(s, d, "events"))),
    "q_events_wow" -> ((s, d) => TimeOps.weekOverWeek(t(s, d, "events"))),
    "q_events_ttc" -> ((s, d) => TimeOps.timeToConvert(t(s, d, "events"))),
    "q_events_rfm" -> ((s, d) => TimeOps.rfmSegments(t(s, d, "events"))),
    "q_docs_typo_pairs" -> ((s, d) => TextAnalysis.typoPairs(t(s, d, "documents"))),
    "q_events_gapfill" -> ((s, d) => TimeOps.gapFillDaily(t(s, d, "events"))),
    "q_events_zscore" -> ((s, d) => TimeOps.zscoreAnomalies(t(s, d, "events"))),
    "q_events_ewma" -> ((s, d) => TimeOps.ewmaHourly(t(s, d, "events"))),
    "q_docs_bigram_lm" -> ((s, d) => TextAnalysis.bigramConditional(t(s, d, "documents"))),
    "q_docs_entropy" -> ((s, d) => TextAnalysis.unigramEntropy(t(s, d, "documents"))),
    "q_docs_pmi" -> ((s, d) => TextAnalysis.pmiCollocations(t(s, d, "documents"))),
    "q_docs_incr_dedup" -> ((s, d) => Dedup.incrementalDedup(t(s, d, "documents"))),
    "q_docs_simhash_clusters" -> ((s, d) => Dedup.simhashClusters(t(s, d, "documents"))),
    "q_docs_minhash_est" -> ((s, d) => Dedup.minhashEstJaccard(t(s, d, "documents"))),
    "q_events_dow" -> ((s, d) => TimeOps.dowSeasonality(t(s, d, "events"))),
    "q_events_hopping" -> ((s, d) => TimeOps.hoppingEventAgg(t(s, d, "events"))),
    "q_events_dedup_consec" -> ((s, d) => TimeOps.dedupConsecutive(t(s, d, "events"))),
    "q_docs_normalize" -> ((s, d) => TextAnalysis.normalizeText(t(s, d, "documents"))),
    "q_docs_wordfreq" -> ((s, d) => TextAnalysis.wordFrequency(t(s, d, "documents"))),
    // TPC-H Q8-shaped: market share — eight-table snowflake with TWO roles
    // of the same nation dimension (customer's nation gates the region,
    // supplier's nation is the measure dimension) and a conditional
    // aggregate ratio per year. The double-role join is the shape Catalyst
    // must NOT collapse; both nation sides broadcast.
    "q_sql_market_share" -> ((s, d) => {
      Seq("part", "supplier", "lineitem", "orders", "customer", "nation", "region")
        .foreach(n => t(s, d, n).createOrReplaceTempView(s"v_$n"))
      s.sql("""
        SELECT o_year,
               round(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0.0 END)
                     / sum(volume), 6) AS mkt_share,
               count(*) AS n_lines
        FROM (
          SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                 l_extendedprice * (1.0 - l_discount) AS volume,
                 n2.n_name AS nation
          FROM v_lineitem
          JOIN v_part ON p_partkey = l_partkey
          JOIN v_supplier ON s_suppkey = l_suppkey
          JOIN v_orders ON o_orderkey = l_orderkey
          JOIN v_customer ON c_custkey = o_custkey
          JOIN v_nation n1 ON c_nationkey = n1.n_nationkey
          JOIN v_region ON n1.n_regionkey = r_regionkey
          JOIN v_nation n2 ON s_nationkey = n2.n_nationkey
          WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
        ) shares
        GROUP BY o_year
        ORDER BY o_year
      """)
    }),
    "q_docs_stratified" -> ((s, d) => TextAnalysis.stratifiedSample(t(s, d, "documents"))),
    "q_docs_lang_mixture" -> ((s, d) => TextAnalysis.langTemperatureMixture(t(s, d, "documents"))),
    "q_docs_curation" -> ((s, d) => TextAnalysis.curationPipeline(t(s, d, "documents"))),
    "q_docs_accounting" -> ((s, d) => TextAnalysis.corpusAccounting(t(s, d, "documents"))),
    "q_docs_cms" -> ((s, d) => TextAnalysis.countMinSketch(t(s, d, "documents"))),
    "q_docs_unigram_lp" -> ((s, d) => TextAnalysis.unigramLogProb(t(s, d, "documents"))),
    "q_docs_temp_mixture" -> ((s, d) => TextAnalysis.temperatureMixture(t(s, d, "documents"))),
    "q_docs_surprisal" -> ((s, d) => TextAnalysis.bigramSurprisal(t(s, d, "documents"))),
    "q_docs_split" -> ((s, d) => TextAnalysis.trainValTestSplit(t(s, d, "documents"))),
    "q_docs_pii" -> ((s, d) => TextAnalysis.redactPii(t(s, d, "documents"))),
    // mixture: keep all of src0, 50% of src1, 25% of src2; drop the rest
    "q_docs_mixture" -> ((s, d) => TextAnalysis.mixtureSample(
      t(s, d, "documents"), Map("src0" -> 10000, "src1" -> 5000, "src2" -> 2500))),
    "q_docs_ngram_contam" -> ((s, d) => TextAnalysis.ngramContamination(t(s, d, "documents"))),
    // batch form of the streaming screen (same plan, static source):
    // corpus docs vs the src0 benchmark, per-doc matched-gram counts
    "q_docs_screen" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.streaming.DocStreams.benchmarkScreenStream(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("matched_grams"))
        .orderBy("doc_id")
    }),
    "q_docs_fuzzy_contam" -> ((s, d) => TextAnalysis.fuzzyContamination(t(s, d, "documents"))),
    "q_docs_bloom_decontam" -> ((s, d) => TextAnalysis.bloomDecontaminate(t(s, d, "documents"))),
    "q_docs_repetition" -> ((s, d) => TextAnalysis.repetitionScore(t(s, d, "documents"))),
    "q_emb_srp_pairs" -> ((s, d) => Similarity.srpNearDupPairs(t(s, d, "embeddings"))),
    // candidate half only (no cosine verify)
    "q_emb_srp_cands" -> ((s, d) => Similarity.srpCandidatePairs(t(s, d, "embeddings"))),
    // ---- multimodal plumbing ----
    "q_multimodal_meta" -> ((s, d) => Multimodal.binaryMeta(t(s, d, "documents"))),
    "q_multimodal_decode" -> ((s, d) =>
      Multimodal.decodeFeatures(Multimodal.assetsFromDocuments(t(s, d, "documents")))
        .toDF().orderBy("asset_id")),
    "q_multimodal_frames" -> ((s, d) =>
      Multimodal.sampleFrames(Multimodal.assetsFromDocuments(t(s, d, "documents")))
        .toDF().orderBy("asset_id", "frame_idx")),
    "q_media_audio" -> ((s, d) => Multimodal.audioFeatures(t(s, d, "documents"))),
    "q_media_video" -> ((s, d) => Multimodal.videoFeatures(t(s, d, "documents"))),
    // ---- reference reconciliation pipeline (golden-verified in tests AND
    //      driver-verified: the oracle replays the full validation /
    //      normalization cascade via DuckDB read_csv over the same CSVs) ----
    // memoized per session: TradePipeline.run persists its validated
    // branch point, and the bench invokes each query fn several times —
    // re-running would accumulate one orphaned cache per iteration, while
    // reuse is exactly what the persist is for (Result.unpersist releases
    // it; here the single cache lives for the session like the other
    // registered queries' state)
    "q_etl_cleaned_trades" -> ((s, _) =>
      etlResult(s).cleanedTrades.orderBy("trade_id")),
    // Invalid-side exceptions report (reference: etl_pipeline.py:395-410):
    // record_id / source_file / ", "-joined exception codes (fixed order
    // SYMBOL→QUANTITY→PRICE) / "; "-joined details / raw_data struct.
    // The struct is serialized with to_json for the oracle compare (the
    // q_struct_pack precedent); to_json omits null fields, which the
    // oracle mirrors with concat_ws's null-skipping.
    "q_etl_exceptions" -> ((s, _) =>
      etlResult(s).exceptions
        .withColumn("raw_data",
          org.apache.spark.sql.functions.to_json(
            org.apache.spark.sql.functions.col("raw_data")))
        .orderBy("record_id")),
  )

  private val etlMemo =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, etl.TradePipeline.Result]()

  /** Memoized full pipeline run over the reference CSVs: both registered
    * ETL queries (cleaned + exceptions) derive from ONE run, sharing its
    * persisted branch point (see the memoization note above).
    */
  private def etlResult(s: SparkSession): etl.TradePipeline.Result =
    etlMemo.computeIfAbsent(s, s2 =>
      etl.TradePipeline.run(s2,
        s"${etl.TradePipeline.referenceDir}/trades.csv",
        s"${etl.TradePipeline.referenceDir}/counterparty_fills.csv",
        s"${etl.TradePipeline.referenceDir}/symbols_reference.csv"))

  /** Drop all session-lifetime state a registered query may have left
    * behind: the memoized ETL pipeline (and its persisted branch point),
    * every cached Dataset, and every still-persisted RDD (including
    * `localCheckpoint` snapshots from iterative queries, which otherwise
    * wait on the ContextCleaner). Harnesses (Bench, Verify) call this
    * BETWEEN queries so one query's working set never contaminates the
    * next query's timing or memory headroom; it is deliberately not
    * called between a single query's own iterations — intra-query cache
    * reuse is part of the design being measured.
    */
  def resetSessionState(spark: SparkSession): Unit = {
    Option(etlMemo.remove(spark)).foreach(_.unpersist())
    spark.catalog.clearCache()
    // blocking: the isolation this method exists for is only real if the
    // eviction work LANDS here, between queries — a fire-and-forget
    // unpersist races the next query's first timed iteration and shows up
    // as context-dependent noise in its median (observed: ivfTopK 2× slower
    // mid-suite than standalone with async cleanup draining under it)
    spark.sparkContext.getPersistentRDDs.valuesIterator
      .foreach(_.unpersist(blocking = true))
  }

  // ------------------------------------------------------------ oracle SQL

  /** DuckDB SQL fragment: cosine similarity between two 64-dim float-list
    * columns, computed in double like the Spark side
    * ([[Similarity.cosine]]).
    */
  private def cosSql(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"list_sum(list_transform(range(1, 65), i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)))"
    s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"
  }

  /** DuckDB: squared L2 distance between subvector `m` (a column from an
    * unnested 0..PqM-1 range) of two float-list columns, as the SAME
    * |a|²−2a·b+|b|² three-dot arithmetic the Spark side computes
    * ([[Similarity.pqEncode]]) — term order matters for bit-exactness.
    */
  private def pqL2Sql(a: String, b: String, m: String = "u.m"): String = {
    val w = Similarity.PqSubDim
    def dot(x: String, y: String) =
      s"list_sum(list_transform(range(1, ${w + 1}), " +
        s"i -> CAST($x[$m * $w + i] AS DOUBLE) * CAST($y[$m * $w + i] AS DOUBLE)))"
    s"${dot(a, a)} - 2.0 * ${dot(a, b)} + ${dot(b, b)}"
  }

  /** IVF top-k pipeline as CTEs ending at ranked `r` — the q_emb_ivf_topk
    * oracle, shared with the RRF-fusion oracle (its cosine leg).
    */
  private lazy val ivfTopkCtes: String =
    s"""cents AS (SELECT vec_id AS centroid_id, embedding AS cent_emb
       |          FROM embeddings WHERE vec_id % 100 = 0),
       |s0 AS (SELECT e.vec_id, c.centroid_id, ${cosSql("e.embedding", "c.cent_emb")} AS cos
       |       FROM embeddings e, cents c),
       |assign AS (
       |  SELECT vec_id, centroid_id AS cell FROM (
       |    SELECT vec_id, centroid_id, cos,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, centroid_id) AS rnk
       |    FROM s0) WHERE rnk = 1),
       |wc AS (SELECT e.vec_id, e.embedding, a.cell FROM embeddings e JOIN assign a USING (vec_id)),
       |q AS (SELECT vec_id AS query_id, embedding AS q_emb, cell FROM wc WHERE vec_id < 20),
       |c AS (SELECT vec_id AS cand_id, embedding AS c_emb, cell FROM wc),
       |s AS (
       |  SELECT q.query_id, c.cand_id, ${cosSql("q.q_emb", "c.c_emb")} AS cos
       |  FROM q JOIN c ON q.cell = c.cell AND q.query_id <> c.cand_id),
       |r AS (SELECT query_id, cand_id, cos,
       |        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rnk
       |      FROM s)""".stripMargin

  /** Shared CTEs for the PQ suite — mirrors [[Similarity.pqCodebooks]] /
    * [[Similarity.pqEncode]]: stride-seeded codebooks, per-subvector
    * argmin codes (ties to the lowest code), pivoted to one row of c0..c7
    * per vector. Ends at `pq_codes`.
    */
  private lazy val pqCtes: String = {
    val st = Similarity.PqSeedStride
    val k = Similarity.PqK
    val mM = Similarity.PqM
    val pivots = (0 until mM)
      .map(m => s"  max(CASE WHEN m = $m THEN code END) AS c$m")
      .mkString(",\n")
    s"""pq_cb AS (
       |  SELECT vec_id // $st AS code, embedding AS seed_emb
       |  FROM embeddings WHERE vec_id % $st = 0 AND vec_id < ${st.toLong * k}),
       |pq_ms AS (SELECT unnest(range(0, $mM)) AS m),
       |pq_sc AS (
       |  SELECT e.vec_id, u.m, b.code,
       |    ${pqL2Sql("e.embedding", "b.seed_emb")} AS d
       |  FROM embeddings e, pq_cb b, pq_ms u),
       |pq_arg AS (
       |  SELECT vec_id, m, code,
       |    row_number() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rnk
       |  FROM pq_sc),
       |pq_codes AS (
       |  SELECT vec_id,
       |$pivots
       |  FROM pq_arg WHERE rnk = 1 GROUP BY vec_id)""".stripMargin
  }

  /** The ADC lookup-sum expression over `t.td` (a per-query distance list
    * in idx order) and `cc`'s code columns — PqM element references added
    * left-to-right, matching the Spark expression's evaluation order.
    */
  private lazy val pqAdcLookups: String = (0 until Similarity.PqM)
    .map(m => s"t.td[cc.c$m + ${m * Similarity.PqK + 1}]")
    .mkString(" + ")

  /** [[pqCtes]] extended through the ADC top-k ranking (`pq_rank`) — the
    * q_emb_pq_topk oracle, shared with the RRF-fusion oracle (its PQ leg).
    */
  private lazy val pqTopkCtes: String =
    s"""$pqCtes,
       |pq_td AS (
       |  SELECT q.vec_id AS query_id, u.m * ${Similarity.PqK} + b.code AS idx,
       |    ${pqL2Sql("q.embedding", "b.seed_emb")} AS d
       |  FROM embeddings q, pq_cb b, pq_ms u
       |  WHERE q.vec_id < 20),
       |pq_tables AS (
       |  SELECT query_id, list(d ORDER BY idx) AS td FROM pq_td GROUP BY query_id),
       |pq_scored AS (
       |  SELECT t.query_id, cc.vec_id AS cand_id, $pqAdcLookups AS approx
       |  FROM pq_tables t JOIN pq_codes cc ON cc.vec_id <> t.query_id),
       |pq_rank AS (
       |  SELECT query_id, cand_id, approx,
       |    row_number() OVER (PARTITION BY query_id ORDER BY approx, cand_id) AS rnk
       |  FROM pq_scored)""".stripMargin

  /** Near-dup cluster labeling as a recursive reachability CTE — one
    * oracle shared by BOTH distributed strategies (label contraction and
    * large-star/small-star), which must produce the identical labeling.
    */
  /** Shared CTEs for the embedding near-dup suite — mirrors
    * [[Similarity.cosineNearDupPairs]] (stride-50 seed centroids, argmin
    * cell assignment, [2,1000]-bounded cells, in-cell cosine pairs). Ends
    * at `p` (id_a, id_b, cos — unfiltered); consumers apply their own
    * threshold. Used by both `q_emb_neardup` (the pairs) and
    * `q_emb_semdedup` (their transitive closure).
    */
  private lazy val embNeardupCtes: String =
    s"""cents AS (SELECT vec_id AS centroid_id, embedding AS cent_emb
       |          FROM embeddings WHERE vec_id % 50 = 0),
       |s0 AS (SELECT e.vec_id, c.centroid_id, ${cosSql("e.embedding", "c.cent_emb")} AS cos
       |       FROM embeddings e, cents c),
       |assign AS (
       |  SELECT vec_id, centroid_id AS cell FROM (
       |    SELECT vec_id, centroid_id, cos,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, centroid_id) AS rnk
       |    FROM s0) WHERE rnk = 1),
       |wc AS (SELECT e.vec_id, e.embedding, a.cell FROM embeddings e JOIN assign a USING (vec_id)),
       |ok AS (SELECT cell FROM wc GROUP BY cell HAVING count(*) BETWEEN 2 AND 1000),
       |p AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    ${cosSql("a.embedding", "b.embedding")} AS cos
       |  FROM wc a
       |  JOIN ok k ON a.cell = k.cell
       |  JOIN wc b ON a.cell = b.cell AND a.vec_id < b.vec_id)""".stripMargin

  /** Three unrolled label-propagation rounds over the replayed LSH pair
    * graph — same vote order as [[graft.ops.Dedup.labelPropagation]]:
    * (count DESC, label ASC), isolated vertices keep their own label.
    */
  private lazy val lpOracleSql: String = {
    def round(prev: String, i: Int): String =
      s"""n$i AS (
         |  SELECT e.src AS v, l.lab, count(*) AS c FROM edges e
         |  JOIN $prev l ON e.dst = l.v GROUP BY e.src, l.lab),
         |b$i AS (
         |  SELECT v, lab FROM (
         |    SELECT v, lab,
         |      row_number() OVER (PARTITION BY v ORDER BY c DESC, lab) AS rn
         |    FROM n$i) WHERE rn = 1),
         |l$i AS (
         |  SELECT p.v, COALESCE(b$i.lab, p.lab) AS lab
         |  FROM $prev p LEFT JOIN b$i ON p.v = b$i.v)"""
    s"""WITH $minhashCtes,
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |l0 AS (SELECT doc_id AS v, doc_id AS lab FROM documents),
       |${round("l0", 1)},
       |${round("l1", 2)},
       |${round("l2", 3)}
       |SELECT v AS doc_id, lab AS community FROM l3 ORDER BY doc_id""".stripMargin
  }

  private lazy val clustersOracleSql: String =
    s"""WITH RECURSIVE $minhashCtes,
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
       |SELECT id AS doc_id, min(r) AS cluster_id, (id = min(r)) AS keep
       |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  /** Shared CTEs for the MinHash suite — mirrors [[Dedup.minhashSignatures]]
    * (shingle width 8, stride 4; one 32-bit md5-prefix base hash per
    * shingle; 8 universal-hash mins (A_k·x + B_k mod P); 4 bands of 2).
    */
  private val minhashCtes: String = {
    val hashes = (0 until Dedup.NumHashes)
      .map(k => s"min((${Dedup.hashA(k)} * hv + ${Dedup.hashB(k)}) % ${Dedup.HashPrime}) AS h$k")
      .mkString(",\n    ")
    s"""sh AS (
       |  SELECT doc_id, list_transform(range(1, greatest(length(text) - 7, 1) + 1, 4),
       |                                i -> substr(text, i, 8)) AS s
       |  FROM documents),
       |hv AS (
       |  SELECT doc_id, CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) AS hv
       |  FROM (SELECT doc_id, unnest(s) AS s FROM sh)),
       |h AS (
       |  SELECT doc_id,
       |    $hashes
       |  FROM hv GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, 0 AS band_idx, md5(concat_ws('|', h0, h1)) AS band_hash FROM h
       |  UNION ALL SELECT doc_id, 1, md5(concat_ws('|', h2, h3)) FROM h
       |  UNION ALL SELECT doc_id, 2, md5(concat_ws('|', h4, h5)) FROM h
       |  UNION ALL SELECT doc_id, 3, md5(concat_ws('|', h6, h7)) FROM h),
       |ok_buckets AS (
       |  SELECT band_idx, band_hash FROM bands
       |  GROUP BY band_idx, band_hash HAVING count(*) BETWEEN 2 AND 1000),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a
       |  JOIN ok_buckets k ON a.band_idx = k.band_idx AND a.band_hash = k.band_hash
       |  JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id)""".stripMargin
  }

  /** Shared CTEs for the SimHash suite — mirrors [[Dedup.simhash]]
    * (60-bit md5-prefix token hashes, majority vote per bit).
    */
  private val simhashCtes: String = {
    val votes = (0 until Dedup.SimhashBits)
      .map(b => s"CAST(sum(CASE WHEN (hv >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS v$b")
      .mkString(",\n    ")
    val fp = (0 until Dedup.SimhashBits)
      .map(b => s"(CASE WHEN v$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)").mkString(" + ")
    s"""toks AS (
       |  SELECT doc_id,
       |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
       |                       x -> length(x) > 0)) AS tok
       |  FROM documents),
       |hh AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, ${Dedup.SimhashHexChars}) AS BIGINT) AS hv FROM toks),
       |vv AS (
       |  SELECT doc_id,
       |    $votes
       |  FROM hh GROUP BY doc_id),
       |sh16 AS (SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM vv)""".stripMargin
  }

  /** Banded-bucket candidate pairs over the SimHash fingerprints (CTE
    * `spairs(id_a, id_b, hamming)`); requires [[simhashCtes]] in scope.
    * Shared by the pair query and the SimHash clustering oracle.
    */
  private lazy val simhashPairsCtes: String =
    s"""banded AS (
       |${(0 until Dedup.SimhashBands).map(b =>
          s"  SELECT doc_id, simhash, $b AS band, (simhash >> ${b * Dedup.SimhashBandBits}) & ${(1L << Dedup.SimhashBandBits) - 1L} AS bv FROM sh16")
          .mkString("\n  UNION ALL\n")}),
       |ok AS (
       |  SELECT band, bv FROM banded
       |  GROUP BY band, bv HAVING count(*) BETWEEN 2 AND 1000),
       |spairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |  FROM banded a
       |  JOIN ok k ON a.band = k.band AND a.bv = k.bv
       |  JOIN banded b
       |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3)""".stripMargin

  /** SRP per-table bucket expression for DuckDB — the same literal
    * hyperplane weights the Spark plan embeds
    * ([[Similarity.srpWeights]]), so the bucketing replays bit-exactly.
    */
  private def srpTableBucketSql(t: Int): String = {
    val bits = (0 until Similarity.SrpBitsPerTable).map { k =>
      val wl = Similarity.srpWeights(t * Similarity.SrpBitsPerTable + k).mkString(", ")
      s"(CASE WHEN list_sum(list_transform(range(1, ${Similarity.SrpDim + 1}), " +
        s"i -> CAST(embedding[i] AS DOUBLE) * ([$wl]::DOUBLE[])[i])) >= 0 " +
        s"THEN ${1L << k} ELSE 0 END)"
    }.mkString("\n    + ")
    s"CAST($bits AS BIGINT)"
  }

  /** Shared quality-score CTEs — mirrors [[TextAnalysis.qualityScore]]'s
    * rounded `quality` column as `q(doc_id, quality)`.
    */
  /** Shared CTE chain ending in `fp(doc_id, rk_min, q0..q3)` — the
    * winnowed rolling-hash fingerprint, replayed with the same embedded
    * power/modulus literals as the Spark expression. Consumed by
    * `q_docs_rollhash` and `q_docs_winnow_pairs`.
    */
  private lazy val rollhashCtes: String = {
    val term = (0 until TextAnalysis.RkK).map { j =>
      s"CAST(CASE WHEN i + $j <= length(text) THEN ord(substr(text, CAST(i + $j AS INTEGER), 1)) ELSE 0 END AS BIGINT) " +
        s"* ${TextAnalysis.rkPowers(j)}"
    }.mkString("(", "\n         + ", s") % ${TextAnalysis.RkP}")
    val quarters = (0 until 4).map(m =>
      s"list_min(hs[CAST($m * qlen + 1 AS BIGINT):CAST(($m + 1) * qlen AS BIGINT)]) AS q$m")
      .mkString(",\n  ")
    s"""base AS (
       |  SELECT doc_id, text,
       |    greatest(length(text) - ${TextAnalysis.RkK - 1}, 1) AS npos
       |  FROM documents),
       |h AS (
       |  SELECT doc_id, npos,
       |    list_transform(range(1, npos + 1), i ->
       |      $term) AS hs
       |  FROM base),
       |wq AS (SELECT doc_id, npos, hs,
       |         greatest(CAST(ceil(npos / 4.0) AS BIGINT), 1) AS qlen FROM h),
       |fp AS (SELECT doc_id, list_min(hs) AS rk_min,
       |  $quarters
       |FROM wq)""".stripMargin
  }

  private lazy val qualityCtes: String = {
    val stop = stopScoreSql(Seq("the", "a", "and"))
    s"""qbase AS (
       |  SELECT doc_id, length(text) AS chars,
       |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS words,
       |    CAST(len(regexp_extract_all(text, '[\\.,;:!\\?]')) AS BIGINT) AS punct,
       |    ' ' || lower(text) || ' ' AS t
       |  FROM documents),
       |qm AS (
       |  SELECT doc_id, chars, words, punct, $stop AS stop,
       |    CASE WHEN words > 0 THEN CAST(chars AS DOUBLE) / words ELSE 0.0 END AS mwl
       |  FROM qbase),
       |q AS (
       |  SELECT doc_id,
       |    round(CASE WHEN chars < 50 THEN 0.0 ELSE least(1.0,
       |      0.4 * least(1.0, CAST(words AS DOUBLE) / 50.0) +
       |      0.3 * least(1.0, CAST(stop AS DOUBLE) * 10.0 / CAST(greatest(words, 1) AS DOUBLE)) +
       |      0.3 * (CASE WHEN mwl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END)) END, 4) AS quality
       |  FROM qm)""".stripMargin
  }

  /** Stopword-count scoring fragment for langId: (len delta)/wordlen over
    * the space-padded lowercase text, per [[TextAnalysis.langId]].
    */
  private def stopScoreSql(words: Seq[String]): String =
    words.map { w =>
      val padded = s" $w "
      s"CAST((length(t) - length(replace(t, '$padded', ''))) / ${padded.length} AS BIGINT)"
    }.mkString(" + ")

  /** For each key in [[queries]], equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. An entry without SQL here gets a weaker
    * rows-only check. Both `q_etl_*` entries have SQL, but it reads the
    * reference CSVs under [[etl.TradePipeline.referenceDir]], outside the
    * sf dir, as the queries themselves do, so their checks need those
    * files.
    */
  def oracleSql: Map[String, String] = Map(
    "q_scan_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |  round(l_extendedprice * (1.0 - l_discount), 4) AS net_price
        |FROM lineitem WHERE l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber, l_quantity, net_price""".stripMargin,
    // The DSv2 connector's oracle replays the 31-bit LCG chain (POSIX
    // rand() constants; every product < 2^62, exact in BIGINT) over a
    // plain range() scan — no table input at all.
    "q_synth_source" ->
      """WITH h AS (
        |  SELECT i, (1103515245*(42 + i) + 12345) % 2147483648 AS h1
        |  FROM range(50000) t(i)),
        |hh AS (
        |  SELECT i, h1, (1103515245*h1 + 12345) % 2147483648 AS h2 FROM h),
        |hhh AS (
        |  SELECT i, h1, h2, (1103515245*h2 + 12345) % 2147483648 AS h3 FROM hh),
        |synth AS (
        |  SELECT i AS id, h1 % 1000 AS user_id,
        |    CASE h1 % 4 WHEN 0 THEN 'view' WHEN 1 THEN 'click'
        |         WHEN 2 THEN 'purchase' ELSE 'signup' END AS kind,
        |    h2 % 100000 AS value_cents,
        |    1704067200 + h3 % 2592000 AS ts_sec
        |  FROM hhh)
        |SELECT kind, count(*) AS n, CAST(sum(value_cents) AS BIGINT) AS cents,
        |  min(user_id) AS u_min, max(ts_sec) AS t_max
        |FROM synth GROUP BY kind ORDER BY kind""".stripMargin,
    // Complete aggregate pushdown over the synthetic source: the scan
    // answers from interval arithmetic; DuckDB computes the same over a
    // lazy range() of only the filtered interval.
    "q_synth_agg_pushdown" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(min(i) AS BIGINT) AS id_min,
        |  CAST(max(i) AS BIGINT) AS id_max
        |FROM range(1000000000, 1000500000) t(i)""".stripMargin,
    // The layout round-trip: the rewritten sorted copy must contain
    // exactly the raw table's rows for the same selective range.
    "q_layout_scan" ->
      """SELECT doc_id, n_chars, source FROM documents
        |WHERE n_chars >= 480 AND n_chars < 600
        |ORDER BY doc_id""".stripMargin,
    // The z-ordered rewrite must round-trip exactly the raw table's rows
    // for the same two-dimensional rectangle.
    "q_layout_zorder" ->
      """SELECT doc_id, n_chars, source FROM documents
        |WHERE n_chars >= 480 AND n_chars < 600
        |  AND doc_id >= 0 AND doc_id < 100
        |ORDER BY doc_id""".stripMargin,
    // CDC replay: base = 3/4 of orders; U(+500 cents, seq 1) on base keys
    // ending 0/5; D(seq 2) on keys ≡ 5 (mod 20) — last-writer-wins over
    // the update; I for the held-out quarter. Exact integer cents.
    "q_cdc_apply" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus AS status,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |  FROM orders WHERE o_orderkey % 4 <> 3),
        |ch AS (
        |  SELECT o_orderkey, 'U' AS op, 1 AS seq, o_orderstatus AS status,
        |         CAST(round(o_totalprice * 100) AS BIGINT) + 500 AS price_c
        |  FROM orders
        |  WHERE o_orderkey % 4 <> 3
        |    AND (o_orderkey % 10 = 0 OR o_orderkey % 10 = 5)
        |  UNION ALL
        |  SELECT o_orderkey, 'D', 2, NULL, NULL FROM orders
        |  WHERE o_orderkey % 4 <> 3 AND o_orderkey % 20 = 5
        |  UNION ALL
        |  SELECT o_orderkey, 'I', 1, 'NEW',
        |         CAST(round(o_totalprice * 100) AS BIGINT)
        |  FROM orders WHERE o_orderkey % 4 = 3),
        |latest AS (
        |  SELECT o_orderkey, op, status, price_c FROM (
        |    SELECT ch.*,
        |      row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
        |    FROM ch) WHERE rn = 1)
        |SELECT COALESCE(l.o_orderkey, b.o_orderkey) AS o_orderkey,
        |  CASE WHEN l.o_orderkey IS NOT NULL THEN l.status ELSE b.status END
        |    AS status,
        |  CASE WHEN l.o_orderkey IS NOT NULL THEN l.price_c ELSE b.price_c END
        |    AS price_c,
        |  CASE WHEN l.o_orderkey IS NOT NULL THEN 'cdc' ELSE 'base' END AS src
        |FROM base b FULL JOIN latest l ON b.o_orderkey = l.o_orderkey
        |WHERE l.op IS NULL OR l.op <> 'D'
        |ORDER BY o_orderkey""".stripMargin,
    // The bucketed-base form must also produce the identical standing
    // table — same oracle again; the difference is the PLAN (base never
    // shuffles), pinned by PlanShapeSpec.
    "q_cdc_apply_bucketed" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus AS status,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |  FROM orders WHERE o_orderkey % 4 <> 3),
        |ch AS (
        |  SELECT o_orderkey, 'U' AS op, 1 AS seq, o_orderstatus AS status,
        |         CAST(round(o_totalprice * 100) AS BIGINT) + 500 AS price_c
        |  FROM orders
        |  WHERE o_orderkey % 4 <> 3
        |    AND (o_orderkey % 10 = 0 OR o_orderkey % 10 = 5)
        |  UNION ALL
        |  SELECT o_orderkey, 'D', 2, NULL, NULL FROM orders
        |  WHERE o_orderkey % 4 <> 3 AND o_orderkey % 20 = 5
        |  UNION ALL
        |  SELECT o_orderkey, 'I', 1, 'NEW',
        |         CAST(round(o_totalprice * 100) AS BIGINT)
        |  FROM orders WHERE o_orderkey % 4 = 3),
        |latest AS (
        |  SELECT o_orderkey, op, status, price_c FROM (
        |    SELECT ch.*,
        |      row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
        |    FROM ch) WHERE rn = 1)
        |SELECT COALESCE(l.o_orderkey, b.o_orderkey) AS o_orderkey,
        |  CASE WHEN l.o_orderkey IS NOT NULL THEN l.status ELSE b.status END
        |    AS status,
        |  CASE WHEN l.o_orderkey IS NOT NULL THEN l.price_c ELSE b.price_c END
        |    AS price_c,
        |  CASE WHEN l.o_orderkey IS NOT NULL THEN 'cdc' ELSE 'base' END AS src
        |FROM base b FULL JOIN latest l ON b.o_orderkey = l.o_orderkey
        |WHERE l.op IS NULL OR l.op <> 'D'
        |ORDER BY o_orderkey""".stripMargin,
    // The broadcast form must produce the identical standing table — the
    // oracle is byte-for-byte the merge form's.
    "q_cdc_apply_bc" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus AS status,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |  FROM orders WHERE o_orderkey % 4 <> 3),
        |ch AS (
        |  SELECT o_orderkey, 'U' AS op, 1 AS seq, o_orderstatus AS status,
        |         CAST(round(o_totalprice * 100) AS BIGINT) + 500 AS price_c
        |  FROM orders
        |  WHERE o_orderkey % 4 <> 3
        |    AND (o_orderkey % 10 = 0 OR o_orderkey % 10 = 5)
        |  UNION ALL
        |  SELECT o_orderkey, 'D', 2, NULL, NULL FROM orders
        |  WHERE o_orderkey % 4 <> 3 AND o_orderkey % 20 = 5
        |  UNION ALL
        |  SELECT o_orderkey, 'I', 1, 'NEW',
        |         CAST(round(o_totalprice * 100) AS BIGINT)
        |  FROM orders WHERE o_orderkey % 4 = 3),
        |latest AS (
        |  SELECT o_orderkey, op, status, price_c FROM (
        |    SELECT ch.*,
        |      row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
        |    FROM ch) WHERE rn = 1)
        |SELECT COALESCE(l.o_orderkey, b.o_orderkey) AS o_orderkey,
        |  CASE WHEN l.o_orderkey IS NOT NULL THEN l.status ELSE b.status END
        |    AS status,
        |  CASE WHEN l.o_orderkey IS NOT NULL THEN l.price_c ELSE b.price_c END
        |    AS price_c,
        |  CASE WHEN l.o_orderkey IS NOT NULL THEN 'cdc' ELSE 'base' END AS src
        |FROM base b FULL JOIN latest l ON b.o_orderkey = l.o_orderkey
        |WHERE l.op IS NULL OR l.op <> 'D'
        |ORDER BY o_orderkey""".stripMargin,
    // Change data feed between the base snapshot and the CDC-applied one:
    // the diff must reconstruct exactly the batch's inserts/updates/deletes.
    "q_cdc_feed" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus AS status,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |  FROM orders WHERE o_orderkey % 4 <> 3),
        |ch AS (
        |  SELECT o_orderkey, 'U' AS op, 1 AS seq, o_orderstatus AS status,
        |         CAST(round(o_totalprice * 100) AS BIGINT) + 500 AS price_c
        |  FROM orders
        |  WHERE o_orderkey % 4 <> 3
        |    AND (o_orderkey % 10 = 0 OR o_orderkey % 10 = 5)
        |  UNION ALL
        |  SELECT o_orderkey, 'D', 2, NULL, NULL FROM orders
        |  WHERE o_orderkey % 4 <> 3 AND o_orderkey % 20 = 5
        |  UNION ALL
        |  SELECT o_orderkey, 'I', 1, 'NEW',
        |         CAST(round(o_totalprice * 100) AS BIGINT)
        |  FROM orders WHERE o_orderkey % 4 = 3),
        |latest AS (
        |  SELECT o_orderkey, op, status, price_c FROM (
        |    SELECT ch.*,
        |      row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
        |    FROM ch) WHERE rn = 1),
        |applied AS (
        |  SELECT COALESCE(l.o_orderkey, b.o_orderkey) AS o_orderkey,
        |    CASE WHEN l.o_orderkey IS NOT NULL THEN l.status ELSE b.status END
        |      AS status,
        |    CASE WHEN l.o_orderkey IS NOT NULL THEN l.price_c ELSE b.price_c END
        |      AS price_c
        |  FROM base b FULL JOIN latest l ON b.o_orderkey = l.o_orderkey
        |  WHERE l.op IS NULL OR l.op <> 'D')
        |SELECT o_orderkey, change_type, old_status, new_status,
        |       old_price_c, new_price_c
        |FROM (
        |  SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
        |    CASE WHEN o.o_orderkey IS NULL THEN 'insert'
        |         WHEN n.o_orderkey IS NULL THEN 'delete'
        |         WHEN o.status IS DISTINCT FROM n.status
        |           OR o.price_c IS DISTINCT FROM n.price_c THEN 'update'
        |    END AS change_type,
        |    o.status AS old_status, n.status AS new_status,
        |    o.price_c AS old_price_c, n.price_c AS new_price_c
        |  FROM base o FULL JOIN applied n ON o.o_orderkey = n.o_orderkey)
        |WHERE change_type IS NOT NULL
        |ORDER BY o_orderkey""".stripMargin,
    // The merge contract, not a replay: Spark maintains the aggregate as
    // state(first half) ⊕ delta(second half); the oracle is the ONE-SHOT
    // aggregate over everything. Hash equality proves associativity.
    "q_incr_agg_merge" ->
      """SELECT o_custkey,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS total_c
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    // Mergeable-sketch distinct state: the exact count is replayed, the
    // estimate columns are CONTRACT booleans (within 2% of exact) — an
    // estimator drift would flip them and redden the hash.
    "q_agg_sketch_merge" ->
      """SELECT o_orderstatus AS status,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact,
        |  true AS merged_ok, true AS direct_ok
        |FROM orders GROUP BY o_orderstatus ORDER BY status""".stripMargin,
    // Incremental view maintenance through the CDF: the oracle is the
    // one-shot per-status aggregate over the APPLIED snapshot — hash
    // equality proves (state ⊕ signed CDF deltas) == agg(new snapshot).
    "q_incr_view_refresh" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus AS status,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |  FROM orders WHERE o_orderkey % 4 <> 3),
        |ch AS (
        |  SELECT o_orderkey, 'U' AS op, 1 AS seq, o_orderstatus AS status,
        |         CAST(round(o_totalprice * 100) AS BIGINT) + 500 AS price_c
        |  FROM orders
        |  WHERE o_orderkey % 4 <> 3
        |    AND (o_orderkey % 10 = 0 OR o_orderkey % 10 = 5)
        |  UNION ALL
        |  SELECT o_orderkey, 'D', 2, NULL, NULL FROM orders
        |  WHERE o_orderkey % 4 <> 3 AND o_orderkey % 20 = 5
        |  UNION ALL
        |  SELECT o_orderkey, 'I', 1, 'NEW',
        |         CAST(round(o_totalprice * 100) AS BIGINT)
        |  FROM orders WHERE o_orderkey % 4 = 3),
        |latest AS (
        |  SELECT o_orderkey, op, status, price_c FROM (
        |    SELECT ch.*,
        |      row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
        |    FROM ch) WHERE rn = 1),
        |applied AS (
        |  SELECT COALESCE(l.o_orderkey, b.o_orderkey) AS o_orderkey,
        |    CASE WHEN l.o_orderkey IS NOT NULL THEN l.status ELSE b.status END
        |      AS status,
        |    CASE WHEN l.o_orderkey IS NOT NULL THEN l.price_c ELSE b.price_c END
        |      AS price_c
        |  FROM base b FULL JOIN latest l ON b.o_orderkey = l.o_orderkey
        |  WHERE l.op IS NULL OR l.op <> 'D')
        |SELECT status, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price_c) AS BIGINT) AS total_c
        |FROM applied GROUP BY status ORDER BY status""".stripMargin,
    // Size-descending sequential packing of the file inventory into
    // 64 kB bins: bin = floor(exclusive-prefix-sum / target).
    "q_table_compaction" ->
      """WITH f AS (
        |  SELECT doc_id, n_chars,
        |    COALESCE(sum(n_chars) OVER (ORDER BY n_chars DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS g_prefix
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, n_chars,
        |    CAST(floor(g_prefix / 64000.0) AS BIGINT) AS bin_id
        |  FROM f)
        |SELECT bin_id, count(*) AS n_files,
        |  CAST(sum(n_chars) AS BIGINT) AS total_size,
        |  min(doc_id) AS first_id, max(doc_id) AS last_id
        |FROM b GROUP BY bin_id ORDER BY bin_id""".stripMargin,
    // Time travel: v1 = base snapshot, v2 = append of the held-out
    // inserts (v2 is exactly every order), v3 = overwrite with the
    // CDC-applied state. All three snapshots replayed after v3 exists.
    "q_table_timetravel" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus AS status,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |  FROM orders WHERE o_orderkey % 4 <> 3),
        |ch AS (
        |  SELECT o_orderkey, 'U' AS op, 1 AS seq, o_orderstatus AS status,
        |         CAST(round(o_totalprice * 100) AS BIGINT) + 500 AS price_c
        |  FROM orders
        |  WHERE o_orderkey % 4 <> 3
        |    AND (o_orderkey % 10 = 0 OR o_orderkey % 10 = 5)
        |  UNION ALL
        |  SELECT o_orderkey, 'D', 2, NULL, NULL FROM orders
        |  WHERE o_orderkey % 4 <> 3 AND o_orderkey % 20 = 5
        |  UNION ALL
        |  SELECT o_orderkey, 'I', 1, 'NEW',
        |         CAST(round(o_totalprice * 100) AS BIGINT)
        |  FROM orders WHERE o_orderkey % 4 = 3),
        |latest AS (
        |  SELECT o_orderkey, op, status, price_c FROM (
        |    SELECT ch.*,
        |      row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
        |    FROM ch) WHERE rn = 1),
        |applied AS (
        |  SELECT COALESCE(l.o_orderkey, b.o_orderkey) AS o_orderkey,
        |    CASE WHEN l.o_orderkey IS NOT NULL THEN l.price_c ELSE b.price_c END
        |      AS price_c
        |  FROM base b FULL JOIN latest l ON b.o_orderkey = l.o_orderkey
        |  WHERE l.op IS NULL OR l.op <> 'D')
        |SELECT CAST(1 AS BIGINT) AS version,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price_c) AS BIGINT) AS total_c FROM base
        |UNION ALL
        |SELECT 2, count(*),
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |FROM orders
        |UNION ALL
        |SELECT 3, count(*), CAST(sum(price_c) AS BIGINT) FROM applied
        |ORDER BY version""".stripMargin,
    // Incremental consumption of the MOR table over its additive range
    // (1, 3]: v3's appended re-inserts plus v2's tombstoned keys, each
    // stamped with its commit version.
    "q_table_changes" ->
      """WITH del AS (
        |  SELECT o_orderkey FROM orders
        |  WHERE o_orderkey % 4 <> 3 AND o_orderkey % 20 = 5),
        |re AS (
        |  SELECT o_orderkey,
        |         CAST(round(o_totalprice * 100) AS BIGINT) + 1000 AS price_c
        |  FROM orders WHERE o_orderkey % 4 <> 3 AND o_orderkey % 40 = 5)
        |SELECT o_orderkey, 'insert' AS change_type, price_c,
        |       CAST(3 AS BIGINT) AS version
        |FROM re
        |UNION ALL
        |SELECT o_orderkey, 'delete', NULL, 2 FROM del
        |ORDER BY o_orderkey, version""".stripMargin,
    // The SQL table_changes() TVF over the same MOR fixture: identical
    // oracle to the programmatic q_table_changes — the SQL front door
    // emits exactly the programmatic change feed.
    "q_sql_table_changes" ->
      """WITH del AS (
        |  SELECT o_orderkey FROM orders
        |  WHERE o_orderkey % 4 <> 3 AND o_orderkey % 20 = 5),
        |re AS (
        |  SELECT o_orderkey,
        |         CAST(round(o_totalprice * 100) AS BIGINT) + 1000 AS price_c
        |  FROM orders WHERE o_orderkey % 4 <> 3 AND o_orderkey % 40 = 5)
        |SELECT o_orderkey, 'insert' AS change_type, price_c,
        |       CAST(3 AS BIGINT) AS version
        |FROM re
        |UNION ALL
        |SELECT o_orderkey, 'delete', NULL, 2 FROM del
        |ORDER BY o_orderkey, version""".stripMargin,
    // Zone-map pruned range read: the versioned table commits orders
    // range-clustered with per-file key min/max in the manifest, and the
    // read prunes files by those stats before scanning. The oracle is
    // the plain range filter — equality proves pruning loses nothing.
    "q_table_pruned" ->
      """SELECT o_orderkey, o_orderstatus AS status,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |FROM orders WHERE o_orderkey BETWEEN 10000 AND 20000
        |ORDER BY o_orderkey""".stripMargin,
    // SQL-catalog time travel: VERSION AS OF through the gtab catalog
    // must replay exactly what the programmatic snapshot reads replay —
    // same oracle as q_table_timetravel.
    "q_sql_timetravel" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus AS status,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |  FROM orders WHERE o_orderkey % 4 <> 3),
        |ch AS (
        |  SELECT o_orderkey, 'U' AS op, 1 AS seq, o_orderstatus AS status,
        |         CAST(round(o_totalprice * 100) AS BIGINT) + 500 AS price_c
        |  FROM orders
        |  WHERE o_orderkey % 4 <> 3
        |    AND (o_orderkey % 10 = 0 OR o_orderkey % 10 = 5)
        |  UNION ALL
        |  SELECT o_orderkey, 'D', 2, NULL, NULL FROM orders
        |  WHERE o_orderkey % 4 <> 3 AND o_orderkey % 20 = 5
        |  UNION ALL
        |  SELECT o_orderkey, 'I', 1, 'NEW',
        |         CAST(round(o_totalprice * 100) AS BIGINT)
        |  FROM orders WHERE o_orderkey % 4 = 3),
        |latest AS (
        |  SELECT o_orderkey, op, status, price_c FROM (
        |    SELECT ch.*,
        |      row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
        |    FROM ch) WHERE rn = 1),
        |applied AS (
        |  SELECT COALESCE(l.o_orderkey, b.o_orderkey) AS o_orderkey,
        |    CASE WHEN l.o_orderkey IS NOT NULL THEN l.price_c ELSE b.price_c END
        |      AS price_c
        |  FROM base b FULL JOIN latest l ON b.o_orderkey = l.o_orderkey
        |  WHERE l.op IS NULL OR l.op <> 'D')
        |SELECT CAST(1 AS BIGINT) AS version,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price_c) AS BIGINT) AS total_c FROM base
        |UNION ALL
        |SELECT 2, count(*),
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |FROM orders
        |UNION ALL
        |SELECT 3, count(*), CAST(sum(price_c) AS BIGINT) FROM applied
        |ORDER BY version""".stripMargin,
    // SQL INSERT INTO ... SELECT through the catalog: base plus the
    // inserted held-out quarter (status NEW), read back through the
    // catalog reader — write path and read path verified together.
    "q_sql_insert" ->
      """SELECT o_orderkey, o_orderstatus AS status,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |FROM orders WHERE o_orderkey % 4 <> 3
        |UNION ALL
        |SELECT o_orderkey, 'NEW',
        |       CAST(round(o_totalprice * 100) AS BIGINT)
        |FROM orders WHERE o_orderkey % 4 = 3
        |ORDER BY o_orderkey""".stripMargin,
    // Storage-partitioned join: co-bucketed versioned tables equi-join
    // with no exchange; the oracle is the plain join — hash equality
    // proves bucketing changed the plan, never the content.
    "q_sql_spj" ->
      """SELECT o.o_orderkey, o.o_custkey AS custkey,
        |       CAST(round(o.o_totalprice * 100) AS BIGINT) AS price_c,
        |       c.c_name
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY o.o_orderkey""".stripMargin,
    // The same storage-partitioned join declared and loaded ENTIRELY
    // through SQL (CREATE TABLE PARTITIONED BY (bucket(16, custkey)) +
    // INSERT INTO ... SELECT through the bucket-routing DSv2 writer) —
    // the oracle is the plain join, so hash equality proves the SQL
    // write path placed every row in its correct bucket subtree.
    "q_sql_bucketed" ->
      """SELECT o.o_orderkey, o.o_custkey AS custkey,
        |       CAST(round(o.o_totalprice * 100) AS BIGINT) AS price_c,
        |       c.c_name
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY o.o_orderkey""".stripMargin,
    // Runtime (DPP-style) file pruning: the fact scan re-plans at
    // execution to only the files whose zone maps hold the selective
    // dim's keys; the oracle replays the join + filter, so hash
    // equality proves pruning skipped work without skipping rows.
    "q_sql_dpp" ->
      """SELECT o.o_orderkey, o.o_custkey AS custkey,
        |       CAST(round(o.o_totalprice * 100) AS BIGINT) AS price_c,
        |       c.c_name
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_nationkey = 7 AND c.c_custkey % 50 = 1
        |ORDER BY o.o_orderkey""".stripMargin,
    // Partial TopN pushdown: the scan plans only the files that can
    // hold the top 100 of a DESC order over range-clustered data;
    // the oracle replays the same TopN over raw orders.
    "q_sql_topn" ->
      """SELECT o_orderkey, o_orderstatus AS status,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |FROM orders ORDER BY o_orderkey DESC LIMIT 100""".stripMargin,
    // Row-level SQL DML (UPDATE → DELETE → MERGE INTO) on a bucketed
    // table, each a bucket-preserving replace commit; the oracle
    // replays the same pipeline as plain SQL, so hash equality proves
    // rewritten, carried, and merge-inserted rows all read back exactly.
    "q_sql_bucketed_dml" ->
      """WITH base AS (
        |  SELECT o_custkey AS custkey, o_orderkey,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |  FROM orders),
        |upd AS (
        |  SELECT custkey, o_orderkey,
        |         CASE WHEN o_orderkey % 10 = 0 THEN price_c + 1 ELSE price_c END AS price_c
        |  FROM base),
        |del AS (SELECT * FROM upd WHERE o_orderkey % 7 <> 3),
        |mrg AS (
        |  SELECT custkey, o_orderkey,
        |         CASE WHEN o_orderkey % 10 = 1 THEN CAST(0 AS BIGINT) ELSE price_c END AS price_c
        |  FROM del
        |  UNION ALL
        |  SELECT o_custkey AS custkey, o_orderkey + 10000000 AS o_orderkey,
        |         CAST(1 AS BIGINT) AS price_c
        |  FROM orders WHERE o_orderkey % 20 = 5)
        |SELECT m.o_orderkey, m.custkey, m.price_c, c.c_name
        |FROM mrg m JOIN customer c ON m.custkey = c.c_custkey
        |ORDER BY m.o_orderkey""".stripMargin,
    // Ungrouped COUNT/MIN/MAX pushed to manifest arithmetic (footer
    // counts + zone maps; tombstone-free snapshot) — the plan opens no
    // data file; the oracle recomputes from raw orders.
    "q_sql_fastcount" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(min(o_orderkey) AS BIGINT) AS min_key,
        |       CAST(max(o_orderkey) AS BIGINT) AS max_key,
        |       CAST(min(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS min_price_c,
        |       CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS max_price_c
        |FROM orders""".stripMargin,
    // Clustered-on-write (graft.cluster-by): the SQL INSERT range-
    // partitions + sorts before writing; the pruned range read replays
    // as the plain filter — layout changes, content never.
    "q_sql_clustered" ->
      """SELECT o_orderkey, o_orderstatus AS status,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |FROM orders WHERE o_orderkey BETWEEN 5000 AND 8000
        |ORDER BY o_orderkey""".stripMargin,
    // Identity partitioning (PARTITIONED BY (col)) delivered as
    // clustered-on-write + zone maps: the partition-predicate read
    // replays as the plain filter.
    "q_sql_partitioned" ->
      """SELECT o_orderkey, o_orderstatus AS status,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |FROM orders WHERE o_orderkey BETWEEN 12000 AND 15000
        |ORDER BY o_orderkey""".stripMargin,
    // Date identity partitioning: epoch-day zone maps prune the month
    // window; dates render as strings for representation-stable hashes.
    "q_sql_partitioned_date" ->
      """SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS odate_s,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders
        |WHERE CAST(o_orderdate AS DATE) >= DATE'1995-03-01'
        |  AND CAST(o_orderdate AS DATE) < DATE'1995-04-01'
        |GROUP BY 1 ORDER BY odate_s""".stripMargin,
    // Temporal partition transform days(ts): epoch-micros zones prune
    // the month window; output compares in integral epoch seconds.
    // Timestamps derive from o_orderdate + key-spread seconds in BOTH
    // engines, so the hash is engine-neutral.
    "q_sql_partitioned_ts" ->
      """WITH t AS (
        |  SELECT CAST(epoch(o_orderdate) AS BIGINT) + o_orderkey % 86400 AS es,
        |         o_orderkey
        |  FROM orders)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |       min(es) AS min_s, max(es) AS max_s
        |FROM t WHERE es >= 794016000 AND es < 796694400""".stripMargin,
    // PARTITION-TRANSFORM EVOLUTION: generation 1 days(ts)-clustered,
    // generation 2 (post CALL set_partitioning) hours(ts)-clustered,
    // nothing rewritten; one window reads both generations, split by
    // the parity that routed each generation's rows.
    "q_sql_part_evolve" ->
      """WITH t AS (
        |  SELECT CAST(epoch(o_orderdate) AS BIGINT) + o_orderkey % 86400 AS es,
        |         o_orderkey
        |  FROM orders)
        |SELECT o_orderkey % 2 AS gen, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |       min(es) AS min_s, max(es) AS max_s
        |FROM t WHERE es >= 794016000 AND es < 796694400
        |GROUP BY o_orderkey % 2 ORDER BY gen""".stripMargin,
    // truncate(1, string) partition transform: prefix pruning via the
    // byte-prefix zones; oracle replays the plain LIKE.
    "q_sql_partitioned_trunc" ->
      """SELECT o_orderpriority AS prio, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders WHERE o_orderpriority LIKE '3%'
        |GROUP BY 1 ORDER BY prio""".stripMargin,
    // Write-side parquet bloom filters (graft.bloom-cols) + static IN
    // key sets as Eq/In row-group leaves: the point lookups on the
    // unclustered key replay as the plain IN filter.
    "q_sql_bloom" ->
      """SELECT o_orderkey, o_orderstatus AS status,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |FROM orders WHERE o_orderkey IN (7, 1223, 28673, 54369)
        |ORDER BY o_orderkey""".stripMargin,
    // TYPE-WIDENING evolution: INT32 files + post-widen INT64 files read
    // as one BIGINT column; the oracle reconstructs the union raw.
    "q_sql_widen" ->
      """SELECT o_orderkey, o_orderstatus AS status,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |FROM orders WHERE o_orderkey % 3 = 0
        |UNION ALL
        |SELECT o_orderkey + 10000000000, o_orderstatus,
        |       CAST(round(o_totalprice * 100) AS BIGINT)
        |FROM orders WHERE o_orderkey % 3 = 1
        |ORDER BY o_orderkey""".stripMargin,
    // DECIMAL widening: DECIMAL(9,2) INT32-backed files + post-widen
    // DECIMAL(18,2) INT64-backed files read as one wide column.
    "q_sql_widen_dec" ->
      """SELECT o_orderkey, CAST(o_orderkey + 0.25 AS DECIMAL(18, 2)) AS amount
        |FROM orders WHERE o_orderkey % 3 = 0
        |UNION ALL
        |SELECT o_orderkey, CAST(o_orderkey + 10000000000.25 AS DECIMAL(18, 2))
        |FROM orders WHERE o_orderkey % 3 = 1
        |ORDER BY o_orderkey""".stripMargin,
    // DOUBLE zone pruning via IEEE sortable-bits zones: amounts derive
    // exactly from the key (k + 0.25 is representable), the engine
    // prunes files by bits-space bounds (strict bound = exact nextUp),
    // the oracle replays the plain filter.
    "q_sql_dbl_prune" ->
      """SELECT o_orderkey, o_orderkey + 0.25 AS amount
        |FROM orders
        |WHERE o_orderkey + 0.25 > 12000.0 AND o_orderkey + 0.25 <= 15000.25
        |ORDER BY o_orderkey""".stripMargin,
    // DECIMAL zone pruning: amounts derive exactly from the key, the
    // engine prunes files by unscaled zones, the oracle replays plain.
    "q_sql_dec_prune" ->
      """SELECT o_orderkey, CAST(o_orderkey + 0.25 AS DECIMAL(9, 2)) AS amount
        |FROM orders
        |WHERE o_orderkey + 0.25 BETWEEN 12000.25 AND 15000.25
        |ORDER BY o_orderkey""".stripMargin,
    // TIMESTAMP MIN/MAX from manifest arithmetic (exact epoch-micro
    // zones = Spark's internal value): the oracle recomputes from raw
    // orders in engine-neutral epoch seconds.
    "q_sql_fastminmax_ts" ->
      """WITH t AS (
        |  SELECT CAST(epoch(o_orderdate) AS BIGINT) + o_orderkey % 86400 AS es
        |  FROM orders)
        |SELECT min(es) AS min_s, max(es) AS max_s,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM t""".stripMargin,
    // DOUBLE MIN/MAX from the sortable-bits zone edges (exact bijection).
    "q_sql_fastminmax_dbl" ->
      """SELECT min(o_orderkey + 0.25) AS min_a,
        |       max(o_orderkey + 0.25) AS max_a,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM orders""".stripMargin,
    // DECIMAL MIN/MAX from the unscaled zone maps, scale reconstructed.
    "q_sql_fastminmax_dec" ->
      """SELECT CAST(min(CAST(o_orderkey + 0.25 AS DECIMAL(9, 2))) AS VARCHAR) AS min_a,
        |       CAST(max(CAST(o_orderkey + 0.25 AS DECIMAL(9, 2))) AS VARCHAR) AS max_a,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM orders""".stripMargin,
    // DATE MIN/MAX from manifest arithmetic (exact epoch-day zones): the
    // oracle recomputes from raw orders.
    "q_sql_fastminmax_date" ->
      """SELECT CAST(min(CAST(o_orderdate AS DATE)) AS VARCHAR) AS min_d,
        |       CAST(max(CAST(o_orderdate AS DATE)) AS VARCHAR) AS max_d,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM orders""".stripMargin,
    // String Z-ORDER (7-byte-prefix u56 surrogate interleaved with the
    // integral dimension): the 2-D predicate replays as the plain filter.
    "q_layout_zorder_str" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE lang = 'es' AND n_chars BETWEEN 400 AND 900
        |ORDER BY doc_id""".stripMargin,
    // $stats metadata table: the exactly-reconstructible fields (null
    // count, integral min/max) replayed from raw orders; string rows
    // carry NULLs there (their NDV/length stats are estimates, pinned
    // by GraftCatalogSpec instead).
    "q_sql_stats" ->
      """SELECT * FROM (
        |  SELECT 'o_orderkey' AS col_name,
        |         CAST(count(*) - count(o_orderkey) AS BIGINT) AS null_count,
        |         CAST(min(o_orderkey) AS BIGINT) AS min_long,
        |         CAST(max(o_orderkey) AS BIGINT) AS max_long
        |  FROM orders
        |  UNION ALL
        |  SELECT 'price_c',
        |         CAST(count(*) - count(o_totalprice) AS BIGINT),
        |         min(CAST(round(o_totalprice * 100) AS BIGINT)),
        |         max(CAST(round(o_totalprice * 100) AS BIGINT))
        |  FROM orders
        |  UNION ALL
        |  SELECT 'status', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |         CAST(NULL AS BIGINT)
        |) ORDER BY col_name""".stripMargin,
    // STRING MIN/MAX from manifest arithmetic: exact (unstarred) string
    // zone sides answer the ungrouped extremes; DuckDB's varchar min/max
    // compares in the same bytewise order the zones record.
    "q_sql_fastminmax_str" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       min(o_orderstatus) AS min_status,
        |       max(o_orderstatus) AS max_status,
        |       min(o_orderpriority) AS min_prio,
        |       max(o_orderpriority) AS max_prio
        |FROM orders""".stripMargin,
    // SQL DDL end-to-end: CREATE TABLE AS SELECT, ALTER TABLE ADD
    // COLUMN, then INSERT through the widened schema — pre-evolution
    // rows null-fill the added column, post-evolution rows carry it.
    "q_sql_ctas" ->
      """SELECT o_orderkey, o_orderstatus AS status,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
        |       CAST(NULL AS BIGINT) AS tier
        |FROM orders WHERE o_orderkey % 4 = 1
        |UNION ALL
        |SELECT o_orderkey, 'EVO',
        |       CAST(round(o_totalprice * 100) AS BIGINT),
        |       CAST(1 AS BIGINT)
        |FROM orders WHERE o_orderkey % 4 = 2
        |ORDER BY o_orderkey""".stripMargin,
    // CALL system.restore: rollback of a bad DELETE as a metadata-only
    // commit. Phase 0 replays the restored head (base ∪ inserted
    // quarter — the DELETE undone); phase 1 replays the rolled-back
    // incident state via time travel (the same set minus the deleted
    // tenth), proving the rollback kept the incident auditable.
    "q_sql_restore" ->
      """WITH full_state AS (
        |  SELECT o_orderkey, o_orderstatus AS status,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |  FROM orders WHERE o_orderkey % 4 <> 3
        |  UNION ALL
        |  SELECT o_orderkey, 'NEW',
        |         CAST(round(o_totalprice * 100) AS BIGINT)
        |  FROM orders WHERE o_orderkey % 4 = 3)
        |SELECT CAST(0 AS BIGINT) AS phase, o_orderkey, status, price_c
        |FROM full_state
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), o_orderkey, status, price_c
        |FROM full_state WHERE o_orderkey % 10 <> 1
        |ORDER BY phase, o_orderkey""".stripMargin,
    // Metadata-only RENAME/DROP COLUMN: the oracle replays the same
    // lifecycle with the rename as a projection — base minus the dropped
    // column, plus the inserted quarter, minus the deleted tenth, read
    // through the renamed key with a pushed range filter.
    "q_sql_rename" ->
      """SELECT o_orderkey AS order_id, status, price_c FROM (
        |  SELECT o_orderkey, o_orderstatus AS status,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |  FROM orders WHERE o_orderkey % 4 <> 3
        |  UNION ALL
        |  SELECT o_orderkey, 'NEW', CAST(round(o_totalprice * 100) AS BIGINT)
        |  FROM orders WHERE o_orderkey % 4 = 3)
        |WHERE o_orderkey % 10 <> 1 AND o_orderkey > 100
        |ORDER BY order_id""".stripMargin,
    // Zero-decode clone: side 0 is the source after its post-fork
    // overwrite; side 1 is the clone (forked at the pre-delete v2, so
    // the source's delete never leaked in) plus its own FORK append.
    // Hash equality proves isolation in both directions.
    "q_table_clone" ->
      """SELECT CAST(0 AS BIGINT) AS side, o_orderkey, 'OW' AS status,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |FROM orders WHERE o_orderkey % 100 = 0
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), o_orderkey, s, p FROM (
        |  SELECT o_orderkey, o_orderstatus AS s,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS p
        |  FROM orders WHERE o_orderkey % 4 <> 3
        |  UNION ALL
        |  SELECT o_orderkey, 'NEW', CAST(round(o_totalprice * 100) AS BIGINT)
        |  FROM orders WHERE o_orderkey % 4 = 3
        |  UNION ALL
        |  SELECT o_orderkey, 'FORK', CAST(round(o_totalprice * 100) AS BIGINT)
        |  FROM orders WHERE o_orderkey % 10 = 1)
        |ORDER BY side, o_orderkey, status""".stripMargin,
    // Maintenance advisor over the $files metadata table: per-commit
    // debt metrics + table-level recommendation. The oracle predicts
    // the layout from the fixture's construction: commit 1 = 4 files
    // (explicit repartition(4)) of the even-key half (never <1000 rows
    // per file at sf0.01's ~1875/file), commits 2-3 = 1 small file each
    // (~150 rows), and the merge-on-read delete's tombstone (bound 3)
    // applies to every data file. Only file COUNTS and the <1000-row
    // classification appear — never per-file row counts, which Spark's
    // round-robin split does not pin exactly.
    "q_maint_advisor" ->
      """WITH per AS (
        |  SELECT 1 AS commit_version, 4 AS n_files,
        |    (SELECT count(*) FROM orders WHERE o_orderkey % 2 = 0) AS n_rows,
        |    0 AS n_small_files, 4 AS n_tombstoned_files
        |  UNION ALL
        |  SELECT 2, 1,
        |    (SELECT count(*) FROM orders WHERE o_orderkey % 100 = 1), 1, 1
        |  UNION ALL
        |  SELECT 3, 1,
        |    (SELECT count(*) FROM orders WHERE o_orderkey % 100 = 3), 1, 1)
        |SELECT CAST(commit_version AS BIGINT) AS commit_version,
        |  CAST(n_files AS BIGINT) AS n_files,
        |  CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(n_small_files AS BIGINT) AS n_small_files,
        |  CAST(n_tombstoned_files AS BIGINT) AS n_tombstoned_files,
        |  'compact: tombstone debt' AS recommendation
        |FROM per ORDER BY commit_version""".stripMargin,
    // CALL system.auto_maintain over the advisor's degraded fixture:
    // the compaction applies tombstones and consolidates; the oracle is
    // the table's logical content — maintenance changed layout only.
    "q_maint_auto" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus AS status,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |  FROM orders
        |  WHERE o_orderkey % 2 = 0 OR o_orderkey % 100 IN (1, 3))
        |SELECT o_orderkey, status, price_c FROM base
        |WHERE o_orderkey % 1000 <> 2
        |ORDER BY o_orderkey""".stripMargin,
    // SQL DELETE FROM through the catalog (copy-on-write replace
    // commit): the oracle keeps the complement of the deleted range, so
    // hash equality proves carried + rewritten files read back exactly.
    "q_sql_delete" ->
      """SELECT o_orderkey, o_orderstatus AS status,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |FROM orders WHERE NOT (o_orderkey BETWEEN 5000 AND 8000)
        |ORDER BY o_orderkey""".stripMargin,
    // SQL UPDATE through the catalog (group-based row-level op → replace
    // commit; zone-map bounds keep out-of-range files carried): oracle
    // applies the same conditional increment in SQL.
    "q_sql_update" ->
      """SELECT o_orderkey, o_orderstatus AS status,
        |       CAST(round(o_totalprice * 100) AS BIGINT) +
        |         CASE WHEN o_orderkey BETWEEN 5000 AND 8000 THEN 5 ELSE 0 END
        |         AS price_c
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    // SQL MERGE INTO through the catalog: base keys ≢3 (mod 4), updates
    // on ≡0 (mod 10), inserts of the held-out quarter — the oracle
    // reconstructs the merged state from raw orders.
    "q_sql_merge" ->
      """SELECT o_orderkey,
        |       CASE WHEN o_orderkey % 10 = 0 OR o_orderkey % 4 = 3
        |            THEN 'MRG' ELSE o_orderstatus END AS status,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    // SQL-catalog pruned range read: planning-time zone-map skipping
    // through the SQL front door; oracle is the plain range filter.
    "q_sql_pruned" ->
      """SELECT o_orderkey, o_orderstatus AS status,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |FROM orders WHERE o_orderkey BETWEEN 5000 AND 8000
        |ORDER BY o_orderkey""".stripMargin,
    // SQL-catalog STRING-pruned read: byte-prefix string zone maps skip
    // files for range + LIKE-prefix predicates; the oracle replays the
    // same string predicates plain (DuckDB varchar comparison is the
    // same bytewise order the zones were recorded in).
    "q_sql_pruned_str" ->
      """SELECT okey_s, status, price_c FROM (
        |  SELECT lpad(CAST(o_orderkey AS VARCHAR), 10, '0') AS okey_s,
        |         o_orderstatus AS status,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |  FROM orders)
        |WHERE okey_s >= '0000005000' AND okey_s <= '0000008000'
        |  AND okey_s LIKE '0000007%'
        |ORDER BY okey_s""".stripMargin,
    // CHECK constraints: the poisoned append (negated prices on keys
    // ≡ 3 mod 8) was rejected atomically, the cleaned retry landed — the
    // final state is base plus only the clean half of the insert batch.
    "q_table_constraints" ->
      """SELECT o_orderkey, o_orderstatus AS status,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |FROM orders
        |WHERE o_orderkey % 4 <> 3 OR o_orderkey % 8 = 7
        |ORDER BY o_orderkey""".stripMargin,
    // MERGE INTO: the CDC change batch applied to the committed base
    // table and the HEAD read back — same last-writer-wins replay as
    // q_cdc_apply, minus the provenance column (the table stores state,
    // not lineage).
    "q_table_merge" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus AS status,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |  FROM orders WHERE o_orderkey % 4 <> 3),
        |ch AS (
        |  SELECT o_orderkey, 'U' AS op, 1 AS seq, o_orderstatus AS status,
        |         CAST(round(o_totalprice * 100) AS BIGINT) + 500 AS price_c
        |  FROM orders
        |  WHERE o_orderkey % 4 <> 3
        |    AND (o_orderkey % 10 = 0 OR o_orderkey % 10 = 5)
        |  UNION ALL
        |  SELECT o_orderkey, 'D', 2, NULL, NULL FROM orders
        |  WHERE o_orderkey % 4 <> 3 AND o_orderkey % 20 = 5
        |  UNION ALL
        |  SELECT o_orderkey, 'I', 1, 'NEW',
        |         CAST(round(o_totalprice * 100) AS BIGINT)
        |  FROM orders WHERE o_orderkey % 4 = 3),
        |latest AS (
        |  SELECT o_orderkey, op, status, price_c FROM (
        |    SELECT ch.*,
        |      row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
        |    FROM ch) WHERE rn = 1)
        |SELECT COALESCE(l.o_orderkey, b.o_orderkey) AS o_orderkey,
        |  CASE WHEN l.o_orderkey IS NOT NULL THEN l.status ELSE b.status END
        |    AS status,
        |  CASE WHEN l.o_orderkey IS NOT NULL THEN l.price_c ELSE b.price_c END
        |    AS price_c
        |FROM base b FULL JOIN latest l ON b.o_orderkey = l.o_orderkey
        |WHERE l.op IS NULL OR l.op <> 'D'
        |ORDER BY o_orderkey""".stripMargin,
    // OPTIMIZE: three unclustered appends + a tombstone delete, then the
    // head rewritten range-clustered. Content must be layout-invariant:
    // the oracle aggregates the surviving rows' range from raw orders.
    "q_table_optimize" ->
      """SELECT o_orderstatus AS status,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_c
        |FROM orders
        |WHERE o_orderkey % 4 <> 3 AND o_orderkey % 20 <> 5
        |  AND o_orderkey BETWEEN 1000 AND 3000
        |GROUP BY 1 ORDER BY status""".stripMargin,
    // OPTIMIZE ZORDER: rectangle read over the Morton-clustered head —
    // content must equal the plain conjunctive filter.
    "q_table_zorder" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus AS status,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |FROM orders
        |WHERE o_custkey BETWEEN 100 AND 300
        |  AND o_orderkey BETWEEN 2000 AND 6000
        |ORDER BY o_orderkey""".stripMargin,
    // Manifest-derived commit log of the MOR lifecycle table: create
    // (base), delete (tombstoned keys ≡ 5 mod 20), append (re-inserts
    // ≡ 5 mod 40), overwrite (the compacted head). Fresh-row counts are
    // derivable from raw orders; operations are structural.
    "q_table_history" ->
      """WITH base AS (
        |  SELECT o_orderkey FROM orders WHERE o_orderkey % 4 <> 3),
        |del AS (SELECT o_orderkey FROM base WHERE o_orderkey % 20 = 5),
        |re AS (SELECT o_orderkey FROM base WHERE o_orderkey % 40 = 5)
        |SELECT CAST(1 AS BIGINT) AS version, 'create' AS operation,
        |  CAST((SELECT count(*) FROM base) AS BIGINT) AS n_fresh_rows
        |UNION ALL
        |SELECT 2, 'delete', (SELECT count(*) FROM del)
        |UNION ALL
        |SELECT 3, 'append', (SELECT count(*) FROM re)
        |UNION ALL
        |SELECT 4, 'overwrite',
        |  (SELECT count(*) FROM base) - (SELECT count(*) FROM del)
        |    + (SELECT count(*) FROM re)
        |ORDER BY version""".stripMargin,
    // Versioned table + native as-of composed: clicks enriched with the
    // most recent view at-or-before, once against the time-traveled v1
    // snapshot (every view) and once against the v2 head (views with
    // view_id % 3 = 0 retracted via merge-on-read tombstones). The
    // oracle replays both legs with the retraction as a WHERE clause;
    // the operator's tiebreak (max view_id at the winning ts) matches
    // the max() emulation below.
    "q_asof_versioned" ->
      """WITH clicks AS (
        |  SELECT user_id, event_id AS click_id, ts FROM events WHERE event_type = 'click'),
        |views1 AS (
        |  SELECT user_id, event_id AS view_id, ts FROM events WHERE event_type = 'view'),
        |views2 AS (
        |  SELECT * FROM views1 WHERE view_id % 3 <> 0),
        |best1 AS (
        |  SELECT c.user_id, c.click_id, max(v.ts) AS vts
        |  FROM clicks c LEFT JOIN views1 v
        |    ON v.user_id = c.user_id AND v.ts <= c.ts
        |  GROUP BY c.user_id, c.click_id),
        |r1 AS (
        |  SELECT b.user_id, b.click_id, max(v.view_id) AS view_id_v1
        |  FROM best1 b LEFT JOIN views1 v
        |    ON v.user_id = b.user_id AND v.ts = b.vts
        |  GROUP BY b.user_id, b.click_id),
        |best2 AS (
        |  SELECT c.user_id, c.click_id, max(v.ts) AS vts
        |  FROM clicks c LEFT JOIN views2 v
        |    ON v.user_id = c.user_id AND v.ts <= c.ts
        |  GROUP BY c.user_id, c.click_id),
        |r2 AS (
        |  SELECT b.user_id, b.click_id, max(v.view_id) AS view_id_v2
        |  FROM best2 b LEFT JOIN views2 v
        |    ON v.user_id = b.user_id AND v.ts = b.vts
        |  GROUP BY b.user_id, b.click_id)
        |SELECT r1.user_id, r1.click_id, r1.view_id_v1, r2.view_id_v2
        |FROM r1 JOIN r2 ON r1.user_id = r2.user_id AND r1.click_id = r2.click_id
        |ORDER BY r1.user_id, r1.click_id""".stripMargin,
    // Merge-on-read lifecycle: v1 = base; v2 = tombstone delete of keys
    // ≡ 5 (mod 20); v3 = append re-inserting keys ≡ 5 (mod 40) — the
    // commit-bounded tombstone must not swallow them; v4 = compact ≡ v3.
    "q_table_mor" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus AS status,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |  FROM orders WHERE o_orderkey % 4 <> 3),
        |v2 AS (SELECT * FROM base WHERE o_orderkey % 20 <> 5),
        |re AS (
        |  SELECT o_orderkey, 'REINS' AS status,
        |         CAST(round(o_totalprice * 100) AS BIGINT) + 1000 AS price_c
        |  FROM orders WHERE o_orderkey % 4 <> 3 AND o_orderkey % 40 = 5),
        |v3 AS (SELECT * FROM v2 UNION ALL SELECT * FROM re)
        |SELECT CAST(1 AS BIGINT) AS version,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price_c) AS BIGINT) AS total_c FROM base
        |UNION ALL
        |SELECT 2, count(*), CAST(sum(price_c) AS BIGINT) FROM v2
        |UNION ALL
        |SELECT 3, count(*), CAST(sum(price_c) AS BIGINT) FROM v3
        |UNION ALL
        |SELECT 4, count(*), CAST(sum(price_c) AS BIGINT) FROM v3
        |ORDER BY version""".stripMargin,
    // positional deletion-vector lifecycle: v2 deletes by an arbitrary
    // non-key predicate (the vector names positions, not keys), v3
    // appends the held-out quarter, v4 compacts — v3 ≡ v4 by value
    "q_table_posdel" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus AS status,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |  FROM orders WHERE o_orderkey % 4 <> 3),
        |v2 AS (SELECT * FROM base WHERE NOT (price_c % 7 < 2)),
        |ins AS (
        |  SELECT o_orderkey, 'NEW' AS status,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |  FROM orders WHERE o_orderkey % 4 = 3),
        |v3 AS (SELECT * FROM v2 UNION ALL SELECT * FROM ins)
        |SELECT CAST(1 AS BIGINT) AS version,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price_c) AS BIGINT) AS total_c FROM base
        |UNION ALL
        |SELECT 2, count(*), CAST(sum(price_c) AS BIGINT) FROM v2
        |UNION ALL
        |SELECT 3, count(*), CAST(sum(price_c) AS BIGINT) FROM v3
        |UNION ALL
        |SELECT 4, count(*), CAST(sum(price_c) AS BIGINT) FROM v3
        |ORDER BY version""".stripMargin,
    // BINARY column lifecycle in the graft format: create/insert through
    // the SQL catalog, MOR delete of keys ≡ 0 (mod 7), byte-exact read
    // back (octet length + md5 digest). DuckDB's md5 takes VARCHAR; its
    // UTF-8 bytes are the bytes Spark's md5(BINARY) hashes.
    "q_table_binary" ->
      """SELECT doc_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |  md5(text) AS digest, lang
        |FROM documents WHERE doc_id % 7 <> 0 ORDER BY doc_id""".stripMargin,
    // ARRAY + STRUCT lifecycle: token-length arrays and a struct built at
    // INSERT, keys ≡ 0 (mod 9) deleted copy-on-write (nested files
    // rewritten), sibling-primitive filter on read; the oracle rebuilds
    // the arrays with DuckDB list lambdas
    "q_table_nested" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_transform(list_filter(string_split(text, ' '),
        |      w -> length(w) > 0), w -> CAST(length(w) AS BIGINT)) AS toks,
        |    lang, source, n_chars
        |  FROM documents WHERE doc_id % 9 <> 0 AND doc_id % 3 <> 1)
        |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
        |  CAST(coalesce(list_sum(toks), 0) AS BIGINT) AS tok_sum,
        |  lang, source AS src, n_chars
        |FROM tk ORDER BY doc_id""".stripMargin,
    // MAP lifecycle: maps built at INSERT (incl. NULL values), keys ≡ 3
    // (mod 11) deleted copy-on-write, flat scalars derived by key access
    // + sorted map_keys on read; the oracle rebuilds the same scalars
    // from the source columns directly
    "q_table_map" ->
      """SELECT doc_id, n_chars AS chars,
        |  CAST(len(list_filter(string_split(text, ' '),
        |    w -> length(w) > 0)) AS BIGINT) AS words,
        |  CASE WHEN doc_id % 4 = 0 THEN NULL
        |       ELSE doc_id % 5 END AS m,
        |  CAST(3 AS BIGINT) AS n_keys, 'chars,mod,words' AS ks, lang
        |FROM documents
        |WHERE doc_id % 11 <> 3 AND doc_id % 3 <> 2
        |ORDER BY doc_id""".stripMargin,
    // NESTED schema evolution: meta STRUCT<lang> gains src via ALTER
    // ADD COLUMNS (schema-only carrier) — pre-evolution rows read NULL,
    // post-evolution rows carry the source; the oracle replays the
    // generation split with a CASE on the insert parity
    "q_sql_nested_add" ->
      """SELECT doc_id, lang,
        |  CASE WHEN doc_id % 2 = 0 THEN NULL ELSE source END AS src,
        |  n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    // array-membership file pruning: lang-clustered tag vocabularies,
    // per-file element blooms, array_contains conjunct probes them at
    // plan time; the oracle replays the matching rows flat
    "q_sql_array_prune" ->
      """SELECT doc_id, n_chars
        |FROM documents
        |WHERE lang = 'en'
        |ORDER BY doc_id""".stripMargin,
    // map-KEY membership pruning through the same blooms (key set via
    // map_keys at commit); the projected value equals n_chars exactly
    "q_sql_map_prune" ->
      """SELECT doc_id, n_chars AS v
        |FROM documents
        |WHERE lang = 'en'
        |ORDER BY doc_id""".stripMargin,
    // disjunctive membership pruning (arrays_overlap = the IN-list):
    // the two-key group keeps two language generations; oracle replays
    // flat with IN
    "q_sql_overlap_prune" ->
      """SELECT doc_id, n_chars
        |FROM documents
        |WHERE lang IN ('en', 'de')
        |ORDER BY doc_id""".stripMargin,
    // DOTTED membership pruning: the member bloom on a struct-leaf
    // array (meta.tags), probed through a GetStructField chain and a
    // spine rename; the oracle replays the matching rows flat
    "q_sql_nested_member" ->
      """SELECT doc_id, lang, n_chars
        |FROM documents
        |WHERE lang = 'en'
        |ORDER BY doc_id""".stripMargin,
    // nested RENAME + DROP via dotted column mapping: files keep
    // physical names across both generations; the filter on the renamed
    // leaf translates logical->physical before the zone maps; the
    // oracle replays the rows flat under the new name
    "q_sql_nested_rename" ->
      """SELECT doc_id, lang AS lang_code, n_chars
        |FROM documents
        |WHERE lang <> 'zz'
        |ORDER BY doc_id""".stripMargin,
    // zone maps on STRUCT leaves: lang-clustered inserts, nested-leaf
    // predicates prune files at plan time; the oracle replays the same
    // filter flat — hash equality proves pruning never drops a match
    "q_sql_nested_prune" ->
      """SELECT doc_id, lang, CAST(n_chars % 997 AS INT) AS n, n_chars
        |FROM documents
        |WHERE lang = 'en' AND n_chars % 997 < 500
        |ORDER BY doc_id""".stripMargin,
    // CDF of the positional delete: the deleted ROWS reconstructed by
    // position (full rows, not just keys), aggregated per status
    "q_posdel_changes" ->
      """WITH del AS (
        |  SELECT o_orderstatus AS status,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |  FROM orders
        |  WHERE o_orderkey % 4 <> 3
        |    AND CAST(round(o_totalprice * 100) AS BIGINT) % 7 < 2)
        |SELECT status, CAST(count(*) AS BIGINT) AS n_del,
        |  CAST(sum(price_c) AS BIGINT) AS del_c
        |FROM del GROUP BY status ORDER BY status""".stripMargin,
    // Deequ-style expectation report: completeness / uniqueness /
    // bounds / referential checks as exact integers, one row each.
    "q_quality_report" ->
      """WITH a AS (
        |  SELECT count(*) AS n_rows,
        |    count(o_orderkey) AS nn_key,
        |    count(o_custkey) AS nn_cust,
        |    count(o_totalprice) AS nn_price,
        |    count(DISTINCT o_orderkey) AS n_distinct_key,
        |    CAST(sum(CASE WHEN o_totalprice <= 0.0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_nonpositive,
        |    CAST(max(round(o_totalprice * 100)) AS BIGINT) AS max_cents
        |  FROM orders),
        |o AS (
        |  SELECT count(*) AS n_orphans FROM orders
        |  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)),
        |m AS (
        |  SELECT 'completeness_key' AS check_name, n_rows - nn_key AS metric FROM a
        |  UNION ALL
        |  SELECT 'completeness_custkey', n_rows - nn_cust FROM a
        |  UNION ALL
        |  SELECT 'completeness_price', n_rows - nn_price FROM a
        |  UNION ALL
        |  SELECT 'uniqueness_key_dups', n_rows - n_distinct_key FROM a
        |  UNION ALL
        |  SELECT 'bounds_nonpositive_price', n_nonpositive FROM a
        |  UNION ALL
        |  SELECT 'bounds_max_price_cents', max_cents FROM a
        |  UNION ALL
        |  SELECT 'referential_orphan_custkey', n_orphans FROM o)
        |SELECT check_name AS "check", CAST(metric AS BIGINT) AS metric,
        |  metric = 0 OR check_name = 'bounds_max_price_cents' AS ok
        |FROM m ORDER BY check_name""".stripMargin,
    "q_cast_types" ->
      """SELECT o_orderkey,
        |  TRY_CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS prio,
        |  CAST(o_orderkey AS DOUBLE) AS key_d,
        |  o_totalprice > 200000.0 AS is_large
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_dedup_rows" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_dedup_key" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM (
        |  SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
        |    row_number() OVER (PARTITION BY l_orderkey
        |      ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity) AS rn
        |  FROM lineitem) WHERE rn = 1 ORDER BY l_orderkey""".stripMargin,
    "q_join_left" ->
      """SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,
    "q_join_using" ->
      """SELECT n_nationkey, n_name, r_name
        |FROM nation LEFT JOIN region ON n_regionkey = r_regionkey
        |ORDER BY n_nationkey""".stripMargin,
    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_agg_distinct" ->
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS uniq_cust,
        |  count(*) AS cnt, round(sum(o_totalprice), 2) AS sum_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_agg_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS cnt
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,
    "q_window_topk" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q_window_lag" ->
      """SELECT o_custkey, o_orderkey,
        |  round(o_totalprice - lag(o_totalprice) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderkey), 2) AS delta
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_sort_limit" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "q_set_union" ->
      """SELECT c_custkey AS id FROM customer
        |UNION SELECT o_custkey FROM orders ORDER BY id""".stripMargin,
    "q_set_except" ->
      """SELECT c_custkey AS id FROM customer
        |EXCEPT SELECT o_custkey AS id FROM orders ORDER BY id""".stripMargin,
    "q_set_intersect" ->
      """SELECT c_custkey AS id FROM customer
        |INTERSECT SELECT o_custkey AS id FROM orders ORDER BY id""".stripMargin,
    "q_agg_collect" ->
      """SELECT o_custkey,
        |  array_to_string(list_sort(list(o_orderkey)), ',') AS order_keys,
        |  array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "q_window_range" ->
      """SELECT o_custkey, o_orderkey,
        |  round(sum(o_totalprice) OVER (
        |    PARTITION BY o_custkey ORDER BY o_totalprice
        |    RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW), 2) AS near_sum
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_window_ntile" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  round(percent_rank() OVER w, 6) AS pct_rank
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_star_revenue" ->
      """SELECT r_name, l_returnflag, count(*) AS n_items,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, l_returnflag
        |ORDER BY r_name, l_returnflag""".stripMargin,
    "q_agg_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS cnt
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,
    "q_agg_percentile" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
        |  round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price,
        |  round(quantile_cont(l_extendedprice, 0.99), 4) AS p99_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // q_agg_approx: the HLL++ estimate itself is engine-specific, so the
    // registered query grades it as a statistical contract instead — the
    // oracle asserts the within-2σ flag is 1 for every group (an estimate
    // outside HLL's published error bound flips it to 0 → hash mismatch).
    "q_agg_approx" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS exact_parts,
        |  CAST(1 AS BIGINT) AS within_2sigma
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_agg_exact_distinct" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS exact_parts, count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_agg_salted" ->
      """SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
        |  count(*) AS cnt, round(sum(l_quantity) / count(*), 6) AS avg_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_pivot" ->
      """SELECT l_returnflag,
        |  round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS F,
        |  round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS O
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_join_full" ->
      """SELECT c_custkey, o_orderkey, o_totalprice
        |FROM customer FULL OUTER JOIN orders ON c_custkey = o_custkey
        |ORDER BY c_custkey NULLS FIRST, o_orderkey NULLS FIRST""".stripMargin,
    "q_join_bucketed" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT))
        |    AS BIGINT) AS revenue_c,
        |  count(*) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_join_range" ->
      """SELECT b.bucket_id, count(*) AS cnt, round(sum(e.value), 2) AS sum_val
        |FROM events e JOIN (
        |  SELECT CAST(i AS BIGINT) AS bucket_id, i * 10.0 AS lo, (i + 1) * 10.0 AS hi
        |  FROM range(0, 10) t(i)) b
        |  ON e.value >= b.lo AND e.value < b.hi
        |GROUP BY b.bucket_id ORDER BY b.bucket_id""".stripMargin,
    "q_events_json" ->
      """SELECT event_id, CAST(regexp_extract(props, '"k": (\d+)', 1) AS INTEGER) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    "q_docs_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, tok AS term FROM (
        |    SELECT doc_id,
        |      unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                         x -> length(x) >= 3)) AS tok
        |    FROM documents)),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
        |df AS (SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY term),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    tf.tf * ln((n.n + 1.0) / (df.df + 1.0)) AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |r AS (SELECT doc_id, term, tf, df, score,
        |        row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
        |      FROM scored)
        |SELECT doc_id, rnk, term, tf, df, round(score, 6) AS tfidf
        |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    "q_sql_revenue" ->
      """SELECT o_orderkey,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
        |  count(*) AS n_lines
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin,
    "q_sql_local_revenue" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
        |  count(*) AS n_lines
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_sql_exists" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_sql_multi_exists" ->
      """SELECT s_name, count(*) AS numwait
        |FROM supplier
        |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_returnflag = 'R')
        |GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin,
    "q_sql_scalar" ->
      """SELECT p_brand,
        |  round(sum(l_extendedprice), 2) AS below_avg_revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |WHERE l_quantity < (
        |  SELECT 0.5 * avg(l2.l_quantity) FROM lineitem l2
        |  WHERE l2.l_partkey = p_partkey)
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q_sql_part_supply" ->
      """WITH ps AS (
        |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |         max(l_quantity) * 10 AS ps_availqty
        |  FROM lineitem GROUP BY l_partkey, l_suppkey)
        |SELECT s_name, round(s_acctbal, 2) AS acctbal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_nationkey < 13
        |  AND s_suppkey IN (
        |    SELECT ps_suppkey FROM ps
        |    WHERE ps_partkey IN (
        |        SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
        |      AND ps_availqty > (
        |        SELECT 0.5 * sum(l_quantity) FROM lineitem
        |        WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
        |          AND l_shipdate >= DATE '1996-01-01'
        |          AND l_shipdate < DATE '1997-01-01'))
        |ORDER BY s_name""".stripMargin,
    "q_sql_important_stock" ->
      """WITH ps AS (
        |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |         sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS ps_value_c
        |  FROM lineitem GROUP BY l_partkey, l_suppkey)
        |SELECT ps_partkey, CAST(sum(ps_value_c) AS BIGINT) AS stock_value_c
        |FROM ps JOIN supplier ON ps_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_nationkey < 13
        |GROUP BY ps_partkey
        |HAVING sum(ps_value_c) > (
        |  SELECT sum(ps_value_c) * 0.0005
        |  FROM ps JOIN supplier ON ps_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_nationkey < 13)
        |ORDER BY stock_value_c DESC, ps_partkey""".stripMargin,
    "q_sql_min_cost_supp" ->
      """WITH ps AS (
        |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |         min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS ps_cost_c
        |  FROM lineitem GROUP BY l_partkey, l_suppkey)
        |SELECT round(s_acctbal, 2) AS acctbal, s_name, n_name,
        |       p_partkey, p_type, ps_cost_c
        |FROM part
        |JOIN ps ON p_partkey = ps_partkey
        |JOIN supplier ON s_suppkey = ps_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE p_size = 15 AND r_name = 'EUROPE'
        |  AND ps_cost_c = (
        |    SELECT min(ps2.ps_cost_c)
        |    FROM ps ps2
        |    JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
        |    JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
        |    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
        |    WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE')
        |ORDER BY acctbal DESC, n_name, s_name, p_partkey""".stripMargin,
    "q_sql_profit" ->
      """WITH ps AS (
        |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |         min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS ps_cost_c
        |  FROM lineitem GROUP BY l_partkey, l_suppkey)
        |SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |       CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)
        |           - ps_cost_c * CAST(l_quantity AS BIGINT)) AS BIGINT) AS profit_c,
        |       count(*) AS n_lines
        |FROM lineitem
        |JOIN ps ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
        |JOIN part ON p_partkey = l_partkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%bolt%'
        |GROUP BY n_name, year(o_orderdate)
        |ORDER BY nation, o_year""".stripMargin,
    "q_sql_ship_priority" ->
      """SELECT l_returnflag AS ship_mode,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q_sql_supp_cnt" ->
      """WITH ps AS (
        |  SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
        |  FROM lineitem)
        |SELECT p_brand, p_type, p_size,
        |       CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
        |FROM ps JOIN part ON p_partkey = ps_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type <> 'MEDIUM'
        |  AND p_size IN (1, 4, 7, 10, 15, 23, 38, 45)
        |  AND ps_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q_sql_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS volume,
        |  count(*) AS n_lines
        |FROM supplier
        |JOIN lineitem ON s_suppkey = l_suppkey
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    "q_sql_order_dist" ->
      """SELECT c_count, count(*) AS custdist
        |FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer
        |  LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q_sql_forecast" ->
      """SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.02 AND 0.09
        |  AND l_quantity < 24.0""".stripMargin,
    "q_sql_returns" ->
      """SELECT c_custkey, c_name, n_name,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
        |  count(*) AS n_lines
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin,
    "q_sql_promo" ->
      """SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
        |         THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END)
        |       / sum(l_extendedprice * (1.0 - l_discount)), 6) AS promo_share,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-09-01'
        |  AND l_shipdate < TIMESTAMP '1996-10-01'""".stripMargin,
    "q_sql_top_supplier" ->
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier
        |JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin,
    "q_sql_disjunct" ->
      """SELECT round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 25
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#14' AND p_size BETWEEN 1 AND 35
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q_sql_no_urgent_orders" ->
      """SELECT c_nationkey, count(*) AS numcust,
        |  round(sum(c_acctbal), 4) AS totacctbal
        |FROM customer
        |WHERE CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT)
        |      * (SELECT count(*) FROM customer WHERE c_acctbal > 0.0)
        |      > (SELECT sum(CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT))
        |         FROM customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,
    "q_sql_big_orders" ->
      """SELECT c_name, c_custkey, o_orderkey, o_totalprice,
        |  round(sum(l_quantity), 2) AS total_qty
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
        |GROUP BY c_name, c_custkey, o_orderkey, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderkey""".stripMargin,
    "q_sql_market_share" ->
      """SELECT o_year,
        |  round(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0.0 END)
        |        / sum(volume), 6) AS mkt_share,
        |  count(*) AS n_lines
        |FROM (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |         l_extendedprice * (1.0 - l_discount) AS volume,
        |         n2.n_name AS nation
        |  FROM lineitem
        |  JOIN part ON p_partkey = l_partkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
        |) shares
        |GROUP BY o_year ORDER BY o_year""".stripMargin,
    // moments rounded at 4 digits: engine merge order leaves ~1e-7
    // residual that a 6-digit round exposed to the hash compare
    "q_agg_stats" ->
      """SELECT l_returnflag,
        |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
        |  round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price,
        |  round(stddev_samp(l_discount), 4) AS sd_discount,
        |  round(var_pop(l_tax), 4) AS var_tax,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_agg_gsets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS cnt
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_window_firstlast" ->
      """SELECT o_custkey, o_orderkey,
        |  first_value(o_totalprice) OVER running AS first_price,
        |  last_value(o_totalprice) OVER wfull AS last_price,
        |  nth_value(o_totalprice, 2) OVER wfull AS second_price
        |FROM orders
        |WINDOW running AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |  wfull AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_set_union_byname" ->
      """SELECT o_orderkey, o_totalprice, o_orderpriority
        |FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
        |UNION ALL
        |SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority
        |FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
        |ORDER BY o_orderkey""".stripMargin,
    "q_events_funnel" ->
      """WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
        |           WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS t_click
        |      FROM events e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY e.user_id),
        |b AS (SELECT e.user_id, min(e.ts) AS t_buy
        |      FROM events e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY e.user_id)
        |SELECT u.user_id,
        |  v.user_id IS NOT NULL AS reached_view,
        |  c.user_id IS NOT NULL AS reached_click,
        |  b.user_id IS NOT NULL AS reached_purchase
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN v ON u.user_id = v.user_id
        |LEFT JOIN c ON u.user_id = c.user_id
        |LEFT JOIN b ON u.user_id = b.user_id
        |ORDER BY u.user_id""".stripMargin,
    "q_events_retention" ->
      """WITH f AS (SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
        |           FROM events GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS active_day FROM events)
        |SELECT f.cohort_day,
        |  date_diff('day', f.cohort_day, a.active_day) AS day_offset,
        |  count(*) AS n_active
        |FROM a JOIN f ON a.user_id = f.user_id
        |GROUP BY f.cohort_day, a.active_day
        |ORDER BY cohort_day, day_offset""".stripMargin,
    "q_events_gapfill" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n_events
        |  FROM events GROUP BY user_id, CAST(ts AS DATE)),
        |span AS (SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1
        |         FROM events),
        |spine AS (
        |  SELECT u.user_id,
        |    CAST(unnest(generate_series(CAST(s.d0 AS TIMESTAMP),
        |                                CAST(s.d1 AS TIMESTAMP),
        |                                INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM (SELECT DISTINCT user_id FROM events) u CROSS JOIN span s)
        |SELECT sp.user_id, sp.day, coalesce(d.n_events, 0) AS n_events
        |FROM spine sp
        |LEFT JOIN daily d ON sp.user_id = d.user_id AND sp.day = d.day
        |ORDER BY sp.user_id, sp.day""".stripMargin,
    // sd IS NOT NULL AND sd != 0 mirrors the Spark-side degenerate-group
    // guard (identical-value users would otherwise hit engine-dependent
    // div-by-zero/NaN-comparison semantics)
    "q_events_zscore" ->
      """WITH s AS (
        |  SELECT event_id, user_id, value,
        |    avg(value) OVER (PARTITION BY user_id) AS mu,
        |    stddev_samp(value) OVER (PARTITION BY user_id) AS sd
        |  FROM events)
        |SELECT event_id, user_id, value, round((value - mu) / sd, 4) AS zscore
        |FROM s WHERE sd IS NOT NULL AND sd != 0
        |  AND abs(round((value - mu) / sd, 4)) > 2.0
        |ORDER BY event_id""".stripMargin,
    "q_events_attribution" ->
      """WITH c AS (
        |  SELECT event_type, value,
        |    coalesce(last_value(CASE WHEN event_type IN ('click', 'view')
        |                             THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      'none') AS channel
        |  FROM events)
        |SELECT channel, count(*) AS n_purchases,
        |  round(sum(value), 4) AS attributed_value
        |FROM c WHERE event_type = 'purchase'
        |GROUP BY channel ORDER BY channel""".stripMargin,
    "q_events_wow" ->
      """WITH wk AS (
        |  SELECT date_trunc('week', ts) AS week, event_type, count(*) AS cnt
        |  FROM events GROUP BY date_trunc('week', ts), event_type),
        |l AS (
        |  SELECT week, event_type, cnt,
        |    lag(cnt) OVER (PARTITION BY event_type ORDER BY week) AS prev_cnt
        |  FROM wk)
        |SELECT week, event_type, cnt, prev_cnt,
        |  ((cnt - prev_cnt) * 10000) // prev_cnt AS delta_bps
        |FROM l WHERE prev_cnt IS NOT NULL
        |ORDER BY week, event_type""".stripMargin,
    "q_events_active" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
        |contrib AS (
        |  SELECT DISTINCT user_id,
        |    CAST(unnest(generate_series(CAST(day AS TIMESTAMP),
        |                                CAST(day + 6 AS TIMESTAMP),
        |                                INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM ud),
        |wau AS (SELECT day, count(*) AS wau FROM contrib GROUP BY day)
        |SELECT dau.day, dau.dau, wau.wau
        |FROM dau JOIN wau ON dau.day = wau.day
        |ORDER BY dau.day""".stripMargin,
    "q_events_transitions" ->
      """WITH s AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS from_type
        |  FROM events),
        |pairs AS (
        |  SELECT from_type, event_type AS to_type, count(*) AS cnt
        |  FROM s WHERE from_type IS NOT NULL
        |  GROUP BY from_type, event_type)
        |SELECT from_type, to_type, cnt,
        |  CAST((cnt * 10000) // sum(cnt) OVER (PARTITION BY from_type) AS BIGINT)
        |    AS p_bps
        |FROM pairs ORDER BY from_type, to_type""".stripMargin,
    "q_events_scd2" ->
      """WITH s AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev_type
        |  FROM events),
        |c AS (
        |  SELECT user_id, event_type, ts, event_id FROM s
        |  WHERE prev_type IS NULL OR prev_type <> event_type)
        |SELECT user_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS version,
        |  event_type, ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |    AS is_current
        |FROM c ORDER BY user_id, version""".stripMargin,
    "q_events_ttc" ->
      """WITH f AS (
        |  SELECT user_id, min(ts) AS signup_ts
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |conv AS (
        |  SELECT e.user_id, f.signup_ts, min(e.ts) AS conv_ts
        |  FROM events e JOIN f ON e.user_id = f.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= f.signup_ts
        |  GROUP BY e.user_id, f.signup_ts)
        |SELECT date_diff('day', CAST(signup_ts AS DATE), CAST(conv_ts AS DATE))
        |         AS days_to_convert,
        |       count(*) AS n_users
        |FROM conv GROUP BY 1 ORDER BY days_to_convert""".stripMargin,
    "q_events_rfm" ->
      """WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
        |u AS (
        |  SELECT user_id, CAST(max(ts) AS DATE) AS last_day,
        |    count(*) AS frequency, round(sum(value), 4) AS monetary
        |  FROM p GROUP BY user_id),
        |g AS (SELECT CAST(max(ts) AS DATE) AS global_day FROM p),
        |s AS (
        |  SELECT user_id,
        |    date_diff('day', last_day, global_day) AS recency_days,
        |    frequency, monetary,
        |    CAST(round(monetary * 10000) AS BIGINT) AS monetary_i
        |  FROM u CROSS JOIN g),
        |c AS (
        |  SELECT
        |    percentile_disc(0.2) WITHIN GROUP (ORDER BY recency_days) AS rc1,
        |    percentile_disc(0.4) WITHIN GROUP (ORDER BY recency_days) AS rc2,
        |    percentile_disc(0.6) WITHIN GROUP (ORDER BY recency_days) AS rc3,
        |    percentile_disc(0.8) WITHIN GROUP (ORDER BY recency_days) AS rc4,
        |    percentile_disc(0.2) WITHIN GROUP (ORDER BY frequency) AS fc1,
        |    percentile_disc(0.4) WITHIN GROUP (ORDER BY frequency) AS fc2,
        |    percentile_disc(0.6) WITHIN GROUP (ORDER BY frequency) AS fc3,
        |    percentile_disc(0.8) WITHIN GROUP (ORDER BY frequency) AS fc4,
        |    percentile_disc(0.2) WITHIN GROUP (ORDER BY monetary_i) AS mc1,
        |    percentile_disc(0.4) WITHIN GROUP (ORDER BY monetary_i) AS mc2,
        |    percentile_disc(0.6) WITHIN GROUP (ORDER BY monetary_i) AS mc3,
        |    percentile_disc(0.8) WITHIN GROUP (ORDER BY monetary_i) AS mc4
        |  FROM s),
        |r AS (
        |  SELECT user_id, recency_days, frequency, monetary,
        |    CAST(5 - (CASE WHEN recency_days > rc1 THEN 1 ELSE 0 END)
        |           - (CASE WHEN recency_days > rc2 THEN 1 ELSE 0 END)
        |           - (CASE WHEN recency_days > rc3 THEN 1 ELSE 0 END)
        |           - (CASE WHEN recency_days > rc4 THEN 1 ELSE 0 END) AS BIGINT) AS r,
        |    CAST(1 + (CASE WHEN frequency > fc1 THEN 1 ELSE 0 END)
        |           + (CASE WHEN frequency > fc2 THEN 1 ELSE 0 END)
        |           + (CASE WHEN frequency > fc3 THEN 1 ELSE 0 END)
        |           + (CASE WHEN frequency > fc4 THEN 1 ELSE 0 END) AS BIGINT) AS f,
        |    CAST(1 + (CASE WHEN monetary_i > mc1 THEN 1 ELSE 0 END)
        |           + (CASE WHEN monetary_i > mc2 THEN 1 ELSE 0 END)
        |           + (CASE WHEN monetary_i > mc3 THEN 1 ELSE 0 END)
        |           + (CASE WHEN monetary_i > mc4 THEN 1 ELSE 0 END) AS BIGINT) AS m
        |  FROM s CROSS JOIN c)
        |SELECT user_id, recency_days, frequency, monetary, r, f, m,
        |  r * 100 + f * 10 + m AS segment
        |FROM r ORDER BY user_id""".stripMargin,
    "q_docs_bigram_lm" ->
      """WITH words AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                             x -> length(x) > 0) AS ws
        |  FROM documents),
        |bg AS (
        |  SELECT unnest(list_transform(range(1, greatest(len(ws), 1)),
        |                               i -> ws[i] || ' ' || ws[i + 1])) AS bigram
        |  FROM words),
        |pairs AS (
        |  SELECT split_part(bigram, ' ', 1) AS w1, split_part(bigram, ' ', 2) AS w2,
        |         count(*) AS c12
        |  FROM bg GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM pairs GROUP BY w1)
        |SELECT pr.w1, pr.w2, pr.c12, ctx.c1,
        |  round(CAST(pr.c12 AS DOUBLE) / CAST(ctx.c1 AS DOUBLE), 6) AS p
        |FROM pairs pr JOIN ctx ON pr.w1 = ctx.w1
        |WHERE pr.c12 >= 3 ORDER BY pr.w1, pr.w2""".stripMargin,
    "q_docs_pmi" ->
      """WITH words AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                             x -> length(x) > 0) AS ws
        |  FROM documents),
        |tk AS (SELECT unnest(ws) AS term FROM words),
        |uni AS (SELECT term, count(*) AS c FROM tk GROUP BY term),
        |n1 AS (SELECT CAST(floor(ln(CAST(count(*) AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS q
        |       FROM tk),
        |bg AS (
        |  SELECT unnest(list_transform(range(1, greatest(len(ws), 1)),
        |                               i -> ws[i] || ' ' || ws[i + 1])) AS bigram
        |  FROM words),
        |pairs AS (
        |  SELECT split_part(bigram, ' ', 1) AS w1, split_part(bigram, ' ', 2) AS w2,
        |         count(*) AS c12
        |  FROM bg GROUP BY 1, 2),
        |n2 AS (SELECT CAST(floor(ln(CAST(sum(c12) AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS q
        |       FROM pairs)
        |SELECT pr.w1, pr.w2, pr.c12,
        |  round(CAST(CAST(floor(ln(CAST(pr.c12 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
        |             + 2 * n1.q - n2.q
        |             - CAST(floor(ln(CAST(a.c AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
        |             - CAST(floor(ln(CAST(b.c AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
        |        AS DOUBLE) / 1000000.0, 6) AS pmi
        |FROM pairs pr
        |JOIN uni a ON pr.w1 = a.term
        |JOIN uni b ON pr.w2 = b.term
        |CROSS JOIN n1 CROSS JOIN n2
        |WHERE pr.c12 >= 5 ORDER BY pr.w1, pr.w2""".stripMargin,
    "q_docs_incr_dedup" ->
      s"""WITH $minhashCtes,
         |delta AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
         |baseh AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 10 <> 0),
         |ex AS (SELECT DISTINCT d.doc_id FROM delta d JOIN baseh b ON md5(d.text) = b.h),
         |near AS (
         |  SELECT DISTINCT x.doc_id FROM (
         |    SELECT doc_a AS doc_id, doc_b AS other FROM pairs
         |    UNION ALL SELECT doc_b, doc_a FROM pairs) x
         |  WHERE x.doc_id % 10 = 0 AND x.other % 10 <> 0)
         |SELECT d.doc_id,
         |  CASE WHEN ex.doc_id IS NOT NULL THEN 'dup_exact'
         |       WHEN near.doc_id IS NOT NULL THEN 'near_dup'
         |       ELSE 'new' END AS status
         |FROM delta d
         |LEFT JOIN ex ON d.doc_id = ex.doc_id
         |LEFT JOIN near ON d.doc_id = near.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "q_docs_entropy" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                       x -> length(x) > 0)) AS term
        |  FROM documents),
        |tc AS (SELECT doc_id, term, count(*) AS c FROM tk GROUP BY doc_id, term),
        |a AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    CAST(sum(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000 + 0.5) AS BIGINT))
        |         AS BIGINT) AS sq
        |  FROM tc GROUP BY doc_id)
        |SELECT doc_id, n_tokens,
        |  round(CAST(CAST(floor(ln(CAST(n_tokens AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
        |             * n_tokens - sq AS DOUBLE) / 1000000.0 / n_tokens, 6) AS entropy_nats
        |FROM a ORDER BY doc_id""".stripMargin,
    // oracle runs the straightforward all-pairs form; the Spark side is the
    // blocked join — hash equality proves the blocking covers distance 1
    "q_docs_typo_pairs" ->
      """WITH vocab AS (
        |  SELECT word, count(*) AS cnt FROM (
        |    SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                              x -> length(x) > 0)) AS word
        |    FROM documents)
        |  GROUP BY word HAVING length(word) >= 2)
        |SELECT a.word AS word_a, b.word AS word_b, a.cnt AS cnt_a, b.cnt AS cnt_b
        |FROM vocab a, vocab b
        |WHERE a.word < b.word
        |  AND abs(length(a.word) - length(b.word)) <= 1
        |  AND levenshtein(a.word, b.word) = 1
        |ORDER BY word_a, word_b""".stripMargin,
    "q_agg_histogram" ->
      """SELECT CAST(floor(l_extendedprice / 5000.0) AS BIGINT) AS bin,
        |  count(*) AS cnt,
        |  round(min(l_extendedprice), 2) AS lo,
        |  round(max(l_extendedprice), 2) AS hi,
        |  round(avg(l_extendedprice), 4) AS mean
        |FROM lineitem GROUP BY bin ORDER BY bin""".stripMargin,
    // the salted join is result-identical to the plain join by construction
    "q_join_salted" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_events_sliding" ->
      """SELECT event_id, user_id,
        |  count(*) OVER w AS cnt_1h,
        |  round(sum(value) OVER w, 2) AS sum_1h
        |FROM (SELECT event_id, user_id, value, epoch_us(ts) AS ts_us FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "q_docs_wordfreq" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                       x -> length(x) > 0)) AS word
        |  FROM documents),
        |vocab AS (
        |  SELECT word, count(*) AS cnt, count(DISTINCT doc_id) AS n_docs
        |  FROM toks GROUP BY word),
        |ranked AS (
        |  SELECT word, cnt, n_docs,
        |    row_number() OVER (ORDER BY cnt DESC, word) AS rank,
        |    sum(cnt) OVER (ORDER BY cnt DESC, word
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(cnt) OVER () AS total
        |  FROM vocab)
        |SELECT rank, word, cnt, n_docs,
        |  round(CAST(cum AS DOUBLE) / CAST(total AS DOUBLE), 6) AS cum_share
        |FROM ranked ORDER BY rank""".stripMargin,
    "q_when_case" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_totalprice > 300000.0 THEN 'high'
        |       WHEN o_totalprice > 100000.0 THEN 'mid'
        |       ELSE 'low' END AS bucket,
        |  o_orderdate IS NOT NULL AS has_date
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_validate_chain" ->
      """SELECT l_orderkey, l_linenumber, is_valid,
        |  CASE WHEN is_valid THEN NULL ELSE concat_ws(', ',
        |    CASE WHEN NOT qty_ok THEN 'QTY_HIGH' END,
        |    CASE WHEN NOT disc_ok THEN 'DISC_HIGH' END,
        |    CASE WHEN NOT tax_ok THEN 'TAX_ANOMALY' END) END AS exception_type,
        |  CASE WHEN is_valid THEN NULL ELSE concat_ws('; ',
        |    CASE WHEN NOT qty_ok THEN 'Quantity above limit' END,
        |    CASE WHEN NOT disc_ok THEN 'Discount above limit' END,
        |    CASE WHEN NOT tax_ok THEN 'Tax out of band' END) END AS details
        |FROM (
        |  SELECT l_orderkey, l_linenumber,
        |    l_quantity <= 45.0 AS qty_ok,
        |    l_discount <= 0.05 AS disc_ok,
        |    l_tax < l_discount + 0.06 AS tax_ok,
        |    (l_quantity <= 45.0 AND l_discount <= 0.05
        |      AND l_tax < l_discount + 0.06) AS is_valid
        |  FROM lineitem)
        |ORDER BY l_orderkey, l_linenumber, is_valid,
        |  exception_type NULLS FIRST, details NULLS FIRST""".stripMargin,
    "q_struct_pack" ->
      """SELECT o_orderkey,
        |  '{"status":"' || o_orderstatus || '","priority":"' || o_orderpriority || '"}' AS packed
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_date_format" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S.%gZ') AS ts_iso
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_ts_dispatch" ->
      """SELECT event_id, wire_format,
        |  strftime(CASE
        |    WHEN regexp_matches(wire_format, '^\d{4}-\d{2}-\d{2}T')
        |      THEN strptime(wire_format, '%Y-%m-%dT%H:%M:%S.%gZ')
        |    WHEN regexp_matches(wire_format, '^\d{10}$')
        |      THEN make_timestamp(CAST(wire_format AS BIGINT) * 1000000)
        |    WHEN regexp_matches(wire_format, '^\d{1,2}/\d{1,2}/\d{4} \d{1,2}:\d{2}:\d{2}')
        |      THEN strptime(wire_format, '%-m/%-d/%Y %-H:%M:%S')
        |    ELSE NULL END, '%Y-%m-%dT%H:%M:%S.%gZ') AS recovered_iso
        |FROM (
        |  SELECT event_id,
        |    CASE CAST(event_id % 3 AS INTEGER)
        |      WHEN 0 THEN strftime(ts, '%Y-%m-%dT%H:%M:%S.%gZ')
        |      WHEN 1 THEN CAST(CAST(floor(epoch(ts)) AS BIGINT) AS VARCHAR)
        |      ELSE strftime(ts, '%-m/%-d/%Y %-H:%M:%S') END AS wire_format
        |  FROM events) ORDER BY event_id""".stripMargin,
    // Sequential EWMA recurrence replayed by a recursive CTE: both
    // engines run the identical IEEE mult-mult-add fold (α = 1/4 is an
    // exact binary fraction), so the 1e-6 grid snap agrees bit-exactly.
    "q_events_ewma" ->
      """WITH RECURSIVE h AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_s,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |hr AS (
        |  SELECT event_type, hour_s, cnt,
        |    row_number() OVER (PARTITION BY event_type ORDER BY hour_s) AS rn
        |  FROM h),
        |r AS (
        |  SELECT event_type, rn, hour_s, cnt, CAST(cnt AS DOUBLE) AS s
        |  FROM hr WHERE rn = 1
        |  UNION ALL
        |  SELECT hr.event_type, hr.rn, hr.hour_s, hr.cnt,
        |         r.s * 0.75 + CAST(hr.cnt AS DOUBLE) * 0.25
        |  FROM hr JOIN r ON hr.event_type = r.event_type AND hr.rn = r.rn + 1)
        |SELECT event_type, hour_s, cnt,
        |  CAST(floor(s * 1000000 + 0.5) AS BIGINT) AS ewma_grid
        |FROM r ORDER BY event_type, hour_s""".stripMargin,
    "q_events_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%dT%H:%M:%S.%gZ') AS hr_iso,
        |  event_type, count(*) AS cnt, round(sum(value), 2) AS sum_val
        |FROM events GROUP BY 1, 2 ORDER BY hr_iso, event_type""".stripMargin,
    "q_sessionize" ->
      """SELECT user_id, event_id, CAST(session_seq AS BIGINT) AS session_seq FROM (
        |  SELECT user_id, event_id,
        |    SUM(CASE WHEN prev_ts IS NULL
        |             OR floor(epoch(ts)) - floor(epoch(prev_ts)) > 1800
        |        THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM (SELECT user_id, event_id, ts,
        |          lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |        FROM events))
        |ORDER BY user_id, event_id""".stripMargin,
    "q_events_paths" ->
      """WITH lagged AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |sess AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    SUM(CASE WHEN prev_ts IS NULL
        |             OR floor(epoch(ts)) - floor(epoch(prev_ts)) > 1800
        |        THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM lagged),
        |ranked AS (
        |  SELECT user_id, session_seq, event_type,
        |    row_number() OVER (PARTITION BY user_id, session_seq
        |                       ORDER BY ts, event_id) AS rn
        |  FROM sess),
        |paths AS (
        |  SELECT user_id, session_seq,
        |    string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM ranked WHERE rn <= 3 GROUP BY user_id, session_seq)
        |SELECT path, count(*) AS n_sessions
        |FROM paths GROUP BY path
        |ORDER BY n_sessions DESC, path""".stripMargin,
    "q_asof_join" ->
      """SELECT user_id, event_id AS click_id, last_view_id FROM (
        |  SELECT user_id, event_id, event_type,
        |    last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_id
        |  FROM events)
        |WHERE event_type = 'click' ORDER BY user_id, click_id""".stripMargin,
    // The native-operator as-of: the oracle picks, per click, the max view
    // ts at-or-before it, then the max view_id at that ts (the operator's
    // documented tiebreak) — deterministic without DuckDB's ASOF syntax.
    "q_asof_native" ->
      """WITH clicks AS (
        |  SELECT user_id, event_id AS click_id, ts FROM events WHERE event_type = 'click'),
        |views AS (
        |  SELECT user_id, event_id AS view_id, ts FROM events WHERE event_type = 'view'),
        |best AS (
        |  SELECT c.user_id, c.click_id, max(v.ts) AS vts
        |  FROM clicks c LEFT JOIN views v
        |    ON v.user_id = c.user_id AND v.ts <= c.ts
        |  GROUP BY c.user_id, c.click_id),
        |resolved AS (
        |  SELECT b.user_id, b.click_id, max(v.view_id) AS view_id
        |  FROM best b LEFT JOIN views v
        |    ON v.user_id = b.user_id AND v.ts = b.vts
        |  GROUP BY b.user_id, b.click_id)
        |SELECT user_id, click_id, view_id FROM resolved
        |ORDER BY user_id, click_id""".stripMargin,
    "q_asof_tolerance" ->
      """WITH clicks AS (
        |  SELECT user_id, event_id AS click_id, ts FROM events WHERE event_type = 'click'),
        |views AS (
        |  SELECT user_id, event_id AS view_id, ts FROM events WHERE event_type = 'view'),
        |best AS (
        |  SELECT c.user_id, c.click_id, max(v.ts) AS vts
        |  FROM clicks c LEFT JOIN views v
        |    ON v.user_id = c.user_id AND v.ts <= c.ts
        |      AND v.ts >= c.ts - INTERVAL 1 HOUR
        |  GROUP BY c.user_id, c.click_id),
        |resolved AS (
        |  SELECT b.user_id, b.click_id, max(v.view_id) AS view_id
        |  FROM best b LEFT JOIN views v
        |    ON v.user_id = b.user_id AND v.ts = b.vts
        |  GROUP BY b.user_id, b.click_id)
        |SELECT user_id, click_id, view_id FROM resolved
        |ORDER BY user_id, click_id""".stripMargin,
    // Broadcast variant: the reference side is one first-signup row per
    // user, so the as-of match is that row iff it is at-or-before the click.
    "q_asof_broadcast" ->
      """WITH clicks AS (
        |  SELECT user_id, event_id AS click_id, ts FROM events WHERE event_type = 'click'),
        |first_ts AS (
        |  SELECT user_id, min(ts) AS s_ts FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |fs AS (
        |  SELECT f.user_id, f.s_ts, min(e.event_id) AS signup_id
        |  FROM first_ts f JOIN events e
        |    ON e.user_id = f.user_id AND e.event_type = 'signup' AND e.ts = f.s_ts
        |  GROUP BY f.user_id, f.s_ts)
        |SELECT c.user_id, c.click_id,
        |  CASE WHEN fs.s_ts <= c.ts THEN fs.signup_id END AS signup_id
        |FROM clicks c LEFT JOIN fs ON fs.user_id = c.user_id
        |ORDER BY c.user_id, c.click_id""".stripMargin,
    "q_docs_langid" -> {
      s"""WITH base AS (
         |  SELECT doc_id, lang AS labeled_lang, ' ' || lower(text) || ' ' AS t FROM documents),
         |scored AS (
         |  SELECT doc_id, labeled_lang,
         |    ${stopScoreSql(Seq("the", "and", "of", "is"))} AS score_en,
         |    ${stopScoreSql(Seq("el", "la", "de", "que"))} AS score_es,
         |    ${stopScoreSql(Seq("le", "la", "et", "les"))} AS score_fr,
         |    ${stopScoreSql(Seq("der", "die", "und", "das"))} AS score_de
         |  FROM base)
         |SELECT doc_id, labeled_lang, score_en, score_es, score_fr, score_de,
         |  CASE WHEN greatest(score_en, score_es, score_fr, score_de) = 0 THEN 'und'
         |       WHEN score_en >= score_es AND score_en >= score_fr AND score_en >= score_de THEN 'en'
         |       WHEN score_es >= score_fr AND score_es >= score_de THEN 'es'
         |       WHEN score_fr >= score_de THEN 'fr'
         |       ELSE 'de' END AS predicted_lang
         |FROM scored ORDER BY doc_id""".stripMargin
    },
    "q_docs_quality" ->
      s"""WITH $qualityCtes
         |SELECT qm.doc_id, CAST(qm.chars AS BIGINT) AS n_chars, qm.words AS n_words,
         |  qm.punct AS n_punct, qm.stop AS n_stop,
         |  round(qm.mwl, 4) AS mean_word_len,
         |  q.quality
         |FROM qm JOIN q ON qm.doc_id = q.doc_id
         |ORDER BY qm.doc_id""".stripMargin,
    "q_docs_tokens" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_tokens,
        |  round(CASE WHEN len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) > 0
        |    THEN CAST(length(text) AS DOUBLE)
        |         / len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
        |    ELSE 0.0 END, 4) AS chars_per_token
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_docs_fingerprint" ->
      """WITH n AS (SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS norm FROM documents)
        |SELECT doc_id, md5(norm) AS fp_full, substr(md5(norm), 1, 16) AS fp_short,
        |  md5(substr(norm, 1, 64)) AS fp_prefix64
        |FROM n ORDER BY doc_id""".stripMargin,
    "q_docs_rollhash" ->
      s"""WITH $rollhashCtes
         |SELECT doc_id, rk_min, q0, q1, q2, q3 FROM fp ORDER BY doc_id""".stripMargin,
    // winnow pairs: docs sharing any of the five minima, banded by WHICH
    // minimum; bucket cap 1000 replayed in the HAVING
    "q_docs_winnow_pairs" ->
      s"""WITH $rollhashCtes,
         |b AS (
         |  SELECT doc_id, u.band AS band, u.v AS v FROM (
         |    SELECT doc_id, unnest([
         |      {'band': 0, 'v': rk_min}, {'band': 1, 'v': q0},
         |      {'band': 2, 'v': q1}, {'band': 3, 'v': q2},
         |      {'band': 4, 'v': q3}]) AS u
         |    FROM fp)),
         |ok AS (SELECT band, v FROM b GROUP BY band, v
         |       HAVING count(*) BETWEEN 2 AND 1000)
         |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |FROM b x
         |JOIN ok ON ok.band = x.band AND ok.v = x.v
         |JOIN b y ON x.band = y.band AND x.v = y.v AND x.doc_id < y.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q_docs_topquality" ->
      s"""WITH $qualityCtes,
         |s AS (SELECT q.doc_id, d.source, q.quality
         |      FROM q JOIN documents d USING (doc_id)),
         |r AS (SELECT source, doc_id, quality,
         |        row_number() OVER (PARTITION BY source
         |                           ORDER BY quality DESC, doc_id) AS rnk
         |      FROM s)
         |SELECT source, CAST(rnk AS BIGINT) AS rnk, doc_id, quality
         |FROM r WHERE rnk <= 10 ORDER BY source, rnk""".stripMargin,
    "q_docs_dedup_best" ->
      s"""WITH $qualityCtes,
         |j AS (SELECT md5(d.text) AS content_hash, q.doc_id, q.quality
         |      FROM q JOIN documents d USING (doc_id)),
         |r AS (SELECT content_hash, doc_id, quality,
         |        row_number() OVER (PARTITION BY content_hash
         |                           ORDER BY quality DESC, doc_id) AS rn,
         |        max(quality) OVER (PARTITION BY content_hash) AS best_quality,
         |        count(*) OVER (PARTITION BY content_hash) AS copies
         |      FROM j)
         |SELECT content_hash, doc_id AS best_id, best_quality,
         |  CAST(copies AS BIGINT) AS copies
         |FROM r WHERE rn = 1 ORDER BY best_id""".stripMargin,
    // count-min: the grid sums and min-of-cells are exact integer math on
    // identical md5-derived cells, so estimate AND exact replay bit-equal
    "q_docs_cms" -> {
      val cellOf = (k: Int) =>
        s"CAST('0x' || substr(md5('$k' || word), 1, 8) AS BIGINT) % 1024"
      val cellUnion = (0 until 4)
        .map(k => s"SELECT $k AS row, ${cellOf(k)} AS cell, n FROM vocab")
        .mkString(" UNION ALL ")
      val probeUnion = (0 until 4)
        .map(k => s"SELECT word, n, $k AS row, ${cellOf(k)} AS cell FROM top")
        .mkString(" UNION ALL ")
      s"""WITH vocab AS (
         |  SELECT word, count(*) AS n FROM (
         |    SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                              x -> length(x) > 0)) AS word
         |    FROM documents)
         |  GROUP BY word),
         |cells AS (
         |  SELECT row, cell, CAST(sum(n) AS BIGINT) AS cnt
         |  FROM ($cellUnion) GROUP BY row, cell),
         |top AS (SELECT word, n FROM vocab ORDER BY n DESC, word LIMIT 20),
         |probes AS ($probeUnion)
         |SELECT p.word, CAST(max(p.n) AS BIGINT) AS exact_cnt,
         |  CAST(min(c.cnt) AS BIGINT) AS cms_est
         |FROM probes p JOIN cells c ON p.row = c.row AND p.cell = c.cell
         |GROUP BY p.word
         |ORDER BY exact_cnt DESC, p.word""".stripMargin
    },
    // shares are exact integer bps (cell·10000 div total) — no float
    // division whose rounding could drift between engines
    "q_docs_accounting" ->
      """WITH cells AS (
        |  SELECT source, lang, count(*) AS n_docs,
        |    CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS n_tokens,
        |    CAST(sum(length(text)) AS BIGINT) AS n_chars
        |  FROM documents GROUP BY source, lang),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS t_docs,
        |             CAST(sum(n_tokens) AS BIGINT) AS t_tokens,
        |             CAST(sum(n_chars) AS BIGINT) AS t_chars
        |      FROM cells)
        |SELECT source, lang, n_docs, n_tokens, n_chars,
        |  (n_docs * 10000) // t_docs AS doc_share_bps,
        |  (n_tokens * 10000) // t_tokens AS token_share_bps
        |FROM cells CROSS JOIN t
        |ORDER BY source, lang""".stripMargin,
    // the composed pipeline: dedup-keep-best ∘ decontaminate ∘ quality
    // floor, each stage reusing the exact CTE text of its standalone oracle
    "q_docs_curation" ->
      s"""WITH $qualityCtes,
         |j AS (SELECT md5(d.text) AS content_hash, q.doc_id, q.quality
         |      FROM q JOIN documents d USING (doc_id)),
         |r AS (SELECT content_hash, doc_id, quality,
         |        row_number() OVER (PARTITION BY content_hash
         |                           ORDER BY quality DESC, doc_id) AS rn
         |      FROM j),
         |best AS (SELECT doc_id, quality FROM r WHERE rn = 1),
         |w AS (
         |  SELECT doc_id, source,
         |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                x -> length(x) > 0) AS words
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, source,
         |    unnest(list_transform(range(1, greatest(len(words) - 12, 1) + 1),
         |      i -> CAST('0x' || substr(md5(array_to_string(words[i:i+12], ' ')), 1, 15) AS BIGINT)))
         |      AS gram
         |  FROM w),
         |leaky AS (
         |  SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT source) > 1),
         |flagged AS (SELECT DISTINCT g.doc_id FROM g JOIN leaky USING (gram))
         |SELECT b.doc_id, d.lang, d.source, b.quality
         |FROM best b
         |JOIN documents d USING (doc_id)
         |WHERE b.quality >= 0.6
         |  AND b.doc_id NOT IN (SELECT doc_id FROM flagged)
         |ORDER BY b.doc_id""".stripMargin,
    "q_docs_contamination" ->
      """WITH n AS (
        |  SELECT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp,
        |         doc_id, source
        |  FROM documents)
        |SELECT fp,
        |  array_to_string(list_sort(list(DISTINCT source)), ',') AS sources,
        |  array_to_string(list_sort(list(doc_id)), ',') AS doc_ids,
        |  count(*) AS n_docs
        |FROM n GROUP BY fp HAVING count(DISTINCT source) > 1 ORDER BY fp""".stripMargin,
    "q_docs_sample" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10 = 0
        |ORDER BY doc_id""".stripMargin,
    // chunking: window 64 / stride 48 over the shared BPE-ish tokens;
    // DuckDB's range(a, b, s) is exclusive of b == Spark's
    // sequence(0, cnt-1, s) inclusive bound
    "q_docs_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]') AS toks
        |  FROM documents),
        |c AS (SELECT doc_id, toks, len(toks) AS cnt FROM t WHERE len(toks) > 0),
        |s AS (SELECT doc_id, toks, cnt, unnest(range(0, cnt, 48)) AS i FROM c)
        |SELECT doc_id,
        |  CAST(i // 48 AS BIGINT) AS chunk_idx,
        |  CAST(i AS BIGINT) AS tok_start,
        |  CAST(least(64, cnt - i) AS BIGINT) AS n_tokens,
        |  array_to_string(list_slice(toks, i + 1, i + 64), ' ') AS chunk_text
        |FROM s ORDER BY doc_id, chunk_idx""".stripMargin,
    // packing: the oracle states the prefix sum as ONE flat window — the
    // Spark side computes the identical arithmetic hierarchically
    // (bounded shards + shard-base offsets) and the hashes must agree
    "q_docs_pack" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
        |  FROM t)
        |SELECT doc_id, source, n_tokens,
        |  CAST(start // 2048 AS BIGINT) AS bin_id,
        |  CAST(start % 2048 AS BIGINT) AS bin_offset,
        |  (n_tokens > 0 AND (start + n_tokens - 1) // 2048 > start // 2048) AS spans_boundary
        |FROM c ORDER BY doc_id""".stripMargin,
    // weighted sample: integer priorities h*1e6/w (ln/pow would round
    // differently across engines); k smallest = ∝-token-count sample
    "q_docs_wsample" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 17, 8) AS BIGINT) AS h
        |  FROM documents)
        |SELECT doc_id, source, n_tokens, priority FROM (
        |  SELECT doc_id, source, n_tokens,
        |    h * 1000000 // greatest(n_tokens, 1) AS priority
        |  FROM t ORDER BY priority, doc_id LIMIT 50)
        |ORDER BY doc_id""".stripMargin,
    // DSIR importance scores: per-bucket ln Laplace ratios on the 1e-6
    // integer grid BEFORE the per-doc sum (exact integer arithmetic);
    // target = lang='en', B=256 hashed unigram+bigram buckets, top 100
    "q_docs_dsir" ->
      """WITH words AS (
        |  SELECT doc_id, lang, source,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> length(x) > 0) AS ws
        |  FROM documents),
        |feats AS (
        |  SELECT doc_id, lang, source,
        |    CAST('0x' || substr(md5(f), 1, 8) AS BIGINT) % 256 AS b
        |  FROM (
        |    SELECT doc_id, lang, source, unnest(ws) AS f FROM words
        |    UNION ALL
        |    SELECT doc_id, lang, source,
        |      unnest(list_transform(range(1, greatest(len(ws), 1)),
        |                            i -> ws[i] || ' ' || ws[i + 1])) AS f
        |    FROM words)),
        |raw AS (SELECT b, count(*) AS cnt_r FROM feats GROUP BY b),
        |tgt AS (SELECT b, count(*) AS cnt_t FROM feats WHERE lang = 'en' GROUP BY b),
        |tot AS (SELECT (SELECT count(*) FROM feats) AS n_r,
        |               (SELECT count(*) FROM feats WHERE lang = 'en') AS n_t),
        |w AS (
        |  SELECT r.b,
        |    CAST(floor(ln(coalesce(t.cnt_t, 0) + 1) * 1000000 + 0.5) AS BIGINT)
        |    - CAST(floor(ln(r.cnt_r + 1) * 1000000 + 0.5) AS BIGINT)
        |    + (SELECT CAST(floor(ln(n_r + 256) * 1000000 + 0.5) AS BIGINT)
        |             - CAST(floor(ln(n_t + 256) * 1000000 + 0.5) AS BIGINT) FROM tot) AS wq
        |  FROM raw r LEFT JOIN tgt t USING (b)),
        |s AS (
        |  SELECT f.doc_id, f.lang, f.source, count(*) AS n_feats,
        |    CAST(sum(w.wq) AS BIGINT) AS score_q
        |  FROM feats f JOIN w ON f.b = w.b
        |  GROUP BY f.doc_id, f.lang, f.source)
        |SELECT doc_id, lang, source, n_feats, score_q,
        |  round(score_q / 1000000.0, 4) AS score
        |FROM (SELECT * FROM s ORDER BY score_q DESC, doc_id LIMIT 100)
        |ORDER BY doc_id""".stripMargin,
    "q_docs_exact_dedup" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS copies
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,
    // set-similarity join oracle = BRUTE-FORCE all pairs: hash equality
    // against the prefix-filtered Spark plan proves the filter complete
    "q_docs_setsim_join" ->
      """WITH words AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                             x -> length(x) > 0) AS ws
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_sort(list_distinct(
        |    list_transform(range(1, greatest(len(ws) - 2, 0) + 1),
        |      i -> substr(md5(array_to_string(ws[i:i+2], ' ')), 1, 16)))) AS ts
        |  FROM words WHERE len(ws) >= 3),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
        |      / len(list_distinct(a.ts || b.ts)) AS j
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, round(j, 6) AS jaccard
        |FROM pairs WHERE j >= 0.6 ORDER BY id_a, id_b""".stripMargin,
    // substring spans: same dup-position set, segmented into merged
    // removal intervals by a running-sum span id (gap > k starts a span)
    "q_docs_substring_spans" ->
      """WITH words AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                             x -> length(x) > 0) AS ws
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, u.p AS pos, u.g AS gh FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(range(1, greatest(len(ws) - 5, 0) + 1),
        |        i -> {'p': i, 'g': substr(md5(array_to_string(ws[i:i+5], ' ')), 1, 16)})) AS u
        |    FROM words)),
        |dup AS (SELECT gh FROM pos GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
        |dp AS (SELECT doc_id, pos FROM pos WHERE gh IN (SELECT gh FROM dup)),
        |m AS (
        |  SELECT doc_id, pos, lag(pos) OVER w AS prev
        |  FROM dp WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |sp AS (
        |  SELECT doc_id, pos,
        |    sum(CASE WHEN prev IS NULL OR pos - prev > 6 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT doc_id, CAST(sid AS BIGINT) AS span_id,
        |  CAST(min(pos) AS BIGINT) AS start_pos,
        |  CAST(max(pos) + 5 AS BIGINT) AS end_pos,
        |  CAST(max(pos) + 5 - min(pos) + 1 AS BIGINT) AS span_tokens
        |FROM sp GROUP BY doc_id, sid ORDER BY doc_id, span_id""".stripMargin,
    // substring APPLY: cut the merged removal spans out of the token
    // stream; kept positions are the anti-join of 1..len(ws) against the
    // span intervals, survivors re-join with single spaces
    "q_docs_substring_apply" ->
      """WITH words AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                             x -> length(x) > 0) AS ws
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, u.p AS pos, u.g AS gh FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(range(1, greatest(len(ws) - 5, 0) + 1),
        |        i -> {'p': i, 'g': substr(md5(array_to_string(ws[i:i+5], ' ')), 1, 16)})) AS u
        |    FROM words)),
        |dup AS (SELECT gh FROM pos GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
        |dp AS (SELECT doc_id, pos FROM pos WHERE gh IN (SELECT gh FROM dup)),
        |m AS (
        |  SELECT doc_id, pos, lag(pos) OVER w AS prev
        |  FROM dp WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |sp AS (
        |  SELECT doc_id, pos,
        |    sum(CASE WHEN prev IS NULL OR pos - prev > 6 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m),
        |spans AS (
        |  SELECT doc_id, min(pos) AS s, max(pos) + 5 AS e
        |  FROM sp GROUP BY doc_id, sid),
        |allpos AS (
        |  SELECT w.doc_id, t.p, w.ws[t.p] AS tok
        |  FROM words w, unnest(range(1, len(w.ws) + 1)) AS t(p)),
        |kept AS (
        |  SELECT a.doc_id, a.p, a.tok
        |  FROM allpos a LEFT JOIN spans s
        |    ON a.doc_id = s.doc_id AND a.p BETWEEN s.s AND s.e
        |  WHERE s.doc_id IS NULL),
        |ka AS (
        |  SELECT doc_id, count(*) AS kept_tokens,
        |    array_to_string(list(tok ORDER BY p), ' ') AS kept_text
        |  FROM kept GROUP BY doc_id)
        |SELECT w.doc_id, CAST(len(w.ws) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(k.kept_tokens, 0) AS BIGINT) AS kept_tokens,
        |  CAST(len(w.ws) - coalesce(k.kept_tokens, 0) AS BIGINT) AS removed_tokens,
        |  coalesce(k.kept_text, '') AS kept_text
        |FROM words w LEFT JOIN ka k USING (doc_id)
        |ORDER BY w.doc_id""".stripMargin,
    // substring dedup: token 6-grams in >= 2 distinct docs; per-doc
    // interval-union coverage via a lag window over the dup positions only
    "q_docs_substring_dedup" ->
      """WITH words AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                             x -> length(x) > 0) AS ws
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, u.p AS pos, u.g AS gh FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(range(1, greatest(len(ws) - 5, 0) + 1),
        |        i -> {'p': i, 'g': substr(md5(array_to_string(ws[i:i+5], ' ')), 1, 16)})) AS u
        |    FROM words)),
        |dup AS (SELECT gh FROM pos GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
        |dp AS (SELECT doc_id, pos FROM pos WHERE gh IN (SELECT gh FROM dup)),
        |cov AS (
        |  SELECT doc_id,
        |    CASE WHEN lag(pos) OVER w IS NULL THEN 6
        |         ELSE least(6, pos - lag(pos) OVER w) END AS inc
        |  FROM dp WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |agg AS (SELECT doc_id, count(*) AS dup_grams,
        |        CAST(sum(inc) AS BIGINT) AS dup_tokens FROM cov GROUP BY doc_id)
        |SELECT w.doc_id, CAST(len(w.ws) AS BIGINT) AS n_tokens,
        |  coalesce(a.dup_grams, 0) AS dup_grams,
        |  coalesce(a.dup_tokens, 0) AS dup_tokens,
        |  round(CASE WHEN len(w.ws) > 0
        |    THEN CAST(coalesce(a.dup_tokens, 0) AS DOUBLE) / len(w.ws)
        |    ELSE 0.0 END, 4) AS dup_frac
        |FROM words w LEFT JOIN agg a USING (doc_id)
        |ORDER BY w.doc_id""".stripMargin,
    // stratified: md5 chars 25-32 as the priority draw (disjoint from the
    // split/mixture/weighted slices), exact perSource smallest per stratum
    "q_docs_stratified" ->
      """SELECT source, rnk, doc_id, priority FROM (
        |  SELECT source, doc_id, priority,
        |    row_number() OVER (PARTITION BY source ORDER BY priority, doc_id) AS rnk
        |  FROM (
        |    SELECT doc_id, source,
        |      CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 25, 8) AS BIGINT) AS priority
        |    FROM documents))
        |WHERE rnk <= 5 ORDER BY source, rnk""".stripMargin,
    // √n is one correctly-rounded IEEE op (identical across engines); the
    // denominator Σ√n is quantized to a 1e-6 integer grid before summing so
    // the only float-order-sensitive step becomes exact integer math
    "q_docs_lang_mixture" ->
      """WITH counts AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
        |q AS (SELECT lang, n_docs,
        |        CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS q
        |      FROM counts),
        |tot AS (SELECT sum(q) AS q_tot FROM q),
        |targets AS (
        |  SELECT lang, n_docs,
        |    CAST(floor(CAST(q * 200 AS DOUBLE) / CAST(q_tot AS DOUBLE) + 0.5) AS BIGINT)
        |      AS target
        |  FROM q CROSS JOIN tot),
        |p AS (SELECT doc_id, lang,
        |        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 25, 8) AS BIGINT)
        |          AS priority
        |      FROM documents),
        |r AS (SELECT lang, doc_id,
        |        row_number() OVER (PARTITION BY lang ORDER BY priority, doc_id) AS rnk
        |      FROM p)
        |SELECT r.lang, r.rnk, r.doc_id, t.n_docs, t.target
        |FROM r JOIN targets t ON r.lang = t.lang
        |WHERE r.rnk <= t.target
        |ORDER BY r.lang, r.rnk""".stripMargin,
    // unigram logprob: per-term ln quantized to a 1e-6 integer grid
    // BEFORE the per-doc sum — exact integer arithmetic on both engines
    // BM25 with rational k1/b: the tf-saturation weight is exact integer
    // arithmetic (×10T), only the idf takes the 1e-6 grid ln snap, each
    // contribution is an exact integer floor-division — ranks can't flap.
    "q_docs_bm25" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                       x -> length(x) > 0)) AS term
        |  FROM documents),
        |q AS (SELECT * FROM (VALUES
        |  (1, 'spark shuffle join fast'),
        |  (2, 'window agg merge table'),
        |  (3, 'customer data scan')) AS v(query_id, qtext)),
        |qt AS (
        |  SELECT DISTINCT query_id,
        |    unnest(list_filter(string_split_regex(lower(qtext), '[^a-z0-9]+'),
        |                       x -> length(x) > 0)) AS term
        |  FROM q),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY 1),
        |nn AS (SELECT count(*) AS n FROM documents),
        |tt AS (SELECT count(*) AS t FROM tk),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |idf AS (
        |  SELECT term,
        |    CAST(floor(ln((nn.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
        |         * 1000000 + 0.5) AS BIGINT) AS q_idf
        |  FROM dfq, nn),
        |c AS (
        |  SELECT qt.query_id, tf.doc_id,
        |    (CAST(idf.q_idf AS HUGEINT) * 22 * tf.tf * tt.t)
        |      // (CAST(10 AS HUGEINT) * tt.t * tf.tf + CAST(3 AS HUGEINT) * tt.t
        |          + CAST(9 AS HUGEINT) * nn.n * dl.dl) AS contrib
        |  FROM qt
        |  JOIN tf USING (term)
        |  JOIN dl USING (doc_id)
        |  JOIN idf USING (term), nn, tt),
        |s AS (
        |  SELECT query_id, doc_id, CAST(sum(contrib) AS BIGINT) AS score_grid,
        |         count(*) AS n_terms
        |  FROM c GROUP BY 1, 2),
        |r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY score_grid DESC, doc_id) AS rank
        |  FROM s)
        |SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS BIGINT) AS rank,
        |       doc_id, score_grid, n_terms
        |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "q_docs_unigram_lp" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                       x -> length(x) > 0)) AS term
        |  FROM documents),
        |ct AS (SELECT term,
        |         CAST(floor(ln(CAST(count(*) AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS q
        |       FROM tk GROUP BY term),
        |qn AS (SELECT CAST(floor(ln(CAST(count(*) AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS v
        |       FROM tk),
        |d AS (
        |  SELECT tk.doc_id, count(*) AS n_tokens, CAST(sum(ct.q) AS BIGINT) AS sq
        |  FROM tk JOIN ct USING (term) GROUP BY tk.doc_id)
        |SELECT d.doc_id, d.n_tokens,
        |  round(CAST(qn.v * d.n_tokens - d.sq AS DOUBLE) / 1000000.0 / d.n_tokens, 6)
        |    AS avg_neg_logp
        |FROM d, qn ORDER BY d.doc_id""".stripMargin,
    // bigram surprisal: per-pair -ln P(w2|w1) = ln C(w1) - ln C(w1,w2)
    // on the 1e-6 grid per MODEL row; per-doc sum is exact integers
    "q_docs_surprisal" ->
      """WITH words AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                             x -> length(x) > 0) AS ws
        |  FROM documents),
        |occ AS (
        |  SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(range(1, greatest(len(ws), 1)),
        |                            i -> {'w1': ws[i], 'w2': ws[i + 1]})) AS u
        |    FROM words)),
        |pc AS (SELECT w1, w2, count(*) AS c12 FROM occ GROUP BY w1, w2),
        |cc AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM pc GROUP BY w1),
        |model AS (
        |  SELECT pc.w1, pc.w2,
        |    CAST(floor(ln(CAST(cc.c1 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
        |    - CAST(floor(ln(CAST(pc.c12 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS nlp_q
        |  FROM pc JOIN cc USING (w1))
        |SELECT o.doc_id, count(*) AS n_bigrams,
        |  round(CAST(sum(m.nlp_q) AS DOUBLE) / count(*) / 1000000.0, 4) AS surprisal
        |FROM occ o JOIN model m ON o.w1 = m.w1 AND o.w2 = m.w2
        |GROUP BY o.doc_id ORDER BY o.doc_id""".stripMargin,
    "q_docs_minhash" ->
      s"""WITH $minhashCtes
         |SELECT h.doc_id, h0, h1, h2, h3, h4, h5, h6, h7,
         |  md5(concat_ws('|', h0, h1)) AS band0,
         |  md5(concat_ws('|', h2, h3)) AS band1,
         |  md5(concat_ws('|', h4, h5)) AS band2,
         |  md5(concat_ws('|', h6, h7)) AS band3
         |FROM h ORDER BY doc_id""".stripMargin,
    "q_docs_lsh_pairs" ->
      s"""WITH $minhashCtes
         |SELECT doc_a, doc_b FROM pairs ORDER BY doc_a, doc_b""".stripMargin,
    // triangles enumerated once each via a<b<c over the deduped pair set
    "q_docs_triangles" ->
      s"""WITH $minhashCtes,
         |t AS (
         |  SELECT ab.doc_a AS a, ab.doc_b AS b, bc.doc_b AS c
         |  FROM pairs ab
         |  JOIN pairs bc ON ab.doc_b = bc.doc_a
         |  JOIN pairs ac ON ac.doc_a = ab.doc_a AND ac.doc_b = bc.doc_b)
         |SELECT doc_id, count(*) AS n_triangles FROM (
         |  SELECT unnest([a, b, c]) AS doc_id FROM t)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // lcc = 2·tri/(deg·(deg−1)) in exact integer bps — BIGINT throughout
    "q_docs_lcc" ->
      s"""WITH $minhashCtes,
         |t AS (
         |  SELECT ab.doc_a AS a, ab.doc_b AS b, bc.doc_b AS c
         |  FROM pairs ab
         |  JOIN pairs bc ON ab.doc_b = bc.doc_a
         |  JOIN pairs ac ON ac.doc_a = ab.doc_a AND ac.doc_b = bc.doc_b),
         |tri AS (
         |  SELECT doc_id, count(*) AS n_triangles FROM (
         |    SELECT unnest([a, b, c]) AS doc_id FROM t)
         |  GROUP BY doc_id),
         |deg AS (
         |  SELECT doc_id, count(*) AS degree FROM (
         |    SELECT doc_a AS doc_id FROM pairs
         |    UNION ALL SELECT doc_b FROM pairs)
         |  GROUP BY doc_id)
         |SELECT tri.doc_id, deg.degree, tri.n_triangles,
         |  CAST((tri.n_triangles * 20000) // (deg.degree * (deg.degree - 1))
         |       AS BIGINT) AS lcc_bps
         |FROM tri JOIN deg ON tri.doc_id = deg.doc_id
         |WHERE deg.degree >= 2
         |ORDER BY tri.doc_id""".stripMargin,
    // fixed-point BIGINT PageRank (1e-9 rank units): every step is integer
    // arithmetic, so there is no float summation order to diverge on
    "q_docs_pagerank" -> {
      val iterCtes = (1 to 3).map { k =>
        s"""c$k AS (
           |  SELECT e.dst, sum(r.r // e.outdeg) AS m
           |  FROM edges e JOIN r${k - 1} r ON e.src = r.doc_id
           |  GROUP BY e.dst),
           |r$k AS (
           |  SELECT d.doc_id,
           |    CAST((150000000 // nn.n) + (85 * coalesce(c$k.m, 0)) // 100 AS BIGINT) AS r
           |  FROM documents d CROSS JOIN nn LEFT JOIN c$k ON d.doc_id = c$k.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH $minhashCtes,
         |edges0 AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |           UNION ALL SELECT doc_b, doc_a FROM pairs),
         |deg AS (SELECT src, count(*) AS outdeg FROM edges0 GROUP BY src),
         |edges AS (SELECT e.src, e.dst, g.outdeg FROM edges0 e JOIN deg g ON e.src = g.src),
         |nn AS (SELECT count(*) AS n FROM documents),
         |r0 AS (SELECT doc_id, CAST(1000000000 // nn.n AS BIGINT) AS r
         |       FROM documents CROSS JOIN nn),
         |$iterCtes
         |SELECT d.doc_id, coalesce(g.outdeg, 0) AS degree, r3.r AS rank_fp
         |FROM documents d
         |LEFT JOIN deg g ON d.doc_id = g.src
         |JOIN r3 ON d.doc_id = r3.doc_id
         |ORDER BY rank_fp DESC, d.doc_id""".stripMargin
    },
    // clusters (recursive closure) × fixed-point PageRank, argmax per
    // cluster — both legs reuse their standalone oracles' CTE text
    "q_docs_central_keep" -> {
      val iterCtes = (1 to 3).map { k =>
        s"""c$k AS (
           |  SELECT e.dst, sum(r.r // e.outdeg) AS m
           |  FROM edgesd e JOIN r${k - 1} r ON e.src = r.doc_id
           |  GROUP BY e.dst),
           |r$k AS (
           |  SELECT d.doc_id,
           |    CAST((150000000 // nn.n) + (85 * coalesce(c$k.m, 0)) // 100 AS BIGINT) AS r
           |  FROM documents d CROSS JOIN nn LEFT JOIN c$k ON d.doc_id = c$k.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH RECURSIVE $minhashCtes,
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
         |labels AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
         |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
         |edgesd AS (SELECT e.src, e.dst, g.outdeg FROM edges e JOIN deg g ON e.src = g.src),
         |nn AS (SELECT count(*) AS n FROM documents),
         |r0 AS (SELECT doc_id, CAST(1000000000 // nn.n AS BIGINT) AS r
         |       FROM documents CROSS JOIN nn),
         |$iterCtes,
         |ranked AS (
         |  SELECT l.cluster_id, l.doc_id, r3.r AS rank_fp,
         |    row_number() OVER (PARTITION BY l.cluster_id
         |                       ORDER BY r3.r DESC, l.doc_id) AS rn,
         |    count(*) OVER (PARTITION BY l.cluster_id) AS n_members
         |  FROM labels l JOIN r3 ON l.doc_id = r3.doc_id)
         |SELECT cluster_id, n_members, doc_id AS kept_id, rank_fp
         |FROM ranked WHERE rn = 1 ORDER BY cluster_id""".stripMargin
    },
    // unrolled 3-round BPE: same literal space-bounded single-pass replace
    // on both engines, so the evolving vocabulary representation is
    // byte-identical round for round
    "q_docs_bpe" -> {
      val roundCtes = (1 to 3).map { k =>
        s"""p$k AS (
           |  SELECT pair, CAST(sum(n) AS BIGINT) AS cnt FROM (
           |    SELECT n, unnest(list_transform(range(1, len(toks)),
           |                                    i -> toks[i] || ' ' || toks[i + 1])) AS pair
           |    FROM (SELECT n, string_split(rep, ' ') AS toks FROM v${k - 1}))
           |  GROUP BY pair),
           |t$k AS (SELECT pair FROM p$k ORDER BY cnt DESC, pair LIMIT 1),
           |v$k AS (
           |  SELECT n, trim(replace(' ' || rep || ' ', ' ' || t$k.pair || ' ',
           |                         ' ' || replace(t$k.pair, ' ', '') || ' ')) AS rep
           |  FROM v${k - 1} CROSS JOIN t$k),
           |o$k AS (
           |  SELECT CAST($k AS BIGINT) AS iter, rnk, pair,
           |         replace(pair, ' ', '') AS merged, cnt FROM (
           |    SELECT pair, cnt,
           |      row_number() OVER (ORDER BY cnt DESC, pair) AS rnk
           |    FROM p$k) WHERE rnk <= 5)""".stripMargin
      }.mkString(",\n")
      s"""WITH w AS (
         |  SELECT w, count(*) AS n FROM (
         |    SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                              x -> length(x) > 0)) AS w
         |    FROM documents)
         |  GROUP BY w),
         |v0 AS (SELECT n, array_to_string(string_split(w, ''), ' ') AS rep FROM w),
         |$roundCtes
         |SELECT iter, rnk, pair, merged, cnt
         |FROM (SELECT * FROM o1 UNION ALL SELECT * FROM o2 UNION ALL SELECT * FROM o3)
         |ORDER BY iter, rnk""".stripMargin
    },
    // BPE application: the SAME learning CTE chain as q_docs_bpe, then the
    // three winning merges applied to every document's word stream and the
    // post-merge tokens counted per doc
    "q_docs_bpe_encode" -> {
      val roundCtes = (1 to 3).map { k =>
        s"""p$k AS (
           |  SELECT pair, CAST(sum(n) AS BIGINT) AS cnt FROM (
           |    SELECT n, unnest(list_transform(range(1, len(toks)),
           |                                    i -> toks[i] || ' ' || toks[i + 1])) AS pair
           |    FROM (SELECT n, string_split(rep, ' ') AS toks FROM v${k - 1}))
           |  GROUP BY pair),
           |t$k AS (SELECT pair FROM p$k ORDER BY cnt DESC, pair LIMIT 1),
           |v$k AS (
           |  SELECT n, trim(replace(' ' || rep || ' ', ' ' || t$k.pair || ' ',
           |                         ' ' || replace(t$k.pair, ' ', '') || ' ')) AS rep
           |  FROM v${k - 1} CROSS JOIN t$k),
           |e$k AS (
           |  SELECT doc_id, wc, trim(replace(' ' || rep || ' ', ' ' || t$k.pair || ' ',
           |                         ' ' || replace(t$k.pair, ' ', '') || ' ')) AS rep
           |  FROM e${k - 1} CROSS JOIN t$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH w AS (
         |  SELECT w, count(*) AS n FROM (
         |    SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                              x -> length(x) > 0)) AS w
         |    FROM documents)
         |  GROUP BY w),
         |v0 AS (SELECT n, array_to_string(string_split(w, ''), ' ') AS rep FROM w),
         |e0 AS (
         |  SELECT doc_id, length(w) AS wc,
         |         array_to_string(string_split(w, ''), ' ') AS rep FROM (
         |    SELECT doc_id,
         |      unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                         x -> length(x) > 0)) AS w
         |    FROM documents)),
         |$roundCtes
         |SELECT doc_id, count(*) AS n_words, CAST(sum(wc) AS BIGINT) AS n_chars,
         |  CAST(sum(len(string_split(rep, ' '))) AS BIGINT) AS n_bpe_tokens
         |FROM e3 GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    // Gopher hard rules: integer centichar mean length, bps top-word
    // dominance, tiny stop list — every metric exact, booleans shared
    "q_docs_gopher_rules" ->
      """WITH words AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                             x -> length(x) > 0) AS ws
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(coalesce(list_sum(list_transform(ws, x -> length(x))), 0) AS BIGINT)
        |      AS n_chars,
        |    CAST(len(list_filter(ws, x -> x IN ('the', 'a', 'and', 'of', 'to')))
        |      AS BIGINT) AS n_stop
        |  FROM words),
        |top AS (
        |  SELECT doc_id, max(c) AS top_cnt FROM (
        |    SELECT doc_id, w, count(*) AS c FROM (
        |      SELECT doc_id, unnest(ws) AS w FROM words) GROUP BY doc_id, w)
        |  GROUP BY doc_id),
        |m AS (
        |  SELECT b.doc_id, b.n_words, b.n_stop,
        |    CAST(CASE WHEN b.n_words > 0 THEN (b.n_chars * 100) // b.n_words
        |         ELSE 0 END AS BIGINT) AS mean_len_c,
        |    CAST(CASE WHEN b.n_words > 0
        |         THEN (coalesce(t.top_cnt, 0) * 10000) // b.n_words
        |         ELSE 0 END AS BIGINT) AS top_bps
        |  FROM base b LEFT JOIN top t USING (doc_id))
        |SELECT doc_id, n_words, n_stop, mean_len_c, top_bps,
        |  (n_words BETWEEN 30 AND 100000) AS r_words,
        |  (mean_len_c BETWEEN 300 AND 1000) AS r_mean,
        |  (n_stop >= 1) AS r_stop,
        |  (top_bps <= 2000) AS r_top,
        |  ((n_words BETWEEN 30 AND 100000) AND (mean_len_c BETWEEN 300 AND 1000)
        |    AND (n_stop >= 1) AND (top_bps <= 2000)) AS passes
        |FROM m ORDER BY doc_id""".stripMargin,
    // Connected components as transitive reachability: bidirectional
    // edges from the capped LSH pairs, recursive closure, min reachable
    // id per vertex = the cluster label min-label propagation converges to.
    "q_docs_clusters" -> clustersOracleSql,
    "q_docs_lp_communities" -> lpOracleSql,
    // the stars variant must land on the EXACT same labeling — one oracle,
    // two distributed strategies
    "q_docs_clusters_stars" -> clustersOracleSql,
    "q_docs_neardup" ->
      s"""WITH $minhashCtes,
         |ds AS (SELECT doc_id, list_distinct(s) AS shs FROM sh),
         |j AS (
         |  SELECT p.doc_a, p.doc_b,
         |    CAST(len(a.shs) + len(b.shs)
         |         - len(list_distinct(list_concat(a.shs, b.shs))) AS DOUBLE)
         |    / CAST(len(list_distinct(list_concat(a.shs, b.shs))) AS DOUBLE) AS jac
         |  FROM pairs p
         |  JOIN ds a ON p.doc_a = a.doc_id
         |  JOIN ds b ON p.doc_b = b.doc_id)
         |SELECT doc_a, doc_b, round(jac, 6) AS jaccard FROM j
         |WHERE round(jac, 6) >= 0.2 ORDER BY doc_a, doc_b""".stripMargin,
    // asymmetric containment over the same LSH candidates: the
    // intersection is |A| + |B| − |A∪B| on the distinct shingle sets —
    // identical list arithmetic in both engines.
    "q_docs_containment" ->
      s"""WITH $minhashCtes,
         |ds AS (SELECT doc_id, list_distinct(s) AS shs FROM sh),
         |j AS (
         |  SELECT p.doc_a, p.doc_b,
         |    len(a.shs) AS n_a, len(b.shs) AS n_b,
         |    len(a.shs) + len(b.shs)
         |      - len(list_distinct(list_concat(a.shs, b.shs))) AS n_inter
         |  FROM pairs p
         |  JOIN ds a ON p.doc_a = a.doc_id
         |  JOIN ds b ON p.doc_b = b.doc_id)
         |SELECT doc_a, doc_b,
         |  CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
         |  CAST(n_inter AS BIGINT) AS n_inter,
         |  round(CAST(n_inter AS DOUBLE) / CAST(least(n_a, n_b) AS DOUBLE), 6)
         |    AS containment
         |FROM j
         |WHERE round(CAST(n_inter AS DOUBLE) / CAST(least(n_a, n_b) AS DOUBLE), 6)
         |      >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q_docs_simhash" ->
      s"""WITH $simhashCtes
         |SELECT doc_id, simhash FROM sh16 ORDER BY doc_id""".stripMargin,
    "q_docs_simhash_pairs" ->
      s"""WITH $simhashCtes,
         |$simhashPairsCtes
         |SELECT id_a, id_b, hamming FROM spairs ORDER BY id_a, id_b""".stripMargin,
    // SimHash-graph clustering: same recursive-closure oracle shape as
    // q_docs_clusters, over the Hamming candidate pairs
    "q_docs_simhash_clusters" ->
      s"""WITH RECURSIVE $simhashCtes,
         |$simhashPairsCtes,
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM spairs
         |  UNION ALL SELECT id_b, id_a FROM spairs),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
         |SELECT id AS doc_id, min(r) AS cluster_id, (id = min(r)) AS keep
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    "q_docs_minhash_est" ->
      s"""WITH $minhashCtes,
         |ds AS (SELECT doc_id, list_distinct(s) AS shs FROM sh)
         |SELECT p.doc_a, p.doc_b,
         |  round(CAST(${(0 until Dedup.NumHashes)
              .map(k => s"(CASE WHEN a.h$k = b.h$k THEN 1 ELSE 0 END)")
              .mkString(" + ")} AS DOUBLE) / ${Dedup.NumHashes}.0, 6) AS est_jaccard,
         |  round(CAST(len(da.shs) + len(db.shs)
         |             - len(list_distinct(list_concat(da.shs, db.shs))) AS DOUBLE)
         |        / CAST(len(list_distinct(list_concat(da.shs, db.shs))) AS DOUBLE), 6)
         |    AS jaccard
         |FROM pairs p
         |JOIN h a ON p.doc_a = a.doc_id
         |JOIN h b ON p.doc_b = b.doc_id
         |JOIN ds da ON p.doc_a = da.doc_id
         |JOIN ds db ON p.doc_b = db.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q_events_dow" ->
      """SELECT CAST(isodow(ts) AS BIGINT) AS isodow, CAST(hour(ts) AS BIGINT) AS hh,
        |  count(*) AS cnt, round(avg(value), 4) AS avg_value
        |FROM events GROUP BY 1, 2 ORDER BY isodow, hh""".stripMargin,
    "q_events_dedup_consec" ->
      """WITH s AS (
        |  SELECT event_id, user_id, value,
        |    lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
        |  FROM events)
        |SELECT event_id, user_id, value FROM s
        |WHERE prev_value IS NULL OR value <> prev_value
        |ORDER BY event_id""".stripMargin,
    // each event belongs to exactly window/slide = 4 hops; hop starts are
    // the floor-to-15min boundary minus k*15min, k = 0..3 (epoch-aligned,
    // matching Spark's window() alignment)
    "q_events_hopping" ->
      """WITH e AS (SELECT value, epoch_us(ts) AS us FROM events),
        |h AS (
        |  SELECT value,
        |    (us // 900000000) * 900000000 - k.k * 900000000 AS start_us
        |  FROM e CROSS JOIN (SELECT unnest(range(0, 4)) AS k) k)
        |SELECT make_timestamp(start_us) AS hop_start, count(*) AS cnt,
        |  round(sum(value), 2) AS sum_val
        |FROM h GROUP BY 1 ORDER BY hop_start""".stripMargin,
    "q_docs_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]+', ' ', 'g'),
        |                      ' +', ' ', 'g')) AS norm_text,
        |  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]+', ' ', 'g'),
        |                          ' +', ' ', 'g'))) AS norm_hash,
        |  CAST(length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]+', ' ', 'g'),
        |                                  ' +', ' ', 'g'))) AS BIGINT) AS norm_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_docs_bigrams" ->
      """WITH words AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                             x -> length(x) > 0) AS ws
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, greatest(len(ws), 1)),
        |                          i -> ws[i] || ' ' || ws[i + 1])) AS bigram
        |  FROM words)
        |SELECT bigram, count(*) AS cnt, min(doc_id) AS first_doc
        |FROM bg GROUP BY bigram HAVING count(*) >= 3 ORDER BY bigram""".stripMargin,
    "q_emb_topk_agg" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 20),
         |c AS (SELECT vec_id AS cand_id, embedding AS c_emb FROM embeddings),
         |s AS (
         |  SELECT query_id, cand_id, ${cosSql("q_emb", "c_emb")} AS cos
         |  FROM q, c WHERE query_id <> cand_id),
         |r AS (SELECT query_id, cand_id, cos,
         |        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rnk
         |      FROM s)
         |SELECT query_id, rnk, cand_id, round(cos, 6) AS cos_sim
         |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
    // embeddings stored IN the graft table format (ARRAY<FLOAT> through
    // SQL CREATE/INSERT, a positional delete of vec_id ≡ 13 mod 97),
    // then brute-force cosine top-k over the table read — float
    // round-trips are bit-exact, so the oracle is q_emb_topk's
    // arithmetic over the surviving vectors
    "q_table_emb" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
         |           FROM embeddings WHERE vec_id < 20 AND vec_id % 97 <> 13),
         |c AS (SELECT vec_id AS cand_id, embedding AS c_emb
         |      FROM embeddings WHERE vec_id % 97 <> 13),
         |s AS (
         |  SELECT query_id, cand_id, ${cosSql("q_emb", "c_emb")} AS cos
         |  FROM q, c WHERE query_id <> cand_id),
         |r AS (SELECT query_id, cand_id, cos,
         |        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rnk
         |      FROM s)
         |SELECT query_id, rnk, cand_id, round(cos, 6) AS cos_sim
         |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
    "q_emb_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 20),
         |c AS (SELECT vec_id AS cand_id, embedding AS c_emb FROM embeddings),
         |s AS (
         |  SELECT query_id, cand_id, ${cosSql("q_emb", "c_emb")} AS cos
         |  FROM q, c WHERE query_id <> cand_id),
         |r AS (SELECT query_id, cand_id, cos,
         |        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rnk
         |      FROM s)
         |SELECT query_id, rnk, cand_id, round(cos, 6) AS cos_sim
         |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
    // random negatives: stable md5("query:slot") % corpus-size draws,
    // repeated draws deduped to their earliest slot, first 5 per query
    "q_emb_rand_neg" ->
      """WITH n AS (SELECT count(*) AS sz FROM embeddings),
        |q AS (SELECT vec_id AS query_id, label AS q_label FROM embeddings WHERE vec_id < 20),
        |drawn AS (
        |  SELECT q.query_id, q.q_label, s.slot,
        |    CAST('0x' || substr(md5(CAST(q.query_id AS VARCHAR) || ':' || CAST(s.slot AS VARCHAR)), 1, 8) AS BIGINT)
        |      % (SELECT sz FROM n) AS neg_id
        |  FROM q, (SELECT unnest(range(0, 12)) AS slot) s),
        |joined AS (
        |  SELECT d.query_id, d.q_label, d.neg_id, e.label AS n_label,
        |    min(d.slot) AS slot
        |  FROM drawn d JOIN embeddings e ON e.vec_id = d.neg_id
        |  WHERE e.label <> d.q_label AND d.neg_id <> d.query_id
        |  GROUP BY d.query_id, d.q_label, d.neg_id, e.label),
        |ranked AS (
        |  SELECT query_id, CAST(q_label AS INTEGER) AS query_label,
        |    row_number() OVER (PARTITION BY query_id ORDER BY slot, neg_id) AS rnk,
        |    neg_id, CAST(n_label AS INTEGER) AS neg_label
        |  FROM joined)
        |SELECT query_id, query_label, rnk, neg_id, neg_label
        |FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
    "q_emb_hardneg" ->
      s"""WITH q AS (SELECT vec_id AS query_id, label AS q_label, embedding AS q_emb
         |           FROM embeddings WHERE vec_id < 20),
         |c AS (SELECT vec_id AS cand_id, label AS c_label, embedding AS c_emb FROM embeddings),
         |s AS (
         |  SELECT query_id, q_label, cand_id, c_label, ${cosSql("q_emb", "c_emb")} AS cos
         |  FROM q, c WHERE q_label <> c_label),
         |r AS (SELECT query_id, q_label, cand_id, c_label, cos,
         |        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rnk
         |      FROM s)
         |SELECT query_id, CAST(q_label AS INTEGER) AS query_label, rnk, cand_id,
         |       CAST(c_label AS INTEGER) AS neg_label, round(cos, 6) AS cos_sim
         |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
    "q_emb_ivf_assign" ->
      s"""WITH cents AS (SELECT vec_id AS centroid_id, embedding AS cent_emb
         |               FROM embeddings WHERE vec_id % 100 = 0),
         |s AS (SELECT e.vec_id, c.centroid_id, ${cosSql("e.embedding", "c.cent_emb")} AS cos
         |      FROM embeddings e, cents c),
         |r AS (SELECT vec_id, centroid_id, cos,
         |        row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, centroid_id) AS rnk
         |      FROM s)
         |SELECT vec_id, centroid_id AS cell, round(cos, 6) AS cell_cos
         |FROM r WHERE rnk = 1 ORDER BY vec_id""".stripMargin,
    "q_emb_cluster_balance" ->
      s"""WITH cents AS (SELECT vec_id AS centroid_id, embedding AS cent_emb
         |               FROM embeddings WHERE vec_id % 100 = 0),
         |s AS (SELECT e.vec_id, c.centroid_id, ${cosSql("e.embedding", "c.cent_emb")} AS cos
         |      FROM embeddings e, cents c),
         |a AS (SELECT vec_id, centroid_id AS cell FROM (
         |    SELECT vec_id, centroid_id,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, centroid_id) AS rnk
         |    FROM s) WHERE rnk = 1),
         |p AS (SELECT cell, vec_id,
         |        CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 25, 8) AS BIGINT)
         |          AS priority
         |      FROM a),
         |r AS (SELECT cell, vec_id,
         |        row_number() OVER (PARTITION BY cell ORDER BY priority, vec_id) AS rnk,
         |        count(*) OVER (PARTITION BY cell) AS n_cell
         |      FROM p)
         |SELECT cell, rnk, vec_id, n_cell
         |FROM r WHERE rnk <= 50 ORDER BY cell, rnk""".stripMargin,
    // MMR: unrolled greedy selection — round j's winner maximizes
    // 0.5·cos_q − 0.5·max-sim-to-selected, ties to the lowest cand_id;
    // identical double arithmetic both engines, so the greedy path replays
    "q_emb_mmr" -> {
      val rounds = (2 to 5).map { j =>
        s"""su${j - 1} AS (${(1 until j).map(i => s"SELECT * FROM sel$i").mkString(" UNION ALL ")}),
           |m$j AS (
           |  SELECT p.query_id, p.ca AS cand_id, max(p.sim) AS msim
           |  FROM psim p JOIN su${j - 1} s ON p.query_id = s.query_id AND p.cb = s.cand_id
           |  GROUP BY p.query_id, p.ca),
           |sel$j AS (
           |  SELECT query_id, cand_id, cos_q, CAST($j AS BIGINT) AS sel_rank FROM (
           |    SELECT c.query_id, c.cand_id, c.cos_q,
           |      row_number() OVER (PARTITION BY c.query_id
           |                         ORDER BY 0.5 * c.cos_q - 0.5 * m.msim DESC, c.cand_id) AS rn
           |    FROM pool c
           |    JOIN m$j m ON m.query_id = c.query_id AND m.cand_id = c.cand_id
           |    WHERE NOT EXISTS (SELECT 1 FROM su${j - 1} s
           |                      WHERE s.query_id = c.query_id AND s.cand_id = c.cand_id))
           |  WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
         |           FROM embeddings WHERE vec_id < 20),
         |s0 AS (
         |  SELECT q.query_id, e.vec_id AS cand_id, e.embedding AS c_emb,
         |    ${cosSql("q.q_emb", "e.embedding")} AS cos_q
         |  FROM q, embeddings e WHERE e.vec_id <> q.query_id),
         |pool AS (
         |  SELECT query_id, cand_id, c_emb, cos_q FROM (
         |    SELECT query_id, cand_id, c_emb, cos_q,
         |      row_number() OVER (PARTITION BY query_id
         |                         ORDER BY cos_q DESC, cand_id) AS rnk
         |    FROM s0) WHERE rnk <= 20),
         |psim AS (
         |  SELECT a.query_id, a.cand_id AS ca, b.cand_id AS cb,
         |    ${cosSql("a.c_emb", "b.c_emb")} AS sim
         |  FROM pool a JOIN pool b
         |    ON a.query_id = b.query_id AND a.cand_id <> b.cand_id),
         |sel1 AS (
         |  SELECT query_id, cand_id, cos_q, CAST(1 AS BIGINT) AS sel_rank FROM (
         |    SELECT query_id, cand_id, cos_q,
         |      row_number() OVER (PARTITION BY query_id
         |                         ORDER BY cos_q DESC, cand_id) AS rn
         |    FROM pool) WHERE rn = 1),
         |$rounds
         |SELECT query_id, sel_rank, cand_id, round(cos_q, 6) AS cos_sim
         |FROM (SELECT * FROM sel1 UNION ALL SELECT * FROM sel2 UNION ALL
         |      SELECT * FROM sel3 UNION ALL SELECT * FROM sel4 UNION ALL
         |      SELECT * FROM sel5)
         |ORDER BY query_id, sel_rank""".stripMargin
    },
    "q_emb_ivf_kmeans" -> {
      // Unrolled distributed-Lloyd replay (Similarity.kmeansCentroids,
      // 2 iterations from the stride-100 seeds). The per-cell mean is the
      // only float-order-sensitive step of k-means; both sides quantize
      // each member coordinate to a 1e-3 integer grid BEFORE the sum
      // (floor(x·1000 + 0.5) — explicit floor so negative halves agree),
      // making the aggregation exact integer math and therefore
      // order-independent. Division and the float cast afterwards are
      // deterministic double/IEEE ops on identical inputs.
      val dim = Similarity.EmbDim
      val sumCols = (1 to dim).map(i =>
        s"sum(CAST(floor(CAST(e.embedding[$i] AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)) AS s$i")
        .mkString(", ")
      val centList = (1 to dim).map(i =>
        s"CAST(CAST(s$i AS DOUBLE) / n / 1000.0 AS REAL)").mkString("[", ", ", "]")
      val iterCtes = (1 to 2).map { it =>
        s"""si$it AS (SELECT e.vec_id, c.centroid_id, ${cosSql("e.embedding", "c.cent_emb")} AS cos
           |          FROM embeddings e, c${it - 1} c),
           |a$it AS (SELECT vec_id, centroid_id AS cell FROM (
           |    SELECT vec_id, centroid_id,
           |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, centroid_id) AS rnk
           |    FROM si$it) WHERE rnk = 1),
           |m$it AS (SELECT cell, count(*) AS n, $sumCols
           |         FROM embeddings e JOIN a$it USING (vec_id) GROUP BY cell),
           |c$it AS (SELECT cell AS centroid_id, $centList AS cent_emb FROM m$it)""".stripMargin
      }.mkString(",\n")
      s"""WITH c0 AS (SELECT vec_id AS centroid_id, embedding AS cent_emb
         |            FROM embeddings WHERE vec_id % 100 = 0),
         |$iterCtes,
         |sf AS (SELECT e.vec_id, c.centroid_id, ${cosSql("e.embedding", "c.cent_emb")} AS cos
         |       FROM embeddings e, c2 c)
         |SELECT vec_id, centroid_id AS cell, round(cos, 6) AS cell_cos FROM (
         |  SELECT vec_id, centroid_id, cos,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, centroid_id) AS rnk
         |  FROM sf) WHERE rnk = 1 ORDER BY vec_id""".stripMargin
    },
    "q_emb_ivf_mp" ->
      s"""WITH cents AS (SELECT vec_id AS centroid_id, embedding AS cent_emb
         |               FROM embeddings WHERE vec_id % 100 = 0),
         |s0 AS (SELECT e.vec_id, c.centroid_id, ${cosSql("e.embedding", "c.cent_emb")} AS cos
         |       FROM embeddings e, cents c),
         |assign AS (
         |  SELECT vec_id, centroid_id AS cell FROM (
         |    SELECT vec_id, centroid_id, cos,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, centroid_id) AS rnk
         |    FROM s0) WHERE rnk = 1),
         |probes AS (
         |  SELECT vec_id AS query_id, centroid_id AS cell FROM (
         |    SELECT vec_id, centroid_id, cos,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, centroid_id) AS rnk
         |    FROM s0 WHERE vec_id < 20) WHERE rnk <= 3),
         |q AS (SELECT p.query_id, e.embedding AS q_emb, p.cell
         |      FROM probes p JOIN embeddings e ON e.vec_id = p.query_id),
         |c AS (SELECT e.vec_id AS cand_id, e.embedding AS c_emb, a.cell
         |      FROM embeddings e JOIN assign a ON a.vec_id = e.vec_id),
         |s AS (
         |  SELECT q.query_id, c.cand_id, ${cosSql("q.q_emb", "c.c_emb")} AS cos
         |  FROM q JOIN c ON q.cell = c.cell AND q.query_id <> c.cand_id),
         |r AS (SELECT query_id, cand_id, cos,
         |        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rnk
         |      FROM s)
         |SELECT query_id, rnk, cand_id, round(cos, 6) AS cos_sim
         |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
    "q_emb_ivf_topk" ->
      s"""WITH $ivfTopkCtes
         |SELECT query_id, rnk, cand_id, round(cos, 6) AS cos_sim
         |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
    "q_emb_neardup" ->
      s"""WITH $embNeardupCtes
         |SELECT id_a, id_b, round(cos, 6) AS cos_sim FROM p
         |WHERE cos > 0.35 ORDER BY id_a, id_b""".stripMargin,
    // SemDeDup: the cosine near-dup pairs above, closed transitively —
    // same recursive-reachability shape as the docs clusters oracle, over
    // the embeddings id space
    "q_emb_semdedup" ->
      s"""WITH RECURSIVE $embNeardupCtes,
         |pt AS (SELECT id_a, id_b FROM p WHERE cos > 0.35),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pt
         |  UNION ALL SELECT id_b, id_a FROM pt),
         |reach(id, r) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
         |SELECT id AS vec_id, min(r) AS cluster_id, (id = min(r)) AS keep
         |FROM reach GROUP BY id ORDER BY vec_id""".stripMargin,
    "q_emb_srp_buckets" ->
      s"""SELECT vec_id,
         |${(0 until Similarity.SrpTables).map(t =>
            s"  ${srpTableBucketSql(t)} AS srp_b$t").mkString(",\n")}
         |FROM embeddings ORDER BY vec_id""".stripMargin,
    "q_emb_srp_pairs" ->
      s"""WITH wb AS (
         |  SELECT vec_id, embedding,
         |${(0 until Similarity.SrpTables).map(t =>
            s"    ${srpTableBucketSql(t)} AS b$t").mkString(",\n")}
         |  FROM embeddings),
         |tb AS (
         |${(0 until Similarity.SrpTables).map(t =>
            s"  SELECT vec_id, $t AS t, b$t AS b FROM wb").mkString("\n  UNION ALL\n")}),
         |ok AS (
         |  SELECT t, b FROM tb GROUP BY t, b HAVING count(*) BETWEEN 2 AND 1000),
         |p AS (
         |  SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
         |  FROM tb a
         |  JOIN ok k ON a.t = k.t AND a.b = k.b
         |  JOIN tb c ON a.t = c.t AND a.b = c.b AND a.vec_id < c.vec_id),
         |s AS (
         |  SELECT p.id_a, p.id_b,
         |    round(${cosSql("x.embedding", "y.embedding")}, 6) AS cos_sim
         |  FROM p
         |  JOIN embeddings x ON p.id_a = x.vec_id
         |  JOIN embeddings y ON p.id_b = y.vec_id)
         |SELECT id_a, id_b, cos_sim FROM s
         |WHERE cos_sim > 0.35 ORDER BY id_a, id_b""".stripMargin,
    "q_emb_srp_cands" ->
      s"""WITH wb AS (
         |  SELECT vec_id,
         |${(0 until Similarity.SrpTables).map(t =>
            s"    ${srpTableBucketSql(t)} AS b$t").mkString(",\n")}
         |  FROM embeddings),
         |tb AS (
         |${(0 until Similarity.SrpTables).map(t =>
            s"  SELECT vec_id, $t AS t, b$t AS b FROM wb").mkString("\n  UNION ALL\n")}),
         |ok AS (
         |  SELECT t, b FROM tb GROUP BY t, b HAVING count(*) BETWEEN 2 AND 1000)
         |SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
         |FROM tb a
         |JOIN ok k ON a.t = k.t AND a.b = k.b
         |JOIN tb c ON a.t = c.t AND a.b = c.b AND a.vec_id < c.vec_id
         |ORDER BY id_a, id_b""".stripMargin,
    "q_emb_quantize" ->
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id,
        |    CASE WHEN mx = 0 THEN 0.0 ELSE 127.0 / mx END AS scale,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE)
        |                      * (CASE WHEN mx = 0 THEN 0.0 ELSE 127.0 / mx END)
        |                      + 0.5) AS BIGINT)) AS qs
        |  FROM s)
        |SELECT vec_id, round(scale, 6) AS scale,
        |  CAST(list_sum(qs) AS BIGINT) AS q_sum,
        |  CAST(list_sum(list_transform(qs, v -> v * v)) AS BIGINT) AS q_norm2
        |FROM q ORDER BY vec_id""".stripMargin,
    "q_emb_pq_encode" -> {
      val packed = (0 until Similarity.PqM)
        .map(m => s"c$m * ${1L << (4 * m)}")
        .mkString(" + ")
      s"""WITH $pqCtes
         |SELECT vec_id, ${(0 until Similarity.PqM).map(m => s"c$m").mkString(", ")},
         |  $packed AS pq_code
         |FROM pq_codes ORDER BY vec_id""".stripMargin
    },
    // ADC: per-query PqM×PqK distance-table lookup over the codes — the
    // approx distance sums its PqM lookups in the same left-to-right
    // order as the Spark expression, so ranks compare without tolerance
    "q_emb_pq_topk" ->
      s"""WITH $pqTopkCtes
         |SELECT query_id, rnk, cand_id, round(approx, 6) AS adc_dist
         |FROM pq_rank WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
    // two-stage serving: the rnk ≤ 20 ADC shortlist exactly re-scored
    "q_emb_pq_rerank" ->
      s"""WITH $pqTopkCtes,
         |short AS (SELECT query_id, cand_id FROM pq_rank WHERE rnk <= 20),
         |ex AS (
         |  SELECT s.query_id, s.cand_id,
         |    ${cosSql("q.embedding", "c.embedding")} AS cos
         |  FROM short s
         |  JOIN embeddings q ON q.vec_id = s.query_id
         |  JOIN embeddings c ON c.vec_id = s.cand_id),
         |r AS (
         |  SELECT query_id, cand_id, cos,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY cos DESC, cand_id) AS rnk
         |  FROM ex)
         |SELECT query_id, rnk, cand_id, round(cos, 6) AS cos_sim
         |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
    // IVFADC: the cell restriction composed with the ADC scan — the
    // lookup table is per (query, its cell), candidates join on cell
    "q_emb_ivfadc" ->
      s"""WITH $ivfTopkCtes,
         |$pqCtes,
         |ad_td AS (
         |  SELECT qq.vec_id AS query_id, a.cell,
         |    u.m * ${Similarity.PqK} + b.code AS idx,
         |    ${pqL2Sql("qq.embedding", "b.seed_emb")} AS d
         |  FROM embeddings qq
         |  JOIN assign a ON a.vec_id = qq.vec_id
         |  CROSS JOIN pq_cb b CROSS JOIN pq_ms u
         |  WHERE qq.vec_id < 20),
         |ad_tables AS (
         |  SELECT query_id, cell, list(d ORDER BY idx) AS td
         |  FROM ad_td GROUP BY query_id, cell),
         |ad_scored AS (
         |  SELECT t.query_id, cc.vec_id AS cand_id, $pqAdcLookups AS approx
         |  FROM ad_tables t
         |  JOIN assign a ON a.cell = t.cell
         |  JOIN pq_codes cc ON cc.vec_id = a.vec_id
         |  WHERE cc.vec_id <> t.query_id),
         |ad_rank AS (
         |  SELECT query_id, cand_id, approx,
         |    row_number() OVER (PARTITION BY query_id ORDER BY approx, cand_id) AS rnk
         |  FROM ad_scored)
         |SELECT query_id, rnk, cand_id, round(approx, 6) AS adc_dist
         |FROM ad_rank WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
    // RRF: fuse the IVF-cosine and PQ-ADC top-5 lists; 1/(60+rank) per
    // leg, full outer join on (query, candidate), re-rank on the sum
    "q_emb_rrf" ->
      s"""WITH $ivfTopkCtes,
         |$pqTopkCtes,
         |ra AS (SELECT query_id, cand_id, rnk FROM r WHERE rnk <= 5),
         |rb AS (SELECT query_id, cand_id, rnk FROM pq_rank WHERE rnk <= 5),
         |f AS (
         |  SELECT coalesce(ra.query_id, rb.query_id) AS query_id,
         |         coalesce(ra.cand_id, rb.cand_id) AS cand_id,
         |         coalesce(1.0 / (60.0 + CAST(ra.rnk AS DOUBLE)), 0.0)
         |           + coalesce(1.0 / (60.0 + CAST(rb.rnk AS DOUBLE)), 0.0) AS rrf
         |  FROM ra FULL JOIN rb
         |    ON ra.query_id = rb.query_id AND ra.cand_id = rb.cand_id),
         |fr AS (
         |  SELECT query_id, cand_id, rrf,
         |    row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, cand_id) AS rnk
         |  FROM f)
         |SELECT query_id, rnk, cand_id, round(rrf, 6) AS rrf_score
         |FROM fr WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
    "q_docs_split" ->
      """SELECT doc_id, source,
        |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS bucket,
        |  CASE
        |    WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 90 THEN 'train'
        |    WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 95 THEN 'val'
        |    ELSE 'test'
        |  END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    // temperature mixture (α = 1/2): rates √(n_min/n_s) derived from the
    // corpus; sqrt and division are IEEE-correctly-rounded in BOTH
    // engines, so the floor(·2^30) thresholds are bit-identical and the
    // hash comparison is integer-exact.
    "q_docs_temp_mixture" ->
      """WITH s AS (SELECT source, count(*) AS n_src FROM documents GROUP BY 1),
        |m AS (SELECT min(n_src) AS g_min FROM s),
        |r AS (
        |  SELECT source, n_src,
        |    CAST(floor(sqrt(CAST(m.g_min AS DOUBLE) / CAST(n_src AS DOUBLE))
        |      * 1073741824) AS BIGINT) AS g_thr
        |  FROM s, m)
        |SELECT d.doc_id, d.source, r.n_src,
        |       round(CAST(r.g_thr AS DOUBLE) / 1073741824.0, 6) AS keep_rate
        |FROM documents d JOIN r USING (source)
        |WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 17, 8) AS BIGINT)
        |      % 1073741824 < r.g_thr
        |ORDER BY d.doc_id""".stripMargin,
    "q_docs_mixture" ->
      """WITH b AS (
        |  SELECT doc_id, source,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 8) AS BIGINT) % 10000 AS bucket,
        |    CASE source WHEN 'src0' THEN 10000 WHEN 'src1' THEN 5000
        |      WHEN 'src2' THEN 2500 ELSE 0 END AS rate_bps
        |  FROM documents)
        |SELECT doc_id, source, bucket, rate_bps FROM b
        |WHERE bucket < rate_bps ORDER BY doc_id""".stripMargin,
    // PII patterns are deliberately RE2-compatible (no backreferences /
    // lookaround) so Java regex and DuckDB RE2 agree byte-for-byte.
    "q_docs_pii" ->
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.EmailRe}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.Ipv4Re}')) AS BIGINT) AS n_ips,
         |  md5(regexp_replace(
         |        regexp_replace(
         |          regexp_replace(text, '${TextAnalysis.EmailRe}', '[EMAIL]', 'g'),
         |          '${TextAnalysis.Ipv4Re}', '[IP]', 'g'),
         |        '${TextAnalysis.PhoneRe}', '[PHONE]', 'g')) AS redacted_md5
         |FROM documents ORDER BY doc_id""".stripMargin,
    // fuzzy decontamination: per-gram deletion variants (mask index d,
    // d = -1 unmasked); equi-join on (d, vh) covers token distance <= 1
    "q_docs_fuzzy_contam" ->
      """WITH words AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> length(x) > 0) AS ws
        |  FROM documents),
        |v AS (
        |  SELECT doc_id, source, u.i AS pos, u.d AS d, u.vh AS vh FROM (
        |    SELECT doc_id, source,
        |      unnest(flatten(list_transform(range(1, greatest(len(ws) - 4, 0) + 1), i ->
        |        list_transform(range(-1, 5), d ->
        |          {'i': i, 'd': d,
        |           'vh': substr(md5(CASE WHEN d = -1
        |                  THEN array_to_string(ws[i:i+4], ' ')
        |                  ELSE array_to_string(ws[i:i+d-1] || ['#'] || ws[i+d+1:i+4], ' ')
        |                  END), 1, 16)})))) AS u
        |    FROM words)),
        |bench AS (SELECT DISTINCT d, vh FROM v WHERE source = 'src0'),
        |hits AS (
        |  SELECT c.doc_id, c.pos,
        |    CAST(max(CASE WHEN c.d = -1 THEN 1 ELSE 0 END) AS BIGINT) AS is_exact
        |  FROM v c JOIN bench b ON c.d = b.d AND c.vh = b.vh
        |  WHERE c.source <> 'src0'
        |  GROUP BY c.doc_id, c.pos),
        |perdoc AS (
        |  SELECT doc_id, count(*) AS fuzzy_grams,
        |    CAST(sum(is_exact) AS BIGINT) AS exact_grams
        |  FROM hits GROUP BY doc_id)
        |SELECT w.doc_id, w.source,
        |  CAST(greatest(len(w.ws) - 4, 0) AS BIGINT) AS n_grams,
        |  p.fuzzy_grams, p.exact_grams
        |FROM words w JOIN perdoc p USING (doc_id)
        |WHERE w.source <> 'src0'
        |ORDER BY w.doc_id""".stripMargin,
    "q_docs_ngram_contam" ->
      """WITH w AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> length(x) > 0) AS words
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, source,
        |    unnest(list_transform(range(1, greatest(len(words) - 12, 1) + 1),
        |      i -> CAST('0x' || substr(md5(array_to_string(words[i:i+12], ' ')), 1, 15) AS BIGINT)))
        |      AS gram
        |  FROM w),
        |leaky AS (
        |  SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT source) > 1)
        |SELECT g.doc_id, count(DISTINCT g.gram) AS leaked_grams
        |FROM g JOIN leaky USING (gram)
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,
    "q_docs_screen" ->
      """WITH w AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> length(x) > 0) AS words
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, source,
        |    unnest(list_transform(range(1, greatest(len(words) - 12, 1) + 1),
        |      i -> CAST('0x' || substr(md5(array_to_string(words[i:i+12], ' ')), 1, 15) AS BIGINT)))
        |      AS gram
        |  FROM w),
        |bench AS (SELECT DISTINCT gram FROM g WHERE source = 'src0'),
        |corpus AS (SELECT DISTINCT doc_id, gram FROM g WHERE source <> 'src0')
        |SELECT doc_id, count(*) AS matched_grams
        |FROM corpus JOIN bench USING (gram)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Bloom decontamination: same gram hashes as q_docs_ngram_contam,
    // bit-sliced into 3 probe positions over a 2^18-bit filter of the
    // src0 grams; a corpus gram "hits" iff all 3 bits are set
    "q_docs_bloom_decontam" -> {
      val probes = TextAnalysis.BloomProbeShifts
        .map(s => s"(gram >> $s) & ${TextAnalysis.BloomBits - 1}")
        .mkString("[", ", ", "]")
      s"""WITH w AS (
         |  SELECT doc_id, source,
         |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                x -> length(x) > 0) AS words
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, source,
         |    unnest(list_transform(range(1, greatest(len(words) - 12, 1) + 1),
         |      i -> CAST('0x' || substr(md5(array_to_string(words[i:i+12], ' ')), 1, 15) AS BIGINT)))
         |      AS gram
         |  FROM w),
         |bp AS (SELECT DISTINCT unnest($probes) AS p FROM g WHERE source = 'src0'),
         |bf AS (
         |  SELECT p >> 5 AS w, bit_or(CAST(1 AS BIGINT) << CAST(p & 31 AS INT)) AS bits
         |  FROM bp GROUP BY p >> 5),
         |cg AS (SELECT DISTINCT doc_id, gram FROM g WHERE source <> 'src0'),
         |pr AS (SELECT doc_id, gram, unnest($probes) AS p FROM cg),
         |hits AS (
         |  SELECT pr.doc_id, pr.gram,
         |    sum(CASE WHEN bf.bits IS NOT NULL
         |             AND (bf.bits & (CAST(1 AS BIGINT) << CAST(pr.p & 31 AS INT))) <> 0
         |        THEN 1 ELSE 0 END) AS n_set
         |  FROM pr LEFT JOIN bf ON pr.p >> 5 = bf.w
         |  GROUP BY pr.doc_id, pr.gram)
         |SELECT doc_id,
         |  count(*) AS n_grams,
         |  CAST(sum(CASE WHEN n_set = ${TextAnalysis.BloomProbeShifts.size}
         |           THEN 1 ELSE 0 END) AS BIGINT) AS bloom_hits,
         |  sum(CASE WHEN n_set = ${TextAnalysis.BloomProbeShifts.size}
         |      THEN 1 ELSE 0 END) > 0 AS flagged
         |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    "q_docs_repetition" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> length(x) > 0) AS words
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    list_transform(range(1, greatest(len(words) - 2, 1) + 1),
        |      i -> array_to_string(words[i:i+2], ' ')) AS grams
        |  FROM w)
        |SELECT doc_id,
        |  CAST(len(grams) AS BIGINT) AS n_grams,
        |  round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6) AS rep_ratio
        |FROM g ORDER BY doc_id""".stripMargin,
    // Multimodal oracles replay the deterministic stub codecs. CAVEAT
    // (documented, verified): the Spark side operates on payload BYTES;
    // DuckDB has no BLOB substring/md5, so the SQL twins operate on
    // CHARACTERS — equivalent only because the synthetic corpus is pure
    // ASCII (checked: 0 docs at sf0.001/0.01/0.1 where octet_length(encode
    // (text)) <> length(text)). A non-ASCII corpus would need a different
    // oracle, not a different engine.
    "q_multimodal_meta" ->
      """SELECT doc_id,
        |  (['image','audio','video'])[CAST(doc_id % 3 AS INTEGER) + 1] AS media_type,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_md5,
        |  lower(hex(encode(substr(text, 1, 8)))) AS head_hex
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_multimodal_decode" ->
      """SELECT doc_id AS asset_id,
        |  (['image','audio','video'])[CAST(doc_id % 3 AS INTEGER) + 1] AS media_type,
        |  CAST(length(text) AS INTEGER) AS n_bytes,
        |  CAST(16 * (CAST('0x' || substr(md5(text), 1, 2) AS INTEGER) + 1) AS INTEGER) AS width,
        |  CAST(16 * (CAST('0x' || substr(md5(text), 3, 2) AS INTEGER) + 1) AS INTEGER) AS height,
        |  substr(md5(text), 1, 16) AS phash
        |FROM documents ORDER BY asset_id""".stripMargin,
    "q_multimodal_frames" ->
      """WITH v AS (
        |  SELECT doc_id AS asset_id, text FROM documents WHERE doc_id % 3 = 2),
        |fr AS (
        |  SELECT asset_id, text,
        |    unnest(range(0, greatest(length(text) // 256, 1), 4)) AS f
        |  FROM v)
        |SELECT asset_id, CAST(f AS INTEGER) AS frame_idx,
        |  substr(md5(substr(text, CAST(f AS INTEGER) * 256 + 1, 256)), 1, 16) AS frame_hash
        |FROM fr ORDER BY asset_id, frame_idx""".stripMargin,
    // Real RIFF/WAVE decode: the engine wraps each document's bytes as
    // 8 kHz mono unsigned-8-bit PCM and parses it back through the real
    // header walk + sample fold (Multimodal.WavCodec). The oracle replays
    // the decoded features with per-character arithmetic — valid because
    // the corpus is pure ASCII (see the q_multimodal_meta note), so
    // ascii(c) IS the PCM byte. duration_us = n * 1e6 / 8000 = n * 125
    // exactly; peak/energy are exact integers over centered samples.
    "q_media_audio" ->
      """SELECT doc_id AS asset_id,
        |  CAST(8000 AS INTEGER) AS sample_rate,
        |  CAST(1 AS INTEGER) AS n_channels,
        |  CAST(8 AS INTEGER) AS bits_per_sample,
        |  CAST(length(text) AS BIGINT) AS n_samples,
        |  CAST(length(text) AS BIGINT) * 125 AS duration_us,
        |  CAST(coalesce(list_max(list_transform(string_split(text, ''),
        |    c -> abs(ascii(c) - 128))), 0) AS INTEGER) AS peak,
        |  CAST(coalesce(list_sum(list_transform(string_split(text, ''),
        |    c -> (ascii(c) - 128) * (ascii(c) - 128))), 0) AS BIGINT) AS energy
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Real YUV4MPEG2 decode (Multimodal.Y4mCodec): each document's bytes
    // become 8×8 Cmono luma frames (floor(len/64) frames; a short doc
    // zero-pads its single frame), and the decoder folds every Y plane
    // into exact integer luma stats. Per-character arithmetic replays
    // them because the corpus is pure ASCII: ascii(c) IS the luma byte.
    // A padded short doc (used < 64) has zero bytes in frame ⇒ luma_min 0.
    "q_media_video" ->
      """WITH b AS (
        |  SELECT doc_id, text, length(text) AS len,
        |    CASE WHEN length(text) < 64 THEN 1
        |         ELSE length(text) // 64 END AS n_frames,
        |    CASE WHEN length(text) < 64 THEN length(text)
        |         ELSE (length(text) // 64) * 64 END AS used
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_frames, used,
        |    list_transform(string_split(substring(text, 1, used), ''),
        |                   x -> ascii(x)) AS codes
        |  FROM b)
        |SELECT doc_id AS asset_id,
        |  CAST(8 AS INTEGER) AS width,
        |  CAST(8 AS INTEGER) AS height,
        |  CAST(n_frames AS INTEGER) AS n_frames,
        |  CAST(CASE WHEN used < 64 THEN 0
        |            ELSE coalesce(list_min(codes), 0) END AS INTEGER) AS luma_min,
        |  CAST(coalesce(list_max(codes), 0) AS INTEGER) AS luma_max,
        |  CAST(coalesce(list_sum(codes), 0) AS BIGINT) AS luma_sum
        |FROM c ORDER BY doc_id""".stripMargin,
    // Full reconciliation pipeline replayed over the reference CSVs
    // (reference: etl_pipeline.py:62-342): DISTINCT* dedup is exact because
    // duplicate groups are full-row duplicates (verified 10,981 → 10,000
    // unique trade_ids); the timestamp CASE mirrors TradeEtl.normalizeTimestamp
    // including the deliberate null fallback for 1-digit-seconds US rows; the
    // price rounds through DECIMAL to replay Spark's BigDecimal HALF_UP.
    // Integer casts are regex-guarded because DuckDB TRY_CAST ROUNDS decimal
    // strings ('12.5' → 13) where Spark try_cast yields null. The fallback
    // branches cover Spark's default-parser shapes (ISO-with-space, bare
    // date); other exotic shapes would diverge — none exist in the data,
    // and a refreshed reference CSV should re-run the shape census in the
    // Scaladoc history before trusting this oracle.
    "q_etl_cleaned_trades" ->
      """WITH raw AS (
        |  SELECT DISTINCT * FROM read_csv('{reference_dir}/trades.csv', header=true, all_varchar=true)),
        |tq AS (
        |  SELECT * FROM raw WHERE trade_status <> 'CANCELLED'),
        |f AS (
        |  SELECT our_trade_id, symbol AS counterparty_symbol,
        |    CASE WHEN regexp_matches(trim(quantity), '^[+-]?[0-9]+$')
        |         THEN CAST(trim(quantity) AS INTEGER) END AS cp_quantity_int,
        |    TRY_CAST(price AS DOUBLE) AS cp_price_dec
        |  FROM read_csv('{reference_dir}/counterparty_fills.csv', header=true, all_varchar=true)),
        |sym AS (
        |  SELECT symbol, company_name, is_active
        |  FROM read_csv('{reference_dir}/symbols_reference.csv', header=true, all_varchar=true)),
        |e AS (
        |  SELECT t.*, f.counterparty_symbol, f.cp_quantity_int, f.cp_price_dec,
        |    s.company_name, s.is_active,
        |    CASE WHEN regexp_matches(trim(t.quantity), '^[+-]?[0-9]+$')
        |         THEN CAST(trim(t.quantity) AS INTEGER) END AS trade_quantity_int,
        |    TRY_CAST(t.price AS DOUBLE) AS trade_price_dec
        |  FROM tq t
        |  LEFT JOIN f ON t.trade_id = f.our_trade_id
        |  LEFT JOIN sym s ON t.symbol = s.symbol),
        |v AS (
        |  SELECT *,
        |    (company_name IS NOT NULL AND is_active = 'true'
        |     AND trade_quantity_int IS NOT NULL AND trade_quantity_int > 0
        |     AND trade_price_dec IS NOT NULL AND trade_price_dec > 0) AS is_valid,
        |    (cp_quantity_int IS NOT NULL OR cp_price_dec IS NOT NULL) AS counterparty_confirmed
        |  FROM e),
        |c AS (
        |  SELECT *,
        |    counterparty_confirmed AND (
        |      (cp_quantity_int IS NOT NULL AND cp_quantity_int <> trade_quantity_int) OR
        |      (cp_price_dec IS NOT NULL AND abs(cp_price_dec - trade_price_dec) > 0.01) OR
        |      (counterparty_symbol IS NOT NULL AND counterparty_symbol <> symbol)) AS discrepancy_flag,
        |    CASE
        |      WHEN regexp_matches(timestamp, '^\d{4}-\d{2}-\d{2}T')
        |        THEN try_strptime(timestamp, '%Y-%m-%dT%H:%M:%S.%gZ')
        |      WHEN regexp_matches(timestamp, '^\d{10}$')
        |        THEN to_timestamp(CAST(timestamp AS BIGINT)) AT TIME ZONE 'America/New_York'
        |      WHEN regexp_matches(timestamp, '^\d{1,2}/\d{1,2}/\d{4} \d{1,2}:\d{2}:\d{2}')
        |        THEN try_strptime(timestamp, '%-m/%-d/%Y %-H:%M:%S')
        |      WHEN regexp_matches(timestamp, '^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}$')
        |        THEN try_strptime(timestamp, '%Y-%m-%d %H:%M:%S')
        |      WHEN regexp_matches(timestamp, '^\d{4}-\d{2}-\d{2}$')
        |        THEN try_strptime(timestamp, '%Y-%m-%d')
        |      ELSE NULL
        |    END AS ts_norm
        |  FROM v)
        |SELECT trade_id,
        |  strftime(ts_norm, '%Y-%m-%dT%H:%M:%S.%gZ') AS timestamp_utc,
        |  symbol,
        |  trade_quantity_int AS quantity,
        |  CAST(round(CAST(price AS DECIMAL(28,18)), 2) AS DOUBLE) AS price,
        |  buyer_id, seller_id, counterparty_confirmed, discrepancy_flag
        |FROM c WHERE is_valid
        |ORDER BY trade_id""".stripMargin.replace("{reference_dir}", etl.TradePipeline.referenceDir),
    // Invalid-side exceptions report (reference: etl_pipeline.py:395-410),
    // replaying the same dedup → cancel-filter → enrich → validate cascade
    // as q_etl_cleaned_trades. Exception codes join in the FIXED append
    // order SYMBOL→QUANTITY→PRICE via concat_ws over CASE fragments (NULL
    // fragments are skipped); `IS NOT TRUE` mirrors Spark's
    // when(ok, keep).otherwise(append), which appends on false AND null ok.
    // raw_data re-renders Spark's to_json(struct(...)) — compact JSON in
    // struct-field order with null fields OMITTED (concat_ws skips the
    // NULL-valued '||' fragments); census: no quotes/backslashes in any
    // raw field, so no escaping branch is needed.
    "q_etl_exceptions" ->
      """WITH raw AS (
        |  SELECT DISTINCT * FROM read_csv('{reference_dir}/trades.csv', header=true, all_varchar=true)),
        |tq AS (
        |  SELECT * FROM raw WHERE trade_status <> 'CANCELLED'),
        |f AS (
        |  SELECT our_trade_id, symbol AS counterparty_symbol,
        |    CASE WHEN regexp_matches(trim(quantity), '^[+-]?[0-9]+$')
        |         THEN CAST(trim(quantity) AS INTEGER) END AS cp_quantity_int,
        |    TRY_CAST(price AS DOUBLE) AS cp_price_dec
        |  FROM read_csv('{reference_dir}/counterparty_fills.csv', header=true, all_varchar=true)),
        |sym AS (
        |  SELECT symbol, company_name, is_active
        |  FROM read_csv('{reference_dir}/symbols_reference.csv', header=true, all_varchar=true)),
        |e AS (
        |  SELECT t.*, s.company_name, s.is_active,
        |    CASE WHEN regexp_matches(trim(t.quantity), '^[+-]?[0-9]+$')
        |         THEN CAST(trim(t.quantity) AS INTEGER) END AS trade_quantity_int,
        |    TRY_CAST(t.price AS DOUBLE) AS trade_price_dec
        |  FROM tq t
        |  LEFT JOIN f ON t.trade_id = f.our_trade_id
        |  LEFT JOIN sym s ON t.symbol = s.symbol),
        |v AS (
        |  SELECT *,
        |    (company_name IS NOT NULL AND is_active = 'true') AS symbol_ok,
        |    (trade_quantity_int IS NOT NULL AND trade_quantity_int > 0) AS quantity_ok,
        |    (trade_price_dec IS NOT NULL AND trade_price_dec > 0) AS price_ok
        |  FROM e)
        |SELECT trade_id AS record_id,
        |  'trades.csv' AS source_file,
        |  concat_ws(', ',
        |    CASE WHEN symbol_ok IS NOT TRUE THEN 'SYMBOL_INVALID' END,
        |    CASE WHEN quantity_ok IS NOT TRUE THEN 'QUANTITY_INVALID' END,
        |    CASE WHEN price_ok IS NOT TRUE THEN 'PRICE_INVALID' END) AS exception_type,
        |  concat_ws('; ',
        |    CASE WHEN company_name IS NULL THEN 'Symbol not found in reference data' END,
        |    CASE WHEN is_active = 'false' THEN 'Symbol is not active' END,
        |    CASE WHEN trade_quantity_int IS NULL OR trade_quantity_int <= 0
        |         THEN 'Quantity is null or non-integer/non-positive' END,
        |    CASE WHEN trade_price_dec IS NULL OR trade_price_dec <= 0
        |         THEN 'Price is null or non-numeric/non-positive' END) AS details,
        |  '{' || concat_ws(',',
        |    '"trade_id":"' || trade_id || '"',
        |    '"timestamp":"' || timestamp || '"',
        |    '"symbol":"' || symbol || '"',
        |    '"quantity":"' || quantity || '"',
        |    '"price":"' || price || '"',
        |    '"buyer_id":"' || buyer_id || '"',
        |    '"seller_id":"' || seller_id || '"',
        |    '"trade_status":"' || trade_status || '"') || '}' AS raw_data
        |FROM v
        |WHERE NOT (symbol_ok IS TRUE AND quantity_ok IS TRUE AND price_ok IS TRUE)
        |ORDER BY record_id""".stripMargin.replace("{reference_dir}", etl.TradePipeline.referenceDir),
  )
}
