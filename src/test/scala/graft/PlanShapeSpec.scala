package graft

import graft.ops._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the properties that make these operators hold
  * up at 100 TB are plan shapes, not result values — filters reaching the
  * parquet scan, dimensions broadcast instead of shuffled, per-group top-k
  * pushed below the shuffle, global top-k never globally sorting, and the
  * dedup/similarity suites never degenerating into cartesian products.
  * Locking them in as tests means a refactor that silently regresses a
  * plan fails CI, not the cluster.
  */
class PlanShapeSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def t(name: String) = spark.read.parquet(s"$dir/$name.parquet")

  test("scanFilterProject pushes the filter and prunes columns at the scan") {
    val p = Relational.scanFilterProject(t("lineitem"))
      .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    assert(p.contains("PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)]"),
      s"filter not pushed:\n$p")
    // pruned read schema: the 5 needed columns only, not all 16
    assert(p.contains("l_extendedprice") && !p.contains("l_shipmode"), s"columns not pruned:\n$p")
  }

  test("dimension joins broadcast the small side (no fact-table shuffle)") {
    val p = plan(Relational.leftJoinExplicit(t("orders"), t("customer")))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"fact side should not sort-merge:\n$p")
  }

  test("per-group top-k runs as WindowGroupLimit below the shuffle") {
    val p = plan(Relational.windowTopKPerGroup(t("orders")))
    assert(p.contains("WindowGroupLimit"), s"expected WindowGroupLimit:\n$p")
  }

  test("global top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan(Relational.sortLimit(t("orders")))
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrderedAndProject:\n$p")
  }

  test("grouped aggregation is two-phase (partial map-side combine)") {
    val p = plan(Relational.pricingSummary(t("lineitem")))
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"expected partial+final aggregate:\n$p")
  }

  test("LSH candidate generation contains no cartesian product or NL join") {
    val p = plan(Dedup.lshCandidatePairs(t("documents")))
    assert(!p.contains("CartesianProduct"), s"cartesian in LSH plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"NL join in LSH plan:\n$p")
  }

  test("checkpoint stats-reset bridge preserves hash partitioning (no re-exchange)") {
    // the iterative-CC fixpoint rests on this: localCheckpoint + leaf-stats
    // reset must keep the frame's outputPartitioning, or every round would
    // pay a fresh shuffle for a layout Spark already had
    val reset = org.apache.spark.sql.GraftSqlInternals.localCheckpointStatsFree(
      t("orders").repartition(org.apache.spark.sql.functions.col("o_custkey")))
    val agg = reset.groupBy("o_custkey")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    val p = plan(agg)
    assert(!p.contains("Exchange"),
      s"aggregate on the checkpointed partitioning key must not re-shuffle:\n$p")
  }

  test("random-negative sampling broadcasts the drawn side — corpus never shuffles") {
    val p = plan(Similarity.randomNegatives(t("embeddings")))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast of the query×slot side:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in rand-neg plan:\n$p")
  }

  test("winnow candidate pairs bucket on (band, minimum) — no cartesian") {
    val p = plan(Dedup.winnowCandidatePairs(t("documents")))
    assert(!p.contains("CartesianProduct"), s"cartesian in winnow plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"NL join in winnow plan:\n$p")
  }

  test("set-similarity join generates candidates by prefix-shingle equi-join — no cartesian") {
    val p = plan(Dedup.setSimilarityJoin(t("documents")))
    assert(!p.contains("CartesianProduct"), s"cartesian in setsim plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"NL join in setsim plan:\n$p")
  }

  test("fuzzy contamination broadcasts the benchmark variant set — corpus never shuffles for the join") {
    val p = plan(TextAnalysis.fuzzyContamination(t("documents")))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast variant join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"cartesian/NL join in fuzzy-contam plan:\n$p")
  }

  test("substring dedup detects dup grams in one gram-hash window — no cartesian, no re-shuffle") {
    val p = plan(Dedup.substringDedup(t("documents")))
    assert(!p.contains("CartesianProduct"), s"cartesian in substring-dedup plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"NL join in substring-dedup plan:\n$p")
    // duplicated-gram detection is a single unordered window over the
    // gram-hash partition (min != max doc_id) — the position frame must
    // cross a gh exchange exactly ONCE (the groupBy + semi-join-back
    // formulation paid that exchange twice)
    assert("hashpartitioning\\(gh".r.findAllIn(p).size == 1,
      s"expected exactly one gram-hash exchange:\n$p")
  }

  test("IVF cell search joins on the cell key — no cartesian product") {
    val p = plan(Similarity.ivfTopK(t("embeddings")))
    assert(!p.contains("CartesianProduct"), s"cartesian in IVF plan:\n$p")
  }

  test("sequence packing tokenizes the corpus once (shard totals reuse the windowed exchange)") {
    // Both the per-doc prefix sum and the per-shard totals consume the
    // same exchange subtree (scan → tokenize → hash-partition); if the
    // totals aggregated an unaligned frame, a second full scan + regexp
    // tokenization would run. AQE reuses shuffle stages at RUNTIME, so
    // execute first and assert on the final adaptive plan: one FileScan
    // over documents + a ReusedExchange is the 100 TB contract.
    val df = TextAnalysis.packSequences(t("documents"))
    df.queryExecution.toRdd.foreach(_ => ())
    val p = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case other => other.toString
    }
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"expected one documents scan, found $scans:\n$p")
    assert(p.contains("ReusedExchange"), s"expected exchange reuse:\n$p")
  }

  test("near-dup verify tokenizes the corpus once (all legs read the cached shingle frame)") {
    // ngramJaccardNearDup needs the shingle arrays twice: hashed into
    // MinHash signatures (candidate generation) and raw (Jaccard verify,
    // joined on both pair sides). The operator persists ONE shingle frame;
    // the executed plan must show exactly three InMemoryTableScan readers
    // over it — signature pipeline + the two verify-join legs. Zero means
    // the persist was dropped (the corpus would be shingled repeatedly, and
    // at 100 TB tokenization is a full-corpus pass that must happen once).
    val df = Dedup.ngramJaccardNearDup(t("documents"))
    df.queryExecution.toRdd.foreach(_ => ())
    val p = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case other => other.toString
    }
    val cacheReads = "InMemoryTableScan".r.findAllIn(p).size
    assert(cacheReads == 3,
      s"expected 3 cached-shingle readers (signatures + 2 verify legs), found $cacheReads:\n$p")
  }

  test("centralKeep shares ONE LSH signature pipeline across both legs") {
    // The clusters leg (star edges → stars CC) and the PageRank leg
    // (in-bucket pairs → ranks, on a pool thread) must BOTH read the
    // persisted bucket frame: the tokenize → shingle → MinHash →
    // band-bucket subtree runs once. The legs materialize in their own
    // SQL executions (checkpoints, convergence probes), so every execution
    // of one call is observed, and each plan is walked into the cached
    // plans it reads: across all of them exactly ONE file scan reads
    // `text` (the one under the bucket cache, materialized by
    // `buckets.count()`), and both legs' bucket explodes read the cache.
    import org.apache.spark.sql.catalyst.expressions.{Attribute, Explode}
    import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec  => nodes(a.executedPlan)
      case q: QueryStageExec         => nodes(q.plan)
      case r: ReusedExchangeExec     => nodes(r.child)
      case i: InMemoryTableScanExec  => nodes(i.relation.cachedPlan)
      case other                     => other.children.flatMap(nodes)
    })
    def readsBuckets(p: SparkPlan): Boolean = nodes(p).exists {
      case i: InMemoryTableScanExec => i.relation.output.map(_.name).contains("band_hash")
      case _                        => false
    }
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    org.apache.spark.GraftTestAccess.drainListenerBus(sc)
    spark.listenerManager.register(listener)
    try {
      Dedup.centralKeep(t("documents")).collect()
      org.apache.spark.GraftTestAccess.drainListenerBus(sc)
    } finally spark.listenerManager.unregister(listener)
    SparkEntry.resetSessionState(spark)
    import scala.jdk.CollectionConverters._
    val all = plans.asScala.toSeq.flatMap(nodes)
    // identity, not equality: the cached subtree is one object shared by
    // every plan that reads the cache, while a re-derived scan is a new one
    val textScans = all.collect {
      case f: FileSourceScanExec if f.schema.fieldNames.contains("text") => f
    }.foldLeft(List.empty[FileSourceScanExec])((acc, f) =>
      if (acc.exists(_ eq f)) acc else f :: acc)
    assert(textScans.size == 1,
      s"expected exactly one file scan reading `text` (under the bucket cache), " +
        s"found ${textScans.size}:\n" + textScans.mkString("\n"))
    // star edges explode `ids` itself; in-bucket pairs explode a flatten
    // over it — each leg's generator must sit on the cached bucket frame
    val legs = all.collect {
      case g: GenerateExec if readsBuckets(g.child) => g.generator match {
        case Explode(_: Attribute) => "clusters"
        case _                     => "pagerank"
      }
    }.toSet
    assert(legs == Set("clusters", "pagerank"),
      s"expected both legs to read the cached bucket frame, found $legs " +
        s"in ${plans.size} executions")
  }

  test("Q5-shaped SQL query broadcasts its dimension chain — no cartesian") {
    // the SQL surface must land the same physical shape the DataFrame
    // queries get: small dims (region, nation, supplier, customer at this
    // scale) broadcast; the only shuffle belongs to the fact-side
    // aggregation. A cartesian or nested-loop join here would mean the
    // local-supplier equi-constraint fell out of the join condition.
    val df = SparkEntry.queries("q_sql_local_revenue")(spark, dir)
    df.queryExecution.toRdd.foreach(_ => ())
    val p = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case other => other.toString
    }
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast dims:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"cartesian/NL join in Q5 plan:\n$p")
  }

  test("correlated EXISTS decorrelates to a semi join; scalar subquery to an agg-join") {
    // the point of routing subqueries through Catalyst: neither shape may
    // survive as a per-row subquery in the physical plan
    val exists = SparkEntry.queries("q_sql_exists")(spark, dir)
    val pe = plan(exists)
    assert(pe.contains("LeftSemi"), s"EXISTS not decorrelated to a semi join:\n$pe")
    assert(!pe.toLowerCase.contains("subquery"),
      s"EXISTS survived as a per-row subquery:\n$pe")
    val scalar = SparkEntry.queries("q_sql_scalar")(spark, dir)
    val ps = plan(scalar)
    // the per-part avg computes ONCE as an aggregate joined back to the
    // fact rows — visible as an extra HashAggregate over l_partkey feeding
    // a join, with no scalar-subquery node left
    assert(!ps.toLowerCase.contains("scalarsubquery"),
      s"scalar subquery not decorrelated:\n$ps")
    assert("HashAggregate".r.findAllIn(ps).size >= 3,
      s"expected decorrelated per-part aggregate + grouped output:\n$ps")
  }

  test("Q21-shaped EXISTS + NOT EXISTS decorrelate to semi + anti joins") {
    val p = plan(SparkEntry.queries("q_sql_multi_exists")(spark, dir))
    assert(p.contains("LeftSemi"), s"EXISTS not decorrelated to a semi join:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS not decorrelated to an anti join:\n$p")
    assert(!p.toLowerCase.contains("subquery"),
      s"a subquery survived per-row:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in Q21 plan:\n$p")
  }

  test("Q20-shaped nested-IN + doubly-correlated scalar fully decorrelates") {
    // both IN chains must become semi joins and the (partkey, suppkey)-
    // correlated availability threshold an aggregate joined back — no
    // per-row subquery may survive to execution
    val p = plan(SparkEntry.queries("q_sql_part_supply")(spark, dir))
    assert(p.contains("LeftSemi"), s"IN chain not decorrelated to semi joins:\n$p")
    assert(!p.toLowerCase.contains("subquery"), s"a per-row subquery survived:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in Q20 plan:\n$p")
  }

  test("bucketed join reads co-located buckets — zero Exchange below the join") {
    // The whole point of the bucketed layout: the SortMergeJoin's
    // distribution requirement is satisfied by the bucketed SCANS, so no
    // shuffle (and, with sortBy, no per-partition sort of the bucketed
    // key) may appear below the join. The only Exchange allowed in the
    // final plan is the small aggregation after the join.
    val df = Relational.bucketedJoin(t("lineitem"), t("orders"), buckets = 4)
    df.queryExecution.toRdd.foreach(_ => ())
    val p = plan(df)
    assert(p.contains("isFinalPlan=true"), s"adaptive plan not finalized:\n$p")
    assert(p.contains("SortMergeJoin"), s"merge hint lost:\n$p")
    assert(p.contains("Bucketed: true"), s"scans not bucketed:\n$p")
    // the window below the join in the FINAL plan (everything the join
    // subtree prints until AQE's echoed Initial Plan section) must be
    // exchange-free — the agg/sort shuffles above the join are expected
    val initialIdx = p.indexOf("== Initial Plan ==")
    val below = p.substring(p.indexOf("SortMergeJoin"),
      if (initialIdx >= 0) initialIdx else p.length)
    assert(!below.contains("Exchange"),
      s"a shuffle appeared below the bucketed join:\n$p")
  }

  test("Q2-shaped correlated MIN decorrelates; dim chain broadcasts") {
    // the per-part min-cost subquery must become an aggregate joined back
    // on p_partkey (never a per-row re-scan), and the nation/region dims
    // must reach the plan as broadcast joins
    val p = plan(SparkEntry.queries("q_sql_min_cost_supp")(spark, dir))
    assert(!p.toLowerCase.contains("subquery"), s"per-row subquery survived:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in Q2 plan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"dim chain not broadcast:\n$p")
  }

  test("Q16-shaped NOT IN decorrelates to an anti join") {
    val p = plan(SparkEntry.queries("q_sql_supp_cnt")(spark, dir))
    assert(p.contains("LeftAnti"), s"NOT IN not an anti join:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in Q16 plan:\n$p")
  }

  test("Q12-shaped date window pushes into the lineitem scan") {
    val p = SparkEntry.queries("q_sql_ship_priority")(spark, dir)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate").foreach { f =>
      assert(p.contains(f), s"predicate $f not pushed to the scan:\n$p")
    }
  }

  test("Q11-shaped HAVING threshold computes once as a broadcast scalar") {
    // the global-value threshold is an UNcorrelated scalar subquery: it
    // must execute exactly once (a Subquery/scalar-subquery node broadcast
    // into the HAVING filter is fine — a re-aggregation per group is not),
    // and the plan must stay cartesian-free
    val df = SparkEntry.queries("q_sql_important_stock")(spark, dir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"cartesian in Q11 plan:\n$p")
    // correctness smoke: threshold keeps a strict subset of the parts
    val kept = df.count()
    assert(kept > 0, "threshold filtered everything — shape is wrong")
  }

  test("Q6-shaped forecast pushes every predicate into the lineitem scan") {
    val p = SparkEntry.queries("q_sql_forecast")(spark, dir)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    // all four predicates must reach the parquet reader as pushed filters
    Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
      "GreaterThanOrEqual(l_discount", "LessThanOrEqual(l_discount",
      "LessThan(l_quantity").foreach { f =>
      assert(p.contains(f), s"predicate $f not pushed to the scan:\n$p")
    }
  }

  test("Q13-shaped left outer keeps the join-side predicate (zero-order customers survive)") {
    val p = plan(SparkEntry.queries("q_sql_order_dist")(spark, dir))
    assert(p.contains("LeftOuter"), s"left outer join lost:\n$p")
    // the priority filter must NOT be pushed below the join as an orders
    // scan filter would be fine, but it must never become an inner join
    assert(!p.contains("CartesianProduct"), s"cartesian in Q13 plan:\n$p")
    // left-join totality: every customer lands in exactly one count bucket,
    // so Σ custdist = |customer| — if the join-side predicate were pushed
    // into an inner join, customers with only urgent orders would vanish
    val rows = SparkEntry.queries("q_sql_order_dist")(spark, dir).collect()
    assert(rows.map(_.getLong(1)).sum == t("customer").count(),
      "a customer was dropped — the outer side collapsed")
  }

  test("Q18-shaped IN-over-HAVING decorrelates to a join on the aggregated subquery") {
    val p = plan(SparkEntry.queries("q_sql_big_orders")(spark, dir))
    assert(!p.toLowerCase.contains("subqueryexec"), s"per-row subquery survived:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in Q18 plan:\n$p")
  }

  test("Q19-shaped disjunction pushes the part-side OR legs into the part scan") {
    val df = SparkEntry.queries("q_sql_disjunct")(spark, dir)
    val p = plan(df)
    // the factored part-only predicate (brand/size OR-union) must reach the
    // part relation as a pushed filter, shrinking the join input
    assert(p.contains("Brand#12") && p.contains("Brand#14"),
      s"part-side OR legs not visible in the plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in Q19 plan:\n$p")
  }

  test("Q22-shaped NOT EXISTS decorrelates to an anti join; scalar thresholds hoist") {
    val p = plan(SparkEntry.queries("q_sql_no_urgent_orders")(spark, dir))
    assert(p.contains("LeftAnti"), s"NOT EXISTS not an anti join:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in Q22 plan:\n$p")
  }

  test("PageRank contribution join is a hash join on src — no cartesian, ranks stay doc-sized") {
    val docs = t("documents")
    val p = plan(Dedup.nearDupPageRank(docs))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin")
      || p.contains("BroadcastNestedLoopJoin"), // the 1-row N frame rides a BNLJ by design
      s"unexpected join shape:\n$p")
    // the only nested-loop joins permitted are the 1-row N-scalar cross
    // joins; every data-sized join must be hash
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    val cart = "CartesianProduct".r.findAllIn(p).length
    assert(cart == 0, s"cartesian product in PageRank plan:\n$p")
    assert(bnlj <= 5, s"too many nested-loop joins ($bnlj) — a data-sized side leaked in:\n$p")
  }

  test("flagship star query broadcasts the dimension chain and returns rows") {
    val df = SparkEntry.entry(spark)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast dims:\n$p")
    assert(df.count() > 0) // the driver's smoke check
  }

  test("starRevenue's dimension chain stays broadcast in the FINAL adaptive plan") {
    // Execute, then assert on what AQE actually ran — a static-plan check
    // would miss a runtime demotion of the broadcasts. The dimension chain
    // (customer→nation→region) must broadcast; at this scale orders fits
    // under the broadcast threshold too, so no join may sort-merge — the
    // single permitted shuffle is the fact-side aggregation exchange.
    val df = Relational.starRevenue(
      t("lineitem"), t("orders"), t("customer"), t("nation"), t("region"))
    // run THIS queryExecution (a write would plan a fresh one and leave
    // this AdaptiveSparkPlan unfinalized)
    df.queryExecution.toRdd.foreach(_ => ())
    val p = plan(df)
    assert(p.contains("isFinalPlan=true"), s"adaptive plan not finalized:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"dimension chain not fully broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"a join fell back to sort-merge:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"revenue aggregate not two-phase:\n$p")
  }

  test("SRP candidate generation joins on (table, bucket) — no cartesian") {
    val p = plan(Similarity.srpNearDupPairs(t("embeddings")))
    assert(!p.contains("CartesianProduct"), s"cartesian in SRP plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"NL join in SRP plan:\n$p")
  }

  test("per-source quality top-N runs as WindowGroupLimit") {
    val p = plan(TextAnalysis.topQualityPerSource(t("documents")))
    assert(p.contains("WindowGroupLimit"), s"expected WindowGroupLimit:\n$p")
  }

  test("keep-best dedup is a single two-phase aggregate, no join or window") {
    val p = plan(TextAnalysis.dedupKeepBest(t("documents")))
    assert("(Hash|ObjectHash|Sort)Aggregate".r.findAllIn(p).nonEmpty, s"no aggregate:\n$p")
    assert(!p.contains("Window"), s"keep-best should not need a window:\n$p")
  }

  test("13-gram decontamination is two shuffle aggregates — no doc×doc comparison") {
    val p = plan(TextAnalysis.ngramContamination(t("documents")))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pairwise comparison in decontamination plan:\n$p")
    assert(p.contains("hashed_ngrams"), s"expected native gram expression:\n$p")
  }

  test("PII redaction and repetition score are single narrow map stages") {
    for (df <- Seq(
        TextAnalysis.redactPii(t("documents")),
        TextAnalysis.repetitionScore(t("documents")))) {
      val p = plan(df)
      assert(!p.contains("Exchange hashpartitioning"),
        s"unexpected shuffle in a per-row op (only the output sort may exchange):\n$p")
    }
  }

  test("Q8-shaped SQL query broadcasts every dimension — exactly one fact shuffle for the agg") {
    Seq("part", "supplier", "lineitem", "orders", "customer", "nation", "region")
      .foreach(n => t(n).createOrReplaceTempView(s"v_$n"))
    val df = SparkEntry.queries("q_sql_market_share")(spark, dir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"cartesian in Q8 plan:\n$p")
    // orders is fact-sized relative to sf and may legitimately SMJ with
    // lineitem; the four true dimensions must broadcast
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4,
      s"expected the dimension chain to broadcast:\n$p")
  }

  test("hard-negative mining broadcasts the query side — the corpus never shuffles for the join") {
    val p = plan(Similarity.hardNegatives(t("embeddings"), numQueries = 2, k = 2))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side not broadcast:\n$p")
    // the only exchanges allowed are the top-k window partitioning and
    // the output sort — no shuffle below the join
    assert(!p.contains("CartesianProduct"), s"cartesian in hardneg plan:\n$p")
  }

  test("salted join joins on (key, salt) — a hash join with the composite key, no cartesian") {
    val p = plan(Relational.saltedJoin(t("orders"), t("customer"), salts = 4))
    assert(p.contains("salt"), s"salt missing from join plan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"salted join must stay an equi hash join:\n$p")
  }

  test("typo-pair legs are equi joins on block keys — never all-pairs") {
    val p = plan(TextAnalysis.typoPairs(t("documents")))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"typoPairs must block, not cross:\n$p")
    // all six join legs must read the persisted vocabulary, not re-tokenize
    assert("InMemoryTableScan".r.findAllIn(p).size >= 6,
      s"typoPairs legs must share one tokenization via the cached vocab:\n$p")
    spark.catalog.clearCache()
  }

  test("bigram LM consumers share one tokenization via the cached pair frame") {
    val p = plan(TextAnalysis.bigramConditional(t("documents")))
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      s"context aggregate and probability join must both read the cache:\n$p")
    spark.catalog.clearCache()
  }

  test("funnel stages aggregate before joining — state is user-sized") {
    // through the registered query: events needs SparkEntry's nanos shim
    val p = plan(SparkEntry.queries("q_events_funnel")(spark, dir))
    assert(!p.contains("CartesianProduct"), s"cartesian in funnel plan:\n$p")
    assert(!p.contains("Window"), s"funnel must not window over the event stream:\n$p")
  }

  test("native vec_cosine stays inside whole-stage codegen") {
    val df = Similarity.bruteForceTopK(t("embeddings"), numQueries = 2, k = 2)
    val p = df.queryExecution.explainString(org.apache.spark.sql.execution.CodegenMode)
    // the projection computing vec_cosine must appear inside a WSCG stage:
    // find a generated-code section referencing the expression's value
    assert(p.contains("WholeStageCodegen"), s"no codegen stages:\n${p.take(2000)}")
    assert(plan(df).contains("vec_cosine"), "vec_cosine missing from plan")
  }

  test("CDC apply is one key-hashed merge join — no cartesian, no NL, one SMJ") {
    val p = plan(Incremental.ordersCdcApply(t("orders")))
    assert(!p.contains("CartesianProduct"), s"cartesian in CDC plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"NL join in CDC plan:\n$p")
    assert("SortMergeJoin".r.findAllIn(p).size == 1,
      s"expected exactly one merge join (base ⟗ latest-changes):\n$p")
    // LWW dedup must be a windowed rank over the DELTA, not a self-join
    assert(p.contains("row_number"), s"LWW window missing:\n$p")
  }

  test("broadcast CDC apply never shuffles the base — every join broadcasts") {
    val p = plan(Incremental.ordersCdcApplyBroadcast(t("orders")))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"base-side shuffle join in broadcast CDC plan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in broadcast CDC plan:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 3,
      s"expected the left + semi + anti legs all broadcast:\n$p")
  }

  test("change data feed diffs with key-hashed joins only — no cartesian") {
    val p = plan(Incremental.ordersCdcFeed(t("orders")))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in CDF plan:\n$p")
  }

  test("label propagation is joins on vertex keys — no cartesian, bounded rounds") {
    val p = plan(Dedup.labelPropagation(t("documents")))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in LP plan:\n$p")
  }

  test("versioned read scans exactly the pinned manifest's files") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val sparkS = spark; import sparkS.implicits._
    val d = SparkTestBase.tempDir("graft_vt_plan")
    val table = s"$d/t"
    graft.sources.VersionedTable.commit(
      Seq((1L, "a")).toDF("k", "v"), table, append = false)
    val pinned = graft.sources.VersionedTable.read(spark, table, Some(1L))
    graft.sources.VersionedTable.commit(
      Seq((2L, "b")).toDF("k", "v"), table, append = true)
    val scans = pinned.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "no file scan in versioned read plan")
    val scanned = scans.flatMap(_.relation.location.inputFiles).toSet
    // commit dirs are c1 or c1_<token> (writer-unique suffix)
    assert(scanned.forall(_.matches(".*/data/c1(_[0-9a-f]{8})?/.*")),
      s"pinned v1 read must touch only commit-1 files, saw: $scanned")
  }

  test("bucketed CDC apply: only the delta shuffles — base subtree exchange-free") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    // AQE wraps children in query stages mid-plan; disable it so the
    // static plan exposes the join's two subtrees directly
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    val prevAuto = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val df = Incremental.ordersCdcApplyBucketed(t("orders"))
      val smj = df.queryExecution.executedPlan.collectFirst {
        case j: SortMergeJoinExec => j
      }.getOrElse(fail(s"no SMJ in:\n${plan(df)}"))
      def hasBucketedScan(p: SparkPlan): Boolean = p.collectFirst {
        case f: FileSourceScanExec if f.bucketedScan => f
      }.nonEmpty
      val baseSide = Seq(smj.left, smj.right).find(hasBucketedScan)
        .getOrElse(fail(s"no bucketed scan under the join:\n${plan(df)}"))
      assert(baseSide.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"the standing base shuffled despite bucketing:\n${plan(df)}")
      // the delta side legitimately exchanges (window + re-cluster) —
      // that is the ONLY data movement the nightly apply pays
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prev)
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", prevAuto)
    }
  }

  test("versioned as-of composition plans BOTH legs on the native sorted-merge operator") {
    val p = plan(Incremental.eventsAsofVersioned(t("events")))
    // the merge exec prints as "AsOfJoin ["; the broadcast variant as
    // "BroadcastAsOfJoin" — both legs must be the sorted-merge form
    val asofs = "(?<!Broadcast)AsOfJoin \\[".r.findAllIn(p).length
    assert(asofs == 2,
      s"expected two native as-of merges (v1 + v2 legs), got $asofs:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in versioned as-of plan:\n$p")
  }

  test("WAV decode is a narrow map pipeline — no exchange before the presentation sort") {
    val df = Multimodal.audioFeatures(t("documents"))
    val p = plan(df)
    // exactly the one range-partitioning exchange the final orderBy needs
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges == 1, s"expected only the sort's exchange, got $exchanges:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }
}
