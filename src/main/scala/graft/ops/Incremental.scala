package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental data management: the operator family a 100 TB pipeline
  * needs once data stops being a one-shot batch — CDC application,
  * keyed merge/upsert, incremental aggregate maintenance, snapshot
  * diffing (change data feed), and small-file compaction planning.
  *
  * The reference pipeline (`etl_pipeline.py:62-421`) is a
  * full-recompute batch; these ops are the generalization that lets the
  * same engine keep a standing table current by processing only deltas.
  * All of them are declarative DataFrame plans — the heavy lifting
  * (last-writer-wins dedup, full-outer merge) is one key-hashed shuffle
  * each, so every op scales horizontally with the KEY cardinality, never
  * with history length.
  */
object Incremental {

  /** Apply a CDC batch to a base snapshot with last-writer-wins
    * semantics. `changes` carries (`opCol` ∈ I/U/D, `seqCol` monotone per
    * key); only the key's highest-`seq` change is applied: D drops the
    * row, I/U upsert the change's payload columns (an update for an
    * absent key inserts — standard upsert semantics, what MERGE's
    * WHEN NOT MATCHED clause does). Unchanged base rows pass through.
    * Determinism: a `seq` tie within one key is broken by `op`
    * (descending), so replaying the same batch always picks the same
    * winner; callers wanting a total replay contract should keep
    * (key, seq, op) unique.
    *
    * Shape (audited with PlanAudit at sf0.01: 3 exchanges, 1 SMJ, no
    * broadcast/cartesian): one window shuffle on the change stream
    * (delta-sized, not table-sized), then a full-outer sort-merge join
    * with BOTH sides hashed on the key — linear, skew-free (primary
    * keys), horizontally scalable. At 100 TB the base-side exchange is
    * the dominant cost; the standing escape is the same pay-once layout
    * as [[Relational.bucketedJoin]]: keep the base bucketed by the key
    * and the nightly CDC apply shuffles only the delta. Payload columns
    * are taken from `changes` when a surviving change exists, else from
    * `base`; `src` records which.
    */
  def cdcApply(
      base: DataFrame,
      changes: DataFrame,
      key: String,
      seqCol: String = "seq",
      opCol: String = "op"): DataFrame = {
    val payload = base.columns.filter(_ != key)
    // seq ties break on op (descending: U > I > D — a same-seq update
    // beats a delete) so replay is deterministic; two changes sharing
    // BOTH seq and op on one key remain the caller's contract to avoid
    val w = Window.partitionBy(key).orderBy(col(seqCol).desc, col(opCol).desc)
    val latest = changes
      .withColumn("g_rn", row_number().over(w))
      .filter(col("g_rn") === 1)
      .drop("g_rn", seqCol)
    // the base side keeps its ORIGINAL column names (only the change side
    // is g_-renamed): a rename projection over the base would break
    // alias-propagation of a bucketed/pre-clustered base's partitioning,
    // re-introducing exactly the base-side exchange the bucketed layout
    // exists to avoid (pinned by PlanShapeSpec's bucketed-CDC test)
    val c = latest.select(
      col(key).as("g_ck") +: col(opCol).as("g_op") +: payload.map(c0 => col(c0).as(s"g_c_$c0")): _*)
    base.join(c, col(key) === col("g_ck"), "full_outer")
      .filter(col("g_op").isNull || col("g_op") =!= "D")
      .select(
        coalesce(col("g_ck"), col(key)).as(key) +:
          payload.map(c0 =>
            when(col("g_ck").isNotNull, col(s"g_c_$c0"))
              .otherwise(col(c0)).as(c0)) :+
          when(col("g_ck").isNotNull, lit("cdc")).otherwise(lit("base")).as("src"): _*)
  }

  /** Broadcast variant of [[cdcApply]], identical results: for the
    * steady-state 100 TB case — a day's delta applied to a huge base —
    * the base must not shuffle at all. Full-outer joins can't broadcast,
    * so the plan is decomposed into broadcast-able legs:
    *
    *   1. updates/deletes: base LEFT-BROADCAST-JOIN latest — the base
    *      side streams straight off its scan, matched rows take the
    *      change payload or drop on D;
    *   2. inserts: keys of the base touched by the delta come from a
    *      base ⋉ broadcast(latest) semi join (delta-sized OUTPUT, the
    *      base again only streamed), and latest anti-joins that small
    *      frame — a broadcast anti join — to find the change keys with
    *      no base row.
    *
    * Cost model vs [[cdcApply]]: two streaming scans of the base and
    * ZERO base-side exchanges (pinned by PlanShapeSpec: every join
    * broadcasts, no SortMergeJoin) against one scan plus one full
    * key-hash shuffle+sort. A scan is bandwidth; a 100 TB shuffle is the
    * cluster's whole network — use this form whenever the deduped delta
    * fits the broadcast threshold, the merge form when it doesn't. Same
    * tradeoff boundary as the as-of join's broadcast/merge strategy pair.
    */
  def cdcApplyBroadcast(
      base: DataFrame,
      changes: DataFrame,
      key: String,
      seqCol: String = "seq",
      opCol: String = "op"): DataFrame = {
    val payload = base.columns.filter(_ != key)
    // seq ties break on op (descending: U > I > D — a same-seq update
    // beats a delete) so replay is deterministic; two changes sharing
    // BOTH seq and op on one key remain the caller's contract to avoid
    val w = Window.partitionBy(key).orderBy(col(seqCol).desc, col(opCol).desc)
    val latest = changes
      .withColumn("g_rn", row_number().over(w))
      .filter(col("g_rn") === 1)
      .drop("g_rn", seqCol)
    val c = latest.select(
      col(key).as("g_ck") +: col(opCol).as("g_op") +: payload.map(c0 => col(c0).as(s"g_c_$c0")): _*)
    val updated = base
      .join(broadcast(c), col(key) === col("g_ck"), "left")
      .filter(col("g_op").isNull || col("g_op") =!= "D")
      .select(
        col(key) +:
          payload.map(c0 =>
            when(col("g_ck").isNotNull, col(s"g_c_$c0")).otherwise(col(c0)).as(c0)) :+
          when(col("g_ck").isNotNull, lit("cdc")).otherwise(lit("base")).as("src"): _*)
    val touchedKeys = base.select(col(key))
      .join(broadcast(latest.select(col(key))), Seq(key), "left_semi")
    val inserts = latest
      .filter(col(opCol) =!= "D")
      .join(broadcast(touchedKeys), Seq(key), "left_anti")
      .select(
        col(key) +: payload.map(col) :+ lit("cdc").as("src"): _*)
    updated.union(inserts)
  }

  /** Incremental aggregate maintenance: merge a delta's partial
    * aggregates into a standing aggregate state. Both frames carry the
    * same (key, count, sum…) shape; the merge is a full-outer join with
    * null-as-zero addition — the associativity that lets a 100 TB
    * aggregate be maintained by folding in each day's delta instead of
    * recomputing the corpus. The oracle checks THE CONTRACT, not the
    * replay: state(split A) ⊕ state(split B) must equal the one-shot
    * aggregate over A ∪ B.
    */
  def aggMerge(state: DataFrame, delta: DataFrame, key: String): DataFrame = {
    val vals = state.columns.filter(_ != key)
    val s = state.select(col(key).as("g_sk") +: vals.map(c => col(c).as(s"g_s_$c")): _*)
    val d = delta.select(col(key).as("g_dk") +: vals.map(c => col(c).as(s"g_d_$c")): _*)
    s.join(d, col("g_sk") === col("g_dk"), "full_outer")
      .select(
        coalesce(col("g_sk"), col("g_dk")).as(key) +:
          vals.map(c =>
            (coalesce(col(s"g_s_$c"), lit(0L)) + coalesce(col(s"g_d_$c"), lit(0L))).as(c)): _*)
  }

  /** Change data feed: classify the row-level difference between two
    * snapshots of a keyed table as insert / delete / update, emitting
    * old and new payloads side by side. One full-outer join hashed on
    * the key; the payload comparison is a null-safe column-wise check
    * (`<=>` conjunction), so it never serializes whole rows or depends
    * on column order. Unchanged rows are not emitted — the feed is
    * delta-sized.
    */
  def changeDataFeed(oldDf: DataFrame, newDf: DataFrame, key: String): DataFrame = {
    val payload = oldDf.columns.filter(c => c != key && newDf.columns.contains(c))
    val o = oldDf.select(col(key).as("g_ok") +: payload.map(c => col(c).as(s"old_$c")): _*)
    val n = newDf.select(col(key).as("g_nk") +: payload.map(c => col(c).as(s"new_$c")): _*)
    // foldLeft with a `true` base: a key-only table (no shared payload
    // columns) must still classify pure inserts/deletes instead of
    // throwing on an empty reduce; with no payload nothing can differ,
    // so `same` is vacuously true and only insert/delete rows emit
    val same = payload
      .map(c => col(s"old_$c") <=> col(s"new_$c"))
      .foldLeft(lit(true))(_ && _)
    o.join(n, col("g_ok") === col("g_nk"), "full_outer")
      .withColumn("change_type",
        when(col("g_ok").isNull, "insert")
          .when(col("g_nk").isNull, "delete")
          .when(!same, "update"))
      .filter(col("change_type").isNotNull)
      .select(
        coalesce(col("g_nk"), col("g_ok")).as(key) +: col("change_type") +:
          payload.flatMap(c => Seq(col(s"old_$c"), col(s"new_$c"))): _*)
  }

  /** Incremental materialized-view maintenance: refresh a grouped
    * (count, sum) view using ONLY a change data feed — never rescanning
    * the table. Each CDF row contributes signed deltas: a delete (or an
    * update's pre-image) subtracts (1, old value) from its OLD group, an
    * insert (or an update's post-image) adds (1, new value) to its NEW
    * group — so updates that MOVE a row between groups are handled, not
    * just in-place value changes. The signed deltas aggregate to
    * group-cardinality and fold into the standing view via [[aggMerge]];
    * groups whose count reaches zero are dropped. At 100 TB this is the
    * difference between re-aggregating the corpus nightly and touching
    * only the day's delta — the oracle is the ONE-SHOT aggregate over
    * the new snapshot, so hash equality proves the maintenance algebra.
    */
  def viewRefreshFromCdf(
      state: DataFrame,
      cdf: DataFrame,
      groupCol: String,
      valueCol: String,
      countCol: String = "n_rows",
      sumCol: String = "total_c"): DataFrame = {
    val neg = cdf
      .filter(col("change_type").isin("delete", "update"))
      .select(col(s"old_$groupCol").as(groupCol),
        lit(-1L).as("g_n"), (-col(s"old_$valueCol")).as("g_v"))
    val pos = cdf
      .filter(col("change_type").isin("insert", "update"))
      .select(col(s"new_$groupCol").as(groupCol),
        lit(1L).as("g_n"), col(s"new_$valueCol").as("g_v"))
    val delta = neg.union(pos)
      .groupBy(groupCol)
      .agg(sum("g_n").as(countCol), sum("g_v").as(sumCol))
    aggMerge(state, delta, groupCol).filter(col(countCol) =!= 0L)
  }

  /** Small-file compaction plan: given a file inventory (id, size),
    * assign files to target-size output bins by size-descending
    * sequential packing — floor(exclusive-prefix-sum / target), the
    * bin-packing layout an OPTIMIZE/compaction job executes. The sort
    * is over the METADATA inventory (one row per file — ~800k rows for
    * 100 TB at 128 MB files), never the data; the prefix sum comes from
    * [[Relational.rankedPrefix]]'s two-pass distributed rank, so even
    * the metadata frame never funnels through a single-partition
    * window. The rewrite itself would be a per-bin distributed copy.
    * Emits per-bin file counts and fill levels for the planner's skew
    * audit.
    */
  def compactionPlan(
      files: DataFrame,
      idCol: String,
      sizeCol: String,
      targetSize: Long): DataFrame = {
    Relational
      .rankedPrefix(files.select(col(idCol), col(sizeCol)),
        Seq(col(sizeCol).desc, col(idCol)), col(sizeCol))
      // the bin boundary uses the EXCLUSIVE prefix (a file opens a new
      // bin only if the files before it already filled the target)
      .withColumn("bin_id",
        ((col("g_prefix") - col(sizeCol)) / targetSize).cast("long"))
      .groupBy("bin_id")
      .agg(
        count(lit(1)).as("n_files"),
        sum(col(sizeCol)).cast("long").as("total_size"),
        min(col(idCol)).as("first_id"),
        max(col(idCol)).as("last_id"))
      .orderBy("bin_id")
  }

  // ---- Deterministic CDC scenario over the `orders` table ----
  //
  // The registered queries need a change stream derivable from the fixed
  // testdata so DuckDB can replay it: base = 3/4 of orders (key % 4 != 3),
  // updates (+$5) on base keys ending in 0/5, a later delete on keys
  // ≡ 5 (mod 20) — exercising last-writer-wins over the update — and
  // inserts for the held-out quarter. Prices are exact integer cents
  // throughout so the hash compare is engine-neutral.

  private def cents(c: Column): Column = round(c * 100).cast("long")

  /** Base snapshot: (o_orderkey, status, price_c) for keys % 4 != 3. */
  def ordersCdcBase(orders: DataFrame): DataFrame =
    orders
      .filter(col("o_orderkey") % 4 =!= 3)
      .select(col("o_orderkey"), col("o_orderstatus").as("status"),
        cents(col("o_totalprice")).as("price_c"))

  /** Change batch: U(seq 1) on base keys % 10 ∈ {0,5}; D(seq 2) on base
    * keys % 20 = 5; I(seq 1) for the held-out keys % 4 = 3.
    */
  def ordersCdcChanges(orders: DataFrame): DataFrame = {
    val k = col("o_orderkey")
    val updates = orders
      .filter(k % 4 =!= 3 && (k % 10 === 0 || k % 10 === 5))
      .select(k.as("o_orderkey"), lit("U").as("op"), lit(1L).as("seq"),
        col("o_orderstatus").as("status"),
        (cents(col("o_totalprice")) + 500L).as("price_c"))
    val deletes = orders
      .filter(k % 4 =!= 3 && k % 20 === 5)
      .select(k.as("o_orderkey"), lit("D").as("op"), lit(2L).as("seq"),
        lit(null).cast("string").as("status"),
        lit(null).cast("long").as("price_c"))
    val inserts = orders
      .filter(k % 4 === 3)
      .select(k.as("o_orderkey"), lit("I").as("op"), lit(1L).as("seq"),
        lit("NEW").as("status"),
        cents(col("o_totalprice")).as("price_c"))
    updates.union(deletes).union(inserts)
  }

  /** Registered q_cdc_apply body: apply the derived change batch to the
    * derived base snapshot.
    */
  def ordersCdcApply(orders: DataFrame): DataFrame =
    cdcApply(ordersCdcBase(orders), ordersCdcChanges(orders), "o_orderkey")
      .orderBy("o_orderkey")

  /** Registered q_cdc_apply_bc body: the broadcast form on the same
    * scenario — results must hash-match the merge form's oracle exactly.
    */
  def ordersCdcApplyBroadcast(orders: DataFrame): DataFrame =
    cdcApplyBroadcast(ordersCdcBase(orders), ordersCdcChanges(orders), "o_orderkey")
      .orderBy("o_orderkey")

  /** Registered q_cdc_feed body: the change data feed between the base
    * snapshot and the CDC-applied snapshot — reconstructing exactly the
    * inserts/updates/deletes the batch performed (minus the `src`
    * bookkeeping column, which is not payload).
    */
  def ordersCdcFeed(orders: DataFrame): DataFrame =
    changeDataFeed(
      ordersCdcBase(orders),
      ordersCdcApply(orders).drop("src"),
      "o_orderkey")
      .orderBy("o_orderkey")

  /** Registered q_incr_agg_merge body: per-customer (count, cents-sum)
    * maintained incrementally — state from orders before 1996-07-01,
    * delta from the rest, merged. The oracle is the ONE-SHOT aggregate
    * over all orders: hash equality proves the merge is exactly the
    * associative fold it claims to be.
    */
  def ordersIncrAggMerge(orders: DataFrame): DataFrame = {
    val cut = lit("1996-07-01").cast("timestamp")
    def partial(df: DataFrame): DataFrame =
      df.groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"), sum(cents(col("o_totalprice"))).as("total_c"))
    aggMerge(
      partial(orders.filter(col("o_orderdate") < cut)),
      partial(orders.filter(col("o_orderdate") >= cut)),
      "o_custkey")
      .orderBy("o_custkey")
  }

  /** Registered q_incr_view_refresh body: the per-status (count, cents)
    * view over the CDC base, refreshed through the change data feed —
    * the result must hash-match the one-shot aggregate over the APPLIED
    * snapshot (which is what the oracle computes). Status moves are
    * exercised for real: inserts arrive in a brand-new 'NEW' group.
    */
  def ordersViewRefresh(orders: DataFrame): DataFrame = {
    val state = ordersCdcBase(orders)
      .groupBy("status")
      .agg(count(lit(1)).as("n_rows"), sum("price_c").as("total_c"))
    viewRefreshFromCdf(state, ordersCdcFeed(orders), "status", "price_c")
      .orderBy("status")
  }

  /** Registered q_agg_sketch_merge body: distinct-count STATE maintained
    * as mergeable DataSketches HLL sketches — the sketch twin of
    * [[aggMerge]]. Per-status sketches are built over the first half of
    * orders (the standing state) and the second half (the delta), then
    * merged with `hll_union` and estimated — never rescanning the first
    * half. At 100 TB this is how distinct-users-per-X stays maintainable:
    * persist per-day sketches (bytes each), fold new days in, estimate
    * on demand. The registered output carries the EXACT distinct count
    * (DuckDB-replayable) plus contract booleans pinning both the merged
    * and the direct estimate within 2% of exact — if an estimate ever
    * drifted out of contract, the hash compare goes red.
    */
  def ordersSketchMerge(orders: DataFrame): DataFrame = {
    val cut = lit("1996-07-01").cast("timestamp")
    val st = orders.filter(col("o_orderdate") < cut)
      .groupBy("o_orderstatus")
      .agg(hll_sketch_agg(col("o_custkey")).as("sk_a"))
    val dl = orders.filter(col("o_orderdate") >= cut)
      .groupBy("o_orderstatus")
      .agg(hll_sketch_agg(col("o_custkey")).as("sk_b"))
    val direct = orders.groupBy("o_orderstatus")
      .agg(
        hll_sketch_estimate(hll_sketch_agg(col("o_custkey"))).as("direct_est"),
        countDistinct(col("o_custkey")).as("n_exact"))
    // full_outer + null-as-empty-sketch: a status whose orders fall
    // entirely on one side of the cut must still be reported (the
    // oracle emits every status; an absent delta group is an EMPTY
    // delta, not a dropped group — the same algebra as [[aggMerge]])
    st.join(dl, Seq("o_orderstatus"), "full_outer")
      .select(col("o_orderstatus"),
        when(col("sk_a").isNull, hll_sketch_estimate(col("sk_b")))
          .when(col("sk_b").isNull, hll_sketch_estimate(col("sk_a")))
          .otherwise(hll_sketch_estimate(hll_union(col("sk_a"), col("sk_b"))))
          .as("merged_est"))
      .join(direct, Seq("o_orderstatus"), "left")
      .select(
        col("o_orderstatus").as("status"),
        col("n_exact"),
        (abs(col("merged_est") - col("n_exact")) * 50L <= col("n_exact"))
          .as("merged_ok"),
        (abs(col("direct_est") - col("n_exact")) * 50L <= col("n_exact"))
          .as("direct_ok"))
      .orderBy("status")
  }

  /** Registered q_table_compaction body: documents as a file inventory
    * (doc_id, n_chars), packed into 64 kB bins.
    */
  def docsCompactionPlan(documents: DataFrame): DataFrame =
    compactionPlan(documents, "doc_id", "n_chars", 64000L)

  /** Registered q_table_timetravel body: build (a pay-once
    * [[QueryCache.fixture]], like the bucketed-join ingest) a [[graft.sources.VersionedTable]]
    * with three commits — v1 = the base snapshot, v2 = metadata-only
    * APPEND of the held-out inserts (so v2 is exactly every order), v3 =
    * logical OVERWRITE with the CDC-applied state — then read all three
    * snapshots back AFTER v3 exists and aggregate each. Time travel is
    * the point: v1/v2 must still replay exactly even though the table's
    * head has been overwritten twice.
    */
  def ordersTimeTravel(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val table = QueryCache.fixture("tt", orders) { f =>
      val t = s"${f.dir}/orders_v"
      graft.sources.VersionedTable.commit(ordersCdcBase(orders), t, append = false)
      val inserts = orders.filter(col("o_orderkey") % 4 === 3)
        .select(col("o_orderkey"), lit("NEW").as("status"),
          cents(col("o_totalprice")).as("price_c"))
      graft.sources.VersionedTable.commit(inserts, t, append = true)
      graft.sources.VersionedTable.commit(
        ordersCdcApply(orders).drop("src"), t, append = false)
      t
    }
    versionAggregates(spark, table, 3L)
  }

  /** Registered q_table_mor body: the merge-on-read lifecycle on one
    * table (pay-once build) — v1 = base snapshot, v2 = `deleteWhere`
    * (keys ≡ 5 mod 20: a tombstone commit, no data rewritten), v3 =
    * APPEND re-inserting a subset of the deleted keys (≡ 5 mod 40,
    * status REINS, +1000 cents) — the commit-bounded tombstone must NOT
    * swallow them — v4 = `compact` (tombstones applied once, dropped
    * from the manifest). v3 and v4 must aggregate identically; v1 must
    * still show the pre-delete rows.
    */
  def ordersMergeOnRead(orders: DataFrame): DataFrame =
    versionAggregates(orders.sparkSession, ordersMorTable(orders), 4L)

  /** Pay-once builder of the merge-on-read demo table (v1 base, v2
    * tombstone delete, v3 re-insert append, v4 compact) — shared by
    * `q_table_mor` and `q_table_changes`.
    */
  private def ordersMorTable(orders: DataFrame): String = {
    val spark = orders.sparkSession
    QueryCache.fixture("mor", orders) { f =>
      val t = s"${f.dir}/orders_mor"
      graft.sources.VersionedTable.commit(ordersCdcBase(orders), t, append = false)
      graft.sources.VersionedTable.deleteWhere(
        spark, t, col("o_orderkey") % 20 === 5, "o_orderkey")
      val reinserts = orders
        .filter(col("o_orderkey") % 4 =!= 3 && col("o_orderkey") % 40 === 5)
        .select(col("o_orderkey"), lit("REINS").as("status"),
          (cents(col("o_totalprice")) + 1000L).as("price_c"))
      graft.sources.VersionedTable.commit(reinserts, t, append = true)
      graft.sources.VersionedTable.compact(spark, t)
      t
    }
  }

  /** Registered q_table_posdel body: the POSITIONAL deletion-vector
    * lifecycle on one table (pay-once build) — v1 = base snapshot, v2 =
    * `deleteWherePositional(price_c % 7 < 2)` (an arbitrary NON-KEY
    * predicate: a deletion vector names row positions, so no key column
    * is needed and no reader ever materializes a key set), v3 = APPEND
    * of the held-out keys (a later commit's files are untouched by the
    * vector by construction), v4 = `compact` (the vector applied once,
    * dropped from the manifest). v3 and v4 must aggregate identically;
    * v1 must still show the pre-delete rows.
    */
  def ordersPositionalDelete(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val t = ordersPosDelTable(orders)
    // a NO-MATCH positional delete burns no version (it is a no-op, like
    // deleteWhereCow), so on EMPTY input the fixture has 3 versions, not
    // 4 — clamp each requested version to the actual head; the padded
    // rows aggregate the same (empty) snapshot
    val head = graft.sources.VersionedTable.versions(t).last
    (1L to 4L).map { v =>
      graft.sources.VersionedTable.read(spark, t, Some(math.min(v, head)))
        .agg(count(lit(1)).as("n_rows"),
          sum("price_c").cast("long").as("total_c"))
        .select(lit(v).as("version"), col("n_rows"), col("total_c"))
    }.reduce(_ union _).orderBy("version")
  }

  /** Pay-once builder of the positional-delete demo table — shared by
    * `q_table_posdel` and `q_posdel_changes`.
    */
  private def ordersPosDelTable(orders: DataFrame): String = {
    val spark = orders.sparkSession
    QueryCache.fixture("pdv", orders) { f =>
      val t = s"${f.dir}/orders_pdv"
      graft.sources.VersionedTable.commit(ordersCdcBase(orders), t, append = false)
      graft.sources.VersionedTable.deleteWherePositional(
        spark, t, col("price_c") % 7L < 2L)
      val inserts = orders.filter(col("o_orderkey") % 4 === 3)
        .select(col("o_orderkey"), lit("NEW").as("status"),
          cents(col("o_totalprice")).as("price_c"))
      graft.sources.VersionedTable.commit(inserts, t, append = true)
      graft.sources.VersionedTable.compact(spark, t)
      t
    }
  }

  /** Registered q_posdel_changes body: CDF over a positional delete —
    * the deleted ROWS are reconstructed BY POSITION (the vector holds
    * (file, row) pairs, not keys; [[graft.sources.VersionedTable
    * .deletesBetween]] semi-joins them back onto exactly the referenced
    * files), stamped with the delete commit's version and aggregated per
    * status. This is the CDF shape equality tombstones cannot give:
    * full deleted rows, not just keys.
    */
  def ordersPosDelChanges(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val t = ordersPosDelTable(orders)
    val head = graft.sources.VersionedTable.versions(t).last
    // on EMPTY input the no-match delete burned no version (head = 3 and
    // no delete commit exists): the CDF report is legitimately empty
    val del =
      if (head < 4L) {
        import spark.implicits._
        Seq.empty[(Long, String, Long, Long)]
          .toDF("o_orderkey", "status", "price_c", "_commit_version")
      } else graft.sources.VersionedTable.deletesBetween(spark, t, 1L, 3L)
    del.groupBy(col("status"))
      .agg(count(lit(1)).as("n_del"),
        sum("price_c").cast("long").as("del_c"))
      .orderBy("status")
  }

  /** Registered q_table_changes body: incremental consumption of the
    * merge-on-read table over the additive range (1, 3] — the appended
    * rows (the v3 re-inserts; the v2 delete commit adds none) and the
    * tombstoned keys (v2), each stamped with its commit version. This
    * is what a downstream consumer with a version cursor reads instead
    * of rescanning snapshots; the range deliberately stops before v4,
    * whose overwrite makes incremental consumption undefined (and
    * `appendsBetween` fails loudly there — pinned in the spec).
    */
  def ordersTableChanges(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val t = ordersMorTable(orders)
    val app = graft.sources.VersionedTable.appendsBetween(spark, t, 1L, 3L)
      .select(col("o_orderkey"), lit("insert").as("change_type"),
        col("price_c"), col("_commit_version").as("version"))
    val del = graft.sources.VersionedTable.deletesBetween(spark, t, 1L, 3L)
      .select(col("o_orderkey"), lit("delete").as("change_type"),
        lit(null).cast("long").as("price_c"), col("_commit_version").as("version"))
    app.union(del).orderBy("o_orderkey", "version")
  }

  /** Registered q_sql_table_changes body: the SQL front door to CDF —
    * `SELECT ... FROM table_changes('<table>', 2, 3)` (the table
    * function [[graft.functions.GraftExtensions]] injects), over the
    * same merge-on-read fixture as the programmatic `q_table_changes`.
    * The TVF's bounds are both INCLUSIVE (Delta parity), so [2, 3] here
    * equals the programmatic twin's exclusive-start (1, 3]. The plan is
    * fully distributed (the change commits' files scan as ordinary
    * parquet relations); the oracle is identical to the programmatic
    * twin's, so hash equality proves the SQL surface emits exactly the
    * programmatic change feed.
    */
  def ordersSqlTableChanges(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val t = ordersMorTable(orders)
    spark.sql(
      s"""SELECT o_orderkey, _change_type AS change_type, price_c,
         |       _commit_version AS version
         |FROM table_changes('$t', 2, 3)
         |ORDER BY o_orderkey, version""".stripMargin)
  }

  /** Registered q_cdc_apply_bucketed body: the steady-state 100 TB CDC
    * form made concrete — the base snapshot lives BUCKETED (and sorted)
    * on the key, paid once at ingest, so the nightly CDC apply's
    * full-outer sort-merge join consumes the base's bucketed scan
    * directly: ONLY THE DELTA SHUFFLES, the standing table never does.
    * This is the escape hatch the `cdcApply` Scaladoc promises; here it
    * is registered, hash-checked against the same oracle as the merge
    * form (all three CDC forms must produce the identical standing
    * table), and plan-pinned (`PlanShapeSpec`: zero Exchange in the
    * base-side subtree of the join).
    */
  def ordersCdcApplyBucketed(orders: DataFrame, bucketsOpt: Option[Int] = None): DataFrame = {
    val spark = orders.sparkSession
    // the bucket count must MATCH the session's shuffle parallelism:
    // when only one join child satisfies the clustering, EnsureRequirements
    // re-shuffles everything to spark.sql.shuffle.partitions unless the
    // satisfied child already has that partition count — a bucketed layout
    // that ignores the cluster's partitioning buys nothing
    val buckets = bucketsOpt.getOrElse(
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val base = QueryCache.fixture(s"cb_$buckets", orders) { f =>
      val t = s"g_orders_cdcb_${f.tag}"
      ordersCdcBase(orders).write.format("parquet")
        .bucketBy(buckets, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"${f.dir}/base").saveAsTable(t)
      t
    }
    cdcApply(spark.table(base).hint("merge"), ordersCdcChanges(orders), "o_orderkey")
      .orderBy("o_orderkey")
  }

  /** Registered q_table_pruned body: zone-map data skipping on the
    * versioned table. The pay-once build commits orders range-clustered
    * on the key (`repartitionByRange(8)`) with `statsCols` recording
    * each file's key min/max in the manifest; the read then asks for a
    * narrow key range through [[graft.sources.VersionedTable.readWhere]],
    * which drops files excluded by their zone map BEFORE Spark lists or
    * opens them — manifest-only planning, the Iceberg data-skipping
    * shape. The oracle is the plain range filter over raw orders: hash
    * equality proves pruning loses nothing; `VersionedTableSpec` pins
    * that the scan actually skips (pruneCount and inputFiles).
    */
  def ordersPrunedRead(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val table = QueryCache.fixture("pr", orders) { f =>
      val t = s"${f.dir}/orders_pr"
      graft.sources.VersionedTable.commit(
        orders.select(col("o_orderkey"), col("o_orderstatus").as("status"),
            cents(col("o_totalprice")).as("price_c"))
          .repartitionByRange(8, col("o_orderkey")),
        t, append = false, statsCols = Seq("o_orderkey"))
      t
    }
    graft.sources.VersionedTable
      .readWhere(spark, table, None, "o_orderkey", 10000L, 20000L)
      .orderBy("o_orderkey")
  }

  /** Registered q_table_merge body: MERGE INTO on the versioned table —
    * the CDC scenario's change batch applied through
    * [[graft.sources.VersionedTable.mergeInto]] (cdcApply + conflict-safe
    * overwrite commit) and the HEAD read back. The oracle replays the
    * same last-writer-wins merge in SQL: hash equality proves the
    * committed table state, not just the in-flight frame.
    */
  def ordersTableMerge(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val table = QueryCache.fixture("mg", orders) { f =>
      val t = s"${f.dir}/orders_mg"
      graft.sources.VersionedTable.commit(ordersCdcBase(orders), t, append = false)
      graft.sources.VersionedTable.mergeInto(
        spark, t, ordersCdcChanges(orders), "o_orderkey")
      t
    }
    graft.sources.VersionedTable.read(spark, table).orderBy("o_orderkey")
  }

  /** Registered q_table_optimize body: the OPTIMIZE lifecycle — three
    * unclustered appends, a MOR tombstone delete, then
    * [[graft.sources.VersionedTable.optimize]] (tombstones applied once,
    * head rewritten range-clustered on the key with fresh zone maps) —
    * and a pruned range aggregate over the optimized head. The oracle
    * replays the surviving rows' range aggregate from raw orders:
    * equality proves optimize changed LAYOUT, not content.
    */
  def ordersTableOptimize(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val table = QueryCache.fixture("opt", orders) { f =>
      val t = s"${f.dir}/orders_opt"
      val base = ordersCdcBase(orders)
      (0L to 2L).foreach { m =>
        graft.sources.VersionedTable.commit(
          base.filter(col("o_orderkey") % 3 === m), t, append = m > 0L)
      }
      graft.sources.VersionedTable.deleteWhere(
        spark, t, col("o_orderkey") % 20 === 5, "o_orderkey")
      graft.sources.VersionedTable.optimize(
        spark, t, "o_orderkey", targetRowsPerFile = 20000L)
      t
    }
    graft.sources.VersionedTable
      .readWhere(spark, table, None, "o_orderkey", 1000L, 3000L)
      .groupBy("status")
      .agg(count(lit(1)).as("n_rows"), sum("price_c").cast("long").as("total_c"))
      .orderBy("status")
  }

  /** Registered q_table_history body: the manifest-derived commit log of
    * the merge-on-read lifecycle table — version, inferred operation,
    * and the commit's recorded fresh-row count (for the delete commit:
    * the tombstoned key count). Metadata-only on the engine side; the
    * oracle derives the same four rows from raw orders.
    */
  def ordersTableHistory(orders: DataFrame): DataFrame =
    graft.sources.VersionedTable.history(orders.sparkSession, ordersMorTable(orders))
      .select(col("version"), col("operation"), col("n_fresh_rows"))
      .orderBy("version")

  /** Registered q_table_constraints body: CHECK-constraint enforcement as
    * an end-state the oracle can hash. The pay-once build commits the
    * clean base, declares `price_c >= 0` and `status IS NOT NULL`, then
    * attempts an append whose poisoned half (keys ≡ 3 mod 8 carry
    * negated prices) must be REJECTED ATOMICALLY — after which the
    * cleaned batch commits. The final table therefore holds base plus
    * only the clean half of the insert batch: if enforcement leaked even
    * one poisoned row, or atomically lost the clean retry, the hash
    * diverges from the oracle's replay.
    */
  def ordersTableConstraints(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val table = QueryCache.fixture("ck", orders) { f =>
      val t = s"${f.dir}/orders_ck"
      graft.sources.VersionedTable.commit(ordersCdcBase(orders), t, append = false)
      graft.sources.VersionedTable.addCheckConstraint(
        spark, t, "price_nonneg", "price_c >= 0")
      graft.sources.VersionedTable.addCheckConstraint(
        spark, t, "status_set", "status IS NOT NULL")
      val dirty = orders.filter(col("o_orderkey") % 4 === 3)
        .select(col("o_orderkey"), col("o_orderstatus").as("status"),
          when(col("o_orderkey") % 8 === 3, -cents(col("o_totalprice")) - 1L)
            .otherwise(cents(col("o_totalprice"))).as("price_c"))
      // on the real corpus the poisoned half guarantees rejection; on an
      // EMPTY input the batch has no violating rows and commits cleanly —
      // the quarantine retry then must not double-append
      val rejected =
        try { graft.sources.VersionedTable.commit(dirty, t, append = true); false }
        catch { case _: IllegalArgumentException => true }
      if (rejected)
        graft.sources.VersionedTable.commit(
          dirty.filter(col("price_c") >= 0), t, append = true)
      t
    }
    graft.sources.VersionedTable.read(spark, table).orderBy("o_orderkey")
  }

  /** Registered q_sql_timetravel body: the versioned table consumed
    * through the SQL CATALOG with Spark's native time-travel syntax —
    * `FROM gtab.default.<t> VERSION AS OF n` — over the same
    * base/append/CDC-overwrite lifecycle as `q_table_timetravel`. Same
    * oracle: the SQL front door must replay exactly what the
    * programmatic reads replay.
    */
  def ordersSqlTimetravel(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val name = QueryCache.fixture("sqltt", orders) { f =>
      val n = f.catalogTable("orders_tt")
      val t = f.catalogPath(n)
      graft.sources.VersionedTable.commit(ordersCdcBase(orders), t, append = false)
      val inserts = orders.filter(col("o_orderkey") % 4 === 3)
        .select(col("o_orderkey"), lit("NEW").as("status"),
          cents(col("o_totalprice")).as("price_c"))
      graft.sources.VersionedTable.commit(inserts, t, append = true)
      graft.sources.VersionedTable.commit(
        ordersCdcApply(orders).drop("src"), t, append = false)
      n
    }
    def leg(v: Long) =
      s"""SELECT CAST($v AS BIGINT) AS version, count(*) AS n_rows,
         |CAST(sum(price_c) AS BIGINT) AS total_c
         |FROM gtab.default.$name VERSION AS OF $v""".stripMargin
    spark.sql(s"${leg(1)} UNION ALL ${leg(2)} UNION ALL ${leg(3)} ORDER BY version")
  }

  /** Registered q_sql_pruned body: a range predicate through the SQL
    * catalog over a range-clustered table — the pushed filter's bounds
    * prune files against the manifest zone maps at planning time
    * (`GraftCatalogSpec` pins the kept/total count); the oracle is the
    * plain range filter, so equality proves planning-time skipping
    * loses nothing through the SQL path either.
    */
  def ordersSqlPruned(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val name = QueryCache.fixture("sqlpr", orders) { f =>
      val n = f.catalogTable("orders_pr")
      graft.sources.VersionedTable.commit(
        orders.select(col("o_orderkey"), col("o_orderstatus").as("status"),
            cents(col("o_totalprice")).as("price_c"))
          .repartitionByRange(8, col("o_orderkey")),
        f.catalogPath(n), append = false, statsCols = Seq("o_orderkey"))
      n
    }
    spark.sql(
      s"""SELECT o_orderkey, status, price_c FROM gtab.default.$name
         |WHERE o_orderkey BETWEEN 5000 AND 8000
         |ORDER BY o_orderkey""".stripMargin)
  }

  /** Registered q_sql_dbl_prune body: DOUBLE-predicate file pruning —
    * the round-15 "what's missing #5". Double zones record IEEE
    * SORTABLE BITS (a monotone bijection onto signed longs, so the
    * engine's entire long-zone machinery prunes doubles EXACTLY — the
    * ±1 open-bound adjustments mean nextUp/nextDown, not truncation);
    * the table is range-clustered on the double, and a half-open range
    * with a strict lower bound prunes files at planning time. The
    * oracle replays the plain filter — amounts derive exactly from the
    * key (k + 0.25 is representable), so the hash is engine-neutral.
    */
  def ordersSqlDblPruned(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val name = dblTable(orders)
    spark.sql(
      s"""SELECT o_orderkey, amount FROM gtab.default.$name
         |WHERE amount > 12000.0 AND amount <= 15000.25
         |ORDER BY o_orderkey""".stripMargin)
  }

  /** The double-clustered table behind q_sql_dbl_prune and q_sql_fastminmax_dbl. */
  private def dblTable(orders: DataFrame): String =
    QueryCache.fixture("sqldbl", orders) { f =>
      val n = f.catalogTable("orders_dbl")
      graft.sources.VersionedTable.commit(
        orders.select(col("o_orderkey"),
            (col("o_orderkey") + lit(0.25)).as("amount"))
          .repartitionByRange(8, col("amount")),
        f.catalogPath(n), append = false, statsCols = Seq("amount"))
      n
    }

  /** Registered q_sql_fastminmax_dbl body: DOUBLE MIN/MAX from manifest
    * arithmetic — the sortable-bits zone edges convert back (bijection)
    * to the exact extremes, so an ungrouped min/max/count over the
    * double-clustered table opens ZERO data files
    * (`GraftCatalogSpec` pins the graft-catalog-agg plan shape).
    */
  def ordersSqlFastMinMaxDbl(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val name = dblTable(orders)
    spark.sql(
      s"""SELECT min(amount) AS min_a, max(amount) AS max_a,
         |       count(*) AS n
         |FROM gtab.default.$name""".stripMargin)
  }

  /** Registered q_sql_pruned_str body: STRING-predicate file pruning
    * through the SQL catalog — the table is range-clustered on a
    * fixed-width string key, commit-time byte-prefix zone maps
    * (truncated to 16 bytes, Iceberg-style) are recorded per file, and
    * the pushed range + LIKE-prefix predicates prune files at planning
    * time exactly as integral bounds do (`GraftCatalogSpec` pins the
    * kept/total count and the truncation edge cases). The oracle replays
    * the same string predicates plain — DuckDB's varchar comparison is
    * the same bytewise order the zones were recorded in — so equality
    * proves string skipping loses nothing.
    */
  def ordersSqlPrunedStr(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val name = QueryCache.fixture("sqlprs", orders) { f =>
      val n = f.catalogTable("orders_prs")
      graft.sources.VersionedTable.commit(
        orders.select(
            lpad(col("o_orderkey").cast("string"), 10, "0").as("okey_s"),
            col("o_orderstatus").as("status"),
            cents(col("o_totalprice")).as("price_c"))
          .repartitionByRange(8, col("okey_s")),
        f.catalogPath(n), append = false, statsCols = Seq("okey_s"))
      n
    }
    spark.sql(
      s"""SELECT okey_s, status, price_c FROM gtab.default.$name
         |WHERE okey_s >= '0000005000' AND okey_s <= '0000008000'
         |  AND okey_s LIKE '0000007%'
         |ORDER BY okey_s""".stripMargin)
  }

  /** Registered q_sql_insert body: the SQL WRITE path end-to-end —
    * INSERT INTO ... SELECT through the catalog appends a commit whose
    * files are staged by executors and published through the same
    * link-as-CAS protocol as programmatic commits (constraints and
    * snapshot isolation included). The oracle replays base ∪ inserted
    * quarter; hash equality proves the SQL-written files decode back
    * bit-exactly through the catalog reader.
    */
  def ordersSqlInsert(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val name = QueryCache.fixture("sqlins", orders) { f =>
      val n = f.catalogTable("orders_ins")
      graft.sources.VersionedTable.commit(
        ordersCdcBase(orders), f.catalogPath(n), append = false)
      orders.createOrReplaceTempView(s"g_src_$n")
      spark.sql(
        s"""INSERT INTO gtab.default.$n
           |SELECT o_orderkey, 'NEW' AS status,
           |       CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
           |FROM g_src_$n WHERE o_orderkey % 4 = 3""".stripMargin)
      n
    }
    spark.sql(
      s"SELECT o_orderkey, status, price_c FROM gtab.default.$name ORDER BY o_orderkey")
  }

  /** Registered q_table_binary body: BINARY as a first-class versioned-
    * table column end-to-end — CREATE TABLE (payload BINARY) through the
    * SQL catalog, INSERT INTO from the documents corpus (the catalog's
    * own Group-API writer encodes the raw bytes), a merge-on-read
    * `deleteWhere` (binary columns ride the VECTORIZED tombstone copy —
    * the doomed-key probe reads the key vector, the surviving-row copy
    * moves the byte arrays), and a SELECT of derived scalars (byte
    * length, md5 hex). The oracle replays octet_length+md5 over the raw
    * parquet minus the deleted keys — hash equality proves the bytes
    * stored in the graft format are exactly the source bytes. (DuckDB's
    * md5 takes VARCHAR; its UTF-8 bytes are the same bytes Spark's
    * md5(BINARY) hashes, so the digests agree on any corpus.)
    */
  def docsSqlBinary(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    val name = QueryCache.fixture("sqlbin", documents) { f =>
      val n = f.catalogTable("docs_bin")
      documents.createOrReplaceTempView(s"g_bin_src_$n")
      spark.sql(
        s"""CREATE TABLE gtab.default.$n (
           |  doc_id BIGINT, payload BINARY, lang STRING)""".stripMargin)
      spark.sql(
        s"""INSERT INTO gtab.default.$n
           |SELECT doc_id, CAST(text AS BINARY) AS payload, lang
           |FROM g_bin_src_$n""".stripMargin)
      graft.sources.VersionedTable.deleteWhere(
        spark, f.catalogPath(n), col("doc_id") % 7L === 0L, "doc_id")
      n
    }
    spark.sql(
      s"""SELECT doc_id, CAST(length(payload) AS BIGINT) AS n_bytes,
         |  md5(payload) AS digest, lang
         |FROM gtab.default.$name ORDER BY doc_id""".stripMargin)
  }

  /** Registered q_table_nested body: ARRAY + STRUCT columns as
    * first-class versioned-table citizens — CREATE TABLE (toks
    * ARRAY<BIGINT>, meta STRUCT<lang, src>) through the SQL catalog,
    * INSERT INTO computing a token-length array per document (the
    * catalog writer emits standard 3-level lists and plain groups), a
    * SQL DELETE (copy-on-write rewrite of nested files through the same
    * writer), and a SELECT that filters on a SIBLING primitive and
    * unnests derived scalars (element count, element sum, struct
    * fields). The oracle rebuilds the same arrays with DuckDB list
    * lambdas from the raw parquet — hash equality proves the nested
    * round-trip is lossless through create, insert, rewrite, and read.
    */
  def docsSqlNested(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    val name = QueryCache.fixture("sqlnest", documents) { f =>
      val n = f.catalogTable("docs_nest")
      documents.createOrReplaceTempView(s"g_nest_src_$n")
      spark.sql(
        s"""CREATE TABLE gtab.default.$n (
           |  doc_id BIGINT, toks ARRAY<BIGINT>,
           |  meta STRUCT<lang: STRING, src: STRING>, n_chars BIGINT)""".stripMargin)
      spark.sql(
        s"""INSERT INTO gtab.default.$n
           |SELECT doc_id,
           |  transform(filter(split(text, ' '), w -> length(w) > 0),
           |    w -> CAST(length(w) AS BIGINT)) AS toks,
           |  named_struct('lang', lang, 'src', source) AS meta, n_chars
           |FROM g_nest_src_$n""".stripMargin)
      spark.sql(s"DELETE FROM gtab.default.$n WHERE doc_id % 9 = 0")
      n
    }
    spark.sql(
      s"""SELECT doc_id, CAST(size(toks) AS BIGINT) AS n_tok,
         |  aggregate(toks, CAST(0 AS BIGINT), (a, x) -> a + x) AS tok_sum,
         |  meta.lang AS lang, meta.src AS src, n_chars
         |FROM gtab.default.$name
         |WHERE doc_id % 3 <> 1 ORDER BY doc_id""".stripMargin)
  }

  /** Registered q_table_emb body: EMBEDDINGS as versioned-table citizens
    * — the ARRAY<FLOAT> column goes through SQL CREATE/INSERT (the
    * catalog writer's standard 3-level lists), a positional deletion
    * vector drops a slice of the corpus (vec_id ≡ 13 mod 97 — including
    * query vector 13, so the read path's correctness is visible in the
    * result set), and brute-force cosine top-k runs OVER THE TABLE READ.
    * Floats round-trip bit-exactly (FLOAT primitive in, FLOAT out), so
    * the scores equal `q_emb_topk`'s oracle arithmetic on the surviving
    * vectors — ANN over table-format storage loses nothing.
    */
  def embSqlTopK(embeddings: DataFrame): DataFrame = {
    val spark = embeddings.sparkSession
    val name = QueryCache.fixture("sqlemb", embeddings) { f =>
      val n = f.catalogTable("emb_tab")
      embeddings.createOrReplaceTempView(s"g_emb_src_$n")
      spark.sql(
        s"""CREATE TABLE gtab.default.$n (
           |  vec_id BIGINT, embedding ARRAY<FLOAT>, label INT)""".stripMargin)
      spark.sql(
        s"""INSERT INTO gtab.default.$n
           |SELECT vec_id, embedding, label FROM g_emb_src_$n""".stripMargin)
      graft.sources.VersionedTable.deleteWherePositional(
        spark, f.catalogPath(n), col("vec_id") % 97L === 13L)
      n
    }
    graft.ops.Similarity.bruteForceTopK(spark.table(s"gtab.default.$name"))
  }

  /** Registered q_table_map body: MAP columns through the full versioned
    * lifecycle — CREATE with MAP<STRING,BIGINT>, INSERT building maps
    * (including NULL values: the 'mod' entry nulls out for doc_id ≡ 0
    * mod 4), a copy-on-write DELETE rewriting map-carrying files, and a
    * read deriving flat scalars by key access + map_keys, which DuckDB
    * replays from the source columns directly.
    */
  def docsSqlMap(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    val name = QueryCache.fixture("sqlmap", documents) { f =>
      val n = f.catalogTable("docs_map")
      documents.createOrReplaceTempView(s"g_map_src_$n")
      spark.sql(
        s"""CREATE TABLE gtab.default.$n (
           |  doc_id BIGINT, tags MAP<STRING, BIGINT>, lang STRING)""".stripMargin)
      spark.sql(
        s"""INSERT INTO gtab.default.$n
           |SELECT doc_id,
           |  map('chars', n_chars,
           |      'words', CAST(size(filter(split(text, ' '),
           |        w -> length(w) > 0)) AS BIGINT),
           |      'mod', CASE WHEN doc_id % 4 = 0 THEN CAST(NULL AS BIGINT)
           |             ELSE doc_id % 5 END) AS tags,
           |  lang
           |FROM g_map_src_$n""".stripMargin)
      spark.sql(s"DELETE FROM gtab.default.$n WHERE doc_id % 11 = 3")
      n
    }
    spark.sql(
      s"""SELECT doc_id, tags['chars'] AS chars, tags['words'] AS words,
         |  tags['mod'] AS m, CAST(size(tags) AS BIGINT) AS n_keys,
         |  array_join(array_sort(map_keys(tags)), ',') AS ks, lang
         |FROM gtab.default.$name
         |WHERE doc_id % 3 <> 2 ORDER BY doc_id""".stripMargin)
  }

  /** Registered q_sql_nested_add body: NESTED schema evolution on the
    * flagship documents shape — half the corpus inserted under
    * `meta STRUCT<lang>`, then `ALTER TABLE ADD COLUMNS (meta.src
    * STRING)` (a schema-only carrier; no file rewritten), then the rest
    * inserted carrying the evolved struct. Pre-evolution rows read
    * `meta.src` as NULL, post-evolution rows carry it — the oracle
    * replays the generation split with a CASE on the insert parity.
    */
  def docsSqlNestedAdd(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    val name = QueryCache.fixture("sqlnadd", documents) { f =>
      val n = f.catalogTable("docs_nadd")
      documents.createOrReplaceTempView(s"g_nadd_src_$n")
      spark.sql(
        s"""CREATE TABLE gtab.default.$n (
           |  doc_id BIGINT, meta STRUCT<lang: STRING>, n_chars BIGINT)""".stripMargin)
      spark.sql(
        s"""INSERT INTO gtab.default.$n
           |SELECT doc_id, named_struct('lang', lang) AS meta, n_chars
           |FROM g_nadd_src_$n WHERE doc_id % 2 = 0""".stripMargin)
      spark.sql(s"ALTER TABLE gtab.default.$n ADD COLUMNS (meta.src STRING)")
      spark.sql(
        s"""INSERT INTO gtab.default.$n
           |SELECT doc_id, named_struct('lang', lang, 'src', source) AS meta,
           |  n_chars
           |FROM g_nadd_src_$n WHERE doc_id % 2 = 1""".stripMargin)
      n
    }
    spark.sql(
      s"""SELECT doc_id, meta.lang AS lang, meta.src AS src, n_chars
         |FROM gtab.default.$name ORDER BY doc_id""".stripMargin)
  }

  /** Registered q_sql_array_prune body: ARRAY-MEMBERSHIP file pruning —
    * the daily LLM-curation filter `WHERE array_contains(tags, …)` over
    * a tags-clustered corpus. The table declares `graft.member-cols`,
    * so every commit records a per-file element bloom; one INSERT per
    * language keeps each file's tag vocabulary disjoint; the read's
    * membership conjunct reaches the scan through the
    * PushMembershipProbes side channel and drops every non-matching
    * file at PLANNING time (zone maps can't speak set membership —
    * LIST leaves have no scalar bounds). The oracle replays the same
    * rows flat, so hash equality proves pruning is invisible. At
    * 100 TB: `array_contains(tags,'lang:en')` over a trillion-row
    * documents table stops being a full scan.
    */
  /** The lang-clustered member-bloom table behind q_sql_array_prune AND
    * q_sql_overlap_prune — built once per input, whichever query runs
    * first.
    */
  private def arrayPruneTable(documents: DataFrame): String = {
    val spark = documents.sparkSession
    QueryCache.fixture("sqlaprune", documents) { f =>
      val n = f.catalogTable("docs_aprune")
      documents.createOrReplaceTempView(s"g_aprune_src_$n")
      spark.sql(
        s"""CREATE TABLE gtab.default.$n (
           |  doc_id BIGINT, tags ARRAY<STRING>, n_chars BIGINT)
           |TBLPROPERTIES ('graft.member-cols' = 'tags')""".stripMargin)
      Seq("de", "en", "es", "fr", "zh").foreach { lang =>
        spark.sql(
          s"""INSERT INTO gtab.default.$n
             |SELECT doc_id,
             |  array(concat('lang:', lang), concat('src:', source)),
             |  n_chars
             |FROM g_aprune_src_$n WHERE lang = '$lang'""".stripMargin)
      }
      n
    }
  }

  def docsSqlArrayPrune(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    val name = arrayPruneTable(documents)
    spark.sql(
      s"""SELECT doc_id, n_chars
         |FROM gtab.default.$name
         |WHERE array_contains(tags, 'lang:en')
         |ORDER BY doc_id""".stripMargin)
  }

  /** Registered q_sql_overlap_prune body: the IN-LIST of membership —
    * `arrays_overlap(tags, array('lang:en', 'lang:de'))` over the same
    * lang-clustered member-bloom table. The probe group is DISJUNCTIVE
    * (a file drops only when its bloom excludes every listed key), so
    * the plan keeps exactly the two languages' generations; the oracle
    * replays the rows flat with `lang IN ('en','de')`, hash equality
    * proving the group semantics never drop a match.
    */
  def docsSqlOverlapPrune(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    val name = arrayPruneTable(documents)
    spark.sql(
      s"""SELECT doc_id, n_chars
         |FROM gtab.default.$name
         |WHERE arrays_overlap(tags, array('lang:en', 'lang:de'))
         |ORDER BY doc_id""".stripMargin)
  }

  /** Registered q_sql_map_prune body: MAP-KEY membership pruning — the
    * same bloom sidecar, keyed on the map's KEY set (`map_keys` rides
    * the commit aggregate), probed by `attrs['k'] IS NOT NULL` /
    * `attrs['k'] = v` conjuncts. A key-per-language layout prunes to
    * the one language's files; the read also projects the value
    * through the same key, proving the probe never drops a match.
    */
  def docsSqlMapPrune(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    val name = QueryCache.fixture("sqlmprune", documents) { f =>
      val n = f.catalogTable("docs_mprune")
      documents.createOrReplaceTempView(s"g_mprune_src_$n")
      spark.sql(
        s"""CREATE TABLE gtab.default.$n (
           |  doc_id BIGINT, attrs MAP<STRING, BIGINT>)
           |TBLPROPERTIES ('graft.member-cols' = 'attrs')""".stripMargin)
      Seq("de", "en", "es", "fr", "zh").foreach { lang =>
        spark.sql(
          s"""INSERT INTO gtab.default.$n
             |SELECT doc_id,
             |  map(concat('lang:', lang), n_chars, 'doc', doc_id)
             |FROM g_mprune_src_$n WHERE lang = '$lang'""".stripMargin)
      }
      n
    }
    spark.sql(
      s"""SELECT doc_id, attrs['lang:en'] AS v
         |FROM gtab.default.$name
         |WHERE attrs['lang:en'] IS NOT NULL
         |ORDER BY doc_id""".stripMargin)
  }

  /** Registered q_sql_nested_member body: DOTTED membership pruning —
    * the member bloom declared on a STRUCT-LEAF array (`meta.tags`),
    * the documents-table shape a real corpus carries. Every other
    * metadata family (zones, row-group leaves, rename/drop, streaming
    * keys) went dotted in earlier rounds; this closes membership. The
    * commit job blooms the leaf through the spine (`col("meta.tags")`),
    * the probe rule renders the GetStructField chain as the dotted
    * name, and a mid-test SPINE RENAME (`meta` → `info`) proves the
    * probe translates segment-by-segment back to the recorded physical
    * bloom key. The oracle replays the matching rows flat, so hash
    * equality proves the whole path is invisible to results.
    */
  def docsSqlNestedMember(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    val name = QueryCache.fixture("sqlnmem", documents) { f =>
      val n = f.catalogTable("docs_nmem")
      documents.createOrReplaceTempView(s"g_nmem_src_$n")
      spark.sql(
        s"""CREATE TABLE gtab.default.$n (
           |  doc_id BIGINT,
           |  meta STRUCT<lang: STRING, tags: ARRAY<STRING>>,
           |  n_chars BIGINT)
           |TBLPROPERTIES ('graft.member-cols' = 'meta.tags')""".stripMargin)
      Seq("de", "en", "es", "fr", "zh").foreach { lang =>
        spark.sql(
          s"""INSERT INTO gtab.default.$n
             |SELECT doc_id,
             |  named_struct('lang', lang,
             |    'tags', array(concat('lang:', lang), concat('src:', source))),
             |  n_chars
             |FROM g_nmem_src_$n WHERE lang = '$lang'""".stripMargin)
      }
      // spine rename AFTER the inserts: the probe on info.tags must
      // translate back to the physical meta.tags bloom key
      spark.sql(s"ALTER TABLE gtab.default.$n RENAME COLUMN meta TO info")
      n
    }
    spark.sql(
      s"""SELECT doc_id, info.lang AS lang, n_chars
         |FROM gtab.default.$name
         |WHERE array_contains(info.tags, 'lang:en')
         |ORDER BY doc_id""".stripMargin)
  }

  /** Registered q_sql_nested_rename body: NESTED column-mapping
    * evolution on the flagship documents shape — half the corpus
    * inserted under `meta STRUCT<lang, src>`, then `RENAME COLUMN
    * meta.lang TO lang_code` and `DROP COLUMN meta.src` (both O(1)
    * column-map edits; no file read or rewritten at any scale), then
    * the rest inserted through the NEW logical shape (the write
    * translates back, so files keep physical names and the snapshot
    * schema union never forks). The read filters on the renamed leaf —
    * pushed predicates translate logical→physical before the zone maps
    * — and the oracle replays the same rows flat, so hash equality
    * proves the whole mapping layer is invisible to results.
    */
  def docsSqlNestedRename(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    val name = QueryCache.fixture("sqlnren", documents) { f =>
      val n = f.catalogTable("docs_nren")
      documents.createOrReplaceTempView(s"g_nren_src_$n")
      spark.sql(
        s"""CREATE TABLE gtab.default.$n (
           |  doc_id BIGINT, meta STRUCT<lang: STRING, src: STRING>,
           |  n_chars BIGINT)""".stripMargin)
      spark.sql(
        s"""INSERT INTO gtab.default.$n
           |SELECT doc_id, named_struct('lang', lang, 'src', source), n_chars
           |FROM g_nren_src_$n WHERE doc_id % 2 = 0""".stripMargin)
      spark.sql(s"ALTER TABLE gtab.default.$n RENAME COLUMN meta.lang TO lang_code")
      spark.sql(s"ALTER TABLE gtab.default.$n DROP COLUMN meta.src")
      spark.sql(
        s"""INSERT INTO gtab.default.$n
           |SELECT doc_id, named_struct('lang_code', lang), n_chars
           |FROM g_nren_src_$n WHERE doc_id % 2 = 1""".stripMargin)
      n
    }
    spark.sql(
      s"""SELECT doc_id, meta.lang_code AS lang_code, n_chars
         |FROM gtab.default.$name
         |WHERE meta.lang_code <> 'zz'
         |ORDER BY doc_id""".stripMargin)
  }

  /** Registered q_sql_nested_prune body: ZONE MAPS ON STRUCT LEAVES —
    * the corpus lands lang-clustered (one INSERT per language, so each
    * file's dotted `meta.lang` zone is a single value) and the read
    * filters on the nested leaf. At plan time every non-matching file
    * drops on its `meta.lang=…` zone; the oracle replays the same
    * filter over the flat source, so hash equality proves the pruning
    * is invisible to results. The 100 TB shape: `WHERE meta.lang = 'en'`
    * over a trillion-row documents table stops being a full scan.
    */
  def docsSqlNestedPrune(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    val name = QueryCache.fixture("sqlnprune", documents) { f =>
      val n = f.catalogTable("docs_nprune")
      documents.createOrReplaceTempView(s"g_nprune_src_$n")
      spark.sql(
        s"""CREATE TABLE gtab.default.$n (
           |  doc_id BIGINT, meta STRUCT<lang: STRING, n: INT>,
           |  n_chars BIGINT)""".stripMargin)
      Seq("de", "en", "es", "fr", "zh").foreach { lang =>
        spark.sql(
          s"""INSERT INTO gtab.default.$n
             |SELECT doc_id,
             |  named_struct('lang', lang, 'n', CAST(n_chars % 997 AS INT)),
             |  n_chars
             |FROM g_nprune_src_$n WHERE lang = '$lang'""".stripMargin)
      }
      n
    }
    spark.sql(
      s"""SELECT doc_id, meta.lang AS lang, meta.n AS n, n_chars
         |FROM gtab.default.$name
         |WHERE meta.lang = 'en' AND meta.n < 500
         |ORDER BY doc_id""".stripMargin)
  }

  /** Registered q_sql_ctas body: the SQL DDL surface end-to-end —
    * CREATE TABLE AS SELECT (a schema-only v1 plus the data as v2,
    * both ordinary commits), ALTER TABLE ADD COLUMN (a schema-only
    * append the snapshot-schema union picks up), then an INSERT through
    * the WIDENED schema. The read exercises evolution in both
    * directions at once: pre-evolution rows null-fill the added column,
    * post-evolution rows carry it — and the oracle replays the same
    * union in DuckDB, so hash equality proves the evolved table decodes
    * back exactly.
    */
  def ordersSqlCtas(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val name = QueryCache.fixture("sqlctas", orders) { f =>
      val n = f.catalogTable("orders_ctas")
      orders.createOrReplaceTempView(s"g_ctas_src_$n")
      spark.sql(
        s"""CREATE TABLE gtab.default.$n AS
           |SELECT o_orderkey, o_orderstatus AS status,
           |       CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
           |FROM g_ctas_src_$n WHERE o_orderkey % 4 = 1""".stripMargin)
      spark.sql(s"ALTER TABLE gtab.default.$n ADD COLUMN tier BIGINT")
      spark.sql(
        s"""INSERT INTO gtab.default.$n
           |SELECT o_orderkey, 'EVO' AS status,
           |       CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
           |       CAST(1 AS BIGINT) AS tier
           |FROM g_ctas_src_$n WHERE o_orderkey % 4 = 2""".stripMargin)
      n
    }
    spark.sql(
      s"""SELECT o_orderkey, status, price_c, tier
         |FROM gtab.default.$name ORDER BY o_orderkey""".stripMargin)
  }

  /** Registered q_sql_restore body: rollback as a first-class SQL
    * operation. The lifecycle drifts a table the way an incident does —
    * base (v1), INSERT (v2), a bad DELETE (v3) — then
    * `CALL system.restore(2)` publishes v4, a METADATA-ONLY
    * self-contained manifest re-listing v2's resolved entries: no data
    * file is read or written at any scale. The query reads the restored
    * head AND the rolled-back v3 via time travel in one frame; the
    * oracle replays both states from the fixture arithmetic, so hash
    * equality proves restore resurrected the exact pre-incident
    * snapshot while keeping the incident itself auditable.
    */
  def ordersSqlRestore(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val name = QueryCache.fixture("sqlrst", orders) { f =>
      val n = f.catalogTable("orders_rst")
      graft.sources.VersionedTable.commit(
        ordersCdcBase(orders), f.catalogPath(n), append = false)
      orders.createOrReplaceTempView(s"g_rst_src_$n")
      spark.sql(
        s"""INSERT INTO gtab.default.$n
           |SELECT o_orderkey, 'NEW' AS status,
           |       CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
           |FROM g_rst_src_$n WHERE o_orderkey % 4 = 3""".stripMargin)
      spark.sql(s"DELETE FROM gtab.default.$n WHERE o_orderkey % 10 = 1")
      spark.sql(s"CALL gtab.system.restore('default.$n', 2)")
      n
    }
    def leg(tag: Long, from: String) =
      s"""SELECT CAST($tag AS BIGINT) AS phase, o_orderkey, status, price_c
         |FROM $from""".stripMargin
    spark.sql(
      s"""${leg(0, s"gtab.default.$name")}
         |UNION ALL
         |${leg(1, s"gtab.default.$name VERSION AS OF 3")}
         |ORDER BY phase, o_orderkey""".stripMargin)
  }

  /** Registered q_table_clone body: zero-decode table forking. The
    * source drifts base (v1) → append (v2) → merge-on-read delete (v3);
    * the clone forks at v2 — every file HARD-LINKED at its original
    * relative path, entries (footer counts, zone maps, tombstone
    * scoping) transferred verbatim, not one row decoded — then each
    * side diverges: the clone takes a FORK append, the source an
    * overwrite. The query reads both heads in one tagged frame; the
    * oracle replays both from the fixture arithmetic, so hash equality
    * proves isolation in BOTH directions (the source's pre-fork delete
    * never leaked into the clone; the clone's append and the source's
    * overwrite never crossed).
    */
  def ordersTableClone(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val table = QueryCache.fixture("clone", orders) { f =>
      val t = s"${f.dir}/orders_src"
      val c = s"${f.dir}/orders_clone"
      graft.sources.VersionedTable.commit(ordersCdcBase(orders), t, append = false)
      graft.sources.VersionedTable.commit(
        orders.filter(col("o_orderkey") % 4 === 3)
          .select(col("o_orderkey"), lit("NEW").as("status"),
            cents(col("o_totalprice")).as("price_c")),
        t, append = true)
      graft.sources.VersionedTable.deleteWhere(
        spark, t, col("o_orderkey") % 10 === 1, "o_orderkey")
      graft.sources.VersionedTable.cloneTable(t, c, Some(2L))
      graft.sources.VersionedTable.commit(
        orders.filter(col("o_orderkey") % 10 === 1)
          .select(col("o_orderkey"), lit("FORK").as("status"),
            cents(col("o_totalprice")).as("price_c")),
        c, append = true)
      graft.sources.VersionedTable.commit(
        orders.filter(col("o_orderkey") % 100 === 0)
          .select(col("o_orderkey"), lit("OW").as("status"),
            cents(col("o_totalprice")).as("price_c")),
        t, append = false)
      t
    }
    val clone = s"${table.stripSuffix("orders_src")}orders_clone"
    graft.sources.VersionedTable.read(spark, table)
      .withColumn("side", lit(0L))
      .unionByName(graft.sources.VersionedTable.read(spark, clone)
        .withColumn("side", lit(1L)))
      .select(col("side"), col("o_orderkey"), col("status"), col("price_c"))
      .orderBy("side", "o_orderkey", "status")
  }

  /** Registered q_sql_rename body: metadata-only schema evolution under
    * the oracle. The fixture commits a 4-column base, then
    * `ALTER TABLE RENAME COLUMN o_orderkey TO order_id` and
    * `ALTER TABLE DROP COLUMN ship_prio` — both pure column-map edits
    * (no data file is touched at any scale; files keep their physical
    * names forever, translation happens at the scan/write name
    * boundary) — and then keeps OPERATING through the new names: an
    * INSERT, a zone-map-pruned DELETE, and the final filtered read all
    * speak `order_id`. The oracle replays the lifecycle with the rename
    * applied as a projection, so hash equality proves the mapped reads,
    * writes, tombstones, and pruning all bind to the same underlying
    * column.
    */
  def ordersSqlRename(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val name = QueryCache.fixture("sqlrnm", orders) { f =>
      val n = f.catalogTable("orders_rnm")
      graft.sources.VersionedTable.commit(
        ordersCdcBase(orders)
          .withColumn("ship_prio", col("o_orderkey") % 7L)
          .repartitionByRange(8, col("o_orderkey")),
        f.catalogPath(n), append = false, statsCols = Seq("o_orderkey"))
      spark.sql(s"ALTER TABLE gtab.default.$n RENAME COLUMN o_orderkey TO order_id")
      spark.sql(s"ALTER TABLE gtab.default.$n DROP COLUMN ship_prio")
      orders.createOrReplaceTempView(s"g_rnm_src_$n")
      spark.sql(
        s"""INSERT INTO gtab.default.$n
           |SELECT o_orderkey AS order_id, 'NEW' AS status,
           |       CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
           |FROM g_rnm_src_$n WHERE o_orderkey % 4 = 3""".stripMargin)
      spark.sql(s"DELETE FROM gtab.default.$n WHERE order_id % 10 = 1")
      n
    }
    spark.sql(
      s"""SELECT order_id, status, price_c FROM gtab.default.$name
         |WHERE order_id > 100 ORDER BY order_id""".stripMargin)
  }

  /** Registered q_maint_advisor body: the `$files` metadata surface
    * composed into the OPERATIONAL loop — a maintenance advisor that
    * reads one snapshot's per-file layout (commit, footer rows,
    * applicable tombstones; all manifest arithmetic, no data file
    * opened) and emits per-commit debt metrics plus the table-level
    * recommendation a scheduler would act on: tombstone debt ⇒ compact,
    * small-file debt ⇒ optimize, else healthy. The fixture drifts the
    * way real tables do — a healthy clustered base, two small-file
    * appends, then a merge-on-read delete — and the oracle predicts the
    * same debts from the fixture's construction (file counts are pinned
    * by the explicit repartitioning; per-file SIZES never appear, only
    * the <1000-row classification, which is margin-robust).
    */
  def ordersMaintenanceAdvisor(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val name = QueryCache.fixture("maint", orders) { f =>
      val n = f.catalogTable("orders_mnt")
      val t = f.catalogPath(n)
      val base = orders
        .select(col("o_orderkey"), col("o_orderstatus").as("status"),
          cents(col("o_totalprice")).as("price_c"))
      graft.sources.VersionedTable.commit(
        base.filter(col("o_orderkey") % 2L === 0L).repartition(4),
        t, append = false)
      graft.sources.VersionedTable.commit(
        base.filter(col("o_orderkey") % 100L === 1L).repartition(1),
        t, append = true)
      graft.sources.VersionedTable.commit(
        base.filter(col("o_orderkey") % 100L === 3L).repartition(1),
        t, append = true)
      graft.sources.VersionedTable.deleteWhere(
        spark, t, col("o_orderkey") % 1000L === 2L, "o_orderkey")
      n
    }
    spark.sql(
      s"""WITH per AS (
         |  SELECT commit_version, count(*) AS n_files, sum(n_rows) AS n_rows,
         |    sum(CASE WHEN n_rows < 1000 THEN 1 ELSE 0 END) AS n_small_files,
         |    sum(CASE WHEN n_applicable_tombstones > 0 THEN 1 ELSE 0 END)
         |      AS n_tombstoned_files
         |  FROM gtab.default.`$name$$files` GROUP BY commit_version),
         |tot AS (
         |  SELECT sum(n_small_files) AS ts, sum(n_tombstoned_files) AS td
         |  FROM per)
         |SELECT per.commit_version,
         |  CAST(per.n_files AS BIGINT) AS n_files,
         |  CAST(per.n_rows AS BIGINT) AS n_rows,
         |  CAST(per.n_small_files AS BIGINT) AS n_small_files,
         |  CAST(per.n_tombstoned_files AS BIGINT) AS n_tombstoned_files,
         |  CASE WHEN tot.td > 0 THEN 'compact: tombstone debt'
         |       WHEN tot.ts >= 2 THEN 'optimize: small-file debt'
         |       ELSE 'healthy' END AS recommendation
         |FROM per CROSS JOIN tot ORDER BY per.commit_version""".stripMargin)
  }

  /** Registered q_maint_auto body: `CALL system.auto_maintain` executes
    * the advisor's recommendation in one call — the fixture degrades a
    * table exactly like the advisor's (two small appends + a
    * merge-on-read delete), auto-maintains it (metadata-only decision,
    * snapshot-pinned compaction), and reads the result. The oracle is
    * the degraded table's logical content: hash equality proves the
    * maintenance rewrite changed layout only; `GraftCatalogSpec` pins
    * the action strings and that a second call is a healthy no-op.
    */
  def ordersAutoMaintain(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val name = QueryCache.fixture("amnt", orders) { f =>
      val n = f.catalogTable("orders_amnt")
      val t = f.catalogPath(n)
      val base = orders
        .select(col("o_orderkey"), col("o_orderstatus").as("status"),
          cents(col("o_totalprice")).as("price_c"))
      graft.sources.VersionedTable.commit(
        base.filter(col("o_orderkey") % 2L === 0L).repartition(4),
        t, append = false)
      graft.sources.VersionedTable.commit(
        base.filter(col("o_orderkey") % 100L === 1L).repartition(1),
        t, append = true)
      graft.sources.VersionedTable.commit(
        base.filter(col("o_orderkey") % 100L === 3L).repartition(1),
        t, append = true)
      graft.sources.VersionedTable.deleteWhere(
        spark, t, col("o_orderkey") % 1000L === 2L, "o_orderkey")
      spark.sql(s"CALL gtab.system.auto_maintain('default.$n')").collect()
      n
    }
    spark.sql(
      s"""SELECT o_orderkey, status, price_c FROM gtab.default.$name
         |ORDER BY o_orderkey""".stripMargin)
  }

  /** Registered q_sql_fastcount body: ungrouped COUNT/MIN/MAX through
    * the catalog answered from MANIFEST ARITHMETIC — the aggregate
    * pushdown classifies the snapshot as tombstone-free with complete
    * footer counts and zone maps, and the "scan" is one driver-computed
    * row: a count over a 100 TB table opens zero data files. The oracle
    * computes the same aggregates from raw orders, so hash equality
    * proves the manifest-derived answers are exact (`GraftCatalogSpec`
    * pins that the plan really is the pushed manifest-only scan and
    * that tombstones/filters/fractional columns decline it).
    */
  def ordersSqlFastcount(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val name = QueryCache.fixture("sqlfc", orders) { f =>
      val n = f.catalogTable("orders_fc")
      graft.sources.VersionedTable.commit(
        orders.select(col("o_orderkey"), col("o_orderstatus").as("status"),
            cents(col("o_totalprice")).as("price_c"))
          .repartitionByRange(8, col("o_orderkey")),
        f.catalogPath(n), append = false,
        statsCols = Seq("o_orderkey", "price_c"))
      n
    }
    spark.sql(
      s"""SELECT count(*) AS n_rows,
         |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
         |       min(price_c) AS min_price_c, max(price_c) AS max_price_c
         |FROM gtab.default.$name""".stripMargin)
  }

  /** Registered q_sql_clustered body: CLUSTERED-ON-WRITE tables — the
    * `graft.cluster-by` table property makes the SQL INSERT declare an
    * ordered distribution, so Spark range-partitions + sorts the rows
    * before the writers and every staged file carries a tight, disjoint
    * zone range from birth (no OPTIMIZE run anywhere in this fixture).
    * The read is the same pruned range query as q_sql_pruned; the oracle
    * is the plain filter — equality proves the write-side layout changed
    * nothing but the file boundaries.
    */
  def ordersSqlClustered(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val name = QueryCache.fixture("sqlcl", orders) { f =>
      val n = f.catalogTable("orders_cl")
      spark.sql(
        s"""CREATE TABLE gtab.default.$n
           |(o_orderkey BIGINT, status STRING, price_c BIGINT)
           |TBLPROPERTIES('graft.cluster-by'='o_orderkey')""".stripMargin)
      orders.createOrReplaceTempView(s"g_cl_src_$n")
      spark.sql(
        s"""INSERT INTO gtab.default.$n
           |SELECT o_orderkey, o_orderstatus,
           |       CAST(round(o_totalprice * 100) AS BIGINT)
           |FROM g_cl_src_$n""".stripMargin)
      n
    }
    spark.sql(
      s"""SELECT o_orderkey, status, price_c FROM gtab.default.$name
         |WHERE o_orderkey BETWEEN 5000 AND 8000
         |ORDER BY o_orderkey""".stripMargin)
  }

  /** Registered q_sql_partitioned body: IDENTITY partitioning — the
    * `CREATE TABLE ... PARTITIONED BY (col)` every warehouse user types
    * first. The engine maps it onto clustered-on-write + zone maps (no
    * Hive directories: same pruning, no small-file explosion on
    * high-cardinality keys), so the INSERT range-partitions + sorts and
    * the partition-predicate read plans a strict file subset
    * (`GraftCatalogSpec` pins the files=m/n prune; the date twin pins
    * epoch-day pruning). The oracle is the plain filter — layout changes
    * nothing but file boundaries.
    */
  def ordersSqlPartitioned(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val name = QueryCache.fixture("sqlip", orders) { f =>
      val n = f.catalogTable("orders_ip")
      spark.sql(
        s"""CREATE TABLE gtab.default.$n
           |(o_orderkey BIGINT, status STRING, price_c BIGINT)
           |PARTITIONED BY (o_orderkey)""".stripMargin)
      orders.createOrReplaceTempView(s"g_ip_src_$n")
      spark.sql(
        s"""INSERT INTO gtab.default.$n
           |SELECT o_orderkey, o_orderstatus,
           |       CAST(round(o_totalprice * 100) AS BIGINT)
           |FROM g_ip_src_$n""".stripMargin)
      n
    }
    spark.sql(
      s"""SELECT o_orderkey, status, price_c FROM gtab.default.$name
         |WHERE o_orderkey BETWEEN 12000 AND 15000
         |ORDER BY o_orderkey""".stripMargin)
  }

  /** Registered q_sql_dec_prune body: DECIMAL zone-map pruning — a
    * money-typed column declared the identity partition key clusters on
    * write and records UNSCALED zone bounds (amount × 10² exact at
    * scale 2); pushed decimal range literals convert to the same unit,
    * so an amount window plans a strict file subset. Values derive
    * exactly from the key (integer + .25) so the DuckDB oracle replays
    * the filter bit-equal.
    */
  def ordersSqlDecPrune(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val name = decPruneTable(orders)
    spark.sql(
      s"""SELECT o_orderkey, amount FROM gtab.default.$name
         |WHERE amount BETWEEN 12000.25 AND 15000.25
         |ORDER BY o_orderkey""".stripMargin)
  }

  /** The decimal-partitioned table behind q_sql_dec_prune and q_sql_fastminmax_dec. */
  private def decPruneTable(orders: DataFrame): String = {
    val spark = orders.sparkSession
    QueryCache.fixture("sqldp", orders) { f =>
      val n = f.catalogTable("orders_dp")
      spark.sql(
        s"""CREATE TABLE gtab.default.$n
           |(o_orderkey BIGINT, amount DECIMAL(9, 2))
           |PARTITIONED BY (amount)""".stripMargin)
      orders.createOrReplaceTempView(s"g_dp_src_$n")
      spark.sql(
        s"""INSERT INTO gtab.default.$n
           |SELECT o_orderkey, CAST(o_orderkey + 0.25 AS DECIMAL(9, 2))
           |FROM g_dp_src_$n""".stripMargin)
      n
    }
  }

  /** Registered q_sql_fastminmax_ts body: ungrouped TIMESTAMP MIN/MAX
    * answered from manifest arithmetic — zones record exact epoch
    * micros, which IS Spark's internal timestamp value, so the pushed
    * aggregate opens zero data files. Compared in integral epoch
    * seconds so the hash is engine-neutral.
    */
  def ordersSqlFastMinMaxTs(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val name = tsPartitionedTable(orders)
    spark.sql(
      s"""SELECT unix_seconds(min(ts)) AS min_s,
         |       unix_seconds(max(ts)) AS max_s,
         |       count(*) AS n
         |FROM gtab.default.$name""".stripMargin)
  }

  /** Registered q_sql_fastminmax_dec body: ungrouped DECIMAL MIN/MAX
    * from the unscaled zone maps — the spec's DataType carries the
    * scale back, so the one-row answer is an exact DECIMAL(9,2).
    */
  def ordersSqlFastMinMaxDec(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val name = decPruneTable(orders)
    spark.sql(
      s"""SELECT CAST(min(amount) AS STRING) AS min_a,
         |       CAST(max(amount) AS STRING) AS max_a,
         |       count(*) AS n
         |FROM gtab.default.$name""".stripMargin)
  }

  /** Registered q_sql_partitioned_date body: identity partitioning on a
    * DATE column — `PARTITIONED BY (order date)` is the canonical
    * warehouse DDL. Date zone maps record epoch-day bounds (`unix_date`
    * at commit; DATE does not cast to BIGINT) and pushed date predicates
    * convert to the same unit, so a month window prunes files exactly
    * like an integral range. Output dates render as strings so the
    * DuckDB hash compare is representation-stable.
    */
  def ordersSqlPartitionedDate(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val name = datePartitionedTable(orders)
    spark.sql(
      s"""SELECT CAST(odate AS STRING) AS odate_s,
         |       count(*) AS n, sum(o_orderkey) AS key_sum
         |FROM gtab.default.$name
         |WHERE odate >= DATE'1995-03-01' AND odate < DATE'1995-04-01'
         |GROUP BY odate ORDER BY odate_s""".stripMargin)
  }

  /** The date-partitioned table behind q_sql_partitioned_date and q_sql_fastminmax_date. */
  private def datePartitionedTable(orders: DataFrame): String = {
    val spark = orders.sparkSession
    QueryCache.fixture("sqlipd", orders) { f =>
      val n = f.catalogTable("orders_ipd")
      spark.sql(
        s"""CREATE TABLE gtab.default.$n (odate DATE, o_orderkey BIGINT)
           |PARTITIONED BY (odate)""".stripMargin)
      orders.createOrReplaceTempView(s"g_ipd_src_$n")
      spark.sql(
        s"""INSERT INTO gtab.default.$n
           |SELECT CAST(o_orderdate AS DATE), o_orderkey
           |FROM g_ipd_src_$n""".stripMargin)
      n
    }
  }

  /** Registered q_sql_partitioned_ts body: TEMPORAL partition transform —
    * `PARTITIONED BY (days(ts))`, the single most common warehouse DDL
    * for a 100 TB event table. days() is MONOTONE in its source, so the
    * engine clusters on write by the raw timestamp and records epoch-
    * MICROS zone maps (`unix_micros` at commit); a pushed timestamp
    * range converts to the same unit and prunes files exactly like an
    * integral range (`GraftCatalogSpec` pins the files=m/n prune). The
    * oracle is the plain filter over the same derived timestamps,
    * compared in integral epoch seconds so the hash is engine-neutral.
    */
  def ordersSqlPartitionedTs(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val name = tsPartitionedTable(orders)
    spark.sql(
      s"""SELECT count(*) AS n, sum(o_orderkey) AS key_sum,
         |       min(unix_seconds(ts)) AS min_s, max(unix_seconds(ts)) AS max_s
         |FROM gtab.default.$name
         |WHERE ts >= TIMESTAMP'1995-03-01 00:00:00'
         |  AND ts < TIMESTAMP'1995-04-01 00:00:00'""".stripMargin)
  }

  /** The days(ts)-partitioned table behind q_sql_partitioned_ts and q_sql_fastminmax_ts. */
  private def tsPartitionedTable(orders: DataFrame): String = {
    val spark = orders.sparkSession
    QueryCache.fixture("sqlipt", orders) { f =>
      val n = f.catalogTable("orders_ipt")
      spark.sql(
        s"""CREATE TABLE gtab.default.$n (ts TIMESTAMP, o_orderkey BIGINT)
           |PARTITIONED BY (days(ts))""".stripMargin)
      orders.createOrReplaceTempView(s"g_ipt_src_$n")
      // intra-day spread from the key, so days(ts) is a real bucketing
      spark.sql(
        s"""INSERT INTO gtab.default.$n
           |SELECT timestamp_seconds(
           |         unix_seconds(CAST(o_orderdate AS TIMESTAMP))
           |         + o_orderkey % 86400), o_orderkey
           |FROM g_ipt_src_$n""".stripMargin)
      n
    }
  }

  /** Registered q_sql_part_evolve body: PARTITION-TRANSFORM EVOLUTION —
    * the table is created `PARTITIONED BY (days(ts))`, takes its first
    * generation of commits, then `CALL set_partitioning('hours(ts)')`
    * re-declares the transform (Iceberg's REPLACE PARTITION FIELD) and a
    * second generation lands hours-clustered. NOTHING is rewritten: the
    * first generation's files keep their day-clustered zone maps, the
    * second's are hour-clustered, and ONE timestamp-range predicate
    * prunes both generations per file (the spec pins the kept/total
    * counts). The oracle replays the same window over the union — hash
    * equality proves evolution loses no rows and changes no values.
    */
  def ordersSqlPartEvolve(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val name = QueryCache.fixture("sqlpevo", orders) { f =>
      val n = f.catalogTable("orders_pevo")
      spark.sql(
        s"""CREATE TABLE gtab.default.$n (ts TIMESTAMP, o_orderkey BIGINT)
           |PARTITIONED BY (days(ts))""".stripMargin)
      orders.createOrReplaceTempView(s"g_pevo_src_$n")
      def insert(parity: Int): Unit = spark.sql(
        s"""INSERT INTO gtab.default.$n
           |SELECT timestamp_seconds(
           |         unix_seconds(CAST(o_orderdate AS TIMESTAMP))
           |         + o_orderkey % 86400), o_orderkey
           |FROM g_pevo_src_$n WHERE o_orderkey % 2 = $parity""".stripMargin)
      insert(0) // generation 1: days(ts)-clustered
      spark.sql(s"CALL gtab.system.set_partitioning('default.$n', 'hours(ts)')")
      insert(1) // generation 2: hours(ts)-clustered
      n
    }
    spark.sql(
      s"""SELECT o_orderkey % 2 AS gen, count(*) AS n,
         |       sum(o_orderkey) AS key_sum,
         |       min(unix_seconds(ts)) AS min_s, max(unix_seconds(ts)) AS max_s
         |FROM gtab.default.$name
         |WHERE ts >= TIMESTAMP'1995-03-01 00:00:00'
         |  AND ts < TIMESTAMP'1995-04-01 00:00:00'
         |GROUP BY o_orderkey % 2 ORDER BY gen""".stripMargin)
  }

  /** Registered q_sql_partitioned_trunc body: `PARTITIONED BY
    * (truncate(1, col))` over a STRING — Iceberg's truncate transform,
    * the low-cardinality-prefix bucketing idiom. truncate is monotone in
    * byte order, so clustering on the raw string + byte-prefix zone maps
    * delivers the prefix pruning the transform promises
    * (`GraftCatalogSpec` pins a LIKE 'p%' file prune).
    */
  def ordersSqlPartitionedTrunc(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val name = QueryCache.fixture("sqliptr", orders) { f =>
      val n = f.catalogTable("orders_iptr")
      spark.sql(
        s"""CREATE TABLE gtab.default.$n (prio STRING, o_orderkey BIGINT)
           |PARTITIONED BY (truncate(1, prio))""".stripMargin)
      orders.createOrReplaceTempView(s"g_iptr_src_$n")
      spark.sql(
        s"""INSERT INTO gtab.default.$n
           |SELECT o_orderpriority, o_orderkey FROM g_iptr_src_$n""".stripMargin)
      n
    }
    spark.sql(
      s"""SELECT prio, count(*) AS n, sum(o_orderkey) AS key_sum
         |FROM gtab.default.$name
         |WHERE prio LIKE '3%'
         |GROUP BY prio ORDER BY prio""".stripMargin)
  }

  /** Registered q_sql_fastminmax_date body: DATE MIN/MAX answered from
    * MANIFEST ARITHMETIC — date zone maps record exact epoch days
    * (`unix_date` at commit), and Spark's internal DATE value IS epoch
    * days, so the ungrouped extremes come from the zones without opening
    * a data file, exactly like integral and string MIN/MAX
    * (`GraftCatalogSpec` pins the manifest-only plan). Dates render as
    * strings for representation-stable hashes.
    */
  def ordersSqlFastMinMaxDate(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val name = datePartitionedTable(orders)
    spark.sql(
      s"""SELECT CAST(min(odate) AS STRING) AS min_d,
         |       CAST(max(odate) AS STRING) AS max_d,
         |       count(*) AS n
         |FROM gtab.default.$name""".stripMargin)
  }

  /** Registered q_sql_bloom body: write-side parquet BLOOM FILTERS on a
    * declared high-cardinality column (`graft.bloom-cols`). The table
    * clusters on price, so the key column is UNCLUSTERED — zone maps
    * cannot prune a point lookup on it — and the pushed `IN` becomes
    * Eq/In row-group leaves parquet's dictionary/bloom evaluators
    * consume ([[graft.sources.GraftRowGroupFilter]]; the static key-set
    * path). The oracle replays the same lookup raw; the spec pins that
    * the declared column actually carries bloom filters in its footers.
    */
  def ordersSqlBloom(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val name = QueryCache.fixture("sqlbl", orders) { f =>
      val n = f.catalogTable("orders_bl")
      spark.sql(
        s"""CREATE TABLE gtab.default.$n
           |(o_orderkey BIGINT, status STRING, price_c BIGINT)
           |TBLPROPERTIES('graft.bloom-cols'='o_orderkey',
           |              'graft.cluster-by'='price_c')""".stripMargin)
      orders.createOrReplaceTempView(s"g_bl_src_$n")
      spark.sql(
        s"""INSERT INTO gtab.default.$n
           |SELECT o_orderkey, o_orderstatus,
           |       CAST(round(o_totalprice * 100) AS BIGINT)
           |FROM g_bl_src_$n""".stripMargin)
      n
    }
    spark.sql(
      s"""SELECT o_orderkey, status, price_c FROM gtab.default.$name
         |WHERE o_orderkey IN (7, 1223, 28673, 54369)
         |ORDER BY o_orderkey""".stripMargin)
  }

  /** Registered q_layout_zorder_str body: STRING Z-ORDER — `CALL
    * system.zorder('t', 'lang,n_chars')` range-buckets the string column
    * through the order-preserving 7-byte-prefix u56 surrogate
    * ([[graft.functions.TextExpressions.StrPrefixU64Expr]]) and
    * interleaves it with the integral one, so the rewritten files carry
    * tight byte-prefix zones on `lang` AND long zones on `n_chars` — a
    * conjunctive (string equality, integral range) predicate prunes
    * files in both dimensions. The oracle replays the plain filter;
    * `GraftCatalogSpec` pins the files=m/n prune on the string leg.
    */
  def docsSqlZorderStr(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    val name = QueryCache.fixture("sqlzs", documents) { f =>
      val n = f.catalogTable("docs_zs")
      graft.sources.VersionedTable.commit(
        documents.select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
          .repartition(8, col("doc_id")), // scrambled: hash placement
        f.catalogPath(n), append = false)
      spark.sql(s"CALL gtab.system.zorder('default.$n', 'lang,n_chars', 64)")
      n
    }
    spark.sql(
      s"""SELECT doc_id, lang, n_chars FROM gtab.default.$name
         |WHERE lang = 'es' AND n_chars BETWEEN 400 AND 900
         |ORDER BY doc_id""".stripMargin)
  }

  /** Registered q_sql_widen body: TYPE-WIDENING schema evolution through
    * SQL — CREATE with an INT key, INSERT (INT32 files), `ALTER TABLE
    * ... ALTER COLUMN ... TYPE BIGINT` (a schema-only carrier commit, no
    * rewrite), INSERT keys beyond the INT range (INT64 files), then read
    * the union: both physical generations decode losslessly under the
    * widened schema (the catalog's vectorized reader declares the wide
    * type and Spark's parquet decoder promotes the narrow files inside
    * the batch load — pinned columnar in `GraftCatalogSpec` along with
    * zone pruning and manifest MIN/MAX across generations). The
    * oracle reconstructs the same union from raw orders.
    */
  def ordersSqlWiden(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val name = QueryCache.fixture("sqlwd", orders) { f =>
      val n = f.catalogTable("orders_wd")
      spark.sql(
        s"""CREATE TABLE gtab.default.$n
           |(o_orderkey INT, status STRING, price_c BIGINT)""".stripMargin)
      orders.createOrReplaceTempView(s"g_wd_src_$n")
      spark.sql(
        s"""INSERT INTO gtab.default.$n
           |SELECT CAST(o_orderkey AS INT), o_orderstatus,
           |       CAST(round(o_totalprice * 100) AS BIGINT)
           |FROM g_wd_src_$n WHERE o_orderkey % 3 = 0""".stripMargin)
      spark.sql(s"ALTER TABLE gtab.default.$n ALTER COLUMN o_orderkey TYPE BIGINT")
      spark.sql(
        s"""INSERT INTO gtab.default.$n
           |SELECT o_orderkey + 10000000000, o_orderstatus,
           |       CAST(round(o_totalprice * 100) AS BIGINT)
           |FROM g_wd_src_$n WHERE o_orderkey % 3 = 1""".stripMargin)
      n
    }
    spark.sql(
      s"""SELECT o_orderkey, status, price_c FROM gtab.default.$name
         |ORDER BY o_orderkey""".stripMargin)
  }

  /** Registered q_sql_widen_dec body: DECIMAL type-widening through the
    * SQL catalog — `DECIMAL(9, 2)` (INT32-backed parquet) widened to
    * `DECIMAL(18, 2)` (INT64-backed) by a schema-only carrier commit,
    * then appended with amounts past the narrow precision. Both physical
    * generations read under the wide type; the oracle reconstructs the
    * union raw. Scale is preserved across the widen (scale changes
    * rewrite values, so they refuse — pinned in the spec).
    */
  def ordersSqlWidenDec(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val name = QueryCache.fixture("sqlwdd", orders) { f =>
      val n = f.catalogTable("orders_wdd")
      spark.sql(
        s"""CREATE TABLE gtab.default.$n
           |(o_orderkey BIGINT, amount DECIMAL(9, 2))""".stripMargin)
      orders.createOrReplaceTempView(s"g_wdd_src_$n")
      // amounts derive EXACTLY from the key (integer + .25): no double
      // rounding anywhere, so the DuckDB oracle reproduces bit-equal
      // decimals
      spark.sql(
        s"""INSERT INTO gtab.default.$n
           |SELECT o_orderkey, CAST(o_orderkey + 0.25 AS DECIMAL(9, 2))
           |FROM g_wdd_src_$n WHERE o_orderkey % 3 = 0""".stripMargin)
      spark.sql(s"ALTER TABLE gtab.default.$n ALTER COLUMN amount TYPE DECIMAL(18, 2)")
      spark.sql(
        s"""INSERT INTO gtab.default.$n
           |SELECT o_orderkey,
           |       CAST(o_orderkey + 10000000000.25 AS DECIMAL(18, 2))
           |FROM g_wdd_src_$n WHERE o_orderkey % 3 = 1""".stripMargin)
      n
    }
    spark.sql(
      s"""SELECT o_orderkey, amount FROM gtab.default.$name
         |ORDER BY o_orderkey""".stripMargin)
  }

  /** Registered q_sql_stats body: the `$stats` metadata table — per-column
    * planner statistics (NDV / null count / min / max / lengths) served
    * as a driver LocalScan from the manifests and `.ndv.txt` sidecars
    * alone. The oracle replays the EXACTLY-reconstructible fields (null
    * count and integral min/max; string rows carry NULLs there — their
    * NDV/length stats are estimates pinned by the spec instead), so hash
    * equality proves the metadata-derived numbers equal the data.
    */
  def ordersSqlStatsTable(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val name = QueryCache.fixture("sqlst", orders) { f =>
      val n = f.catalogTable("orders_st")
      graft.sources.VersionedTable.commit(
        orders.select(col("o_orderkey"),
            col("o_orderstatus").as("status"),
            cents(col("o_totalprice")).as("price_c"))
          .repartitionByRange(8, col("o_orderkey")),
        f.catalogPath(n), append = false,
        statsCols = Seq("o_orderkey", "status", "price_c"))
      n
    }
    spark.sql(
      s"""SELECT column AS col_name, null_count, min_long, max_long
         |FROM gtab.default.`$name$$stats` ORDER BY col_name""".stripMargin)
  }

  /** Registered q_sql_fastminmax_str body: STRING MIN/MAX answered from
    * manifest arithmetic — the short status/priority strings record
    * EXACT (unstarred) zone sides at commit, so the ungrouped extremes
    * come from the string zones without opening a data file, exactly as
    * COUNT/integral MIN/MAX do. The oracle replays the aggregate raw;
    * DuckDB's varchar min/max uses the same bytewise order the zones
    * were recorded in.
    */
  def ordersSqlFastMinMaxStr(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val name = QueryCache.fixture("sqlfms", orders) { f =>
      val n = f.catalogTable("orders_fms")
      graft.sources.VersionedTable.commit(
        orders.select(col("o_orderkey"),
            col("o_orderstatus").as("status"),
            col("o_orderpriority").as("prio"))
          .repartitionByRange(8, col("o_orderkey")),
        f.catalogPath(n), append = false,
        statsCols = Seq("o_orderkey", "status", "prio"))
      n
    }
    spark.sql(
      s"""SELECT count(*) AS n_rows,
         |       min(status) AS min_status, max(status) AS max_status,
         |       min(prio) AS min_prio, max(prio) AS max_prio
         |FROM gtab.default.$name""".stripMargin)
  }

  /** Registered q_sql_spj body: STORAGE-PARTITIONED JOIN end-to-end —
    * orders and customer committed as co-bucketed versioned tables
    * (`commitBucketed`, pmod(custkey, 16)), equi-joined through SQL with
    * `spark.sql.sources.v2.bucketing.enabled`: both scans report
    * `KeyGroupedPartitioning(bucket(16, custkey))` backed by the
    * catalog's bucket function, so the join plans with NO exchange on
    * either side (`GraftCatalogSpec` pins the exchange-free plan; at
    * 100 TB this is the fact-dim join that never shuffles). The oracle
    * replays the plain join from raw tables — hash equality proves the
    * bucketed layout changed the plan, never the content.
    */
  def ordersSqlBucketedJoin(orders: DataFrame, customer: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val (fn, dn) = QueryCache.fixture("sqlspj", orders, customer) { f =>
      val fn = f.catalogTable("orders_spj")
      val dn = f.catalogTable("cust_spj")
      graft.sources.VersionedTable.commitBucketed(
        orders.select(col("o_custkey").as("custkey"), col("o_orderkey"),
          cents(col("o_totalprice")).as("price_c")),
        f.catalogPath(fn), "custkey", 16, append = false)
      graft.sources.VersionedTable.commitBucketed(
        customer.select(col("c_custkey").as("custkey"), col("c_name")),
        f.catalogPath(dn), "custkey", 16, append = false)
      (fn, dn)
    }
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.sql(
      s"""SELECT o_orderkey, custkey, price_c, c_name
         |FROM gtab.default.$fn f JOIN gtab.default.$dn d USING (custkey)
         |ORDER BY o_orderkey""".stripMargin)
  }

  /** Registered q_sql_bucketed body: the same storage-partitioned join as
    * `q_sql_spj`, but with the bucket layout declared and loaded ENTIRELY
    * through SQL — `CREATE TABLE ... PARTITIONED BY (bucket(16, custkey))`
    * records the layout before any data lands (link-as-CAS; a racing
    * first-commit with a different spec loses loudly), and `INSERT INTO
    * ... SELECT` routes through the bucket-routing DSv2 writer: the write
    * declares a clustered distribution on the table's own bucket
    * transform and each task places rows in `__graft_bucket=<pmod(key,
    * 16)>/` exactly as `commitBucketed` does, so the co-bucketed join
    * still plans with NO exchange (`GraftCatalogSpec` pins the plan
    * shape). The oracle replays the plain join from raw tables — hash
    * equality proves the SQL write path placed every row correctly.
    */
  def ordersSqlBucketedDdl(orders: DataFrame, customer: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val (fn, dn) = QueryCache.fixture("sqlbddl", orders, customer) { f =>
      val fn = f.catalogTable("orders_bddl")
      val dn = f.catalogTable("cust_bddl")
      orders.createOrReplaceTempView(s"g_bddl_o_${f.tag}")
      customer.createOrReplaceTempView(s"g_bddl_c_${f.tag}")
      spark.sql(s"""CREATE TABLE gtab.default.$fn
        |(custkey BIGINT, o_orderkey BIGINT, price_c BIGINT)
        |PARTITIONED BY (bucket(16, custkey))""".stripMargin)
      spark.sql(s"""CREATE TABLE gtab.default.$dn
        |(custkey BIGINT, c_name STRING)
        |PARTITIONED BY (bucket(16, custkey))""".stripMargin)
      spark.sql(s"""INSERT INTO gtab.default.$fn
        |SELECT o_custkey AS custkey, o_orderkey,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |FROM g_bddl_o_${f.tag}""".stripMargin)
      spark.sql(s"""INSERT INTO gtab.default.$dn
        |SELECT c_custkey AS custkey, c_name FROM g_bddl_c_${f.tag}""".stripMargin)
      (fn, dn)
    }
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.sql(
      s"""SELECT o_orderkey, custkey, price_c, c_name
         |FROM gtab.default.$fn f JOIN gtab.default.$dn d USING (custkey)
         |ORDER BY o_orderkey""".stripMargin)
  }

  /** Registered q_sql_bucketed_dml body: row-level SQL DML on a BUCKETED
    * table — UPDATE, DELETE, and MERGE INTO all execute as group-based
    * replace commits whose writes route every surviving row back into
    * its own key's `__graft_bucket` subtree (the bucket-routing replace
    * writer), so the storage-partitioned join stays exchange-free
    * through the whole DML history (`GraftCatalogSpec` pins the plan
    * and the no-flat-files layout), finished with a SORTED compaction of
    * both sides (`CALL system.compact` → one key-sorted file per bucket,
    * scan reports per-partition ordering, join plans with no exchange
    * and no sort). The oracle replays the same update/delete/merge
    * pipeline as plain SQL over raw orders — hash equality proves the
    * rewritten, carried, merge-inserted, AND compacted rows all read
    * back exactly from their bucket subtrees.
    */
  def ordersSqlBucketedDml(orders: DataFrame, customer: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val (fn, dn) = QueryCache.fixture("sqlbdml", orders, customer) { f =>
      val fn = f.catalogTable("orders_bdml")
      val dn = f.catalogTable("cust_bdml")
      orders.createOrReplaceTempView(s"g_bdml_o_${f.tag}")
      customer.createOrReplaceTempView(s"g_bdml_c_${f.tag}")
      spark.sql(s"""CREATE TABLE gtab.default.$fn
        |(custkey BIGINT, o_orderkey BIGINT, price_c BIGINT)
        |PARTITIONED BY (bucket(16, custkey))""".stripMargin)
      spark.sql(s"""CREATE TABLE gtab.default.$dn
        |(custkey BIGINT, c_name STRING)
        |PARTITIONED BY (bucket(16, custkey))""".stripMargin)
      spark.sql(s"""INSERT INTO gtab.default.$fn
        |SELECT o_custkey AS custkey, o_orderkey,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |FROM g_bdml_o_${f.tag}""".stripMargin)
      spark.sql(s"""INSERT INTO gtab.default.$dn
        |SELECT c_custkey AS custkey, c_name FROM g_bdml_c_${f.tag}""".stripMargin)
      spark.sql(
        s"UPDATE gtab.default.$fn SET price_c = price_c + 1 WHERE o_orderkey % 10 = 0")
      spark.sql(s"DELETE FROM gtab.default.$fn WHERE o_orderkey % 7 = 3")
      spark.sql(
        s"""MERGE INTO gtab.default.$fn t
           |USING (
           |  SELECT o_custkey AS custkey, o_orderkey, CAST(0 AS BIGINT) AS price_c
           |  FROM g_bdml_o_${f.tag} WHERE o_orderkey % 10 = 1 AND o_orderkey % 7 <> 3
           |  UNION ALL
           |  SELECT o_custkey, o_orderkey + 10000000, CAST(1 AS BIGINT)
           |  FROM g_bdml_o_${f.tag} WHERE o_orderkey % 20 = 5
           |) c
           |ON t.o_orderkey = c.o_orderkey
           |WHEN MATCHED THEN UPDATE SET price_c = c.price_c
           |WHEN NOT MATCHED THEN INSERT (custkey, o_orderkey, price_c)
           |  VALUES (c.custkey, c.o_orderkey, c.price_c)""".stripMargin)
      // sorted compaction on both sides: the final read below then plans
      // with no exchange AND no sort — and the oracle hash verifies the
      // compacted state, closing the whole DDL→DML→maintenance lifecycle
      spark.sql(s"CALL gtab.system.compact('default.$fn')")
      spark.sql(s"CALL gtab.system.compact('default.$dn')")
      (fn, dn)
    }
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.sql(
      s"""SELECT o_orderkey, custkey, price_c, c_name
         |FROM gtab.default.$fn f JOIN gtab.default.$dn d USING (custkey)
         |ORDER BY o_orderkey""".stripMargin)
  }

  /** Registered q_sql_dpp body: RUNTIME (DPP-style) file pruning under
    * the oracle — orders committed range-clustered on custkey with zone
    * maps, joined against a SELECTIVE customer slice through the
    * catalog: Spark injects a `dynamicpruningexpression(custkey IN ...)`
    * runtime filter into the fact scan (`SupportsRuntimeFiltering`), and
    * the scan re-plans to only the files whose zone maps hold the dim's
    * observed keys. The oracle replays the join + filter directly, so
    * hash equality proves runtime pruning skipped work without skipping
    * rows.
    */
  def ordersSqlDppJoin(orders: DataFrame, customer: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val (fn, dn) = QueryCache.fixture("sqldpp", orders, customer) { f =>
      val fn = f.catalogTable("orders_dpp")
      val dn = f.catalogTable("cust_dpp")
      graft.sources.VersionedTable.commit(
        orders.select(col("o_custkey").as("custkey"), col("o_orderkey"),
            cents(col("o_totalprice")).as("price_c"))
          .repartitionByRange(16, col("custkey")),
        f.catalogPath(fn), append = false, statsCols = Seq("custkey"))
      graft.sources.VersionedTable.commit(
        customer.select(col("c_custkey").as("custkey"), col("c_name"),
          col("c_nationkey")),
        f.catalogPath(dn), append = false)
      (fn, dn)
    }
    spark.sql(
      s"""SELECT f.o_orderkey, f.custkey, f.price_c, d.c_name
         |FROM gtab.default.$fn f JOIN gtab.default.$dn d USING (custkey)
         |WHERE d.c_nationkey = 7 AND d.custkey % 50 = 1
         |ORDER BY f.o_orderkey""".stripMargin)
  }

  /** Registered q_sql_topn body: partial TopN pushdown under the oracle —
    * orders committed range-clustered on o_orderkey with zone maps and
    * non-null counts, then `ORDER BY o_orderkey DESC LIMIT 100` through
    * the catalog: the scan plans only the files that can hold the top
    * 100 (one, for clustered data; `GraftCatalogSpec` pins the file
    * counts), Spark re-sorts and re-limits above. The oracle replays the
    * same TopN over raw orders — hash equality proves file planning
    * skipped everything except the answer.
    */
  def ordersSqlTopN(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val name = QueryCache.fixture("sqltopn", orders) { f =>
      val n = f.catalogTable("orders_topn")
      graft.sources.VersionedTable.commit(
        orders.select(col("o_orderkey"), col("o_orderstatus").as("status"),
            cents(col("o_totalprice")).as("price_c"))
          .repartitionByRange(8, col("o_orderkey")),
        f.catalogPath(n), append = false, statsCols = Seq("o_orderkey"))
      n
    }
    spark.sql(
      s"""SELECT o_orderkey, status, price_c FROM gtab.default.$name
         |ORDER BY o_orderkey DESC LIMIT 100""".stripMargin)
  }

  /** Registered q_sql_delete body: SQL `DELETE FROM` through the catalog —
    * executed as a file-granular copy-on-write replace commit: the pushed
    * range filter both prunes candidate files from the zone maps and,
    * after the touched-file probe, bounds the rewrite to the files that
    * actually hold matching rows (the rest ride the carry pointer; see
    * `VersionedTableSpec`'s carried-file pin). The oracle keeps the
    * complement of the deleted range, so hash equality proves the
    * surviving rows — carried AND rewritten — read back exactly.
    */
  def ordersSqlDelete(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val name = QueryCache.fixture("sqldel", orders) { f =>
      val n = f.catalogTable("orders_del")
      graft.sources.VersionedTable.commit(
        orders.select(col("o_orderkey"), col("o_orderstatus").as("status"),
            cents(col("o_totalprice")).as("price_c"))
          .repartitionByRange(8, col("o_orderkey")),
        f.catalogPath(n), append = false, statsCols = Seq("o_orderkey"))
      spark.sql(
        s"DELETE FROM gtab.default.$n WHERE o_orderkey >= 5000 AND o_orderkey <= 8000")
      n
    }
    spark.sql(
      s"SELECT o_orderkey, status, price_c FROM gtab.default.$name ORDER BY o_orderkey")
  }

  /** Registered q_sql_update body: SQL `UPDATE` through the catalog —
    * executed as a group-based row-level operation whose groups are
    * FILES and whose write is a replace commit: the pushed range
    * condition derives zone-map bounds that keep files outside the range
    * out of the rewrite entirely (`GraftCatalogSpec` pins the
    * carried-file count). The oracle applies the same conditional
    * increment in SQL, so hash equality proves both the rewritten and
    * the carried files read back exactly.
    */
  def ordersSqlUpdate(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val name = QueryCache.fixture("sqlupd", orders) { f =>
      val n = f.catalogTable("orders_upd")
      graft.sources.VersionedTable.commit(
        orders.select(col("o_orderkey"), col("o_orderstatus").as("status"),
            cents(col("o_totalprice")).as("price_c"))
          .repartitionByRange(8, col("o_orderkey")),
        f.catalogPath(n), append = false, statsCols = Seq("o_orderkey"))
      spark.sql(
        s"""UPDATE gtab.default.$n SET price_c = price_c + 5
           |WHERE o_orderkey >= 5000 AND o_orderkey <= 8000""".stripMargin)
      n
    }
    spark.sql(
      s"SELECT o_orderkey, status, price_c FROM gtab.default.$name ORDER BY o_orderkey")
  }

  /** Registered q_sql_merge body: SQL `MERGE INTO` through the catalog,
    * the row-level upsert twin of the programmatic [[q_table_merge]]
    * scenario: base holds keys ≢3 (mod 4); the change source updates
    * every key ≡0 (mod 10) and inserts the held-out ≡3 (mod 4) quarter,
    * all through one replace commit. The oracle reconstructs the merged
    * state directly from raw orders.
    */
  def ordersSqlMerge(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val name = QueryCache.fixture("sqlmrg", orders) { f =>
      val n = f.catalogTable("orders_mrg")
      graft.sources.VersionedTable.commit(
        ordersCdcBase(orders).repartitionByRange(8, col("o_orderkey")),
        f.catalogPath(n), append = false, statsCols = Seq("o_orderkey"))
      orders.createOrReplaceTempView(s"g_mrg_$n")
      spark.sql(
        s"""MERGE INTO gtab.default.$n t
           |USING (SELECT o_orderkey, 'MRG' AS status,
           |              CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
           |       FROM g_mrg_$n
           |       WHERE o_orderkey % 10 = 0 OR o_orderkey % 4 = 3) c
           |ON t.o_orderkey = c.o_orderkey
           |WHEN MATCHED THEN UPDATE SET status = c.status, price_c = c.price_c
           |WHEN NOT MATCHED THEN INSERT (o_orderkey, status, price_c)
           |  VALUES (c.o_orderkey, c.status, c.price_c)""".stripMargin)
      n
    }
    spark.sql(
      s"SELECT o_orderkey, status, price_c FROM gtab.default.$name ORDER BY o_orderkey")
  }

  /** Registered q_table_zorder body: OPTIMIZE ZORDER on the versioned
    * table — the head rewritten clustered on the Morton interleave of
    * (o_custkey, o_orderkey) with zone maps on BOTH, then a rectangle
    * read through [[graft.sources.VersionedTable.readWhereBounds]] that
    * prunes files in both dimensions from the manifest alone. Oracle is
    * the plain conjunctive filter; `VersionedTableSpec` pins that the
    * rectangle prune actually skips.
    */
  def ordersTableZorder(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val table = QueryCache.fixture("zo", orders) { f =>
      val t = s"${f.dir}/orders_zo"
      graft.sources.VersionedTable.commit(
        orders.select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus").as("status"), cents(col("o_totalprice")).as("price_c")),
        t, append = false)
      graft.sources.VersionedTable.optimizeZorder(
        spark, t, Seq("o_custkey", "o_orderkey"), targetRowsPerFile = 1000L)
      t
    }
    graft.sources.VersionedTable
      .readWhereBounds(spark, table, None,
        Seq(("o_custkey", 100L, 300L), ("o_orderkey", 2000L, 6000L)))
      .orderBy("o_orderkey")
  }

  /** Registered q_asof_versioned body: the round-11 components composed
    * under ONE oracle check instead of passing only in isolation — a
    * [[graft.sources.VersionedTable]] of view events (v1 = every view,
    * v2 = merge-on-read retraction of every third view: tombstones only,
    * no data rewritten) read at BOTH versions through the NATIVE as-of
    * join ([[graft.plans.AsOfJoin]]). Each click is enriched with its
    * most-recent-view-at-or-before twice: against the time-traveled v1
    * snapshot (read after the head has moved — the pre-retraction answer
    * an auditor replays) and against the v2 head (tombstones applied on
    * read, so a retracted view falls through to the next-older surviving
    * view or null). Exercises versioned commit + MOR delete + time
    * travel + snapshot isolation + the custom sorted-merge physical
    * operator in one plan; DuckDB replays both legs from the raw events
    * table with the retraction as a WHERE clause.
    *
    * Scale shape: the two as-of legs each ask for hash-clustering on
    * user_id, and the final leg-join is on (user_id, click_id) — AQE/
    * EnsureRequirements reuses the click-side clustering, so cost is two
    * sorted merges plus one key-hashed join, all linear and skew-free.
    */
  def eventsAsofVersioned(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    val table = QueryCache.fixture("av", events) { f =>
      val t = s"${f.dir}/views_v"
      val views = events.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"),
          col("ts").as("v_ts"))
      graft.sources.VersionedTable.commit(views, t, append = false)
      graft.sources.VersionedTable.deleteWhere(
        spark, t, col("view_id") % 3 === 0, "view_id")
      t
    }
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts"))
    def enrich(version: Long, outCol: String) =
      graft.plans.AsOfJoin.leftAsOf(
          clicks,
          graft.sources.VersionedTable.read(spark, table, Some(version)),
          on = Seq("user_id"), leftTimeCol = "ts", rightTimeCol = "v_ts",
          rightTieBreak = Some("view_id"),
          // the view stream is fact-sized at scale; pin the sorted-merge
          // plan so the small-SF estimate can't flip it to broadcast
          broadcastRight = Some(false))
        .select(col("user_id"), col("click_id"), col("view_id").as(outCol))
    enrich(1L, "view_id_v1")
      .join(enrich(2L, "view_id_v2"), Seq("user_id", "click_id"))
      .orderBy("user_id", "click_id")
  }

  private def versionAggregates(
      spark: org.apache.spark.sql.SparkSession, table: String, upTo: Long): DataFrame =
    (1L to upTo).map { v =>
      graft.sources.VersionedTable.read(spark, table, Some(v))
        .agg(count(lit(1)).as("n_rows"), sum("price_c").cast("long").as("total_c"))
        .select(lit(v).as("version"), col("n_rows"), col("total_c"))
    }.reduce(_ union _).orderBy("version")
}
