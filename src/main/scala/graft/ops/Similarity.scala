package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`Array[Float]`, dim 64).
  *
  * Two paths, per the standard ANN playbook:
  *   - [[bruteForceTopK]]: exact cosine top-k of a small query set against
  *     the corpus. The query side is broadcast (it is small by contract),
  *     so the corpus never shuffles for the join; per-group top-k is a
  *     rank-window executed with partial top-k pushdown. Exact but O(|Q|·n)
  *     — the measuring stick.
  *   - [[ivfTopK]]: IVF-style approximate path — assign every vector to its
  *     nearest centroid (broadcast centroids), then search only within the
  *     query's cell. Work drops to O(|Q|·n/cells) at the cost of recall;
  *     this is the 100 TB shape (cells ≈ partitions, each probe touches one
  *     cell).
  *
  * Dot products run through [[graft.functions.VectorExpressions]] — a
  * native Catalyst expression with `doGenCode`, one primitive loop per
  * comparison inside whole-stage codegen. (The `zip_with`+`aggregate`
  * higher-order-function formulation computes the same values but
  * evaluates interpreted with a boxed lambda call per element — measured
  * ~3× slower end-to-end on the similarity queries.)
  */
object Similarity {

  /** Cosine similarity in double precision (single-pass, codegen'd). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.vecCosine(a, b)

  /** Exact cosine top-k: query vectors (vec_id < numQueries) vs the whole
    * corpus, self-matches excluded, ties broken by vec_id.
    */
  def bruteForceTopK(embeddings: DataFrame, numQueries: Int = 20, k: Int = 5): DataFrame = {
    val q = embeddings
      .filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val c = embeddings.select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"))
    val scored = q.hint("broadcast")
      .join(c, col("query_id") =!= col("cand_id"))
      .withColumn("cos", cosine(col("q_emb"), col("c_emb")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id"))
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("cand_id"), round(col("cos"), 6).as("cos_sim"))
      .orderBy("query_id", "rnk")
  }

  /** [[bruteForceTopK]] re-expressed through the typed
    * [[graft.functions.TopKAggregator]] instead of a rank window: same
    * result, but per-group state is a bounded k-list merged associatively
    * (map-side partials shuffle k rows per query, never the candidate
    * list). The UDAF/Aggregator leg of the operator surface.
    */
  def bruteForceTopKAgg(embeddings: DataFrame, numQueries: Int = 20, k: Int = 5): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val q = embeddings
      .filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val c = embeddings.select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"))
    val scored = q.hint("broadcast")
      .join(c, col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"), cosine(col("q_emb"), col("c_emb")).as("cos"))
      .as[(Long, Long, Double)]
    scored
      .groupByKey(_._1)
      .agg(new graft.functions.TopKAggregator[(Long, Long, Double)](k, _._2, _._3)
        .toColumn.name("top"))
      .flatMap { case (qid, tops) =>
        tops.zipWithIndex.map { case ((cid, cos), i) => (qid, (i + 1).toLong, cid, cos) }
      }
      .toDF("query_id", "rnk", "cand_id", "cos")
      .select(col("query_id"), col("rnk"), col("cand_id"), round(col("cos"), 6).as("cos_sim"))
      .orderBy("query_id", "rnk")
  }

  /** Deterministic pseudo-centroids: every vector whose id ≡ 0 (mod
    * `centroidStride`). Decision (see IvfRecallSpec for the measured
    * recall): modulo selection is RETAINED over k-means because (a) the
    * DuckDB oracle replays the whole algorithm bit-exactly, which k-means
    * iteration order/tie-breaking would break across engines, and (b) the
    * execution shape — broadcast centroids, argmin assign, equi-join on
    * cell — is identical either way. The Lloyd refinement of these seeds
    * is implemented at [[kmeansCentroids]] (bit-exact via integer-grid
    * sums, so (a) no longer applies to it); on this isotropic synthetic
    * corpus it does not move recall (IvfRecallSpec), so the plain seeds
    * stay the default and [[ivfTopKMultiProbe]] is the working recall
    * knob.
    */
  def centroids(embeddings: DataFrame, centroidStride: Int): DataFrame =
    embeddings
      .filter(col("vec_id") % centroidStride === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cent_emb"))

  /** Dimensionality of the embeddings table (fixed by the data contract). */
  val EmbDim = 64

  /** Distributed Lloyd iterations from the deterministic stride seeds — the
    * k-means seeding upgrade slot named in [[centroids]], kept bit-exact
    * across engines so the DuckDB oracle can replay it:
    *
    *   - Each member coordinate is quantized to a 1e-3 grid as an INTEGER
    *     (`floor(x·1000 + 0.5)` — the explicit-floor form that agrees
    *     across engines on negative halves) BEFORE summing, so the
    *     per-cell sum is exact integer arithmetic — order-independent,
    *     hence identical no matter how either engine schedules the
    *     aggregation. The one float-order-dependent step of k-means (the
    *     mean) is thereby removed; everything downstream (division, float
    *     cast, cosine) is deterministic double math on identical inputs.
    *   - Fixed seed set (vec_id % seedStride = 0) and a FIXED iteration
    *     count — no convergence test, so both engines run the same plan.
    *   - Centroids are cast back to float (IEEE round-to-nearest, same on
    *     both engines) so the existing native float cosine kernel applies.
    *
    * Execution shape per iteration: broadcast the k centroids, one
    * rank-window argmin over the corpus, one 64-column integer-sum
    * aggregation (partial map-side combine; k final rows). At 100 TB this
    * is the standard distributed-Lloyd job: cost ≈ iterations × (scan +
    * k·dim broadcast work), no shuffle wider than k rows.
    *
    * Empty cells are dropped (both engines group only over assigned
    * cells), so k can shrink — acceptable for IVF, where the cell count is
    * a knob, not a contract.
    */
  def kmeansCentroids(
      embeddings: DataFrame,
      seedStride: Int = 100,
      iters: Int = 2): DataFrame = {
    var cents = centroids(embeddings, seedStride)
    for (_ <- 0 until iters) {
      // r19 optimization (guide §2.4): carry the member embedding THROUGH
      // the argmin aggregate instead of joining it back by vec_id — the
      // join-back re-shuffled the whole embeddings table plus the argmin
      // output once per Lloyd iteration for data the aggregate already
      // held. The embedding rides inside the max-struct: (cos, neg_id) is
      // already a total order per group (centroid ids are distinct), so
      // the appended field never decides the max and the selected row is
      // exactly the old argmin's. Identical output on any input with
      // unique vec_id (the table's key; the oracle replays this).
      val assign = embeddings
        .join(broadcast(cents))
        .select(
          struct(
            cosine(col("embedding"), col("cent_emb")).as("cos"),
            (-col("centroid_id")).as("neg_id"),
            col("embedding").as("emb")).as("sc"),
          col("vec_id"))
        .groupBy("vec_id")
        .agg(max(col("sc")).as("best"))
        .select((-col("best.neg_id")).as("cell"), col("best.emb").as("embedding"))
      val sums = (1 to EmbDim).map(i =>
        sum(floor(element_at(col("embedding"), i).cast("double") * lit(1000.0) + lit(0.5))
          .cast("long")).as(s"s$i"))
      val aggs = count(lit(1)).as("n") +: sums
      // r20 optimization (guide §1.2 — don't recompute): checkpoint the
      // k-row centroid frame each iteration. Without it, iteration i's
      // broadcast build re-executes the ENTIRE earlier Lloyd chain (each
      // broadcast(cents) subtree nests the previous iteration's corpus
      // scan + aggregate), so the corpus was scanned O(iters²)/2 times
      // inside one executed plan; the checkpoint makes each iteration's
      // scan+aggregate run exactly once and the final assignment plan
      // start from a k-row LogicalRDD leaf. Values unchanged (the exact
      // integer-grid aggregate is order-independent by construction).
      cents = org.apache.spark.sql.GraftSqlInternals.localCheckpointStatsFree(
        assign
          .groupBy("cell")
          .agg(aggs.head, aggs.tail: _*)
          .select(
            col("cell").as("centroid_id"),
            array((1 to EmbDim).map(i =>
              (col(s"s$i").cast("double") / col("n") / lit(1000.0)).cast("float")): _*)
              .as("cent_emb")),
        eager = true)
    }
    cents
  }

  /** Nearest-centroid argmin (broadcast centroids, argmax aggregate):
    * (vec_id, cell, cos). Shared by the assignment paths.
    *
    * The argmin is `max(struct(cos, -centroid_id))` — lexicographic struct
    * max picks the highest cosine, ties broken toward the LOWEST centroid
    * id (identical selection to a `row_number` window ordered by
    * `cos DESC, centroid_id ASC`, which the oracles replay). An aggregate
    * beats the window formulation at scale: it partially aggregates
    * map-side, so the shuffle carries one best-so-far row per (vec_id,
    * partition) instead of ALL |vectors|·|centroids| scored rows sorted
    * into window partitions — at a 100 TB corpus that is the difference
    * between shuffling k× the corpus and shuffling ≈ the corpus.
    */
  private def argminCell(embeddings: DataFrame, cents: DataFrame): DataFrame =
    embeddings
      .join(broadcast(cents))
      .select(col("vec_id"),
        struct(
          cosine(col("embedding"), col("cent_emb")).as("cos"),
          (-col("centroid_id")).as("neg_id")).as("sc"))
      .groupBy("vec_id")
      .agg(max(col("sc")).as("best"))
      .select(col("vec_id"), (-col("best.neg_id")).as("cell"), col("best.cos").as("cos"))

  /** Cluster-balanced subsampling: cap each IVF cell at `cap` members,
    * chosen by deterministic md5-hash rank within the cell — the diversity
    * rebalance that keeps a dominant cluster from flooding a training
    * draw (the embedding-space analogue of per-source quota sampling).
    * Execution: one broadcast-centroid assignment pass, then a single
    * cell-partitioned window exchange that serves BOTH the rank and the
    * cell-size count (unordered twin over the same partitioning — no
    * second scan, no join). Nothing here exceeds cell cardinality wide.
    */
  def clusterBalancedSample(
      embeddings: DataFrame,
      centroidStride: Int = 100,
      cap: Int = 50): DataFrame = {
    val assign = argminCell(embeddings, centroids(embeddings, centroidStride))
      .select(col("vec_id"), col("cell"))
    val h = conv(substring(md5(col("vec_id").cast("string")), 25, 8), 16, 10)
      .cast("long")
    val rankW = Window.partitionBy("cell").orderBy(col("priority"), col("vec_id"))
    val cellW = Window.partitionBy("cell")
    assign
      .withColumn("priority", h)
      .withColumn("rnk", row_number().over(rankW).cast("long"))
      .withColumn("n_cell", count(lit(1)).over(cellW))
      .filter(col("rnk") <= cap)
      .select(col("cell"), col("rnk"), col("vec_id"), col("n_cell"))
      .orderBy("cell", "rnk")
  }

  /** Two-stage PQ serving: the ADC shortlist ([[pqTopK]], `shortlist`
    * candidates from compressed codes) exactly re-scored against the
    * full-precision vectors and re-ranked to `k` — the standard
    * compressed-index + exact-rerank pattern. The exact stage touches
    * only `shortlist`·dim floats per query (a candidate-keyed hash join,
    * never a corpus scan), so the full-precision vectors are read for
    * ~0.4% of the corpus while the 64×-compressed codes absorb the scan.
    */
  def pqRerank(
      embeddings: DataFrame,
      numQueries: Int = 20,
      shortlist: Int = 20,
      k: Int = 5): DataFrame = {
    val short = pqTopK(embeddings, numQueries, shortlist)
      .select(col("query_id"), col("cand_id"))
    val q = embeddings.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val c = embeddings.select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"))
    val exact = short.join(q, Seq("query_id")).join(c, Seq("cand_id"))
      .withColumn("cos", cosine(col("q_emb"), col("c_emb")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id"))
    exact
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("cand_id"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy("query_id", "rnk")
  }

  /** Maximal-marginal-relevance re-ranking — the diversity pass a serving
    * stack runs AFTER recall (brute/IVF/PQ top-k all exist upstream):
    * from each query's `poolSize`-candidate pool, select `k` results
    * greedily, each round's winner maximizing
    * `λ·cos(q,c) − (1−λ)·max_{s∈selected} cos(c,s)`.
    *
    * Shape: the CORPUS-scale work — scoring every candidate against the
    * broadcast queries and the in-pool pairwise cosines — stays fully
    * declarative (corpus never shuffles, same shape as [[hardNegatives]]).
    * The greedy selection itself then runs per query over grouped arrays
    * in one `flatMap`: state is pool-bounded (≤ pool cands + pool² sims
    * per query), so the k selection rounds are a local loop instead of k
    * global scheduler barriers. (An earlier revision unrolled the loop
    * into k declarative join rounds; correct, but ~8 s of pure job-launch
    * overhead on ≤ numQueries·pool-row frames — per-group custom logic
    * over bounded state is exactly the grouped-map contract.)
    * Determinism: cosines are the same sequential-sum doubles as before
    * (computed by the SAME Catalyst expression, pre-collapse), λ = 0.5 is
    * an exact binary fraction, the local argmax replays the SQL
    * `max(struct(score, -cand_id))` comparator (strict >, ties to the
    * LOWER candidate id), and the final rounding is the same Spark
    * `round(_, 6)` expression — so selection replays bit-exactly.
    */
  def mmrRerank(
      embeddings: DataFrame,
      numQueries: Int = 20,
      poolSize: Int = 20,
      k: Int = 5): DataFrame = {
    val lam = 0.5
    val spark = embeddings.sparkSession
    import spark.implicits._
    val q = embeddings.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val scoredAll = embeddings
      .select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"))
      .join(broadcast(q))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("cos_q", cosine(col("q_emb"), col("c_emb")))
    val wq = Window.partitionBy("query_id").orderBy(col("cos_q").desc, col("cand_id"))
    // pool feeds two legs (the candidate list and the pairwise self-join);
    // persisting it keeps the corpus-scoring pass single-execution. It is
    // the ONE cache entry the operator may leave for its returned plan.
    val pool = QueryCache.cached(scoredAll
      .withColumn("rnk", row_number().over(wq))
      .filter(col("rnk") <= poolSize)
      .select(col("query_id"), col("cand_id"), col("c_emb"), col("cos_q")))
    val psim = pool.select(col("query_id"), col("cand_id").as("ca"), col("c_emb").as("ea"))
      .join(pool.select(col("query_id"), col("cand_id").as("cb"), col("c_emb").as("eb")),
        Seq("query_id"))
      .filter(col("ca") =!= col("cb"))
      .select(col("query_id"), col("ca"), col("cb"), cosine(col("ea"), col("eb")).as("sim"))
    // _1/_2 struct names line the arrays up with the tuple encoders below
    val cands = pool.groupBy("query_id")
      .agg(collect_list(struct(col("cand_id").as("_1"), col("cos_q").as("_2"))).as("cands"))
    val sims = psim.groupBy("query_id")
      .agg(collect_list(struct(
        col("ca").as("_1"), col("cb").as("_2"), col("sim").as("_3"))).as("sims"))
    val selected = cands.join(sims, Seq("query_id"), "left")
      .as[(Long, Seq[(Long, Double)], Seq[(Long, Long, Double)])]
      .flatMap { case (qid, cands, simsOrNull) =>
        val sims = Option(simsOrNull).getOrElse(Seq.empty)
        val simMap = sims.map { case (a, b, s) => (a, b) -> s }.toMap
        val remaining = scala.collection.mutable.LinkedHashMap(cands: _*)
        val out = Seq.newBuilder[(Long, Long, Long, Double)]
        val picked = scala.collection.mutable.ArrayBuffer.empty[Long]
        var j = 1L
        while (j <= k && remaining.nonEmpty) {
          var bestId = -1L; var bestCq = 0.0
          var bestScore = Double.NegativeInfinity
          remaining.foreach { case (cid, cq) =>
            val s =
              if (picked.isEmpty) cq
              else {
                var m = Double.NegativeInfinity
                picked.foreach { sid =>
                  // fail descriptively: a missing pair means the pool/psim
                  // construction broke its every-(candidate,selected)-pair
                  // invariant, which must surface as this message rather
                  // than a bare NoSuchElementException in an executor task
                  val v = simMap.getOrElse((cid, sid), throw new IllegalStateException(
                    s"mmrRerank: no pairwise sim for candidate $cid vs selected $sid (query $qid)"))
                  if (v > m) m = v
                }
                lam * cq - (1.0 - lam) * m
              }
            if (s > bestScore || (s == bestScore && cid < bestId)) {
              bestScore = s; bestId = cid; bestCq = cq
            }
          }
          out += ((qid, j, bestId, bestCq))
          picked += bestId
          remaining.remove(bestId)
          j += 1
        }
        out.result()
      }
      .toDF("query_id", "sel_rank", "cand_id", "cos_q")
    selected
      .select(col("query_id"), col("sel_rank"), col("cand_id"),
        round(col("cos_q"), 6).as("cos_sim"))
      .orderBy("query_id", "sel_rank")
  }

  /** IVF cell assignment: nearest centroid by cosine (broadcast centroids,
    * rank-window argmin). This is the "build the index" half.
    */
  def ivfAssign(embeddings: DataFrame, centroidStride: Int = 100): DataFrame =
    argminCell(embeddings, centroids(embeddings, centroidStride))
      .select(col("vec_id"), col("cell"), round(col("cos"), 6).as("cell_cos"))
      .orderBy("vec_id")

  /** [[ivfAssign]] with Lloyd-refined centroids ([[kmeansCentroids]]) —
    * the same downstream plan, better cells when the corpus has cluster
    * structure. (On THIS synthetic corpus it measurably does not — the
    * vectors are isotropic; see IvfRecallSpec — so the refined assignment
    * is registered for correctness of the machinery, while the recall
    * lever that works on isotropic data is multi-probe,
    * [[ivfTopKMultiProbe]].)
    */
  def ivfAssignKMeans(
      embeddings: DataFrame,
      seedStride: Int = 100,
      iters: Int = 2): DataFrame =
    argminCell(embeddings, kmeansCentroids(embeddings, seedStride, iters))
      .select(col("vec_id"), col("cell"), round(col("cos"), 6).as("cell_cos"))
      .orderBy("vec_id")

  /** Multi-probe IVF top-k: each query searches its `nprobe` nearest cells
    * instead of one. THE recall knob for weakly-clustered data: recall
    * scales with the corpus fraction scanned (nprobe/cells here), while
    * the execution shape is unchanged — probes are `nprobe` rows per query
    * joined equi on cell, so the shuffle stays bounded by cell sizes and
    * no all-pairs comparison appears. Measured on the synthetic corpus
    * (IvfRecallSpec): recall@5 = 0.39 at nprobe=1 → ~0.78 at nprobe=3 of
    * 5 cells. A candidate lives in exactly one cell and a query's probed
    * cells are distinct, so no (query, candidate) pair duplicates — no
    * distinct needed before the top-k window.
    */
  def ivfTopKMultiProbe(
      embeddings: DataFrame,
      numQueries: Int = 20,
      k: Int = 5,
      centroidStride: Int = 100,
      nprobe: Int = 3): DataFrame = {
    val cents = centroids(embeddings, centroidStride)
    val assign = argminCell(embeddings, cents)
    val qScored = embeddings
      .filter(col("vec_id") < numQueries)
      .join(broadcast(cents))
      .withColumn("cos", cosine(col("embedding"), col("cent_emb")))
    val wq = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("centroid_id"))
    val probes = qScored
      .withColumn("rnk", row_number().over(wq))
      .filter(col("rnk") <= nprobe)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("centroid_id").as("cell"))
    val cands = embeddings
      .select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"))
      .join(assign.select(col("vec_id").as("cand_id"), col("cell")), Seq("cand_id"))
    val scored = probes
      .join(cands, Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cos", cosine(col("q_emb"), col("c_emb")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id"))
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("cand_id"), round(col("cos"), 6).as("cos_sim"))
      .orderBy("query_id", "rnk")
  }

  /** IVF-style ANN top-k: search only candidates in the query's cell.
    * Join keys on the cell id ⇒ equi-join shuffle bounded by cell sizes —
    * the n²-free scale path (with the recall/latency knob being
    * `centroidStride`).
    */
  def ivfTopK(
      embeddings: DataFrame,
      numQueries: Int = 20,
      k: Int = 5,
      centroidStride: Int = 100,
      precomputedAssign: Option[DataFrame] = None): DataFrame = {
    // the assignment is the "index build" — persist it so the query and
    // candidate sides of the cell join don't each recompute the argmin.
    // Long-lived callers should build it once via ivfAssign, persist, pass
    // it in, and own unpersist.
    val assign = precomputedAssign.getOrElse(
      QueryCache.cached(ivfAssign(embeddings, centroidStride)))
    val withCell = embeddings.join(assign.select("vec_id", "cell"), Seq("vec_id"))
    val q = withCell
      .filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"), col("cell"))
    val c = withCell.select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"), col("cell"))
    val scored = q.join(c, Seq("cell")).filter(col("query_id") =!= col("cand_id"))
      .withColumn("cos", cosine(col("q_emb"), col("c_emb")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id"))
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("cand_id"), round(col("cos"), 6).as("cos_sim"))
      .orderBy("query_id", "rnk")
  }

  /** Int8 quantization audit per embedding — the storage-compression step
    * (float32 → int8, 4× smaller before ANN serving), reported as scalar
    * stats (scale + quantized checksum/energy) computed in one codegen'd
    * pass without materializing the quantized vectors
    * ([[graft.functions.VectorExpressions.Int8QuantStats]]). A narrow map
    * stage: no shuffle, scales with the scan.
    */
  def quantizeAudit(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"),
        graft.functions.VectorExpressions.int8QuantStats(col("embedding")).as("q"))
      .select(
        col("vec_id"),
        round(col("q.scale"), 6).as("scale"),
        col("q.q_sum").as("q_sum"),
        col("q.q_norm2").as("q_norm2"))
      .orderBy("vec_id")

  /** Signed-random-projection (SRP) LSH: the bucketed alternative to IVF.
    * `SrpBits` fixed pseudo-random hyperplanes (integer weights, seeded —
    * embedded as literals in both the Spark plan and the SQL oracle, so
    * the bucketing replays exactly); each vector's bucket is the bit
    * pattern of its dot-product signs. Cosine-similar vectors agree on
    * most signs, so near-dups land in the same bucket with high
    * probability. Candidate pairs come from bucket grouping — one shuffle
    * on the bucket id, pair generation inside the bucket, exact cosine
    * verify after. No distance computation against the whole corpus.
    */
  val SrpTables = 6
  val SrpBitsPerTable = 8
  val SrpDim = 64

  /** Deterministic integer hyperplane weights (seeded):
    * w(table·bits + k)(i) ∈ [-1000, 1000]. Collision probability per
    * table for angle θ is (1 − θ/π)^bits, so multiple tables trade
    * compute for recall — the standard SRP-LSH L-tables construction.
    */
  lazy val srpWeights: Array[Array[Int]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(SrpTables * SrpBitsPerTable, SrpDim)(rnd.nextInt(2001) - 1000)
  }

  /** Bucket id within table `t`: the sign-bit pattern of its hyperplanes. */
  private def srpTableBucket(t: Int): Column = {
    val bits = (0 until SrpBitsPerTable).map { k =>
      val w = array(srpWeights(t * SrpBitsPerTable + k).toIndexedSeq.map(x => lit(x.toFloat)): _*)
      when(graft.functions.VectorExpressions.vecDot(col("embedding"), w) >= 0.0,
        lit(1L << k)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Bucket assignment per table: (vec_id, srp_b0 … srp_b{L-1}). */
  def srpBuckets(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id") +:
        (0 until SrpTables).map(t => srpTableBucket(t).as(s"srp_b$t")): _*)
      .orderBy("vec_id")

  /** SRP near-dup pairs: candidates collide in ANY of the L tables
    * (distinct-unioned, like MinHash bands), then exact-cosine verified.
    * Bounded-bucket shape (as in [[graft.ops.Dedup.lshCandidatePairs]]):
    * bucket assignments are computed ONCE, buckets form with one shuffle
    * on (table, bucket), pairs are generated in-bucket from the sorted
    * member list, and buckets above `maxBucket` are dropped — a
    * degenerate bucket (e.g. many near-zero vectors landing on the same
    * sign pattern) would otherwise emit O(bucket²) pairs at web scale.
    */
  /** Narrow per-table bucket assignment in long form: (vec_id, embedding,
    * t, b) — one row per (vector, table), no aggregation and no ordering;
    * shared by the batch pair generators below.
    */
  private[graft] def srpBucketed(embeddings: DataFrame): DataFrame =
    embeddings.select(
      col("vec_id"), col("embedding"),
      explode(array((0 until SrpTables).map(t =>
        struct(lit(t).as("t"), srpTableBucket(t).as("b"))): _*)).as("tb"))
      .select(col("vec_id"), col("embedding"), col("tb.t"), col("tb.b"))

  /** SRP candidate pairs BEFORE the exact-cosine verify: every distinct
    * id pair sharing a (table, bucket), capped buckets dropped — the
    * candidate-generation half of [[srpNearDupPairs]] (the same
    * generate-candidates / verify-downstream split as
    * [[graft.ops.Dedup.lshCandidatePairs]] vs the verified near-dup op).
    */
  def srpCandidatePairs(
      embeddings: DataFrame,
      maxBucket: Int = 1000): DataFrame = {
    val buckets = srpBucketed(embeddings)
      .groupBy("t", "b")
      .agg(sort_array(collect_list(col("vec_id"))).as("members"))
      .filter(size(col("members")).between(2, maxBucket))
    val pairs = Dedup.inBucketPairs(col("members"))((x, y) =>
      struct(x.as("id_a"), y.as("id_b")))
    buckets
      .select(explode(pairs).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .distinct()
      .orderBy("id_a", "id_b")
  }

  def srpNearDupPairs(
      embeddings: DataFrame,
      threshold: Double = 0.35,
      maxBucket: Int = 1000): DataFrame = {
    val withBuckets = srpBucketed(embeddings)
    val buckets = withBuckets
      .groupBy("t", "b")
      .agg(sort_array(collect_list(struct(col("vec_id"), col("embedding")))).as("members"))
      .filter(size(col("members")).between(2, maxBucket))
    val pairs = Dedup.inBucketPairs(col("members"))((x, y) =>
      struct(
        x.getField("vec_id").as("id_a"), x.getField("embedding").as("emb_a"),
        y.getField("vec_id").as("id_b"), y.getField("embedding").as("emb_b")))
    buckets
      .select(explode(pairs).as("p"))
      .select(col("p.id_a"), col("p.id_b"),
        round(cosine(col("p.emb_a"), col("p.emb_b")), 6).as("cos_sim"))
      .distinct()
      .filter(col("cos_sim") > threshold)
      .orderBy("id_a", "id_b")
  }

  /** Embedding-cosine near-duplicate pairs: symmetric pairs above a cosine
    * threshold, generated through the IVF cells (docs only compared within
    * a cell — no all-pairs). Used as the embedding leg of the dedup suite.
    * Bounded-cell shape: members collect per cell with one shuffle, pairs
    * generate in-cell from the sorted member list, and cells above
    * `maxCell` are dropped — a degenerate cell (a centroid attracting a
    * huge cluster) would otherwise emit O(cell²) pairs and a straggler
    * reducer at web scale. (The production alternative is recursive cell
    * splitting; dropping mirrors [[graft.ops.Dedup.lshCandidatePairs]].)
    */
  def cosineNearDupPairs(
      embeddings: DataFrame,
      threshold: Double = 0.35,
      centroidStride: Int = 50,
      precomputedAssign: Option[DataFrame] = None,
      maxCell: Int = 1000): DataFrame =
    cosinePairsRaw(embeddings, threshold, centroidStride, precomputedAssign, maxCell)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos_sim"))
      .orderBy("id_a", "id_b")

  /** The unordered, unrounded core of [[cosineNearDupPairs]]: verified
    * in-cell pairs above the threshold, no output-contract sort. Internal
    * consumers that only need the edge SET ([[semanticDedup]]) read this —
    * the public generator's global `orderBy` is a range-partition exchange
    * that a clustering consumer would pay for nothing.
    */
  private def cosinePairsRaw(
      embeddings: DataFrame,
      threshold: Double,
      centroidStride: Int = 50,
      precomputedAssign: Option[DataFrame] = None,
      maxCell: Int = 1000): DataFrame = {
    // r19 optimization: internal consumers take the UNSORTED argmin frame —
    // ivfAssign's public contract appends a global orderBy (a range
    // exchange) plus a round() that the cell join destroys/ignores anyway
    val assign = precomputedAssign
      .getOrElse(argminCell(embeddings, centroids(embeddings, centroidStride)))
    val withCell = embeddings.join(assign.select("vec_id", "cell"), Seq("vec_id"))
    val cells = withCell
      .groupBy("cell")
      .agg(sort_array(collect_list(struct(col("vec_id"), col("embedding")))).as("members"))
      .filter(size(col("members")).between(2, maxCell))
    val pairs = Dedup.inBucketPairs(col("members"))((x, y) =>
      struct(
        x.getField("vec_id").as("id_a"), x.getField("embedding").as("emb_a"),
        y.getField("vec_id").as("id_b"), y.getField("embedding").as("emb_b")))
    cells
      .select(explode(pairs).as("p"))
      .withColumn("cos", cosine(col("p.emb_a"), col("p.emb_b")))
      .filter(col("cos") > threshold)
      .select(col("p.id_a"), col("p.id_b"), col("cos"))
  }

  // ------------------------------------------------ product quantization

  /** PQ geometry: 64-dim vectors split into [[PqM]] contiguous subvectors
    * of [[PqSubDim]] dims, each quantized against its own [[PqK]]-entry
    * codebook (Jégou et al. 2011, "Product Quantization for Nearest
    * Neighbor Search"). 8×4-bit codes pack a vector into 32 bits — an 8×
    * compression over int8 and 64× over float32 — while ADC search scans
    * codes with per-query lookup tables instead of touching float vectors.
    */
  val PqM = 8
  val PqSubDim = 8
  val PqK = 16

  /** Seed stride for the deterministic codebooks: codeword `j` of every
    * subquantizer is the matching slice of seed vector `vec_id = j·stride`.
    * Deterministic for the same reason [[centroids]] is — the DuckDB
    * oracle replays codebook construction, encode, and ADC search
    * bit-exactly, which k-means-trained codebooks (float mean ordering)
    * would break. The execution shape — broadcast codebooks, per-sub
    * argmin, table-lookup scan — is identical either way; swapping in
    * Lloyd-refined codebooks via `precomputedCodebooks` is the production
    * upgrade path (see [[kmeansCentroids]] for the bit-exact recipe).
    */
  val PqSeedStride = 25

  /** The [[PqK]] seed vectors as (code, seed_emb), code ∈ [0, PqK). */
  def pqCodebooks(embeddings: DataFrame): DataFrame =
    embeddings
      .filter(col("vec_id") % PqSeedStride === 0 &&
        col("vec_id") < PqSeedStride.toLong * PqK)
      .select(expr(s"vec_id div $PqSeedStride").as("code"),
        col("embedding").as("seed_emb"))

  /** Squared L2 distance via three codegen'd dot products —
    * |a|² − 2a·b + |b|², the exact arithmetic the oracle replays (a
    * term-by-term (a−b)² form would round differently). */
  private def l2sq(a: Column, b: Column): Column = {
    import graft.functions.VectorExpressions.vecDot
    vecDot(a, a) - lit(2.0) * vecDot(a, b) + vecDot(b, b)
  }

  private def sub(v: Column, m: Int): Column =
    slice(v, m * PqSubDim + 1, PqSubDim)

  /** PQ encode: per subvector, the code of the L2-nearest codeword (ties
    * to the lowest code), plus the 32-bit packed form. Execution shape:
    * one broadcast of the PqK seed rows against the corpus, then ONE
    * partial aggregate carrying PqM bounded `min(struct(dist, code))`
    * states per vector — map-side combine leaves a shuffle of one row per
    * vector, never |corpus|×PqK rows. A narrow scan-shaped job at 100 TB.
    */
  def pqEncode(
      embeddings: DataFrame,
      precomputedCodebooks: Option[DataFrame] = None): DataFrame =
    pqEncodeRaw(embeddings, precomputedCodebooks).orderBy("vec_id")

  /** [[pqEncode]] without the output-contract sort — internal consumers
    * ([[pqTopK]]) join on the codes and would pay the range-partition
    * exchange for nothing. */
  private def pqEncodeRaw(
      embeddings: DataFrame,
      precomputedCodebooks: Option[DataFrame]): DataFrame = {
    val cb = precomputedCodebooks.getOrElse(pqCodebooks(embeddings))
    val scored = embeddings.join(broadcast(cb))
    val aggs = (0 until PqM).map { m =>
      val d = l2sq(sub(col("embedding"), m), sub(col("seed_emb"), m))
      min(struct(d.as("d"), col("code").as("code"))).as(s"b$m")
    }
    val packed = (0 until PqM)
      .map(m => col(s"c$m") * lit(1L << (4 * m)))
      .reduce(_ + _)
    scored
      .groupBy("vec_id")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("vec_id") +:
        (0 until PqM).map(m => col(s"b$m.code").as(s"c$m")): _*)
      .withColumn("pq_code", packed)
  }

  /** ADC (asymmetric distance computation) top-k over PQ codes: each
    * query precomputes a PqM×PqK lookup table of subvector distances to
    * every codeword; a candidate's approximate distance is then PqM table
    * lookups + adds on its CODES — the float corpus is never touched
    * after encoding. The table build is |Q|·PqK broadcast work; the scan
    * is one pass over the (32-bit!) code table with a bounded top-k
    * window per query. This is the classic IVF-less PQ scan; composing it
    * with [[ivfAssign]] cells (IVFADC) is a join-key change, not a new
    * shape.
    *
    * Determinism for the oracle: the per-query table is assembled in
    * fixed idx order (`sort_array(collect_list)` — collect order washes
    * out), and the candidate distance sums its PqM lookups left-to-right,
    * so both engines add identical doubles in identical order and the
    * rank compare needs no rounding tolerance.
    */
  def pqTopK(embeddings: DataFrame, numQueries: Int = 20, k: Int = 5): DataFrame = {
    val cb = pqCodebooks(embeddings)
    val codes = pqEncodeRaw(embeddings, Some(cb))
    val q = embeddings
      .filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val entries = q.join(broadcast(cb))
      .select(col("query_id"),
        explode(array((0 until PqM).map(m => struct(
          (lit(m * PqK) + col("code")).as("idx"),
          l2sq(sub(col("q_emb"), m), sub(col("seed_emb"), m)).as("d"))): _*)).as("e"))
      .select(col("query_id"), col("e.idx"), col("e.d"))
    val tables = entries
      .groupBy("query_id")
      .agg(transform(
        sort_array(collect_list(struct(col("idx"), col("d")))),
        s => s.getField("d")).as("td"))
    val approx = (0 until PqM)
      .map(m => element_at(col("td"), (lit(m * PqK) + col(s"c$m") + 1).cast("int")))
      .reduce(_ + _)
    val w = Window.partitionBy("query_id").orderBy(col("approx"), col("cand_id"))
    codes
      .withColumnRenamed("vec_id", "cand_id")
      .join(broadcast(tables), col("query_id") =!= col("cand_id"))
      .withColumn("approx", approx)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("cand_id"),
        round(col("approx"), 6).as("adc_dist"))
      .orderBy("query_id", "rnk")
  }

  /** IVFADC: the IVF cell restriction composed with the PQ/ADC scan —
    * the index structure of Jégou et al. 2011 §IV (sans residual
    * encoding, which changes the table arithmetic but not the plan).
    * Candidates are pruned to the query's cell BEFORE the code scan, so
    * the per-query work drops from |corpus| table lookups to |cell|,
    * and the join becomes an equi-join on the cell id — the same
    * bounded-shuffle contract as [[ivfTopK]], now over 32-bit codes
    * instead of float vectors. At 100 TB this is the serving shape:
    * codes+cells are the (tiny) index, the float corpus is cold storage.
    */
  def ivfAdcTopK(
      embeddings: DataFrame,
      numQueries: Int = 20,
      k: Int = 5,
      centroidStride: Int = 100): DataFrame = {
    val assign = argminCell(embeddings, centroids(embeddings, centroidStride))
      .select("vec_id", "cell")
    val cb = pqCodebooks(embeddings)
    val codes = pqEncodeRaw(embeddings, Some(cb))
      .join(assign, Seq("vec_id"))
      .withColumnRenamed("vec_id", "cand_id")
    val entries = embeddings
      .filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .join(assign.withColumnRenamed("vec_id", "query_id"), Seq("query_id"))
      .join(broadcast(cb))
      .select(col("query_id"), col("cell"),
        explode(array((0 until PqM).map(m => struct(
          (lit(m * PqK) + col("code")).as("idx"),
          l2sq(sub(col("q_emb"), m), sub(col("seed_emb"), m)).as("d"))): _*)).as("e"))
      .select(col("query_id"), col("cell"), col("e.idx"), col("e.d"))
    val tables = entries
      .groupBy("query_id", "cell")
      .agg(transform(
        sort_array(collect_list(struct(col("idx"), col("d")))),
        s => s.getField("d")).as("td"))
    val approx = (0 until PqM)
      .map(m => element_at(col("td"), (lit(m * PqK) + col(s"c$m") + 1).cast("int")))
      .reduce(_ + _)
    val w = Window.partitionBy("query_id").orderBy(col("approx"), col("cand_id"))
    codes
      .join(broadcast(tables), Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("approx", approx)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("cand_id"),
        round(col("approx"), 6).as("adc_dist"))
      .orderBy("query_id", "rnk")
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of two ANN rankings —
    * the hybrid-retrieval primitive: each retriever contributes
    * 1/(rrfK + rank) for candidates it returned, and the fused top-k is
    * re-ranked on the sum. Here the two legs are [[ivfTopK]] (cosine,
    * cell-pruned floats) and [[pqTopK]] (L2, compressed codes) — two
    * genuinely different similarity signals over the same corpus. The
    * fusion itself is a full outer join on (query, candidate) between two
    * k-row-per-query frames — negligible data, executes broadcast.
    */
  def rrfFusion(
      embeddings: DataFrame,
      numQueries: Int = 20,
      k: Int = 5,
      rrfK: Int = 60): DataFrame = {
    val a = ivfTopK(embeddings, numQueries, k)
      .select(col("query_id"), col("cand_id"), col("rnk").as("rnk_a"))
    val b = pqTopK(embeddings, numQueries, k)
      .select(col("query_id"), col("cand_id"), col("rnk").as("rnk_b"))
    def leg(r: Column): Column =
      coalesce(lit(1.0) / (lit(rrfK.toDouble) + r.cast("double")), lit(0.0))
    val w = Window.partitionBy("query_id").orderBy(col("rrf").desc, col("cand_id"))
    a.join(b, Seq("query_id", "cand_id"), "full")
      .withColumn("rrf", leg(col("rnk_a")) + leg(col("rnk_b")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("cand_id"),
        round(col("rrf"), 6).as("rrf_score"))
      .orderBy("query_id", "rnk")
  }

  /** Hard-negative mining for contrastive training (the in-batch-negatives
    * upgrade in dense-retrieval training, e.g. Karpukhin et al. 2020, DPR,
    * arXiv:2004.04906 §3.2): for each query vector, the k nearest
    * candidates by cosine that carry a DIFFERENT class label — maximally
    * confusable negatives. Same execution shape as [[bruteForceTopK]]
    * (broadcast query side, corpus never shuffles, rank-window with
    * partial top-k pushdown); the label-mismatch predicate rides the join
    * condition so mined positives are never scored. At 100 TB the query
    * set is the small side by contract (a training batch / anchor sample),
    * so this stays a map-side-only scan over the candidate corpus.
    */
  def hardNegatives(embeddings: DataFrame, numQueries: Int = 20, k: Int = 5): DataFrame = {
    val q = embeddings
      .filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"),
        col("embedding").as("q_emb"))
    val c = embeddings.select(col("vec_id").as("cand_id"), col("label").as("c_label"),
      col("embedding").as("c_emb"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id"))
    q.hint("broadcast")
      .join(c, col("q_label") =!= col("c_label"))
      .withColumn("cos", cosine(col("q_emb"), col("c_emb")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("q_label").cast("int").as("query_label"),
        col("rnk"), col("cand_id"), col("c_label").cast("int").as("neg_label"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy("query_id", "rnk")
  }

  /** Deterministic random-negative sampling — the uniform-negatives half
    * of a DPR-style contrastive training set ([[hardNegatives]] is the
    * other half; Karpukhin et al. 2020 use both). Each query draws `slots`
    * pseudo-random corpus ids by a stable hash (md5 of "query:slot" mod
    * corpus size — reproducible across engines, runs, and partitionings,
    * unlike `rand()`), keeps label-mismatched non-self draws, dedupes
    * repeated draws to their EARLIEST slot (a deterministic tiebreak —
    * dropDuplicates would keep an arbitrary row), and emits the first `k`
    * by slot order. The drawn side is queries×slots rows and broadcasts;
    * the corpus never shuffles — the same plan contract as hard-negative
    * mining, pinned in PlanShapeSpec.
    */
  def randomNegatives(
      embeddings: DataFrame,
      numQueries: Int = 20,
      k: Int = 5,
      slots: Int = 12): DataFrame = {
    // corpus size as a literal: the modulus must be identical on both
    // engines, so it is read once here, not recomputed per row
    val n = embeddings.count()
    val drawn = embeddings
      .filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"))
      .select(col("query_id"), col("q_label"),
        explode(sequence(lit(0), lit(slots - 1))).as("slot"))
      .withColumn("neg_id",
        conv(substring(md5(concat_ws(":", col("query_id"), col("slot"))), 1, 8), 16, 10)
          .cast("long") % n)
    val c = embeddings.select(col("vec_id").as("neg_id"), col("label").as("n_label"))
    val w = Window.partitionBy("query_id").orderBy(col("slot"), col("neg_id"))
    drawn.hint("broadcast")
      .join(c, Seq("neg_id"))
      .filter(col("n_label") =!= col("q_label") && col("neg_id") =!= col("query_id"))
      .groupBy("query_id", "q_label", "neg_id", "n_label")
      .agg(min(col("slot")).as("slot"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("q_label").cast("int").as("query_label"),
        col("rnk"), col("neg_id"), col("n_label").cast("int").as("neg_label"))
      .orderBy("query_id", "rnk")
  }

  /** Semantic deduplication (the SemDeDup recipe, Abbas et al. 2023,
    * arXiv:2303.09540): collapse groups of embedding-space near-duplicates
    * to one representative each — the embedding-side twin of
    * [[graft.ops.Dedup.nearDupClusters]]. Pairs come from the bounded
    * IVF-cell cosine generator ([[cosineNearDupPairs]] — never all-pairs),
    * groups are connected components over them (the O(log n)
    * large-star/small-star variant), and the representative (`keep`) is
    * the min `vec_id` per group; every vector appears in the output,
    * singletons as their own group. Output: (vec_id, cluster_id, keep).
    *
    * CC does not consume the pairs directly: the verified pair graph is
    * cliquish (mutually-similar in-cell groups, O(|cell|²) edges), so one
    * [[graft.ops.Dedup.starReduceEdges]] pass collapses it toward linear
    * (member, local-min) star edges first — identical components (the
    * reduction is a connectivity-preserving large-star rewiring), far
    * fewer edges for the iterated rounds to shuffle. Unlike the docs path
    * ([[graft.ops.Dedup.lshClusterEdges]]), the reduction must run on the
    * VERIFIED pairs: IVF-cell membership alone does not imply similarity,
    * so there is no per-cell shortcut past the pairwise verification.
    */
  def semanticDedup(embeddings: DataFrame, threshold: Double = 0.35): DataFrame =
    Dedup.connectedComponentsStars(
      Dedup.starReduceEdges(
        cosinePairsRaw(embeddings, threshold).select("id_a", "id_b")),
      embeddings.select(col("vec_id")),
      roundsKey = "cc_stars_semdedup")
      .withColumnRenamed("doc_id", "vec_id")
}
