package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftSqlInternals}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration

/** Deduplication operators for LLM training-data pipelines over the
  * `documents` table: exact (hash-groupBy), MinHash+LSH near-dup, n-gram
  * Jaccard verification, and SimHash.
  *
  * Scale design (the part that matters at 100 TB):
  *   - NOTHING here is an all-pairs cross-join. Candidate generation is
  *     banded LSH: docs only meet if a band hash collides, so the join is
  *     an equi-join on (band, hash) buckets — shuffle is proportional to
  *     bucket sizes, not n².
  *   - LSH signatures are computed per-row by the native `MinhashMinsExpr`
  *     ([[graft.functions.TextExpressions.minhashMins]]) — a single
  *     codegen'd map stage, no explode of shingles through a shuffle.
  *   - All hashing is md5-hex (lexicographic min of fixed-width hex ==
  *     numeric min), chosen deliberately so the DuckDB oracle can replay
  *     the exact algorithm; swap in xxhash64 for raw throughput when oracle
  *     parity is not needed.
  */
object Dedup {

  /** Exact dedup via content-hash groupBy: one partial/final hash aggregate
    * keyed on md5(text) — the canonical "hash-groupBy" exact dedup. Keeps
    * the min doc_id per group deterministically.
    */
  def exactDedup(documents: DataFrame): DataFrame =
    documents
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("copies"))
      .orderBy("keep_id")

  /** MinHash-estimated Jaccard next to the exact value, per candidate
    * pair — the calibration table for the LSH theory the dedup suite
    * rests on (E[fraction of agreeing mins] = true Jaccard; Broder 1997).
    * At 100 TB this is the cheap similarity you'd actually store: the
    * estimate reads two 8-long signatures per pair, while the exact
    * column (kept here to measure the estimator against) ships full
    * shingle arrays. One tokenization feeds signatures AND exact sets via
    * the persisted shingle frame.
    */
  def minhashEstJaccard(documents: DataFrame): DataFrame = {
    val docShingles = QueryCache.cached(shingleFrame(documents))
    // r19 optimization (guide §5): `sigs` has THREE consumers (the bucket
    // generator and both signature legs of the pair join) and exchange
    // reuse does not bridge them — without the cache the explode +
    // NumHashes-min aggregate ran three times (same class of duplicated
    // subtree PlanAudit exposed in setSimilarityJoin).
    val sigs = QueryCache.cached(minhashFromShingles(docShingles))
    val pairs = bucketPairs(lshBucketsFromSigs(sigs, maxBucket = 1000))
    val sa = sigs.select(
      col("doc_id").as("doc_a") +: (0 until NumHashes).map(k => col(s"h$k").as(s"a$k")): _*)
    val sb = sigs.select(
      col("doc_id").as("doc_b") +: (0 until NumHashes).map(k => col(s"h$k").as(s"b$k")): _*)
    val agree = (0 until NumHashes)
      .map(k => when(col(s"a$k") === col(s"b$k"), 1).otherwise(0))
      .reduce(_ + _)
    pairs
      .join(sa, Seq("doc_a"))
      .join(sb, Seq("doc_b"))
      .join(docShingles.withColumnsRenamed(Map("doc_id" -> "doc_a", "sh" -> "sh_a")), Seq("doc_a"))
      .join(docShingles.withColumnsRenamed(Map("doc_id" -> "doc_b", "sh" -> "sh_b")), Seq("doc_b"))
      .select(
        col("doc_a"), col("doc_b"),
        round(agree.cast("double") / lit(NumHashes.toDouble), 6).as("est_jaccard"),
        round(graft.functions.TextExpressions.arrayJaccard(col("sh_a"), col("sh_b")), 6)
          .as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Connected components over the SimHash near-dup graph — the
    * Hamming-space twin of [[nearDupClusters]]: same O(log n)
    * large-star/small-star engine, different candidate generator
    * ([[simhashNearDupPairs]]' banded buckets + Hamming verify). Two
    * independent fingerprint families reaching the same clustering
    * machinery is the point: the CC core is generator-agnostic.
    */
  def simhashClusters(documents: DataFrame, maxHamming: Int = 3): DataFrame =
    connectedComponentsStars(
      // banded buckets make the verified pair graph cliquish — one
      // connectivity-preserving large-star pass collapses it toward
      // (member, local-min) edges before the iterated rounds, same as
      // semanticDedup's pair input (identical components, fewer edges)
      starReduceEdges(simhashNearDupPairs(documents, maxHamming).select("id_a", "id_b")),
      documents.select(col("doc_id")),
      // per-consumer rounds key: three operators share the stars core, and
      // a shared key would leave cc_rounds attributing only the LAST run
      roundsKey = "cc_stars_simhash")

  /** Incremental (delta-vs-base) deduplication — the daily-ingest shape:
    * classify each incoming document against the existing corpus without
    * re-clustering everything. `doc_id % mod == 0` plays the delta batch:
    *   - `dup_exact`: a base document has byte-identical text (left-semi
    *     join on the content hash — the base side ships one hash per doc);
    *   - `near_dup`: a capped LSH band bucket links it to a base document
    *     (the same bounded candidate generator as [[lshCandidatePairs]],
    *     filtered to delta↔base edges);
    *   - `new`: neither.
    * At 100 TB the base side's hashes/signatures would be a precomputed
    * index the delta joins against; here both derive from one table so the
    * oracle can replay the whole decision. Exactness note: `dup_exact`
    * wins over `near_dup` (an exact dup is usually ALSO an LSH candidate).
    */
  def incrementalDedup(documents: DataFrame, mod: Int = 10): DataFrame = {
    val isDelta = col("doc_id") % mod === 0
    val delta = documents.filter(isDelta)
    val base = documents.filter(!isDelta)
    val exactIds = delta
      .join(base.select(md5(col("text")).as("h")).distinct(),
        md5(col("text")) === col("h"), "left_semi")
      .select(col("doc_id")).withColumn("f_exact", lit(1))
    // unsorted pair generator (r20): the distinct-consumer below destroys
    // order, so lshCandidatePairs' contract orderBy (range exchange +
    // sampling pass) was pure overhead here
    val nearIds = bucketPairs(lshBuckets(documents, maxBucket = 1000))
      .select(explode(array(
        struct(col("doc_a").as("d"), col("doc_b").as("o")),
        struct(col("doc_b").as("d"), col("doc_a").as("o")))).as("e"))
      .filter(col("e.d") % mod === 0 && col("e.o") % mod =!= 0)
      .select(col("e.d").as("doc_id")).distinct()
      .withColumn("f_near", lit(1))
    delta.select("doc_id")
      .join(exactIds, Seq("doc_id"), "left")
      .join(nearIds, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("f_exact") === 1, "dup_exact")
          .when(col("f_near") === 1, "near_dup")
          .otherwise("new").as("status"))
      .orderBy("doc_id")
  }

  /** Character shingles at stride `step`: substring(text, i, width) for
    * i = 1, 1+step, … ≤ max(len-width+1, 1). Computed as an array column —
    * no explode — by a native codegen'd expression (the HOF
    * `transform(sequence(...), substring)` formulation computed the same
    * array but interpreted, one boxed lambda call per position).
    */
  private def shingles(text: Column, width: Int, step: Int): Column =
    graft.functions.TextExpressions.shingles(text, width, step)

  val NumHashes = 8
  val NumBands = 4
  val ShingleWidth = 8
  val ShingleStep = 4

  /** Universal-hash family h_k(x) = (A_k·x + B_k) mod P over the 32-bit
    * base hash of each shingle. One md5 per shingle (not per hash) — the
    * k-way fan-out is integer arithmetic, which whole-stage codegen eats.
    */
  val HashPrime = 2147483647L // 2^31 - 1
  def hashA(k: Int): Long = 1000003L + 2L * k // odd, < 2^20: A·x < 2^52, no overflow
  def hashB(k: Int): Long = 12345L + 7L * k

  /** MinHash signatures: `NumHashes` universal-hash mins per doc, banded
    * into `NumBands` band hashes (md5 of the concatenated band slice).
    *
    * Execution shape (the 100 TB-relevant part): scan → generate(shingles)
    * → md5 once per shingle → partial min-aggregate per doc map-side → one
    * shuffle carrying `NumHashes` longs per doc → final agg + banding.
    * Explode+hash-aggregate stays inside whole-stage codegen end to end;
    * the earlier array-HOF formulation (`array_min(transform(...))`) fell
    * back to interpreted eval and computed `NumHashes` md5s per shingle.
    */
  def minhashSignatures(documents: DataFrame): DataFrame =
    minhashFromShingles(shingleFrame(documents)).orderBy("doc_id")

  /** (doc_id, sh: array<string>) — the tokenization output every MinHash
    * consumer starts from. Factored out so a consumer that needs BOTH the
    * signature pipeline and the raw shingle sets ([[ngramJaccardNearDup]]'s
    * verify stage) can compute it once and share the frame.
    */
  private def shingleFrame(documents: DataFrame): DataFrame =
    Parallelism.floor(documents).select(
      col("doc_id"),
      shingles(col("text"), ShingleWidth, ShingleStep).as("sh"))

  /** [[minhashSignatures]] minus the tokenization and the output-contract
    * sort. TWO formulations exist on purpose, picked per consumer by
    * measured cost (A/B at sf0.1, median-of-iterations):
    *  - THIS one (explode → codegen'd hash aggregate of mins): best when
    *    the consumer needs the per-doc signature ROWS (`q_docs_minhash`
    *    1.55 s vs 2.23 s narrow; the estimate twin 1.80 s vs 2.67 s).
    *    The shuffle it pays is tiny — partial aggregation collapses to
    *    one row per doc per partition before the exchange.
    *  - [[bandedSignaturesFromShingles]] (one native per-row expression,
    *    ZERO shuffle): best when the consumer immediately re-buckets on
    *    (band, hash) (`q_docs_lsh_pairs` 1.91 s vs 2.40 s through here).
    */
  private def minhashFromShingles(shFrame: DataFrame): DataFrame = {
    val ex = shFrame.select(col("doc_id"), explode(col("sh")).as("s"))
    // 8 hex chars of md5 → 32-bit base hash (conv returns string; cast)
    val hv = conv(substring(md5(col("s")), 1, 8), 16, 10).cast("long")
    val mins = (0 until NumHashes).map(k =>
      min(pmod(lit(hashA(k)) * hv + lit(hashB(k)), lit(HashPrime))).as(s"h$k"))
    val sigs = ex.groupBy("doc_id").agg(mins.head, mins.tail: _*)
    val perBand = NumHashes / NumBands
    val bands = (0 until NumBands).map { b =>
      val slice = (0 until perBand).map(j => col(s"h${b * perBand + j}"))
      md5(concat_ws("|", slice: _*)).as(s"band$b")
    }
    sigs.select(col("doc_id") +: (0 until NumHashes).map(k => col(s"h$k")) ++: bands: _*)
  }

  /** All ordered in-bucket pairs (members(i), members(j)) with i < j from
    * a sorted member-list column — the pair-generation half of the
    * bounded-bucket pattern, shared by every LSH/IVF pair generator so
    * the slice arithmetic and cap semantics (which the oracles replicate)
    * live in exactly one place. `mk` builds the output struct for one
    * (a, b) member pair.
    */
  private[ops] def inBucketPairs(members: Column)(mk: (Column, Column) => Column): Column =
    flatten(transform(members, (x, i) =>
      transform(slice(members, i + lit(2), size(members)), y => mk(x, y))))

  /** Band buckets with their sorted member lists — the shared first half
    * of every MinHash-LSH consumer: one shuffle on (band_idx, band_hash),
    * buckets outside [2, maxBucket] dropped (singletons pair with nothing;
    * over-cap degenerate buckets would contribute O(bucket²) work and
    * belong to exact dedup instead).
    */
  private def lshBuckets(documents: DataFrame, maxBucket: Int): DataFrame =
    lshBucketsFromShingles(shingleFrame(documents), maxBucket)

  /** Bucket-former over the NARROW banded rows — bucket-only consumers
    * (pairs, clusters, PageRank, stars) take this path: the only shuffle
    * in their candidate stage is the (band, hash) bucket groupBy itself,
    * with no per-doc signature exchange before it (measured 20% faster
    * than routing through the aggregate form — see
    * [[minhashFromShingles]]'s formulation notes).
    */
  private def lshBucketsFromShingles(shFrame: DataFrame, maxBucket: Int): DataFrame =
    bandedSignaturesFromShingles(shFrame)
      .groupBy("band_idx", "band_hash")
      .agg(sort_array(collect_list("doc_id")).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))

  /** (doc_id, band_idx, band_hash) — the banded signature rows every LSH
    * consumer buckets on, computed fully NARROW: one native loop per row
    * hashes each shingle once and keeps all `NumHashes` affine minima
    * ([[graft.functions.TextExpressions.minhashMins]]), bands concatenate
    * in-row, and the band explode is a generator — no aggregation, no
    * sort, no shuffle anywhere. The empty-shingle filter replicates the
    * explode path's drop semantics, so both formulations produce
    * identical signatures.
    */
  private[graft] def bandedSignaturesFromShingles(shFrame: DataFrame): DataFrame = {
    // the native minima equal the aggregate path's: the 8-hex md5 prefix is
    // the leading digest bytes, and with non-negative operands pmod == %
    val sigs = shFrame
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"),
        graft.functions.TextExpressions.minhashMins(col("sh"),
          (0 until NumHashes).map(hashA), (0 until NumHashes).map(hashB),
          HashPrime).as("mins"))
      .select(col("doc_id") +: (0 until NumHashes).map(k =>
        element_at(col("mins"), k + 1).as(s"h$k")): _*)
    val perBand = NumHashes / NumBands
    val bandCols = (0 until NumBands).map { b =>
      val slice = (0 until perBand).map(j => col(s"h${b * perBand + j}"))
      struct(lit(b).as("band_idx"),
        md5(concat_ws("|", slice: _*)).as("band_hash"))
    }
    sigs
      .select(col("doc_id"), explode(array(bandCols: _*)).as("b"))
      .select(col("doc_id"), col("b.band_idx"), col("b.band_hash"))
  }

  private[graft] def bandedSignatures(documents: DataFrame): DataFrame =
    bandedSignaturesFromShingles(shingleFrame(documents))

  private def lshBucketsFromSigs(sigs: DataFrame, maxBucket: Int): DataFrame = {
    val bandCols = (0 until NumBands).map(b =>
      struct(lit(b).as("band_idx"), col(s"band$b").as("band_hash")))
    sigs
      .select(col("doc_id"), explode(array(bandCols: _*)).as("b"))
      .select(col("doc_id"), col("b.band_idx"), col("b.band_hash"))
      .groupBy("band_idx", "band_hash")
      .agg(sort_array(collect_list("doc_id")).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
  }

  /** Distinct in-bucket candidate pairs from a bucket frame — unordered;
    * the public generator adds the output-contract sort, join consumers
    * skip it. */
  private def bucketPairs(buckets: DataFrame): DataFrame = {
    val pairs = inBucketPairs(col("ids"))((x, y) =>
      struct(x.as("doc_a"), y.as("doc_b")))
    buckets
      .select(explode(pairs).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()
  }

  /** LSH candidate pairs: docs sharing any band hash. Implemented as a
    * band-bucket group-aggregate — signatures are computed ONCE, buckets
    * form with a single shuffle on (band_idx, band_hash), and pairs are
    * generated inside each bucket from the sorted id list (never an
    * all-pairs comparison, never a self-join that recomputes the signature
    * pipeline on both sides). `maxBucket` bounds worst-case skew by
    * DROPPING buckets larger than the cap entirely (degenerate boilerplate
    * buckets at web scale would otherwise contribute O(bucket²) pairs);
    * over-cap content should instead be routed to exact dedup, which
    * catches identical text directly. The DuckDB oracle replicates the
    * cap, so Spark and oracle agree on dropped buckets.
    */
  def lshCandidatePairs(documents: DataFrame, maxBucket: Int = 1000): DataFrame =
    bucketPairs(lshBuckets(documents, maxBucket))
      .orderBy("doc_a", "doc_b")

  /** Label-propagation communities over the near-dup candidate graph
    * (Raghavan et al. 2007) — the BOUNDED-ROUND community detector
    * complementing the exact connected components: each vertex adopts
    * the most frequent label among its neighbors (ties → smallest
    * label), semi-synchronously, for a FIXED number of rounds. Where CC
    * answers "which docs are transitively linked at all", r-round LP
    * answers "which docs sit within r hops of a community core" — on a
    * graph polluted by bucket-collision bridges the fixed horizon stops
    * two genuine families from merging across one spurious edge chain,
    * which is exactly the failure mode of closure-based dedup.
    *
    * Determinism: the (count DESC, label ASC) vote order is a total
    * order, updates are synchronous from the previous round's frame,
    * and the round count is fixed — so the labeling is replayable row
    * for row, and the oracle unrolls the same three rounds in SQL. Per
    * round: one edge-sized join + one (vertex, label)-cardinality
    * aggregate + one vertex-sized window — all hash-partitioned, no
    * fixpoint loop, cost = rounds × edge scan.
    */
  def labelPropagation(documents: DataFrame, rounds: Int = 3): DataFrame =
    // the unsorted pair generator: edge order never reaches a vote, so
    // lshCandidatePairs' contract sort would be a wasted range exchange
    labelPropagationOnPairs(
      bucketPairs(lshBuckets(documents, maxBucket = 1000)),
      documents.select(col("doc_id")), rounds)

  /** The propagation core over an explicit undirected pair list —
    * unit-testable on planted graphs independent of the LSH front end.
    */
  private[graft] def labelPropagationOnPairs(
      pairs: DataFrame, verts: DataFrame, rounds: Int): DataFrame = {
    // persist PARTITIONED on the join key: every round's edge↔label join
    // shuffles the label side only — the cached edge partitioning is
    // visible to the planner, so the (edge-sized, 2×|pairs|) frame is
    // exchanged once here instead of once per round. Bidirected by one
    // explode: a union of two projections would run the unmaterialized
    // candidate pipeline twice inside this frame's materialization.
    val edges = pairs
      .select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(col("dst"))
      .persist()
    try {
      // Full-vertex iteration on purpose: the relabel join already rides
      // aligned hash partitioning at zero exchanges, so an active-set label
      // frame (as in contraction CC) only adds a distinct and a final join.
      var labels = verts.select(col("doc_id").as("v"), col("doc_id").as("lab"))
      // Route the vote through ONE hash(src) exchange: HashPartitioning(src)
      // satisfies the (src, lab) count's ClusteredDistribution (subset
      // rule), the (src) winner aggregate and the relabel join's best side.
      // spark.graft.lpVoteRepartition=false keeps the two-exchange groupBy
      // chain until its skew A/B is recorded (ROADMAP item 4).
      val singleEx = !pairs.sparkSession.conf
        .getOption("spark.graft.lpVoteRepartition").contains("false")
      for (_ <- 1 to rounds) {
        val joined = edges.join(labels, edges("dst") === labels("v"))
        val counts = (if (singleEx) joined.repartition(col("src")) else joined)
          .groupBy(col("src"), col("lab"))
          .agg(count(lit(1)).as("c"))
        // the (count DESC, label ASC) vote winner as ONE hash aggregate:
        // max of an orderable struct, where bitwise NOT turns "smallest
        // label wins" into a max without negation overflow
        val best = counts
          .groupBy(col("src"))
          .agg(max(struct(col("c"), bitwise_not(col("lab")).as("nl"),
            col("lab"))).as("top"))
          .select(col("src"), col("top.lab").as("blab"))
        labels = labels
          .join(best, labels("v") === best("src"), "left")
          .select(col("v"), coalesce(col("blab"), col("lab")).as("lab"))
      }
      // materialize before releasing the edge frame the lineage reads;
      // the final sort runs on the checkpointed result
      val done = labels.localCheckpoint(eager = true)
      done
        .select(col("v").as("doc_id"), col("lab").as("community"))
        .orderBy("doc_id")
    } finally edges.unpersist()
  }

  /** PageRank over the near-dup candidate graph (LSH pairs, bidirected) —
    * graph centrality as a dedup-priority signal: a document near the
    * center of a big near-dup family outranks a peripheral one, so
    * "keep the most central copy" becomes a ranking rule the cluster
    * consumers can apply. Fixed iteration count and FIXED-POINT INTEGER
    * arithmetic throughout (ranks live in 1e-9 units as BIGINT; every
    * per-edge contribution is an integer division, every damping step an
    * integer multiply-divide), so the result is bit-exact across engines —
    * the same order-independence discipline as the k-means grid
    * quantization, with no float sum anywhere. Dangling-vertex mass is
    * dropped (the standard simplification); isolated docs settle at the
    * damped base rate.
    *
    * Execution shape per iteration: ranks join the persisted
    * (src, dst, outdeg) edge frame on src — both sides doc-cardinality —
    * then one partial-aggregating groupBy(dst). Three iterations, constant
    * per-round cost; the N scalar rides along as a broadcast 1-row frame
    * (no driver collect).
    */
  def nearDupPageRank(
      documents: DataFrame,
      iters: Int = 3,
      maxBucket: Int = 1000): DataFrame =
    pageRankFromPairs(bucketPairs(lshBuckets(documents, maxBucket)), documents, iters)
      .orderBy(col("rank_fp").desc, col("doc_id"))

  /** [[nearDupPageRank]] minus candidate generation and the output-contract
    * sort: takes a prebuilt (doc_a, doc_b) pair frame so a composed
    * consumer ([[centralKeep]]) that already holds the LSH bucket frame
    * runs the signature pipeline exactly once, and join consumers don't
    * pay a global range exchange they immediately destroy.
    */
  private[graft] def pageRankFromPairs(
      pairs: DataFrame,
      documents: DataFrame,
      iters: Int = 3): DataFrame = {
    // persist the PAIR frame: the bidirectional edge view below is read
    // by both the degree aggregate and the join probe, which would
    // otherwise each run the candidate-generation preamble
    val pairsC = QueryCache.cached(pairs)
    val edgesRaw = pairsC
      .select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    val deg = edgesRaw.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val edges = QueryCache.cached(edgesRaw.join(deg, Seq("src")))
    val nDf = documents.agg(count(lit(1)).as("n"))
    val verts = documents.select(col("doc_id")).crossJoin(broadcast(nDf))
    var ranks = verts.select(col("doc_id"), expr("1000000000 div n").as("r"))
    for (_ <- 0 until iters) {
      val contrib = edges.join(ranks, edges("src") === ranks("doc_id"))
        .select(col("dst"), expr("r div outdeg").as("c"))
        .groupBy("dst").agg(sum("c").as("m"))
      ranks = verts.join(contrib, verts("doc_id") === contrib("dst"), "left")
        .select(col("doc_id"),
          (expr("150000000 div n") + expr("(85 * coalesce(m, 0)) div 100")).as("r"))
    }
    ranks
      .join(deg.withColumnRenamed("src", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("outdeg"), lit(0L)).as("degree"),
        col("r").as("rank_fp"))
  }

  /** Per-document triangle counts over the near-dup candidate graph —
    * the cohesion signal that separates a tight duplicate family (every
    * copy pairwise-similar ⇒ triangle-dense) from a chain of borderline
    * matches (connected but triangle-free), which is exactly the
    * distinction a "split or merge this cluster?" heuristic needs.
    * Triangles are enumerated once each via the a<b<c ordering of the
    * deduped pair set, as two self-equi-joins on endpoints — bounded by
    * the bucket caps (Σdeg² of a capped graph). At true web scale the
    * refinement is degree-ordered orientation (join low-degree sources
    * only); on a bucket-capped graph the plain ordered join is already
    * bounded, so the simpler shape wins. All-integer output.
    */
  def nearDupTriangles(documents: DataFrame, maxBucket: Int = 1000): DataFrame = {
    val pairs = QueryCache.cached(bucketPairs(lshBuckets(documents, maxBucket)))
    val ab = pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
    val bc = pairs.select(col("doc_a").as("b"), col("doc_b").as("c"))
    val ac = pairs.select(col("doc_a").as("a"), col("doc_b").as("c"))
    val tri = ab.join(bc, Seq("b")).join(ac, Seq("a", "c"))
    tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_triangles"))
      .orderBy("doc_id")
  }

  /** Local clustering coefficient over the near-dup graph:
    * `2·triangles / (deg·(deg−1))` per document, in exact integer basis
    * points — 10000 means "all my neighbours are also similar to each
    * other" (a solid duplicate family), near 0 means a hub stitching
    * unrelated docs (the bucket-collision smell worth auditing). Composes
    * [[nearDupTriangles]] with the bidirected degree count; the ratio is
    * `(tri·20000) div (deg·(deg−1))` — all BIGINT, no float division.
    */
  def clusteringCoefficient(documents: DataFrame, maxBucket: Int = 1000): DataFrame = {
    val pairs = bucketPairs(lshBuckets(documents, maxBucket))
    val deg = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("degree"))
    nearDupTriangles(documents, maxBucket)
      .join(deg, Seq("doc_id"))
      .filter(col("degree") >= 2)
      .select(col("doc_id"), col("degree"), col("n_triangles"),
        expr("(n_triangles * 20000) div (degree * (degree - 1))").as("lcc_bps"))
      .orderBy("doc_id")
  }

  /** Centrality-based keep rule: for every near-dup cluster, keep the
    * member with the highest [[nearDupPageRank]] rank (ties to the lowest
    * doc_id) — "keep the most central copy", the graph-native alternative
    * to quality-based [[graft.ops.TextAnalysis.dedupKeepBest]]. Composes
    * the two verified operators (stars clusters and PageRank); the
    * per-cluster argmax and size share one aggregate. Both legs derive
    * from ONE persisted LSH bucket frame — the signature pipeline
    * (tokenize → shingle → MinHash → band-bucket) runs exactly once
    * ([[graft.PlanShapeSpec]]'s single-subtree pin).
    */
  def centralKeep(documents: DataFrame): DataFrame = {
    // ONE signature pipeline for both legs: tokenize → shingle → MinHash →
    // band-bucket exactly once into a persisted bucket frame, from which
    // both the clusters leg (star edges → stars CC) and the PageRank leg
    // (in-bucket pairs → fixed-point ranks) derive.
    val buckets = QueryCache.cached(lshBuckets(documents, maxBucket = 1000))
    val verts = documents.select(col("doc_id"))
    // The legs are independent chains of small jobs, so the PageRank leg
    // materializes on a pool thread while the CC fixpoint runs here and the
    // scheduler back-fills idle cores with its tasks. The bucket frame is
    // materialized first so the two threads cannot both compute it.
    buckets.count()
    val prFut = GraftSqlInternals.withCallerProperties(documents.sparkSession)(
      freshCheckpoint(pageRankFromPairs(bucketPairs(buckets), documents)
        .select(col("doc_id"), col("rank_fp"))))
    // Stars CC, under its own rounds key so "cc_stars" always belongs to
    // the direct LSH consumer. If the CC leg throws, the PageRank future is
    // drained before propagating: an abandoned leg keeps submitting jobs
    // whose localCheckpoint blocks race a caller's resetSessionState.
    val labels =
      try connectedComponentsStars(
          starEdges(buckets), verts, roundsKey = "cc_stars_central_keep")
        .select(col("doc_id"), col("cluster_id"))
      catch {
        case e: Throwable =>
          drain(prFut)
          throw e
      }
    val pr = Await.result(prFut, Duration.Inf)
    // top-1-per-cluster as ONE hash aggregate: (rank_fp DESC, doc_id ASC)
    // is max(struct(rank_fp, ~doc_id, doc_id)) — bitwise NOT is a strictly
    // decreasing bijection on longs with no overflow at Long.MinValue, so
    // "smallest doc_id wins" becomes a max
    labels.join(pr, Seq("doc_id"))
      .groupBy("cluster_id")
      .agg(
        count(lit(1)).as("n_members"),
        max(struct(col("rank_fp"),
          bitwise_not(col("doc_id")).as("neg_id"),
          col("doc_id"))).as("top"))
      .select(col("cluster_id"), col("n_members"),
        col("top.doc_id").as("kept_id"), col("top.rank_fp").as("rank_fp"))
      .orderBy("cluster_id")
  }

  /** The near-dup EDGE SET in star form: each bucket contributes
    * (member, bucket-min) instead of all member pairs. Connectivity is
    * identical to the in-bucket all-pairs graph — every member reaches
    * every other through the bucket min — but the edge count is Σ|bucket|
    * rather than Σ|bucket|²/2. At a web-corpus boilerplate bucket near the
    * cap that is 1000 edges versus ~500k; clustering never needs the
    * explicit pairs, only the connectivity, so this is what
    * [[nearDupClusters]] feeds to connected components. (The pairwise
    * generator [[lshCandidatePairs]] remains the verify-stage input, where
    * each candidate pair IS the unit of work.)
    */
  private[graft] def lshClusterEdges(
      documents: DataFrame,
      maxBucket: Int = 1000): DataFrame =
    starEdges(lshBuckets(documents, maxBucket))

  /** Star-edge extraction from a prebuilt bucket frame — factored out so
    * [[centralKeep]] can derive cluster edges from its shared persisted
    * buckets without re-running the signature pipeline. */
  private def starEdges(buckets: DataFrame): DataFrame =
    buckets
      .select(
        explode(col("ids")).as("doc_a"),
        element_at(col("ids"), 1).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
      .distinct()

  /** Exact n-gram Jaccard similarity for the LSH candidate pairs (the
    * verify stage of near-dup detection): J(A,B) = |A∩B| / |A∪B| over
    * distinct shingle sets. Work is proportional to candidate pairs ×
    * shingles — the LSH prefilter keeps it off n².
    */
  def ngramJaccardNearDup(documents: DataFrame, minJaccard: Double = 0.2): DataFrame = {
    // ONE tokenization for both legs: the signature pipeline (candidate
    // generation) and the verify joins read the same persisted shingle
    // frame — without it the corpus is shingled twice and the verify side
    // re-ships a second copy of every array through the build of each
    // join.
    val docShingles = QueryCache.cached(shingleFrame(documents))
    val pairs = bucketPairs(
      lshBucketsFromShingles(docShingles, maxBucket = 1000))
    // distinct semantics live inside arrayJaccard (hash-set based, no
    // intersection/union arrays materialized), so the shingle arrays ship
    // as-is — no array_distinct pass per doc
    val withSets = pairs
      .join(docShingles.withColumnsRenamed(Map("doc_id" -> "doc_a", "sh" -> "sh_a")), Seq("doc_a"))
      .join(docShingles.withColumnsRenamed(Map("doc_id" -> "doc_b", "sh" -> "sh_b")), Seq("doc_b"))
    withSets
      .select(
        col("doc_a"),
        col("doc_b"),
        round(
          graft.functions.TextExpressions.arrayJaccard(col("sh_a"), col("sh_b")),
          6).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
      .orderBy("doc_a", "doc_b")
  }

  /** Asymmetric CONTAINMENT near-dup: |A∩B| / min(|A|, |B|) over the
    * distinct shingle sets — catches what symmetric Jaccard misses, the
    * SUB-DOCUMENT duplicate (a short doc wholly quoted inside a long one
    * scores containment ≈ 1 while its Jaccard ≈ |A|/|B| can be tiny) —
    * the boilerplate-wrapping / quote-inclusion case a pretraining dedup
    * pass must see. Candidates come from the same banded-LSH buckets as
    * [[ngramJaccardNearDup]] (capped, never all-pairs); the intersection
    * size is computed as |A| + |B| − |A∪B| on the distinct sets, so the
    * DuckDB oracle replays it with the identical list arithmetic.
    *
    * Recall caveat, stated honestly: minhash-LSH collision probability
    * tracks JACCARD, so an extremely asymmetric pair (tiny doc inside a
    * huge one — containment 1, Jaccard ≈ |A|/|B| → 0) may never share a
    * bucket. This operator scores the asymmetry of pairs the Jaccard
    * candidates surface; full asymmetric recall needs containment-aware
    * candidates ([[substringDedup]]'s exact spans cover the verbatim-
    * inclusion case at any size ratio).
    */
  def containmentNearDup(
      documents: DataFrame, minContainment: Double = 0.5): DataFrame = {
    val docShingles = QueryCache.cached(shingleFrame(documents))
    val pairs = bucketPairs(
      lshBucketsFromShingles(docShingles, maxBucket = 1000))
    // r19 optimization (guide §2.3 — shuffle fewer bytes): distinct each
    // document's shingle array ONCE before the pair joins instead of
    // array_distinct per PAIR — a document in k pairs paid the dedup k
    // times and shipped its duplicate elements through both join builds.
    // Set arithmetic downstream is unchanged: array_union is
    // set-semantics, so union(distinct a, distinct b) has the same SIZE
    // as union(a, b), and |∩| = |a|+|b|−|∪| reads the pre-distincted
    // sizes. Identical output (the oracle replays the raw form).
    val distinctSets = docShingles
      .select(col("doc_id"), array_distinct(col("sh")).as("sh"))
    val withSets = pairs
      .join(distinctSets.withColumnsRenamed(Map("doc_id" -> "doc_a", "sh" -> "sh_a")), Seq("doc_a"))
      .join(distinctSets.withColumnsRenamed(Map("doc_id" -> "doc_b", "sh" -> "sh_b")), Seq("doc_b"))
    val nA = size(col("sh_a")).cast("long")
    val nB = size(col("sh_b")).cast("long")
    val nU = size(array_union(col("sh_a"), col("sh_b"))).cast("long")
    withSets
      .select(col("doc_a"), col("doc_b"),
        nA.as("n_a"), nB.as("n_b"), (nA + nB - nU).as("n_inter"))
      .withColumn("containment",
        round(col("n_inter").cast("double")
          / least(col("n_a"), col("n_b")).cast("double"), 6))
      .filter(col("containment") >= minContainment)
      .orderBy("doc_a", "doc_b")
  }

  /** Word bigrams per document via posexplode — the generator (UDTF-
    * family) leg of the text suite. Position is kept so downstream
    * consumers can reconstruct adjacency; one narrow generate stage, then
    * a global bigram count.
    */
  def wordBigrams(documents: DataFrame, minCount: Long = 3L): DataFrame = {
    val words = graft.functions.TextExpressions.alnumTokens(col("text"))
    val bigrams = zip_with(
      slice(words, lit(1), greatest(size(words) - 1, lit(0))),
      slice(words, lit(2), greatest(size(words) - 1, lit(0))),
      (a, b) => concat_ws(" ", a, b))
    documents
      .select(col("doc_id"), posexplode(bigrams).as(Seq("pos", "bigram")))
      .groupBy("bigram")
      .agg(count(lit(1)).as("cnt"), min("doc_id").as("first_doc"))
      .filter(col("cnt") >= minCount)
      .orderBy("bigram")
  }

  // 60-bit fingerprint (15 hex chars of md5: stays positive in a signed
  // 64-bit integer on every engine), banded as 4 × 15 bits. Wide bands
  // are what make the candidate join selective: 2^15 values per band
  // versus 16 for nibble bands — the difference between tiny buckets and
  // n²-in-disguise at corpus scale.
  val SimhashBits = 60
  val SimhashBandBits = 15
  val SimhashBands = 4
  /** md5-hex prefix length yielding exactly SimhashBits of hash. */
  val SimhashHexChars: Int = SimhashBits / 4
  require(SimhashBits == SimhashBands * SimhashBandBits,
    "bands must tile the fingerprint exactly (pigeonhole recall)")
  require(SimhashBits % 4 == 0 && SimhashBits < 63,
    "fingerprint must be whole hex chars and sign-safe in a 64-bit long")

  /** Near-dup cluster collapse: connected components over the LSH
    * candidate graph (in star-edge form, [[lshClusterEdges]] — same
    * components as the pairwise graph with linearly many edges), labels =
    * min doc_id per component — the step that turns banded candidates
    * into "keep one doc per cluster".
    * Every document appears in the output; docs with no candidate partner
    * are singleton clusters of themselves, and `keep` marks the cluster
    * representative (the min id).
    *
    * Algorithm: min-label propagation to fixpoint — per iteration each
    * vertex takes the min of its own label and its neighbors' labels (one
    * shuffle per iteration: join edges⋈labels + min-aggregate). The
    * driver-side loop condition is a scalar `count()` of changed labels —
    * the standard shape for iterative algorithms; `localCheckpoint` +
    * leaf-stats reset truncates the growing lineage each iteration. LSH
    * candidate clusters are short-diameter by construction (members share
    * band buckets), so the loop converges in a handful of rounds; a graph
    * that is still moving after [[EscalateAfter]] rounds auto-escalates to
    * the provably O(log n) large-star/small-star variant on the contracted
    * quotient. Pass `useStars = true` to run stars from the start
    * ([[connectedComponentsStars]]) — identical labels, different edge
    * rewiring; the property spec proves both against union-find and each
    * other.
    */
  def nearDupClusters(
      documents: DataFrame,
      maxIter: Int = 50,
      useStars: Boolean = false): DataFrame = {
    // star edges, not candidate pairs: identical connectivity (hence
    // identical clusters — the oracle replays the pairwise graph and the
    // hashes must match), linear instead of quadratic edges per bucket
    val edges = lshClusterEdges(documents)
    val verts = documents.select(col("doc_id"))
    if (useStars) connectedComponentsStars(edges, verts, maxIter)
    else connectedComponents(edges, verts, maxIter)
    // (the LSH consumer keeps the historical "cc_stars" key)
  }

  /** Iterations taken by the most recent CC run in this JVM, keyed by
    * caller: `"cc_contraction"` ([[connectedComponents]]), `"cc_stars"`
    * ([[nearDupClusters]] with `useStars`), `"cc_stars_simhash"`
    * ([[simhashClusters]]), `"cc_stars_central_keep"` ([[centralKeep]]),
    * and `"cc_contraction_escalated"` for a stars phase entered FROM the
    * contraction loop. Each caller owns its key, so one run cannot
    * overwrite another's round count. Surfaced in the bench JSON line and
    * the perfbench trace, so a regression in convergence rounds is visible.
    */
  val lastRounds = new java.util.concurrent.ConcurrentHashMap[String, Int]()

  /** localCheckpoint + leaf-stats reset — the iterative-fixpoint
    * checkpoint. `localCheckpoint` alone truncates lineage but the
    * `LogicalRDD` leaf inherits the origin plan's *statistics*; across
    * rounds each join estimate is a product of the last round's, so the
    * `sizeInBytes` BigInt doubles in digit count per round and planning
    * itself livelocks on long-diameter graphs (~30+ rounds: minutes of
    * driver CPU inside BigInteger.multiply; observed hanging a 512-chain
    * for >20 min). Rebuilding the frame over the checkpointed
    * `RDD[InternalRow]` resets the leaf to `defaultSizeInBytes` — constant
    * per round, zero data movement ([[org.apache.spark.sql.GraftSqlInternals]]).
    */
  private def freshCheckpoint(df: DataFrame, eager: Boolean = true): DataFrame =
    GraftSqlInternals.localCheckpointStatsFree(df, eager)

  /** Waits for an overlapped leg whose result is dropped, ignoring its
    * outcome. */
  private def drain(leg: Future[_]): Unit = { Await.ready(leg, Duration.Inf); () }

  /** Contraction rounds granted before [[connectedComponents]] escalates
    * to the stars variant. Short-diameter LSH graphs converge well under
    * this; a graph still moving after this many rounds is in the
    * long-path regime, where switching to O(log n) stars is cheaper.
    */
  val EscalateAfter = 12

  /** Per-partition union-find pre-contraction of an edge list `(u, v)`:
    * for every vertex in a partition's local forest other than the root
    * it emits `(v, root)`, where `root` is the smallest id of v's local
    * tree, and a root that only has self-loops emits `(root, root)`. So
    * the output has the same connectivity and the same endpoint set as
    * the input, with at most one edge per distinct vertex per partition.
    * Narrow (no exchange) and lazy. Rows with a null endpoint pass through
    * unchanged; an edge list whose ids are not longs passes through whole.
    */
  private def localSpanningForest(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.LongType
    if (edges.schema.fields.exists(_.dataType != LongType)) edges
    else edges.mapPartitions { rows =>
      val passThrough = scala.collection.mutable.ArrayBuffer.empty[Row]
      var ends = new Array[Long](1024) // (u, v) pairs, flattened
      var n = 0
      rows.foreach { r =>
        if (r.isNullAt(0) || r.isNullAt(1)) passThrough += r
        else {
          if (2 * n + 2 > ends.length) ends = java.util.Arrays.copyOf(ends, 2 * ends.length)
          ends(2 * n) = r.getLong(0)
          ends(2 * n + 1) = r.getLong(1)
          n += 1
        }
      }
      // dense index per distinct id: open addressing, load ≤ 1/2
      var cap = 16
      while (cap < 4 * n) cap <<= 1
      val slot = Array.fill(cap)(-1)
      val ids = new Array[Long](2 * n)
      val parent = new Array[Int](2 * n)
      var nIds = 0
      def indexOf(x: Long): Int = {
        val mixed = x * 0x9E3779B97F4A7C15L
        var h = (mixed ^ (mixed >>> 32)).toInt & (cap - 1)
        while (slot(h) >= 0 && ids(slot(h)) != x) h = (h + 1) & (cap - 1)
        if (slot(h) < 0) {
          slot(h) = nIds; ids(nIds) = x; parent(nIds) = nIds; nIds += 1
        }
        slot(h)
      }
      def find(x0: Int): Int = {
        var x = x0
        while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
        x
      }
      var e = 0
      while (e < n) {
        val ra = find(indexOf(ends(2 * e)))
        val rb = find(indexOf(ends(2 * e + 1)))
        // union by min id: every root is the smallest id of its tree
        if (ra != rb) { if (ids(ra) < ids(rb)) parent(rb) = ra else parent(ra) = rb }
        e += 1
      }
      val root = Array.tabulate(nIds)(find)
      val hasChild = new Array[Boolean](nIds)
      root.indices.foreach(i => if (root(i) != i) hasChild(root(i)) = true)
      passThrough.iterator ++ Iterator.range(0, nIds).collect {
        case i if root(i) != i => Row(ids(i), ids(root(i)))
        case i if !hasChild(i) => Row(ids(i), ids(i))
      }
    }(org.apache.spark.sql.Encoders.row(edges.schema))
  }

  /** Connected components by label contraction, labelled by component
    * min. Exposed separately from [[nearDupClusters]] so the fixpoint is
    * testable on synthetic graphs (transitive chains, singletons).
    *
    * Step 0 is the local spanning forest ([[localSpanningForest]]): each
    * input partition runs union-find over its own edges and ships one edge
    * (v, local root) per non-root vertex instead of its raw edges
    * (Kiveris et al.'s local contraction). Connectivity and the endpoint
    * set are unchanged, so every step below means what it meant on the raw
    * edges; a component whose edges share a partition simply arrives
    * collapsed into a star. The step is narrow and feeds the lazy input
    * checkpoint, so round 1's first job computes it: no job or exchange
    * of its own.
    *
    * Each round then works on the QUOTIENT graph of the current labeling:
    *   1. supervertex min: m(L) = min(L, quotient neighbours of L),
    *      composed once with itself (pointer jumping, m := m∘m), so a
    *      label moves up to two quotient hops per round;
    *   2. relabel every vertex through m: label(v) := m(label(v));
    *   3. contract: edges' = distinct (m(u), m(v)), self-loops dropped.
    * m maps every label to a label inside its own component and never
    * above it, so the fixpoint (no label changed) is exactly "every label
    * is its component min". The loop stops when step 3 leaves no edge:
    * the labels of each component are then one label, which can only be
    * its min (the min vertex never moves). That edge count is the loop's
    * one signal: a round changes some label exactly when its input
    * quotient has an edge with two distinct endpoints, and the previous
    * round's contraction checkpoint job has counted those edges at no
    * extra job. Only the active set (edge endpoints) is iterated; every
    * other vertex is a singleton, restored by one final join.
    *
    * Rounds: a single-partition input converges in 1 (the forest leaves
    * one star per component, which one round relabels and contracts
    * away); the benchmark's 4k-doc LSH graph on 4 partitions also takes 1
    * (4 on raw edges with the confirming round). A long path spread over
    * many partitions is the worst case: contraction shortens a quotient
    * path by about two supervertices per round, so after
    * [[EscalateAfter]] non-converged rounds the loop
    * finishes on [[connectedComponentsStars]] (O(log n) on any graph) over
    * the contracted quotient and composes the labels, which is sound
    * because the quotient's component mins are the original component
    * mins. `maxIter` bounds both phases together; a truncated fixpoint
    * throws instead of mislabelling.
    *
    * Each round runs two jobs on the caller's thread: the compose (which
    * also computes m) and the counted contraction. The relabelled labels
    * are a lazy checkpoint that the final vertex join (or the escalation)
    * materializes. Design history and measurements: OPTIMIZATION_r19.md
    * §2, OPTIMIZATION_r20.md §4, §10 and "connectedComponents design
    * notes".
    *
    * Precondition: every endpoint in `pairs` is a row of `vertices`. The
    * output has one row per vertex; an endpoint missing from `vertices`
    * gets no row of its own, yet still links (and, as a component min,
    * labels) the components it touches.
    */
  private[graft] def connectedComponents(
      pairs: DataFrame,
      vertices: DataFrame,
      maxIter: Int = 50): DataFrame = {
    val pa = pairs.columns(0)
    val pb = pairs.columns(1)
    // every round's frames are checkpointed (freshCheckpoint): lineage and
    // planning cost stay constant per round. The input edges and labels are
    // lazy: round 1's compose job materializes the edges, the final vertex
    // join the labels.
    var edges = freshCheckpoint(
      localSpanningForest(pairs.select(col(pa).as("u"), col(pb).as("v"))),
      eager = false)
    // labels over the active set (distinct edge endpoints); an inactive
    // vertex never becomes a supervertex-min key, so its label is its id
    var labels = freshCheckpoint(
      edges.select(explode(array(col("u"), col("v"))).as("id")).distinct()
        .withColumn("label", col("id")),
      eager = false)
    // the contraction's edge count is the only loop signal: round k ≥ 2
    // changes some label exactly when its input quotient (round k−1's
    // contraction, self-loop-free) has an edge, and round 1 always runs
    var quotientEdges = -1L
    var it = 0
    while (quotientEdges != 0 && it < math.min(EscalateAfter, maxIter)) {
      // m(L) = min(L, quotient neighbours of L), both edge directions. Lazy:
      // its one consumer, the compose, materializes it in the same job.
      val nbrMin0 = freshCheckpoint(edges.select(col("u").as("l"), col("v").as("n"))
        .union(edges.select(col("v").as("l"), col("u").as("n")))
        .groupBy("l")
        .agg(min("n").as("nmin"))
        .select(col("l"), least(col("l"), col("nmin")).as("m")),
        eager = false)
      // pointer jumping, m := m∘m (left join: an image with no quotient
      // edges of its own maps to itself). Eager: it feeds both the
      // relabel and the contraction.
      val nbrMin = freshCheckpoint(
        nbrMin0
          .join(
            nbrMin0.select(col("l").as("jl"), col("m").as("jm")),
            col("m") === col("jl"), "left")
          .select(col("l"), coalesce(col("jm"), col("m")).as("m")))
      // relabel every vertex through m (left join: labels whose
      // supervertex has no quotient neighbours keep their label). Lazy:
      // the final vertex join or the escalation materializes it.
      labels = freshCheckpoint(labels
        .join(nbrMin.select(col("l").as("label"), col("m")), Seq("label"), "left")
        .select(col("id"), coalesce(col("m"), col("label")).as("label")),
        eager = false)
      // contract the edge set through m: self-loops vanish, merged
      // components stop costing anything; its checkpoint job counts it
      val (next, n) = GraftSqlInternals.localCheckpointCounted(edges
        .join(nbrMin.select(col("l").as("u"), col("m").as("mu")), Seq("u"), "left")
        .join(nbrMin.select(col("l").as("v"), col("m").as("mv")), Seq("v"), "left")
        .select(
          coalesce(col("mu"), col("u")).as("u"),
          coalesce(col("mv"), col("v")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct())
      edges = next
      quotientEdges = n
      it += 1
    }
    lastRounds.put("cc_contraction", it)
    if (quotientEdges != 0) {
      // escalate: stars over the contracted quotient, with the remaining
      // budget and its own rounds key; label(v) := stars(label(v))
      val quotient = connectedComponentsStars(
        edges, labels.select(col("label")).distinct(), maxIter - it,
        roundsKey = "cc_contraction_escalated")
      labels = labels
        .join(
          quotient.select(col("doc_id").as("label"), col("cluster_id")),
          Seq("label"), "left")
        .select(col("id"), coalesce(col("cluster_id"), col("label")).as("label"))
    }
    // inactive vertices are their own singleton clusters
    vertices.select(col(vertices.columns.head).as("id"))
      .join(labels, Seq("id"), "left")
      .select(
        col("id").as("doc_id"),
        coalesce(col("label"), col("id")).as("cluster_id"),
        (coalesce(col("label"), col("id")) === col("id")).as("keep"))
      .orderBy("doc_id")
  }

  /** Canonical downhill edge orientation (hi > lo), self-loops dropped —
    * the normal form every stars-family operation works on.
    */
  private def canonicalEdges(pairs: DataFrame): DataFrame = {
    val pa = pairs.columns(0)
    val pb = pairs.columns(1)
    pairs
      .select(
        greatest(col(pa), col(pb)).as("hi"),
        least(col(pa), col(pb)).as("lo"))
      .filter(col("hi") =!= col("lo"))
      .distinct()
  }

  /** One large-star rewiring pass over canonical (hi, lo) edges: for every
    * vertex u with m = min(Γ(u) ∪ {u}), connect each strictly LARGER
    * neighbor directly to m. Connectivity-preserving on any graph
    * (Kiveris et al. SoCC '14, Lemma 1) and never grows the edge set
    * (each input edge maps to exactly one output edge before `distinct`).
    *
    * Execution shape: the per-vertex min rides an UNORDERED window over
    * the bidirectional edge list (one exchange and a local sort), not a
    * groupBy(min) + equi-join pair, whose aggregate and filtered probe legs
    * are different subtrees and so exchange the edge list twice.
    */
  private def largeStarPass(e: DataFrame): DataFrame =
    // bidirectional view Γ(u) by one explode: a union of two projections
    // would run an unmaterialized `e` (starReduceEdges over verified
    // pairs) twice
    e.select(explode(array(
        struct(col("hi").as("src"), col("lo").as("nbr")),
        struct(col("lo").as("src"), col("hi").as("nbr")))).as("e"))
      .select(col("e.src").as("src"), col("e.nbr").as("nbr"))
      .withColumn("m",
        least(col("src"), min(col("nbr")).over(Window.partitionBy("src"))))
      // (nbr, m(src)) for every strictly larger neighbor; nbr > src ≥ m
      // guarantees hi > lo, no self-loops
      .filter(col("nbr") > col("src"))
      .select(col("nbr").as("hi"), col("m").as("lo"))
      .transform(singleKeyDistinct)

  /** `distinct` of canonical (hi, lo) edges behind an explicit hash(hi)
    * exchange: HashPartitioning(hi) satisfies the distinct aggregate's
    * ClusteredDistribution([hi, lo]) (subset rule), and the next star
    * pass's window (partitionBy hi) reuses it — one exchange where a plain
    * (hi, lo) distinct and the window would each pay one.
    */
  private def singleKeyDistinct(edges: DataFrame): DataFrame =
    edges.repartition(col("hi")).distinct()

  /** Star-reduce a pairwise edge list before clustering: one
    * [[largeStarPass]], so components are IDENTICAL to the input graph's
    * but cliquish neighborhoods (the shape similarity-verified in-cell
    * pairs take — O(|cell|²) edges) collapse toward one (member, local-min)
    * edge per member. This is the pair-graph analogue of
    * [[lshClusterEdges]], for generators where membership alone does NOT
    * imply an edge (IVF cells: only verified-similar pairs connect), so the
    * reduction must run on the verified pairs themselves.
    *
    * NOTE the tempting cheaper form — one edge (v, min Γ(v)) per vertex —
    * is NOT connectivity-preserving: on edges {(2,3),(3,4),(4,1)} it keeps
    * {(2,3),(1,4)} and splits one component into two. The large-star pass
    * is the correct linear-output reduction.
    */
  private[graft] def starReduceEdges(pairs: DataFrame): DataFrame =
    largeStarPass(canonicalEdges(pairs))

  /** Connected components by alternating large-star/small-star edge
    * rewiring (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC '14) — the adversarial-diameter alternative to
    * [[connectedComponents]]'s label contraction, behind the same
    * contract (same input columns, same `(doc_id, cluster_id, keep)`
    * output, labels = component min).
    *
    * Per round, two rewrites of the EDGE SET (no separate label table):
    *   - large-star: for every vertex u with m = min(Γ(u) ∪ {u}),
    *     connect each strictly LARGER neighbor directly to m. One
    *     unordered min window over the bidirectional edge list.
    *   - small-star: canonicalize edges downhill as (hi, lo); for every
    *     hi with m = min of its smaller neighbors, connect hi and each
    *     of its other smaller neighbors to m. One unordered min window
    *     over the canonical edge list.
    * Both operations preserve connectivity and strictly shrink the
    * potential Σ depth; the fixpoint is a star per component centered at
    * its min, from which labels read off with a single left join. Provably
    * O(log n) rounds on ANY graph — label contraction's worst case
    * (adversarial long chains where the min sits at one end) collapses
    * here because large-star rewires every vertex's whole neighborhood to
    * its local min in one shot, halving chain depth per operation pair.
    * On short-diameter LSH candidate graphs both variants converge in a
    * handful of rounds and contraction's per-round cost is lower (one
    * aggregate vs two rewrites); on paths contraction degrades to one hop
    * per round and escalates to THIS variant
    * (`ConnectedComponentsPropertySpec`). Convergence detection is an
    * (edge-count, bit_xor-of-xxhash64 checksum) pair per round — one tiny
    * aggregate, no driver-side edge materialization. XOR, not SUM: the
    * edge set is `distinct`, so xor-of-set is order-independent and sound,
    * and unlike a sum of uniform 64-bit hashes it cannot overflow (Spark 4
    * defaults ANSI mode, where a long-sum overflow *throws* — a sum
    * checksum killed the whole query in round 5, almost surely, on any
    * edge set beyond a few dozen rows).
    */
  private[graft] def connectedComponentsStars(
      pairs: DataFrame,
      vertices: DataFrame,
      maxIter: Int = 50,
      roundsKey: String = "cc_stars"): DataFrame = {
    // lazy input checkpoint: the initial fingerprint aggregate below
    // materializes it, so no separate job precedes the first pass
    var edges = freshCheckpoint(canonicalEdges(pairs), eager = false)

    // same window-over-join shape as largeStarPass: the per-hi min rides an
    // unordered window, one exchange of `e` on hi and a local sort
    def smallStar(e: DataFrame): DataFrame =
      e.withColumn("m", min(col("lo")).over(Window.partitionBy("hi")))
        // each (hi, lo) row emits (lo, m) — except the row carrying the
        // min itself, which emits (hi, m) exactly once per hi
        .select(
          when(col("lo") === col("m"), col("hi")).otherwise(col("lo")).as("hi"),
          col("m").as("lo"))
        .filter(col("hi") =!= col("lo"))
        .transform(singleKeyDistinct)

    // (count, bit_xor of per-edge xxhash64): order-independent over the
    // distinct edge set and immune to ANSI long-overflow — xor never
    // leaves the 64-bit domain, while sum over uniform 64-bit hashes
    // overflows (and under Spark 4's default ANSI mode, THROWS) almost
    // surely past a few dozen edges. The `.head()` is a 1-row scalar
    // aggregate — the standard iterative-loop driver condition, not a
    // data collect.
    def fingerprint(e: DataFrame): (Long, Long) = {
      val r = e.agg(
        count(lit(1)).as("n"),
        coalesce(bit_xor(xxhash64(col("hi"), col("lo"))), lit(0L)).as("chk"))
        .head()
      (r.getLong(0), r.getLong(1))
    }

    var fp = fingerprint(edges)
    var converged = false
    var it = 0
    // one large/small pass pair per job (paired passes per job measured
    // slower; OPTIMIZATION_r20.md §9)
    while (!converged && it < maxIter) {
      // LAZY checkpoint: the fingerprint aggregate (which reads every row
      // and both columns) is the materializing action, so one job both
      // materializes and probes the round; later consumers read the
      // persisted blocks
      val next = freshCheckpoint(smallStar(largeStarPass(edges)), eager = false)
      val nfp = fingerprint(next)
      converged = nfp == fp
      fp = nfp
      edges = next
      it += 1
    }
    lastRounds.put(roundsKey, it)
    // a truncated fixpoint would MISLABEL silently, so it fails the job
    if (!converged) throw new IllegalStateException(
      s"[graft] connectedComponentsStars ($roundsKey) did NOT converge in $maxIter iterations")
    // fixpoint is a star per component: every non-min vertex carries one
    // (v, min) edge; min vertices and singletons label themselves
    val labels = edges.groupBy("hi").agg(min(col("lo")).as("m"))
    vertices.select(col(vertices.columns.head).as("id"))
      .join(labels.select(col("hi").as("id"), col("m")), Seq("id"), "left")
      .select(
        col("id").as("doc_id"),
        coalesce(col("m"), col("id")).as("cluster_id"),
        (coalesce(col("m"), col("id")) === col("id")).as("keep"))
      .orderBy("doc_id")
  }

  /** SimHash: 60-bit fingerprint from token-level md5 bits by majority
    * vote. Tokens explode → per-doc aggregate of ±1 votes per bit →
    * fingerprint; one shuffle on doc_id (combine-heavy: partial vote
    * buffers merge map-side). The vote aggregation is a single
    * [[graft.functions.SimhashAgg]] imperative aggregate (one `long[60]`
    * buffer, one bit-loop per token) rather than 60 separate `sum(CASE)`
    * columns — same values, same shuffle volume, one buffer. Near-dup
    * docs differ in few bits (compare via Hamming distance).
    */
  def simhash(documents: DataFrame): DataFrame = {
    val toks = Parallelism.floor(documents).select(
      col("doc_id"),
      explode(graft.functions.TextExpressions.alnumTokens(col("text"))).as("tok"))
    // token hash: first SimhashHexChars hex chars of md5 → SimhashBits-bit long
    val h = conv(substring(md5(col("tok")), 1, SimhashHexChars), 16, 10).cast("long")
    toks.groupBy("doc_id")
      .agg(graft.functions.SimhashAgg.simhashAgg(h, SimhashBits).as("simhash"))
      .orderBy("doc_id")
  }

  /** SimHash near-dup pairs: candidates bucket on each of 4 15-bit bands
    * of the 60-bit fingerprint — a pair within Hamming distance ≤ 3 has
    * at most 3 differing bits spread over 4 bands, so by pigeonhole at
    * least one band matches exactly (full recall needs bands >
    * maxHamming) — then the exact Hamming distance (bit_count of xor)
    * filters. Same bounded-bucket shape as [[lshCandidatePairs]]: the
    * fingerprints are computed ONCE, buckets form with a single shuffle on
    * (band, value), pairs are generated in-bucket from the sorted member
    * list, and buckets above `maxBucket` are dropped entirely — one
    * degenerate bucket (boilerplate text collapsing to the same band
    * value) would otherwise contribute O(bucket²) pairs and a straggler
    * reducer at web scale.
    */
  def simhashNearDupPairs(
      documents: DataFrame,
      maxHamming: Int = 3,
      maxBucket: Int = 1000): DataFrame = {
    require(maxHamming < SimhashBands, "pigeonhole recall needs bands > maxHamming")
    val bandMask = (1L << SimhashBandBits) - 1L
    val sigs = simhash(documents)
    val bandCols = (0 until SimhashBands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * SimhashBandBits).bitwiseAND(bandMask).as("v"))
    }
    val banded = sigs.select(
      col("doc_id"), col("simhash"),
      explode(array(bandCols: _*)).as("b"))
      .select(col("doc_id"), col("simhash"), col("b.band"), col("b.v"))
    val buckets = banded
      .groupBy("band", "v")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("simhash")))).as("members"))
      .filter(size(col("members")).between(2, maxBucket))
    val pairs = inBucketPairs(col("members"))((x, y) =>
      struct(
        x.getField("doc_id").as("id_a"), x.getField("simhash").as("fp_a"),
        y.getField("doc_id").as("id_b"), y.getField("simhash").as("fp_b")))
    buckets
      .select(explode(pairs).as("p"))
      .select(col("p.id_a"), col("p.id_b"),
        bit_count(col("p.fp_a").bitwiseXOR(col("p.fp_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy("id_a", "id_b")
  }

  /** Exact substring-level dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better" — the ExactSubstr recipe): flag
    * token k-grams that occur in ≥ 2 DISTINCT documents, and report per
    * document how many gram positions are corpus-duplicated and how many
    * tokens the union of their k-wide windows covers. This is the dedup
    * modality between document-level exact dedup ([[exactDedup]]) and
    * near-dup sketching ([[minhashSignatures]]): it catches a boilerplate
    * paragraph pasted into otherwise-distinct documents, which neither
    * whole-document hashing nor document-level similarity thresholds will.
    *
    * Spark shape (the suffix-array of the paper re-expressed relationally,
    * which is what distributes): one tokenize+hash map stage per doc; ONE
    * unordered window shuffle on the gram hash marking positions whose
    * gram spans ≥ 2 distinct docs (min ≠ max doc_id over the gram
    * partition — constant per-group state, never doc×doc, never a
    * collect); and a per-doc lag-window over ONLY the duplicated
    * positions to union overlapping windows (interval-union coverage:
    * each position contributes min(k, pos − prev_pos) tokens). Grams
    * travel as 16-hex-char md5 prefixes, not strings — at 100 TB the
    * gram shuffle ships 16-byte keys. The token frame is persisted (the
    * position build and the n_tokens leg both read it; exchange reuse
    * does not fire across these shapes — see ngramJaccardNearDup).
    */
  def substringDedup(documents: DataFrame, k: Int = 6): DataFrame = {
    val (toks, dupPos) = tokensAndDupPositions(documents, k)
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val cov = dupPos
      .withColumn("prev", lag(col("pos"), 1).over(w))
      .withColumn("inc",
        when(col("prev").isNull, lit(k))
          .otherwise(least(lit(k), col("pos") - col("prev"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("dup_grams"), sum(col("inc")).cast("long").as("dup_tokens"))
    toks
      .select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"))
      .join(cov, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_tokens"),
        coalesce(col("dup_grams"), lit(0L)).as("dup_grams"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        round(
          when(col("n_tokens") > 0,
            coalesce(col("dup_tokens"), lit(0L)).cast("double") / col("n_tokens"))
            .otherwise(lit(0.0)),
          4).as("dup_frac"))
      .orderBy("doc_id")
  }

  /** Candidate pairs from the winnowing fingerprint: documents sharing
    * any of the five rolling-hash minima ([[TextAnalysis.rollingFingerprint]]
    * — global min + per-quarter minima), banded by WHICH minimum matched
    * so a global-min collision never meets a quarter collision. This
    * closes the sketch → candidate-pair loop for the third fingerprint
    * family (MinHash bands, SimHash bands, and now winnowed Rabin-Karp
    * minima): shared substrings keep their window hashes wherever they
    * move, so shifted plagiarism collides on a minimum even when
    * whole-document hashes and position-sensitive sketches miss. Same
    * bounded-bucket shape as [[lshCandidatePairs]]/[[simhashNearDupPairs]]:
    * one shuffle on (band, value), in-bucket pair generation from the
    * sorted member list, buckets outside [2, maxBucket] dropped.
    */
  def winnowCandidatePairs(documents: DataFrame, maxBucket: Int = 1000): DataFrame = {
    val fp = graft.ops.TextAnalysis.rollingFingerprint(documents)
    val bands = Seq("rk_min", "q0", "q1", "q2", "q3").zipWithIndex.map {
      case (c, i) => struct(lit(i).as("band"), col(c).as("v"))
    }
    val banded = fp
      .select(col("doc_id"), explode(array(bands: _*)).as("b"))
      .select(col("doc_id"), col("b.band"), col("b.v"))
    val buckets = banded
      .groupBy("band", "v")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
    buckets
      .select(explode(inBucketPairs(col("ids"))((x, y) =>
        struct(x.as("doc_a"), y.as("doc_b")))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** Exact-threshold set-similarity join by prefix filtering (the
    * AllPairs family — Bayardo, Ma & Srikant, WWW 2007; Chaudhuri et al.
    * SSJoin): every document pair whose distinct word-3-shingle sets have
    * Jaccard ≥ `t`, with NO false negatives — the exact counterpart to the
    * probabilistic [[lshCandidatePairs]] recall (banded LSH can miss a
    * qualifying pair; this provably cannot, which is why the DuckDB oracle
    * is the brute-force all-pairs form — hash equality IS the
    * completeness proof, the same pattern as typoPairs).
    *
    * Soundness of the filter: J(a,b) ≥ t ⟹ |a∩b| ≥ t·(|a|+|b|)/(1+t)
    * ≥ t·|a| (symmetrically t·|b|). Order the universe globally by
    * (document frequency asc, shingle) and take each set's first
    * |s| − ⌈t·|s|⌉ + 1 shingles: the ≥ t·|s| common elements cannot all
    * hide in the ⌈t·|s|⌉ − 1 tail positions (pigeonhole), so every
    * qualifying pair collides on ≥ 1 PREFIX shingle of both sides, and an
    * equi-join on prefix shingles is a complete candidate generator.
    * Rarest-first ordering is what makes it selective: prefixes hold each
    * document's most discriminative shingles, so boilerplate shingles
    * with huge df only block candidates for documents made of nothing
    * else. (No bucket cap here — a cap would break the completeness
    * contract; the capped, approximate path at web scale is the LSH
    * suite.)
    *
    * Shape: one shuffle for shingle df, one per-doc sort_array to order
    * each set (state bounded by the document's own shingle count), one
    * equi-join on prefix shingles, and an exact verify over the candidate
    * pairs only (array_intersect/array_union on 16-hex md5 elements —
    * collision-free set arithmetic on 16-byte keys, never the text).
    */
  def setSimilarityJoin(
      documents: DataFrame,
      t: Double = 0.6,
      shingleK: Int = 3): DataFrame = {
    val shingled = QueryCache.cached(Parallelism.floor(documents)
      .select(col("doc_id"),
        graft.functions.TextExpressions.alnumTokens(col("text")).as("ws"))
      .filter(size(col("ws")) >= shingleK)
      .select(col("doc_id"),
        array_distinct(graft.functions.TextExpressions.hexNgrams(col("ws"), shingleK, 16))
          .as("ts")))
    val tokens = shingled.select(col("doc_id"), explode(col("ts")).as("tok"))
    // set semantics upstream ⇒ count(*) is document frequency
    val dfCnt = tokens.groupBy("tok").agg(count(lit(1)).as("df"))
    // the candidate self-join consumes `prefixes` on BOTH legs, and
    // exchange reuse does not fire across the a/b aliases, so without the
    // persist the whole prefix pipeline (tokens ⋈ df counts → per-doc sort
    // → posexplode) runs twice
    val prefixes = QueryCache.cached(tokens
      .join(dfCnt, Seq("tok"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("tok")))).as("sorted"))
      .select(col("doc_id"), size(col("sorted")).as("sz"),
        posexplode(expr(
          s"transform(slice(sorted, 1, CAST(size(sorted) - ceil($t * size(sorted)) + 1 AS INT)), x -> x.tok)")))
      .select(col("doc_id"), col("sz"), (col("pos") + 1).as("p"), col("col").as("tok")))
    // AllPairs length filter: J(A,B) ≥ t forces t·|B| ≤ |A| (and
    // symmetrically), so size-mismatched pairs can NEVER pass the verify
    // threshold. PPJoin positional filter (Xiao et al. 2008) on top: a
    // prefix match at (rarity-sorted) positions (i, j) bounds the overlap
    // by 1 + min(|A|−i, |B|−j), and J ≥ t needs overlap ≥
    // t/(1+t)·(|A|+|B|) — pairs whose BEST matching position can't reach
    // that are dropped before the verify join ever ships their shingle
    // arrays. Both filters prune candidates only, never results (the
    // 1e-9 slack keeps a float-rounded threshold from ever pruning a
    // boundary pair; the brute-force oracle stays hash-identical).
    val cand = prefixes.as("a")
      .join(prefixes.as("b"), "tok")
      .filter(col("a.doc_id") < col("b.doc_id") &&
        col("a.sz") >= lit(t) * col("b.sz") && col("b.sz") >= lit(t) * col("a.sz"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(
        max(lit(1) + least(col("a.sz") - col("a.p"), col("b.sz") - col("b.p")))
          .as("ub"),
        first(col("a.sz")).as("sza"), first(col("b.sz")).as("szb"))
      .filter(col("ub") >=
        lit(t / (1.0 + t)) * (col("sza") + col("szb")) - lit(1e-9))
      .select(col("id_a"), col("id_b"))
    cand
      .join(shingled.select(col("doc_id").as("id_a"), col("ts").as("ts_a")), Seq("id_a"))
      .join(shingled.select(col("doc_id").as("id_b"), col("ts").as("ts_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("ts_a"), col("ts_b"))).cast("double") /
          size(array_union(col("ts_a"), col("ts_b")))).as("j"))
      .filter(col("j") >= t)
      .select(col("id_a"), col("id_b"), round(col("j"), 6).as("jaccard"))
      .orderBy("id_a", "id_b")
  }

  /** The shared front half of the ExactSubstr pipeline: the persisted
    * token frame and the (doc_id, pos) set of gram positions whose k-gram
    * occurs in ≥ 2 distinct documents. Both [[substringDedup]] (coverage
    * stats) and [[substringDedupSpans]] (removal intervals) read this.
    */
  private def tokensAndDupPositions(
      documents: DataFrame, k: Int): (DataFrame, DataFrame) = {
    val toks = QueryCache.cached(Parallelism.floor(documents).select(col("doc_id"),
      graft.functions.TextExpressions.alnumTokens(col("text")).as("ws")))
    val posRaw = toks
      .filter(size(col("ws")) >= k)
      .select(col("doc_id"),
        posexplode(graft.functions.TextExpressions.hexNgrams(col("ws"), k, 16)))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("gh"))
    // "gram occurs in >= 2 distinct docs" ⟺ min(doc_id) != max(doc_id)
    // over the gram's partition — ONE unordered window shuffle on the
    // gram hash with constant per-group state, where the groupBy +
    // semi-join-back formulation shipped the position frame through the
    // gh exchange TWICE (10× stress: 57 + 97 MiB → 117 MiB once; the
    // combine-compressed aggregate leg shrinks but the full-frame
    // semi-join leg disappears, so total network strictly drops). The
    // price is a LOCAL per-partition sort on the 16-byte hash inside
    // WindowExec — spill-aware CPU traded for an entire corpus-sized
    // exchange, the right trade at 100 TB. No collect_set: a boilerplate
    // gram in millions of docs costs the same two longs of state as a
    // rare one.
    val byGram = Window.partitionBy("gh")
    (toks,
      posRaw
        .withColumn("dup",
          min(col("doc_id")).over(byGram) =!= max(col("doc_id")).over(byGram))
        .filter(col("dup"))
        .select("doc_id", "pos"))
  }

  /** The REMOVAL artifact of exact substring dedup: per document, the
    * merged token intervals covered by corpus-duplicated k-grams — what a
    * Lee et al. 2022 pipeline actually cuts out of the training text
    * (where [[substringDedup]] reports how much, this reports where).
    * Intervals merge when consecutive duplicated gram positions overlap
    * or touch (gap ≤ k), so Σ span_tokens per doc equals
    * [[substringDedup]]'s dup_tokens exactly — an invariant pinned in
    * `CurationSpec`. One lag window plus a running-sum span id over ONLY
    * the duplicated positions, then a per-span aggregate: the corpus
    * never re-shuffles.
    */
  def substringDedupSpans(documents: DataFrame, k: Int = 6): DataFrame =
    mergedSpans(tokensAndDupPositions(documents, k)._2, k)
      .orderBy("doc_id", "span_id")

  /** Merge the duplicated gram positions into removal intervals — the
    * lag-window + running-sum span-id shape shared by the spans report and
    * the apply operator. */
  private def mergedSpans(dupPos: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    dupPos
      .withColumn("prev", lag(col("pos"), 1).over(w))
      .withColumn("new_span",
        (col("prev").isNull || (col("pos") - col("prev") > k)).cast("long"))
      .withColumn("span_id",
        sum("new_span").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "span_id")
      .agg(
        min(col("pos")).cast("long").as("start_pos"),
        (max(col("pos")) + lit(k - 1)).cast("long").as("end_pos"))
      .withColumn("span_tokens", col("end_pos") - col("start_pos") + 1)
  }

  /** The EXECUTION step of exact substring dedup: apply
    * [[substringDedupSpans]]'s removal intervals to the token stream and
    * emit the cut text — the actual Lee et al. 2022 deliverable (the spans
    * report says where to cut; this cuts). Per document: every token whose
    * 1-based position falls inside any merged span is dropped, the
    * survivors re-join with single spaces.
    *
    * Shape: the span frame aggregates to one row per document (a short
    * interval array — spans are merged, so bounded by n_tokens/k), joins
    * back to the persisted token frame on doc_id, and the cut itself is a
    * per-row higher-order `filter` + `exists` — no explode of the corpus
    * token stream, no second corpus shuffle. Invariant (pinned in
    * `CurationSpec`): kept_tokens = n_tokens − Σ span_tokens, i.e. the cut
    * text loses exactly what [[substringDedup]] reports as dup_tokens.
    */
  def substringDedupApply(documents: DataFrame, k: Int = 6): DataFrame = {
    val (toks, dupPos) = tokensAndDupPositions(documents, k)
    val perDoc = mergedSpans(dupPos, k)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("start_pos"), col("end_pos"))).as("spans"))
    toks.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("ws"),
        coalesce(col("spans"),
          expr("CAST(array() AS array<struct<start_pos:bigint,end_pos:bigint>>)"))
          .as("spans"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_tokens"),
        filter(col("ws"), (_, i) =>
          !exists(col("spans"), s =>
            (i + 1) >= s.getField("start_pos") && (i + 1) <= s.getField("end_pos")))
          .as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("kept")).cast("long").as("kept_tokens"),
        (col("n_tokens") - size(col("kept"))).cast("long").as("removed_tokens"),
        concat_ws(" ", col("kept")).as("kept_text"))
      .orderBy("doc_id")
  }
}
