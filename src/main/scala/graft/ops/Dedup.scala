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
  *   - Signatures are computed per-row with higher-order array functions
  *     (`transform`/`array_min`) — a single codegen'd map stage, no explode
  *     of shingles through a shuffle.
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
    val shRaw = shingleFrame(documents)
    val docShingles =
      if (shRaw.storageLevel == org.apache.spark.storage.StorageLevel.NONE) shRaw.persist()
      else shRaw
    // r19 optimization (guide §5): `sigs` has THREE consumers (the bucket
    // generator and both signature legs of the pair join) and exchange
    // reuse does not bridge them — without the cache the explode +
    // NumHashes-min aggregate ran three times (same class of duplicated
    // subtree PlanAudit exposed in setSimilarityJoin). Same
    // persist-if-unpersisted idiom; resetSessionState releases it.
    val sigsRaw = minhashFromShingles(docShingles)
    val sigs =
      if (sigsRaw.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        sigsRaw.persist()
      else sigsRaw
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
    *  - [[bandedSignaturesFromShingles]] (per-row higher-order functions,
    *    ZERO shuffle and stream-safe): best when the consumer immediately
    *    re-buckets on (band, hash) (`q_docs_lsh_pairs` 1.91 s vs 2.40 s
    *    through here) — and the only legal form under Structured
    *    Streaming, where a batch groupBy cannot appear mid-stream.
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
    * consumer buckets on, computed fully NARROW: the base md5 hash is
    * materialized once per shingle, each affine min is an
    * array_min(transform(...)) over that array, bands concatenate in-row,
    * and the band explode is a generator — no aggregation, no sort, no
    * shuffle anywhere. Because no operator carries cross-row state, the
    * same pipeline runs unchanged over a STREAMING frame — the
    * ingest-time near-dup path
    * ([[graft.streaming.DocStreams.lshCandidateStream]]). The
    * empty-shingle filter replicates the explode path's drop semantics,
    * so both formulations produce identical signatures.
    */
  private[graft] def bandedSignaturesFromShingles(shFrame: DataFrame): DataFrame = {
    // r20 (guide §1.2 step 2 — per-task work): the per-doc minima ride ONE
    // native codegen'd loop (md5 once per shingle, all NumHashes affine
    // mins in place) instead of the HOF chain
    // `array_min(transform(transform(sh, md5…), affine…))`, which
    // evaluated interpreted — one boxed lambda call per (shingle, hash)
    // and a materialized hash array per row. Identical values (the hex
    // prefix of md5 IS the leading digest bytes; operands non-negative so
    // pmod == %); still fully narrow and stream-legal.
    // spark.graft.minhashHof=true reverts for the interleaved A/B.
    val hof = shFrame.sparkSession.conf
      .getOption("spark.graft.minhashHof").contains("true")
    val sigs =
      if (hof) {
        val withH = shFrame
          .filter(size(col("sh")) > 0)
          .select(col("doc_id"),
            transform(col("sh"),
              s => conv(substring(md5(s), 1, 8), 16, 10).cast("long")).as("hvs"))
        val mins = (0 until NumHashes).map(k =>
          array_min(transform(col("hvs"),
            h => pmod(lit(hashA(k)) * h + lit(hashB(k)), lit(HashPrime)))).as(s"h$k"))
        withH.select(col("doc_id") +: mins: _*)
      } else shFrame
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
    // r20: feed the UNSORTED pair generator — lshCandidatePairs appends the
    // output-contract orderBy (a range exchange with its own sampling pass
    // over the pair pipeline), which the propagation core's explode +
    // repartition(dst) immediately destroys; join/aggregate consumers take
    // the raw bucket pairs (same rows, same communities — edge order never
    // reaches a vote).
    labelPropagationOnPairs(
      bucketPairs(lshBuckets(documents, maxBucket = 1000)),
      documents.select(col("doc_id")), rounds)

  /** The propagation core over an explicit undirected pair list —
    * unit-testable on planted graphs independent of the LSH front end.
    */
  private[graft] def labelPropagationOnPairs(
      pairs: DataFrame, verts: DataFrame, rounds: Int): DataFrame = {
    // A/B hook (session conf, never a JVM global — the LayoutProbe
    // protocol): spark.graft.lpLegacy=true reverts to the r18 shape
    // (unpartitioned edge persist + row_number window vote) so the
    // rewrite below stays measurable in ONE JVM against identical state
    val legacy = pairs.sparkSession.conf
      .getOption("spark.graft.lpLegacy").contains("true")
    // persist PARTITIONED on the join key: every round's edge↔label join
    // shuffles the label side only — the cached edge partitioning is
    // visible to the planner, so the (edge-sized, 2×|pairs|) frame is
    // exchanged once here instead of once per round. r20: bidirect via
    // explode, not union(pairs, pairs.swapped) — the union legs are
    // different projections of the UNMATERIALIZED LSH candidate pipeline,
    // so the whole tokenize→shingle→minhash→bucket preamble executed twice
    // inside this frame's one materialization. Same rows.
    // spark.graft.bidirUnion=true reverts for the interleaved A/B.
    val edges0 =
      if (bidirUnion(pairs))
        pairs
          .union(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
          .toDF("src", "dst")
      else pairs
        .select(explode(array(
          struct(col("doc_a").as("src"), col("doc_b").as("dst")),
          struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
    val edges = (if (legacy) edges0 else edges0.repartition(col("dst")))
      .persist()
    try {
      // NOTE (r20, measured and rejected): iterating over the ACTIVE
      // vertex set only (distinct edge endpoints, one final left join to
      // recover inactive self-labels — the shape kept for contraction CC)
      // measured 1.41× SLOWER here on the interleaved A/B: LP's per-round
      // relabel join already rides aligned hash partitioning at zero
      // exchanges, and the active-set form's extra distinct + final join
      // stages cost more than the smaller label frame saves at any scale
      // where the frame fits a partition. Full-vertex iteration kept.
      var labels = verts.select(col("doc_id").as("v"), col("doc_id").as("lab"))
      // r20 optimization (guide §2.4 — two operations keyed the same way
      // share one exchange): route the vote through ONE hash(src) exchange.
      // HashPartitioning(src) satisfies the (src, lab) count's
      // ClusteredDistribution (subset rule), the (src) winner aggregate,
      // AND the relabel join's best side — so each round pays one exchange
      // where the plain groupBy chain paid two. Bytes are not worse at
      // scale: pre-convergence neighbor labels are mostly distinct, so the
      // (src, lab) partial aggregate barely compressed the edge-sized
      // stream it exchanged. spark.graft.lpVoteRepartition=false is the
      // A/B hook back to the two-exchange chain.
      val singleEx = !legacy && !pairs.sparkSession.conf
        .getOption("spark.graft.lpVoteRepartition").contains("false")
      for (_ <- 1 to rounds) {
        val joined = edges.join(labels, edges("dst") === labels("v"))
        val counts = (if (singleEx) joined.repartition(col("src")) else joined)
          .groupBy(col("src"), col("lab"))
          .agg(count(lit(1)).as("c"))
        // the (count DESC, label ASC) vote winner as ONE hash aggregate
        // (max of an orderable struct; bitwise NOT turns "smallest label
        // wins" into a max without negation overflow) instead of a
        // row_number window — drops a per-src SORT and a WindowExec per
        // round while keeping the exact total order, so the labeling is
        // bit-identical to the window form (the oracle pins it)
        val best =
          if (legacy) {
            val w = Window.partitionBy("src").orderBy(col("c").desc, col("lab"))
            counts
              .withColumn("rn", row_number().over(w))
              .filter(col("rn") === 1)
              .select(col("src"), col("lab").as("blab"))
          } else counts
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
    // r20 (guide §1.2): persist the PAIR frame — the bidirectional edge
    // view below is read by both the degree aggregate and the join probe,
    // so without this cache the candidate-generation preamble executed
    // twice inside the edge frame's one materialization (and the
    // union-of-projections form it replaced executed it up to 4×). The
    // explode builds both orientations in one pass over the cached pairs.
    val pairsC =
      if (pairs.storageLevel == org.apache.spark.storage.StorageLevel.NONE) pairs.persist()
      else pairs
    val edgesRaw =
      if (bidirUnion(pairs))
        pairsC.select(col("doc_a").as("src"), col("doc_b").as("dst"))
          .union(pairsC.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      else pairsC
        .select(explode(array(
          struct(col("doc_a").as("src"), col("doc_b").as("dst")),
          struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
    val deg = edgesRaw.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val edgesD = edgesRaw.join(deg, Seq("src"))
    val edges =
      if (edgesD.storageLevel == org.apache.spark.storage.StorageLevel.NONE) edgesD.persist()
      else edgesD
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
    val pairsRaw = bucketPairs(lshBuckets(documents, maxBucket))
    val pairs =
      if (pairsRaw.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        pairsRaw.persist()
      else pairsRaw
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
    * the two verified operators; the per-cluster argmax and size share
    * one cluster-partitioned window exchange. Both legs derive from ONE
    * persisted LSH bucket frame — the signature pipeline (tokenize →
    * shingle → MinHash → band-bucket) runs exactly once; see the body
    * comment and [[graft.PlanShapeSpec]]'s single-subtree pin.
    */
  def centralKeep(documents: DataFrame): DataFrame = {
    // ONE signature pipeline for both legs: tokenize → shingle → MinHash →
    // band-bucket exactly once, persist the bucket frame, and derive both
    // the clusters leg (star edges → stars CC) and the PageRank leg
    // (in-bucket pairs → fixed-point ranks) from that shared frame —
    // closes the round-8 "LSH computed twice" weakness (at 100× the
    // second leg was a full extra pass over the corpus). Same
    // persist-if-unpersisted idiom as ngramJaccardNearDup: a repeated
    // call finds the live cache entry via storageLevel;
    // resetSessionState between queries releases it.
    val bRaw = lshBuckets(documents, maxBucket = 1000)
    val buckets =
      if (bRaw.storageLevel == org.apache.spark.storage.StorageLevel.NONE) bRaw.persist()
      else bRaw
    val verts = documents.select(col("doc_id"))
    // r19 wave 2 (guide §2.6 — overlap independent jobs): the two legs are
    // INDEPENDENT — the CC fixpoint is a chain of small blocking jobs that
    // leave most of local[32] idle, and the PageRank leg is a second chain
    // of small jobs with no data dependency on the labels. Materialize the
    // PageRank leg on a driver-side thread while the fixpoint runs on this
    // one; Spark's scheduler (FIFO) back-fills the idle executors with the
    // other leg's tasks. Results are unchanged — both legs are
    // deterministic frames joined at the end exactly as before; the only
    // thing that moves is WHEN the PR jobs are submitted. The shared
    // bucket frame is materialized FIRST (one cheap count on the persisted
    // frame) so the two threads cannot race duplicate computation of the
    // signature preamble. spark.graft.ckOverlap=false is the A/B hook
    // back to the sequential legs.
    val overlap = !documents.sparkSession.conf
      .getOption("spark.graft.ckOverlap").contains("false")
    def prLeg(): DataFrame = pageRankFromPairs(bucketPairs(buckets), documents)
      .select(col("doc_id"), col("rank_fp"))
    val prFut =
      if (overlap) {
        buckets.count()
        Some(GraftSqlInternals.withCallerProperties(documents.sparkSession)(
          freshCheckpoint(prLeg())))
      } else None
    // stars CC: identical labels (one oracle pins both variants), ~25%
    // faster here than label contraction at 11 rounds; own rounds key so
    // a bench run's "cc_stars" entry always belongs to the direct LSH
    // consumer (q_docs_clusters_stars), never last-writer-wins with this
    // composed one.
    // If the CC leg throws (strict non-convergence, job failure), the
    // PageRank future must be drained BEFORE propagating: an abandoned leg
    // keeps submitting jobs whose localCheckpoint blocks race a caller's
    // subsequent resetSessionState (blocking unpersist of all RDDs).
    val labels =
      try connectedComponentsStars(
          starEdges(buckets), verts, roundsKey = "cc_stars_central_keep")
        .select(col("doc_id"), col("cluster_id"))
      catch {
        case e: Throwable =>
          prFut.foreach(drain)
          throw e
      }
    val pr = prFut.fold(prLeg())(Await.result(_, Duration.Inf))
    // top-1-per-cluster as ONE hash aggregate (max of an orderable
    // struct), not a rank window plus a size window: the window pair
    // cost a per-cluster SORT and carried every member row through two
    // WindowExecs just to keep one. (rank_fp DESC, doc_id ASC) is
    // encoded as max(struct(rank_fp, ~doc_id, doc_id)) — struct
    // ordering is lexicographic, and bitwise NOT is a strictly
    // DECREASING bijection on longs (~x = -x-1, same order as -x but
    // with no overflow at Long.MinValue, where arithmetic negation
    // would invert the tiebreak), so "smallest doc_id wins" becomes a
    // max. Results are bit-identical to the window form (the oracle
    // pins it).
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
    // join. Same persist idiom as ivfTopK: a repeated call inside one
    // session (bench iterations) finds the live cache entry via
    // storageLevel instead of re-registering; resetSessionState between
    // queries releases it.
    val shRaw = shingleFrame(documents)
    val docShingles =
      if (shRaw.storageLevel == org.apache.spark.storage.StorageLevel.NONE) shRaw.persist()
      else shRaw
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
    val shRaw = shingleFrame(documents)
    val docShingles =
      if (shRaw.storageLevel == org.apache.spark.storage.StorageLevel.NONE) shRaw.persist()
      else shRaw
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
    * variant (`"cc_contraction"` / `"cc_stars"`, plus
    * `"cc_contraction_escalated"` for a stars phase entered FROM the
    * contraction loop — its own key, so an escalated run cannot overwrite
    * the round count of a dedicated stars query) — surfaced in the bench
    * JSON line so a regression in convergence rounds is visible without
    * rerunning under GRAFT_CC_VERBOSE.
    */
  val lastRounds = new java.util.concurrent.ConcurrentHashMap[String, Int]()

  /** Whether the most recent CC run under each [[lastRounds]] key reached
    * its fixpoint — the programmatic non-convergence signal (the matching
    * loud failure is the `strict` throw; this map serves callers that opt
    * out of throwing but still must not trust truncated labels silently).
    */
  val lastConverged = new java.util.concurrent.ConcurrentHashMap[String, Boolean]()

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
    * is its component min". The loop also stops when step 3 leaves no
    * edge: the labels of each component are then one label, which can
    * only be its min (the min vertex never moves), so the round that
    * would confirm it is skipped; the contraction's checkpoint job counts
    * its edges at no extra job. Only the active set (edge endpoints) is
    * iterated; every other vertex is a singleton, restored by one final
    * join.
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
    * mins. `maxIter` bounds both phases together; with `strict` a
    * truncated fixpoint throws instead of mislabelling.
    *
    * Each round materializes three frames: the compose (which also
    * computes m), the relabelled labels (by the changed count) and the
    * contracted edges, which run overlapped with the count on a thread
    * that carries the caller's job group. Design
    * history and measurements: OPTIMIZATION_r19.md §2, OPTIMIZATION_r20.md
    * §4, §10 and "connectedComponents design notes".
    */
  private[graft] def connectedComponents(
      pairs: DataFrame,
      vertices: DataFrame,
      maxIter: Int = 50,
      strict: Boolean = true): DataFrame = {
    val pa = pairs.columns(0)
    val pb = pairs.columns(1)
    val conf = pairs.sparkSession.conf
    // every round's frames are checkpointed (freshCheckpoint): lineage and
    // planning cost stay constant per round. The input checkpoint is lazy,
    // so round 1's compose job computes the forest and materializes it.
    val nbrMinLazy = !conf.getOption("spark.graft.ccNbrMinLazy").contains("false")
    var edges = freshCheckpoint(
      localSpanningForest(pairs.select(col(pa).as("u"), col(pb).as("v"))),
      eager = !nbrMinLazy)
    // labels over the active set (distinct edge endpoints); an inactive
    // vertex never becomes a supervertex-min key, so its label is its id
    val activeSet = !conf.getOption("spark.graft.activeSetLegacy").contains("true")
    var labels = freshCheckpoint(
      if (activeSet)
        edges.select(explode(array(col("u"), col("v"))).as("id")).distinct()
          .withColumn("label", col("id"))
      else vertices.select(col(vertices.columns.head).as("id"))
        .withColumn("label", col("id")),
      eager = !nbrMinLazy) // round 1's relabel count materializes it
    val jumpLegacy = conf.getOption("spark.graft.ccJumpLegacy").contains("true")
    val overlap = !conf.getOption("spark.graft.ccContractOverlap").contains("false")
    var changed = 1L
    // an empty contracted edge set means every label already is its
    // component min: the next round could change nothing, so it is skipped
    var quotientEmpty = false
    var it = 0
    while (changed > 0 && !quotientEmpty && it < math.min(EscalateAfter, maxIter)) {
      // m(L) = min(L, quotient neighbours of L), both edge directions. Lazy:
      // its one consumer, the compose, materializes it in the same job
      // (under ccJumpLegacy it is m itself, with two consumers: eager).
      val nbrMin0 = freshCheckpoint(edges.select(col("u").as("l"), col("v").as("n"))
        .union(edges.select(col("v").as("l"), col("u").as("n")))
        .groupBy("l")
        .agg(min("n").as("nmin"))
        .select(col("l"), least(col("l"), col("nmin")).as("m")),
        eager = jumpLegacy || !nbrMinLazy)
      // pointer jumping, m := m∘m (left join: an image with no quotient
      // edges of its own maps to itself). Eager: it feeds both the
      // relabel and the contraction.
      val nbrMin =
        if (jumpLegacy) nbrMin0
        else freshCheckpoint(
          nbrMin0
            .join(
              nbrMin0.select(col("l").as("jl"), col("m").as("jm")),
              col("m") === col("jl"), "left")
            .select(col("l"), coalesce(col("jm"), col("m")).as("m")))
      // relabel every vertex through m (left join: labels whose
      // supervertex has no quotient neighbours keep their label)
      val updated = freshCheckpoint(labels
        .join(nbrMin.select(col("l").as("label"), col("m")), Seq("label"), "left")
        .select(
          col("id"),
          col("label"),
          coalesce(col("m"), col("label")).as("new_label")),
        eager = false) // lazy: the count below materializes it
      def contract(): (DataFrame, Long) = {
        // contract the edge set through the new supervertex mapping;
        // self-loops vanish, merged components stop costing anything
        val mapped = nbrMin.select(col("l"), col("m"))
        GraftSqlInternals.localCheckpointCounted(edges
          .join(mapped.select(col("l").as("u"), col("m").as("mu")), Seq("u"), "left")
          .join(mapped.select(col("l").as("v"), col("m").as("mv")), Seq("v"), "left")
          .select(
            coalesce(col("mu"), col("u")).as("u"),
            coalesce(col("mv"), col("v")).as("v"))
          .filter(col("u") =!= col("v"))
          .distinct())
      }
      // the contraction needs only the checkpointed nbrMin and edges, so
      // it runs while the count job drains; a round that changes no label
      // discards it
      val contractFut =
        if (overlap) Some(GraftSqlInternals.withCallerProperties(pairs.sparkSession)(contract()))
        else None
      changed =
        try updated.filter(col("new_label") < col("label")).count()
        catch {
          case e: Throwable =>
            // drain the overlapped leg before propagating: an abandoned
            // contraction racing a caller's resetSessionState surfaces
            // confusing checkpoint-block errors
            contractFut.foreach(drain)
            throw e
        }
      labels = updated.select(col("id"), col("new_label").as("label"))
      if (changed > 0) {
        val (next, quotientEdges) = contractFut.fold(contract())(Await.result(_, Duration.Inf))
        edges = next
        quotientEmpty = quotientEdges == 0
      } else
        // converged: the contraction is unused, so its failure must not
        // fail the run; it is only waited for
        contractFut.foreach(drain)
      it += 1
      if (sys.env.contains("GRAFT_CC_VERBOSE"))
        System.err.println(s"[cc] iter $it changed=$changed")
    }
    val converged = changed == 0 || quotientEmpty
    lastRounds.put("cc_contraction", it)
    lastConverged.put("cc_contraction", converged)
    if (!converged) {
      // escalate: stars over the contracted quotient, with the remaining
      // budget and its own rounds key; label(v) := stars(label(v))
      if (sys.env.contains("GRAFT_CC_VERBOSE"))
        System.err.println(s"[cc] escalating to stars after $it rounds")
      val quotient = connectedComponentsStars(
        edges, labels.select(col("label")).distinct(), maxIter - it,
        strict, roundsKey = "cc_contraction_escalated")
      labels = labels
        .join(
          quotient.select(col("doc_id").as("label"), col("cluster_id")),
          Seq("label"), "left")
        .select(col("id"), coalesce(col("cluster_id"), col("label")).as("label"))
    }
    if (activeSet)
      // inactive vertices are their own singleton clusters
      vertices.select(col(vertices.columns.head).as("id"))
        .join(labels, Seq("id"), "left")
        .select(
          col("id").as("doc_id"),
          coalesce(col("label"), col("id")).as("cluster_id"),
          (coalesce(col("label"), col("id")) === col("id")).as("keep"))
        .orderBy("doc_id")
    else labels
      .select(
        col("id").as("doc_id"),
        col("label").as("cluster_id"),
        (col("id") === col("label")).as("keep"))
      .orderBy("doc_id")
  }

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
    *     groupBy(min) + one equi-join on the bidirectional edge list.
    *   - small-star: canonicalize edges downhill as (hi, lo); for every
    *     hi with m = min of its smaller neighbors, connect hi and each
    *     of its other smaller neighbors to m. One groupBy(min) + one
    *     equi-join on the canonical edge list.
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
    * Execution shape (r19 optimization, guide §2.4 "remove shuffles
    * outright"): the per-vertex min rides an UNORDERED window over the
    * bidirectional edge list instead of the r18 groupBy(min) + equi-join
    * pair. The join formulation computed and exchanged `bidir` twice —
    * the aggregate leg and the join's probe leg are different subtrees
    * (the probe side is filtered), so ReuseExchange cannot fire — plus a
    * third exchange for the aggregated mins. The window computes the same
    * `least(src, min(nbr))` with ONE exchange of `bidir` and a local sort,
    * and drops the hash-join build entirely. Row-for-row identical output
    * (same min, same filter, same projection); `spark.graft.ccStarsLegacy`
    * is the per-plan A/B hook back to the join form.
    */
  private def largeStarPass(e: DataFrame): DataFrame = {
    // bidirectional view: Γ(u) from both orientations. r20 (guide §1.2 —
    // don't compute things twice): explode each edge into its two
    // orientations in ONE pass instead of union(e, e.swapped) — the union
    // legs are different projections, so when `e` is an unmaterialized
    // pipeline (starReduceEdges over simhash/cosine verified pairs) the
    // whole candidate generator executed twice. Same rows, same multiset.
    // spark.graft.bidirUnion=true is the interleaved-A/B hook back to the
    // union form (fixpoint rounds read a checkpointed `e`, so there the
    // two forms differ only in operator shape, not recompute).
    val bidir =
      if (bidirUnion(e))
        e.select(col("hi").as("src"), col("lo").as("nbr"))
          .union(e.select(col("lo").as("src"), col("hi").as("nbr")))
      else e
        .select(explode(array(
          struct(col("hi").as("src"), col("lo").as("nbr")),
          struct(col("lo").as("src"), col("hi").as("nbr")))).as("e"))
        .select(col("e.src").as("src"), col("e.nbr").as("nbr"))
    val legacy = e.sparkSession.conf
      .getOption("spark.graft.ccStarsLegacy").contains("true")
    // (nbr, m(src)) for every strictly larger neighbor; nbr > src ≥ m
    // guarantees hi > lo, no self-loops
    val rewired =
      if (legacy) {
        val mins = bidir.groupBy("src")
          .agg(least(col("src"), min(col("nbr"))).as("m"))
        bidir.filter(col("nbr") > col("src"))
          .join(mins, Seq("src"))
          .select(col("nbr").as("hi"), col("m").as("lo"))
      } else bidir
        .withColumn("m",
          least(col("src"), min(col("nbr")).over(Window.partitionBy("src"))))
        .filter(col("nbr") > col("src"))
        .select(col("nbr").as("hi"), col("m").as("lo"))
    // r19 wave 2 (guide §2.4 "two operations keyed the same way share one
    // exchange"): route the dedup through an explicit hash exchange on the
    // SINGLE key `hi` — HashPartitioning(hi) satisfies the distinct
    // aggregate's ClusteredDistribution([hi, lo]) (subset rule), so the
    // aggregate adds NO exchange of its own, and the downstream smallStar
    // window (partitionBy hi) rides the SAME exchange. Net: the old
    // distinct's (hi, lo) exchange AND the window's hi exchange collapse
    // into one (verified: plans/r19/pass_large_star_after.txt shows
    // REPARTITION_BY_COL hash(hi) feeding the two-key HashAggregate with
    // no second exchange). Output rows identical (distinct is distinct
    // under any partitioning). spark.graft.ccSingleKeyDedup=false is the
    // interleaved-A/B hook back to the plain (hi, lo) distinct.
    if (legacy || !singleKeyDedup(e)) rewired.distinct()
    else rewired.repartition(col("hi")).distinct()
  }

  /** Session-conf gate (default ON) for the single-key dedup exchange in
    * the star passes — the per-plan A/B hook the CcProbe harness flips.
    */
  private def singleKeyDedup(df: DataFrame): Boolean =
    !df.sparkSession.conf
      .getOption("spark.graft.ccSingleKeyDedup").contains("false")

  /** Session-conf gate (default OFF) reverting the r20 explode-bidirection
    * rewrite to the legacy union-of-projections form — the interleaved-A/B
    * hook shared by the star passes, label propagation and PageRank.
    */
  private def bidirUnion(df: DataFrame): Boolean =
    df.sparkSession.conf
      .getOption("spark.graft.bidirUnion").contains("true")

  /** Session-conf gate (default ON) for fusing fixpoint bookkeeping
    * (convergence fingerprint / changed-count) into the round's checkpoint
    * materialization via a LAZY checkpoint.
    */
  private def fusedProbe(df: DataFrame): Boolean =
    !df.sparkSession.conf
      .getOption("spark.graft.ccFusedProbe").contains("false")

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

  private[graft] def connectedComponentsStars(
      pairs: DataFrame,
      vertices: DataFrame,
      maxIter: Int = 50,
      strict: Boolean = true,
      roundsKey: String = "cc_stars"): DataFrame = {
    // r20: LAZY input checkpoint under the same fused-probe gate — the
    // initial fingerprint aggregate below is the materializing action, so
    // the round-0 "materialize the canonical edges" job fuses into it
    // (one job instead of two before the first pass)
    var edges = freshCheckpoint(canonicalEdges(pairs), eager = !fusedProbe(pairs))

    // Same window-over-join rewrite as largeStarPass (guide §2.4): the
    // per-hi min rides an unordered window — one exchange of `e` on hi and
    // a local sort — instead of groupBy(min) + join-back (two consumers of
    // `e`, two exchanges, one hash build). Row-identical output; the
    // spark.graft.ccStarsLegacy hook reverts both passes together.
    def smallStar(e: DataFrame): DataFrame = {
      val legacy = e.sparkSession.conf
        .getOption("spark.graft.ccStarsLegacy").contains("true")
      val withM =
        if (legacy) {
          val mins = e.groupBy("hi").agg(min(col("lo")).as("m"))
          e.join(mins, Seq("hi"))
        } else e.withColumn("m", min(col("lo")).over(Window.partitionBy("hi")))
      // each (hi, lo) row emits (lo, m) — except the row carrying the min
      // itself, which emits (hi, m) exactly once per hi
      val out = withM
        .select(
          when(col("lo") === col("m"), col("hi")).otherwise(col("lo")).as("hi"),
          col("m").as("lo"))
        .filter(col("hi") =!= col("lo"))
      // same single-key exchange trick as largeStarPass: dedup rides a
      // hash(hi) exchange whose partitioning the NEXT consumer can reuse
      if (legacy || !singleKeyDedup(e)) out.distinct()
      else out.repartition(col("hi")).distinct()
    }

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
    // r20 experiment, measured and REJECTED: running two large/small pass
    // pairs per checkpoint+fingerprint job (halving job barriers; sound —
    // any pass that changes the edge set strictly decreases the Kiveris
    // potential, so pair-boundary fingerprint equality implies the true
    // fixpoint) measured 0.88× median on the interleaved A/B across the
    // four stars consumers: the extra post-fixpoint passes and the deeper
    // per-job plans cost more than the saved barriers. One pass per job
    // kept.
    while (!converged && it < maxIter) {
      // LAZY checkpoint + fused convergence probe (guide §1.2 — don't
      // compute things twice): with an eager checkpoint each round paid
      // TWO jobs — one to materialize the rewired edge set, one to
      // fingerprint it. The lazy checkpoint lets the fingerprint
      // aggregate (which reads every row and both columns, so nothing is
      // pruned) be the materializing action: one job does both, and every
      // later consumer (the next round's union, the converged read-off)
      // reads the persisted blocks. Costs the recovered output layout
      // (eager-only, see localCheckpointStatsFree) — worthless here, the
      // next round's union destroys partitioning anyway.
      // spark.graft.ccFusedProbe=false is the A/B hook back to eager +
      // separate probe job.
      val next = freshCheckpoint(
        smallStar(largeStarPass(edges)), eager = !fusedProbe(edges))
      val nfp = fingerprint(next)
      converged = nfp == fp
      fp = nfp
      edges = next
      it += 1
      if (sys.env.contains("GRAFT_CC_VERBOSE"))
        System.err.println(s"[cc-stars] iter $it edges=${nfp._1}")
    }
    lastRounds.put(roundsKey, it)
    lastConverged.put(roundsKey, converged)
    if (!converged) {
      // a truncated fixpoint would MISLABEL silently — the default
      // contract is to fail the job; `strict = false` callers get the
      // stderr warning plus the lastConverged flag and own the risk
      val msg =
        s"connectedComponentsStars ($roundsKey) did NOT converge in $maxIter iterations"
      if (strict) throw new IllegalStateException(s"[graft] $msg")
      System.err.println(s"[graft] $msg")
    }
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
    // r20 (guide §1.2 step 2): gram hashing rides the native codegen'd
    // HexNgramsExpr — one generated loop per row — instead of the
    // interpreted `transform(sequence…, slice+concat+md5)` chain (a boxed
    // lambda, a slice allocation and a concat per window position).
    // Identical values (same joined-by-space gram, same 16-hex md5
    // prefix); spark.graft.gramHof=true reverts for the interleaved A/B.
    val gramHof = documents.sparkSession.conf
      .getOption("spark.graft.gramHof").contains("true")
    def grams = // built per branch: both forms read `ws`
      if (gramHof)
        transform(
          sequence(lit(1), size(col("ws")) - lit(shingleK - 1)),
          i => substring(md5(concat_ws(" ", slice(col("ws"), i, lit(shingleK)))), 1, 16))
      else graft.functions.TextExpressions.hexNgrams(col("ws"), shingleK, 16)
    val shingledRaw = Parallelism.floor(documents)
      .select(col("doc_id"),
        graft.functions.TextExpressions.alnumTokens(col("text")).as("ws"))
      .filter(size(col("ws")) >= shingleK)
      .select(col("doc_id"), array_distinct(grams).as("ts"))
    val shingled =
      if (shingledRaw.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        shingledRaw.persist()
      else shingledRaw
    val tokens = shingled.select(col("doc_id"), explode(col("ts")).as("tok"))
    // set semantics upstream ⇒ count(*) is document frequency
    val dfCnt = tokens.groupBy("tok").agg(count(lit(1)).as("df"))
    val prefixesRaw = tokens
      .join(dfCnt, Seq("tok"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("tok")))).as("sorted"))
      .select(col("doc_id"), size(col("sorted")).as("sz"),
        posexplode(expr(
          s"transform(slice(sorted, 1, CAST(size(sorted) - ceil($t * size(sorted)) + 1 AS INT)), x -> x.tok)")))
      .select(col("doc_id"), col("sz"), (col("pos") + 1).as("p"), col("col").as("tok"))
    // r19 optimization (guide §5 — reuse beats recompute, measured by
    // PlanAudit): the candidate self-join consumes `prefixes` on BOTH
    // legs, and runtime exchange reuse does NOT fire across the a/b
    // aliases here — the audit showed the whole prefix pipeline (tokens ⋈
    // df counts → per-doc sort → posexplode) executed twice, two
    // pairwise-identical 13 MB + 9 MB exchanges. Persist it once (same
    // idiom as the shingle frame; resetSessionState releases it).
    val prefixes =
      if (prefixesRaw.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        prefixesRaw.persist()
      else prefixesRaw
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
    val toksRaw = Parallelism.floor(documents).select(col("doc_id"),
      graft.functions.TextExpressions.alnumTokens(col("text")).as("ws"))
    val toks =
      if (toksRaw.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        toksRaw.persist()
      else toksRaw
    // native gram hashing (r20, same rewrite/gate as setSimilarityJoin's
    // shingler): one generated md5 loop per row instead of the interpreted
    // transform(sequence…) chain; identical 16-hex gram values
    val gramHof = documents.sparkSession.conf
      .getOption("spark.graft.gramHof").contains("true")
    val grams =
      if (gramHof)
        transform(
          sequence(lit(1), size(col("ws")) - lit(k - 1)),
          i => substring(md5(concat_ws(" ", slice(col("ws"), i, lit(k)))), 1, 16))
      else graft.functions.TextExpressions.hexNgrams(col("ws"), k, 16)
    val posRaw = toks
      .filter(size(col("ws")) >= k)
      .select(col("doc_id"), posexplode(grams))
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
