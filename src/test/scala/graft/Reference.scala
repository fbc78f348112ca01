package graft

import graft.functions.TextExpressions
import graft.ops.Dedup
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference implementations the production operators are pinned against.
  *
  * Graph operators get exact driver-side Scala models over plain
  * collections (union-find, synchronous label propagation, the integer
  * fixed-point PageRank, large-star/small-star rewiring). Native Catalyst
  * expressions get the higher-order-function column chains they replaced,
  * evaluated by Spark itself. Composite and relational operators get their
  * plain sequential or window formulations. Each reference states only the
  * semantics, never the production execution shape, so a spec that
  * compares the two pins behaviour while leaving the plan free to change.
  */
object Reference {

  // ---- graph operators: exact driver-side models -------------------------

  /** Component labels (component min) by union-find with path compression
    * over the vertices `0 until nVerts`. */
  def unionFindLabels(nVerts: Int, edges: Seq[(Long, Long)]): Map[Long, Long] =
    unionFindLabels(0L until nVerts.toLong, edges)

  /** Component labels (component min) of every vertex in `verts`; edge
    * endpoints outside `verts` still link components. */
  def unionFindLabels(verts: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = parent.getOrElseUpdate(x, x)
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val next = parent(c); parent(c) = r; c = next }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      // union by min id: the root of every tree is its smallest member
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    verts.map(v => v -> find(v)).toMap
  }

  /** The `(doc_id, cluster_id, keep)` rows a connected-components operator
    * must return for `verts`. */
  def componentRows(verts: Seq[Long], edges: Seq[(Long, Long)]): Seq[(Long, Long, Boolean)] = {
    val labels = unionFindLabels(verts, edges)
    verts.sorted.map(v => (v, labels(v), labels(v) == v))
  }

  /** Both orientations of every pair, duplicates kept: the edge multiset
    * label propagation and PageRank run over. */
  private def bidirected(pairs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    pairs ++ pairs.map(_.swap)

  /** Synchronous label propagation: every round, each vertex adopts the
    * label most frequent among its neighbours' previous-round labels
    * (count DESC, then label ASC), counted over the bidirected pair
    * multiset; a vertex without neighbours in `verts` keeps its label. */
  def labelPropagation(
      pairs: Seq[(Long, Long)], verts: Seq[Long], rounds: Int): Map[Long, Long] = {
    val edges = bidirected(pairs)
    var labels = verts.map(v => v -> v).toMap
    for (_ <- 1 to rounds) {
      val votes = edges.collect { case (src, dst) if labels.contains(dst) => src -> labels(dst) }
      val winner = votes.groupBy(_._1).map { case (src, vs) =>
        val counts = vs.groupBy(_._2).map { case (lab, xs) => lab -> xs.size }
        src -> counts.minBy { case (lab, c) => (-c, lab) }._1
      }
      labels = labels.map { case (v, l) => v -> winner.getOrElse(v, l) }
    }
    labels
  }

  /** Integer fixed-point PageRank over the bidirected pair multiset:
    * ranks in 1e-9 units, start at `1e9 div n`, each edge carries
    * `r div outdeg`, and a vertex's next rank is
    * `150000000 div n + 85·m div 100` for incoming mass `m`. Returns
    * `doc_id -> (degree, rank_fp)` for every vertex. */
  def pageRank(
      pairs: Seq[(Long, Long)], verts: Seq[Long], iters: Int = 3): Map[Long, (Long, Long)] = {
    val n = verts.size.toLong
    val edges = bidirected(pairs)
    val outdeg = edges.groupBy(_._1).map { case (v, es) => v -> es.size.toLong }
    var ranks = verts.map(v => v -> 1000000000L / n).toMap
    for (_ <- 0 until iters) {
      val mass = edges
        .collect { case (src, dst) if ranks.contains(src) => dst -> ranks(src) / outdeg(src) }
        .groupBy(_._1).map { case (v, cs) => v -> cs.map(_._2).sum }
      ranks = verts.map(v => v -> (150000000L / n + 85L * mass.getOrElse(v, 0L) / 100)).toMap
    }
    verts.map(v => v -> (outdeg.getOrElse(v, 0L), ranks(v))).toMap
  }

  /** Canonical downhill edge set: (max, min) per pair, self-loops dropped. */
  def canonicalEdges(pairs: Seq[(Long, Long)]): Set[(Long, Long)] =
    pairs.collect { case (a, b) if a != b => (math.max(a, b), math.min(a, b)) }.toSet

  /** One large-star pass over canonical edges: for every vertex u with
    * m = min(Γ(u) ∪ {u}), each strictly larger neighbour links to m. */
  def largeStar(e: Set[(Long, Long)]): Set[(Long, Long)] = {
    val bidir = e.toSeq.flatMap { case (hi, lo) => Seq(hi -> lo, lo -> hi) }
    val m = bidir.groupBy(_._1).map { case (u, ns) => u -> math.min(u, ns.map(_._2).min) }
    bidir.collect { case (u, nbr) if nbr > u => (nbr, m(u)) }.toSet
  }

  /** One small-star pass over canonical edges: for every hi with
    * m = min of its smaller neighbours, hi and its other smaller
    * neighbours link to m. */
  def smallStar(e: Set[(Long, Long)]): Set[(Long, Long)] = {
    val m = e.groupBy(_._1).map { case (hi, es) => hi -> es.map(_._2).min }
    e.map { case (hi, lo) => (if (lo == m(hi)) hi else lo, m(hi)) }
      .filter { case (a, b) => a != b }
  }

  /** Large-star/small-star fixpoint: labels of `verts` and the number of
    * pass pairs run, the last being the one that changed nothing. */
  def starsLabels(pairs: Seq[(Long, Long)], verts: Seq[Long]): (Map[Long, Long], Int) = {
    var e = canonicalEdges(pairs)
    var rounds = 0
    var converged = false
    while (!converged) {
      val next = smallStar(largeStar(e))
      converged = next == e
      e = next
      rounds += 1
    }
    val label = e.groupBy(_._1).map { case (hi, es) => hi -> es.map(_._2).min }
    (verts.map(v => v -> label.getOrElse(v, v)).toMap, rounds)
  }

  // ---- native expressions: the higher-order-function chains -------------

  // the MinHash universal-hash family, stated independently of Dedup's
  val HashPrime = 2147483647L
  def hashA(k: Int): Long = 1000003L + 2L * k
  def hashB(k: Int): Long = 12345L + 7L * k

  /** (doc_id, band_idx, band_hash) banded MinHash signatures with the
    * minima computed by `array_min(transform(...))` over the per-shingle
    * md5 base hashes. */
  def bandedSignatures(documents: DataFrame): DataFrame = {
    val withH = documents
      .select(col("doc_id"),
        TextExpressions.shingles(col("text"), Dedup.ShingleWidth, Dedup.ShingleStep).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"),
        transform(col("sh"),
          s => conv(substring(md5(s), 1, 8), 16, 10).cast("long")).as("hvs"))
    val mins = (0 until Dedup.NumHashes).map(k =>
      array_min(transform(col("hvs"),
        h => pmod(lit(hashA(k)) * h + lit(hashB(k)), lit(HashPrime)))).as(s"h$k"))
    val perBand = Dedup.NumHashes / Dedup.NumBands
    val bandCols = (0 until Dedup.NumBands).map { b =>
      val slice = (0 until perBand).map(j => col(s"h${b * perBand + j}"))
      struct(lit(b).as("band_idx"), md5(concat_ws("|", slice: _*)).as("band_hash"))
    }
    withH.select(col("doc_id") +: mins: _*)
      .select(col("doc_id"), explode(array(bandCols: _*)).as("b"))
      .select(col("doc_id"), col("b.band_idx"), col("b.band_hash"))
  }

  /** The 16-hex md5 prefix of every space-joined k-token window of `ws`
    * (requires `size(ws) >= k`). */
  def hexNgrams(ws: Column, k: Int): Column =
    transform(
      sequence(lit(1), size(ws) - lit(k - 1)),
      i => substring(md5(concat_ws(" ", slice(ws, i, lit(k)))), 1, 16))

  /** For every n-token window of `ws` (requires `size(ws) >= n`), the
    * unmasked hash (d = −1) and the n hashes with position d replaced by
    * `#`, as (pos, d, vh) structs. */
  def fuzzyVariants(ws: Column, n: Int): Column =
    flatten(transform(
      sequence(lit(1), size(ws) - lit(n - 1)),
      i => transform(sequence(lit(-1), lit(n - 1)), d =>
        struct(
          i.as("pos"), d.as("d"),
          substring(md5(concat_ws(" ",
            when(d === -1, slice(ws, i, lit(n)))
              .otherwise(concat(
                slice(ws, i, d),
                array(lit("#")),
                slice(ws, i + d + 1, lit(n - 1) - d))))), 1, 16)
            .as("vh")))))

  // ---- composite and relational operators --------------------------------

  /** centralKeep run sequentially: stars clusters joined with PageRank,
    * the most central member per cluster picked by a rank window. */
  def centralKeep(documents: DataFrame): DataFrame = {
    val labels = Dedup.nearDupClusters(documents, useStars = true)
      .select("doc_id", "cluster_id")
    val pr = Dedup.nearDupPageRank(documents).select("doc_id", "rank_fp")
    val byRank = Window.partitionBy("cluster_id").orderBy(col("rank_fp").desc, col("doc_id"))
    labels.join(pr, Seq("doc_id"))
      .withColumn("rn", row_number().over(byRank))
      .withColumn("n_members", count(lit(1)).over(Window.partitionBy("cluster_id")))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("n_members"),
        col("doc_id").as("kept_id"), col("rank_fp"))
      .orderBy("cluster_id")
  }

  /** Relational.percentiles through Spark's buffering `percentile`
    * aggregate. */
  def percentiles(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy("l_returnflag")
      .agg(
        round(expr("percentile(l_quantity, 0.5)"), 4).as("p50_qty"),
        round(expr("percentile(l_extendedprice, 0.95)"), 4).as("p95_price"),
        round(expr("percentile(l_extendedprice, 0.99)"), 4).as("p99_price"))
      .orderBy("l_returnflag")

  /** Relational.dedupByKeyDeterministic as a `row_number` window over the
    * total order (l_linenumber, l_partkey, l_suppkey, l_quantity). */
  def dedupByKey(lineitem: DataFrame): DataFrame = {
    val w = Window.partitionBy("l_orderkey")
      .orderBy("l_linenumber", "l_partkey", "l_suppkey", "l_quantity")
    lineitem
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
      .orderBy("l_orderkey")
  }
}
