package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ArrayNode
import graft.etl.JsonSink
import graft.functions.TextExpressions
import graft.ops.Dedup
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
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
  * The trade ETL's JSON sink and CSV header read are pinned against the
  * forms production replaced: Spark's own schema inference and the
  * driver-side Jackson pretty-printer.
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

  /** Rounds [[Dedup.connectedComponents]]' contraction loop takes on raw
    * `edges` that its local forest leaves as they are (one edge per input
    * partition): per round, the supervertex min m(l) = min(l, neighbours
    * of l) composed once with itself (m := m∘m), then the edges contract
    * to the distinct (m(u), m(v)) with self-loops dropped. Relabelling the
    * vertices through m moves no edge, so it leaves the count alone. The
    * loop stops after the first empty contraction, or after
    * [[Dedup.EscalateAfter]] rounds (the escalation point). A row with a
    * null endpoint links nothing; callers leave it out.
    */
  def contractionRounds(edges: Seq[(Long, Long)]): Int = {
    var e = edges.distinct
    var rounds = 0
    var more = true
    while (more) {
      val m0 = bidirected(e).groupBy(_._1).map { case (l, ns) => l -> math.min(l, ns.map(_._2).min) }
      val m = m0.map { case (l, x) => l -> m0(x) }
      e = e.map { case (u, v) => (m(u), m(v)) }.filter { case (u, v) => u != v }.distinct
      rounds += 1
      more = e.nonEmpty && rounds < Dedup.EscalateAfter
    }
    rounds
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

  // ---- the trade ETL's extract and sink ----------------------------------

  /** The schema Spark infers for a header CSV with `inferSchema` off: a
    * `take(1)` job over the file's non-empty lines, then the safe header. */
  def inferredCsvSchema(spark: SparkSession, path: String): StructType =
    spark.read.option("header", "true").csv(path).schema

  /** The driver-side JSON array sink: drain `toJSON` partition by
    * partition, re-parse every record with Jackson and pretty-print the
    * array on the driver. The same `maxRows` guard. Returns the record
    * count. */
  def writeSingleJsonArray(df: DataFrame, path: String,
      maxRows: Long = JsonSink.DefaultMaxRows): Long = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = df.toJSON.toLocalIterator()
    while (it.hasNext) {
      require(
        buf.length < maxRows,
        s"writeSingleJsonArray: more than maxRows=$maxRows rows; use DataFrame.write.json for large outputs")
      buf += it.next()
    }
    val rows: Seq[String] = buf.toSeq
    val mapper = new ObjectMapper()
    val arr: ArrayNode = mapper.createArrayNode()
    rows.foreach { r => arr.add(mapper.readTree(r): JsonNode) }
    val writer = mapper.writerWithDefaultPrettyPrinter()
    Files.write(Paths.get(path), writer.writeValueAsBytes(arr))
    rows.length.toLong
  }

  // ---- versioned tables: the manifest read in full ------------------------

  /** One data file of a versioned-table snapshot as its manifest entry
    * records it: path, footer rows, integral zones, string zones (lower
    * side and optional upper side, truncation stars dropped) and member
    * blooms. */
  final case class ManifestFile(
      path: String, rows: Option[Long],
      zones: Map[String, (Long, Long)],
      strZones: Map[String, (Array[Byte], Option[Array[Byte]])],
      blooms: Map[String, Array[Byte]])

  /** Every data file of `table`'s snapshot at `version`, read the long
    * way: each manifest of the carry chain is read whole, the chain is
    * applied oldest first (`R:` lines drop a carried entry by path, every
    * other entry line appends), tombstones (`D:`) are dropped and each
    * data entry's `#` segments are decoded on their own. No header line
    * (rollup, index, count) is consulted beyond `carry=`. */
  def manifestFiles(table: String, version: Long): Seq[ManifestFile] = {
    def pathOf(e: String): String =
      (if (e.startsWith("D:")) e.split(":", 3)(2) else e).takeWhile(_ != '#')
    def resolve(v: Long): Vector[String] = {
      val (headers, body) = manifestSections(table, v)
      val base = carryOf(headers)
        .fold(Vector.empty[String])(c => resolve(c))
      val gone = body.filter(_.startsWith("R:")).map(_.drop(2)).toSet
      base.filterNot(e => gone(pathOf(e))) ++ body.filterNot(_.startsWith("R:"))
    }
    val b64 = java.util.Base64.getDecoder
    def cells(seg: String): Seq[(String, String)] =
      seg.split(';').toSeq.filter(_.contains('=')).map { kv =>
        val eq = kv.indexOf('='); (kv.take(eq), kv.drop(eq + 1))
      }
    resolve(version).filterNot(_.startsWith("D:")).map { e =>
      val seg = e.split("#", -1).lift
      val zones = cells(seg(2).getOrElse("")).map { case (c, z) =>
        val Array(mn, mx) = z.split("\\.\\.", -1); c -> (mn.toLong, mx.toLong)
      }.toMap
      val strZones = cells(seg(4).getOrElse("")).map { case (c, z) =>
        val Array(lo, hi) = z.split("\\.\\.", -1).map(_.stripSuffix("*"))
        c -> (b64.decode(lo), Some(hi).filter(_.nonEmpty).map(b64.decode))
      }.toMap
      val blooms = cells(seg(5).getOrElse("")).map { case (c, b) =>
        c -> b64.decode(b)
      }.toMap
      ManifestFile(pathOf(e),
        seg(1).flatMap(_.takeWhile(_ != '@').toLongOption), zones, strZones, blooms)
    }
  }

  /** Each commit directory's integral rollup cells (`rollup=<dir>
    * col=<min>..<max>;…` header lines, string `s~` and member `b~` cells
    * skipped) along the carry chain of `table` at `version`: the newest
    * manifest's line for a directory wins, and within one manifest the
    * first. Entry lines are not read. */
  def manifestRollups(table: String, version: Long): Map[String, Map[String, (Long, Long)]] = {
    val (headers, _) = manifestSections(table, version)
    val own = headers.filter(_.startsWith("rollup=")).reverse.map { l =>
      val Array(dir, cells) = l.stripPrefix("rollup=").split(" ", 2)
      dir -> cells.split(';').toSeq
        .filterNot(c => c.startsWith("s~") || c.startsWith("b~"))
        .filter(_.contains("..")).map { kv =>
          val eq = kv.indexOf('=')
          val Array(mn, mx) = kv.drop(eq + 1).split("\\.\\.", -1)
          kv.take(eq) -> (mn.toLong, mx.toLong)
        }.toMap
    }.toMap
    carryOf(headers).fold(Map.empty[String, Map[String, (Long, Long)]])(
      manifestRollups(table, _)) ++ own
  }

  /** One manifest's header lines and entry lines, in file order. */
  private def manifestSections(table: String, v: Long): (List[String], List[String]) = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(table, "_manifest", s"$v.manifest")).asScala.toList
      .span(l => !(l.startsWith("data/") || l.startsWith("D:") || l.startsWith("R:")))
  }

  private def carryOf(headers: List[String]): Option[Long] =
    headers.find(_.startsWith("carry=")).map(_.stripPrefix("carry=").toLong)

  /** The paths of `files` a planner may keep for a conjunction of
    * integral ranges, string ranges (unsigned byte order, either side
    * open) and member probe groups (a group is a disjunction of element
    * hashes), judged file by file. A file keeps unless one of its own
    * records positively excludes a conjunct; a file that records nothing
    * for a column is kept. */
  def prunedFiles(
      files: Seq[ManifestFile],
      bounds: Map[String, (Long, Long)],
      strBounds: Map[String, (Option[Array[Byte]], Option[Array[Byte]])],
      probes: Seq[(String, Seq[Long])]): Seq[String] = {
    def le(a: Array[Byte], b: Array[Byte]) = java.util.Arrays.compareUnsigned(a, b) <= 0
    files.filter { f =>
      bounds.forall { case (c, (lo, hi)) =>
        f.zones.get(c).forall { case (mn, mx) => mn <= hi && mx >= lo }
      } && strBounds.forall { case (c, (lo, hi)) =>
        f.strZones.get(c).forall { case (zlo, zhi) =>
          hi.forall(le(zlo, _)) && lo.forall(l => zhi.forall(le(l, _)))
        }
      } && probes.forall { case (c, hs) =>
        f.blooms.get(c).forall(b =>
          hs.exists(h => graft.functions.MemberBloom.mightContain(b, h)))
      }
    }.map(_.path)
  }
}
