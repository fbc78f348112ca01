package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.ops.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.File
import scala.jdk.CollectionConverters._

/** Driver-side reference answers for the near-duplicate graph ops. */
object DocsCheck {

  /** Connected components of `edges` over `ids`, as vertex -> component min. */
  def components(ids: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    ids.foreach(i => parent(i) = i)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val n = parent(y); parent(y) = r; y = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    ids.map(i => i -> find(i)).toMap
  }

  /** The engine's labelling must induce the same partition of `ids` as the
    * union-find components of `edges`.
    */
  def partition(what: String, ids: Seq[Long], edges: Seq[(Long, Long)],
      labels: Seq[(Long, Long)]): Seq[String] = {
    val comp = components(ids, edges)
    val got = labels.toMap
    if (labels.size != ids.size || got.keySet != ids.toSet)
      return Seq(s"$what labels ${labels.size} rows for ${ids.size} docs")
    // same partition <=> the label <-> component-min map is a bijection
    val pairs = ids.map(i => got(i) -> comp(i)).distinct
    val byLabel = pairs.groupBy(_._1).filter(_._2.size > 1)
    val byComp = pairs.groupBy(_._2).filter(_._2.size > 1)
    (byLabel.keys.take(3).map(l => s"$what label $l spans several components") ++
      byComp.keys.take(3).map(c => s"$what splits the component of doc $c")).toSeq
  }

  /** Label propagation: exactly one non-null label for every doc. */
  def oneLabelEach(ids: Seq[Long], rows: Seq[(Long, Option[Long])]): Seq[String] = {
    val counts = rows.groupBy(_._1).map { case (k, v) => k -> v.size }
    val missing = ids.filterNot(counts.contains)
    val multi = counts.filter(_._2 > 1).keys
    val nulls = rows.filter(_._2.isEmpty).map(_._1)
    val extra = counts.keySet -- ids
    (missing.take(3).map(d => s"lp: doc $d has no label") ++
      multi.take(3).map(d => s"lp: doc $d has several labels") ++
      nulls.take(3).map(d => s"lp: doc $d has a null label") ++
      extra.take(3).map(d => s"lp: unknown doc $d")).toSeq
  }

  /** centralKeep: one row per component, keeping one of its own members. */
  def oneKeptPerComponent(ids: Seq[Long], edges: Seq[(Long, Long)],
      rows: Seq[(Long, Long, Long)]): Seq[String] = {
    val comp = components(ids, edges)
    val sizes = comp.values.groupBy(identity).map { case (c, v) => c -> v.size.toLong }
    val errs = Seq.newBuilder[String]
    if (rows.size != sizes.size) errs += s"central_keep: ${rows.size} rows for ${sizes.size} components"
    val keptComps = rows.flatMap { case (_, _, kept) => comp.get(kept) }
    keptComps.groupBy(identity).filter(_._2.size > 1).keys.take(3)
      .foreach(c => errs += s"central_keep keeps several docs of component $c")
    rows.filterNot { case (_, n, kept) => comp.get(kept).exists(c => sizes(c) == n) }.take(3)
      .foreach { case (cl, n, kept) => errs += s"central_keep cluster $cl keeps $kept with $n members" }
    errs.result()
  }
}

/** The graph ops of `dedup_sql`: the near-duplicate graph family over a
  * corpus with planted Zipf-sized families. A pass is one op,
  * `nearDupClusters`: native MinHash LSH buckets, then connected components
  * by label contraction with eager checkpoints. The op is the `Dedup` call, timed by itself, and a collect of
  * its result, which is checked after the pass against a driver-side
  * union-find over the engine's LSH candidate pairs. After the passes those
  * pairs, the registry query `q_docs_lsh_pairs`, go to the DuckDB oracle,
  * which recomputes shingles, MinHash and bands on its own, so the labels
  * are checked against a graph the engine did not compute. Traced runs also
  * time and check, once each, the stars engine, label propagation,
  * `centralKeep` and `simhashClusters`.
  */
final class DocsWorkload(spark: SparkSession, inputs: String, work: String, tracer: Tracer)
    extends Workload {
  private val path = s"$inputs/documents.parquet"
  private def docs: DataFrame = spark.read.parquet(path)

  /** Planted family of each doc id (-1: planted as unique). */
  private val family: IndexedSeq[Int] = new ObjectMapper()
    .readTree(new File(s"$inputs/families.json")).elements().asScala.map(_.asInt).toIndexedSeq
  private val ids: Seq[Long] = family.indices.map(_.toLong)
  val inputRowsPerPass: Long = family.size.toLong

  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  /** The LSH candidate pairs, the graph whose components the ops label. */
  private lazy val lshPairs = pairs(Dedup.lshCandidatePairs(docs))

  private def labels(df: DataFrame): Seq[(Long, Long)] =
    df.select("doc_id", "cluster_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  private def centralKept(df: DataFrame): Seq[(Long, Long, Long)] =
    df.select("cluster_id", "n_members", "kept_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  def pass(): Seq[Op] = Seq(
    Op("cc", () => {
      val df = tracer.span("Dedup.nearDupClusters")(Dedup.nearDupClusters(docs))
      val got = tracer.span("collect")(labels(df))
      () => DocsCheck.partition("cc", ids, lshPairs, got)
    }))

  override def verify(): Seq[(String, Seq[String])] =
    Seq("cc" -> Workload.writeForOracle(spark, inputs, work, "cc", "q_docs_lsh_pairs"))

  private def timeS[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime(); val r = body; ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Times one Dedup call and the collect of its result; fails loudly on a
    * wrong answer, since a probe is not a timed op that could be counted.
    */
  private def probe[T](what: String)(call: => DataFrame)(read: DataFrame => T)(
      check: T => Seq[String]): Double = {
    val (s, got) = timeS(read(call))
    val errs = check(got)
    require(errs.isEmpty, s"$what: ${errs.mkString("; ")}")
    graft.SparkEntry.resetSessionState(spark)
    s
  }

  def layerMetrics(t: TracedRun): Map[String, Double] = {
    val centralKeepS = probe("central_keep")(Dedup.centralKeep(docs))(centralKept)(
      DocsCheck.oneKeptPerComponent(ids, lshPairs, _))
    val starsS = probe("cc_stars")(Dedup.nearDupClusters(docs, useStars = true))(labels)(
      DocsCheck.partition("cc_stars", ids, lshPairs, _))
    val lpS = probe("lp")(Dedup.labelPropagation(docs))(_.collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSeq)(
      DocsCheck.oneLabelEach(ids, _))
    val simEdges = pairs(Dedup.simhashNearDupPairs(docs, 3).select("id_a", "id_b"))
    val simhashS = probe("simhash_clusters")(Dedup.simhashClusters(docs))(labels)(
      DocsCheck.partition("simhash_clusters", ids, simEdges, _))
    val rounds = Dedup.lastRounds.asScala
    val within = lshPairs.count { case (a, b) => family(a.toInt) >= 0 && family(a.toInt) == family(b.toInt) }
    // the hub family's partition shows as the most unequal stage
    val skew = {
      val tasks = t.work(t.warmOps).tasks.groupBy(_.stage).values
        .filter(ts => ts.size >= 2 && ts.map(_.records).sum >= 1000)
      if (tasks.isEmpty) 0.0
      else tasks.map { ts =>
        val r = ts.map(_.records.toDouble)
        r.max / math.max(Stats.median(r), 1.0)
      }.max
    }
    def noopS(df: => DataFrame) = timeS(Workload.noop(df))._1
    Map(
      "dedup.minhash_s" -> noopS(Dedup.bandedSignatures(docs)),
      "dedup.lsh_edges_s" -> noopS(Dedup.lshClusterEdges(docs)),
      "dedup.cc_s" -> t.perPass(t.callSeconds(_, "Dedup.nearDupClusters")),
      "dedup.central_keep_s" -> centralKeepS,
      "dedup.cc_stars_s" -> starsS,
      "dedup.lp_s" -> lpS,
      "dedup.simhash_clusters_s" -> simhashS,
      "dedup.cc_rounds.contraction" -> rounds.getOrElse("cc_contraction", 0).toDouble,
      "dedup.cc_rounds.stars" -> rounds.getOrElse("cc_stars", 0).toDouble,
      "dedup.cc_rounds.simhash" -> rounds.getOrElse("cc_stars_simhash", 0).toDouble,
      "dedup.cc_rounds.central_keep" -> rounds.getOrElse("cc_stars_central_keep", 0).toDouble,
      "dedup.candidate_pairs" -> lshPairs.size.toDouble,
      "dedup.candidate_precision" -> within.toDouble / math.max(lshPairs.size, 1),
      "dedup.components" -> DocsCheck.components(ids, lshPairs).values.toSet.size.toDouble,
      "dedup.task_skew" -> skew) ++
      t.countsPerOp("dedup").filter(_._1 != "dedup.tasks_per_op")
  }
}
