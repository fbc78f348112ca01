package graft

import graft.ops.{Dedup, TextAnalysis}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Focused equivalence pins for the round-20 execution rewrites: each case
  * runs the rewritten operator against its legacy formulation (a
  * [[Reference]] model, the session-conf A/B gate where one remains, or the
  * legacy plan rebuilt inline) and asserts row-identical results. These
  * complement the DuckDB oracle: the oracle proves the registered query's
  * values; these pin the internal formulations so a rewrite cannot
  * silently change semantics.
  */
class R20RewriteSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kv.foreach { case (k, _) => spark.conf.unset(k) }
  }

  private def docs = {
    val s = spark; import s.implicits._
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta", "src0"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta", "src1"),
      (3L, "alpha beta gamma delta iota kappa lambda mu", "src1"),
      (4L, "completely different words here nothing shared at all", "src2"),
      (5L, "the quick brown fox and a lazy dog with the usual filler text", "src2"),
      (6L, "the quick brown fox and a lazy dog with the usual filler text", "src0"),
      (7L, "short", "src1")
    ).toDF("doc_id", "text", "source")
  }

  private def collectSorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("bidirectional-edge explode ≡ legacy union form (LP, PageRank, stars)") {
    val s = spark; import s.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (1L, 3L), (4L, 9L))
    val verts = 1L to 9L
    val pairsDf = pairs.toDF("doc_a", "doc_b")
    val vertsDf = verts.map(Tuple1(_)).toDF("doc_id")
    // the references bidirect as pairs ++ pairs.swapped: the union form
    val lp = Dedup.labelPropagationOnPairs(pairsDf, vertsDf, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lp == Reference.labelPropagation(pairs, verts, 3))
    val pr = Dedup.pageRankFromPairs(pairsDf, vertsDf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(pr == Reference.pageRank(pairs, verts))
    val reduced = Dedup.starReduceEdges(pairsDf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    val wantReduced = Reference.largeStar(Reference.canonicalEdges(pairs))
    assert(reduced == wantReduced)
    val stars = Dedup.connectedComponentsStars(Dedup.starReduceEdges(pairsDf), vertsDf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stars == Reference.starsLabels(wantReduced.toSeq, verts)._1)
    assert(stars == Reference.unionFindLabels(verts, pairs))
    SparkEntry.resetSessionState(spark)
  }

  test("LP single-exchange vote ≡ two-exchange chain") {
    val s = spark; import s.implicits._
    // vote-sensitive shape: ties and majority flips must break identically
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L), (4L, 6L), (5L, 6L))
      .toDF("doc_a", "doc_b")
    val verts = (1L to 8L).map(Tuple1(_)).toDF("doc_id")
    val now = collectSorted(Dedup.labelPropagationOnPairs(pairs, verts, 3))
    SparkEntry.resetSessionState(spark)
    val legacy = withConf("spark.graft.lpVoteRepartition" -> "false")(
      collectSorted(Dedup.labelPropagationOnPairs(pairs, verts, 3)))
    SparkEntry.resetSessionState(spark)
    assert(now == legacy, "repartitioned vote must be row-identical")
  }

  test("contraction CC active-set labels ≡ full-vertex iteration (singletons kept)") {
    val s = spark; import s.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    val verts = Seq(1L, 2L, 3L, 10L, 11L) ++ Seq(20L, 21L)
    val now = Dedup.connectedComponents(
        pairs.toDF("doc_a", "doc_b"), verts.map(Tuple1(_)).toDF("doc_id"), maxIter = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    SparkEntry.resetSessionState(spark)
    // union-find labels every vertex, so isolated ones label themselves
    assert(now == Reference.componentRows(verts, pairs),
      "active-set labels must be row-identical, singletons self-kept")
    assert(now.contains((20L, 20L, true)), s"singleton 20 must self-keep: $now")
  }

  test("contraction lazy-nbrMin fuse + overlapped contraction ≡ sequential eager loop") {
    val s = spark; import s.implicits._
    // a chain long enough to exercise several rounds (one edge per
    // partition, so the local forest cannot collapse it) plus a clique
    val chain = (1L until 40L).map(i => (i, i + 1))
    val clique = Seq((100L, 101L), (100L, 102L), (101L, 102L))
    val pairs = chain ++ clique
    val verts = (1L to 40L) ++ Seq(100L, 101L, 102L, 500L)
    val pairsDf = s.sparkContext.parallelize(pairs, pairs.size).toDF("doc_a", "doc_b")
    val now = Dedup.connectedComponents(
        pairsDf, verts.map(Tuple1(_)).toDF("doc_id"), maxIter = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    SparkEntry.resetSessionState(spark)
    assert(Dedup.lastRounds.get("cc_contraction") >= 2, "expected overlapped rounds")
    // the sequential model: union-find, one edge at a time
    assert(now == Reference.componentRows(verts, pairs),
      "fused/overlapped contraction must be row-identical")
  }

  test("ngramContamination gram-window form ≡ legacy aggregate + join-back") {
    val n = 3
    val out = collectSorted(TextAnalysis.ngramContamination(docs, n))
    // legacy formulation rebuilt verbatim (r19 shape)
    val withWords = docs.select(
      col("doc_id"), col("source"),
      graft.functions.TextExpressions.alnumTokens(col("text")).as("words"))
    val exploded = withWords
      .select(col("doc_id"), col("source"),
        explode(graft.functions.TextExpressions.hashedNgrams(col("words"), n)).as("gram"))
    val leaky = exploded
      .groupBy("gram").agg(countDistinct("source").as("n_sources"))
      .filter(col("n_sources") > 1).select("gram")
    val legacy = collectSorted(
      exploded.join(leaky, Seq("gram"))
        .groupBy("doc_id").agg(countDistinct("gram").as("leaked_grams"))
        .orderBy("doc_id"))
    assert(out == legacy, "window and join contamination counts must match")
    assert(out.nonEmpty, "fixture must actually leak grams across sources")
  }

  test("one-scan quality projections ≡ legacy join-back (dedupKeepBest, topQualityPerSource)") {
    val out1 = collectSorted(TextAnalysis.dedupKeepBest(docs))
    val out2 = collectSorted(TextAnalysis.topQualityPerSource(docs, n = 2))
    // legacy formulation: score separately, join back on doc_id
    val q = TextAnalysis.qualityScore(docs).select("doc_id", "quality")
    val legacy1 = collectSorted(
      q.join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(
          max_by(col("doc_id"), struct(col("quality"), -col("doc_id"))).as("best_id"),
          max("quality").as("best_quality"),
          count(lit(1)).as("copies"))
        .orderBy("best_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("quality").desc, col("doc_id"))
    val legacy2 = collectSorted(
      q.join(docs.select("doc_id", "source"), Seq("doc_id"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 2)
        .select(col("source"), col("rnk"), col("doc_id"), col("quality"))
        .orderBy("source", "rnk"))
    assert(out1 == legacy1, "one-scan dedupKeepBest must equal join-back form")
    assert(out2 == legacy2, "one-scan topQualityPerSource must equal join-back form")
  }

  test("native minhash mins ≡ HOF md5/affine chain (banded signatures)") {
    val s = spark; import s.implicits._
    // include unicode, short, and empty-ish texts so the md5 byte handling
    // and the size>0 filter are both exercised
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "übermäßig sträußchen çörek 文字 text"),
      (3L, "xy"),
      (4L, "the quick brown fox jumps over the lazy dog repeatedly")
    ).toDF("doc_id", "text")
    val now = collectSorted(Dedup.bandedSignatures(d))
    val hof = collectSorted(Reference.bandedSignatures(d))
    assert(now == hof, "native and HOF banded signatures must be row-identical")
    assert(now.size == 4 * Dedup.NumBands, s"every doc must band: $now")
  }

  /** Word sequences covering the tokenizer's domain: repeats, unicode
    * (which alnumTokens splits on), digits, and lengths on both sides of
    * every k/n under test. */
  private def wordDocs = {
    val s = spark; import s.implicits._
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta alpha beta gamma", "src0"),
      (2L, "alpha beta gamma delta different tail entirely here now okay", "src1"),
      (3L, "übermäßig sträußchen çörek tokens with unicode content mixed in", "src1"),
      (4L, "tiny doc", "src2"),
      (5L, "question what is the answer to this benchmark item 42", "src0"),
      (6L, "a b c", "src2"),
      (7L, "one two three four five six", "src1"),
      (8L, "", "src2")
    ).toDF("doc_id", "text", "source")
  }

  /** Native vs HOF arrays on the callers' domain: alnumTokens output with
    * the `size(ws) >= k` filter every caller applies. */
  private def onCallerDomain(k: Int)(native: Column, hof: Column) = {
    val ws = wordDocs
      .select(col("doc_id"), graft.functions.TextExpressions.alnumTokens(col("text")).as("ws"))
      .filter(size(col("ws")) >= k)
    val rows = ws.select(col("doc_id"), native.as("n"), hof.as("h")).collect()
    (rows.map(_.getLong(0)).toSet, rows.filter(r => r.get(1) != r.get(2)).map(_.getLong(0)).toSeq)
  }

  test("native hex n-grams ≡ HOF slice/concat/md5 chain (setsim + substring dedup)") {
    // setSimilarityJoin shingles at k = 3, the ExactSubstr family at k = 6
    for (k <- Seq(3, 4, 6)) {
      val (docs, diff) = onCallerDomain(k)(
        graft.functions.TextExpressions.hexNgrams(col("ws"), k, 16),
        Reference.hexNgrams(col("ws"), k))
      assert(docs.size >= 4, s"k=$k: fixture too short: $docs")
      assert(diff.isEmpty, s"k=$k: native and HOF gram hashes differ for docs $diff")
    }
  }

  test("native fuzzy variant hashes ≡ nested-HOF masked-gram chain") {
    // fuzzyContamination masks n = 5 token windows by default
    for (n <- Seq(4, 5)) {
      val (docs, diff) = onCallerDomain(n)(
        graft.functions.TextExpressions.fuzzyVariants(col("ws"), n, 16),
        Reference.fuzzyVariants(col("ws"), n))
      assert(docs.size >= 4, s"n=$n: fixture too short: $docs")
      assert(diff.isEmpty, s"n=$n: native and HOF variant hashes differ for docs $diff")
    }
  }

  test("tfidf df-from-tf ≡ distinct-based document frequency") {
    val out = collectSorted(TextAnalysis.tfidfTopTerms(docs, k = 2))
    SparkEntry.resetSessionState(spark)
    val nRow = docs.agg(count(lit(1)).as("g_n"))
    val toks = docs.select(
      col("doc_id"),
      explode(graft.functions.TextExpressions.alnumTokens(col("text"), minLen = 3))
        .as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = toks.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    val legacy = collectSorted(
      tf.join(dfreq, Seq("term"))
        .crossJoin(broadcast(nRow))
        .withColumn("score",
          col("tf") * log((col("g_n") + lit(1.0)) / (col("df") + lit(1.0))))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 2)
        .select(col("doc_id"), col("rnk"), col("term"), col("tf"), col("df"),
          round(col("score"), 6).as("tfidf"))
        .orderBy("doc_id", "rnk"))
    assert(out == legacy, "tf-derived df must equal distinct-based df")
  }
}
