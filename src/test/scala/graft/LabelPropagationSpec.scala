package graft

import graft.ops.Dedup
import org.scalatest.funsuite.AnyFunSuite

/** Planted-graph pins for bounded-round label propagation: min-label
  * tie-breaking, the bounded diffusion horizon that keeps two cores
  * separate across a single bridge (the property CC closure lacks), and
  * isolated-vertex stability.
  */
class LabelPropagationSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def run(pairs: Seq[(Long, Long)], verts: Seq[Long], rounds: Int = 3) = {
    val s = spark; import s.implicits._
    Dedup.labelPropagationOnPairs(
        pairs.toDF("doc_a", "doc_b"), verts.map(Tuple1(_)).toDF("doc_id"), rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("a clique converges to its minimum label; isolated vertices keep their own") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val out = run(k4, Seq(1L, 2L, 3L, 4L, 9L))
    assert(Seq(1L, 2L, 3L, 4L).forall(v => out(v) == 1L),
      s"clique must agree on label 1: $out")
    assert(out(9L) == 9L, "isolated vertex must keep its own label")
  }

  test("two bridged triangles stay two communities — where CC closure merges them") {
    // triangles {1,2,3} and {7,8,9} joined by the single bridge 3—7:
    // each bridge endpoint has 2 in-community neighbors vs 1 across, so
    // majority voting never imports the foreign label
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (7L, 8L), (7L, 9L), (8L, 9L), (3L, 7L))
    val verts = Seq(1L, 2L, 3L, 7L, 8L, 9L)
    val lp = run(pairs, verts)
    assert(Seq(1L, 2L, 3L).map(lp).distinct == Seq(1L), s"left triangle split: $lp")
    assert(Seq(7L, 8L, 9L).map(lp).distinct.size == 1, s"right triangle split: $lp")
    // the right community's LABEL may legitimately be an imported id (a
    // tie at the bridge endpoint pulls the global min across) — what must
    // hold is that the two cores end DISTINCT
    assert(lp(1L) != lp(8L), "bridge must not merge the two communities")
    // the CC labeling of the same graph IS merged — the contrast the
    // bounded-round detector exists for
    val s = spark; import s.implicits._
    val cc = Dedup.connectedComponents(
        pairs.toDF("doc_a", "doc_b"),
        verts.map(Tuple1(_)).toDF("doc_id"), maxIter = 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc(1L) == cc(8L), "sanity: closure merges across the bridge")
  }

  test("the vote tie breaks to the smaller label deterministically") {
    // vertex 5 sees one neighbor of each label → tie → smaller label wins
    val out = run(Seq((1L, 5L), (9L, 5L)), Seq(1L, 5L, 9L), rounds = 1)
    assert(out(5L) == 1L, s"tie must break low: $out")
  }

  test("the max-struct vote equals the legacy window vote, label for label") {
    // a messy planted graph with ties, bridges, hubs, and isolates — the
    // aggregate vote (max(struct(c, ~lab, lab))) must pick the
    // (c DESC, lab ASC) winner the legacy row_number window picked, on
    // every vertex and round count, including the ~lab tiebreak inversion
    val rnd = new scala.util.Random(7)
    val verts = (1L to 120L).toSeq
    val pairs = (Seq.tabulate(200)(i =>
      (rnd.nextInt(100).toLong + 1L, rnd.nextInt(120).toLong + 1L)) ++
      Seq((1L, 2L), (1L, 3L), (2L, 3L), (50L, 51L))) // planted clique + edge
      .filter { case (a, b) => a != b }.distinct
    for (rounds <- Seq(1, 3)) {
      val want = Reference.labelPropagation(pairs, verts, rounds)
      val got = run(pairs, verts, rounds)
      assert(got == want,
        s"vote must match the reference at rounds=$rounds: " +
          s"${want.toSeq.diff(got.toSeq).take(5)}")
    }
  }
}
