package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class DocsCheckSpec extends AnyFunSuite {
  // components {0,1,2}, {3,4}, {5}
  private val ids = (0L to 5L)
  private val edges = Seq((1L, 0L), (2L, 1L), (4L, 3L))
  private val labels = Seq(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 3L, 5L -> 5L)

  test("union-find components take the smallest member as label") {
    assert(DocsCheck.components(ids, edges) == labels.toMap)
  }

  test("partition accepts any labelling of the same components") {
    assert(DocsCheck.partition("cc", ids, edges, labels).isEmpty)
    val renamed = labels.map { case (d, l) => d -> (l + 100) }
    assert(DocsCheck.partition("cc", ids, edges, renamed).isEmpty)
  }

  test("partition rejects one relabelled doc") {
    val moved = labels.map { case (d, l) => if (d == 4L) d -> 0L else d -> l }
    assert(DocsCheck.partition("cc", ids, edges, moved).nonEmpty)
    val split = labels.map { case (d, l) => if (d == 2L) d -> 2L else d -> l }
    assert(DocsCheck.partition("cc", ids, edges, split).nonEmpty)
    assert(DocsCheck.partition("cc", ids, edges, labels.tail).nonEmpty)
  }

  test("label propagation needs exactly one label per doc") {
    val lp = labels.map { case (d, l) => d -> Option(l) }
    assert(DocsCheck.oneLabelEach(ids, lp).isEmpty)
    assert(DocsCheck.oneLabelEach(ids, lp :+ (1L -> Some(1L))).nonEmpty)
    assert(DocsCheck.oneLabelEach(ids, lp.tail).nonEmpty)
    assert(DocsCheck.oneLabelEach(ids, lp.updated(0, 0L -> None)).nonEmpty)
  }

  test("centralKeep keeps exactly one member per component") {
    val rows = Seq((0L, 3L, 1L), (3L, 2L, 4L), (5L, 1L, 5L))
    assert(DocsCheck.oneKeptPerComponent(ids, edges, rows).isEmpty)
    val twoInOne = Seq((0L, 3L, 1L), (3L, 2L, 2L), (5L, 1L, 5L))
    assert(DocsCheck.oneKeptPerComponent(ids, edges, twoInOne).nonEmpty)
    assert(DocsCheck.oneKeptPerComponent(ids, edges, rows.tail).nonEmpty)
  }
}
