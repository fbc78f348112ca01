package graft

import graft.ops.Relational
import org.apache.spark.sql.functions.expr
import org.scalatest.funsuite.AnyFunSuite

/** Pins the two relational behaviors the DuckDB oracle cannot grade:
  * the HLL sketch's accuracy (approximate by design — we assert the
  * relative-error contract instead of a value), and the output-edge
  * serialization of list-typed aggregation state.
  */
class RelationalSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  test("exactPercentiles matches Spark's buffering percentile BIT-exactly (unrounded)") {
    val sparkS = spark
    import sparkS.implicits._
    // adversarial shapes: heavy duplicates (equal interpolation endpoints),
    // odd/even group sizes (integral and fractional positions), negatives,
    // singleton groups, values whose products are inexact in binary
    val rnd = new scala.util.Random(42)
    val rows = (0 until 4000).map { i =>
      val g = s"g${i % 5}"
      val v = (i % 5) match {
        case 0 => rnd.nextInt(7).toDouble        // tiny domain: lots of ties
        case 1 => rnd.nextDouble() * 1000.0 - 500.0
        case 2 => 0.1 * rnd.nextInt(1000)        // inexact decimals
        case 3 => rnd.nextInt(3).toDouble - 1.0
        case _ => rnd.nextDouble()
      }
      val w = rnd.nextInt(20).toDouble * 0.7     // second unpivoted column
      (g, v, w)
    } :+ (("solo", 3.7, 11.3))                   // n = 1 group
    val df = rows.toDF("g", "v", "w")
    val psV = Seq("p00" -> 0.0, "p13" -> 0.13, "p50" -> 0.5, "p95" -> 0.95,
      "p999" -> 0.999, "p100" -> 1.0)
    val psW = Seq("w25" -> 0.25, "w77" -> 0.77)
    val all = psV ++ psW
    val mine = Relational.exactPercentiles(df, "g",
      Seq("v" -> psV, "w" -> psW))
      .collect().map(r => r.getString(0) ->
        all.indices.map(i => r.getDouble(i + 1)).toVector).toMap
    val ref = df.groupBy("g")
      .agg(expr("percentile(v, 0.0)"), expr("percentile(v, 0.13)"),
        expr("percentile(v, 0.5)"), expr("percentile(v, 0.95)"),
        expr("percentile(v, 0.999)"), expr("percentile(v, 1.0)"),
        expr("percentile(w, 0.25)"), expr("percentile(w, 0.77)"))
      .collect().map(r => r.getString(0) ->
        all.indices.map(i => r.getDouble(i + 1)).toVector).toMap
    assert(mine.keySet == ref.keySet)
    for (g <- ref.keySet; i <- all.indices)
      assert(java.lang.Double.doubleToLongBits(mine(g)(i)) ==
        java.lang.Double.doubleToLongBits(ref(g)(i)),
        s"group $g ${all(i)._1}: mine=${mine(g)(i)} ref=${ref(g)(i)}")
    // and the public query path agrees with the buffered query end to end
    val li = sparkS.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val buffered = Reference.percentiles(li).collect().map(_.toSeq).toSeq
    val cur = Relational.percentiles(li).collect().map(_.toSeq).toSeq
    assert(cur == buffered, s"buffered/new percentile paths diverge:\n $buffered\n $cur")
  }

  test("dedupByKeyDeterministic keeps the row_number window's row, ties on l_linenumber included") {
    val sparkS = spark
    import org.apache.spark.sql.functions._
    val li = sparkS.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    // the fixture must hold keys whose minimum l_linenumber is shared by
    // several rows, so the later order columns decide the kept row
    val tiedKeys = li
      .withColumn("first_line", min("l_linenumber").over(
        org.apache.spark.sql.expressions.Window.partitionBy("l_orderkey")))
      .filter(col("l_linenumber") === col("first_line"))
      .groupBy("l_orderkey").count().filter(col("count") > 1)
      .select("l_orderkey").collect().map(_.getLong(0)).toSet
    assert(tiedKeys.nonEmpty, "sf0.001 lineitem has no key tied on its first l_linenumber")
    val got = Relational.dedupByKeyDeterministic(li).collect().map(_.toSeq).toSeq
    val want = Reference.dedupByKey(li).collect().map(_.toSeq).toSeq
    assert(got.size == want.size && got.size == li.select("l_orderkey").distinct().count())
    assert(got == want, s"first diverging rows: ${got.diff(want).take(5)} vs ${want.diff(got).take(5)}")
    val tiedRows = got.filter(r => tiedKeys.contains(r.head.asInstanceOf[Long]))
    assert(tiedRows.nonEmpty && tiedRows == want.filter(r =>
      tiedKeys.contains(r.head.asInstanceOf[Long])))
  }

  test("approx_count_distinct stays within the default 5% rsd contract (3-sigma)") {
    val sparkS = spark
    import sparkS.implicits._
    // 3 groups with known distinct cardinalities: 1000, 500, 50.
    val df = (0 until 10000).map { i =>
      val g = i % 3
      val card = g match { case 0 => 1000; case 1 => 500; case _ => 50 }
      (g.toString, (i / 3) % card)
    }.toDF("l_returnflag", "l_partkey")
    val approx = Relational.approxAgg(df).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Relational.exactDistinctAgg(df).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    for ((g, ex) <- exact) {
      val relErr = math.abs(approx(g).toDouble - ex) / ex
      assert(relErr <= 0.15, s"group $g: approx=${approx(g)} exact=$ex relErr=$relErr")
    }
  }

  test("collectAgg renders sorted lists as canonical comma-joined text") {
    val sparkS = spark
    import sparkS.implicits._
    val orders = Seq(
      (7L, 30L, "O"), (7L, 2L, "F"), (7L, 100L, "O"),
      (8L, 5L, "P"))
      .toDF("o_custkey", "o_orderkey", "o_orderstatus")
    val r = Relational.collectAgg(orders).collect()
    // numeric sort (2 < 30 < 100), not lexicographic ("10" < "2")
    assert(r(0).getString(1) == "2,30,100")
    assert(r(0).getString(2) == "F,O")
    assert(r(1).getString(1) == "5")
    // scalar string output — no array-typed columns at the edge
    assert(Relational.collectAgg(orders).schema.fields.forall(
      f => !f.dataType.typeName.startsWith("array")))
  }

  test("qualityReport flags injected nulls, duplicate keys, bounds, and FK orphans") {
    val sparkS = spark
    import sparkS.implicits._
    val orders = Seq(
      (Some(1L), Some(10L), Some(100.0)),  // clean
      (Some(1L), Some(10L), Some(50.0)),   // duplicate o_orderkey
      (Some(2L), None, Some(-5.0)),        // null custkey + nonpositive price
      (Some(3L), Some(99L), None))         // null price + FK orphan (99 ∉ dim)
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
    val customer = Seq(10L).toDF("c_custkey")
    val out = Relational.qualityReport(orders, customer).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out("completeness_key") == ((0L, true)))
    assert(out("completeness_custkey") == ((1L, false)))
    assert(out("completeness_price") == ((1L, false)))
    assert(out("uniqueness_key_dups") == ((1L, false)))
    assert(out("bounds_nonpositive_price") == ((1L, false)))
    assert(out("bounds_max_price_cents") == ((10000L, true))) // informational
    // orphans: custkey 99 has no dim row; NULL custkey is a completeness
    // failure, not an orphan (anti-join null semantics keep it, so it
    // counts here too — both rows lack a dimension match)
    assert(out("referential_orphan_custkey")._2 == false)
  }

  test("rankedPrefix equals a sequential rank/prefix model on skewed input, with no global window") {
    val sparkS = spark
    import sparkS.implicits._
    import org.apache.spark.sql.functions._
    // Zipf-ish skew: half the keys share the minimum weight (one giant
    // tie range), a few dominate — the shape that breaks naive bucketing
    val rows = (1 to 4000).map { i =>
      val wgt = if (i % 2 == 0) 1L else (4000L / i) * 7L
      (f"k$i%05d", wgt)
    }
    val df = rows.toDF("key", "wgt").repartition(13) // scrambled input layout
    val ranked = Relational
      .rankedPrefix(df, Seq(col("wgt").desc, col("key")), col("wgt"))
      .select("key", "wgt", "g_rank", "g_prefix", "g_total")
    val out = ranked.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._3)
    val model = rows.sortBy { case (k, w) => (-w, k) }
      .scanLeft(("", 0L, 0L, 0L)) { case ((_, _, rk, pfx), (k, w)) => (k, w, rk + 1, pfx + w) }
      .tail
    val grand = rows.map(_._2).sum
    assert(out.length == model.length)
    out.zip(model).foreach { case (got, (k, w, rk, pfx)) =>
      assert(got == ((k, w, rk, pfx, grand)), s"rank $rk: got $got, want ($k,$w,$rk,$pfx,$grand)")
    }
    // and the executed plan must contain no partition-less window — the
    // whole point of the two-pass form
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExec
    def globalWindows(p: SparkPlan): Seq[WindowExec] = p.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => Seq(w)
      case a: AdaptiveSparkPlanExec                 => globalWindows(a.executedPlan)
      case q: QueryStageExec                        => globalWindows(q.plan)
    }.flatten
    val globals = globalWindows(ranked.queryExecution.executedPlan)
    assert(globals.isEmpty, s"global (partition-less) window in rankedPrefix plan: $globals")
  }
}
