package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.etl.{EtlConfig, JsonSink, TradePipeline}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `JsonSink.writeSingleJsonArray` renders on the executors; its bytes are
  * pinned against `Reference.writeSingleJsonArray`, the driver-side
  * Jackson re-parse and pretty-print it replaced, on both ETL fixtures'
  * outputs and on frames built to reach every rendering difference
  * between Spark's JSON generator and the re-parse. Sorted frames are
  * pinned on every ordering shape the sink's merge reads: several keys,
  * directions, null orderings, expression keys and duplicate keys. The
  * `maxRows` guard and the sorted sink's one job are checked here too.
  * Needs no reference dataset.
  */
class JsonSinkSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private lazy val out = SparkTestBase.tempDir("json_sink")

  /** Both sinks' files for `df` as UTF-8 text; the two must return the same count. */
  private def bothSinks(name: String, df: DataFrame): (String, String) = {
    val got = out.resolve(s"$name.json")
    val want = out.resolve(s"$name.reference.json")
    val n = JsonSink.writeSingleJsonArray(df, got.toString)
    assert(Reference.writeSingleJsonArray(df, want.toString) == n)
    (Files.readString(got), Files.readString(want))
  }

  private def assertSameBytes(name: String, df: DataFrame): Unit = {
    val (got, want) = bothSinks(name, df)
    val at = got.zip(want).indexWhere { case (a, b) => a != b } match {
      case -1 => got.length min want.length
      case i => i
    }
    assert(got == want, s"$name: the executor-rendered array differs from the reference " +
      s"at char $at: ...${got.slice(at - 60, at + 60)}... vs ...${want.slice(at - 60, at + 60)}...")
  }

  Seq("etl_micro" -> "src/test/resources/etl_micro",
      "etl_pybench" -> "src/test/resources/etl_pybench/batch_00").foreach { case (fixture, d) =>
    test(s"both $fixture outputs have the reference sink's bytes") {
      val dir = Paths.get(d)
      assert(Files.isDirectory(dir), s"run from the repository root: ${dir.toAbsolutePath}")
      val r = TradePipeline.run(spark, s"$dir/trades.csv", s"$dir/counterparty_fills.csv",
        s"$dir/symbols_reference.csv", EtlConfig.default)
      try {
        assertSameBytes(s"$fixture.cleaned", r.cleanedTrades.orderBy("trade_id"))
        assertSameBytes(s"$fixture.exceptions", r.exceptions.orderBy("record_id"))
      } finally r.unpersist()
    }
  }

  test("every value shape the generator and the re-parse could render apart has the same bytes") {
    val df = spark.range(0, 5, 1, 2).selectExpr(
      "id",
      // omitted nulls, top level and inside a struct
      "CASE WHEN id % 2 = 0 THEN NULL ELSE concat('s', id) END AS maybe",
      """named_struct('k', id, 'absent', CASE WHEN id = 1 THEN 'x' END,
           'inner', named_struct('amount', CAST(id * 1.25 AS DECIMAL(10,2)))) AS nested""",
      "array(id, NULL, id + 1) AS arr",
      "CAST(array() AS ARRAY<INT>) AS empty_arr",
      "9223372036854775807L - id AS big_long",
      "element_at(array(1.0E-5D, 1.0E21D, -0.0D, double('NaN'), double('Infinity')), int(id) + 1) AS dbl",
      "array(123.45D, 100.0D, 0.1D + 0.2D, double('-Infinity'), 4.9E-324D) AS dbls",
      "CAST(id + 0.1 AS FLOAT) AS flt",
      "CAST(id * 7.05 AS DECIMAL(10,2)) AS dec_scaled",
      "CAST('0.00000001' AS DECIMAL(20,10)) AS dec_tiny",
      "CAST('12345678901234567890123456789012345678' AS DECIMAL(38,0)) AS dec_wide",
      "array(CAST(0.10 AS DECIMAL(5,2))) AS dec_arr",
      "map('k', CAST(2.5 AS DECIMAL(4,1))) AS dec_map",
      "'Zürich – 東京 😀 𝄞' AS non_ascii",
      "'x' AS `key 🔑`",
      """concat('say "hi" \\ ', char(9), char(10), char(13), char(1), char(31), char(127)) AS ctrl""",
      "TIMESTAMP'2024-01-15 10:00:00.123' AS ts",
      "id AS `a.b`")
    assertSameBytes("shapes", df)
    assertSameBytes("shapes_sorted", df.orderBy("id"))
  }

  test("an empty frame is an empty array") {
    val (got, want) = bothSinks("empty", spark.range(0, 0, 1, 3).toDF("id"))
    assert(got == "[ ]")
    assert(got == want)
  }

  test("a frame with more partitions than rows has the reference sink's bytes") {
    assertSameBytes("sparse", spark.range(0, 3, 1, 8).selectExpr("id", "concat('r', id) AS name"))
  }

  // a frame whose every sort below is a total order, so the reference's
  // range sort has one right answer; partitions of 10 rows each
  private lazy val keyed = spark.range(0, 40, 1, 4).selectExpr(
    "id",
    "id % 5 AS a",
    "CASE WHEN id % 7 = 0 THEN NULL ELSE id % 3 END AS b",
    "concat('r', id) AS name",
    "CASE WHEN id = 13 THEN NULL ELSE (id * 37) % 40 END AS solo",
    """CASE id WHEN 3 THEN NULL WHEN 5 THEN double('NaN') WHEN 7 THEN double('-Infinity')
         WHEN 11 THEN double('Infinity') ELSE (id - 20) * 1.5D END AS dbl""")

  test("multi-key, descending and nulls-first/last orderings have the reference sink's bytes") {
    assertSameBytes("desc_nulls_last",
      keyed.orderBy(col("a").desc, col("b").asc_nulls_last, col("id")))
    assertSameBytes("nulls_first_desc",
      keyed.orderBy(col("b").desc_nulls_first, col("name").desc))
    assertSameBytes("nulls_first_asc",
      keyed.orderBy(col("b").asc_nulls_first, col("a").desc_nulls_last, col("id").desc))
    assertSameBytes("expression_keys", keyed.orderBy((col("id") % 4).desc, col("id")))
  }

  test("null sort keys merge where the reference puts them") {
    assertSameBytes("one_null_key", keyed.orderBy("solo"))
    assertSameBytes("one_null_key_desc", keyed.orderBy(col("solo").desc))
    assertSameBytes("null_nan_infinity", keyed.orderBy(col("dbl").asc_nulls_last))
    assertSameBytes("null_nan_infinity_desc", keyed.orderBy(col("dbl").desc_nulls_first))
  }

  test("a sort on a column outside the output is written in partition order, as sorted") {
    val df = keyed.select("name", "a").orderBy(col("id").desc)
    assert(org.apache.spark.sql.GraftSqlInternals.localSort(df)._2.isEmpty,
      "the analyzer puts a projection above the sort, so the sink merges no keys")
    assertSameBytes("outside_key", df)
  }

  test("a sorted frame with more partitions than rows has the reference sink's bytes") {
    assertSameBytes("sparse_sorted",
      spark.range(0, 3, 1, 8).selectExpr("id", "concat('r', id) AS name").orderBy(col("id").desc))
  }

  test("duplicate sort keys merge in partition order, then row order") {
    // 3 partitions of 8 ids each, in id order, and 4 ids to a key. The
    // reference's range sort leaves equal keys in the order its shuffle
    // blocks arrive, which is not deterministic; only the records' multiset
    // is pinned to it. Equal keys here come from the lower partition
    // first, then in row order: ordered by (k, id), as the reference
    // writes a sort on both.
    val df = spark.range(0, 24, 1, 3).selectExpr("id % 6 AS k", "id")
    val (got, want) = bothSinks("dup_keys", df.orderBy("k"))
    def records(json: String): Seq[String] =
      new ObjectMapper().readTree(json).elements().asScala.map(_.toString).toSeq
    assert(records(got).sorted == records(want).sorted)
    val (_, byBoth) = bothSinks("dup_keys_total", df.orderBy("k", "id"))
    assert(got == byBoth)
  }

  test("a sorted frame's sink runs one job") {
    val df = keyed.orderBy("name")
    val path = out.resolve("one_job.json").toString
    val (n, jobs) = SparkTestBase.countingJobs(JsonSink.writeSingleJsonArray(df, path))
    assert(n == 40L)
    assert(jobs == 1, s"expected the render job alone, saw $jobs jobs")
  }

  test("the guard trips on a sorted frame and writes no file") {
    val path = out.resolve("sorted_never.json")
    val e = intercept[IllegalArgumentException] {
      JsonSink.writeSingleJsonArray(spark.range(0, 12, 1, 4).toDF("id").orderBy("id"),
        path.toString, maxRows = 10)
    }
    assert(e.getMessage.contains("maxRows"))
    assert(!Files.exists(path))
  }

  test("JsonSink maxRows guard trips before buffering past the limit") {
    val df = spark.range(100).toDF("id")
    val path = Files.createTempFile(out, "sink", ".json").toString
    val e = intercept[IllegalArgumentException] {
      JsonSink.writeSingleJsonArray(df, path, maxRows = 10)
    }
    assert(e.getMessage.contains("maxRows"))
    // and under the limit it writes the full array
    assert(JsonSink.writeSingleJsonArray(df.limit(5), path, maxRows = 10) == 5L)
    assert(JsonSink.readJsonArray(path).size() == 5)
  }

  test("the guard counts rows across partitions: 4 partitions of 3 rows trip maxRows = 10") {
    val df = spark.range(0, 12, 1, 4).toDF("id")
    val path = out.resolve("spread.json")
    val e = intercept[IllegalArgumentException] {
      JsonSink.writeSingleJsonArray(df, path.toString, maxRows = 10)
    }
    assert(e.getMessage.contains("maxRows"))
    assert(!Files.exists(path))
    assert(JsonSink.writeSingleJsonArray(df, path.toString, maxRows = 12) == 12L)
  }

  test("when the guard trips, no file is written and an existing one is left as it was") {
    val fresh: Path = out.resolve("never.json")
    intercept[IllegalArgumentException] {
      JsonSink.writeSingleJsonArray(spark.range(20).toDF("id"), fresh.toString, maxRows = 10)
    }
    assert(!Files.exists(fresh))
    val existing = out.resolve("kept.json")
    Files.writeString(existing, "[ \"earlier\" ]")
    intercept[IllegalArgumentException] {
      JsonSink.writeSingleJsonArray(spark.range(20).toDF("id"), existing.toString, maxRows = 10)
    }
    assert(Files.readString(existing) == "[ \"earlier\" ]")
  }
}
