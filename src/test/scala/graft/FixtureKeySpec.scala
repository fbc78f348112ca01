package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Incremental, Relational}

/** Pay-once fixtures are keyed on every input: a second input set in the
  * same session gets its own fixture, never the first one's stale copy,
  * while two reads of the same files share one build.
  */
class FixtureKeySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val dir = "/root/testdata/sf0.01"

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  test("a two-input fixture keys on both inputs: a new customer input rebuilds") {
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val fullCustomer = spark.read.parquet(s"$dir/customer.parquet")
    val subsetPath = s"${SparkTestBase.tempDir("graft_customer_subset")}/customer.parquet"
    fullCustomer.filter(col("c_custkey") % 2 === 0).write.parquet(subsetPath)
    val subsetCustomer = spark.read.parquet(subsetPath)

    def plainJoin(customer: DataFrame): Seq[Row] = rows(
      orders.select(col("o_custkey").as("custkey"), col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("price_c"))
        .join(customer.select(col("c_custkey").as("custkey"), col("c_name")), "custkey")
        .select("o_orderkey", "custkey", "price_c", "c_name")
        .orderBy("o_orderkey"))

    val full = rows(Incremental.ordersSqlBucketedJoin(orders, fullCustomer))
    val subset = rows(Incremental.ordersSqlBucketedJoin(orders, subsetCustomer))
    val (fullPlain, subsetPlain) = (plainJoin(fullCustomer), plainJoin(subsetCustomer))
    // compared as booleans: a failure names row counts instead of printing
    // thousands of rows
    val fullMatches = full == fullPlain
    val subsetMatches = subset == subsetPlain
    assert(fullMatches, s"full join: ${full.size} rows, plain join ${fullPlain.size}")
    assert(subsetMatches, s"subset join: ${subset.size} rows, plain join " +
      s"${subsetPlain.size}: the first customer table was reused")
    assert(subset.nonEmpty && subset.size < full.size)
  }

  test("in-memory inputs never share a layout; two reads of one path do") {
    import spark.implicits._
    val docsA = Seq((1L, 500L, "web"), (2L, 510L, "web"), (3L, 900L, "web"))
      .toDF("doc_id", "n_chars", "source")
    val docsB = Seq((7L, 520L, "books"), (8L, 100L, "books"))
      .toDF("doc_id", "n_chars", "source")
    def scan(df: DataFrame): Seq[(Long, Long, String)] =
      Relational.sortedLayoutScan(df).as[(Long, Long, String)].collect().toSeq
    assert(scan(docsA) == Seq((1L, 500L, "web"), (2L, 510L, "web")))
    assert(scan(docsB) == Seq((7L, 520L, "books")))

    val first = Relational.sortedLayoutScan(spark.read.parquet(s"$dir/documents.parquet"))
    val second = Relational.sortedLayoutScan(spark.read.parquet(s"$dir/documents.parquet"))
    // every build writes under a fresh directory, so equal file sets mean
    // the second read reused the first read's layout
    assert(first.inputFiles.nonEmpty)
    assert(first.inputFiles.sorted.toSeq == second.inputFiles.sorted.toSeq)
  }
}
