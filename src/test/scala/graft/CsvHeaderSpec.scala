package graft

import graft.etl.TradeEtl
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** `TradeEtl.readCsv` reads a file's header on the driver and passes it as
  * the schema. Pinned against `Reference.inferredCsvSchema`, the schema
  * Spark's own inference gives, and the rows the inferring reader reads.
  */
class CsvHeaderSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private lazy val dir = SparkTestBase.tempDir("csv_header")

  private def assertAsInferred(path: String): StructType = {
    val df = TradeEtl.readCsv(spark, path)
    assert(df.schema == Reference.inferredCsvSchema(spark, path), path)
    val inferred = spark.read.option("header", "true").csv(path)
    if (df.schema.nonEmpty) assert(df.collect().toSeq == inferred.collect().toSeq, path)
    df.schema
  }

  private def file(name: String, text: String): String = {
    val p = dir.resolve(name)
    Files.write(p, text.getBytes(StandardCharsets.UTF_8))
    p.toString
  }

  test("the fixtures' CSVs get the inferred schema") {
    for {
      d <- Seq("src/test/resources/etl_micro", "src/test/resources/etl_pybench/batch_00")
      f <- Seq("trades.csv", "counterparty_fills.csv", "symbols_reference.csv")
    } {
      assert(Files.exists(Paths.get(d, f)), s"run from the repository root: $d/$f")
      assert(assertAsInferred(s"$d/$f").nonEmpty)
    }
  }

  test("edge-case headers get the inferred schema") {
    val cases = Seq(
      "blank_first.csv" -> "\n  \na,b\n1,2\n",
      "bom.csv" -> "\uFEFFa,b\n1,2\n",
      "quoted_comma.csv" -> "\"x,y\",z\n1,2\n",
      "duplicates.csv" -> "id,ID,id,name\n1,2,3,n\n",
      "empty_name.csv" -> "a,,c\n1,2,3\n",
      "header_only.csv" -> "a,b\n")
    cases.foreach { case (name, text) => assertAsInferred(file(name, text)) }
    assert(assertAsInferred(file("bom_only.csv", "\uFEFFa,b\n")).fieldNames.toSeq == Seq("a", "b"))
  }

  test("a file with no line gets the same empty schema") {
    assert(assertAsInferred(file("empty.csv", "")).isEmpty)
  }

  test("a directory fails loudly and names the path") {
    val d = Files.createDirectories(dir.resolve("a_dir")).toString
    file("a_dir/part.csv", "a,b\n1,2\n")
    val e = intercept[IllegalArgumentException](TradeEtl.readCsv(spark, d))
    assert(e.getMessage.contains(d))
  }
}
