package graft.etl

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ArrayNode
import org.apache.spark.sql.{Column, DataFrame, GraftSqlInternals}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{struct, to_json}
import org.apache.spark.sql.types.{ArrayType, DataType, DecimalType, DoubleType, MapType, StructType}

import java.io.{BufferedOutputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Output sinks.
  *
  * [[writeSingleJsonArray]] reproduces the reference's correctness contract
  * (reference: etl_pipeline.py:376-380): ONE pretty-printed JSON array file,
  * null fields omitted (so e.g. the 406 cleaned records with an unparseable
  * timestamp have no `timestamp_utc` key, and `raw_data` omits null
  * members). The reference collects the records and pretty-prints them on
  * the driver; here the executors render them and the driver only joins
  * the pieces, so only the bytes the file holds reach the driver. The one
  * file is still the contract, so the sink stays guarded by `maxRows`.
  *
  * [[writeJsonLines]] is the 100 TB-scale path: fully distributed JSON-lines
  * parquet-style part files, same null-dropping record shape, no single
  * output file. Callers at scale use this; the array sink exists for golden
  * format parity on small reconciliation outputs.
  */
object JsonSink {

  val DefaultMaxRows: Long = 5000000L

  private val Separator = ", ".getBytes(StandardCharsets.US_ASCII)
  private val Hex = "0123456789ABCDEF".getBytes(StandardCharsets.US_ASCII)

  /** Write `df` as one pretty JSON array (2-space indent), records in
    * partition order (the sort order of an `orderBy` frame). Returns the
    * record count.
    *
    * Jackson's default pretty printer, which the reference's output uses,
    * lays an array out inline (`[ a, b ]`), so a record pretty-printed on
    * its own has the same bytes as inside the array. Each partition renders
    * its records with [[rendered]] and joins them with `", "` into one
    * chunk; one job gathers every partition's chunk at once, and the driver
    * writes `"[ "`, the chunks joined by `", "`, and `" ]"` (`"[ ]"` when
    * empty).
    *
    * @throws IllegalArgumentException if the row count exceeds `maxRows`
    *         (use [[writeJsonLines]] instead at scale). A partition renders
    *         at most `maxRows + 1` records, the driver drops every chunk as
    *         soon as the count passes `maxRows`, and nothing is written.
    */
  def writeSingleJsonArray(df: DataFrame, path: String, maxRows: Long = DefaultMaxRows): Long = {
    val rows = GraftSqlInternals.internalRows(rendered(df))
    val renderPartition = (it: Iterator[InternalRow]) => {
      val out = new ByteArrayOutputStream()
      var n = 0L
      while (n <= maxRows && it.hasNext) {
        if (n > 0) out.write(Separator)
        writeWithSurrogateEscapes(it.next().getUTF8String(0).getBytes, out)
        n += 1
      }
      (n, out.toByteArray)
    }
    val chunks = new Array[Array[Byte]](rows.getNumPartitions)
    var total = 0L
    rows.sparkContext.runJob(rows, renderPartition,
      (i: Int, chunk: (Long, Array[Byte])) => {
        total += chunk._1
        if (total <= maxRows) chunks(i) = chunk._2
        else chunks.indices.foreach(chunks(_) = null)
      })
    require(total <= maxRows,
      s"writeSingleJsonArray: more than maxRows=$maxRows rows; use writeJsonLines for large outputs")
    val out = new BufferedOutputStream(Files.newOutputStream(Paths.get(path)))
    try {
      out.write('[')
      chunks.filter(_.nonEmpty).zipWithIndex.foreach { case (chunk, i) =>
        if (i > 0) out.write(',')
        out.write(' ')
        out.write(chunk)
      }
      out.write(' ')
      out.write(']')
    } finally out.close()
    total
  }

  /** Copy one rendered record to `out`, writing each character outside the
    * Basic Multilingual Plane as its two UTF-16 surrogates escaped
    * (`\uD83D\uDE00`), as Jackson's UTF-8 generator, which the
    * reference's pretty-printer writes with, does. Spark's generator writes
    * such a character as its 4 UTF-8 bytes. JSON text holds non-ASCII
    * bytes only inside strings and names, so every 4-byte sequence is one.
    */
  private def writeWithSurrogateEscapes(bytes: Array[Byte], out: ByteArrayOutputStream): Unit = {
    def escape(unit: Int): Unit = {
      out.write('\\')
      out.write('u')
      Seq(12, 8, 4, 0).foreach(shift => out.write(Hex((unit >> shift) & 0xF)))
    }
    var from = 0
    var i = 0
    while (i < bytes.length) {
      if ((bytes(i) & 0xF8) == 0xF0) {
        out.write(bytes, from, i - from)
        val v = (((bytes(i) & 0x07) << 18) | ((bytes(i + 1) & 0x3F) << 12) |
          ((bytes(i + 2) & 0x3F) << 6) | (bytes(i + 3) & 0x3F)) - 0x10000
        escape(0xD800 + (v >> 10))
        escape(0xDC00 + (v & 0x3FF))
        i += 4
        from = i
      } else i += 1
    }
    out.write(bytes, from, bytes.length - from)
  }

  /** One pretty-printed JSON record per row: the row as a struct through
    * Spark's JSON generator with `pretty` (Jackson's default pretty
    * printer) and null fields dropped. The reference renders each record
    * from a Jackson re-parse, which reads a decimal with a fractional
    * scale as a double, so such values (at any depth) are cast to double
    * first and render as that double's text.
    */
  private def rendered(df: DataFrame): DataFrame = {
    def asReparsed(t: DataType): DataType = t match {
      case d: DecimalType if d.scale > 0 => DoubleType
      case s: StructType => StructType(s.fields.map(f => f.copy(dataType = asReparsed(f.dataType))))
      case a: ArrayType => a.copy(elementType = asReparsed(a.elementType))
      case m: MapType => m.copy(valueType = asReparsed(m.valueType))
      case other => other
    }
    val fields: Seq[Column] = df.schema.fields.toSeq.map { f =>
      val c = df.col(s"`${f.name.replace("`", "``")}`")
      val t = asReparsed(f.dataType)
      (if (t == f.dataType) c else c.cast(t)).as(f.name)
    }
    df.select(to_json(struct(fields: _*), Map("pretty" -> "true", "ignoreNullFields" -> "true")))
  }

  /** Distributed JSON-lines sink: one record per line across part files.
    * Spark's JSON writer drops null fields, matching the array sink's
    * record shape. `ignoreNullFields` is the default but set explicitly —
    * it is the correctness contract, not a preference.
    */
  def writeJsonLines(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite").option("ignoreNullFields", "true").json(dir)

  /** Read back a single-file JSON array written by [[writeSingleJsonArray]]
    * (or the reference's golden files) for comparison in tests.
    */
  def readJsonArray(path: String): ArrayNode = {
    val mapper = new ObjectMapper()
    val bytes = Files.readAllBytes(Paths.get(path))
    mapper.readTree(new String(bytes, StandardCharsets.UTF_8)).asInstanceOf[ArrayNode]
  }
}
