package graft.etl

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ArrayNode
import org.apache.spark.sql.{Column, DataFrame, GraftSqlInternals}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.functions.{struct, to_json}
import org.apache.spark.sql.types.{ArrayType, DataType, DecimalType, DoubleType, MapType, StructType}
import org.apache.spark.unsafe.Platform

import java.io.{BufferedOutputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Output sinks.
  *
  * [[writeSingleJsonArray]] reproduces the reference's correctness contract
  * (reference: etl_pipeline.py:376-380): ONE pretty-printed JSON array file,
  * null fields omitted (so e.g. the 406 cleaned records with an unparseable
  * timestamp have no `timestamp_utc` key, and `raw_data` omits null
  * members). The reference collects the records and pretty-prints them on
  * the driver; here the executors render them and the driver only merges
  * the pieces, so only the bytes the file holds and one sort-key row a
  * record reach the driver. The one file is still the contract, so the
  * sink stays guarded by `maxRows`.
  *
  * At scale, [[writeJsonLines]] (`DataFrame.write.json`) is the path:
  * fully distributed JSON-lines part files with the same null-dropping
  * record shape and no single output file. The array sink exists for
  * golden format parity on small reconciliation outputs.
  */
object JsonSink {

  val DefaultMaxRows: Long = 5000000L

  private val Hex = "0123456789ABCDEF".getBytes(StandardCharsets.US_ASCII)

  /** Write `df` as one pretty JSON array (2-space indent) and return the
    * record count. Records are in the order of the frame's top global
    * `Sort` (an `orderBy` frame); any other frame is written in partition
    * order. A sorted frame runs as one job: every partition sorts itself
    * and renders its records with [[record]] on the executors, together
    * with each record's sort key as an `UnsafeRow`, and the driver merges
    * the partitions by the sort's own ordering, equal keys in partition
    * order, then row order. That saves the range sort's sample job and
    * its shuffle, and the rendering runs on every core. A frame with no
    * top `Sort` takes the same path with no keys, which concatenates its
    * partitions.
    *
    * Jackson's default pretty printer, which the reference's output uses,
    * lays an array out inline (`[ a, b ]`), so a record pretty-printed on
    * its own has the same bytes as inside the array. The driver writes
    * `"[ "`, the records joined by `", "`, and `" ]"` (`"[ ]"` when
    * empty). Every record and key row reaches the driver as a task
    * result, so both count towards `spark.driver.maxResultSize`.
    *
    * @throws IllegalArgumentException if the row count exceeds `maxRows`
    *         (use `DataFrame.write.json` instead at scale). A partition renders
    *         at most `maxRows + 1` records, the driver drops every run as
    *         soon as the count passes `maxRows`, and nothing is written.
    */
  def writeSingleJsonArray(df: DataFrame, path: String, maxRows: Long = DefaultMaxRows): Long = {
    val (local, keys, ordering) = GraftSqlInternals.localSort(df)
    val keyed = local.select(keys :+ record(local): _*)
    val keyTypes = keyed.schema.fields.init.map(_.dataType)
    val rows = GraftSqlInternals.internalRows(keyed)
    val renderPartition = (it: Iterator[InternalRow]) => {
      val keyOf = UnsafeProjection.create(keyTypes)
      val records, keyRows = new ByteArrayOutputStream()
      val recordEnds, keyEnds = Array.newBuilder[Int]
      val copyBuffer = new Array[Byte](4096)
      var n = 0L
      while (n <= maxRows && it.hasNext) {
        val row = it.next()
        writeWithSurrogateEscapes(row.getUTF8String(keyTypes.length).getBytes, records)
        keyOf(row).writeToStream(keyRows, copyBuffer)
        recordEnds += records.size
        keyEnds += keyRows.size
        n += 1
      }
      Run(records.toByteArray, recordEnds.result(), keyRows.toByteArray, keyEnds.result())
    }
    val runs = new Array[Run](rows.getNumPartitions)
    var total = 0L
    rows.sparkContext.runJob(rows, renderPartition, (i: Int, run: Run) => {
      total += run.size
      if (total <= maxRows) runs(i) = run
      else runs.indices.foreach(runs(_) = null)
    })
    require(total <= maxRows,
      s"writeSingleJsonArray: more than maxRows=$maxRows rows; use DataFrame.write.json for large outputs")
    val out = new BufferedOutputStream(Files.newOutputStream(Paths.get(path)))
    try {
      out.write('[')
      var first = true
      merge(runs, keyTypes.length, ordering) { (run, i) =>
        if (!first) out.write(',')
        out.write(' ')
        val from = run.recordStart(i)
        out.write(run.records, from, run.recordEnds(i) - from)
        first = false
      }
      out.write(' ')
      out.write(']')
    } finally out.close()
    total
  }

  /** One partition's rendered records and their sort keys: the records'
    * bytes back to back, the key rows' `UnsafeRow` bytes back to back, and
    * each one's end offset. Two byte arrays a partition, not an object a
    * record, keep the driver's heap flat while it holds every run.
    */
  private final case class Run(
      records: Array[Byte], recordEnds: Array[Int], keys: Array[Byte], keyEnds: Array[Int]) {
    def size: Int = recordEnds.length
    def recordStart(i: Int): Int = if (i == 0) 0 else recordEnds(i - 1)
    def keyStart(i: Int): Int = if (i == 0) 0 else keyEnds(i - 1)
  }

  /** Visit every record of `runs`, each run already in `ordering` of its
    * keys, in that ordering: equal keys in run order, then record order.
    * One `UnsafeRow` a run points at the key of the run's next record.
    */
  private def merge(runs: Array[Run], numKeys: Int, ordering: Ordering[InternalRow])(
      visit: (Run, Int) => Unit): Unit = {
    val heads = runs.map(_ => new UnsafeRow(numKeys))
    val next = new Array[Int](runs.length)
    def point(p: Int): Unit = {
      val run = runs(p)
      val from = run.keyStart(next(p))
      heads(p).pointTo(run.keys, Platform.BYTE_ARRAY_OFFSET + from, run.keyEnds(next(p)) - from)
    }
    val first: Ordering[Int] = (a, b) => ordering.compare(heads(a), heads(b)) match {
      case 0 => Integer.compare(a, b)
      case c => c
    }
    val queue = mutable.PriorityQueue.empty[Int](first.reverse)
    runs.indices.filter(runs(_).size > 0).foreach { p => point(p); queue.enqueue(p) }
    while (queue.nonEmpty) {
      val p = queue.dequeue()
      visit(runs(p), next(p))
      next(p) += 1
      if (next(p) < runs(p).size) { point(p); queue.enqueue(p) }
    }
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
  private def record(df: DataFrame): Column = {
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
    to_json(struct(fields: _*), Map("pretty" -> "true", "ignoreNullFields" -> "true"))
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
