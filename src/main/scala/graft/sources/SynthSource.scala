package graft.sources

import java.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate.{
  Aggregation, CountStar, Count => VCount, Max => VMax, Min => VMin}
import org.apache.spark.sql.connector.read.{
  Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder,
  SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit,
  SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{
  DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan,
  LessThanOrEqual}
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `graft-synth`: a DataSource V2 batch connector generating deterministic
  * synthetic event rows — the missing piece for scale experiments that
  * need N× the shipped test data without writing N× the bytes to disk
  * first (each task generates its own row range; nothing flows through
  * the driver, nothing is read from storage).
  *
  * Row `i`'s columns are a chain of 31-bit LCG steps
  * (`x -> (1103515245 x + 12345) mod 2^31` — the classic POSIX
  * `rand()` constants) seeded by `seed + i`. Every intermediate product
  * stays below 2^62, so the SAME arithmetic evaluates exactly in any
  * 64-bit-integer engine: the DuckDB oracle for `q_synth_source` replays
  * the generator with a plain `range(n)` scan and matches hash-exact.
  *
  * Demonstrated connector surface: `TableProvider` → `Table`
  * (BATCH_READ) → `ScanBuilder` with column pruning
  * (`SupportsPushDownRequiredColumns` — a `select(sum(value))` plans a
  * scan that never materializes the other columns) → `Batch` planning
  * one `InputPartition` per slice → per-task `PartitionReader`.
  *
  * Options: `rows` (total row count), `slices` (input partitions),
  * `seed`.
  */
class SynthSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-synth"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = Synth.schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new SynthTable(
      opts.getLong("rows", 1000L),
      opts.getInt("slices", 4),
      opts.getLong("seed", 42L))
  }
}

object Synth {
  /** Integer columns only (epoch seconds, value in cents): bit-exact
    * across engines by construction, no float rendering drift.
    */
  val schema: StructType = new StructType()
    .add("id", LongType, nullable = false)
    .add("user_id", LongType, nullable = false)
    .add("kind", StringType, nullable = false)
    .add("value_cents", LongType, nullable = false)
    .add("ts_sec", LongType, nullable = false)

  val Kinds: Array[String] = Array("view", "click", "purchase", "signup")

  final val Mod = 2147483648L // 2^31

  @inline def lcg(x: Long): Long = (1103515245L * x + 12345L) % Mod

  /** The full generator chain for row `i` — shared by the partition
    * reader and the tests' reference implementation.
    */
  def row(seed: Long, i: Long): (Long, Long, String, Long, Long) = {
    val h1 = lcg(seed + i)
    val h2 = lcg(h1)
    val h3 = lcg(h2)
    (i, h1 % 1000L, Kinds((h1 % 4L).toInt), h2 % 100000L,
      1704067200L + h3 % (86400L * 30L))
  }

  /** Reader-side entry point. */
  def read(spark: SparkSession, rows: Long, slices: Int = 4, seed: Long = 42L): DataFrame =
    spark.read.format("graft-synth")
      .option("rows", rows).option("slices", slices).option("seed", seed)
      .load()

  /** The registered-query surface (`q_synth_source`): a grouped aggregate
    * over the generated stream, exercising the connector end-to-end —
    * distributed generation, column pruning (id is never generated),
    * partial aggregation above the scan. The DuckDB oracle replays the
    * LCG chain over `range(rows)`.
    */
  def aggregateByKind(spark: SparkSession, rows: Long, slices: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    read(spark, rows, slices)
      .groupBy("kind")
      .agg(count(lit(1)).as("n"), sum("value_cents").as("cents"),
        min("user_id").as("u_min"), max("ts_sec").as("t_max"))
      .orderBy("kind")
  }

  /** The registered-query surface (`q_synth_agg_pushdown`): an ungrouped
    * COUNT/MIN/MAX over a 2^40-row synthetic table, narrowed by a pushed
    * id-range filter — answered COMPLETELY inside the source from
    * interval arithmetic (`SynthAggScan`), generating zero rows. The
    * oracle computes the same aggregates over a DuckDB `range()` of just
    * the filtered interval.
    */
  def aggPushdown(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions._
    read(spark, rows = 1L << 40, slices = 4)
      .filter(col("id") >= 1000000000L && col("id") < 1000500000L)
      .agg(count(col("id")).as("n_rows"), min("id").as("id_min"),
        max("id").as("id_max"))
  }
}

class SynthTable(rows: Long, slices: Int, seed: Long) extends Table with SupportsRead {
  override def name(): String = s"graft_synth(rows=$rows, slices=$slices, seed=$seed)"
  override def schema(): StructType = Synth.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SynthScanBuilder(rows, slices, seed)
}

/** Pushdown surface beyond pruning: `id` IS the row index, so range
  * predicates on it narrow the generated interval EXACTLY — the rows
  * outside the range are never produced, the source-level analogue of
  * parquet row-group skipping. Absorbed filters are not re-evaluated
  * above the scan (they are returned as fully-pushed, not residual).
  * A pushed LIMIT caps the interval the same way.
  */
class SynthScanBuilder(rows: Long, slices: Int, seed: Long)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownLimit
    with SupportsPushDownAggregates {
  private var required: StructType = Synth.schema
  private var lo = 0L // inclusive row-index bound
  private var hi = rows // exclusive
  private var pushed: Array[Filter] = Array.empty
  private var aggTags: Option[Seq[String]] = None

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (absorbed, residual) = filters.partition {
      case EqualTo("id", _: Number) | GreaterThan("id", _: Number) |
          GreaterThanOrEqual("id", _: Number) | LessThan("id", _: Number) |
          LessThanOrEqual("id", _: Number) => true
      case _ => false
    }
    absorbed.foreach {
      case EqualTo("id", v: Number) =>
        lo = math.max(lo, v.longValue); hi = math.min(hi, v.longValue + 1)
      case GreaterThan("id", v: Number) => lo = math.max(lo, v.longValue + 1)
      case GreaterThanOrEqual("id", v: Number) => lo = math.max(lo, v.longValue)
      case LessThan("id", v: Number) => hi = math.min(hi, v.longValue)
      case LessThanOrEqual("id", v: Number) => hi = math.min(hi, v.longValue + 1)
      case _ => ()
    }
    pushed = absorbed
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed

  private var limitPushed = false

  override def pushLimit(limit: Int): Boolean = {
    // Spark's V2ScanRelationPushDown pushes LIMIT *after* aggregates, so
    // a pushed limit at that point applies to the (1-row) aggregate
    // OUTPUT, not the data interval — narrowing [lo, hi) here would turn
    // `...agg(count).limit(1)` into count=1. Decline once an aggregate
    // has been absorbed; the interval arithmetic must only ever reflect
    // row-level predicates.
    if (aggTags.isDefined) false
    else {
      hi = math.min(hi, lo + limit)
      limitPushed = true
      true // exact: the interval emits at most `limit` rows
    }
  }

  /** COMPLETE aggregate pushdown for ungrouped COUNT / MIN(id) /
    * MAX(id): after the id-range filters have narrowed [lo, hi), these
    * are pure interval arithmetic — count = hi−lo, min = lo,
    * max = hi−1 — so the "scan" answers without generating a single
    * row. A count over a 2^40-row synthetic table is O(1); this is the
    * source-level analogue of answering COUNT(*) from parquet footer
    * statistics, taken to its limit. Anything else (grouping, other
    * columns, count-distinct) declines, and Spark aggregates above the
    * row scan as usual.
    */
  private def classify(agg: Aggregation): Option[Seq[String]] = {
    if (agg.groupByExpressions.nonEmpty) return None
    val tags = agg.aggregateExpressions.map {
      case _: CountStar => "count"
      case c: VCount if !c.isDistinct => c.column match {
        case f: NamedReference if f.fieldNames.sameElements(Array("id")) => "count"
        case _ => return None
      }
      case m: VMin => m.column match {
        case f: NamedReference if f.fieldNames.sameElements(Array("id")) => "min_id"
        case _ => return None
      }
      case m: VMax => m.column match {
        case f: NamedReference if f.fieldNames.sameElements(Array("id")) => "max_id"
        case _ => return None
      }
      case _ => return None
    }
    Some(tags.toSeq)
  }
  // The mirror-image guard of pushLimit: an interval already truncated
  // by a pushed LIMIT is no longer the predicate-defined row set, so an
  // aggregate over it would be wrong — decline and let Spark aggregate
  // above the (limited) row scan.
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    !limitPushed && classify(agg).isDefined
  override def pushAggregation(agg: Aggregation): Boolean =
    if (limitPushed) false
    else classify(agg) match {
      case Some(tags) => aggTags = Some(tags); true
      case None       => false
    }

  override def build(): Scan = aggTags match {
    case Some(tags) => new SynthAggScan(lo, math.max(lo, hi), tags)
    case None => new SynthScan(lo, math.max(lo, hi), slices, seed, required)
  }
}

/** One-row, one-partition scan answering a completely-pushed ungrouped
  * aggregate from interval arithmetic (no rows generated). An empty
  * interval answers count = 0 with null min/max — global-aggregate
  * semantics.
  */
class SynthAggScan(lo: Long, hi: Long, tags: Seq[String]) extends Scan with Batch {
  override def readSchema(): StructType =
    tags.zipWithIndex.foldLeft(new StructType()) { case (s, (t, i)) =>
      s.add(s"agg_${i}_$t", LongType, nullable = t != "count")
    }
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-synth-agg range=[$lo,$hi) aggs=${tags.mkString(",")}"
  override def planInputPartitions(): Array[InputPartition] =
    Array(SynthPartition(0L, 1L))
  override def createReaderFactory(): PartitionReaderFactory =
    new SynthAggReaderFactory(lo, hi, tags.toArray)
}

class SynthAggReaderFactory(lo: Long, hi: Long, tags: Array[String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean = !emitted && { emitted = true; true }
      override def get(): InternalRow = {
        val empty = hi <= lo
        val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(tags.length)
        tags.zipWithIndex.foreach { case (t, i) =>
          t match {
            case "count"           => row.setLong(i, math.max(0L, hi - lo))
            case _ if empty        => row.setNullAt(i)
            case "min_id"          => row.setLong(i, lo)
            case "max_id"          => row.setLong(i, hi - 1)
          }
        }
        row
      }
      override def close(): Unit = ()
    }
}

class SynthScan(lo: Long, hi: Long, slices: Int, seed: Long, required: StructType)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-synth range=[$lo,$hi) slices=$slices seed=$seed " +
      s"cols=${required.fieldNames.mkString(",")}"
  override def planInputPartitions(): Array[InputPartition] = {
    // contiguous ranges over [lo, hi), remainder spread over the first
    // partitions; empty slices are not planned
    val total = hi - lo
    val base = total / slices
    val rem = total % slices
    var start = lo
    (0 until slices).flatMap { p =>
      val len = base + (if (p < rem) 1L else 0L)
      val part = SynthPartition(start, start + len)
      start += len
      if (len > 0) Some(part: InputPartition) else None
    }.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new SynthReaderFactory(seed, required.fieldNames)
}

case class SynthPartition(start: Long, end: Long) extends InputPartition

class SynthReaderFactory(seed: Long, cols: Array[String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new SynthReader(partition.asInstanceOf[SynthPartition], seed, cols)
}

/** Generates its slice's rows on demand; emits ONLY the pruned columns,
  * in the pruned order — the generator work for unprojected columns is
  * skipped, which is what makes the pruning real rather than cosmetic.
  */
class SynthReader(part: SynthPartition, seed: Long, cols: Array[String])
    extends PartitionReader[InternalRow] {
  private var i = part.start - 1
  private val kindUtf8 = Synth.Kinds.map(UTF8String.fromString)

  override def next(): Boolean = { i += 1; i < part.end }

  override def get(): InternalRow = {
    // lazily step the chain only as far as the requested columns need
    lazy val h1 = Synth.lcg(seed + i)
    lazy val h2 = Synth.lcg(h1)
    lazy val h3 = Synth.lcg(h2)
    InternalRow.fromSeq(cols.toIndexedSeq.map {
      case "id" => i
      case "user_id" => h1 % 1000L
      case "kind" => kindUtf8((h1 % 4L).toInt)
      case "value_cents" => h2 % 100000L
      case "ts_sec" => 1704067200L + h3 % (86400L * 30L)
      case other => throw new IllegalArgumentException(s"unknown column: $other")
    })
  }

  override def close(): Unit = ()
}
