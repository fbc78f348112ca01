package graft.sources

import java.util
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{
  Identifier, SupportsRead, SupportsWrite, Table, TableCatalog, TableCapability,
  TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{
  Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan,
  ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{
  BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo,
  PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnVector
import org.apache.spark.unsafe.types.UTF8String

/** A DataSource V2 TABLE CATALOG over [[VersionedTable]] directories — the
  * SQL front door to the table format:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.gtab", "graft.sources.GraftCatalog")
  *   spark.conf.set("spark.sql.catalog.gtab.root", "/data/tables")
  *   spark.sql("SELECT * FROM gtab.default.orders VERSION AS OF 2")
  * }}}
  *
  * Identifiers map to directories (`root/<namespace…>/<name>`); a table is
  * any directory with a `_manifest`. `VERSION AS OF n` rides Spark's
  * native time-travel syntax into [[VersionedTable]]'s pinned manifests.
  * The read path is complete table-format semantics, not a toy:
  * merge-on-read tombstones are applied IN the partition readers (each
  * data file pairs with exactly the tombstone files bounded to its
  * commit), column pruning reaches the decoder, and range/equality
  * filters on zone-mapped columns prune data files at PLANNING time from
  * the manifest alone (filters stay residual above the scan, so results
  * are exact whatever the layout). DML is first-class: INSERT INTO /
  * INSERT OVERWRITE stage executor-written parquet and publish through
  * the SAME commit protocol (link-as-CAS, CHECK constraints, snapshot
  * isolation) as the programmatic API, so SQL writes are ordinary
  * time-travelable commits. DDL: CREATE TABLE (+ CTAS) commits a
  * schema-only version 1 (tables ARE manifest directories, created by
  * their first commit), ALTER TABLE ADD COLUMN appends a schema-only
  * commit the snapshot-schema union picks up (old files null-fill, old
  * snapshots keep their narrower schema), DROP TABLE deletes through
  * the cache-invalidating [[VersionedTable.dropTable]]; only RENAME is
  * refused (readers pin tables by path).
  */
class GraftCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {
  private var catName: String = _
  private var root: String = _

  override def name(): String = catName
  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    root = options.get("root")
    require(root != null && root.nonEmpty,
      s"catalog $name requires spark.sql.catalog.$name.root")
  }

  private def dirOf(ident: Identifier): java.nio.file.Path =
    java.nio.file.Paths.get(root, ident.namespace() :+ ident.name(): _*)

  /** Table MAINTENANCE as SQL procedures (`CALL gtab.system.vacuum(...)`)
    * — the DSv2 procedure surface (Spark 4.x) over the programmatic
    * maintenance API, so operators never need the JVM API for routine
    * care: vacuum / vacuum_orphans / compact / optimize / zorder. Table
    * arguments are catalog-relative identifiers (`'default.orders'`).
    */
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      GraftProcedures.names.map(Identifier.of(Array("system"), _)).toArray
    else Array.empty
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace().sameElements(Array("system")) &&
      GraftProcedures.names.contains(ident.name()),
      s"unknown procedure $ident — known: system.{${GraftProcedures.names.mkString(", ")}}")
    GraftProcedures.load(
      tableId => java.nio.file.Paths.get(
        root, tableId.split('.').toIndexedSeq: _*).toString,
      ident.name())
  }

  /** The FunctionCatalog leg of storage-partitioned joins: Spark only
    * honors a scan's `KeyGroupedPartitioning(bucket(n, col))` when the
    * table's catalog can resolve the `bucket` transform to a bound V2
    * function (the same requirement Iceberg satisfies) — without it the
    * reported partitioning is silently ignored and the join shuffles.
    * The bound function is the WRITE path's placement function
    * (`pmod(col, n)`), so the co-location Spark assumes is the
    * co-location the files actually have.
    */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, "bucket"))
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name() == "bucket") GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val ns = java.nio.file.Paths.get(root, namespace: _*)
    if (!java.nio.file.Files.isDirectory(ns)) Array.empty
    else {
      import scala.jdk.CollectionConverters._
      VersionedTable.usingPaths(java.nio.file.Files.list(ns))(_
        .filter(p => java.nio.file.Files.isDirectory(p.resolve("_manifest")))
        .map(p => Identifier.of(namespace, p.getFileName.toString))
        .toArray)
    }
  }

  override def tableExists(ident: Identifier): Boolean =
    java.nio.file.Files.isDirectory(dirOf(ident).resolve("_manifest"))

  override def loadTable(ident: Identifier): Table = loadVersion(ident, None)

  override def loadTable(ident: Identifier, version: String): Table =
    loadVersion(ident, Some(version.toLong))

  /** TIMESTAMP AS OF: Spark hands the literal as epoch MICROseconds;
    * resolution happens against the monotonized commit wall-times the
    * manifests record.
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    loadVersion(ident, Some(VersionedTable.versionAsOfTimestamp(
      dirOf(ident).toString, timestampMicros / 1000L)))
  }

  private def loadVersion(ident: Identifier, version: Option[Long]): Table = {
    // Iceberg-style metadata table: `SELECT * FROM gtab.ns.t$history`
    // serves the commit log (version / operation / file and row counts /
    // txn id / wall-time) as a driver-local scan — metadata stays
    // metadata, no executor work
    if (ident.name().endsWith("$history")) {
      val base = Identifier.of(ident.namespace(), ident.name().stripSuffix("$history"))
      if (!tableExists(base)) throw new NoSuchTableException(base)
      require(version.isEmpty, "the $history metadata table spans all versions")
      return new GraftHistoryTable(dirOf(base).toString,
        s"$catName.${(ident.namespace() :+ ident.name()).mkString(".")}")
    }
    // `t$files`: one row per data file of a snapshot (path, commit,
    // footer row count, applicable tombstone count, zone map) — supports
    // VERSION AS OF, so layout drift across commits is SQL-inspectable
    if (ident.name().endsWith("$files")) {
      val base = Identifier.of(ident.namespace(), ident.name().stripSuffix("$files"))
      if (!tableExists(base)) throw new NoSuchTableException(base)
      return new GraftFilesTable(dirOf(base).toString, version,
        s"$catName.${(ident.namespace() :+ ident.name()).mkString(".")}")
    }
    // `t$stats`: one row per column with the planner-grade statistics
    // (NDV, null count, min/max, avg/max length) from metadata alone
    if (ident.name().endsWith("$stats")) {
      val base = Identifier.of(ident.namespace(), ident.name().stripSuffix("$stats"))
      if (!tableExists(base)) throw new NoSuchTableException(base)
      return new GraftStatsTable(dirOf(base).toString, version,
        s"$catName.${(ident.namespace() :+ ident.name()).mkString(".")}")
    }
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    new GraftCatalogTable(dirOf(ident).toString, version,
      s"$catName.${(ident.namespace() :+ ident.name()).mkString(".")}")
  }

  /** CREATE TABLE (and the create half of CTAS): commit a schema-only
    * version 1 — tables ARE manifest directories, created by their first
    * commit, so DDL is just a commit whose single data file is an empty
    * parquet carrying the declared schema. CTAS's subsequent write then
    * appends version 2 through the ordinary INSERT path; on write
    * failure Spark rolls back via [[dropTable]].
    */
  private val TransformNames =
    Set("identity", "days", "months", "hours", "years", "truncate")

  override def createTable(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    VersionedTable.requireDotFreeNames(schema, s"CREATE TABLE $ident")
    // two partitionings are stored: the bucket layout behind
    // storage-partitioned joins (PARTITIONED BY (bucket(n, col))), and
    // IDENTITY partitioning (PARTITIONED BY (col)) — the first DDL a
    // warehouse user types — which maps onto clustered-on-write + zone
    // maps: every INSERT range-partitions and sorts on the column, each
    // file covers a tight value range, and a partition predicate prunes
    // files (and row groups) without any Hive-style directory layout.
    var identityBy: Seq[String] = Nil
    val bucketSpec = partitions.toSeq match {
      case Nil => None
      case Seq(t) if t.name == "bucket" =>
        val n = t.arguments.collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            l.value match {
              case i: Integer => i.intValue
              case i: java.lang.Long => i.intValue
              case other => throw new UnsupportedOperationException(
                s"bucket(n, col): n must be an integer literal, got $other")
            }
        }.getOrElse(throw new UnsupportedOperationException(
          "bucket(n, col) needs an integer bucket count"))
        val col = t.references.toSeq match {
          case Seq(r) if r.fieldNames.length == 1 => r.fieldNames.head
          case other => throw new UnsupportedOperationException(
            s"bucket(n, col) takes one top-level column, got $other")
        }
        require(schema.fields.exists(f => f.name == col &&
          (f.dataType == LongType || f.dataType == IntegerType)),
          s"bucket column $col must be a BIGINT/INT column of the table")
        Some((col, n))
      case ts if ts.nonEmpty && ts.forall(t => TransformNames.contains(t.name)) =>
        // one or several declarations — identity columns and/or MONOTONE
        // transforms (days/months/hours/years over a timestamp or date,
        // truncate(n, col) over a string or integer). Monotonicity is the
        // key fact: a transform-partitioned layout IS a source-clustered
        // layout, so every declaration clusters on write by its SOURCE
        // column and prunes through the source column's zone maps — the
        // transform names the user's intent (and its granularity), the
        // machinery stays Hive-directory-free. Several declarations order
        // LEXICOGRAPHICALLY on write (the year/month/day idiom).
        identityBy = ts.map { t =>
          val col = t.references.toSeq match {
            case Seq(r) if r.fieldNames.length == 1 => r.fieldNames.head
            case other => throw new UnsupportedOperationException(
              s"PARTITIONED BY (${t.name}) takes one top-level column, got $other")
          }
          val dt = schema.fields.find(_.name == col).map(_.dataType)
            .getOrElse(throw new IllegalArgumentException(
              s"partition column $col is not a column of the table"))
          t.name match {
            case "identity" =>
              require(dt == LongType || dt == IntegerType || dt == StringType ||
                dt == DateType || dt == TimestampType ||
                (dt match {
                  case d: org.apache.spark.sql.types.DecimalType =>
                    d.precision <= 18 // unscaled zone maps are exact
                  case _ => false
                }),
                s"PARTITIONED BY ($col) needs a BIGINT/INT/STRING/DATE/" +
                  s"TIMESTAMP/DECIMAL(<=18) column (zone maps prune those); " +
                  s"$col is $dt")
              col
            case "hours" =>
              require(dt == TimestampType,
                s"PARTITIONED BY (hours($col)) needs a TIMESTAMP column; $col is $dt")
              s"hours($col)"
            case tn @ ("days" | "months" | "years") =>
              require(dt == TimestampType || dt == DateType,
                s"PARTITIONED BY ($tn($col)) needs a TIMESTAMP/DATE column; $col is $dt")
              s"$tn($col)"
            case "truncate" =>
              val w = t.arguments.collectFirst {
                case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
                  l.value match {
                    case i: Integer => i.intValue
                    case i: java.lang.Long => i.intValue
                    case other => throw new UnsupportedOperationException(
                      s"truncate(n, col): n must be an integer literal, got $other")
                  }
              }.getOrElse(throw new UnsupportedOperationException(
                "truncate(n, col) needs an integer width"))
              require(w > 0, s"truncate width must be positive, got $w")
              require(dt == StringType || dt == LongType || dt == IntegerType,
                s"PARTITIONED BY (truncate($w, $col)) needs a STRING/BIGINT/INT " +
                  s"column; $col is $dt")
              s"truncate($w,$col)"
          }
        }
        val srcs = identityBy.map(VersionedTable.declSource)
        require(srcs.distinct.size == srcs.size,
          s"duplicate partition columns: ${srcs.mkString(", ")}")
        None
      case other => throw new UnsupportedOperationException(
        s"graft tables support PARTITIONED BY (col | days(col) | months(col) " +
          s"| hours(col) | years(col) | truncate(n, col), ...) or " +
          s"(bucket(n, col)) — got ${other.mkString(", ")}; cluster data " +
          s"with CALL $catName.system.optimize/zorder instead")
    }
    // declarative clustering: TBLPROPERTIES('graft.cluster-by'='col')
    // makes every SQL INSERT range-partition + sort on the column before
    // writing, so files carry tight disjoint zone maps from birth.
    // Identity partitioning uses the same machinery — declaring both is
    // fine when they agree, contradictory otherwise.
    // clustering keys are the RAW SOURCE columns of the declarations
    // (monotone transforms cluster identically through their source)
    val identitySrcs = identityBy.map(VersionedTable.declSource)
    val clusterBy = Option(properties.get("graft.cluster-by")).map { c =>
      c.split(',').map(_.trim).filter(_.nonEmpty).foreach(cc =>
        require(schema.fields.exists(_.name == cc),
          s"graft.cluster-by column $cc is not a column of the table"))
      require(bucketSpec.isEmpty,
        "bucket placement and cluster-on-write ordering cannot coexist")
      require(identityBy.isEmpty || identitySrcs.mkString(",") == c,
        s"PARTITIONED BY (${identityBy.mkString(", ")}) and " +
          s"graft.cluster-by=$c disagree")
      c
    }.orElse(Some(identitySrcs.mkString(",")).filter(_.nonEmpty))
    // durable write/stats knobs ride the props file (immutable at create)
    val recordedProps = Seq("graft.bloom-cols", "graft.stats-max-cols",
      "graft.member-cols", "graft.member-bloom-bits")
      .flatMap(k => Option(properties.get(k)).map(k -> _)).toMap
    recordedProps.get("graft.bloom-cols").foreach(_.split(',').map(_.trim)
      .filter(_.nonEmpty).foreach { c =>
        require(schema.fields.exists(_.name == c),
          s"graft.bloom-cols column $c is not a column of the table")
      })
    // membership-bloom columns: ARRAY (element membership) or MAP (key
    // membership) with string/integral elements — top-level or dotted
    // struct leaves ("meta.tags"), validated at CREATE so no commit can
    // later hit an unhashable element type or an unresolvable path
    recordedProps.get("graft.member-cols").foreach(_.split(',').map(_.trim)
      .filter(_.nonEmpty).foreach { c =>
        val dt = VersionedTable.memberLeafType(schema, c)
        def hashable(t: DataType): Boolean = t match {
          case StringType | LongType | IntegerType | ShortType | ByteType => true
          case _ => false
        }
        require(dt.exists {
          case a: org.apache.spark.sql.types.ArrayType => hashable(a.elementType)
          case m: org.apache.spark.sql.types.MapType   => hashable(m.keyType)
          case _ => false
        }, s"graft.member-cols column $c must be an ARRAY (of " +
          "string/integral elements) or MAP (with string/integral keys) " +
          "column or dotted struct leaf of the table")
      })
    recordedProps.get("graft.member-bloom-bits").foreach { v =>
      require(v.toIntOption.exists(n => n >= 64 && n % 64 == 0 && n <= (1 << 22)),
        s"graft.member-bloom-bits must be a multiple of 64 in [64, 4194304], got $v")
    }
    recordedProps.get("graft.stats-max-cols").foreach { v =>
      // range-checked at CREATE so no later commit can hit a parse error
      require(v.toIntOption.exists(n => n >= 0 && n <= 100000),
        s"graft.stats-max-cols must be a count in [0, 100000], got $v")
    }
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(ident)
    // spec FIRST: the schema carrier must nest under a bucket subtree
    bucketSpec.foreach { case (c, n) =>
      VersionedTable.recordBucketSpec(dirOf(ident).toString, c, n)
    }
    clusterBy.foreach(c =>
      VersionedTable.recordClusterSpec(dirOf(ident).toString, c))
    if (identityBy.nonEmpty)
      VersionedTable.recordIdentityPartition(
        dirOf(ident).toString, identityBy.mkString(","))
    VersionedTable.recordTableProps(dirOf(ident).toString, recordedProps)
    VersionedTable.commitSchemaOnly(dirOf(ident).toString, schema, append = false)
    loadTable(ident)
  }

  /** CREATE TABLE with INLINE CONSTRAINTS (`CREATE TABLE t (k BIGINT,
    * CONSTRAINT c CHECK (k > 0))`): the TableInfo form carries them;
    * the default implementation would silently drop them, so record
    * each CHECK right after the schema-only create — the new table is
    * empty, so no validation scan is needed and every subsequent commit
    * is gated from version 2 on.
    */
  override def createTable(
      ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo): Table = {
    val t = createTable(ident, info.schema(), info.partitions(), info.properties())
    info.constraints().foreach {
      case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
        VersionedTable.addCheckConstraint(
          SparkSession.active, dirOf(ident).toString, c.name(), c.predicateSql())
      case other => throw new UnsupportedOperationException(
        s"catalog $catName enforces only CHECK constraints; got $other")
    }
    if (info.constraints().nonEmpty) loadTable(ident) else t
  }

  // constraint DDL rides the DSv2 constraint SPIP (Spark 4.x): without
  // this capability Spark refuses ALTER TABLE ... ADD CONSTRAINT at
  // analysis before the catalog ever sees it
  override def capabilities()
      : java.util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  /** ALTER TABLE ADD COLUMN(S): append a schema-only commit whose empty
    * file carries the widened schema — [[VersionedTable.snapshotSchema]]
    * unions it in, existing files are untouched, old snapshots keep
    * their narrower schema, and the readers null-fill the new column
    * for pre-evolution rows. New columns must be nullable (existing
    * rows have no value for them); every other change kind is refused
    * loudly.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = dirOf(ident).toString
    val spark = SparkSession.active
    val cur = VersionedTable.snapshotSchema(spark, dir, None)
    // constraint DDL first: ADD CONSTRAINT ... CHECK validates the
    // standing head in one aggregate job (a constraint the table already
    // violates is rejected — recorded constraints are invariants, never
    // aspirations) and then gates every later commit, SQL or
    // programmatic; DROP CONSTRAINT unrecords it. Only CHECK is
    // enforceable here — PK/FK/UNIQUE are informational elsewhere and
    // refusing them loudly beats silently not enforcing them.
    val (constraintChanges, columnChanges) = changes.partition {
      case _: TableChange.AddConstraint | _: TableChange.DropConstraint => true
      case _ => false
    }
    constraintChanges.foreach {
      case a: TableChange.AddConstraint => a.constraint() match {
        case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
          VersionedTable.addCheckConstraint(spark, dir, c.name(), c.predicateSql())
        case other => throw new UnsupportedOperationException(
          s"catalog $catName enforces only CHECK constraints; got $other")
      }
      case d: TableChange.DropConstraint =>
        require(VersionedTable.constraints(dir).exists(_._1 == d.name()),
          s"constraint ${d.name()} does not exist on $ident")
        VersionedTable.dropConstraint(dir, d.name())
      case _ => ()
    }
    if (columnChanges.isEmpty && constraintChanges.nonEmpty)
      return loadTable(ident)
    // UPFRONT validation of every column change, before ANY is applied:
    // a multi-change ALTER must be all-or-nothing at the cheap-check
    // level — without this, a refused later change (unsupported kind,
    // non-nullable add) would leave earlier carriers already committed
    // with no rollback. Deep per-change validation (name collisions,
    // spine existence) still happens at apply time; this pass rejects
    // the statically-refusable shapes.
    columnChanges.foreach {
      case _: TableChange.RenameColumn | _: TableChange.DeleteColumn => ()
      case u: TableChange.UpdateColumnType =>
        require(u.fieldNames().length == 1,
          s"nested ALTER COLUMN ${u.fieldNames().mkString(".")} is not supported")
      case a: TableChange.AddColumn =>
        require(a.isNullable,
          s"ADD COLUMN ${a.fieldNames().mkString(".")}: new columns must " +
            "be nullable — existing rows carry no value for them")
        require(!a.fieldNames().exists(_.contains(".")),
          s"invalid column name ${a.fieldNames().mkString(".")}: dots " +
            "inside a field name are reserved for nested paths")
        VersionedTable.requireDotFreeNames(a.dataType(),
          s"ADD COLUMN ${a.fieldNames().mkString(".")}")
      case other => throw new UnsupportedOperationException(
        s"catalog $catName supports only ALTER TABLE ADD/RENAME/DROP " +
          s"COLUMN(S) and ALTER COLUMN TYPE widening; got $other")
    }
    // RENAME/DROP COLUMN are metadata-only edits of the column map —
    // no commit, no data movement ([[VersionedTable.renameColumn]]).
    // Nested paths (meta.lang) route through the dotted column map.
    val (mapChanges, addChanges) = columnChanges.partition {
      case _: TableChange.RenameColumn | _: TableChange.DeleteColumn => true
      case _ => false
    }
    mapChanges.foreach {
      case r: TableChange.RenameColumn =>
        VersionedTable.renameColumnPath(
          spark, dir, r.fieldNames().toSeq, r.newName())
      case d: TableChange.DeleteColumn =>
        VersionedTable.dropColumnPath(spark, dir, d.fieldNames().toSeq)
      case _ => ()
    }
    // ALTER COLUMN ... TYPE: lossless widening only (INT->BIGINT,
    // FLOAT->DOUBLE) — a schema-only carrier commit; no data rewrite
    val (typeChanges, addOnly) = addChanges.partition {
      case _: TableChange.UpdateColumnType => true
      case _ => false
    }
    typeChanges.foreach {
      case u: TableChange.UpdateColumnType =>
        require(u.fieldNames().length == 1,
          s"nested ALTER COLUMN ${u.fieldNames().mkString(".")} is not supported")
        VersionedTable.widenColumn(spark, dir, u.fieldNames()(0), u.newDataType())
      case _ => ()
    }
    if (addOnly.isEmpty) return loadTable(ident)
    // NESTED adds (parent.child) evolve the parent struct through a
    // schema-only carrier ([[VersionedTable.addNestedColumn]]); old
    // files read the new field as NULL. RENAME/DROP stay top-level-only
    // (column-mapping ids do not extend to nested paths yet).
    val (nestedAdds, flatAdds) = addOnly.partition {
      case a: TableChange.AddColumn => a.fieldNames().length > 1
      case _                        => false
    }
    nestedAdds.foreach {
      case a: TableChange.AddColumn =>
        require(a.isNullable,
          s"ADD COLUMN ${a.fieldNames().mkString(".")}: new nested fields " +
            "must be nullable — existing rows carry no value for them")
        VersionedTable.addNestedColumn(spark, dir,
          a.fieldNames().init.toSeq,
          StructField(a.fieldNames().last, a.dataType(), nullable = true))
      case _ => ()
    }
    if (flatAdds.isEmpty) return loadTable(ident)
    val adds = flatAdds.map {
      case a: TableChange.AddColumn =>
        require(a.isNullable,
          s"ADD COLUMN ${a.fieldNames()(0)}: new columns must be nullable — " +
            "existing rows carry no value for them")
        StructField(a.fieldNames()(0), a.dataType(), nullable = true)
      case other => throw new UnsupportedOperationException(
        s"catalog $catName supports only ALTER TABLE ADD/RENAME/DROP " +
          s"COLUMN(S) and ALTER COLUMN TYPE widening; got $other")
    }
    // `cur` is the PHYSICAL footer union — a new column's name becomes
    // its physical name, so it must be fresh in BOTH namespaces. A type
    // change in the same ALTER means the pre-read union is stale.
    val base = if (typeChanges.isEmpty) cur
      else VersionedTable.snapshotSchema(spark, dir, None)
    adds.foreach(f => VersionedTable.requireFreshColumnName(dir, f.name, base))
    VersionedTable.commitSchemaOnly(dir, StructType(base.fields ++ adds), append = true)
    loadTable(ident)
  }

  /** DROP TABLE: delete the directory tree through
    * [[VersionedTable.dropTable]] (which also invalidates the JVM's
    * resolved-entry cache — the invariant that makes recreate-at-same-
    * path safe).
    */
  override def dropTable(ident: Identifier): Boolean =
    tableExists(ident) && {
      VersionedTable.dropTable(dirOf(ident).toString)
      true
    }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      s"catalog $catName does not support RENAME: readers pin tables by " +
        "path, and a rename would silently break their snapshots")
}

class GraftCatalogTable(table: String, version: Option[Long], ident: String)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  /** SQL `UPDATE` and `MERGE INTO` (and DELETEs whose condition can't
    * become source filters): GROUP-BASED row-level operations where the
    * group is the FILE and the replacement is a replace commit. Spark's
    * rewrite reads every row of the candidate files (zone-map bounds
    * from the pushed condition narrow candidates at planning time),
    * computes the new content, and the write publishes `R:` lines for
    * exactly the scanned files plus their rewrites — carried files are
    * untouched, and a commit that lands between the scan and the publish
    * fails with `ConcurrentModificationException` (the scanned basis is
    * the expected head), closing MERGE's write-skew hole. Candidates are
    * a zone-map over-approximation of the truly-touched files — an
    * unmatched candidate file is rewritten byte-equivalently rather than
    * skipped; exact-touched narrowing is the runtime-group-filtering
    * refinement, deliberately not taken here.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(version.isEmpty,
      s"cannot run ${info.command} on a time-traveled snapshot of $ident")
    // bucketed tables take row-level ops too: the replacing write routes
    // every rewritten (and MERGE-inserted) row into its own key's
    // __graft_bucket subtree, so co-location survives the rewrite
    () => new GraftRowLevelOperation(table, info.command, bucket)
  }
  override def name(): String =
    version.fold(ident)(v => s"$ident@v$v")
  // DESCRIBE TABLE EXTENDED surfaces the table's operational state from
  // metadata alone: head version, commit count, bucket layout, whether a
  // column mapping (RENAME/DROP COLUMN history) is active
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    val vs = VersionedTable.versions(table)
    vs.lastOption.foreach(v => m.put("graft.head-version", v.toString))
    m.put("graft.commits", vs.size.toString)
    bucket.foreach { case (c, n) =>
      m.put("graft.bucket-column", c)
      m.put("graft.bucket-count", n.toString)
    }
    VersionedTable.clusterSpec(table).foreach(c => m.put("graft.cluster-by", c))
    VersionedTable.identityPartition(table).foreach(c =>
      m.put("graft.partition-by", c))
    VersionedTable.tableProps(table).foreach { case (k, v) => m.put(k, v) }
    if (VersionedTable.logicalToPhysical(table).nonEmpty)
      m.put("graft.column-mapping", "name")
    m
  }
  // the O(commits) footer union, not a full-scan inference: picks up
  // ADD COLUMN evolution (old files null-fill) and stays metadata-cheap.
  // Served under LOGICAL names: renamed columns surface as renamed,
  // dropped columns disappear ([[VersionedTable.renameColumn]]); scans
  // and writes translate back to physical names at their boundaries.
  // resolved ONCE per Table object: Spark calls loadTable per query, so
  // this pins the analysis-time schema for that query (the snapshot
  // convention every versioned format follows) and stops each analysis
  // pass from re-listing the manifest directory to resolve the head
  override def schema(): StructType = resolvedSchema
  private lazy val resolvedSchema: StructType = {
    // one head listing for the whole resolution: every walk inside
    // (schema hints, chain dirs, file counts) then runs version-pinned
    val pinned = version.orElse(VersionedTable.versions(table).lastOption)
    VersionedTable.logicalizeSchema(table,
      VersionedTable.snapshotSchema(SparkSession.active, table, pinned))
  }
  // standing CHECK constraints surfaced through the DSv2 constraint API
  // (DESCRIBE shows them); each was head-validated at ADD time and gates
  // every commit, so ENFORCED/VALID/rely is the honest status
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    VersionedTable.constraints(table).map { case (n, sql) =>
      org.apache.spark.sql.connector.catalog.constraints.Constraint.check(n)
        .predicateSql(sql)
        .enforced(true)
        .validationStatus(org.apache.spark.sql.connector.catalog.constraints
          .Constraint.ValidationStatus.VALID)
        .rely(true)
        .build(): org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.toArray
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)
  private lazy val bucket = VersionedTable.bucketSpec(table)
  // a bucketed table reports its layout, and its scans report
  // KeyGroupedPartitioning — the storage-partitioned-join surface; an
  // identity-partitioned table reports the transform the user declared
  // (delivered as clustered-on-write + zone-map pruning)
  override def partitioning(): Array[Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    bucket.map { case (c, n) =>
      Expressions.bucket(n, c): Transform
    }.toArray ++ VersionedTable.identityDecls(table).map { d =>
      val i = d.indexOf('(')
      if (i < 0) Expressions.identity(d): Transform
      else {
        val name = d.substring(0, i)
        val args = d.substring(i + 1, d.lastIndexOf(')')).split(',').map(_.trim)
        if (name == "truncate")
          Expressions.apply("truncate",
            Expressions.literal(args(0).toInt),
            Expressions.column(args(1))): Transform
        else Expressions.apply(name, Expressions.column(args(0))): Transform
      }
    }
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // pin the snapshot ONCE per scan build: every downstream planning
    // call (layout, zones, selective seeks, statistics) then resolves
    // against this one version. Head resolution is an O(commits)
    // manifest-directory listing — unpinned, every per-version memo
    // re-listed it (61 listings / 534 ms of a 592 ms re-plan at a 10k-commit
    // chain, SCALING.md round 19 "ingest steady state") — and two listings
    // straddling a concurrent commit could mix two heads inside one plan. A
    // re-executed DataFrame still sees new commits: Spark calls
    // newScanBuilder per query execution.
    val pinned = version.orElse(VersionedTable.versions(table).lastOption)
    new GraftTableScanBuilder(table, pinned,
      VersionedTable.logicalizeSchema(table,
        VersionedTable.snapshotSchema(SparkSession.active, table, pinned)),
      bucket,
      MemberProbes.parse(options.get("graft.member-probes")))
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(version.isEmpty,
      s"cannot write to a time-traveled snapshot of $ident — write to the head")
    // bucketed tables take SQL writes too: the write declares a clustered
    // distribution on the table's own bucket transform, and each task
    // places rows in __graft_bucket=<b>/ exactly as commitBucketed does.
    // Rows are positional, so the rename-mapped write only swaps NAMES:
    // files always carry physical column names
    new GraftWriteBuilder(table,
      VersionedTable.physicalizeSchema(table, info.schema()), bucket)
  }

  /** SQL `DELETE FROM`: executed as [[VersionedTable.deleteWhereCow]] —
    * file-granular copy-on-write. The same pushed filters both become
    * the delete predicate and derive the zone-map candidate bounds, so
    * only files that can (and, after the touched-file probe, actually
    * do) contain matching rows are rewritten; everything else is carried
    * by the replace commit's manifest pointer. Declined (loudly, at
    * analysis) when any filter has no Column translation — the caller
    * falls back to the programmatic API rather than a silent partial
    * delete.
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    version.isEmpty && bucket.isEmpty &&
      filters.forall(f => GraftFilters.toColumn(f).isDefined)
  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(version.isEmpty,
      s"cannot DELETE from a time-traveled snapshot of $ident")
    val pred = filters.toSeq.flatMap(GraftFilters.toColumn)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    val (bounds, _) = GraftFilters.integralBounds(filters, schema())
    val (sb, _) = GraftFilters.stringBounds(filters, schema())
    VersionedTable.deleteWhereCow(SparkSession.active, table, pred, bounds,
      strBounds = sb.toSeq.map { case (c, (lo, hi)) => (c, lo, hi) })
    ()
  }
}

/** One group-based row-level operation (UPDATE / MERGE / fallback
  * DELETE): couples the candidate-file scan with the replacing write.
  * The SAME instance builds both, which is how the write learns what
  * the scan planned — `basis` (the head version the candidates came
  * from, later the expected head at publish) and `planned` (the entry
  * paths the rewrite replaces).
  */
class GraftRowLevelOperation(
    table: String,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command,
    bucket: Option[(String, Int)] = None)
    extends org.apache.spark.sql.connector.write.RowLevelOperation {
  @volatile private[sources] var basis: Long = -1L
  @volatile private[sources] var planned: Seq[String] = Nil // entry paths

  override def command()
      : org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd
  override def description(): String = s"graft-rowlevel $cmd on $table"

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder
        with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
      private val physFull =
        VersionedTable.snapshotSchema(SparkSession.active, table, None)
      // Spark resolves against LOGICAL names; files/stats are PHYSICAL
      private val seg = VersionedTable.segmentL2P(table)
      private def p(c: String): String = VersionedTable.physDotted(seg, c)
      private def physSchema(s: StructType): StructType =
        if (seg.isEmpty) s else VersionedTable.physicalizeSchema(table, s)
      private var reportAs: StructType =
        VersionedTable.logicalizeSchema(table, physFull)
      private var required: StructType = physSchema(reportAs)
      private var bounds: Seq[(String, Long, Long)] = Nil
      private var strBounds
          : Map[String, (Option[Array[Byte]], Option[Array[Byte]])] =
        Map.empty
      private var used: Array[Filter] = Array.empty
      override def pruneColumns(requiredSchema: StructType): Unit = {
        reportAs = requiredSchema
        required = physSchema(requiredSchema)
      }
      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        val phys = filters.map(GraftFilters.mapNames(_, p))
        val (b, consumed) = GraftFilters.integralBounds(phys, physFull)
        bounds = b
        val (sb, sConsumed) = GraftFilters.stringBounds(phys, physFull)
        strBounds = sb
        used = (consumed ++ sConsumed).distinct
        filters // residual: the rewrite plan re-applies the condition
      }
      override def pushedFilters(): Array[Filter] = used
      override def build(): Scan = {
        // pin the basis and the candidate (= replaced) files EAGERLY:
        // the write's publish must replace exactly what this scan reads.
        // Candidates are the planner selection (commit/chunk rollups
        // first, surviving entries parsed per chunk) — a narrow
        // DELETE/UPDATE/MERGE on a million-file table parses only the
        // chunks its bounds reach.
        val vs = VersionedTable.versions(table)
        require(vs.nonEmpty, s"no committed versions at $table")
        basis = vs.last
        val kept = VersionedTable.select(table, Some(basis), Prune.conjunction(
          bounds, strBounds.toSeq.map { case (c, (lo, hi)) => (c, lo, hi) }))
        planned = kept.map(_.path)
        new Scan with Batch {
          override def readSchema(): StructType = reportAs
          override def toBatch: Batch = this
          // header-resolved total (exact on count-line manifests) — the
          // description must not re-introduce the O(files) layout memo
          private lazy val totalFiles: String =
            VersionedTable.snapshotFileCountFast(table, Some(basis))
              .map(_.toString).getOrElse("?")
          override def description(): String =
            s"graft-rowlevel-scan $table@v$basis files=${kept.size}/$totalFiles"
          override def planInputPartitions(): Array[InputPartition] =
            kept.map(f => GraftCatalogPartition.of(table, Seq(f)): InputPartition).toArray
          // the candidates are replaced whole, so the rewrite reads every
          // row of each: no row-group filter, no runtime pruning
          override def createReaderFactory(): PartitionReaderFactory =
            new GraftCatalogReaderFactory(required)
        }
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      // rewritten rows arrive under logical names; files stay physical
      private val physSchema =
        VersionedTable.physicalizeSchema(table, info.schema())
      override def build(): Write = {
        def batch = new GraftBatchWrite(table, physSchema, overwrite = false,
          bucket, replacing = Some(GraftRowLevelOperation.this))
        bucket match {
          case None => new Write { override def toBatch: BatchWrite = batch }
          case Some((c, n)) => GraftWriteBuilder.bucketClustered(c, n, batch)
        }
      }
    }
}

/** The `bucket(n, col)` V2 function backing storage-partitioned joins:
  * bind() accepts (int numBuckets, long column) and produces
  * `pmod(column, numBuckets)` — EXACTLY the placement
  * [[VersionedTable.commitBucketed]] writes, which is what makes the
  * co-location contract sound. NULL keys map to bucket 0 (they never
  * match an equi-join, so placement is irrelevant).
  */
private[sources] object GraftBucketFunction
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction}

  override def name(): String = "bucket"
  override def description(): String =
    "bucket(numBuckets, col): pmod(col, numBuckets) — the graft bucketed-table placement"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2 &&
      inputType.fields(1).dataType == LongType,
      s"bucket(numBuckets, col) binds (int, bigint); got $inputType")
    new ScalarFunction[Integer] {
      override def inputTypes(): Array[DataType] = Array(IntegerType, LongType)
      override def resultType(): DataType = IntegerType
      override def name(): String = "bucket"
      override def canonicalName(): String = "graft.bucket"
      override def isResultNullable: Boolean = false
      override def produceResult(input: InternalRow): Integer = {
        val n = input.getInt(0)
        if (input.isNullAt(1)) 0
        else (((input.getLong(1) % n) + n) % n).toInt
      }
    }
  }
}

/** The maintenance procedures behind `CALL <cat>.system.<name>(...)`.
  * Each runs on the driver against the programmatic API and returns its
  * result as a one-row LocalScan (no executor task for the metadata-only
  * ones; compact/optimize/zorder launch ordinary rewrite jobs through
  * the active session). All are snapshot-safe by construction: they
  * delegate to operations that either only touch unreferenced/expired
  * files or fail loudly when the head moves underneath them.
  */
private[sources] object GraftProcedures {
  import org.apache.spark.sql.connector.catalog.procedures.{
    BoundProcedure, ProcedureParameter, UnboundProcedure}
  import org.apache.spark.sql.connector.read.LocalScan

  val names =
    Seq("vacuum", "vacuum_time", "vacuum_orphans", "compact", "optimize",
      "optimize_where", "zorder", "restore", "clone", "auto_maintain",
      "set_partitioning", "checkpoint")

  def load(resolve: String => String, name: String): UnboundProcedure =
    name match {
      // metadata-only chain reset: materialize the head manifest in
      // place (self-contained + indexed, all hints carried) WITHOUT
      // expiring versions — the Delta-checkpoint analog for tables that
      // accrete thousands of append commits between vacuums
      case "checkpoint" => proc(name,
        Seq("table" -> StringType),
        StructType(Seq(StructField("version", LongType, nullable = false)))) {
        in => Array[Any](VersionedTable.checkpoint(
          resolve(in.getUTF8String(0).toString)))
      }
      case "vacuum" => proc(name,
        Seq("table" -> StringType, "retain" -> IntegerType),
        StructType(Seq(StructField("files_deleted", IntegerType, nullable = false)))) {
        in => Array[Any](VersionedTable.vacuum(
          resolve(in.getUTF8String(0).toString), in.getInt(1)))
      }
      case "vacuum_time" => proc(name,
        // Delta's RETAIN n HOURS as milliseconds: expire every version
        // older than now - retain_ms; the head always survives
        Seq("table" -> StringType, "retain_ms" -> LongType),
        StructType(Seq(StructField("files_deleted", IntegerType, nullable = false)))) {
        in => Array[Any](VersionedTable.vacuumOlderThan(
          resolve(in.getUTF8String(0).toString),
          System.currentTimeMillis() - in.getLong(1)))
      }
      case "vacuum_orphans" => proc(name,
        Seq("table" -> StringType, "older_than_ms" -> LongType),
        StructType(Seq(StructField("dirs_deleted", IntegerType, nullable = false)))) {
        in => Array[Any](VersionedTable.vacuumOrphans(
          resolve(in.getUTF8String(0).toString), in.getLong(1)))
      }
      case "compact" => proc(name,
        Seq("table" -> StringType),
        StructType(Seq(StructField("new_version", LongType, nullable = false)))) {
        // bucketed tables compact through the bucketed writer (one file
        // per bucket, layout preserved); flat tables through commitCore
        in => {
          val t = resolve(in.getUTF8String(0).toString)
          Array[Any](
            if (VersionedTable.bucketSpec(t).isDefined)
              VersionedTable.compactBucketed(SparkSession.active, t)
            else VersionedTable.compact(SparkSession.active, t))
        }
      }
      case "optimize" => proc(name,
        Seq("table" -> StringType, "cluster_by" -> StringType,
          "target_rows" -> LongType),
        StructType(Seq(StructField("new_version", LongType, nullable = false)))) {
        in => Array[Any](VersionedTable.optimize(
          SparkSession.active, resolve(in.getUTF8String(0).toString),
          in.getUTF8String(1).toString, in.getLong(2)))
      }
      case "optimize_where" => proc(name,
        Seq("table" -> StringType, "cluster_by" -> StringType,
          "lo" -> LongType, "hi" -> LongType, "target_rows" -> LongType),
        StructType(Seq(StructField("new_version", LongType, nullable = false)))) {
        in => Array[Any](VersionedTable.optimizeWhere(
          SparkSession.active, resolve(in.getUTF8String(0).toString),
          in.getUTF8String(1).toString, in.getLong(2), in.getLong(3),
          in.getLong(4)))
      }
      case "restore" => proc(name,
        Seq("table" -> StringType, "version" -> LongType),
        StructType(Seq(StructField("new_version", LongType, nullable = false)))) {
        in => Array[Any](VersionedTable.restore(
          resolve(in.getUTF8String(0).toString), in.getLong(1)))
      }
      // version <= 0 clones the head (procedure params are positional
      // and non-nullable here, so 0 is the "latest" sentinel)
      case "clone" => proc(name,
        Seq("source" -> StringType, "target" -> StringType,
          "version" -> LongType),
        StructType(Seq(StructField("new_version", LongType, nullable = false)))) {
        in => Array[Any](VersionedTable.cloneTable(
          resolve(in.getUTF8String(0).toString),
          resolve(in.getUTF8String(1).toString),
          Some(in.getLong(2)).filter(_ > 0L)))
      }
      case "zorder" => proc(name,
        Seq("table" -> StringType, "cluster_by" -> StringType, // comma-separated
          "target_rows" -> LongType),
        StructType(Seq(StructField("new_version", LongType, nullable = false)))) {
        in => Array[Any](VersionedTable.optimizeZorder(
          SparkSession.active, resolve(in.getUTF8String(0).toString),
          in.getUTF8String(1).toString.split(',').toSeq.map(_.trim), in.getLong(2)))
      }
      // partition-transform EVOLUTION (Iceberg's REPLACE PARTITION
      // FIELD): old commits keep their clustering and keep pruning
      // through their per-file zones; commits from now on cluster by the
      // new declaration — no data rewritten
      case "set_partitioning" => proc(name,
        Seq("table" -> StringType, "spec" -> StringType),
        StructType(Seq(StructField("partitioning", StringType, nullable = false)))) {
        in => {
          val t = resolve(in.getUTF8String(0).toString)
          VersionedTable.setPartitioning(
            SparkSession.active, t, in.getUTF8String(1).toString)
          Array[Any](UTF8String.fromString(
            VersionedTable.identityPartition(t).getOrElse("")))
        }
      }
      // one-call auto-maintenance: metadata-only decision (the advisor's
      // thresholds), executed via the snapshot-pinned rewrite paths —
      // a degraded table returns to advisor-clean in a single CALL
      case "auto_maintain" => proc(name,
        Seq("table" -> StringType),
        StructType(Seq(
          StructField("action", StringType, nullable = false),
          StructField("new_version", LongType, nullable = false)))) {
        in => {
          val (action, v) = VersionedTable.autoMaintain(
            SparkSession.active, resolve(in.getUTF8String(0).toString))
          Array[Any](UTF8String.fromString(action), v)
        }
      }
    }

  private def proc(
      nm: String, params: Seq[(String, DataType)], out: StructType)(
      body: InternalRow => Array[Any]): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = nm
      override def description(): String = s"graft table maintenance: $nm"
      override def bind(inputType: StructType): BoundProcedure =
        new BoundProcedure {
          override def name(): String = nm
          override def description(): String = s"graft table maintenance: $nm"
          override def parameters(): Array[ProcedureParameter] =
            params.map { case (n, dt) => ProcedureParameter.in(n, dt).build() }.toArray
          override def isDeterministic: Boolean = false
          override def call(input: InternalRow)
              : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
            val row: InternalRow = new GenericInternalRow(body(input))
            java.util.List.of[org.apache.spark.sql.connector.read.Scan](
              new LocalScan {
                override def readSchema(): StructType = out
                override def rows(): Array[InternalRow] = Array(row)
                override def description(): String = s"graft-procedure $nm"
              }).iterator()
          }
        }
    }
}

/** Shared translation of Spark's V1 `Filter` pushdown forms: to a
  * `Column` predicate (for DELETE), and to per-column [lo, hi] bounds in
  * LONG space usable against commit-time zone maps (for planning-time
  * file pruning). Each type family converts its literals into the unit
  * its zones were recorded in: integral raw, DATE epoch days, TIMESTAMP
  * epoch micros, DECIMAL≤18 unscaled, DOUBLE IEEE sortable bits under a
  * `~col` key (where the ±1 open-bound adjustments mean
  * nextUp/nextDown — exact, unlike the integer truncation that kept
  * doubles out of pruning before round 16).
  */
/** Wire format of the `graft.member-probes` scan option — the side
  * channel [[graft.plans.PushMembershipProbes]] uses to hand membership
  * conjuncts to the scan (Spark never pushes array_contains as a source
  * filter): `b64(logicalCol):hashHex[|hashHex…]` groups joined by ';'.
  * Each group is a CONJUNCT whose hashes are a DISJUNCTION — a TRUE
  * `array_contains(col, k)` needs k present (singleton group); a TRUE
  * `arrays_overlap(col, array(k1, k2))` needs AT LEAST ONE of k1/k2
  * present, so a file is droppable only when the bloom excludes EVERY
  * hash of the group. Only ELEMENT HASHES cross the boundary — the
  * hash function is pinned in [[graft.functions.MemberBloom]], and the
  * probe is purely planning-time file pruning, so a stale or garbled
  * option can only keep extra files, never drop a match.
  */
object MemberProbes {
  def encode(probes: Seq[(String, Seq[Long])]): String = {
    val enc = java.util.Base64.getEncoder.withoutPadding
    probes.map { case (c, hs) =>
      s"${enc.encodeToString(c.getBytes(java.nio.charset.StandardCharsets.UTF_8))}:${
        hs.map(java.lang.Long.toHexString).mkString("|")}"
    }.mkString(";")
  }

  def parse(opt: String): Seq[(String, Seq[Long])] =
    if (opt == null || opt.isEmpty) Nil
    else opt.split(';').toSeq.flatMap { kv =>
      kv.split(':') match {
        case Array(c, hs) =>
          try {
            val col = new String(java.util.Base64.getDecoder.decode(c),
              java.nio.charset.StandardCharsets.UTF_8)
            val hashes = hs.split('|').toSeq
              .map(java.lang.Long.parseUnsignedLong(_, 16))
            if (hashes.isEmpty) None else Some(col -> hashes)
          } catch { case scala.util.control.NonFatal(_) => None }
        case _ => None
      }
    }
}

private[sources] object GraftFilters {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit, not => fnot}
  import org.apache.spark.sql.sources._

  def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(c, v)            => Some(col(c) === lit(v))
    case EqualNullSafe(c, v)      => Some(col(c) <=> lit(v))
    case GreaterThan(c, v)        => Some(col(c) > lit(v))
    case GreaterThanOrEqual(c, v) => Some(col(c) >= lit(v))
    case LessThan(c, v)           => Some(col(c) < lit(v))
    case LessThanOrEqual(c, v)    => Some(col(c) <= lit(v))
    case IsNull(c)                => Some(col(c).isNull)
    case IsNotNull(c)             => Some(col(c).isNotNull)
    case In(c, vs)                => Some(col(c).isin(vs.toIndexedSeq: _*))
    case StringStartsWith(c, v)   => Some(col(c).startsWith(v))
    case StringEndsWith(c, v)     => Some(col(c).endsWith(v))
    case StringContains(c, v)     => Some(col(c).contains(v))
    case Not(ch)                  => toColumn(ch).map(fnot)
    case And(l, r) => for { a <- toColumn(l); b <- toColumn(r) } yield a && b
    case Or(l, r)  => for { a <- toColumn(l); b <- toColumn(r) } yield a || b
    case _: AlwaysTrue            => Some(lit(true))
    case _: AlwaysFalse           => Some(lit(false))
    case _                        => None
  }

  /** Rename the column references of a pushed filter (logical → physical
    * under a column mapping). Shapes outside [[toColumn]]'s vocabulary
    * pass through untouched — they are never consumed for bounds or
    * predicates, so an untranslated exotic filter can only decline
    * pushdown, never corrupt it.
    */
  def mapNames(f: Filter, m: String => String): Filter = f match {
    case EqualTo(c, v)            => EqualTo(m(c), v)
    case EqualNullSafe(c, v)      => EqualNullSafe(m(c), v)
    case GreaterThan(c, v)        => GreaterThan(m(c), v)
    case GreaterThanOrEqual(c, v) => GreaterThanOrEqual(m(c), v)
    case LessThan(c, v)           => LessThan(m(c), v)
    case LessThanOrEqual(c, v)    => LessThanOrEqual(m(c), v)
    case IsNull(c)                => IsNull(m(c))
    case IsNotNull(c)             => IsNotNull(m(c))
    case In(c, vs)                => In(m(c), vs)
    case StringStartsWith(c, v)   => StringStartsWith(m(c), v)
    case StringEndsWith(c, v)     => StringEndsWith(m(c), v)
    case StringContains(c, v)     => StringContains(m(c), v)
    case Not(ch)                  => Not(mapNames(ch, m))
    case And(l, r)                => And(mapNames(l, m), mapNames(r, m))
    case Or(l, r)                 => Or(mapNames(l, m), mapNames(r, m))
    case other                    => other
  }

  private def integralLit(v: Any): Option[Long] = v match {
    case l: java.lang.Long    => Some(l)
    case i: java.lang.Integer => Some(i.toLong)
    case s: java.lang.Short   => Some(s.toLong)
    case b: java.lang.Byte    => Some(b.toLong)
    case _                    => None
  }

  /** Does the SORTED array hold any value in [lo, hi]? One binary
    * search — the per-(file, column) probe of runtime zone-map pruning.
    */
  def anyInRange(sorted: Array[Long], lo: Long, hi: Long): Boolean = {
    var l = 0
    var h = sorted.length
    while (l < h) { // first index with value >= lo
      val m = (l + h) >>> 1
      if (sorted(m) < lo) l = m + 1 else h = m
    }
    l < sorted.length && sorted(l) <= hi
  }

  /** Per-column ADMISSIBLE integral value sets from runtime (DPP-style)
    * In/EqualTo filters — several filters on one column intersect. Used
    * to drop files whose zone map contains none of a join's observed
    * keys; non-integral or untranslatable filters contribute nothing
    * (conservative: fewer filters, fewer prunes, never wrong).
    */
  def inSets(filters: Array[Filter]): Map[String, Set[Long]] = {
    var sets = Map.empty[String, Set[Long]]
    def add(c: String, vs: Set[Long]): Unit =
      sets = sets.updated(c, sets.get(c).fold(vs)(_.intersect(vs)))
    filters.foreach {
      case In(c, vs) =>
        val longs = vs.toSeq.map(integralLit)
        if (longs.nonEmpty && longs.forall(_.isDefined))
          add(c, longs.flatten.toSet)
      case EqualTo(c, v) => integralLit(v).foreach(x => add(c, Set(x)))
      case _ => ()
    }
    sets
  }

  /** Per-column ADMISSIBLE STRING value sets from runtime In/EqualTo
    * filters — the string twin of [[inSets]], for joins keyed on string
    * ids (the common LLM-pipeline shape: document/chunk ids). Values
    * stay Strings here (Set intersection by value); probes compare
    * UTF-8 bytes against the byte-prefix zones.
    */
  def strInSets(filters: Array[Filter]): Map[String, Set[String]] = {
    var sets = Map.empty[String, Set[String]]
    def add(c: String, vs: Set[String]): Unit =
      sets = sets.updated(c, sets.get(c).fold(vs)(_.intersect(vs)))
    filters.foreach {
      case In(c, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
        add(c, vs.iterator.map(_.asInstanceOf[String]).toSet)
      case EqualTo(c, v: String) => add(c, Set(v))
      case _ => ()
    }
    sets
  }

  /** Does the bytewise-SORTED value array hold anything inside the
    * string zone [zlo, zhi?]? One binary search per (file, column) —
    * truncated zone bounds only widen the window, never narrow it, so
    * the probe over-keeps and stays sound.
    */
  def anyInStrZone(sorted: Array[Array[Byte]], zlo: Array[Byte],
      zhi: Option[Array[Byte]]): Boolean = {
    import VersionedTable.byteCompare
    var l = 0
    var h = sorted.length
    while (l < h) { // first value >= zlo
      val m = (l + h) >>> 1
      if (byteCompare(sorted(m), zlo) < 0) l = m + 1 else h = m
    }
    l < sorted.length && zhi.forall(z => byteCompare(sorted(l), z) <= 0)
  }

  /** Merge two admissible-key maps: columns present in both INTERSECT
    * (each map is a sound over-approximation of the admissible values,
    * so their intersection is too); columns in one pass through.
    */
  def intersectSets[A](
      a: Map[String, Set[A]], b: Map[String, Set[A]]): Map[String, Set[A]] =
    (a.keySet ++ b.keySet).iterator.map { k =>
      k -> ((a.get(k), b.get(k)) match {
        case (Some(x), Some(y)) => x.intersect(y)
        case (x, y)             => x.orElse(y).get
      })
    }.toMap

  /** UTF-8 encode + bytewise sort a runtime string key set, ready for
    * [[anyInStrZone]] probes.
    */
  private def sortedUtf8(vs: Set[String]): Array[Array[Byte]] =
    vs.toArray.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .sortWith(VersionedTable.byteCompare(_, _) < 0)

  /** Admissible-KEY file pruning (static In/EqualTo sets and runtime DPP
    * sets): a file drops when one of its zones holds none of a column's
    * keys — one binary search per (file, column) over keys sorted once.
    * Stat-less columns keep the file.
    */
  def inSetsKeep(sets: Map[String, Set[Long]],
      strSets: Map[String, Set[String]]): FileEntry => Boolean =
    if (sets.isEmpty && strSets.isEmpty) _ => true
    else sortedInKeep(sets.view.mapValues(_.toArray.sorted).toMap,
      strSets.view.mapValues(sortedUtf8).toMap)

  private def sortedInKeep(sorted: Map[String, Array[Long]],
      sSorted: Map[String, Array[Array[Byte]]])(f: FileEntry): Boolean =
    sorted.forall { case (c, vs) =>
      f.zones.get(c).forall { case (mn, mx) => anyInRange(vs, mn, mx) }
    } && sSorted.forall { case (c, vs) =>
      f.strZones.get(c).forall { case (zlo, zhi) => anyInStrZone(vs, zlo, zhi) }
    }

  /** Date literal → epoch days, the unit the date zone maps record
    * (`unix_date` at commit time). Pushed date filters carry
    * `java.sql.Date` (default) or `java.time.LocalDate` (java8 API).
    */
  private def dateLit(v: Any): Option[Long] = v match {
    case d: java.sql.Date       => Some(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => Some(d.toEpochDay)
    case _                      => None
  }

  /** Timestamp literal → epoch micros, the unit the timestamp zone maps
    * record (`unix_micros` at commit time). Pushed timestamp filters
    * carry `java.sql.Timestamp` (default) or `java.time.Instant` (java8
    * API).
    */
  private def tsLit(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp =>
      Some(t.getTime * 1000L + (t.getNanos % 1000000) / 1000L)
    case i: java.time.Instant =>
      Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
    case _ => None
  }

  /** Per-column [lo, hi] bounds implied by the (implicitly ANDed)
    * top-level filters, plus the filters that contributed. Sound for
    * pruning AND for [[VersionedTable.deleteWhereCow]]'s candidate
    * pre-prune: every row matching the conjunction lies within the
    * bounds; filters that don't translate simply contribute nothing.
    * Date columns participate in epoch-day units (discrete like
    * integers, so the ±1 open-bound adjustments stay exact).
    */
  /** Dotted leaf fields of `schema`: every top-level column plus every
    * primitive leaf reachable through STRUCT spines under "a.b" names —
    * the key space zone maps record (nested predicates arrive from
    * Spark's V2 pushdown with exactly these dotted attribute names).
    */
  private def leafFields(schema: StructType): Seq[(String, DataType)] = {
    def walk(prefix: String, dt: DataType): Seq[(String, DataType)] =
      dt match {
        case st: StructType =>
          st.fields.flatMap(g => walk(s"$prefix.${g.name}", g.dataType)).toSeq
        case t => Seq(prefix -> t)
      }
    schema.fields.flatMap(f => walk(f.name, f.dataType)).toSeq
  }

  def integralBounds(filters: Array[Filter], schema: StructType)
      : (Seq[(String, Long, Long)], Array[Filter]) = {
    val leaves = leafFields(schema)
    val integralCols: Set[String] = leaves.collect {
      case (n, t) if t == LongType || t == IntegerType ||
        t == ShortType || t == ByteType => n
    }.toSet
    val dateCols: Set[String] = leaves.collect {
      case (n, DateType) => n
    }.toSet
    val tsCols: Set[String] = leaves.collect {
      case (n, TimestampType) => n
    }.toSet
    // DECIMAL bounds speak the zone maps' UNSCALED unit: only literals
    // exactly representable at the column's scale convert (the dominant
    // case — Spark casts comparison literals to the column's type); an
    // inexact literal contributes no bound, which is merely conservative
    val decScale: Map[String, Int] = leaves.collect {
      case (n, d: org.apache.spark.sql.types.DecimalType)
        if d.precision <= 18 => n -> d.scale
    }.toMap
    def decLit(v: Any, scale: Int): Option[Long] = {
      val bd = v match {
        case d: java.math.BigDecimal  => Some(d)
        case d: scala.math.BigDecimal => Some(d.bigDecimal)
        case d: org.apache.spark.sql.types.Decimal => Some(d.toJavaBigDecimal)
        case _                        => None
      }
      bd.flatMap { d =>
        try Some(d.movePointRight(scale).longValueExact())
        catch { case _: ArithmeticException => None }
      }
    }
    // DOUBLE predicates convert to SORTABLE BITS under a tilde-prefixed
    // bound key (`~col`): the bijection makes ±1 mean nextUp/nextDown —
    // exact open-bound handling, unlike integer truncation — and the
    // tilde matches the zone key double stats are recorded under, so old
    // manifests' truncated long zones (raw name) can never be misread
    val dblCols: Set[String] = leaves.collect {
      case (n, t) if t == DoubleType || t == FloatType => n
    }.toSet
    // a ZERO double literal converts to a (lo, hi) PAIR of sortable
    // bits — Spark SQL compares -0.0 == 0.0, but the bits bijection
    // separates them (bits(-0.0) = -1, bits(+0.0) = 0), so a zero bound
    // must span both representations: the lo side of any range uses the
    // -0.0 bits and the hi side the +0.0 bits, else a file whose zeros
    // are all one sign is wrongly pruned for a predicate naming the
    // other. Non-zero (and non-double) literals keep lo == hi.
    def dblLit(v: Any): Option[(Long, Long)] = {
      val d: Option[Double] = v match {
        case d: java.lang.Double => Some(d.doubleValue)
        case f: java.lang.Float  => Some(f.toDouble)
        case _                   => None
      }
      d.map { x =>
        if (x == 0.0d)
          (VersionedTable.sortableBits(-0.0d), VersionedTable.sortableBits(0.0d))
        else { val b = VersionedTable.sortableBits(x); (b, b) }
      }
    }
    def litOf(c: String, v: Any): Option[(Long, Long)] = {
      val single =
        if (integralCols.contains(c)) integralLit(v)
        else if (dateCols.contains(c)) dateLit(v)
        else if (tsCols.contains(c)) tsLit(v)
        else decScale.get(c).flatMap(s => decLit(v, s))
      if (dblCols.contains(c)) dblLit(v) else single.map(x => (x, x))
    }
    def keyOf(c: String): String = if (dblCols.contains(c)) s"~$c" else c
    var bounds = Map.empty[String, (Long, Long)]
    def tighten(c: String, lo: Long, hi: Long): Boolean = {
      val k = keyOf(c)
      val (l0, h0) = bounds.getOrElse(k, (Long.MinValue, Long.MaxValue))
      bounds = bounds.updated(k, (math.max(l0, lo), math.min(h0, hi)))
      true
    }
    // strict bounds use the FAR zero representation (+0.0 bits for `>`,
    // -0.0 bits for `<`) so the ±1 step lands just past BOTH zeros —
    // neither sign of zero matches a strict comparison against zero
    val consumed = filters.filter {
      case EqualTo(c, v) =>
        litOf(c, v).exists { case (lo, hi) => tighten(c, lo, hi) }
      case GreaterThan(c, v) =>
        litOf(c, v).exists { case (_, hi) =>
          hi < Long.MaxValue && tighten(c, hi + 1, Long.MaxValue) }
      case GreaterThanOrEqual(c, v) =>
        litOf(c, v).exists { case (lo, _) => tighten(c, lo, Long.MaxValue) }
      case LessThan(c, v) =>
        litOf(c, v).exists { case (lo, _) =>
          lo > Long.MinValue && tighten(c, Long.MinValue, lo - 1) }
      case LessThanOrEqual(c, v) =>
        litOf(c, v).exists { case (_, hi) => tighten(c, Long.MinValue, hi) }
      case In(c, vs) if vs.nonEmpty =>
        val xs = vs.toSeq.map(litOf(c, _))
        xs.forall(_.isDefined) &&
          tighten(c, xs.flatten.map(_._1).min, xs.flatten.map(_._2).max)
      case _ => false
    }
    (bounds.toSeq.map { case (c, (lo, hi)) => (c, lo, hi) }, consumed)
  }

  private def strLit(v: Any): Option[Array[Byte]] = v match {
    case s: String => Some(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    case _ => None
  }

  /** Per-column inclusive [lo, hi] BYTE bounds implied by the filters on
    * STRING columns — the string twin of [[integralBounds]], compared
    * bytewise over UTF-8 (exactly Spark's binary-collation order, which
    * is also how the string zone maps were recorded). Strict
    * inequalities widen to inclusive (sound: a boundary file is kept,
    * never wrongly dropped — strings have no discrete ±1); `LIKE 'p%'`
    * (StringStartsWith) contributes [p, incremented-prefix]. Either side
    * of a bound may be open (None).
    */
  def stringBounds(filters: Array[Filter], schema: StructType)
      : (Map[String, (Option[Array[Byte]], Option[Array[Byte]])], Array[Filter]) = {
    import VersionedTable.{byteCompare, incrementPrefix}
    val strCols: Set[String] = leafFields(schema).collect {
      case (n, StringType) => n
    }.toSet
    var bounds =
      Map.empty[String, (Option[Array[Byte]], Option[Array[Byte]])]
    def pick(a: Option[Array[Byte]], b: Option[Array[Byte]], wantHi: Boolean) =
      (a, b) match {
        case (Some(x), Some(y)) =>
          val c = byteCompare(x, y)
          Some(if ((c <= 0) == wantHi) x else y) // hi: keep smaller; lo: keep larger
        case _ => a.orElse(b)
      }
    def tighten(c: String,
        lo: Option[Array[Byte]], hi: Option[Array[Byte]]): Boolean =
      strCols.contains(c) && {
        val (l0, h0) = bounds.getOrElse(c,
          (None: Option[Array[Byte]], None: Option[Array[Byte]]))
        bounds = bounds.updated(c,
          (pick(l0, lo, wantHi = false), pick(h0, hi, wantHi = true)))
        true
      }
    val consumed = filters.filter {
      case EqualTo(c, v) =>
        strLit(v).exists(b => tighten(c, Some(b), Some(b)))
      case GreaterThan(c, v) =>
        strLit(v).exists(b => tighten(c, Some(b), None))
      case GreaterThanOrEqual(c, v) =>
        strLit(v).exists(b => tighten(c, Some(b), None))
      case LessThan(c, v) =>
        strLit(v).exists(b => tighten(c, None, Some(b)))
      case LessThanOrEqual(c, v) =>
        strLit(v).exists(b => tighten(c, None, Some(b)))
      case In(c, vs) if vs.nonEmpty =>
        val bs = vs.toSeq.map(strLit)
        bs.forall(_.isDefined) && {
          val xs = bs.flatten
          tighten(c,
            Some(xs.reduce((a, b) => if (byteCompare(a, b) <= 0) a else b)),
            Some(xs.reduce((a, b) => if (byteCompare(a, b) >= 0) a else b)))
        }
      case StringStartsWith(c, v) =>
        val p = v.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        p.nonEmpty && tighten(c, Some(p), incrementPrefix(p))
      case _ => false
    }
    (bounds, consumed)
  }

  /** Does a file's string zone [zlo, zhi?] possibly intersect the query
    * bounds [lo?, hi?]? Missing zone sides / open query sides never
    * prune — conservative in exactly the way soundness requires.
    */
  def strZoneIntersects(
      zone: (Array[Byte], Option[Array[Byte]]),
      b: (Option[Array[Byte]], Option[Array[Byte]])): Boolean = {
    import VersionedTable.byteCompare
    val (zlo, zhiOpt) = zone
    val (lo, hi) = b
    hi.forall(h => byteCompare(zlo, h) <= 0) &&
      lo.forall(l => zhiOpt.forall(zh => byteCompare(zh, l) >= 0))
  }
}

/** The `$history` metadata table: one row per committed version, built on
  * the DRIVER from the manifests alone ([[VersionedTable.history]]'s
  * columns plus the commit wall-time) and served as a `LocalScan` — a
  * query over the commit log never schedules an executor task.
  */
class GraftHistoryTable(table: String, ident: String)
    extends Table with SupportsRead {
  private val historySchema = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("operation", StringType, nullable = false),
    StructField("n_fresh_files", IntegerType, nullable = false),
    StructField("n_tombstone_files", IntegerType, nullable = false),
    StructField("n_fresh_rows", LongType, nullable = true),
    StructField("txn_id", StringType, nullable = true),
    StructField("commit_ts_millis", LongType, nullable = true)))
  override def name(): String = ident
  override def schema(): StructType = historySchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan =
        new org.apache.spark.sql.connector.read.LocalScan {
          override def readSchema(): StructType = historySchema
          override def description(): String = s"graft-history $table"
          override def rows(): Array[InternalRow] = {
            val spark = SparkSession.active
            VersionedTable.history(spark, table).collect().map { r =>
              new GenericInternalRow(Array[Any](
                r.getLong(0), UTF8String.fromString(r.getString(1)),
                r.getInt(2), r.getInt(3),
                if (r.isNullAt(4)) null else r.getLong(4),
                if (r.isNullAt(5)) null else UTF8String.fromString(r.getString(5)),
                VersionedTable.commitTimestamp(table, r.getLong(0)).orNull
              )): InternalRow
            }
          }
        }
    }
}

/** The `$files` metadata table: one row per data file of the pinned
  * snapshot — path, owning commit, commit-time footer row count (null
  * for pre-stats manifests), how many tombstone files apply to it, and
  * its zone map rendered as `col=lo..hi;…` (empty when none). Built on
  * the driver from [[VersionedTable.select]] and served as a
  * LocalScan; honors `VERSION AS OF`, so layout drift across commits
  * (small-file buildup, clustering decay, tombstone debt) is
  * SQL-inspectable per snapshot without opening a single data file.
  */
class GraftFilesTable(table: String, version: Option[Long], ident: String)
    extends Table with SupportsRead {
  private val filesSchema = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("commit_version", LongType, nullable = false),
    StructField("n_rows", LongType, nullable = true),
    StructField("size_bytes", LongType, nullable = true),
    StructField("n_applicable_tombstones", IntegerType, nullable = false),
    StructField("zone_map", StringType, nullable = false)))
  override def name(): String = version.fold(ident)(v => s"$ident@v$v")
  override def schema(): StructType = filesSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan =
        new org.apache.spark.sql.connector.read.LocalScan {
          override def readSchema(): StructType = filesSchema
          override def description(): String = s"graft-files $table"
          override def rows(): Array[InternalRow] = {
            VersionedTable.select(table, version, Prune.none).map { f =>
              val zones = f.zones.toSeq.sortBy(_._1)
                .map { case (col, (mn, mx)) => s"$col=$mn..$mx" }.mkString(";")
              new GenericInternalRow(Array[Any](
                UTF8String.fromString(f.path), f.commit,
                f.rows.map(Long.box).orNull, f.bytes.map(Long.box).orNull,
                f.tombstones.size, UTF8String.fromString(zones))): InternalRow
            }.toArray
          }
        }
    }
}

/** The `$stats` metadata table: one row per column of the pinned
  * snapshot's (logical) schema with the planner-grade statistics the
  * manifests and `.ndv.txt` sidecars already hold — NDV estimate (HLL
  * union across commits), null count and exact min/max from the
  * integral zone/NN segments, avg/max byte length for strings. A
  * driver-LocalScan like `$files`: inspecting statistics never opens a
  * data file nor schedules an executor task, and `VERSION AS OF` shows
  * how they drift across snapshots.
  */
class GraftStatsTable(table: String, version: Option[Long], ident: String)
    extends Table with SupportsRead {
  private val statsSchema = StructType(Seq(
    StructField("column", StringType, nullable = false),
    StructField("ndv_estimate", LongType, nullable = true),
    StructField("null_count", LongType, nullable = true),
    StructField("min_long", LongType, nullable = true),
    StructField("max_long", LongType, nullable = true),
    StructField("avg_len", LongType, nullable = true),
    StructField("max_len", LongType, nullable = true)))
  override def name(): String = version.fold(ident)(v => s"$ident@v$v")
  override def schema(): StructType = statsSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan =
        new org.apache.spark.sql.connector.read.LocalScan {
          override def readSchema(): StructType = statsSchema
          override def description(): String = s"graft-stats $table"
          override def rows(): Array[InternalRow] = {
            val spark = SparkSession.active
            val phys = VersionedTable.snapshotSchema(spark, table, version)
            val rep = VersionedTable.logicalizeSchema(table, phys)
            val cs = GraftColumnStats.forScan(table,
              VersionedTable.select(table, version, Prune.none), phys, rep)
            val byName = {
              import scala.jdk.CollectionConverters._
              cs.asScala.map { case (ref, v) => ref.describe() -> v }.toMap
            }
            rep.fields.map { f =>
              val st = byName.get(f.name)
              def opt(g: org.apache.spark.sql.connector.read.colstats.ColumnStatistics
                  => java.util.OptionalLong): Any =
                st.map(g).filter(_.isPresent).map(o => Long.box(o.getAsLong)).orNull
              def mm(hi: Boolean): Any =
                st.flatMap { s =>
                  val o = if (hi) s.max() else s.min()
                  if (!o.isPresent) None else o.get() match {
                    case l: java.lang.Long    => Some(Long.box(l))
                    case i: java.lang.Integer => Some(Long.box(i.longValue()))
                    case _                    => None
                  }
                }.orNull
              new GenericInternalRow(Array[Any](
                UTF8String.fromString(f.name),
                opt(_.distinctCount()), opt(_.nullCount()),
                mm(hi = false), mm(hi = true),
                opt(_.avgLen()), opt(_.maxLen()))): InternalRow
            }
          }
        }
    }
}

/** SQL INSERT path: INSERT INTO appends, INSERT OVERWRITE (Spark plans it
  * as truncate + write) commits a logical overwrite — BOTH through the
  * same commit protocol as the programmatic API: executors stage parquet
  * into a writer-unique directory, then the driver runs the ONE metadata
  * job (footer counts + zone-map stats are skipped for SQL writes, but
  * CHECK constraints ARE enforced — a violating INSERT aborts atomically
  * with the staged files deleted) and publishes via the link-as-CAS
  * retry loop, so SQL writers obey the same concurrency rules as
  * everyone else.
  */
class GraftWriteBuilder(
    table: String, schema: StructType, bucket: Option[(String, Int)] = None)
    extends WriteBuilder with SupportsTruncate {
  private var overwrite = false
  override def truncate(): WriteBuilder = { overwrite = true; this }
  override def build(): Write = {
    def batch = new GraftBatchWrite(table, schema, overwrite, bucket)
    bucket match {
      case None => VersionedTable.clusterSpecCols(table) match {
        case cols if cols.nonEmpty && cols.forall(schema.fieldNames.contains) =>
          // clustered-on-write: an ORDERED distribution (Spark range-
          // partitions the incoming rows) plus an in-partition sort, so
          // every staged file covers one tight, disjoint key range and the
          // commit's zone maps prune from birth — no OPTIMIZE needed for
          // the common selective read. Multi-column specs (identity
          // partitioning by several columns) order LEXICOGRAPHICALLY —
          // the year/month/day idiom, where predicates filter on a
          // prefix. Correctness never depends on it: the distribution
          // shapes file layout only.
          new Write with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
            import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
            import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder, SortDirection, NullOrdering}
            private def order: Array[SortOrder] = cols.map(c =>
              Expressions.sort(Expressions.column(c),
                SortDirection.ASCENDING, NullOrdering.NULLS_FIRST)).toArray
            override def requiredDistribution(): Distribution =
              Distributions.ordered(order)
            override def requiredNumPartitions(): Int = 0 // planner's choice
            override def requiredOrdering(): Array[SortOrder] = order
            override def toBatch: BatchWrite = batch
          }
        case _ => new Write { override def toBatch: BatchWrite = batch }
      }
      case Some((c, n)) => GraftWriteBuilder.bucketClustered(c, n, batch)
    }
  }
}

object GraftWriteBuilder {
  /** A bucketed write (SQL INSERT or a row-level rewrite) REQUIRES a
    * clustered distribution on the table's own bucket transform
    * (resolved through the catalog's FunctionCatalog to the identical
    * pmod placement), so Spark shuffles rows into bucket-pure-ish tasks
    * and each task opens (normally) one file. Each writer still routes
    * rows per bucket, so correctness never depends on the distribution —
    * only file counts.
    */
  private[sources] def bucketClustered(c: String, n: Int, batch: => BatchWrite): Write =
    new Write with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
      import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
      import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder}
      override def requiredDistribution(): Distribution =
        Distributions.clustered(Array(Expressions.bucket(n, c)))
      override def requiredNumPartitions(): Int = n
      override def requiredOrdering(): Array[SortOrder] = Array.empty
      override def toBatch: BatchWrite = batch
    }
}

/** The staged write behind every catalog SQL write: executors stage
  * parquet under `data/_stg_<token>` (bucket-routed on a bucketed
  * table); commit moves the directory to `data/c<next>_<token>`, drops
  * the debris of unaccepted attempts ([[GraftStagedCommit]]), runs the
  * one metadata job and publishes; abort deletes the staging directory.
  *
  * INSERT INTO / INSERT OVERWRITE publish through the append/overwrite
  * retry loop. A row-level operation's replacing write (`replacing`)
  * instead publishes ONE replace commit — `R:` lines for the scanned
  * entries, fresh entries for the staged files (plus any MERGE-inserted
  * rows) — with the scanned basis as the expected head: a concurrent
  * commit in between fails loudly rather than basing the rewrite on a
  * stale snapshot.
  */
class GraftBatchWrite(
    table: String, schema: StructType, overwrite: Boolean,
    bucket: Option[(String, Int)] = None,
    replacing: Option[GraftRowLevelOperation] = None)
    extends BatchWrite {
  private val token = java.util.UUID.randomUUID().toString.take(8)
  private val staging = java.nio.file.Paths.get(table, "data", s"_stg_$token")

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    java.nio.file.Files.createDirectories(staging)
    val bucketIdx = bucket.map { case (c, n) =>
      val i = schema.fieldIndex(c)
      require(schema.fields(i).dataType == LongType ||
        schema.fields(i).dataType == IntegerType,
        s"bucket column $c must be BIGINT/INT")
      (i, n)
    }
    new GraftDataWriterFactory(staging.toString, schema,
      rowLevel = replacing.nonEmpty, bucketIdx = bucketIdx,
      bloomCols = VersionedTable.bloomCols(table, schema))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val next = replacing.fold(VersionedTable.versions(table).lastOption.getOrElse(0L)) { op =>
      require(op.basis >= 0L, "row-level write committed before its scan planned")
      op.basis
    } + 1L
    val dirName = s"c${next}_$token"
    val dir = java.nio.file.Paths.get(table, "data", dirName)
    java.nio.file.Files.move(staging, dir)
    GraftStagedCommit.reconcile(dir, staging.toString, messages)
    val entries = VersionedTable.dirMetadata(
      SparkSession.active, table, dirName,
      VersionedTable.defaultStatsCols(table, schema), VersionedTable.constraints(table))
    replacing match {
      case None =>
        VersionedTable.publishStaged(table, token, next, dirName, entries,
          append = !overwrite, txnId = None, expectedLatest = None)
      case Some(op) => publishReplace(op, next, dirName, entries)
    }
    ()
  }

  private def publishReplace(
      op: GraftRowLevelOperation, next: Long, dirName: String,
      entries0: Seq[String]): Unit = {
    // a rewrite that empties the table entirely (bucket-routing writers
    // open files lazily, so a 0-row rewrite stages nothing) must still
    // leave a schema source — land the carrier CREATE TABLE uses
    val entries = if (entries0.nonEmpty ||
        VersionedTable.select(table, Some(op.basis), Prune.none)
          .exists(f => !op.planned.contains(f.path))) entries0
      else {
        val fileName = bucket
          .fold("part-schema-0.parquet")(_ => "__graft_bucket=0/part-schema-0.parquet")
        val p = java.nio.file.Paths.get(table, "data", dirName).resolve(fileName)
        java.nio.file.Files.createDirectories(p.getParent)
        new GraftDataWriter(p.toString, schema).commit()
        Seq(s"$fileName#0")
      }
    VersionedTable.publishStaged(table, token, next, dirName, entries,
      append = true, txnId = None, expectedLatest = Some(op.basis),
      removed = op.planned, op = s"row-level ${op.command}")
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    VersionedTable.deleteRecursively(staging)
}

case class GraftWriteDone(files: Seq[String]) extends WriterCommitMessage

/** Staged-commit reconciliation shared by every message-based write:
  * a killed speculative attempt never reaches `abort()`, so its staged
  * parquet files survive into the moved commit directory — and
  * `dirMetadata` would commit them as DUPLICATE rows. Spark's commit
  * coordinator guarantees exactly one ACCEPTED attempt per task; its
  * files are what the commit messages carry, so anything else in the
  * directory is debris and is deleted before the metadata job runs.
  */
private[graft] object GraftStagedCommit {
  def reconcile(
      commitDir: java.nio.file.Path, stagingAbs: String,
      messages: Array[WriterCommitMessage]): Unit = {
    import scala.jdk.CollectionConverters._
    val staging = java.nio.file.Paths.get(stagingAbs)
    val accepted: Set[String] = messages.iterator.collect {
      case GraftWriteDone(fs) => fs
    }.flatten.map(f => staging.relativize(java.nio.file.Paths.get(f)).toString)
      .toSet
    VersionedTable.usingPaths(java.nio.file.Files.walk(commitDir))(_
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        p.toString.endsWith(".parquet") &&
        !accepted.contains(commitDir.relativize(p).toString))
      .toSeq).foreach(p => { java.nio.file.Files.deleteIfExists(p); () })
  }
}

class GraftDataWriterFactory(
    stagingAbs: String, schema: StructType, rowLevel: Boolean = false,
    bucketIdx: Option[(Int, Int)] = None, bloomCols: Seq[String] = Nil)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    bucketIdx match {
      case None =>
        new GraftDataWriter(
          s"$stagingAbs/part-$partitionId-$taskId.parquet", schema, rowLevel,
          bloomCols)
      case Some((i, n)) =>
        new GraftBucketedDataWriter(
          stagingAbs, schema, i, n, partitionId, taskId, rowLevel, bloomCols)
    }
}

/** Bucket-routing executor writer: each row lands in the
  * `__graft_bucket=<pmod(key, n)>/` file for its own key (nulls in
  * bucket 0), one underlying [[GraftDataWriter]] per bucket VALUE seen by
  * this task — normally one, because the write declares a clustered
  * distribution on the bucket transform. Placement is therefore
  * byte-identical to [[VersionedTable.commitBucketed]] whatever Spark
  * does with the distribution hint.
  */
class GraftBucketedDataWriter(
    stagingAbs: String, schema: StructType, bucketIdx: Int, nBuckets: Int,
    partitionId: Int, taskId: Long, rowLevel: Boolean = false,
    bloomCols: Seq[String] = Nil)
    extends DataWriter[InternalRow] {
  private val open = scala.collection.mutable.Map.empty[Int, GraftDataWriter]
  // row-level (ReplaceData) rows may carry a leading `__row_operation`
  // column (see GraftDataWriter) — the key index shifts with it
  private var fieldOffset = -1

  private def bucketOf(row: InternalRow): Int = {
    val j = bucketIdx + fieldOffset
    if (row.isNullAt(j)) 0
    else {
      val v = schema.fields(bucketIdx).dataType match {
        case LongType => row.getLong(j)
        case _        => row.getInt(j).toLong
      }
      (((v % nBuckets) + nBuckets) % nBuckets).toInt
    }
  }

  private val written = scala.collection.mutable.ArrayBuffer.empty[String]

  override def write(row: InternalRow): Unit = {
    if (fieldOffset < 0) {
      fieldOffset =
        if (rowLevel) row.numFields - schema.fields.length else 0
      require(fieldOffset == 0 || fieldOffset == 1,
        s"row arity ${row.numFields} does not match write schema " +
          s"(${schema.fields.length} fields) for $stagingAbs")
    }
    val b = bucketOf(row)
    open.getOrElseUpdate(b, {
      val dir = java.nio.file.Paths.get(stagingAbs, s"__graft_bucket=$b")
      java.nio.file.Files.createDirectories(dir)
      val f = dir.resolve(s"part-$partitionId-$taskId.parquet").toString
      written += f
      new GraftDataWriter(f, schema, rowLevel, bloomCols)
    }).write(row)
  }

  override def commit(): WriterCommitMessage = {
    open.values.foreach(_.commit())
    GraftWriteDone(written.toSeq)
  }
  override def abort(): Unit = open.values.foreach(_.abort())
  override def close(): Unit = ()
}

/** Executor-side parquet writer over the example Group API — the write
  * twin of the catalog's reader. Task identity is in the file name, so
  * speculative attempts never collide; abort deletes the attempt's file.
  */
class GraftDataWriter(
    file: String, schema: StructType, rowLevel: Boolean = false,
    bloomCols: Seq[String] = Nil)
    extends DataWriter[InternalRow] {
  // Row-level (ReplaceData) writes: Spark 4 prepends a `__row_operation`
  // INT column to the replacement rows but only strips it (via the
  // projecting write task) when the operation declares metadata
  // attributes — a plain connector receives the RAW rows. Detect the
  // extra leading column from the first row's arity and skip it.
  private var fieldOffset = -1
  import org.apache.parquet.example.data.simple.SimpleGroupFactory
  import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

  /** Spark type → parquet schema node, recursively. Scalars follow
    * Spark's own parquet conventions (annotated strings/temporals,
    * unscaled INT32/INT64/FIXED(16) decimals); BINARY is the plain
    * unannotated primitive; nested types take the STANDARD (3-level)
    * shapes Spark reads and writes — `LIST { repeated group list
    * { element } }` and `MAP { repeated group key_value { key, value }
    * }` — so files from this writer and from Spark's own writer
    * ([[VersionedTable.writeFiles]]) are indistinguishable to every
    * reader. Only map KEYS are `required` (Spark map keys are
    * non-null); everything else is `optional`.
    */
  private def parquetTypeOf(
      name: String, dataType: DataType, required: Boolean = false)
      : org.apache.parquet.schema.Type = {
    val rep =
      if (required) org.apache.parquet.schema.Type.Repetition.REQUIRED
      else org.apache.parquet.schema.Type.Repetition.OPTIONAL
    dataType match {
      case LongType    => Types.primitive(INT64, rep).named(name)
      case IntegerType => Types.primitive(INT32, rep).named(name)
      case DoubleType  => Types.primitive(DOUBLE, rep).named(name)
      case FloatType   => Types.primitive(FLOAT, rep).named(name)
      case BooleanType => Types.primitive(BOOLEAN, rep).named(name)
      case StringType  => Types.primitive(BINARY, rep)
        .as(LogicalTypeAnnotation.stringType()).named(name)
      case BinaryType  => Types.primitive(BINARY, rep).named(name)
      case TimestampType => Types.primitive(INT64, rep).as(
        LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS))
        .named(name)
      case TimestampNTZType => Types.primitive(INT64, rep).as(
        LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.MICROS))
        .named(name)
      case DateType => Types.primitive(INT32, rep)
        .as(LogicalTypeAnnotation.dateType()).named(name)
      // Spark's parquet convention: unscaled INT32 to precision 9,
      // INT64 to 18, 16-byte fixed binary beyond — so decimal files
      // round-trip with every Spark reader and support the same-scale
      // precision WIDENING the vectorized reader promotes natively
      case dt: DecimalType if dt.precision <= 9 =>
        Types.primitive(INT32, rep)
          .as(LogicalTypeAnnotation.decimalType(dt.scale, dt.precision)).named(name)
      case dt: DecimalType if dt.precision <= 18 =>
        Types.primitive(INT64, rep)
          .as(LogicalTypeAnnotation.decimalType(dt.scale, dt.precision)).named(name)
      case dt: DecimalType =>
        Types.primitive(FIXED_LEN_BYTE_ARRAY, rep).length(16)
          .as(LogicalTypeAnnotation.decimalType(dt.scale, dt.precision)).named(name)
      case ArrayType(et, _) =>
        (if (required) Types.requiredList() else Types.optionalList())
          .element(parquetTypeOf("element", et)).named(name)
      case st: StructType =>
        val gb = if (required) Types.requiredGroup() else Types.optionalGroup()
        st.fields.foldLeft(gb)((b, f) =>
          b.addField(parquetTypeOf(f.name, f.dataType))).named(name)
      case MapType(kt, vt, _) =>
        (if (required) Types.requiredMap() else Types.optionalMap())
          .key(parquetTypeOf("key", kt, required = true))
          .value(parquetTypeOf("value", vt)).named(name)
      case dt => throw new UnsupportedOperationException(
        s"graft-catalog writer does not encode $dt (column $name)")
    }
  }

  private val msgType = {
    val b = Types.buildMessage()
    schema.fields.foreach(f => b.addField(parquetTypeOf(f.name, f.dataType)))
    b.named("spark_schema")
  }
  private val factory = new SimpleGroupFactory(msgType)
  // declared bloom columns (the `graft.bloom-cols` table property) get a
  // write-side parquet bloom filter: point lookups on unclustered
  // high-cardinality keys then skip row groups zone maps can't (zone
  // maps only bound clustered values). NDV hint sizes the filter; the
  // adaptive writer would be data-dependent, this stays deterministic.
  private val writer = {
    val b = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(file))
      .withType(msgType)
    bloomCols.filter(c => schema.fieldNames.contains(c))
      .foldLeft(b)((bb, c) =>
        bb.withBloomFilterEnabled(c, true).withBloomFilterNDV(c, 100000L))
      .build()
  }

  /** Encode one NON-NULL value (field `j` of `src`) into `g` under
    * `name`, recursively through nested types. `src` abstracts the row
    * (InternalRow) and nested containers (ArrayData / MapData key and
    * value arrays) behind the same positional getters, so one encoder
    * serves every nesting level.
    */
  private def addValue(
      g: org.apache.parquet.example.data.Group, name: String, dt: DataType,
      src: org.apache.spark.sql.catalyst.expressions.SpecializedGetters,
      j: Int): Unit = dt match {
    case LongType    => g.add(name, src.getLong(j))
    case IntegerType => g.add(name, src.getInt(j))
    case DoubleType  => g.add(name, src.getDouble(j))
    case FloatType   => g.add(name, src.getFloat(j))
    case BooleanType => g.add(name, src.getBoolean(j))
    case StringType  => g.add(name, src.getUTF8String(j).toString)
    case BinaryType  => g.add(name,
      org.apache.parquet.io.api.Binary.fromConstantByteArray(src.getBinary(j)))
    case TimestampType | TimestampNTZType => g.add(name, src.getLong(j))
    case DateType    => g.add(name, src.getInt(j))
    case dt: DecimalType if dt.precision <= 9 =>
      g.add(name, src.getDecimal(j, dt.precision, dt.scale).toUnscaledLong.toInt)
    case dt: DecimalType if dt.precision <= 18 =>
      g.add(name, src.getDecimal(j, dt.precision, dt.scale).toUnscaledLong)
    case dt: DecimalType =>
      val unscaled = src.getDecimal(j, dt.precision, dt.scale)
        .toJavaBigDecimal.unscaledValue().toByteArray
      val fixed = new Array[Byte](16)
      // sign-extend into the 16-byte big-endian fixed slot
      val sign: Byte = if (unscaled.length > 0 && unscaled(0) < 0) -1 else 0
      java.util.Arrays.fill(fixed, sign)
      System.arraycopy(unscaled, 0, fixed,
        16 - unscaled.length, unscaled.length)
      g.add(name,
        org.apache.parquet.io.api.Binary.fromConstantByteArray(fixed))
    case ArrayType(et, _) =>
      // standard 3-level list: the LIST group holds one repeated "list"
      // group per element; a null element is a "list" group with no
      // "element" field set. An EMPTY (but non-null) array is the LIST
      // group with zero repetitions — distinguishable from null, which
      // never reaches here (the caller checks isNullAt first).
      val arr = src.getArray(j)
      val lg = g.addGroup(name)
      var k = 0
      while (k < arr.numElements()) {
        val el = lg.addGroup(0)
        if (!arr.isNullAt(k)) addValue(el, "element", et, arr, k)
        k += 1
      }
    case st: StructType =>
      val row = src.getStruct(j, st.fields.length)
      val sg = g.addGroup(name)
      var k = 0
      while (k < st.fields.length) {
        if (!row.isNullAt(k))
          addValue(sg, st.fields(k).name, st.fields(k).dataType, row, k)
        k += 1
      }
    case MapType(kt, vt, _) =>
      val m = src.getMap(j)
      val ks = m.keyArray()
      val vs = m.valueArray()
      val mg = g.addGroup(name)
      var k = 0
      while (k < m.numElements()) {
        val kv = mg.addGroup(0)
        addValue(kv, "key", kt, ks, k) // Spark map keys are non-null
        if (!vs.isNullAt(k)) addValue(kv, "value", vt, vs, k)
        k += 1
      }
    case _ => ()
  }

  override def write(row: InternalRow): Unit = {
    if (fieldOffset < 0) {
      fieldOffset =
        if (rowLevel) row.numFields - schema.fields.length else 0
      require(fieldOffset == 0 || fieldOffset == 1,
        s"row arity ${row.numFields} does not match write schema " +
          s"(${schema.fields.length} fields) for $file")
    }
    val g = factory.newGroup()
    var i = 0
    while (i < schema.fields.length) {
      val j = i + fieldOffset
      if (!row.isNullAt(j)) {
        val f = schema.fields(i)
        addValue(g, f.name, f.dataType, row, j)
      }
      i += 1
    }
    writer.write(g)
  }

  override def commit(): WriterCommitMessage = { writer.close(); GraftWriteDone(Seq(file)) }
  override def abort(): Unit = {
    writer.close()
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(file))
    ()
  }
  override def close(): Unit = ()
}

class GraftTableScanBuilder(
    table: String, version: Option[Long], full: StructType,
    bucket: Option[(String, Int)] = None,
    memberProbes: Seq[(String, Seq[Long])] = Nil)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit {
  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.expressions.aggregate.{
    Aggregation, CountStar, Max => VMax, Min => VMin}

  // `full` arrives LOGICAL (the table's served schema); everything the
  // manifests and file footers know is PHYSICAL. Scans therefore carry
  // two name sets: `required` (physical — drives file reads, zone maps,
  // vectorization checks) and `reportAs` (logical — what readSchema()
  // declares back to Spark). Rows are positional, so only names differ.
  private val seg = VersionedTable.segmentL2P(table)
  private def p(c: String): String = VersionedTable.physDotted(seg, c)
  private def physSchema(s: StructType): StructType =
    if (seg.isEmpty) s else VersionedTable.physicalizeSchema(table, s)

  private var reportAs: StructType = full
  private var required: StructType = physSchema(full)
  private var bounds: Map[String, (Long, Long)] = Map.empty
  private var strBounds
      : Map[String, (Option[Array[Byte]], Option[Array[Byte]])] = Map.empty
  private var used: Array[Filter] = Array.empty
  private var aggPlan: Option[Seq[GraftAggSpec]] = None
  private var limitOpt: Option[Int] = None

  /** LIMIT pushdown as FILE pruning: Spark only pushes a limit when no
    * filter sits between it and the scan (catalog filters are always
    * residual, which re-erects that Filter node), so a pushed limit
    * sees the raw snapshot row set and the scan may plan just enough
    * files — by footer counts — to cover it. Returns FALSE (partial):
    * Spark still applies the exact row limit above; the pushdown only
    * bounds how many files are opened (LIMIT 10 over a 100 TB table
    * reads one file). Declined after an aggregate pushdown (the limit
    * would then bound the 1-row aggregate output, not the data) and on a
    * bucketed table (every bucket keeps its partition).
    */
  override def pushLimit(limit: Int): Boolean = {
    if (aggPlan.isEmpty && bucket.isEmpty) limitOpt = Some(limit)
    false
  }

  override def pruneColumns(requiredSchema: StructType): Unit = {
    reportAs = requiredSchema
    required = physSchema(requiredSchema)
  }

  /** Range/equality predicates on INTEGRAL columns tighten per-column
    * [lo, hi] bounds used against the manifest's zone maps at planning
    * time. EVERY filter is also returned as residual — Spark re-applies
    * them above the scan, so file skipping can only remove files that
    * cannot match, never change results.
    *
    * Integral, DATE (epoch days), TIMESTAMP (epoch micros), DECIMAL≤18
    * (unscaled), and DOUBLE (IEEE sortable bits under a `~col` key — the
    * bijection makes the `±1` open-bound adjustments mean
    * nextUp/nextDown, exactly) all participate; each family converts its
    * literals into the unit its zones were recorded in. Anything else is
    * simply not pruned on.
    */
  private var staticIn: Map[String, Set[Long]] = Map.empty
  private var staticStrIn: Map[String, Set[String]] = Map.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val phys = filters.map(GraftFilters.mapNames(_, p))
    val (b, consumed) = GraftFilters.integralBounds(phys, physSchema(full))
    bounds = b.map { case (c, lo, hi) => c -> (lo, hi) }.toMap
    // string predicates prune through the byte-prefix zones the same way
    val (sb, sConsumed) = GraftFilters.stringBounds(phys, physSchema(full))
    strBounds = sb
    // STATIC In/EqualTo key sets ride to the scan like runtime (DPP)
    // sets do: files whose zones hold none of the keys drop at planning
    // time, and the row-group filter gets Eq/In leaves parquet's
    // dictionary AND bloom evaluators consume — interval bounds alone
    // would keep every block between min(keys) and max(keys)
    staticIn = GraftFilters.inSets(phys)
    staticStrIn = GraftFilters.strInSets(phys)
    used = (consumed ++ sConsumed).distinct
    filters // all residual: exactness never depends on the zone maps
  }
  override def pushedFilters(): Array[Filter] = used

  /** COMPLETE aggregate pushdown to MANIFEST ARITHMETIC: an ungrouped,
    * unfiltered `COUNT(*)` / `MIN(col)` / `MAX(col)` over a
    * tombstone-free snapshot is answerable from the commit-time footer
    * counts and zone maps alone — a count over a 100 TB table opens
    * ZERO data files. Eligibility, checked per aggregate:
    *  - no GROUP BY, and no WHERE reached this scan (every catalog
    *    filter is residual, so Spark only attempts aggregate pushdown
    *    on filterless scans; `bounds`/`used` double-guard that);
    *  - the snapshot carries no MOR tombstones (a tombstone could
    *    remove the extreme row or shrink the count);
    *  - COUNT(*): every data file records a footer count;
    *  - MIN/MAX: the column is integral (zone-map stats are exact for
    *    integral values, truncated for fractional — those decline) and
    *    every data file holding rows records stats for it (an all-null
    *    file records none and declines the pushdown; zero-row
    *    schema-evolution files are exempt — they contribute nothing).
    * Stats cover non-null values only, matching SQL MIN/MAX semantics;
    * an empty snapshot answers count 0 with null extremes. Anything
    * else declines, and Spark aggregates above the ordinary scan.
    */
  private def classify(agg: Aggregation): Option[Seq[GraftAggSpec]] = {
    if (agg.groupByExpressions.nonEmpty || used.nonEmpty ||
      bounds.nonEmpty || strBounds.nonEmpty)
      return None
    val files = VersionedTable.select(table, version, Prune.none)
    if (files.exists(_.tombstones.nonEmpty)) return None // tombstones
    if (files.exists(_.rows.isEmpty)) return None // pre-stats file
    // aggregate references arrive LOGICAL; stats are keyed PHYSICAL.
    // DATE rides along: its zone stats are exact epoch days (unix_date
    // at commit), and Spark's internal DATE value IS epoch days.
    // TIMESTAMP likewise (exact epoch micros = the internal value), and
    // DECIMAL ≤ 18 (exact unscaled zones; the spec's DataType carries
    // the scale back)
    val integral: Map[String, DataType] = physSchema(full).fields.collect {
      case f if f.dataType == LongType || f.dataType == IntegerType ||
        f.dataType == ShortType || f.dataType == ByteType ||
        f.dataType == DateType || f.dataType == TimestampType =>
        f.name -> f.dataType
      case f if (f.dataType match {
        case d: org.apache.spark.sql.types.DecimalType => d.precision <= 18
        case _ => false
      }) => f.name -> f.dataType
    }.toMap
    val stringCols: Set[String] = physSchema(full).fields.collect {
      case f if f.dataType == StringType => f.name
    }.toSet
    // DOUBLE extremes answer from the sortable-bits zones (`~col` keys):
    // the bijection converts the zone edge back to the EXACT double —
    // including Spark's NaN-is-largest max semantics (a NaN in the data
    // rode the zone's high edge and converts back to NaN)
    val dblCols: Set[String] = physSchema(full).fields.collect {
      case f if f.dataType == DoubleType || f.dataType == FloatType => f.name
    }.toSet
    def statsComplete(c: String): Boolean =
      files.forall(f => f.zones.contains(c) || f.rows.contains(0L))
    def extremes(c: String): (Option[Long], Option[Long]) = {
      val st = files.flatMap(_.zones.get(c))
      (st.map(_._1).minOption, st.map(_._2).maxOption)
    }
    // string MIN/MAX: answerable only from EXACT (unstarred) zone sides —
    // a truncated bound is valid for pruning but is not the extreme value
    def strSide(c: String, hiSide: Boolean): Option[Option[String]] = {
      // None = decline (some file's side inexact/missing);
      // Some(extreme) = answerable (Some(None) on an all-empty table)
      val sides = files.map { f =>
        if (f.rows.contains(0L)) Some(None)
        else f.strExact.get(c)
          .map(z => if (hiSide) z._2 else z._1) match {
          case Some(Some(v)) => Some(Some(v))
          case _             => None
        }
      }
      if (sides.exists(_.isEmpty)) None
      else Some(sides.flatten.flatten.reduceOption { (a, b) =>
        val cmp = VersionedTable.byteCompare(
          a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        if (hiSide == (cmp >= 0)) a else b
      })
    }
    // one MIN or MAX from the zones of its side: integral, DOUBLE (the
    // `~col` sortable-bits zones) or exact string sides; None declines
    def minMax(kind: String, e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[GraftAggSpec] = {
      val hiSide = kind == "max"
      def side(z: (Option[Long], Option[Long])) = if (hiSide) z._2 else z._1
      e match {
        case f: NamedReference if f.fieldNames.length == 1 =>
          val c = p(f.fieldNames()(0))
          if (integral.contains(c) && statsComplete(c))
            Some(GraftAggSpec(kind, c, integral(c), side(extremes(c))))
          else if (dblCols.contains(c) && statsComplete(s"~$c"))
            Some(GraftAggSpec(kind, c,
              physSchema(full).fields.find(_.name == c).get.dataType,
              side(extremes(s"~$c"))))
          else if (stringCols.contains(c))
            strSide(c, hiSide).map(v => GraftAggSpec(kind, c, StringType, None, v))
          else None
        case _ => None
      }
    }
    val specs = agg.aggregateExpressions.map {
      case _: CountStar =>
        GraftAggSpec("count", "", LongType, Some(files.flatMap(_.rows).sum))
      case m: VMin => minMax("min", m.column).getOrElse(return None)
      case m: VMax => minMax("max", m.column).getOrElse(return None)
      case _ => return None
    }
    Some(specs.toSeq)
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    classify(agg).isDefined
  override def pushAggregation(agg: Aggregation): Boolean =
    classify(agg) match {
      case Some(specs) => aggPlan = Some(specs); true
      case None        => false
    }

  /** PARTIAL TopN pushdown as FILE planning: `ORDER BY c LIMIT n` over a
    * single integral sort key with NULLS LAST plans only the files that
    * can hold the top n — a file is dropped iff at least n NON-NULL rows
    * in other files are STRICTLY better than its zone-map extreme (and
    * with NULLS LAST those n rows also beat the dropped file's nulls).
    * "ORDER BY ts DESC LIMIT 100 over a 100 TB time-clustered table
    * opens one file." Spark still sorts and limits above (partial), so
    * results are exact whatever the layout; the scan declines under
    * tombstones, NULLS FIRST, or missing stats/NN counts.
    */
  private var topN: Option[(String, Boolean, Int)] = None
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{
      NullOrdering, SortDirection}
    if (aggPlan.nonEmpty || limitOpt.nonEmpty || bucket.nonEmpty ||
      limit <= 0) return false
    orders.toSeq match {
      case Seq(o) =>
        val colName = o.expression() match {
          case f: NamedReference if f.fieldNames.length == 1 =>
            p(f.fieldNames()(0)) // zone maps key physical names
          case _ => return false
        }
        val integral = physSchema(full).fields.exists(f => f.name == colName &&
          (f.dataType == LongType || f.dataType == IntegerType ||
            f.dataType == DateType)) // date zones are exact epoch days
        if (!integral || o.nullOrdering() != NullOrdering.NULLS_LAST)
          false
        else {
          topN = Some((colName,
            o.direction() == SortDirection.DESCENDING, limit))
          true
        }
      case _ => false
    }
  }
  override def isPartiallyPushed(): Boolean = true

  private def prune =
    Prune(bounds, strBounds, memberProbes.map { case (c, h) => p(c) -> h })

  override def build(): Scan = aggPlan match {
    case Some(specs) => new GraftAggScan(table, version, specs)
    case None =>
      new GraftTableScan(table, version, required, prune,
        limitOpt, topN, reportAs, staticIn, staticStrIn, bucket)
  }
}

/** One completely-pushed aggregate: kind (count/min/max), source column,
  * result type, and the manifest-computed value (None = SQL NULL).
  */
case class GraftAggSpec(
    kind: String, col: String, dt: DataType, value: Option[Long],
    sval: Option[String] = None)

/** One-row, one-partition scan answering completely-pushed ungrouped
  * aggregates from manifest arithmetic — no data file is opened.
  */
class GraftAggScan(table: String, version: Option[Long], specs: Seq[GraftAggSpec])
    extends Scan with Batch {
  override def readSchema(): StructType =
    specs.zipWithIndex.foldLeft(new StructType()) { case (s, (sp, i)) =>
      s.add(s"agg_${i}_${sp.kind}", sp.dt, nullable = sp.kind != "count")
    }
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-catalog-agg $table${version.fold("")(v => s"@v$v")} " +
      s"aggs=${specs.map(s => s"${s.kind}(${s.col})").mkString(",")} manifest-only"
  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftCatalogPartition(Nil))
  override def createReaderFactory(): PartitionReaderFactory = {
    val payload = specs.toArray
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private var emitted = false
          override def next(): Boolean = !emitted && { emitted = true; true }
          override def get(): InternalRow = {
            val row = new GenericInternalRow(payload.length)
            payload.zipWithIndex.foreach { case (sp, i) =>
              sp.dt match {
                case StringType => sp.sval match {
                  case None    => row.setNullAt(i)
                  case Some(s) => row.update(i, UTF8String.fromString(s))
                }
                case _ => sp.value match {
                  case None => row.setNullAt(i)
                  case Some(v) => sp.dt match {
                    // TIMESTAMP's internal value IS the micros the zones
                    // record; DECIMAL reconstructs from the unscaled
                    // zone; DOUBLE from its sortable bits (bijection —
                    // the zone edge is the exact extreme)
                    case LongType | TimestampType => row.setLong(i, v)
                    case IntegerType | DateType   => row.setInt(i, v.toInt)
                    case ShortType                => row.setShort(i, v.toShort)
                    case DoubleType =>
                      row.setDouble(i, VersionedTable.bitsToDouble(v))
                    case FloatType =>
                      // the zone edge IS a float value widened to double
                      // at commit — narrowing back is exact
                      row.setFloat(i, VersionedTable.bitsToDouble(v).toFloat)
                    case d: org.apache.spark.sql.types.DecimalType =>
                      row.update(i,
                        org.apache.spark.sql.types.Decimal(
                          BigDecimal(v, d.scale), d.precision, d.scale))
                    case _                        => row.setByte(i, v.toByte)
                  }
                }
              }
            }
            row
          }
          override def close(): Unit = ()
        }
    }
  }
}

/** Scan over a catalog table's snapshot. A flat table plans one partition
  * per file. A BUCKETED table plans one partition per bucket (that
  * bucket's files across every commit, with their tombstones), reported
  * to Spark as `KeyGroupedPartitioning(bucket(n, col))` with each
  * partition carrying its bucket id as the partition key — the
  * storage-partitioned-join contract: two tables bucketed by the same
  * (col, n) through [[VersionedTable.commitBucketed]] equi-join on that
  * column with NO exchange on either side
  * (`spark.sql.sources.v2.bucketing.enabled=true`). Zone-map bounds
  * still prune files INSIDE buckets; every bucket id is always emitted
  * (possibly with zero files) so the two sides' partition-value sets
  * align 1:1. LIMIT and TopN file planning apply to flat tables only.
  */
class GraftTableScan(
    table: String, version: Option[Long], required: StructType,
    prune: Prune,
    limit: Option[Int] = None,
    topN: Option[(String, Boolean, Int)] = None,
    reportAs: StructType = null,
    staticIn: Map[String, Set[Long]] = Map.empty,
    staticStrIn: Map[String, Set[String]] = Map.empty,
    bucket: Option[(String, Int)] = None) extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  // `required` is PHYSICAL (drives file reads and zone maps); `reportAs`
  // is the LOGICAL rendering Spark resolves against — same fields
  // positionally, names differ only under a column mapping (the bucket
  // column itself can never be renamed, so its name is in both sets)
  private val rep: StructType = Option(reportAs).getOrElse(required)
  private val repToPhys: Map[String, String] =
    rep.fieldNames.zip(required.fieldNames).toMap

  override def readSchema(): StructType = rep
  override def toBatch: Batch = this

  /** RUNTIME (DPP-style) file pruning: a join whose build side is
    * selective pushes the observed key set here between planning and
    * execution (`BatchScanExec` re-plans partitions after `filter`), and
    * files whose zone maps exclude EVERY value drop out — the dynamic
    * twin of the planning-time zone-map prune. At 100 TB this is the
    * fact-scan-reads-only-the-dim's-keys join. Only integral columns
    * participate (same restriction as static pruning: truncated
    * fractional zone maps could wrongly prune), every filter stays
    * conservative (stat-less files are kept), and Spark re-applies the
    * join itself, so pruning can only skip work, never change results.
    * A bucketed scan keeps every bucket's partition (the SPJ alignment
    * contract); only the file lists shrink.
    */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    rep.fields.collect { // reported in the names Spark resolves (logical)
      case f if f.dataType == LongType || f.dataType == IntegerType ||
        f.dataType == StringType =>
        org.apache.spark.sql.connector.expressions.Expressions.column(f.name)
    }

  // static (pushed In/EqualTo) sets seed the admissible-key maps;
  // runtime (DPP) sets intersect in when the join delivers them
  @volatile private var runtimeSets: Map[String, Set[Long]] = staticIn
  @volatile private var strRuntimeSets: Map[String, Set[String]] = staticStrIn
  override def filter(filters: Array[Filter]): Unit = {
    runtimeSets = GraftFilters.intersectSets(staticIn,
      GraftFilters.inSets(filters)
        .map { case (c, s) => repToPhys.getOrElse(c, c) -> s })
    strRuntimeSets = GraftFilters.intersectSets(staticStrIn,
      GraftFilters.strInSets(filters)
        .map { case (c, s) => repToPhys.getOrElse(c, c) -> s })
  }

  /** Manifest-derived statistics for the PLANNER: without them a DSv2
    * scan defaults to "unknown = huge", so a join against a catalog
    * table would NEVER broadcast regardless of its true size. Row count
    * is the footer-count sum of the files this scan actually plans
    * (zone-map pruning already applied — a pruned range read reports its
    * pruned size, improving downstream join planning); size is the
    * files' recorded bytes, or rows × a per-type width estimate
    * (strings/binaries at 20 bytes, the EstimationUtils convention) when
    * some file predates recorded sizes. Tombstones make the row count an
    * over-approximation, which is the safe direction for broadcast
    * decisions.
    */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val rows: Option[Long] = if (kept.exists(_.rows.isEmpty)) None
      else Some(kept.flatMap(_.rows).sum)
    val exactBytes: Option[Long] =
      if (kept.isEmpty || kept.exists(_.bytes.isEmpty)) None
      else Some(kept.flatMap(_.bytes).sum)
    val width = required.fields.map(_.dataType match {
      case LongType | DoubleType | TimestampType | TimestampNTZType => 8L
      case IntegerType | FloatType | DateType => 4L
      case ShortType => 2L
      case BooleanType | ByteType => 1L
      case _ => 20L
    }).sum.max(1L)
    lazy val colStats = GraftColumnStats.forScan(table, kept, required, rep)
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        exactBytes.orElse(rows.map(_ * width))
          .fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
      override def numRows(): java.util.OptionalLong =
        rows.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
      override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = colStats
    }
  }

  // the planner selection ([[VersionedTable.select]]): commit/chunk
  // rollups drop whole dead commits before their entries are parsed (a
  // cold selective plan over a long-ingest table pays O(commits) probes
  // plus the surviving chunks' files), then each file passes the prune
  // on its own zones, string zones and member blooms. Footer-counted
  // ZERO-ROW files (schema carriers, emptied rewrites) hold nothing under
  // any tombstone set — dropped, so they never decline TopN/LIMIT
  // planning nor open a reader
  private lazy val pruned: Seq[FileEntry] =
    VersionedTable.select(table, version, prune).filterNot(_.rows.contains(0L))
  // a pushed (partial) LIMIT plans just enough files to cover it, by
  // footer counts — safe only when every file is tombstone-free (the
  // MOR anti-join shrinks a file's contribution below its footer count)
  // and footer-counted; otherwise keep everything and let Spark's limit
  // terminate the scan early
  // a pushed (partial) TopN drops every file with at least n strictly
  // better NON-NULL rows elsewhere (zone-map extreme vs extreme): under
  // NULLS LAST those n rows also beat the dropped file's nulls, so no
  // row of a dropped file can appear in any valid top n. Declines (keeps
  // everything) under tombstones or incomplete stats/NN counts.
  private lazy val topped = topN match {
    case Some((c, desc, n)) if pruned.forall(_.tombstones.isEmpty) =>
      val info = pruned.map(e => (e, e.zones.get(c), e.nonNulls.get(c)))
      if (info.exists(t => t._2.isEmpty || t._3.isEmpty)) pruned
      else {
        val fs = info.map { case (e, st, cnt) => (e, st.get, cnt.get) }
        // prefix sums over files sorted best-edge-first: for DESC a
        // file i guarantees cnt_i rows better than file j iff
        // mn_i > mx_j; for ASC iff mx_i < mn_j. Binary search per file
        // keeps planning O(F log F) — a linear probe would be O(F²)
        // over the 100 TB table's file count.
        val edges = fs.map { case (_, (mn, mx), cnt) =>
          (if (desc) mn else mx, cnt)
        }.sortBy(_._1)(if (desc) Ordering.Long.reverse else Ordering.Long)
          .toIndexedSeq
        val csum = edges.scanLeft(0L)(_ + _._2).tail
        // first index whose edge no longer STRICTLY beats `worst`
        def firstNotBetter(worst: Long): Int = {
          var lo = 0
          var hi = edges.length
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            val beats =
              if (desc) edges(mid)._1 > worst else edges(mid)._1 < worst
            if (beats) lo = mid + 1 else hi = mid
          }
          lo
        }
        def betterThan(worst: Long): Long = {
          val i = firstNotBetter(worst)
          if (i == 0) 0L else csum(i - 1)
        }
        fs.filter { case (_, (mn, mx), _) =>
          betterThan(if (desc) mx else mn) < n.toLong
        }.map(_._1)
      }
    case _ => pruned
  }
  private lazy val kept = limit match {
    case Some(n) if topped.forall(_.tombstones.isEmpty) =>
      if (topped.exists(_.rows.isEmpty)) topped
      else {
        var acc = 0L
        topped.takeWhile { e =>
          val take = acc < n
          acc += e.rows.get
          take
        }
      }
    case _ => topped
  }
  // bucketed scans only: the selection grouped by bucket. Bucket ids all
  // stay (SPJ alignment), only their file lists shrink
  private lazy val perBucket: Map[Int, Seq[FileEntry]] =
    VersionedTable.bucketLayout(table, kept)

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    bucket match {
      case Some((c, n)) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(org.apache.spark.sql.connector.expressions.Expressions.bucket(n, c)), n)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  /** Per-partition ordering on the bucket key — reported ONLY when every
    * bucket holds at most ONE data file carrying the `sorted-` name
    * marker that exclusively the sorting writers produce (a chain of two
    * individually-sorted files is not sorted; an unsorted INSERT can't
    * fake the marker). After [[VersionedTable.compactBucketed]] this
    * holds table-wide, so the storage-partitioned join elides its sorts
    * too: zero exchange, zero sort, on either side. The MOR tombstone
    * filter drops rows in place and preserves order, so tombstones don't
    * gate the report.
    */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{
      Expressions, NullOrdering, SortDirection}
    bucket match {
      case Some((c, _)) if required.fieldNames.contains(c) &&
          perBucket.valuesIterator.forall(files => files.size <= 1 &&
            files.forall(_.path.split('/').last.startsWith("sorted-"))) =>
        Array(Expressions.sort(Expressions.column(c),
          SortDirection.ASCENDING, NullOrdering.NULLS_FIRST))
      case _ => Array.empty
    }
  }

  override def description(): String = bucket match {
    case Some((c, n)) =>
      s"graft-catalog-bucketed $table${version.fold("")(v => s"@v$v")} " +
        s"bucket($n, $c) files=${kept.size}"
    case None =>
      s"graft-catalog $table${version.fold("")(v => s"@v$v")} " +
        // denominator from header count lines when present (exact, zero
        // entry reads), else the full selection — a selective cold plan
        // must never stream O(files) lines just to print its description
        s"files=${kept.size}/${
          VersionedTable.snapshotFileCountFast(table, version).getOrElse(
            VersionedTable.select(table, version, Prune.none).size.toLong)} " +
        s"bounds=${prune.bounds.map { case (c, (l, h)) => s"$c∈[$l,$h]" }.mkString(",")}" +
        (if (prune.strBounds.isEmpty) ""
         else s" strBounds=${prune.strBounds.keys.toSeq.sorted.mkString(",")}") +
        (if (prune.memberProbes.isEmpty) ""
         else s" member=${prune.memberProbes.map(_._1).distinct.sorted.mkString(",")}")
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val keep = GraftFilters.inSetsKeep(runtimeSets, strRuntimeSets)
    def part(files: Seq[FileEntry], bucketId: Int) =
      GraftCatalogPartition.of(table, files, bucketId): InputPartition
    bucket match {
      case Some((_, n)) =>
        (0 until n).map(b => part(perBucket.getOrElse(b, Nil).filter(keep), b)).toArray
      case None => kept.filter(keep).map(f => part(Seq(f), 0)).toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // called AFTER filter(): runtime key sets ride into the row-group
    // predicate too — a DPP-pruned fact scan skips row groups, not just
    // files, on both integral and string join keys. Predicates are built
    // PER COMMIT with that generation's physical types, so a widened
    // column prunes row groups with INT32 leaves against its narrow
    // files and INT64 against the wide ones — no wholesale decline.
    new GraftCatalogReaderFactory(required,
      GraftRowGroupFilter.perCommit(table,
        kept.map(_.path),
        prune.bounds.keySet ++ prune.strBounds.keySet ++
          runtimeSets.keySet ++ strRuntimeSets.keySet,
        prune.bounds, prune.strBounds, runtimeSets, strRuntimeSets, version))
}

/** One scan partition: data files (absolute paths) with their
  * tombstones, read one after another — one file on a flat scan, one
  * bucket's files on a bucketed scan, whose bucket id is the partition
  * key the storage-partitioned join groups on.
  */
case class GraftCatalogPartition(
    files: Seq[(String, Seq[String])], bucketId: Int = 0)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucketId))
}

object GraftCatalogPartition {
  private[sources] def of(table: String, files: Seq[FileEntry],
      bucketId: Int = 0): GraftCatalogPartition = {
    def abs(rel: String) = java.nio.file.Paths.get(table, rel).toString
    GraftCatalogPartition(
      files.map(f => (abs(f.path), f.tombstones.map(abs))), bucketId)
  }
}

/** The reader factory of every catalog scan — flat, bucketed, time
  * travel and the row-level rewrite's candidate scan. Every partition
  * reads columnar through [[GraftCatalogVectorReader]], chained over the
  * partition's files one file open at a time, so Spark never asks for a
  * row reader.
  */
class GraftCatalogReaderFactory(
    required: StructType,
    // PER-COMMIT (generation-appropriate) row-group predicates, keyed by
    // commit directory: a widened column carries INT32 leaves against its
    // narrow generations and INT64 against the wide ones
    rowFilters: Map[String,
      Option[org.apache.parquet.filter2.predicate.FilterPredicate]] = Map.empty)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("graft catalog scans read columnar only")
  override def supportColumnarReads(partition: InputPartition): Boolean = true
  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    GraftCatalogReaderFactory.chain(
        partition.asInstanceOf[GraftCatalogPartition].files) { (f, tombs) =>
      new GraftCatalogVectorReader(f, required, tombs,
        GraftCatalogReaderFactory.filterFor(rowFilters, f))
    }
}

object GraftCatalogReaderFactory {
  private[sources] def filterFor(
      rowFilters: Map[String,
        Option[org.apache.parquet.filter2.predicate.FilterPredicate]],
      file: String)
      : Option[org.apache.parquet.filter2.predicate.FilterPredicate] =
    rowFilters.getOrElse(
      VersionedTable.dvKeyOf(file).split('/').head, None)

  private def chain[T](files: Seq[(String, Seq[String])])(
      open: (String, Seq[String]) => PartitionReader[T]): PartitionReader[T] =
    new PartitionReader[T] {
      private val rest = files.iterator
      private var current: PartitionReader[T] = _
      override def next(): Boolean = {
        while (current == null || !current.next()) {
          if (current != null) current.close()
          current = null
          if (!rest.hasNext) return false
          current = open.tupled(rest.next())
        }
        true
      }
      override def get(): T = current.get()
      override def close(): Unit = if (current != null) current.close()
    }
}

/** Membership structure for a tombstone file's doomed keys, under the
  * equality of [[VersionedTable.read]]'s left-anti join: a row is doomed
  * iff that join drops it. Integral, floating, boolean and decimal keys
  * are PRIMITIVE-SPECIALIZED ([[LongDoomedKeys]]): every key normalizes
  * to a long and membership is a binary search over one sorted `long[]`
  * — 8 flat bytes per key, no per-key object headers, no GC pressure, so
  * even a maximum-size tombstone (see [[VersionedTable.MorMaxDeleteKeys]])
  * costs a reader task tens of megabytes, not gigabytes of boxed
  * objects. STRING and BINARY keys keep a hash set of their raw bytes
  * ([[StringDoomedKeys]]) — they are variable-width by nature and
  * bounded by the same delete-size gate.
  */
private[sources] sealed trait DoomedKeys {
  def size: Int
  /** The row probe of a batch vector of type `vt` holding key column
    * `name`: picked from the keys' family and the vector's type, so the
    * compare happens at the snapshot type, never the file's physical
    * one. A type the keys cannot compare with fails loudly.
    */
  def probe(name: String, vt: DataType): (ColumnVector, Int) => Boolean
}

private[sources] object DoomedKeys {
  // the normalization family a LongDoomedKeys was built from. INT32 and
  // INT64 share ONE family: they are value-equal integers, and a
  // TYPE-WIDENED column legitimately mixes INT32 data files with an
  // INT64 tombstone — the delete must doom both. FLOAT and DOUBLE share
  // one the same way: a float widens to the double exactly, which is how
  // the join compares a widened column.
  final val KindIntegral = 0
  final val KindFloating = 1
  final val KindBool = 2
  final val KindDecimal = 3

  /** A double's key bits under Spark's join-key normalization: -0.0
    * equals 0.0, and every NaN equals every NaN (`doubleToLongBits`
    * canonicalizes NaN).
    */
  def doubleBits(d: Double): Long =
    if (d == 0.0) 0L else java.lang.Double.doubleToLongBits(d)
}

/** Sorted-long membership: integral values, normalized double bits
  * ([[DoomedKeys.doubleBits]]), booleans as 0/1, and decimals as their
  * unscaled value at `scale`.
  */
private[sources] final class LongDoomedKeys(
    val kind: Int, sorted: Array[Long], scale: Int = 0) extends DoomedKeys {
  import DoomedKeys._
  override def size: Int = sorted.length
  def containsBits(v: Long): Boolean =
    java.util.Arrays.binarySearch(sorted, v) >= 0
  override def probe(name: String, vt: DataType): (ColumnVector, Int) => Boolean =
    (kind, vt) match {
      case (KindIntegral, LongType | TimestampType | TimestampNTZType) =>
        (v, i) => containsBits(v.getLong(i))
      case (KindIntegral, IntegerType | DateType) =>
        (v, i) => containsBits(v.getInt(i).toLong)
      case (KindIntegral, ShortType) => (v, i) => containsBits(v.getShort(i).toLong)
      case (KindIntegral, ByteType)  => (v, i) => containsBits(v.getByte(i).toLong)
      case (KindFloating, DoubleType) =>
        (v, i) => containsBits(doubleBits(v.getDouble(i)))
      case (KindFloating, FloatType) =>
        (v, i) => containsBits(doubleBits(v.getFloat(i).toDouble))
      case (KindBool, BooleanType) =>
        (v, i) => containsBits(if (v.getBoolean(i)) 1L else 0L)
      case (KindDecimal, d: DecimalType) if d.scale == scale && d.precision <= 18 =>
        (v, i) => containsBits(v.getDecimal(i, d.precision, d.scale).toUnscaledLong)
      case (KindDecimal, d: DecimalType) if d.scale == scale =>
        // widened past 18 digits: an unscaled value outside a long is no key
        (v, i) => {
          val u = v.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.unscaledValue
          u.bitLength < 64 && containsBits(u.longValue)
        }
      case _ => throw new UnsupportedOperationException(
        s"graft tombstone keys of kind $kind (scale $scale) do not compare " +
          s"with $vt values (column $name)")
    }
}

/** STRING and BINARY key membership: a hash set of the keys' raw bytes
  * as UTF8String (bytewise equality, nothing decoded), so the STRING
  * probe (`getUTF8String`, a pointer into the batch buffer) needs no
  * per-row conversion.
  */
private[sources] final class StringDoomedKeys(
    set: java.util.HashSet[UTF8String]) extends DoomedKeys {
  override def size: Int = set.size
  def containsUtf8(u: UTF8String): Boolean = set.contains(u)
  override def probe(name: String, vt: DataType): (ColumnVector, Int) => Boolean =
    vt match {
      case StringType => (v, i) => containsUtf8(v.getUTF8String(i))
      case BinaryType => (v, i) => containsUtf8(UTF8String.fromBytes(v.getBinary(i)))
      case _ => throw new UnsupportedOperationException(
        s"graft byte-string tombstone keys do not compare with $vt values (column $name)")
    }
}

/** Tombstone key loading: a tombstone parquet file holds ONE key column
  * of doomed values (written by [[VersionedTable.deleteWhere]]); [[load]]
  * decodes it into a [[DoomedKeys]] membership structure whose family
  * follows the key column's parquet type — primitive-specialized for
  * integral, floating, boolean and long-backed decimal keys, a raw-bytes
  * hash set for STRING and BINARY ones.
  */
private[sources] object TombstoneKeys {
  import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
  import org.apache.parquet.hadoop.example.GroupReadSupport
  import org.apache.parquet.hadoop.util.HadoopInputFile
  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
  // Per-JVM (= per-EXECUTOR) key-set cache: tombstone files are immutable
  // once published, yet every reader task of every query re-decoded and
  // re-sorted the same key file — at 32 tasks/executor that is 32
  // redundant decode+sorts per query, and it multiplied the memory story
  // by task count. One load per (executor, file), LRU-bounded by
  // approximate retained bytes; entries for vacuumed files age out.
  private val CacheMaxBytes = 256L * 1024 * 1024

  /** One in-flight-or-done load per path. The multi-megabyte parquet
    * decode+sort runs under the HOLDER's own lazy-val lock, never the
    * shared cache lock — N distinct first loads proceed in parallel
    * across tasks, and a cache hit never waits behind an unrelated load.
    */
  private final class Holder(load: () => (String, DoomedKeys)) {
    var accounted = false // guarded by `cache`'s lock
    private var bytes0 = 0L
    lazy val value: (String, DoomedKeys) = {
      val (n, k) = load()
      if (n != null) bytes0 = k match {
        case l: LongDoomedKeys   => 8L * l.size + 64L
        case s: StringDoomedKeys => 64L * s.size + 64L
      }
      (n, k)
    }
    def bytes: Long = { value; bytes0 } // force-then-read: safe publication
  }

  private val cache = new java.util.LinkedHashMap[String, Holder](32, 0.75f, true)
  private var cacheBytes = 0L

  private def cached(path: String)(
      load: => (String, DoomedKeys)): (String, DoomedKeys) = {
    // short critical section: look up / install the holder only
    val h = cache.synchronized {
      var hit = cache.get(path) // access-ordered get refreshes LRU position
      if (hit == null) { hit = new Holder(() => load); cache.put(path, hit) }
      hit
    }
    val (n, k) = h.value // I/O outside the shared lock
    cache.synchronized {
      if (n == null) cache.remove(path) // empty tombstone: nothing to keep
      else if (!h.accounted && (cache.get(path) eq h)) {
        h.accounted = true
        cacheBytes += h.bytes
        val it = cache.entrySet().iterator()
        while (cacheBytes > CacheMaxBytes && it.hasNext) {
          val e = it.next()
          // never evict this call's entry or an in-flight (unaccounted) load
          if (e.getKey != path && e.getValue.accounted) {
            cacheBytes -= e.getValue.bytes
            it.remove()
          }
        }
      }
    }
    (n, k)
  }

  /** (key column name, doomed key membership) per tombstone file. */
  def load(paths: Seq[String]): Seq[(String, DoomedKeys)] =
    paths.map(tf => cached(tf)(loadOne(tf))).filter(_._1 != null)

  private def loadOne(tf: String): (String, DoomedKeys) = {
    import DoomedKeys._
    val r = ParquetReader
      .builder(new GroupReadSupport(), new org.apache.hadoop.fs.Path(tf)).build()
    try {
      var g = r.read()
      if (g == null) return (null, null)
      val t = g.getType.getType(0).asPrimitiveType()
      val scale = t.getLogicalTypeAnnotation match {
        case d: org.apache.parquet.schema.LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
          Some(d.getScale)
        case _ => None
      }
      val kind = (t.getPrimitiveTypeName, scale) match {
        case (INT32 | INT64, None)    => KindIntegral
        case (INT32 | INT64, Some(_)) => KindDecimal
        case (FLOAT | DOUBLE, _)      => KindFloating
        case (BOOLEAN, _)             => KindBool
        case (BINARY, None)           => -1 // raw bytes
        case _ => throw new UnsupportedOperationException(
          s"graft tombstone reader does not decode $t (column ${t.getName})")
      }
      val bits = new scala.collection.mutable.ArrayBuilder.ofLong
      val bytes = new java.util.HashSet[UTF8String]()
      while (g != null) {
        if (g.getFieldRepetitionCount(0) > 0) t.getPrimitiveTypeName match {
          case INT64   => bits += g.getLong(0, 0)
          case INT32   => bits += g.getInteger(0, 0).toLong
          case DOUBLE  => bits += doubleBits(g.getDouble(0, 0))
          case FLOAT   => bits += doubleBits(g.getFloat(0, 0).toDouble)
          case BOOLEAN => bits += (if (g.getBoolean(0, 0)) 1L else 0L)
          case _       => bytes.add(UTF8String.fromBytes(g.getBinary(0, 0).getBytes)); ()
        }
        g = r.read()
      }
      val keys =
        if (kind < 0) new StringDoomedKeys(bytes)
        else {
          val arr = bits.result()
          java.util.Arrays.sort(arr)
          new LongDoomedKeys(kind, arr, scale.getOrElse(0))
        }
      (t.getName, keys)
    } finally r.close()
  }

  /** The (immutable once published) parquet schema of `path`. */
  private[sources] def fileFields(
      path: String): Seq[org.apache.parquet.schema.Type] = {
    val rd = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.conf.Configuration()))
    try {
      import scala.jdk.CollectionConverters._
      rd.getFooter.getFileMetaData.getSchema.getFields.asScala.toSeq
    } finally rd.close()
  }
}

/** POSITIONAL deletion-vector handling for the catalog reader: a
  * `posdel-*.parquet` tombstone holds (_file, _pos) pairs
  * ([[VersionedTable.deleteWherePositional]]); [[forFile]] serves the
  * BITMAP of doomed row ordinals for one data file. Vectors are
  * per-executor cached exactly like equality key sets, but the memory
  * story is stronger: a bitmap costs ~rows/8 bytes per referenced file
  * REGARDLESS of how many rows were deleted, and the probe is one shift
  * and mask per row — no binary search, no hashing, no key column read.
  */
private[sources] object PositionKeys {

  final class Bitmap private[PositionKeys] (words: Array[Long]) {
    def get(pos: Long): Boolean = {
      val w = (pos >>> 6).toInt
      w < words.length && ((words(w) >>> (pos & 63)) & 1L) != 0L
    }
    private[PositionKeys] def byteSize: Long = 8L * words.length + 32L
  }

  private final class Builder {
    private var words = new Array[Long](16)
    def add(pos: Long): Unit = {
      val w = (pos >>> 6).toInt
      if (w >= words.length)
        words = java.util.Arrays.copyOf(
          words, math.max(w + 1, words.length * 2))
      words(w) |= 1L << (pos & 63)
    }
    def result(): Bitmap = new Bitmap(words)
  }

  // same per-path parallel-load + shared-LRU discipline as TombstoneKeys
  private val CacheMaxBytes = 256L * 1024 * 1024
  private final class Holder(load: () => Map[String, Bitmap]) {
    var accounted = false // guarded by `cache`'s lock
    private var bytes0 = 0L
    lazy val value: Map[String, Bitmap] = {
      val m = load()
      bytes0 = m.valuesIterator.map(_.byteSize).sum + 64L
      m
    }
    def bytes: Long = { value; bytes0 }
  }
  private val cache = new java.util.LinkedHashMap[String, Holder](16, 0.75f, true)
  private var cacheBytes = 0L

  private def cached(path: String): Map[String, Bitmap] = {
    val h = cache.synchronized {
      var hit = cache.get(path)
      if (hit == null) { hit = new Holder(() => loadOne(path)); cache.put(path, hit) }
      hit
    }
    val v = h.value // I/O outside the shared lock
    cache.synchronized {
      if (!h.accounted && (cache.get(path) eq h)) {
        h.accounted = true
        cacheBytes += h.bytes
        val it = cache.entrySet().iterator()
        while (cacheBytes > CacheMaxBytes && it.hasNext) {
          val e = it.next()
          if (e.getKey != path && e.getValue.accounted) {
            cacheBytes -= e.getValue.bytes
            it.remove()
          }
        }
      }
    }
    v
  }

  /** Bitmaps of doomed positions for `fileKey` across `dvPaths` (absent
    * entries mean the vector never touched that file — a free pass).
    */
  def forFile(dvPaths: Seq[String], fileKey: String): Seq[Bitmap] =
    dvPaths.flatMap(p => cached(p).get(fileKey))

  private def loadOne(path: String): Map[String, Bitmap] = {
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport
    val r = ParquetReader.builder(new GroupReadSupport(),
      new org.apache.hadoop.fs.Path(path)).build()
    val builders = new java.util.HashMap[String, Builder]()
    var g = r.read()
    while (g != null) {
      if (g.getFieldRepetitionCount("_file") > 0 &&
        g.getFieldRepetitionCount("_pos") > 0) {
        val f = g.getString("_file", 0)
        var b = builders.get(f)
        if (b == null) { b = new Builder; builders.put(f, b) }
        b.add(g.getLong("_pos", 0))
      }
      g = r.read()
    }
    r.close()
    import scala.jdk.CollectionConverters._
    builders.asScala.iterator.map { case (k, b) => k -> b.result() }.toMap
  }
}

/** ANALYZE-free per-column PLANNER statistics, assembled at plan time
  * from commit-side metadata alone: NDV from the per-commit HLL sketches
  * ([[VersionedTable.commitNdvSketches]], unioned across the scan's
  * commit dirs), null counts from the NN manifest segments, min/max from
  * the integral zone maps. A statistic is reported only when EVERY
  * planned commit/file carries its input — partial coverage declines
  * rather than guessing. These are estimates for the CBO (join
  * reordering, broadcast decisions): file-level pruning inside a commit
  * and COW-removed files can only make NDV an over-count, and the CBO
  * consumes them as estimates — never load-bearing for correctness.
  */
private[sources] object GraftColumnStats {
  import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
  import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
  import java.util.{Optional, OptionalLong}

  def forScan(table: String, kept: Seq[FileEntry],
      phys: StructType, rep: StructType)
      : java.util.Map[NamedReference, ColumnStatistics] = {
    import org.apache.datasketches.hll.{HllSketch, Union}
    val out = new java.util.HashMap[NamedReference, ColumnStatistics]()
    if (kept.isEmpty) return out
    val dirs = kept.map(_.path.split('/')(1)).distinct
    val sketches = dirs.map(d => VersionedTable.commitNdvSketches(table, d))
    phys.fields.zip(rep.fields).foreach { case (pf, rf) =>
      val c = pf.name
      val ndv: Option[Long] =
        if (sketches.forall(_.contains(c))) {
          val u = new Union(12)
          sketches.foreach(m => u.update(HllSketch.heapify(m(c).sketch)))
          Some(math.round(u.getResult.getEstimate))
        } else None
      // string length stats: avg = total length / total non-nulls across
      // the planned commits; max = max — estimates (commit-level, the
      // scan may keep only some of a commit's files)
      val lens: Option[(Long, Long)] = {
        val per = sketches.map(_.get(c).flatMap(_.lenStats))
        if (per.isEmpty || per.exists(_.isEmpty)) None
        else {
          val xs = per.flatten
          val nn = xs.map(_._1).sum
          if (nn <= 0) None
          else Some((xs.map(_._2).sum / nn, xs.map(_._3).max))
        }
      }
      // zero-row files (schema-evolution/DDL carriers) carry no stats and
      // contribute no rows: exempt them from completeness, exactly like
      // the aggregate pushdown does — otherwise every CREATE-then-INSERT
      // table would decline min/max forever because of its v1 carrier
      val nulls: Option[Long] = {
        val per = kept.map { f =>
          if (f.rows.contains(0L)) Some(0L)
          else for (r <- f.rows; nn <- f.nonNulls.get(c)) yield r - nn
        }
        if (per.forall(_.isDefined)) Some(per.flatten.sum) else None
      }
      val zone: Option[(Long, Long)] = {
        val per = kept.filterNot(_.rows.contains(0L)).map(_.zones.get(c))
        if (per.nonEmpty && per.forall(_.isDefined))
          Some((per.flatten.map(_._1).min, per.flatten.map(_._2).max))
        else None
      }
      val minMax: Option[(AnyRef, AnyRef)] = zone.flatMap { case (mn, mx) =>
        pf.dataType match {
          case LongType =>
            Some((java.lang.Long.valueOf(mn), java.lang.Long.valueOf(mx)))
          case IntegerType =>
            Some((Integer.valueOf(mn.toInt), Integer.valueOf(mx.toInt)))
          case _ => None
        }
      }
      if (ndv.isDefined || nulls.isDefined || minMax.isDefined || lens.isDefined)
        out.put(Expressions.column(rf.name), new ColumnStatistics {
          override def distinctCount(): OptionalLong =
            ndv.fold(OptionalLong.empty)(OptionalLong.of)
          override def nullCount(): OptionalLong =
            nulls.fold(OptionalLong.empty)(OptionalLong.of)
          override def min(): Optional[Object] =
            minMax.fold(Optional.empty[Object])(p => Optional.of(p._1))
          override def max(): Optional[Object] =
            minMax.fold(Optional.empty[Object])(p => Optional.of(p._2))
          override def avgLen(): OptionalLong =
            lens.fold(OptionalLong.empty)(p => OptionalLong.of(math.max(1L, p._1)))
          override def maxLen(): OptionalLong =
            lens.fold(OptionalLong.empty)(p => OptionalLong.of(p._2))
        })
    }
    out
  }
}

/** ROW-GROUP skipping inside planned files: the same per-column bounds
  * that prune whole files against the manifest zone maps are re-expressed
  * as a parquet `FilterPredicate`, so the vectorized reader ALSO skips
  * the row groups whose footer statistics exclude them — at 100 TB a
  * planned 1 GB file with 8 sorted row groups decodes one, not eight.
  * The predicate is implied by the query's own filters (bounds are
  * derived from them, widened only outward), Spark re-applies every
  * filter residually above the scan, and record-level + column-index
  * filtering are explicitly disabled — so this is pure block skipping:
  * it can only avoid decode work, never change results.
  */
private[sources] object GraftRowGroupFilter {
  import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
  import org.apache.parquet.io.api.Binary

  /** Build the row-group predicate for ONE GENERATION of files: `typed`
    * maps each filtered column to the type that generation physically
    * stores — a widened column gets INT32 leaves against its narrow
    * files and INT64 leaves against the wide ones (per commit), so the
    * parquet validator never sees a LONG predicate over an INT32 chunk
    * and widened tables keep row-group pruning instead of declining it
    * wholesale. Leaves on clamped/out-of-range values stay conservative:
    * a weaker leaf keeps extra row groups, and rows a narrow file cannot
    * hold prune soundly.
    */
  def build(typed: Map[String, DataType],
      bounds: Map[String, (Long, Long)],
      strBounds: Map[String, (Option[Array[Byte]], Option[Array[Byte]])],
      inSets: Map[String, Set[Long]] = Map.empty,
      strInSets: Map[String, Set[String]] = Map.empty)
      : Option[FilterPredicate] = {
    def clampI(x: Long): Integer =
      Integer.valueOf(
        math.max(Int.MinValue.toLong, math.min(Int.MaxValue.toLong, x)).toInt)
    // a degenerate range (lo == hi, a point predicate) is emitted as a
    // single Eq leaf instead of gtEq+ltEq: stats-equivalent, and Eq is
    // what parquet's dictionary AND bloom-filter row-group evaluators
    // consume — a point lookup on an unclustered bloom'd column skips
    // the row groups whose bloom excludes the key
    val intPreds: Seq[FilterPredicate] =
      bounds.toSeq.sortBy(_._1).flatMap { case (c, (lo, hi)) =>
        typed.get(c) match {
          // TIMESTAMP appears here only when [[perCommit]] verified this
          // commit's footer stores the column as INT64 timestamp-MICROS —
          // then the pushed epoch-micros bounds compare against the
          // block stats with plain signed-long order, exactly like a
          // BIGINT. INT96 / millis generations decline per commit
          // (they map to NullType below and build no leaf). DECIMAL
          // reaches this dispatch pre-translated the same way: perCommit
          // maps it to IntegerType/LongType by the footer's unscaled
          // physical primitive, and the pushed bounds are unscaled.
          case Some(LongType) | Some(TimestampType) | Some(TimestampNTZType) =>
            val col = FilterApi.longColumn(c)
            if (lo == hi) Seq[FilterPredicate](
              FilterApi.eq(col, java.lang.Long.valueOf(lo)))
            else Seq[FilterPredicate](
              FilterApi.gtEq(col, java.lang.Long.valueOf(lo)),
              FilterApi.ltEq(col, java.lang.Long.valueOf(hi)))
          case Some(IntegerType) | Some(DateType) =>
            // date bounds arrive in epoch days — the INT32 value parquet
            // stores for annotated date columns
            val col = FilterApi.intColumn(c)
            if (lo == hi) Seq[FilterPredicate](FilterApi.eq(col, clampI(lo)))
            else Seq[FilterPredicate](
              FilterApi.gtEq(col, clampI(lo)), FilterApi.ltEq(col, clampI(hi)))
          case Some(FloatType) if c.startsWith("~") =>
            // bits → double endpoints → FLOAT leaves, rounded OUTWARD
            // (lo down, hi up) when the double is not a float — a wider
            // leaf keeps extra row groups, never drops a matching one.
            // An OPEN lo side (Long.MinValue sentinel, from `<`/`<=`
            // alone) is NaN under the bijection but safe to drop: emit
            // the ltEq leaf alone — NaN rows never match <=/<. An open
            // HI side must decline entirely: NaN rows DO match >=/>,
            // yet parquet writers exclude NaN from stats, so a
            // gtEq-only leaf could drop a block whose only matches are
            // NaN.
            val dlo = VersionedTable.bitsToDouble(lo)
            val dhi = VersionedTable.bitsToDouble(hi)
            val colF = FilterApi.floatColumn(c.stripPrefix("~"))
            def fLoOf(d: Double): Float = {
              var f = d.toFloat; if (f.toDouble > d) f = Math.nextDown(f); f
            }
            def fHiOf(d: Double): Float = {
              var f = d.toFloat; if (f.toDouble < d) f = Math.nextUp(f); f
            }
            if (lo == Long.MinValue && !dhi.isNaN)
              Seq[FilterPredicate](
                FilterApi.ltEq(colF, java.lang.Float.valueOf(fHiOf(dhi))))
            else if (dlo.isNaN || dhi.isNaN) Nil
            else Seq[FilterPredicate](
              FilterApi.gtEq(colF, java.lang.Float.valueOf(fLoOf(dlo))),
              FilterApi.ltEq(colF, java.lang.Float.valueOf(fHiOf(dhi))))
          case Some(DoubleType) if c.startsWith("~") =>
            // double bounds arrive as SORTABLE BITS under the tilde key;
            // the bijection converts back to the EXACT double endpoints
            // for the file's own DOUBLE stats. A NaN endpoint from DATA
            // (a NaN literal) has no sound comparison — decline; an
            // open-lo sentinel emits the ltEq side alone (NaN-safe, see
            // the FLOAT branch note); an open-hi sentinel declines (NaN
            // rows match but are invisible to parquet stats).
            val dlo = VersionedTable.bitsToDouble(lo)
            val dhi = VersionedTable.bitsToDouble(hi)
            val colD = FilterApi.doubleColumn(c.stripPrefix("~"))
            if (lo == Long.MinValue && !dhi.isNaN)
              Seq[FilterPredicate](
                FilterApi.ltEq(colD, java.lang.Double.valueOf(dhi)))
            else if (dlo.isNaN || dhi.isNaN) Nil
            else if (lo == hi) Seq[FilterPredicate](
              FilterApi.eq(colD, java.lang.Double.valueOf(dlo)))
            else Seq[FilterPredicate](
              FilterApi.gtEq(colD, java.lang.Double.valueOf(dlo)),
              FilterApi.ltEq(colD, java.lang.Double.valueOf(dhi)))
          case _ => Nil
        }
      }
    val strPreds: Seq[FilterPredicate] =
      strBounds.toSeq.sortBy(_._1).flatMap { case (c, (lo, hi)) =>
        if (!typed.get(c).contains(StringType))
          Nil
        else {
          val col = FilterApi.binaryColumn(c)
          (lo, hi) match {
            case (Some(a), Some(b)) if java.util.Arrays.equals(a, b) =>
              Seq(FilterApi.eq(col,
                Binary.fromConstantByteArray(a)): FilterPredicate)
            case _ =>
              lo.toSeq.map(b =>
                FilterApi.gtEq(col, Binary.fromConstantByteArray(b)): FilterPredicate) ++
                hi.toSeq.map(b =>
                  FilterApi.ltEq(col, Binary.fromConstantByteArray(b)): FilterPredicate)
          }
        }
      }
    // runtime (DPP) key sets. Parquet's statistics filter evaluates an
    // IN against a block as a single [set-min, set-max] INTERVAL, so a
    // scattered key set prunes nothing by stats (dictionary/bloom may
    // still catch it). Small sets therefore become an OR of Eq leaves —
    // each key checked against each block's range individually — and
    // only large sets fall back to the interval-semantics IN.
    val OrOfEqCap = 64
    def orAll(ps: Seq[FilterPredicate]): FilterPredicate =
      ps.reduce(FilterApi.or)
    val inPreds: Seq[FilterPredicate] =
      inSets.toSeq.sortBy(_._1).flatMap { case (c, vs) =>
        // an EMPTY admissible set (contradictory runtime filters) matches
        // nothing; file-level pruning already planned zero work — don't
        // build an un-reducible empty OR here
        if (vs.isEmpty) Nil
        else typed.get(c) match {
          case Some(LongType) | Some(TimestampType) | Some(TimestampNTZType) =>
            val col = FilterApi.longColumn(c)
            if (vs.size <= OrOfEqCap)
              Seq(orAll(vs.toSeq.sorted.map(v =>
                FilterApi.eq(col, java.lang.Long.valueOf(v)): FilterPredicate)))
            else {
              val jl: java.util.Set[java.lang.Long] = new java.util.HashSet
              vs.foreach(v => jl.add(java.lang.Long.valueOf(v)))
              Seq(FilterApi.in(col, jl): FilterPredicate)
            }
          case Some(IntegerType) =>
            // a widened column's runtime keys may exceed INT32: a narrow
            // file cannot hold such a row, so dropping the key from the
            // OR is sound; an all-out-of-range set declines (file-level
            // pruning already planned the work away)
            val inRange = vs.filter(v =>
              v >= Int.MinValue.toLong && v <= Int.MaxValue.toLong)
            if (inRange.isEmpty) Nil
            else {
              val col = FilterApi.intColumn(c)
              if (inRange.size <= OrOfEqCap)
                Seq(orAll(inRange.toSeq.sorted.map(v =>
                  FilterApi.eq(col, Integer.valueOf(v.toInt)): FilterPredicate)))
              else {
                val ji: java.util.Set[Integer] = new java.util.HashSet
                inRange.foreach(v => ji.add(Integer.valueOf(v.toInt)))
                Seq(FilterApi.in(col, ji): FilterPredicate)
              }
            }
          case _ => Nil
        }
      }
    val strInPreds: Seq[FilterPredicate] =
      strInSets.toSeq.sortBy(_._1).flatMap { case (c, vs) =>
        if (vs.isEmpty || !typed.get(c).contains(StringType))
          Nil
        else {
          val col = FilterApi.binaryColumn(c)
          if (vs.size <= OrOfEqCap)
            Seq(orAll(vs.toSeq.sorted.map(v =>
              FilterApi.eq(col, Binary.fromString(v)): FilterPredicate)))
          else {
            val jb: java.util.Set[Binary] = new java.util.HashSet
            vs.foreach(v => jb.add(Binary.fromString(v)))
            Seq(FilterApi.in(col, jb): FilterPredicate)
          }
        }
      }
    (intPreds ++ strPreds ++ inPreds ++ strInPreds).reduceOption(FilterApi.and)
  }

  // one representative PARQUET footer per commit directory, memoized per
  // JVM (commit directories are immutable): the physical primitive —
  // and, for timestamps, whether the annotation is MICROS — behind
  // columns whose SPARK type hides the storage form. This is what lets
  // TIMESTAMP and DECIMAL columns carry row-group leaves soundly: the
  // leaf type must match the chunk's primitive or parquet's
  // schema-compatibility validator throws, and timestamp stats compare
  // correctly only in the unit the file actually stores.
  private val physCache = new java.util.concurrent.ConcurrentHashMap[
    String, Map[String, (org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName, Boolean)]]()
  private def physOf(table: String, rep: String)
      : Map[String, (org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName, Boolean)] =
    physCache.computeIfAbsent(s"$table#${rep.split('/')(1)}", { _ =>
      import org.apache.parquet.schema.LogicalTypeAnnotation
      // STRUCT leaves join under dotted names: plain (unannotated)
      // groups walk recursively — LIST/MAP groups stop (their leaves
      // are repeated; no scalar-bound semantics), matching the zone
      // maps' struct-spine-only key space. parquet's FilterApi
      // addresses these leaves by the same dot path.
      def walk(prefix: String, t: org.apache.parquet.schema.Type)
          : Iterator[(String, (org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName, Boolean))] =
        if (t.isPrimitive) {
          val p = t.asPrimitiveType()
          val micros = p.getLogicalTypeAnnotation match {
            case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              ts.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS
            case _ => false
          }
          Iterator(prefix -> (p.getPrimitiveTypeName, micros))
        } else {
          val g = t.asGroupType()
          if (g.getLogicalTypeAnnotation != null) Iterator.empty
          else {
            import scala.jdk.CollectionConverters._
            g.getFields.asScala.iterator
              .flatMap(f => walk(s"$prefix.${f.getName}", f))
          }
        }
      TombstoneKeys.fileFields(java.nio.file.Paths.get(table, rep).toString)
        .iterator.flatMap(t => walk(t.getName, t)).toMap
    })

  /** Per-commit predicates for a scan's kept files: one [[build]] per
    * commit directory with THAT commit's physical types for the filtered
    * columns (one memoized footer read per commit — the
    * `commitSchemaOf` discipline). TIMESTAMP columns qualify only when
    * the commit's footer stores INT64 timestamp-MICROS (INT96 and millis
    * generations decline per commit, never wholesale); DECIMAL columns
    * translate to the footer's unscaled INT32/INT64 primitive, matching
    * the unscaled units the pushed bounds speak.
    */
  def perCommit(table: String, keptPaths: Seq[String],
      filterCols: Set[String],
      bounds: Map[String, (Long, Long)],
      strBounds: Map[String, (Option[Array[Byte]], Option[Array[Byte]])],
      inSets: Map[String, Set[Long]],
      strInSets: Map[String, Set[String]],
      version: Option[Long] = None)
      : Map[String, Option[FilterPredicate]] =
    if (filterCols.isEmpty || keptPaths.isEmpty) Map.empty
    else {
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
      val spark = SparkSession.active
      keptPaths.groupBy(_.split('/')(1)).map { case (dir, files) =>
        val sch = VersionedTable.commitSchemaHinted(spark, table, version, files.min)
        lazy val phys = physOf(table, files.min)
        // leaf resolution speaks DOTTED names: nested struct leaves
        // qualify exactly like top-level columns (their physical type
        // comes from the same footer walk), so a meta.lang bound builds
        // a row-group leaf addressed by parquet's dot path
        def leafOf(name: String): Option[StructField] = {
          def walkT(dt: DataType, parts: List[String]): Option[DataType] =
            (dt, parts) match {
              case (t, Nil) => Some(t)
              case (st: StructType, h :: rest) =>
                st.fields.find(_.name == h).flatMap(f => walkT(f.dataType, rest))
              case _ => None
            }
          if (!name.contains('.'))
            sch.fields.find(_.name == name)
          else walkT(StructType(sch.fields), name.split('.').toList)
            .map(t => StructField(name, t))
        }
        val typed = filterCols.iterator.flatMap { c0 =>
          // a tilde key is a DOUBLE bound over the stripped column name
          val c = c0.stripPrefix("~")
          leafOf(c).map { f =>
            c0 -> (f.dataType match {
              case DoubleType if c0.startsWith("~") =>
                phys.get(c) match {
                  case Some((PrimitiveTypeName.DOUBLE, _)) => DoubleType
                  // a pre-widen generation stores FLOAT under a DOUBLE
                  // snapshot column: float leaves with conservatively
                  // rounded endpoints stay sound
                  case Some((PrimitiveTypeName.FLOAT, _)) => FloatType
                  case _ => NullType
                }
              case FloatType if c0.startsWith("~") =>
                phys.get(c) match {
                  case Some((PrimitiveTypeName.FLOAT, _))  => FloatType
                  case Some((PrimitiveTypeName.DOUBLE, _)) => DoubleType
                  case _ => NullType
                }
              case _ if c0.startsWith("~") => NullType
              case TimestampType | TimestampNTZType =>
                phys.get(c) match {
                  case Some((PrimitiveTypeName.INT64, true)) => f.dataType
                  case _ => NullType // INT96/millis: no sound leaf here
                }
              case _: org.apache.spark.sql.types.DecimalType =>
                phys.get(c) match {
                  case Some((PrimitiveTypeName.INT32, _)) => IntegerType
                  case Some((PrimitiveTypeName.INT64, _)) => LongType
                  case _ => NullType // FIXED(16) or absent: decline
                }
              case other => other
            })
          }
        }.toMap
        dir -> build(typed, bounds, strBounds, inSets, strInSets)
      }
    }
}

/** The catalog's partition reader: Spark's own columnar parquet decoder
  * (`VectorizedParquetRecordReader`) serving ColumnarBatches straight
  * into every catalog scan. Tombstone-free files pass batches through
  * untouched; under MOR tombstones the doomed-key sets load once per file
  * and each batch is compacted to its surviving rows — the key column
  * rides the projection when the query didn't ask for it and is dropped
  * from the output batch. Rebase modes are CORRECTED/UTC on both
  * timestamp96 and datetime, Spark's plain proleptic reading.
  */
class GraftCatalogVectorReader(
    file: String, required: StructType, tombstones: Seq[String],
    rowFilter: Option[org.apache.parquet.filter2.predicate.FilterPredicate])
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.vectorized.ColumnarBatch

  private val (posDelFiles, eqDelFiles) =
    tombstones.partition(VersionedTable.isPosDeleteFile)

  // doomed row-position bitmaps for THIS file (positional vectors that
  // never touched it contribute nothing — a free pass)
  private val posBitmaps: Seq[PositionKeys.Bitmap] =
    PositionKeys.forFile(posDelFiles, VersionedTable.dvKeyOf(file))

  // the data file's own columns — read only when EQUALITY tombstones
  // force the projection decisions (one footer read)
  private val fileFields: Seq[org.apache.parquet.schema.Type] =
    if (eqDelFiles.isEmpty) Nil else TombstoneKeys.fileFields(file)

  // tombstones whose key column this file actually holds — a set keyed
  // on a column the file lacks can doom none of its rows
  private val doomed: Seq[(String, DoomedKeys)] =
    TombstoneKeys.load(eqDelFiles)
      .filter { case (name, _) => fileFields.exists(_.getName == name) }

  // the schema the batch vectors are DECLARED in: required fields keep
  // their (possibly WIDENED) snapshot types — Spark 4's vectorized
  // parquet reader promotes INT32→LONG, FLOAT→DOUBLE and decimal
  // precision natively inside the batch load — plus any tombstone-key
  // column the query didn't project, in Spark's own rendering of the
  // file's parquet type, appended to the read and never copied out
  private val readStruct = StructType(required.fields ++
    doomed.map(_._1).distinct.filterNot(required.fieldNames.contains).map { name =>
      val t = fileFields.find(_.getName == name).get
      new org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter()
        .convert(new org.apache.parquet.schema.MessageType("key", t)).head
    })

  private val reader =
    new org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC", false, 4096)
  // under a POSITIONAL vector with a row-group filter, the running row
  // ordinal must stay exact across SKIPPED groups: each kept row group's
  // file-ordinal start comes from footer rowCount prefix sums, computed
  // against the SAME stats-only kept set the reader itself uses (null
  // when no tracking is needed — no posdel, or no filter)
  private var rgStarts: Array[Long] = null
  private var rgRows: Array[Long] = null
  private var rgIdx = 0
  private var rowsInRg = 0L

  locally {
    // a row-group filter under a positional vector: the filter SKIPS
    // groups, which would desynchronize the running row ordinal — so
    // the reader is pinned to STATS-ONLY group filtering (dictionary/
    // bloom evaluators off) and the identical stats-only decision is
    // replayed on the footer here to pre-compute each kept group's
    // starting ordinal. Same parquet-mr evaluator both sides → the kept
    // sets cannot diverge, and `basePos` stays exact while groups skip.
    //
    // The split-based initialize declares the REQUESTED schema
    // explicitly (the name-list overload would infer narrow types from
    // the footer, breaking widened reads) and honors an optional
    // parquet FilterPredicate in the task conf: ParquetFileReader then
    // drops the row groups whose stats/dictionary/bloom exclude it
    // BEFORE any page is decoded. Record-level and column-index
    // filtering stay OFF so the page stream matches
    // getFilteredRecordCount exactly — this path skips whole row
    // groups and nothing finer.
    import org.apache.spark.sql.internal.SQLConf
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, false)
    conf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, false)
    conf.setBoolean(SQLConf.CASE_SENSITIVE.key, false)
    conf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key, true)
    conf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, false)
    conf.set("org.apache.spark.sql.parquet.row.requested_schema",
      readStruct.json)
    conf.set("parquet.read.support.class",
      "org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport")
    rowFilter.foreach { pred =>
      import org.apache.parquet.hadoop.ParquetInputFormat
      ParquetInputFormat.setFilterPredicate(conf, pred)
      conf.setBoolean(ParquetInputFormat.RECORD_FILTERING_ENABLED, false)
      conf.setBoolean(ParquetInputFormat.COLUMN_INDEX_FILTERING_ENABLED, false)
      if (posBitmaps.nonEmpty) {
        // pin the reader's group filtering to the STATISTICS level so
        // the external ordinal replay below sees the identical kept set
        conf.setBoolean(ParquetInputFormat.DICTIONARY_FILTERING_ENABLED, false)
        conf.setBoolean(ParquetInputFormat.BLOOM_FILTERING_ENABLED, false)
      }
    }
    val p = new org.apache.hadoop.fs.Path(file)
    val len = p.getFileSystem(conf).getFileStatus(p).getLen
    if (posBitmaps.nonEmpty) rowFilter.foreach { pred =>
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
      try {
        val blocks = rd.getFooter.getBlocks
        val kept = org.apache.parquet.filter2.compat.RowGroupFilter
          .filterRowGroups(
            org.apache.parquet.filter2.compat.FilterCompat.get(pred),
            blocks, rd.getFooter.getFileMetaData.getSchema)
        val keptPos = new java.util.HashSet[java.lang.Long]()
        kept.forEach(b => { keptPos.add(b.getStartingPos); () })
        val starts = Array.newBuilder[Long]
        val rows = Array.newBuilder[Long]
        var ordinal = 0L
        blocks.forEach { b =>
          if (keptPos.contains(b.getStartingPos)) {
            starts += ordinal; rows += b.getRowCount
          }
          ordinal += b.getRowCount
        }
        rgStarts = starts.result(); rgRows = rows.result()
      } finally rd.close()
    }
    val split =
      new org.apache.hadoop.mapred.FileSplit(p, 0, len, Array.empty[String])
    reader.initialize(split,
      new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
        conf, new org.apache.hadoop.mapreduce.TaskAttemptID()))
  }
  reader.initBatch(new StructType(), InternalRow.empty)
  reader.enableReturningBatches()

  // per-tombstone (batch column index, row probe): the probe reads the
  // vector's native value and binary-searches the sorted long array (or
  // hashes the UTF8String view) — no boxing. It is picked from the keys'
  // family and the BATCH vector's type ([[DoomedKeys.probe]]), so a
  // widened column compares at its snapshot type.
  private val keyProbes: Seq[(Int, (ColumnVector, Int) => Boolean)] =
    doomed.map { case (name, keys) =>
      val idx = readStruct.fieldIndex(name)
      (idx, keys.probe(name, readStruct(idx).dataType))
    }

  // reused output vectors: reset per batch, capacity = the reader's own
  // batch size, so surviving rows always fit
  private lazy val out: Array[OnHeapColumnVector] =
    required.fields.map(f => new OnHeapColumnVector(4096, f.dataType))
  private lazy val outBatch: ColumnarBatch =
    new ColumnarBatch(out.map(v => v: ColumnVector))

  private def isDoomed(in: ColumnarBatch, r: Int): Boolean =
    keyProbes.exists { case (idx, probe) =>
      val v = in.column(idx)
      !v.isNullAt(r) && probe(v, r)
    }

  // running ordinal of the first row of the CURRENT batch within the
  // file — advanced sequentially when no groups skip, or from the kept
  // groups' precomputed starting ordinals when they do (a batch never
  // spans row groups: the vectorized reader caps each batch at the
  // loaded group's remaining rows)
  private var basePos = 0L
  private def posDoomed(p: Long): Boolean = {
    var i = 0
    while (i < posBitmaps.length) {
      if (posBitmaps(i).get(p)) return true
      i += 1
    }
    false
  }

  private def copyRow(in: ColumnarBatch, r: Int, o: Int): Unit = {
    var c = 0
    try while (c < required.fields.length) {
      val src = in.column(c)
      val dst = out(c)
      if (src.isNullAt(r)) {
        required.fields(c).dataType match {
          case _: StructType => dst.appendStruct(true); ()
          case _: org.apache.spark.sql.types.ArrayType |
               _: org.apache.spark.sql.types.MapType =>
            dst.appendNull(); ()
          case _ => dst.putNull(o); ()
        }
      }
      else required.fields(c).dataType match {
        case LongType | TimestampType | TimestampNTZType =>
          dst.putLong(o, src.getLong(r))
        case IntegerType | DateType => dst.putInt(o, src.getInt(r))
        case DoubleType             => dst.putDouble(o, src.getDouble(r))
        case FloatType              => dst.putFloat(o, src.getFloat(r))
        case BooleanType            => dst.putBoolean(o, src.getBoolean(r))
        case org.apache.spark.sql.types.ShortType =>
          dst.putShort(o, src.getShort(r))
        case org.apache.spark.sql.types.ByteType =>
          dst.putByte(o, src.getByte(r))
        case StringType =>
          val b = src.getUTF8String(r).getBytes
          dst.putByteArray(o, b, 0, b.length); ()
        case BinaryType =>
          val b = src.getBinary(r)
          dst.putByteArray(o, b, 0, b.length); ()
        case d: org.apache.spark.sql.types.DecimalType =>
          dst.putDecimal(o, src.getDecimal(r, d.precision, d.scale),
            d.precision); ()
        // NESTED columns copy through the child-vector APPEND API (the
        // only WritableColumnVector surface that manages child offsets).
        // put- and append-addressing coexist because surviving rows are
        // written strictly in order: a nested vector's own
        // elementsAppended counter always equals `o` here, while flat
        // siblings use explicit put offsets and never consult it.
        case at: org.apache.spark.sql.types.ArrayType =>
          appendNested(dst, at, src.getArray(r))
        case st: StructType =>
          dst.appendStruct(false)
          appendStructFields(dst, st, src.getStruct(r))
        case mt: org.apache.spark.sql.types.MapType =>
          appendMap(dst, mt, src.getMap(r))
        case dt => throw new UnsupportedOperationException(
          s"vectorized MOR copy does not support $dt")
      }
      c += 1
    } catch {
      // a type the surviving-row copy cannot serve fails loudly, naming
      // the column it sits in
      case e: UnsupportedOperationException =>
        throw new UnsupportedOperationException(
          s"${e.getMessage} (column ${required.fields(c).name} of $file)", e)
    }
  }

  /** Recursive append of one value read through SpecializedGetters
    * (ColumnarArray / ColumnarRow elements) into a child vector.
    */
  private def appendFrom(dst: OnHeapColumnVector, dt: DataType,
      g: org.apache.spark.sql.catalyst.expressions.SpecializedGetters,
      i: Int): Unit = {
    import org.apache.spark.sql.types._
    if (g.isNullAt(i)) {
      dt match {
        case _: StructType => dst.appendStruct(true); ()
        case _             => dst.appendNull(); ()
      }
    } else dt match {
      case LongType | TimestampType | TimestampNTZType =>
        dst.appendLong(g.getLong(i)); ()
      case IntegerType | DateType => dst.appendInt(g.getInt(i)); ()
      case DoubleType             => dst.appendDouble(g.getDouble(i)); ()
      case FloatType              => dst.appendFloat(g.getFloat(i)); ()
      case BooleanType            => dst.appendBoolean(g.getBoolean(i)); ()
      case ShortType              => dst.appendShort(g.getShort(i)); ()
      case ByteType               => dst.appendByte(g.getByte(i)); ()
      case StringType =>
        val b = g.getUTF8String(i).getBytes
        dst.appendByteArray(b, 0, b.length); ()
      case BinaryType =>
        val b = g.getBinary(i)
        dst.appendByteArray(b, 0, b.length); ()
      case d: DecimalType =>
        // OnHeapColumnVector decimal storage by precision: ≤9 digits in
        // an int, ≤18 in a long, else unscaled big-endian bytes —
        // exactly putDecimal's dispatch, expressed through appends
        val dec = g.getDecimal(i, d.precision, d.scale)
        if (d.precision <= 9) dst.appendInt(dec.toUnscaledLong.toInt)
        else if (d.precision <= 18) dst.appendLong(dec.toUnscaledLong)
        else {
          val b = dec.toJavaBigDecimal.unscaledValue.toByteArray
          dst.appendByteArray(b, 0, b.length)
        }
        ()
      case at: ArrayType  => appendNested(dst, at, g.getArray(i))
      case st: StructType =>
        dst.appendStruct(false)
        appendStructFields(dst, st, g.getStruct(i, st.fields.length))
      case mt: MapType    => appendMap(dst, mt, g.getMap(i))
      case other => throw new UnsupportedOperationException(
        s"vectorized MOR copy does not support nested $other")
    }
  }

  private def appendNested(dst: OnHeapColumnVector,
      at: org.apache.spark.sql.types.ArrayType,
      arr: org.apache.spark.sql.catalyst.util.ArrayData): Unit = {
    val n = arr.numElements()
    val idx = dst.getElementsAppended
    dst.reserve(idx + 1)
    dst.putNotNull(idx)
    dst.putArray(idx, dst.arrayData().getElementsAppended, n)
    dst.addElementsAppended(1)
    appendElements(dst.arrayData().asInstanceOf[OnHeapColumnVector],
      at.elementType, arr, n)
  }

  /** Bulk element copy into a child vector: ONE capacity reserve and a
    * primitive-specialized put-loop per array (token/embedding arrays
    * run to hundreds of elements — a per-element append with its
    * capacity check and DataType dispatch is measurably slower than a
    * bulk put per array).
    * Non-primitive elements fall back to the recursive append.
    */
  private def appendElements(child: OnHeapColumnVector, et: DataType,
      arr: org.apache.spark.sql.catalyst.util.ArrayData, n: Int): Unit = {
    import org.apache.spark.sql.types._
    val off = child.getElementsAppended
    et match {
      case LongType | TimestampType | TimestampNTZType =>
        child.reserve(off + n)
        var j = 0
        while (j < n) {
          if (arr.isNullAt(j)) child.putNull(off + j)
          else child.putLong(off + j, arr.getLong(j))
          j += 1
        }
        child.addElementsAppended(n)
      case IntegerType | DateType =>
        child.reserve(off + n)
        var j = 0
        while (j < n) {
          if (arr.isNullAt(j)) child.putNull(off + j)
          else child.putInt(off + j, arr.getInt(j))
          j += 1
        }
        child.addElementsAppended(n)
      case DoubleType =>
        child.reserve(off + n)
        var j = 0
        while (j < n) {
          if (arr.isNullAt(j)) child.putNull(off + j)
          else child.putDouble(off + j, arr.getDouble(j))
          j += 1
        }
        child.addElementsAppended(n)
      case FloatType =>
        child.reserve(off + n)
        var j = 0
        while (j < n) {
          if (arr.isNullAt(j)) child.putNull(off + j)
          else child.putFloat(off + j, arr.getFloat(j))
          j += 1
        }
        child.addElementsAppended(n)
      case BooleanType =>
        child.reserve(off + n)
        var j = 0
        while (j < n) {
          if (arr.isNullAt(j)) child.putNull(off + j)
          else child.putBoolean(off + j, arr.getBoolean(j))
          j += 1
        }
        child.addElementsAppended(n)
      case ShortType =>
        child.reserve(off + n)
        var j = 0
        while (j < n) {
          if (arr.isNullAt(j)) child.putNull(off + j)
          else child.putShort(off + j, arr.getShort(j))
          j += 1
        }
        child.addElementsAppended(n)
      case ByteType =>
        child.reserve(off + n)
        var j = 0
        while (j < n) {
          if (arr.isNullAt(j)) child.putNull(off + j)
          else child.putByte(off + j, arr.getByte(j))
          j += 1
        }
        child.addElementsAppended(n)
      case _ =>
        var j = 0
        while (j < n) { appendFrom(child, et, arr, j); j += 1 }
    }
  }

  private def appendStructFields(dst: OnHeapColumnVector, st: StructType,
      row: org.apache.spark.sql.catalyst.expressions.SpecializedGetters)
      : Unit = {
    var j = 0
    while (j < st.fields.length) {
      appendFrom(dst.getChild(j).asInstanceOf[OnHeapColumnVector],
        st.fields(j).dataType, row, j)
      j += 1
    }
  }

  private def appendMap(dst: OnHeapColumnVector,
      mt: org.apache.spark.sql.types.MapType,
      m: org.apache.spark.sql.catalyst.util.MapData): Unit = {
    // maps share the array offset/length storage; keys and values
    // advance in lockstep so one putArray covers both children
    val n = m.numElements()
    val idx = dst.getElementsAppended
    val keys = dst.getChild(0).asInstanceOf[OnHeapColumnVector]
    val vals = dst.getChild(1).asInstanceOf[OnHeapColumnVector]
    dst.reserve(idx + 1)
    dst.putNotNull(idx)
    dst.putArray(idx, keys.getElementsAppended, n)
    dst.addElementsAppended(1)
    appendElements(keys, mt.keyType, m.keyArray(), n)
    appendElements(vals, mt.valueType, m.valueArray(), n)
  }

  override def next(): Boolean = {
    if (keyProbes.isEmpty && posBitmaps.isEmpty) return reader.nextBatch()
    while (reader.nextBatch()) {
      val in = reader.resultBatch()
      val n = in.numRows()
      if (rgStarts != null) {
        while (rowsInRg >= rgRows(rgIdx)) { rgIdx += 1; rowsInRg = 0L }
        basePos = rgStarts(rgIdx) + rowsInRg
        rowsInRg += n
      }
      out.foreach(_.reset())
      var o = 0
      var r = 0
      while (r < n) {
        if (!posDoomed(basePos + r) && !isDoomed(in, r)) {
          copyRow(in, r, o); o += 1
        }
        r += 1
      }
      if (rgStarts == null) basePos += n
      if (o > 0) { outBatch.setNumRows(o); return true }
    }
    false
  }

  override def get(): org.apache.spark.sql.vectorized.ColumnarBatch =
    if (keyProbes.isEmpty && posBitmaps.isEmpty) reader.resultBatch()
    else outBatch
  override def close(): Unit = reader.close()
}
