package graft.sources

import java.util
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{
  InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder,
  SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{
  MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Structured-Streaming source over a [[VersionedTable]]: COMMIT VERSIONS
  * ARE THE OFFSETS. Each micro-batch reads exactly the data files made
  * fresh by the commits in `(startVersion, endVersion]`, stamped with
  * `_commit_version` — the streaming form of
  * [[VersionedTable.appendsBetween]], and the same surface Delta's
  * streaming source exposes over its transaction log.
  *
  * Why version-offsets give exactly-once for free: manifests are
  * immutable once published (create-new link), so `planInputPartitions
  * (start, end)` is a pure function of the offsets — a restarted query
  * replans an uncommitted batch IDENTICALLY from the checkpoint, and a
  * committed batch is never re-read. No file-listing diffs, no
  * modification-time heuristics: the commit protocol is the offset log.
  *
  * Semantics on non-additive commits, mirroring `appendsBetween` (and
  * Delta's behavior): an OVERWRITE inside the offset range fails the
  * stream loudly — incremental consumption across a replaced snapshot is
  * undefined; a DELETE (merge-on-read tombstone) commit fails loudly
  * unless `ignoreDeletes=true`, which skips it (the downstream consumer
  * has already seen the rows; retraction is the CDF's job, not the
  * append stream's).
  *
  * Usage: `spark.readStream.format("graft-table").load(tablePath)`;
  * `option("startingVersion", n)` consumes changes from version n
  * inclusive (Delta parity — n must be a retained version; a vacuumed
  * start fails loudly, and n = the oldest retained version serves that
  * snapshot in full as the initial batch).
  *
  * Reader scope: insert-only micro-batches whose files carry every
  * required column decode VECTORIZED (Spark's columnar parquet reader;
  * the stream metadata columns ride as constant partition columns);
  * CDF delete rows and schema-evolution gaps decode with parquet's
  * Group API via the shared [[ParquetGroups]] decoder — primitives plus
  * timestamps (INT64 micros/millis and legacy INT96) and dates.
  */
class VersionedStreamSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-table"

  private def tablePath(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "graft-table requires .load(<table path>)")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val table = tablePath(options)
    // a SINK table may not exist yet (its first epoch creates it): infer
    // empty and let the write take its schema from the query; the READ
    // path rejects an empty schema loudly in newScanBuilder instead
    if (VersionedTable.versions(table).isEmpty) return new StructType()
    val dataSchema = VersionedTable.read(SparkSession.active, table).schema
    val base = dataSchema.add("_commit_version", LongType, nullable = false)
    if (options.getBoolean("readChangeFeed", false))
      base.add("_change_type", StringType, nullable = false)
    else base
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new VersionedStreamTable(tablePath(opts), schema,
      opts.getBoolean("ignoreDeletes", false),
      Option(opts.get("maxVersionsPerTrigger")).map(_.toLong),
      opts.getBoolean("readChangeFeed", false),
      Option(opts.get("maxRowsPerTrigger")).map(_.toLong),
      Option(opts.get("startingVersion")).map(_.toLong),
      Option(opts.get("maxBytesPerTrigger")).map(_.toLong))
  }
}

class VersionedStreamTable(
    table: String, schema0: StructType, ignoreDeletes: Boolean,
    maxVersionsPerTrigger: Option[Long], changeFeed: Boolean = false,
    maxRowsPerTrigger: Option[Long] = None,
    startingVersion: Option[Long] = None,
    maxBytesPerTrigger: Option[Long] = None)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"graft_table($table)"
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE)

  /** Native exactly-once STREAMING SINK: each epoch's executor-staged
    * files are published as ONE table commit whose txn id is the epoch
    * number — Spark may replay an epoch after a crash, and the txn check
    * inside the publish loop makes the replay a no-op, the same
    * idempotence contract `commitIfAbsent` gives a foreachBatch sink but
    * with zero caller boilerplate:
    * `df.writeStream.format("graft-table").option("path", t).start()`.
    * CHECK constraints gate every epoch (a violating micro-batch aborts
    * that epoch loudly rather than poisoning the table).
    */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.Write {
          override def toStreaming
              : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
            // rows are positional: under a column mapping the epoch's
            // files land with PHYSICAL names, like every other write
            new VersionedStreamingWrite(table,
              VersionedTable.physicalizeSchema(table, info.schema()),
              info.queryId())
        }
    }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    require(schema0.nonEmpty,
      s"cannot stream-read $table: it has no committed versions yet — " +
        "commit (or stream-write) to it first so a schema exists")
    new ScanBuilder with SupportsPushDownRequiredColumns
        with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
      private var required: StructType = schema0
      private var bounds: Seq[(String, Long, Long)] = Nil
      private var strBounds
          : Map[String, (Option[Array[Byte]], Option[Array[Byte]])] = Map.empty
      private var used: Array[org.apache.spark.sql.sources.Filter] = Array.empty
      // column pruning reaches the file reader: unprojected fields are
      // never decoded from the parquet groups
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      // a selective streaming consumer prunes each micro-batch's FILES
      // through the same zone maps the batch scans use: a filtered
      // stream over a clustered 100 TB ingest reads the fresh files
      // that can match, not every fresh file. All filters stay residual
      // (Spark reapplies them above), so pruning only skips work.
      override def pushFilters(
          filters: Array[org.apache.spark.sql.sources.Filter])
          : Array[org.apache.spark.sql.sources.Filter] = {
        val seg = VersionedTable.segmentL2P(table)
        val phys = filters.map(
          GraftFilters.mapNames(_, c => VersionedTable.physDotted(seg, c)))
        val physSchema = VersionedTable.physicalizeSchema(table, schema0)
        val (b, consumed) = GraftFilters.integralBounds(phys, physSchema)
        bounds = b
        val (sb, sConsumed) = GraftFilters.stringBounds(phys, physSchema)
        strBounds = sb
        used = (consumed ++ sConsumed).distinct
        filters
      }
      override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
        used
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = required
        override def description(): String = s"graft-table stream over $table"
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          // the stream decodes files by name, so it gets the PHYSICAL
          // rendering of the (logical) required schema — positional
          // rows mean readSchema() above still reports logical names
          new VersionedMicroBatchStream(table,
            VersionedTable.physicalizeSchema(table, required), ignoreDeletes,
            maxVersionsPerTrigger, changeFeed, maxRowsPerTrigger,
            startingVersion, bounds, strBounds, maxBytesPerTrigger)
      }
    }
  }
}

/** The stream position: the highest commit version fully emitted. */
case class VersionOffset(v: Long) extends Offset {
  override def json(): String = v.toString
}

/** Epoch-committing streaming sink over the versioned table. Per epoch:
  * executors stage parquet into `data/_stg_<query>_e<epoch>/` (reusing
  * the catalog's [[GraftDataWriter]]), and `commit(epoch, _)` seats the
  * directory onto the next free version and publishes it with
  * txn id `stream:<queryId>:e<epoch>` — so a crash-replayed epoch is
  * recognized inside the publish loop and applied exactly once.
  */
class VersionedStreamingWrite(table: String, schema: StructType, queryId: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.{PhysicalWriteInfo, WriterCommitMessage}

  private def stagingName(epochId: Long) = s"_stg_${queryId.take(8)}_e$epochId"
  private def stagingAbs(epochId: Long) =
    java.nio.file.Paths.get(table, "data", stagingName(epochId)).toString

  // a bucketed sink table routes every epoch's rows per-key, exactly as
  // the batch writers do — the layout survives the stream
  private val bucketIdx: Option[(Int, Int)] =
    VersionedTable.bucketSpec(table).map { case (c, n) =>
      val i = schema.fieldIndex(c)
      require(schema.fields(i).dataType ==
        org.apache.spark.sql.types.LongType ||
        schema.fields(i).dataType == org.apache.spark.sql.types.IntegerType,
        s"bucket column $c must be BIGINT/INT")
      (i, n)
    }

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    new VersionedStreamingWriterFactory(table, queryId.take(8), schema, bucketIdx,
      VersionedTable.bloomCols(table, schema))

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val txn = s"stream:$queryId:e$epochId"
    // a replayed epoch whose previous attempt already published: no-op
    if (VersionedTable.txnVersion(table, txn).isDefined) { abort(epochId, messages); return }
    val staging = java.nio.file.Paths.get(stagingAbs(epochId))
    if (!java.nio.file.Files.isDirectory(staging))
      java.nio.file.Files.createDirectories(staging) // empty epoch
    val token = java.util.UUID.randomUUID().toString.take(8)
    val next = VersionedTable.versions(table).lastOption.getOrElse(0L) + 1L
    val dirName = s"c${next}_$token"
    java.nio.file.Files.move(staging, java.nio.file.Paths.get(table, "data", dirName))
    GraftStagedCommit.reconcile(
      java.nio.file.Paths.get(table, "data", dirName),
      stagingAbs(epochId), messages)
    val entries = VersionedTable.dirMetadata(
      spark, table, dirName, VersionedTable.defaultStatsCols(table, schema),
      VersionedTable.constraints(table))
    VersionedTable.publishStaged(table, token, next, dirName, entries,
      append = true, txnId = Some(txn), expectedLatest = None)
    ()
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val p = java.nio.file.Paths.get(stagingAbs(epochId))
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      VersionedTable.usingPaths(java.nio.file.Files.walk(p))(
        _.toSeq.sortBy(_.toString)(Ordering[String].reverse)
          .foreach(q => { java.nio.file.Files.deleteIfExists(q); () }))
    }
  }
}

class VersionedStreamingWriterFactory(
    table: String, qTag: String, schema: StructType,
    bucketIdx: Option[(Int, Int)] = None,
    // resolved DRIVER-side (the props file lives with the manifests):
    // the sink honors the table's declared bloom columns too — streamed
    // commits must stay point-lookup-skippable like batch ones
    blooms: Seq[String] = Nil)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] = {
    val dir = java.nio.file.Paths.get(table, "data", s"_stg_${qTag}_e$epochId")
    java.nio.file.Files.createDirectories(dir)
    bucketIdx match {
      case None =>
        new GraftDataWriter(s"$dir/part-$partitionId-$taskId.parquet", schema,
          bloomCols = blooms)
      case Some((i, n)) =>
        // a bucketed sink table keeps its co-location: every epoch's rows
        // route into their own key's __graft_bucket subtree
        new GraftBucketedDataWriter(dir.toString, schema, i, n, partitionId,
          taskId, bloomCols = blooms)
    }
  }
}

class VersionedMicroBatchStream(
    table: String, schema: StructType, ignoreDeletes: Boolean,
    maxVersionsPerTrigger: Option[Long] = None, changeFeed: Boolean = false,
    maxRowsPerTrigger: Option[Long] = None,
    startingVersion: Option[Long] = None,
    bounds: Seq[(String, Long, Long)] = Nil,
    strBounds: Map[String, (Option[Array[Byte]], Option[Array[Byte]])] =
      Map.empty,
    maxBytesPerTrigger: Option[Long] = None)
    extends MicroBatchStream with SupportsAdmissionControl {

  // bounds from the per-batch optimizer hand-off
  // ([[graft.plans.PushFiltersIntoVersionedStream]] — Spark never calls
  // a micro-batch builder's pushFilters itself). Conservative side
  // channel: bounds only SKIP files whose zones exclude them; the plan's
  // own Filter still runs above. Constructor bounds (a future
  // Spark-native pushdown) seed the same fields.
  @volatile private var pushedBounds: Seq[(String, Long, Long)] = bounds
  @volatile private var pushedStrBounds
      : Map[String, (Option[Array[Byte]], Option[Array[Byte]])] = strBounds
  // admissible-KEY sets (static In/EqualTo conjuncts, plus the
  // DPP-style sets the rule derives from a stream–dimension join):
  // sorted once per hand-off, probed with one binary search per
  // (file, column) exactly like the batch scan's runtimeKept
  @volatile private var pushedInSets: Map[String, Array[Long]] = Map.empty
  @volatile private var pushedStrInSets
      : Map[String, Array[Array[Byte]]] = Map.empty
  // MEMBERSHIP probe groups (array_contains / map-key / arrays_overlap
  // conjuncts — the v1 Filter surface can't speak them, so they ride
  // their own hand-off): each group is a disjunction of element hashes;
  // a fresh file drops only when its commit-time bloom excludes EVERY
  // hash of some group
  @volatile private var pushedMemberProbes: Seq[(String, Seq[Long])] = Nil

  /** Membership-probe hand-off (logical names — translated through the
    * column map here, like the scalar bounds). Replaces wholesale.
    */
  def updateMemberProbes(probes: Seq[(String, Seq[Long])]): Unit = {
    val seg = VersionedTable.segmentL2P(table)
    pushedMemberProbes =
      probes.map { case (c, hs) => VersionedTable.physDotted(seg, c) -> hs }
  }

  /** Translate the optimizer's v1 filters (LOGICAL names) into physical
    * zone bounds and admissible-key sets for this stream's batches.
    * Replaces wholesale — a batch whose plan carries no translatable
    * filter prunes nothing.
    */
  def updatePushedPredicates(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val seg = VersionedTable.segmentL2P(table)
    val phys = filters.map(
      GraftFilters.mapNames(_, c => VersionedTable.physDotted(seg, c)))
    // `schema` is already the PHYSICAL projection; filter columns are
    // always projected (the Filter consumes them), so it carries their
    // types
    val (b, _) = GraftFilters.integralBounds(phys, schema)
    val (sb, _) = GraftFilters.stringBounds(phys, schema)
    pushedBounds = b
    pushedStrBounds = sb
    pushedInSets = GraftFilters.inSets(phys).view
      .mapValues(_.toArray.sorted).toMap
    pushedStrInSets = GraftFilters.strInSets(phys).view
      .mapValues(GraftFilters.sortedUtf8).toMap
  }

  /** Zone-map file pruning for INSERT partitions: version `v`'s data
    * files the pushed predicates admit, by path — the planner selection
    * for the pushed bounds, string bounds and member probes, then the
    * admissible-key sets; None when nothing is pushed (every file stays).
    * A fresh file outside the map never joins the micro-batch (stat-less
    * files are kept; delete/CDF partitions are never pruned — tombstone
    * key files don't carry data zones).
    */
  private def admittedInserts(v: Long): Option[Set[String]] = {
    val b0 = pushedBounds
    val sb0 = pushedStrBounds
    val in0 = pushedInSets
    val sin0 = pushedStrInSets
    val mp0 = pushedMemberProbes
    if (b0.isEmpty && sb0.isEmpty && in0.isEmpty && sin0.isEmpty && mp0.isEmpty) None
    else {
      val prune = Prune.conjunction(b0, Nil).copy(strBounds = sb0, memberProbes = mp0)
      Some(VersionedTable.select(table, Some(v), prune).iterator
        .filter(GraftFilters.sortedInKeep(in0, sin0)).map(_.path).toSet)
    }
  }

  // a fresh stream starts just below the OLDEST RETAINED version, not at
  // 0: on a vacuumed table the expired commits' rows survive only as
  // carried entries of the materialized oldest manifest, so the first
  // batch must serve that version as a full resolved snapshot (Delta's
  // initial-snapshot shape) — planInputPartitions does exactly that for
  // a range opening at the minimum version, and fails loudly for a
  // checkpointed offset that points below it (replay determinism for
  // the vacuumed range is unrecoverable).
  // `startingVersion` (Delta parity): consume changes from that version
  // INCLUSIVE, skipping older history — offset v-1. Equal to the oldest
  // retained version ⇒ the initial batch is that snapshot in full; below
  // it ⇒ planInputPartitions fails loudly (the range was vacuumed).
  override def initialOffset(): Offset = startingVersion match {
    case Some(v) => VersionOffset(v - 1L)
    case None =>
      VersionOffset(VersionedTable.versions(table).headOption.fold(0L)(_ - 1L))
  }
  override def latestOffset(): Offset =
    VersionOffset(VersionedTable.versions(table).lastOption.getOrElse(0L))
  // admission control: `maxVersionsPerTrigger` bounds each micro-batch to
  // a fixed number of commits, so a stream starting against a long table
  // history (or catching up after downtime) ingests in bounded units
  // instead of one giant initial batch — Delta's maxFilesPerTrigger
  // shape. `maxRowsPerTrigger` bounds the batch by ROWS instead, from
  // the footer counts the manifests already record — admission is pure
  // manifest arithmetic, no file opened. Commits are never split (a
  // version is the atomic offset unit), so one oversized commit is
  // admitted alone rather than stalling the stream; a pre-stats commit
  // (unknown rows) is treated the same way.
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[VersionOffset].v
    val head = VersionedTable.versions(table).lastOption.getOrElse(0L)
    val vCap = maxVersionsPerTrigger.fold(head)(k => math.min(head, s + k))
    val end =
      if (maxRowsPerTrigger.isEmpty && maxBytesPerTrigger.isEmpty) vCap
      else {
        // rows AND bytes budgets compose: a commit is admitted while it
        // fits every declared budget (bytes from the exact rows@bytes
        // manifest entries — Delta's maxBytesPerTrigger shape, pure
        // manifest arithmetic); the first commit of a batch is always
        // admitted whole (versions are the atomic offset unit), and an
        // unknown-size commit (pre-stats or pre-bytes manifests) is
        // treated as oversized — admitted alone
        val vs = VersionedTable.versions(table).filter(v => v > s && v <= vCap)
        var accR = 0L
        var accB = 0L
        var e = s
        var stop = false
        vs.foreach { v =>
          if (!stop) {
            val rows = VersionedTable.freshRows(table, v)
              .getOrElse(Long.MaxValue / 4)
            val bytes = VersionedTable.freshBytes(table, v)
              .getOrElse(Long.MaxValue / 4)
            val over = maxRowsPerTrigger.exists(m => accR + rows > m) ||
              maxBytesPerTrigger.exists(m => accB + bytes > m)
            if (e > s && over) stop = true
            else { accR += rows; accB += bytes; e = v }
          }
        }
        e
      }
    VersionOffset(end)
  }
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def deserializeOffset(json: String): Offset = VersionOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[VersionOffset].v
    val e = end.asInstanceOf[VersionOffset].v
    def abs(rel: String) = java.nio.file.Paths.get(table, rel).toString
    val vs = VersionedTable.versions(table)
    if (vs.isEmpty) return Array.empty
    val minV = vs.head
    // offsets below the retained history are unservable: versions s+1..min-1
    // were vacuumed, and their rows live only as carried entries of the
    // materialized oldest manifest — planning only fresh files would
    // SILENTLY DROP them from the stream. The fresh-start offset (min-1)
    // is served as a full snapshot below; anything older fails loudly.
    if (s < minV - 1L)
      throw new IllegalStateException(
        s"streaming read of $table: checkpointed offset $s predates the oldest " +
          s"retained version $minV — versions ${s + 1}..${minV - 1} were vacuumed " +
          "and cannot be replayed. Restart the stream with a fresh checkpoint " +
          "(the initial batch then serves the oldest retained snapshot in full)")
    val parts = vs.filter(v => v > s && v <= e).flatMap { v =>
      // range opens at the table's oldest retained version: serve its FULL
      // resolved snapshot (carried entries included), not just its fresh
      // files — after vacuum the expired commits' surviving rows ride the
      // materialized manifest's carried entries. Rows are stamped with
      // this snapshot version (Delta's initial-snapshot convention).
      lazy val admitted = admittedInserts(v)
      def keepInsert(rel: String): Boolean = admitted.forall(_.contains(rel))
      if (v == minV && s == minV - 1L) {
        val layout = VersionedTable.select(table, Some(v), Prune.none)
        val tombstoned = layout.filter(_.tombstones.nonEmpty)
        if (tombstoned.nonEmpty)
          throw new IllegalStateException(
            s"streaming read of $table: the oldest retained snapshot $v carries " +
              s"unapplied tombstones over ${tombstoned.size} data file(s); a " +
              "file-level initial load would resurrect deleted rows — run " +
              "compact()/CALL system.compact first, then restart the stream")
        layout.collect { case f if keepInsert(f.path) =>
          (f.path, VersionedFilePartition(abs(f.path), v, "insert"))
        }
      } else planCommit(v, abs).filter { case (rel, p) =>
        p.changeType != "insert" || keepInsert(rel)
      }
    }
    // VECTORIZED micro-batches, same all-or-nothing rule as the catalog
    // scans (Spark forbids mixing row and columnar partitions): every
    // partition must be an insert over a file physically containing all
    // required data columns, and the metadata columns (stamped from the
    // partition, served as constant "partition columns") must sit at the
    // TAIL of the projection. CDF delete rows and evolution gaps fall
    // back to the null-filling row decoder.
    val dataFields = schema.fields.filterNot(f => VersionedStreamMeta.names(f.name))
    val firstMeta = schema.fields.indexWhere(f => VersionedStreamMeta.names(f.name))
    val metaSuffix = firstMeta < 0 ||
      schema.fields.drop(firstMeta).forall(f => VersionedStreamMeta.names(f.name))
    val columnar = dataFields.nonEmpty && metaSuffix &&
      parts.forall(_._2.changeType == "insert") && {
        val spark = org.apache.spark.sql.SparkSession.active
        // COMPATIBLE (not exact): widened tables stream columnar too —
        // the explicit-schema reader promotes narrow generations natively
        // hinted: the persisted schema= header serves post-upgrade
        // commits with zero footer I/O; a commit outside the head chain
        // (streamed historical version) falls back to the cached footer
        parts.map(_._1).distinct.forall(rel =>
          GraftVectorization.schemaCompatible(
            org.apache.spark.sql.types.StructType(dataFields),
            VersionedTable.commitSchemaHinted(spark, table, None, rel)))
      }
    parts.map { case (_, p) =>
      (if (columnar) p.copy(columnar = true) else p): InputPartition
    }.toArray
  }

  private def planCommit(
      v: Long, abs: String => String): Seq[(String, VersionedFilePartition)] = {
    val (freshData, freshDeletes, isOverwrite) =
      VersionedTable.commitClassFiles(table, v)
    if (isOverwrite)
      throw new IllegalStateException(
        s"streaming read of $table hit OVERWRITE commit $v — incremental " +
          "consumption across a replaced snapshot is undefined; restart " +
          "the stream from the overwrite as a fresh initial load")
    if (freshDeletes.nonEmpty && !ignoreDeletes && !changeFeed)
      throw new IllegalStateException(
        s"streaming read of $table hit DELETE commit $v; set " +
          "ignoreDeletes=true to skip tombstone commits, or " +
          "readChangeFeed=true to consume them as delete rows")
    val inserts = freshData.map(rel =>
      (rel, VersionedFilePartition(abs(rel), v, "insert")))
    // change-feed mode: EQUALITY tombstone files become key-only DELETE
    // rows (the reader nulls every column a tombstone file doesn't
    // carry); a POSITIONAL deletion vector names row positions, not
    // keys, so its deleted rows are RECONSTRUCTED IN FULL — one
    // partition per referenced data file, the reader emitting exactly
    // the doomed ordinals (same per-executor bitmap the batch MOR scan
    // probes). The driver touches file NAMES only (one distinct-_file
    // job per vector, memoized for the stream's lifetime).
    val deletes =
      if (changeFeed)
        freshDeletes.flatMap { rel =>
          if (VersionedTable.isPosDeleteFile(rel))
            posReferencedFiles(v, rel).map(dataRel =>
              (dataRel, VersionedFilePartition(abs(dataRel), v, "delete",
                posFile = Some(abs(rel)))))
          else
            Seq((rel, VersionedFilePartition(abs(rel), v, "delete")))
        }
      else Seq.empty
    inserts ++ deletes
  }

  // posdel rel path -> the data files (rel) its vector references, at
  // the vector's own commit version; memoized — vectors are immutable
  private val posRefsCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()
  private def posReferencedFiles(v: Long, posRel: String): Seq[String] =
    posRefsCache.computeIfAbsent(posRel, { _ =>
      val spark = org.apache.spark.sql.SparkSession.active
      val refKeys = spark.read
        .parquet(java.nio.file.Paths.get(table, posRel).toString)
        .select("_file").distinct().collect().map(_.getString(0)).toSet
      VersionedTable.select(table, Some(v), Prune.none).map(_.path)
        .filter(rel => refKeys.contains(VersionedTable.dvKeyOf(rel)))
    })

  override def createReaderFactory(): PartitionReaderFactory =
    new VersionedFileReaderFactory(schema)

  override def toString: String = s"graft-table-stream($table)"
}

case class VersionedFilePartition(
    file: String, commitVersion: Long, changeType: String = "insert",
    columnar: Boolean = false,
    // change-feed reconstruction over a POSITIONAL vector: `file` is the
    // referenced DATA file and this is the vector — the reader emits
    // exactly the doomed ordinals as full delete rows
    posFile: Option[String] = None)
    extends InputPartition

/** The stream's metadata column names — stamped from the partition, not
  * decoded from the file; the vectorized reader serves them as constant
  * "partition columns" appended after the file columns.
  */
private[sources] object VersionedStreamMeta {
  val names: Set[String] = Set("_commit_version", "_change_type")
}

class VersionedFileReaderFactory(schema: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new VersionedFileReader(
      partition.asInstanceOf[VersionedFilePartition], schema)
  override def supportColumnarReads(partition: InputPartition): Boolean =
    partition.asInstanceOf[VersionedFilePartition].columnar
  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new VersionedFileVectorReader(
      partition.asInstanceOf[VersionedFilePartition], schema)
}

/** VECTORIZED stream partition reader: Spark's columnar parquet decoder
  * over one immutable data file, with the stream's metadata columns
  * (`_commit_version`, `_change_type`) served as constant partition
  * columns via `initBatch` — micro-batch decode at scan speed instead of
  * row-at-a-time Group assembly. Planned only when every partition of
  * the batch qualifies (see `planInputPartitions`); rebase modes match
  * the row decoder's plain arithmetic, so the two paths are
  * value-identical.
  */
class VersionedFileVectorReader(part: VersionedFilePartition, schema: StructType)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  private val dataFields =
    schema.fields.filterNot(f => VersionedStreamMeta.names(f.name))
  private val metaFields =
    schema.fields.filter(f => VersionedStreamMeta.names(f.name))
  private val reader =
    new org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC", false, 4096)
  locally {
    // explicit-schema initialize, exactly like the batch catalog reader:
    // the name-list overload would infer narrow types from the footer,
    // so a stream over a TYPE-WIDENED table would serve narrow vectors
    // under the wide schema — here the reader's updaters promote
    // INT32→LONG / FLOAT→DOUBLE natively instead
    import org.apache.spark.sql.internal.SQLConf
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, false)
    conf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, false)
    conf.setBoolean(SQLConf.CASE_SENSITIVE.key, false)
    conf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key, true)
    conf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, false)
    conf.set("org.apache.spark.sql.parquet.row.requested_schema",
      StructType(dataFields).json)
    conf.set("parquet.read.support.class",
      "org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport")
    val p = new org.apache.hadoop.fs.Path(part.file)
    val len = p.getFileSystem(conf).getFileStatus(p).getLen
    val split =
      new org.apache.hadoop.mapred.FileSplit(p, 0, len, Array.empty[String])
    reader.initialize(split,
      new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
        conf, new org.apache.hadoop.mapreduce.TaskAttemptID()))
  }
  reader.initBatch(StructType(metaFields),
    new GenericInternalRow(metaFields.map(_.name match {
      case "_commit_version" => part.commitVersion: Any
      case _                 => UTF8String.fromString(part.changeType): Any
    })))
  reader.enableReturningBatches()

  override def next(): Boolean = reader.nextBatch()
  override def get(): org.apache.spark.sql.vectorized.ColumnarBatch =
    reader.resultBatch()
  override def close(): Unit = reader.close()
}

/** Reads one immutable data file with parquet's Group API, projecting the
  * snapshot schema's fields by NAME (so the file's physical column order
  * never matters) and appending the partition's `_commit_version`.
  */
class VersionedFileReader(part: VersionedFilePartition, schema: StructType)
    extends PartitionReader[InternalRow] {
  import org.apache.parquet.example.data.Group

  private val fields = schema.fields // the PRUNED projection, in its order
  private val reader = org.apache.parquet.hadoop.ParquetReader
    .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
      new org.apache.hadoop.fs.Path(part.file))
    .build()
  private var current: Group = _

  // positional change-feed reconstruction: keep ONLY the doomed ordinals
  private val posBitmaps: Seq[PositionKeys.Bitmap] = part.posFile.toSeq
    .flatMap(p => PositionKeys.forFile(Seq(p),
      VersionedTable.dvKeyOf(part.file)))
  private var ordinal = -1L

  override def next(): Boolean =
    if (part.posFile.isEmpty) { current = reader.read(); current != null }
    else if (posBitmaps.isEmpty) false // vector never touched this file
    else {
      current = reader.read(); ordinal += 1
      while (current != null && !posBitmaps.exists(_.get(ordinal))) {
        current = reader.read(); ordinal += 1
      }
      current != null
    }

  override def get(): InternalRow = {
    val vals = new Array[Any](fields.length)
    var i = 0
    while (i < fields.length) {
      vals(i) = fields(i).name match {
        case "_commit_version" => part.commitVersion
        case "_change_type"    => UTF8String.fromString(part.changeType)
        case _                 => ParquetGroups.valueOf(current, fields(i))
      }
      i += 1
    }
    new GenericInternalRow(vals)
  }

  override def close(): Unit = reader.close()
}
