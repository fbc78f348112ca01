package org.apache.spark.sql

/** Bridge to `private[sql]` Spark internals the public API cannot reach.
  *
  * Motivation (the 100 TB bug this exists to kill): `Dataset.localCheckpoint`
  * truncates *lineage*, but the resulting `LogicalRDD` leaf deliberately
  * carries the origin plan's `Statistics` forward. In an iterative fixpoint
  * (connected components), each round's join estimate is a *product* of the
  * previous round's leaf stats, so the estimated `sizeInBytes` BigInt doubles
  * in digit count every round — after ~30 rounds the driver spends minutes
  * inside `BigInteger.multiply` under `SizeInBytesOnlyStatsPlanVisitor` and
  * planning livelocks (observed: a 512-vertex chain hung >20 min in stats
  * estimation while executors sat idle). Rebuilding the frame over the
  * already-checkpointed `RDD[InternalRow]` resets the leaf to
  * `defaultSizeInBytes` — constant per round — without copying data and
  * without the per-row deserialize/re-serialize map that the public
  * `createDataFrame(df.rdd, df.schema)` detour would add.
  */
object GraftSqlInternals {

  /** Wrap an already-resolved logical plan as a DataFrame. The public API
    * only builds plans through the DSL; a custom operator node (e.g.
    * [[graft.plans.AsOfJoinNode]]) needs this door to enter a Dataset.
    */
  def ofRows(spark: SparkSession, plan: catalyst.plans.logical.LogicalPlan): Dataset[Row] =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `localCheckpoint` + stats reset that also KEEPS the frame's physical
    * layout. With AQE on (the default), `AdaptiveSparkPlanExec` advertises
    * `UnknownPartitioning` — AQE may still re-plan — so Spark's own
    * checkpoint leaf stores Unknown and every downstream consumer of the
    * checkpointed frame re-shuffles data that is already correctly
    * partitioned. After EXECUTION (eager checkpoint) the final physical
    * plan is frozen, so its partitioning is real; this recovers it from
    * `finalPhysicalPlan`, rewrites its attributes onto the checkpoint
    * leaf's output ids, and rebuilds the leaf stats-free: only the
    * inherited `originStats`/`originConstraints` go, the per-round
    * compounding source the object doc describes.
    *
    * With `eager = false` the layout recovery is skipped (forcing
    * `finalPhysicalPlan` would materialize the frame, defeating the lazy
    * contract) and the behavior matches plain checkpoint + stats reset.
    */
  def localCheckpointStatsFree(df: Dataset[Row], eager: Boolean = true): Dataset[Row] = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    statsFreeLeaf(ds, ds.localCheckpoint(eager), recoverLayout = eager)
  }

  /** [[localCheckpointStatsFree]] with `eager = true` that also returns the
    * frame's row count. An eager checkpoint materializes the frame with one
    * job that counts every partition and drops the counts; this runs that
    * job itself and keeps them, so the count costs no job of its own.
    */
  def localCheckpointCounted(df: Dataset[Row]): (Dataset[Row], Long) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val cp = ds.localCheckpoint(eager = false)
    val rdd = cp.queryExecution.optimizedPlan.asInstanceOf[execution.LogicalRDD].rdd
    val rows = ds.sparkSession.sparkContext
      .runJob(rdd, org.apache.spark.util.Utils.getIteratorSize _).sum
    (statsFreeLeaf(ds, cp, recoverLayout = true), rows)
  }

  private def statsFreeLeaf(
      ds: classic.Dataset[Row],
      cp: classic.Dataset[Row],
      recoverLayout: Boolean): Dataset[Row] = {
    import catalyst.expressions.{Attribute, AttributeMap, Expression}
    import catalyst.plans.physical.{Partitioning, PartitioningCollection, UnknownPartitioning}
    val leaf = cp.queryExecution.optimizedPlan.asInstanceOf[execution.LogicalRDD]
    @annotation.tailrec
    def firstLeafPartitioning(p: Partitioning): Partitioning = p match {
      case c: PartitioningCollection => firstLeafPartitioning(c.partitionings.head)
      case other => other
    }
    val part: Partitioning =
      if (!recoverLayout) leaf.outputPartitioning
      else {
        val physical = ds.queryExecution.executedPlan match {
          case a: execution.adaptive.AdaptiveSparkPlanExec => a.finalPhysicalPlan
          case p => p
        }
        val assoc = AttributeMap(physical.output.zip(leaf.output))
        firstLeafPartitioning(physical.outputPartitioning) match {
          case e: Expression with Partitioning if e.references.forall(assoc.contains) =>
            e.transform { case a: Attribute => assoc(a) }.asInstanceOf[Partitioning]
          case e: Expression with Partitioning => UnknownPartitioning(e.numPartitions)
          case p => p // SinglePartition / RoundRobin / Unknown — attribute-free
        }
      }
    val statsFree = execution.LogicalRDD(
      leaf.output, leaf.rdd, part, leaf.outputOrdering, leaf.isStreaming)(ds.sparkSession)
    classic.Dataset.ofRows(ds.sparkSession, statsFree)
  }

  /** The physical rows of `df`'s executed plan. Unlike `df.rdd` there is no
    * conversion to external `Row`s: a string column stays the
    * `UTF8String` the plan produced. Rows may be reused by the iterator,
    * so a consumer copies what it keeps.
    */
  def internalRows(df: Dataset[Row]): org.apache.spark.rdd.RDD[catalyst.InternalRow] =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.toRdd

  /** `df` with a top global `Sort` run as a local one: the frame, the
    * sort's keys as columns of it, and the sort's ordering bound to a row
    * that holds those keys at positions `0 until keys.size`. Every
    * partition of the frame is sorted, so a merge of its partitions by
    * the ordering, equal keys taken from the lower partition first, gives
    * an order the global sort can give, without its sample job and its
    * range shuffle. A frame whose analyzed plan does not end in a global
    * `Sort` comes back as it is with no keys; the ordering then finds
    * every row equal and the same merge concatenates the partitions.
    */
  def localSort(df: Dataset[Row]): (Dataset[Row], Seq[Column], Ordering[catalyst.InternalRow]) = {
    import catalyst.expressions.{BoundReference, InterpretedOrdering}
    import catalyst.plans.logical.Sort
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val (local, order) = ds.queryExecution.analyzed match {
      case s @ Sort(order, true, _, _) =>
        (classic.Dataset.ofRows(ds.sparkSession, s.copy(global = false)), order)
      case _ => (df, Nil)
    }
    val bound = order.zipWithIndex.map { case (o, i) =>
      o.copy(child = BoundReference(i, o.dataType, o.nullable), sameOrderExpressions = Nil)
    }
    (local, order.map(o => classic.ExpressionUtils.column(o.child)), new InterpretedOrdering(bound))
  }

  /** The schema `spark.read.options(options).csv(path)` infers for one
    * CSV file with `header` on and `inferSchema` off, read on the driver
    * with no Spark job. It takes the steps of Spark's own inference: the
    * first line that is neither empty nor a comment (`CSVUtils
    * .readHeaderLine`), parsed by univocity with the reader's settings,
    * then `CSVUtils.makeSafeHeader` (empty names become `_c<i>`,
    * duplicates get their index appended), every column a nullable
    * string. A file with no such line gives the empty schema, as
    * inference does. A directory or a missing path throws, naming the
    * path.
    */
  def csvHeaderSchema(
      spark: SparkSession,
      path: String,
      options: Map[String, String]): types.StructType = {
    import catalyst.csv.CSVOptions
    import execution.datasources.csv.CSVUtils
    import types.{StringType, StructField, StructType}
    val session = spark.asInstanceOf[classic.SparkSession]
    val conf = session.sessionState.conf
    val csvOptions = new CSVOptions(options, conf.csvColumnPruning,
      conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
    val hadoopConf = session.sessionState.newHadoopConf()
    val file = new org.apache.hadoop.fs.Path(path)
    val status = file.getFileSystem(hadoopConf).getFileStatus(file)
    require(!status.isDirectory, s"expected one CSV file, but $path is a directory")
    CSVUtils.readHeaderLine(status.getPath, csvOptions, hadoopConf)
      .map(line => new com.univocity.parsers.csv.CsvParser(csvOptions.asParserSettings)
        .parseLine(line))
      .filter(_ != null)
      .fold(StructType(Nil)) { names =>
        StructType(CSVUtils.makeSafeHeader(names, conf.caseSensitiveAnalysis, csvOptions)
          .map(StructField(_, StringType)))
      }
  }

  /** Run `body` on the global pool under a copy of the calling thread's
    * SparkContext local properties (job group, job description, scheduler
    * pool) and with `spark` active. Pool threads inherit local properties
    * only once, from whichever thread created them, so without the copy a
    * job submitted from the pool can escape the caller's job group and
    * its cancellation.
    */
  def withCallerProperties[T](spark: SparkSession)(body: => T): scala.concurrent.Future[T] = {
    val sc = spark.sparkContext
    val props = org.apache.spark.util.Utils.cloneProperties(sc.getLocalProperties)
    val session = spark.asInstanceOf[classic.SparkSession]
    scala.concurrent.Future {
      val saved = sc.getLocalProperties
      sc.setLocalProperties(props)
      try session.withActive(body)
      finally sc.setLocalProperties(saved)
    }(scala.concurrent.ExecutionContext.global)
  }
}
