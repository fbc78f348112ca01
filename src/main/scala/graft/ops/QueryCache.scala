package graft.ops

import java.nio.file.{Files, Path}
import java.util.concurrent.{CompletableFuture, ConcurrentHashMap}
import java.util.concurrent.atomic.AtomicLong

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one owner of the operators' per-query caches and of their
  * pay-once fixture tables.
  */
private[graft] object QueryCache {

  /** `df` persisted at the default `persist()` level, for a frame the
    * returned plan reads more than once. `storageLevel` looks the plan up
    * in the session's CacheManager and is valid only for a live entry, so
    * a repeated call (bench iterations share the session cache) reuses
    * that entry instead of re-registering it, which logs "Asked to cache
    * already cached data".
    *
    * Release contract: the entry outlives the call, because the returned
    * plan reads it. Operators never unpersist it; the caller releases
    * every such entry between queries with
    * [[graft.SparkEntry.resetSessionState]].
    */
  def cached(df: DataFrame): DataFrame =
    if (df.storageLevel.isValid) df else df.persist()

  /** What a fixture build is handed: a tag unique in this JVM, for table
    * and view names, and the places it may write to.
    */
  final class Build private[QueryCache] (spark: SparkSession, val tag: String) {

    /** A fresh directory of this build's own under the per-JVM temp root. */
    lazy val dir: String = freshDir(tag)

    /** `<prefix>_<tag>`: the name of a new table in the session's `gtab`
      * SQL catalog ([[graft.sources.GraftCatalog]]). The catalog is
      * registered over one temp directory on the session's first call, so
      * every catalog-backed query shares one namespace.
      */
    def catalogTable(prefix: String): String = {
      catalogRoot(spark)
      s"${prefix}_$tag"
    }

    /** The storage path of catalog table `name`. */
    def catalogPath(name: String): String = s"${catalogRoot(spark)}/default/$name"
  }

  /** The fixture `build` makes from `inputs`, built once per session and
    * input set and reused by every later call.
    *
    * A fixture is the pay-once half of a layout strategy: a versioned
    * table, a catalog table, a bucketed warehouse or a sorted/z-ordered
    * copy. The strategy's point is that the ingest is paid once and every
    * later read uses the layout, so the bench's warmup iteration builds
    * the fixture and the timed iterations read it.
    *
    * The key is the session, `kind`, and for every input frame both its
    * canonicalized analyzed plan and its sorted `inputFiles`. Two reads of
    * one path share a fixture; a filtered frame, an in-memory frame with
    * other rows, or files rewritten under the same path build their own.
    * Names come from [[Build.tag]], so two sessions or two input sets
    * never clobber each other's tables.
    *
    * Concurrent callers of one key build once: the first builds, the
    * others wait for it. The build runs outside any lock, so it may ask
    * for other fixtures or the catalog root, but never for its own key:
    * it would wait for itself. A build that throws memoizes nothing, and
    * the next call builds again.
    *
    * Release contract: fixtures live until JVM exit.
    * [[graft.SparkEntry.resetSessionState]] does not drop them, so the
    * warm iterations of Bench, Verify and perfbench keep reading the
    * cold iteration's build. Every [[Build.dir]] and the catalog root sit
    * under one temp root, deleted by one shutdown hook; catalog metadata
    * dies with the session.
    */
  def fixture[T](kind: String, inputs: DataFrame*)(build: Build => T): T = {
    require(inputs.nonEmpty, s"fixture $kind needs at least one input frame")
    val spark = inputs.head.sparkSession
    val key = (spark, kind, inputs.map { df =>
      (df.queryExecution.analyzed.canonicalized, df.inputFiles.sorted.toSeq)
    })
    memoized(key)(build(new Build(spark, nextTag())))
  }

  private def catalogRoot(spark: SparkSession): String =
    memoized((spark, "catalog")) {
      val root = freshDir(nextTag())
      spark.conf.set("spark.sql.catalog.gtab", "graft.sources.GraftCatalog")
      spark.conf.set("spark.sql.catalog.gtab.root", root)
      root
    }

  private val memo = new ConcurrentHashMap[AnyRef, CompletableFuture[Any]]()
  private val tags = new AtomicLong()

  private def nextTag(): String = java.lang.Long.toHexString(tags.incrementAndGet())

  private def freshDir(name: String): String =
    Files.createDirectory(tempRoot.resolve(name)).toString

  @annotation.tailrec
  private def memoized[T](key: AnyRef)(build: => T): T = {
    val mine = new CompletableFuture[Any]()
    memo.putIfAbsent(key, mine) match {
      case null =>
        try {
          val value = build
          mine.complete(value)
          value
        } catch {
          case e: Throwable =>
            memo.remove(key, mine)
            mine.completeExceptionally(e)
            throw e
        }
      case theirs =>
        // a failed build was removed from the memo: build again
        Try(theirs.get()) match {
          case Success(value) => value.asInstanceOf[T]
          case Failure(_) => memoized(key)(build)
        }
    }
  }

  private lazy val tempRoot: Path = {
    val root = Files.createTempDirectory("graft_fixtures")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      if (Files.exists(root)) {
        val walk = Files.walk(root)
        try walk.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
        finally walk.close()
      }
    }))
    root
  }
}
