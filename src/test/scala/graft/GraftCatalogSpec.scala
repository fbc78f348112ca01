package graft

import graft.sources.VersionedTable
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, isnan, lit}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The SQL catalog over versioned tables: identifier→directory mapping,
  * VERSION AS OF time travel through Spark's native syntax, merge-on-read
  * tombstones applied inside the partition readers, zone-map file pruning
  * driven by pushed range filters (always residual ⇒ always exact), and
  * the read-only write contract.
  */
class GraftCatalogSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private lazy val root = {
    val d = SparkTestBase.tempDir("graft_catalog_root")
    spark.conf.set("spark.sql.catalog.gtest", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gtest.root", d.toString)
    d.toString
  }

  private def df(rows: (Long, String)*) = {
    val s = spark; import s.implicits._
    rows.toDF("k", "v")
  }

  test("SQL reads the head; VERSION AS OF replays an overwritten snapshot") {
    val t = s"$root/default/tt"
    VersionedTable.commit(df(1L -> "a", 2L -> "b"), t, append = false)
    VersionedTable.commit(df(9L -> "z"), t, append = false) // overwrite
    val head = spark.sql("SELECT k, v FROM gtest.default.tt ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(head == Seq(9L -> "z"))
    val v1 = spark.sql("SELECT k, v FROM gtest.default.tt VERSION AS OF 1 ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(v1 == Seq(1L -> "a", 2L -> "b"),
      "time travel through SQL must replay the pre-overwrite snapshot")
  }

  test("merge-on-read tombstones are applied in the readers; re-inserts escape") {
    val t = s"$root/default/mor"
    VersionedTable.commit(df((1L to 10L).map(k => k -> s"v$k"): _*), t, append = false)
    VersionedTable.deleteWhere(spark, t, col("k") % 2L === 0L, "k")
    VersionedTable.commit(df(4L -> "back"), t, append = true) // escapes the old tombstone
    val got = spark.sql("SELECT k, v FROM gtest.default.mor")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val expect = VersionedTable.read(spark, t)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == expect)
    assert(got.contains(4L -> "back") && !got.contains(4L -> "v4") &&
      !got.exists(p => p._1 % 2 == 0 && p._2.startsWith("v")))
  }

  test("positional deletion vectors stay VECTORIZED and exact; bucketed big deletes have a path") {
    val s = spark; import s.implicits._
    val t = s"$root/default/pdv"
    VersionedTable.commit(
      (1L to 4000L).map(k => (k, s"v$k")).toDF("k", "v")
        .repartitionByRange(4, col("k")),
      t, append = false, statsCols = Seq("k"))
    VersionedTable.deleteWherePositional(spark, t, col("k") % 3L === 0L)
    val q = spark.sql(
      "SELECT count(*) AS n, sum(k) AS sk FROM gtest.default.pdv")
    val r = q.collect()(0)
    val survivors = (1L to 4000L).filter(_ % 3L != 0L)
    assert(r.getLong(0) == survivors.size && r.getLong(1) == survivors.sum,
      s"positional skip must drop exactly the doomed rows: $r")
    // THE point of position vectors: the scan stays columnar (an equality
    // tombstone on a string-typed key would too, but a position vector
    // never even reads a key column)
    SparkTestBase.assertColumnarScan(q, "positional vectors must keep the scan vectorized")
    // selective point lookups stay exact with the row-group filter
    // disabled under the vector (correctness over pruning)
    val one = spark.sql("SELECT v FROM gtest.default.pdv WHERE k = 7")
      .collect().map(_.getString(0)).toSeq
    assert(one == Seq("v7"))
    assert(spark.sql("SELECT v FROM gtest.default.pdv WHERE k = 9")
      .collect().isEmpty, "a doomed row must not answer a point lookup")
    // bucketed table: an over-gate delete commits positionally and reads
    // correctly through the bucket-preserving scan
    val tb = s"$root/default/pdvb"
    VersionedTable.commitBucketed(
      (1L to 1000L).map(k => (k, s"v$k")).toDF("k", "v"), tb, "k", 4,
      append = false)
    VersionedTable.deleteWhere(spark, tb, col("k") > 100L, "k", maxKeys = 10L)
    val rb = spark.sql(
      "SELECT count(*) AS n, sum(k) AS sk FROM gtest.default.pdvb").collect()(0)
    assert(rb.getLong(0) == 100L && rb.getLong(1) == 5050L,
      s"bucketed positional delete must read correctly: $rb")
  }

  test("pushed range filters prune files from the zone maps; results stay exact") {
    val s = spark; import s.implicits._
    val t = s"$root/default/zm"
    VersionedTable.commit(
      (1L to 800L).map(k => (k, s"v$k")).toDF("k", "v")
        .repartitionByRange(8, col("k")),
      t, append = false, statsCols = Seq("k"))
    val q = spark.sql("SELECT k, v FROM gtest.default.zm WHERE k >= 100 AND k <= 150")
    val rows = q.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == (100L to 150L).map(k => (k, s"v$k")).toSet)
    // the scan's own description records kept/total files
    val desc = q.queryExecution.executedPlan.toString
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(desc)
      .getOrElse(fail(s"no graft-catalog scan in:\n$desc"))
    assert(m.group(2).toInt == 8 && m.group(1).toInt < 8,
      s"expected pruned scan, got files=${m.group(1)}/${m.group(2)}")
  }

  test("commit-level rollup prunes whole commits; per-file zones refine inside") {
    val s = spark; import s.implicits._
    val t = s"$root/default/zmmc"
    // the ingest shape: four append commits with disjoint key ranges,
    // four files each — a range predicate inside one commit must keep
    // at most that commit's files (the rollup excludes the other three
    // commits wholesale; per-file zones then refine within)
    (0 until 4).foreach { j =>
      VersionedTable.commit(
        (1L to 400L).map(k => (j * 400L + k, s"v$k")).toDF("k", "v")
          .repartitionByRange(4, col("k")),
        t, append = j > 0, statsCols = Seq("k"))
    }
    val q = spark.sql(
      "SELECT k FROM gtest.default.zmmc WHERE k BETWEEN 450 AND 520")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq == (450L to 520L),
      "rollup pruning must never change results")
    val desc = q.queryExecution.executedPlan.toString
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(desc)
      .getOrElse(fail(s"no graft-catalog scan in:\n$desc"))
    assert(m.group(2).toInt == 16 && m.group(1).toInt <= 2,
      s"one-commit predicate must plan within one commit: files=${
        m.group(1)}/${m.group(2)}")
  }

  test("pushed DECIMAL predicates prune files through unscaled zone maps") {
    val s = spark; import s.implicits._
    val t = s"$root/default/zmdec"
    // money-typed column clustered on write: zones record the UNSCALED
    // value (k + 0.25 at scale 2 → 100k + 25), and pushed decimal
    // literals convert to the same unit
    spark.sql(
      "CREATE TABLE gtest.default.zmdec (k BIGINT, amt DECIMAL(9, 2))")
    spark.sql(
      """INSERT INTO gtest.default.zmdec
        |SELECT id, CAST(id + 0.25 AS DECIMAL(9, 2))
        |FROM range(1, 801) DISTRIBUTE BY CAST(id / 100 AS INT)""".stripMargin)
    val q = spark.sql(
      "SELECT k, amt FROM gtest.default.zmdec " +
        "WHERE amt >= 100.25 AND amt <= 150.25")
    assert(q.collect().map(_.getLong(0)).toSet == (100L to 150L).toSet,
      "decimal-pruned scan must equal the plain filter")
    val desc = q.queryExecution.executedPlan.toString
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(desc)
      .getOrElse(fail(s"no graft-catalog scan in:\n$desc"))
    assert(m.group(2).toInt > 1 && m.group(1).toInt * 2 <= m.group(2).toInt,
      s"expected decimal pruning, got files=${m.group(1)}/${m.group(2)}")
    // an INEXACT literal (more fractional digits than the scale) pushes
    // no bound — conservative, never wrong
    val q2 = spark.sql(
      "SELECT count(*) FROM gtest.default.zmdec WHERE amt > 100.255")
    assert(q2.collect()(0).getLong(0) == 700L)
  }

  test("pushed STRING predicates prune files through byte-prefix zone maps") {
    val s = spark; import s.implicits._
    val t = s"$root/default/zmstr"
    // 30-byte keys: every zone bound is TRUNCATED (16-byte prefix for the
    // min, incremented prefix for the max), so this pins exactly the
    // truncation arithmetic, not the easy exact-bounds case
    def key(k: Long) = f"k$k%09d" + "x" * 20
    VersionedTable.commit(
      (1L to 800L).map(k => (key(k), k)).toDF("sk", "n")
        .repartitionByRange(8, col("sk")),
      t, append = false, statsCols = Seq("sk"))
    def prunePin(q: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val desc = q.queryExecution.executedPlan.toString
      val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(desc)
        .getOrElse(fail(s"no graft-catalog scan in:\n$desc"))
      (m.group(1).toInt, m.group(2).toInt)
    }
    // range predicate whose boundaries fall INSIDE the truncated region
    val q = spark.sql(
      "SELECT sk, n FROM gtest.default.zmstr " +
        "WHERE sk >= 'k000000100' AND sk <= 'k000000150zzz'")
    assert(q.collect().map(_.getLong(1)).toSet == (100L to 150L).toSet,
      "string-pruned scan must equal the plain filter")
    val (kept, total) = prunePin(q)
    assert(total == 8 && kept < 8, s"expected pruning, got files=$kept/$total")
    // LIKE prefix (StringStartsWith → [prefix, incremented-prefix])
    val q2 = spark.sql(
      "SELECT n FROM gtest.default.zmstr WHERE sk LIKE 'k0000003%'")
    assert(q2.collect().map(_.getLong(0)).toSet == (300L to 399L).toSet)
    assert(prunePin(q2)._1 < 8, "LIKE prefix must prune too")
    // equality on a value that exists: exactly its file(s) survive
    val q3 = spark.sql(
      s"SELECT n FROM gtest.default.zmstr WHERE sk = '${key(555L)}'")
    assert(q3.collect().map(_.getLong(0)).toSeq == Seq(555L))
    assert(prunePin(q3)._1 <= 2)
    // DELETE FROM with a string predicate: candidates pre-pruned by the
    // string zones, result exact (complement survives)
    // key(700) extends the literal ('k000000700xxx…' > 'k000000700'),
    // so the delete takes 700 too — bytewise semantics, pinned here
    spark.sql("DELETE FROM gtest.default.zmstr WHERE sk > 'k000000700'")
    val left = spark.sql("SELECT n FROM gtest.default.zmstr")
      .collect().map(_.getLong(0)).toSet
    assert(left == (1L to 699L).toSet,
      "string-bounded COW delete must drop exactly the matching keys")
  }

  test("TIMESTAMP AS OF resolves through monotonized commit wall-times") {
    val t = s"$root/default/ts"
    VersionedTable.commit(df(1L -> "a"), t, append = false)
    val between = System.currentTimeMillis()
    Thread.sleep(15) // ensure v2's wall-time is strictly later
    VersionedTable.commit(df(2L -> "b"), t, append = true)
    // programmatic resolution
    assert(VersionedTable.versionAsOfTimestamp(t, between) == 1L)
    assert(VersionedTable.versionAsOfTimestamp(t, System.currentTimeMillis()) == 2L)
    intercept[IllegalArgumentException] {
      VersionedTable.versionAsOfTimestamp(t, 1000L) // before the table existed
    }
    // SQL syntax: epoch millis → a TIMESTAMP literal in UTC (session TZ)
    val lit = java.time.Instant.ofEpochMilli(between).toString
      .replace("T", " ").stripSuffix("Z")
    val rows = spark.sql(
      s"SELECT k FROM gtest.default.ts TIMESTAMP AS OF '$lit'")
      .collect().map(_.getLong(0)).toSet
    assert(rows == Set(1L), s"TIMESTAMP AS OF '$lit' must see only v1, got $rows")
  }

  test("the catalog lists manifest directories and refuses RENAME loudly") {
    val ids = spark.sql("SHOW TABLES IN gtest.default").collect()
      .map(_.getString(1)).toSet
    assert(Set("tt", "mor", "zm").subsetOf(ids), s"listed: $ids")
    // RENAME stays refused: readers pin tables by path
    val ex = intercept[Exception] {
      spark.sql("ALTER TABLE gtest.default.tt RENAME TO gtest.default.tt2")
    }
    assert(ex.getMessage.contains("RENAME") ||
      ex.getMessage.toLowerCase.contains("does not support"),
      s"unexpected RENAME error: ${ex.getMessage}")
  }

  test("INSERT INTO appends a commit; INSERT OVERWRITE replaces the head; both time-travelable") {
    val t = s"$root/default/ins"
    VersionedTable.commit(df(1L -> "a"), t, append = false)
    spark.sql("INSERT INTO gtest.default.ins VALUES (2, 'b'), (3, 'c')")
    assert(VersionedTable.versions(t) == Seq(1L, 2L),
      "INSERT INTO must publish exactly one new version")
    val head = spark.sql("SELECT k, v FROM gtest.default.ins ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(head == Seq(1L -> "a", 2L -> "b", 3L -> "c"))
    spark.sql("INSERT OVERWRITE gtest.default.ins VALUES (9, 'z')")
    assert(spark.sql("SELECT k FROM gtest.default.ins").collect()
      .map(_.getLong(0)).toSeq == Seq(9L))
    // previous snapshots still replay: SQL writes are ordinary commits
    assert(spark.sql("SELECT k FROM gtest.default.ins VERSION AS OF 2 ORDER BY k")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // and no staging residue is left behind
    import scala.jdk.CollectionConverters._
    val dirs = java.nio.file.Files.list(java.nio.file.Paths.get(t, "data"))
      .iterator.asScala.map(_.getFileName.toString).toSeq
    assert(!dirs.exists(_.startsWith("_stg_")), s"staging residue: $dirs")
  }

  test("$history metadata table serves the commit log as a driver-local scan") {
    val t = s"$root/default/hist"
    VersionedTable.commit(df(1L -> "a"), t, append = false)
    spark.sql("INSERT INTO gtest.default.hist VALUES (2, 'b')")
    val h = spark.sql(
      "SELECT version, operation, n_fresh_rows FROM gtest.default.`hist$history` ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(h == Seq((1L, "create", 1L), (2L, "append", 1L)), s"history: $h")
    // commit wall-times are present and non-decreasing
    val ts = spark.sql(
      "SELECT commit_ts_millis FROM gtest.default.`hist$history` ORDER BY version")
      .collect().map(_.getLong(0)).toSeq
    assert(ts.forall(_ > 0L) && ts == ts.sorted)
    // the scan is driver-local: no exchange, no file scan in the plan
    val p = spark.sql("SELECT * FROM gtest.default.`hist$history`")
      .queryExecution.executedPlan.toString
    assert(p.contains("LocalTableScan") || p.contains("graft-history"), p)
  }

  test("timestamp columns round-trip: Spark-written, SQL-inserted, and streamed") {
    val t = s"$root/default/tev"
    // v1: committed by Spark's own parquet writer (whatever encoding the
    // session default produces — the decoder must take it as-is)
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select("event_id", "ts", "user_id", "event_type").limit(50)
    VersionedTable.commit(events, t, append = false)
    // v2: appended through SQL — the Group-API writer's INT64-micros form
    spark.sql(
      """INSERT INTO gtest.default.tev
        |VALUES (CAST(-1 AS BIGINT), TIMESTAMP_NTZ'2024-03-01 12:30:00',
        |        CAST(7 AS BIGINT), 'synthetic')""".stripMargin)
    val viaCatalog = spark.sql("SELECT event_id, ts FROM gtest.default.tev")
      .collect().map(r => (r.getLong(0), r.get(1).toString)).toSet
    val viaRead = VersionedTable.read(spark, t)
      .selectExpr("event_id", "ts").collect()
      .map(r => (r.getLong(0), r.get(1).toString)).toSet
    assert(viaCatalog == viaRead,
      "the catalog scan must agree with VersionedTable.read")
    assert(viaCatalog.exists(_._1 == -1L))
    // v3: appended by a Structured Streaming foreachBatch sink keyed on
    // the batch id; the catalog decoder must take its encoding too
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.time.LocalDateTime, Long, String)]
    val q = input.toDF().toDF("event_id", "ts", "user_id", "event_type").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
        VersionedTable.commitIfAbsent(df, t, append = true, txnId = s"tev-$batchId")
        ()
      }
      .option("checkpointLocation", s"$root/tev_cp").start()
    try {
      input.addData(Seq((-2L, java.time.LocalDateTime.of(2024, 3, 2, 8, 15, 30), 9L, "streamed")))
      q.processAllAvailable()
    } finally q.stop()
    val streamedViaCatalog = spark.sql("SELECT event_id, ts FROM gtest.default.tev")
      .collect().map(r => (r.getLong(0), r.get(1).toString)).toSet
    val streamedViaRead = VersionedTable.read(spark, t)
      .selectExpr("event_id", "ts").collect()
      .map(r => (r.getLong(0), r.get(1).toString)).toSet
    assert(streamedViaCatalog == streamedViaRead)
    assert(streamedViaCatalog == viaRead + (-2L -> "2024-03-02T08:15:30"))
  }

  test("SQL INSERT is gated by CHECK constraints, atomically") {
    val t = s"$root/default/ck"
    VersionedTable.commit(df(1L -> "a"), t, append = false)
    VersionedTable.addCheckConstraint(spark, t, "pos", "k > 0")
    val ex = intercept[Exception] {
      spark.sql("INSERT INTO gtest.default.ck VALUES (-4, 'bad'), (5, 'ok')")
    }
    assert(ex.getMessage.contains("pos") ||
      Option(ex.getCause).exists(_.getMessage.contains("pos")),
      s"constraint not surfaced: ${ex.getMessage}")
    assert(VersionedTable.versions(t) == Seq(1L), "rejected INSERT must not version")
    assert(spark.sql("SELECT count(*) FROM gtest.default.ck").collect()(0).getLong(0) == 1L)
  }

  test("SQL DELETE FROM rewrites only touched files through a replace commit") {
    val s = spark; import s.implicits._
    val t = s"$root/default/del"
    VersionedTable.commit(
      (1L to 800L).map(k => (k, s"v$k")).toDF("k", "v")
        .repartitionByRange(8, col("k")),
      t, append = false, statsCols = Seq("k"))
    val filesBefore = VersionedTable.read(spark, t).inputFiles.toSet
    spark.sql("DELETE FROM gtest.default.del WHERE k >= 100 AND k <= 150")
    val got = spark.sql("SELECT k FROM gtest.default.del")
      .collect().map(_.getLong(0)).toSet
    assert(got == ((1L to 99L) ++ (151L to 800L)).toSet)
    // the pushed range bounds pre-pruned candidates: most files carried
    val filesAfter = VersionedTable.read(spark, t).inputFiles.toSet
    assert(filesAfter.intersect(filesBefore).size >= 6,
      "SQL DELETE must not rewrite files outside the predicate's range")
    val ops = VersionedTable.history(spark, t)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ops(2L) == "replace")
    // pre-delete snapshot stays time-travelable
    assert(spark.sql(
      "SELECT count(*) AS n FROM gtest.default.del VERSION AS OF 1")
      .collect()(0).getLong(0) == 800L)
  }

  test("SQL UPDATE rewrites only candidate files through a replace commit") {
    val s = spark; import s.implicits._
    val t = s"$root/default/up"
    VersionedTable.commit(
      (1L to 800L).map(k => (k, k * 10L)).toDF("k", "amt")
        .repartitionByRange(8, col("k")),
      t, append = false, statsCols = Seq("k"))
    val filesBefore = VersionedTable.read(spark, t).inputFiles.toSet
    spark.sql(
      "UPDATE gtest.default.up SET amt = amt + 1 WHERE k >= 100 AND k <= 150")
    val got = spark.sql("SELECT k, amt FROM gtest.default.up")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = (1L to 800L).map(k =>
      (k, if (k >= 100L && k <= 150L) k * 10L + 1L else k * 10L)).toSet
    assert(got == expect)
    // zone-map bounds kept most files out of the rewrite
    val filesAfter = VersionedTable.read(spark, t).inputFiles.toSet
    assert(filesAfter.intersect(filesBefore).size >= 6,
      "UPDATE must not rewrite files outside the condition's range")
    val ops = VersionedTable.history(spark, t)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ops(2L) == "replace")
    assert(spark.sql(
      "SELECT sum(amt) AS s FROM gtest.default.up VERSION AS OF 1")
      .collect()(0).getLong(0) == (1L to 800L).map(_ * 10L).sum,
      "pre-update snapshot must survive")
  }

  test("DELETE with an untranslatable condition falls back to the row-level rewrite") {
    val s = spark; import s.implicits._
    val t = s"$root/default/dm"
    VersionedTable.commit(
      (1L to 100L).map(k => (k, s"v$k")).toDF("k", "v"), t, append = false)
    // `k % 2 = 0` has no source-filter form: SupportsDelete declines and
    // Spark reroutes through the group-based row-level operation
    spark.sql("DELETE FROM gtest.default.dm WHERE k % 2 = 0")
    assert(spark.sql("SELECT k FROM gtest.default.dm")
      .collect().map(_.getLong(0)).toSet == (1L to 99L by 2).toSet)
    assert(spark.sql("SELECT count(*) FROM gtest.default.dm VERSION AS OF 1")
      .collect()(0).getLong(0) == 100L)
  }

  test("row-level rewrites read every row group of a candidate file") {
    val s = spark; import s.implicits._
    // one sorted file of several row groups: a predicate on its lowest
    // keys matches rows in the first row group only, so a rewrite that
    // skipped row groups by the pushed bounds would drop the rest
    def oneFileOfRowGroups(name: String): String = {
      val t = s"$root/default/$name"
      val prior = spark.conf.getOption("parquet.block.size")
      spark.conf.set("parquet.block.size", "65536")
      try VersionedTable.commit(
        (1L to 40000L).map(k => (k, k * 10L)).toDF("k", "amt")
          .coalesce(1).sortWithinPartitions("k"),
        t, append = false, statsCols = Seq("k"))
      finally prior.fold(spark.conf.unset("parquet.block.size"))(
        spark.conf.set("parquet.block.size", _))
      val files = VersionedTable.read(spark, t).inputFiles
      assert(files.length == 1, files.mkString(", "))
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(files.head),
          new org.apache.hadoop.conf.Configuration()))
      val groups = try rd.getFooter.getBlocks.asScala.map(_.getRowCount).toSeq
        finally rd.close()
      assert(groups.size >= 2 && groups.head > 200L, s"row groups: $groups")
      t
    }
    def rows(name: String) = spark.sql(s"SELECT k, amt FROM gtest.default.$name")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    oneFileOfRowGroups("rgup")
    spark.sql("UPDATE gtest.default.rgup SET amt = amt + 1 WHERE k <= 100")
    assert(rows("rgup") == (1L to 40000L).map(k =>
      (k, if (k <= 100L) k * 10L + 1L else k * 10L)).toSet)

    oneFileOfRowGroups("rgdel")
    // `k % 2 = 0` has no source-filter form, so the DELETE takes the
    // row-level rewrite; `k <= 200` still reaches its scan as a bound
    spark.sql("DELETE FROM gtest.default.rgdel WHERE k <= 200 AND k % 2 = 0")
    assert(rows("rgdel") == (1L to 40000L)
      .filterNot(k => k <= 200L && k % 2 == 0).map(k => (k, k * 10L)).toSet)
  }

  test("SQL MERGE INTO upserts through the row-level replace write") {
    val s = spark; import s.implicits._
    val t = s"$root/default/mg"
    VersionedTable.commit(
      (1L to 400L).map(k => (k, k * 10L)).toDF("k", "amt")
        .repartitionByRange(4, col("k")),
      t, append = false, statsCols = Seq("k"))
    // updates for 10 existing keys, inserts for 3 new ones
    ((391L to 400L).map(k => (k, -1L)) ++ Seq((401L, 7L), (402L, 7L), (403L, 7L)))
      .toDF("k", "amt").createOrReplaceTempView("mg_changes")
    spark.sql(
      """MERGE INTO gtest.default.mg t USING mg_changes c ON t.k = c.k
        |WHEN MATCHED THEN UPDATE SET amt = c.amt
        |WHEN NOT MATCHED THEN INSERT (k, amt) VALUES (c.k, c.amt)""".stripMargin)
    val got = spark.sql("SELECT k, amt FROM gtest.default.mg")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = ((1L to 390L).map(k => (k, k * 10L)) ++
      (391L to 400L).map(k => (k, -1L)) ++
      Seq((401L, 7L), (402L, 7L), (403L, 7L))).toSet
    assert(got == expect)
    assert(spark.sql("SELECT count(*) FROM gtest.default.mg VERSION AS OF 1")
      .collect()(0).getLong(0) == 400L)
  }

  test("$files metadata table inspects layout per snapshot, time-travelable") {
    val s = spark; import s.implicits._
    val t = s"$root/default/fl"
    VersionedTable.commit(
      (1L to 400L).map(k => (k, s"v$k")).toDF("k", "v")
        .repartitionByRange(4, col("k")),
      t, append = false, statsCols = Seq("k"))
    VersionedTable.deleteWhere(spark, t, col("k") <= 10L, "k")
    val rows = spark.sql(
      """SELECT path, commit_version, n_rows, n_applicable_tombstones, zone_map
        |FROM gtest.default.`fl$files` ORDER BY path""".stripMargin).collect()
    assert(rows.length == 4, s"expected 4 data files, got ${rows.length}")
    assert(rows.forall(_.getLong(1) == 1L))
    assert(rows.map(_.getLong(2)).sum == 400L, "footer counts must sum to rows")
    assert(rows.forall(_.getInt(3) == 1), "the v2 tombstone applies to every v1 file")
    assert(rows.forall(_.getString(4).matches("k=\\d+\\.\\.\\d+")),
      s"zone maps must render: ${rows.map(_.getString(4)).mkString(",")}")
    // VERSION AS OF 1: pre-delete layout has no applicable tombstones
    val v1 = spark.sql(
      "SELECT n_applicable_tombstones FROM gtest.default.`fl$files` VERSION AS OF 1")
      .collect()
    assert(v1.length == 4 && v1.forall(_.getInt(0) == 0))
  }

  test("CALL system procedures run table maintenance through SQL") {
    val s = spark; import s.implicits._
    val t = s"$root/default/mt"
    // three small unclustered commits + a tombstone: the OPTIMIZE scenario
    (0L to 2L).foreach { m =>
      VersionedTable.commit(
        (1L to 300L).filter(_ % 3 == m).map(k => (k, s"v$k")).toDF("k", "v")
          .repartition(4),
        t, append = m > 0)
    }
    VersionedTable.deleteWhere(spark, t, col("k") % 10L === 0L, "k")
    val before = VersionedTable.read(spark, t)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val newV = spark.sql(
      "CALL gtest.system.optimize('default.mt', 'k', 100)")
      .collect()(0).getLong(0)
    assert(newV == 5L)
    assert(VersionedTable.read(spark, t)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet == before,
      "optimize through CALL must change layout, never content")
    // vacuum the pre-optimize versions; the head stays exact
    val deleted = spark.sql("CALL gtest.system.vacuum('default.mt', 1)")
      .collect()(0).getInt(0)
    assert(deleted > 0)
    assert(VersionedTable.read(spark, t)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet == before)
    // orphan reclamation: a stale crashed-writer dir goes, data stays
    val junk = java.nio.file.Paths.get(t, "data", "c77_dead")
    java.nio.file.Files.createDirectories(junk)
    java.nio.file.Files.setLastModifiedTime(junk,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3600_000L))
    assert(spark.sql(
      "CALL gtest.system.vacuum_orphans('default.mt', 60000)")
      .collect()(0).getInt(0) == 1)
    assert(!java.nio.file.Files.exists(junk))
    // unknown procedures fail loudly
    val ex = intercept[Exception](spark.sql("CALL gtest.system.nope()"))
    assert(ex.getMessage.contains("nope") ||
      Option(ex.getCause).exists(_.getMessage.contains("nope")))
    // partial optimize through CALL: only the hot range rewrites
    val v2 = spark.sql(
      "CALL gtest.system.optimize_where('default.mt', 'k', 1, 50, 100)")
      .collect()(0).getLong(0)
    assert(v2 > newV)
    assert(VersionedTable.read(spark, t)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet == before,
      "optimize_where through CALL must change layout, never content")
    // metadata-only chain reset through SQL: checkpoint keeps the head
    // version, drops the carry pointer, changes no content
    spark.sql("INSERT INTO gtest.default.mt VALUES (999, 'z')")
    val ckv = spark.sql("CALL gtest.system.checkpoint('default.mt')")
      .collect()(0).getLong(0)
    assert(ckv == VersionedTable.versions(t).last,
      "checkpoint must keep the head version")
    assert(VersionedTable.read(spark, t)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      (before + (999L -> "z")),
      "checkpoint through CALL must change layout, never content")
    // and the full set is SQL-discoverable
    assert(spark.sql("SHOW PROCEDURES IN gtest.system")
      .collect().map(_.getString(3)).toSet ==
      Set("vacuum", "vacuum_time", "vacuum_orphans", "compact", "optimize",
        "optimize_where", "zorder", "restore", "clone", "auto_maintain",
        "set_partitioning", "checkpoint"))
  }

  test("CALL system.restore rolls the head back; CALL system.clone forks a table") {
    val t = s"$root/default/rst"
    VersionedTable.commit(df(1L -> "a", 2L -> "b"), t, append = false)
    spark.sql("INSERT INTO gtest.default.rst VALUES (3, 'c')")
    spark.sql("DELETE FROM gtest.default.rst WHERE k = 1")
    // clone the post-delete state before rolling back (version 0 = head)
    val cv = spark.sql(
      "CALL gtest.system.clone('default.rst', 'default.rst_fork', 0)")
      .collect()(0).getLong(0)
    assert(cv == 1L)
    val rv = spark.sql("CALL gtest.system.restore('default.rst', 2)")
      .collect()(0).getLong(0)
    assert(rv == 4L)
    val head = spark.sql("SELECT k, v FROM gtest.default.rst ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(head == Seq(1L -> "a", 2L -> "b", 3L -> "c"),
      "restore must serve the pre-delete snapshot as the new head")
    // the fork holds the post-delete state and diverges independently
    spark.sql("INSERT INTO gtest.default.rst_fork VALUES (7, 'x')")
    val fork = spark.sql("SELECT k, v FROM gtest.default.rst_fork ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(fork == Seq(2L -> "b", 3L -> "c", 7L -> "x"))
    val src = spark.sql("SELECT k, v FROM gtest.default.rst ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(src == head, "writes to the fork must not leak into the source")
    // the rollback itself is in the history as an ordinary commit
    val hist = spark.sql(
      "SELECT version, operation FROM gtest.default.rst.`$history` ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(hist.length == 4 && hist.last._1 == 4L)
  }

  test("ALTER TABLE RENAME/DROP COLUMN are metadata-only and survive the full SQL surface") {
    val s = spark; import s.implicits._
    val t = s"$root/default/rc"
    VersionedTable.commit(
      (1L to 400L).map(k => (k, s"v$k", k * 10L)).toDF("k", "v", "w")
        .repartitionByRange(4, col("k")),
      t, append = false, statsCols = Seq("k"))
    val mtimes = java.nio.file.Files.walk(java.nio.file.Path.of(t, "data"))
      .iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(p => p -> java.nio.file.Files.getLastModifiedTime(p)).toMap
    spark.sql("ALTER TABLE gtest.default.rc RENAME COLUMN k TO key_id")
    spark.sql("ALTER TABLE gtest.default.rc DROP COLUMN w")
    assert(java.nio.file.Files.walk(java.nio.file.Path.of(t, "data"))
      .iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(p => p -> java.nio.file.Files.getLastModifiedTime(p)).toMap == mtimes,
      "SQL RENAME/DROP COLUMN must not touch a data file")
    // schema serves logical names; the dropped column is gone
    assert(spark.table("gtest.default.rc").columns.toSeq == Seq("key_id", "v"))
    // pushed range filter on the RENAMED integral column still file-prunes
    val got = spark.sql(
      "SELECT key_id, v FROM gtest.default.rc WHERE key_id BETWEEN 1 AND 50")
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (1L to 50L))
    // INSERT under the new name; DML conditions in the new name
    spark.sql("INSERT INTO gtest.default.rc VALUES (401, 'x')")
    spark.sql("UPDATE gtest.default.rc SET v = 'upd' WHERE key_id = 2")
    spark.sql("DELETE FROM gtest.default.rc WHERE key_id >= 3 AND key_id <= 400")
    val rows = spark.sql("SELECT key_id, v FROM gtest.default.rc ORDER BY key_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq(1L -> "v1", 2L -> "upd", 401L -> "x"), rows.toString)
    // time travel serves the CURRENT names over the old files
    val v1 = spark.sql(
      "SELECT key_id, v FROM gtest.default.rc VERSION AS OF 1 WHERE key_id <= 3")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(v1 == Seq(1L -> "v1", 2L -> "v2", 3L -> "v3"))
    // manifest-arithmetic aggregate pushdown keys the physical stats
    val agg = spark.sql(
      "SELECT count(*), min(key_id), max(key_id) FROM gtest.default.rc")
      .collect()(0)
    assert((agg.getLong(0), agg.getLong(1), agg.getLong(2)) == ((3L, 1L, 401L)))
    // retired names stay retired through SQL ADD COLUMN too
    val ex = intercept[Exception](
      spark.sql("ALTER TABLE gtest.default.rc ADD COLUMN w BIGINT"))
    assert(ex.getMessage.contains("retired") || ex.getMessage.contains("in use"),
      ex.getMessage)
  }

  test("TRUNCATE TABLE empties the head; history and time travel survive") {
    val t = s"$root/default/tr"
    VersionedTable.commit(df(1L -> "a", 2L -> "b"), t, append = false)
    spark.sql("TRUNCATE TABLE gtest.default.tr")
    assert(spark.sql("SELECT count(*) AS n FROM gtest.default.tr")
      .collect()(0).getLong(0) == 0L, "truncated head must read as empty")
    assert(spark.sql(
      "SELECT count(*) AS n FROM gtest.default.tr VERSION AS OF 1")
      .collect()(0).getLong(0) == 2L, "pre-truncate snapshot must survive")
    // a truncated table accepts new commits and reads them back
    VersionedTable.commit(df(9L -> "z"), t, append = true)
    assert(spark.sql("SELECT k FROM gtest.default.tr")
      .collect().map(_.getLong(0)).toSeq == Seq(9L))
  }

  test("fractional predicates on a double column never prune (and stay exact)") {
    val s = spark; import s.implicits._
    val t = s"$root/default/dz"
    // zone maps on a DOUBLE column: cast(long) stats truncate toward zero,
    // so e.g. a file holding only 10.9 records [10, 10]
    VersionedTable.commit(
      (1L to 400L).map(k => (k, k + 0.9)).toDF("k", "price")
        .repartitionByRange(4, col("k")),
      t, append = false, statsCols = Seq("k", "price"))
    // the old longValue+1 pushdown would turn price > 10.5 into lo=11 and
    // prune the file whose truncated stats top out at 10 — losing 10.9
    val got = spark.sql(
      "SELECT k FROM gtest.default.dz WHERE price > 10.5 AND price < 12.5")
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(10L, 11L), s"expected rows for prices 10.9 and 11.9, got $got")
    // integral predicates on the long column still prune
    val q = spark.sql("SELECT k FROM gtest.default.dz WHERE k >= 50 AND k <= 60")
    assert(q.collect().map(_.getLong(0)).toSet == (50L to 60L).toSet)
    val m = "files=(\\d+)/(\\d+)".r
      .findFirstMatchIn(q.queryExecution.executedPlan.toString)
      .getOrElse(fail("no graft-catalog scan"))
    assert(m.group(2).toInt == 4 && m.group(1).toInt < 4,
      s"integral pruning regressed: files=${m.group(1)}/${m.group(2)}")
  }

  test("SQL scans vectorize: tombstone-free, under MOR, and across evolution gaps") {
    val s = spark; import s.implicits._
    val t = s"$root/default/vec"
    VersionedTable.commit(
      (1L to 500L).map(k => (k, s"v$k", k * 0.5)).toDF("k", "v", "x"), t, append = false)
    val q1 = spark.sql("SELECT k, v, x FROM gtest.default.vec")
    SparkTestBase.assertColumnarScan(q1,
      "tombstone-free scan must take the columnar path")
    assert(q1.collect().length == 500)
    // the catalog scan and the programmatic read agree value-for-value
    val viaCatalog = spark.sql("SELECT k, v, x FROM gtest.default.vec")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val viaApi = VersionedTable.read(spark, t)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(viaCatalog == viaApi)
    // MOR tombstones stay on the columnar path: the doomed-key filter
    // compacts each batch to its surviving rows in the reader
    VersionedTable.deleteWhere(spark, t, col("k") <= 10L, "k")
    val q2 = spark.sql("SELECT k FROM gtest.default.vec")
    SparkTestBase.assertColumnarScan(q2,
      "tombstoned snapshot must stay vectorized (batch-compacting filter)")
    assert(q2.collect().map(_.getLong(0)).toSet == (11L to 500L).toSet)
    // ...including when the projection does NOT hold the key column
    // (it rides the read and is dropped from the output batch)
    val q2b = spark.sql("SELECT v, x FROM gtest.default.vec")
    SparkTestBase.assertColumnarScan(q2b)
    assert(q2b.collect().map(_.getString(0)).toSet ==
      (11L to 500L).map(k => s"v$k").toSet)
    // the vectorized MOR decode and the programmatic anti-join agree
    assert(spark.sql("SELECT k, v, x FROM gtest.default.vec")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet ==
      VersionedTable.read(spark, t)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet)
    // compaction folds the tombstones in; still columnar
    VersionedTable.compact(spark, t)
    val q3 = spark.sql("SELECT k FROM gtest.default.vec")
    SparkTestBase.assertColumnarScan(q3,
      "compaction must keep vectorized scans")
    assert(q3.collect().map(_.getLong(0)).toSet == (11L to 500L).toSet)
    // an ADD COLUMN evolution gap null-fills COLUMNAR: the vectorized
    // reader serves the absent column as a constant null vector
    spark.sql("ALTER TABLE gtest.default.vec ADD COLUMN extra BIGINT")
    val q4 = spark.sql("SELECT k, extra FROM gtest.default.vec")
    SparkTestBase.assertColumnarScan(q4,
      "schema-gap scans stay columnar (missing-column null vectors)")
    assert(q4.collect().forall(_.isNullAt(1)))
    // projections covered by every commit's files still vectorize
    val q5 = spark.sql("SELECT k, v FROM gtest.default.vec")
    assert(q5.collect().length == 490)
  }

  test("COUNT/MIN/MAX push down to manifest arithmetic; guards decline correctly") {
    val s = spark; import s.implicits._
    val t = s"$root/default/agg"
    VersionedTable.commit(
      (1L to 900L).map(k => (k, s"v$k", k * 0.5)).toDF("k", "v", "x")
        .repartitionByRange(3, col("k")),
      t, append = false, statsCols = Seq("k"))
    VersionedTable.commit(
      Seq((1000L, "z", 0.5)).toDF("k", "v", "x"), t, append = true,
      statsCols = Seq("k"))
    val q = spark.sql(
      "SELECT count(*) AS n, min(k) AS mn, max(k) AS mx FROM gtest.default.agg")
    assert(q.queryExecution.executedPlan.toString.contains("manifest-only"),
      s"expected a pushed manifest-arithmetic aggregate:\n${q.queryExecution.executedPlan}")
    val r = q.collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((901L, 1L, 1000L)))
    // a WHERE keeps every filter residual, so the aggregate stays above
    // an ordinary scan — and the result is still exact
    val qf = spark.sql("SELECT count(*) AS n FROM gtest.default.agg WHERE k > 100")
    assert(!qf.queryExecution.executedPlan.toString.contains("manifest-only"))
    assert(qf.collect()(0).getLong(0) == 801L) // 101..900 plus the 1000 row
    // MIN on a fractional column declines (truncated zone maps lie)
    val qd = spark.sql("SELECT min(x) AS m FROM gtest.default.agg")
    assert(!qd.queryExecution.executedPlan.toString.contains("manifest-only"))
    assert(qd.collect()(0).getDouble(0) == 0.5)
    // MOR tombstones decline the pushdown; the row-path answer is exact
    VersionedTable.deleteWhere(spark, t, col("k") <= 100L, "k")
    val qt = spark.sql(
      "SELECT count(*) AS n, min(k) AS mn FROM gtest.default.agg")
    assert(!qt.queryExecution.executedPlan.toString.contains("manifest-only"))
    val rt = qt.collect()(0)
    assert((rt.getLong(0), rt.getLong(1)) == ((801L, 101L)))
    // time travel still pushes against the pinned pre-delete snapshot
    val qv = spark.sql(
      "SELECT count(*) AS n FROM gtest.default.agg VERSION AS OF 2")
    assert(qv.queryExecution.executedPlan.toString.contains("manifest-only"))
    assert(qv.collect()(0).getLong(0) == 901L)
    // TIMESTAMP and DECIMAL extremes answer from manifest arithmetic
    // too: micros zones ARE the internal timestamp value; decimal zones
    // reconstruct through the column's scale
    spark.sql(
      "CREATE TABLE gtest.default.aggtd (ts TIMESTAMP, amt DECIMAL(9, 2))")
    spark.sql(
      """INSERT INTO gtest.default.aggtd
        |SELECT timestamp_seconds(800000000 + id * 3600),
        |       CAST(id + 0.25 AS DECIMAL(9, 2))
        |FROM range(1, 101)""".stripMargin)
    val qtd = spark.sql(
      """SELECT unix_seconds(min(ts)) AS mn_s, unix_seconds(max(ts)) AS mx_s,
        |       CAST(min(amt) AS STRING) AS mn_a, CAST(max(amt) AS STRING) AS mx_a
        |FROM gtest.default.aggtd""".stripMargin)
    assert(qtd.queryExecution.executedPlan.toString.contains("manifest-only"),
      s"ts/decimal extremes must push:\n${qtd.queryExecution.executedPlan}")
    val rtd = qtd.collect()(0)
    assert((rtd.getLong(0), rtd.getLong(1), rtd.getString(2), rtd.getString(3)) ==
      ((800003600L, 800360000L, "1.25", "100.25")), rtd.toString)
  }

  test("per-column NDV/null/min-max statistics reach the planner without ANALYZE") {
    val s = spark; import s.implicits._
    val t = s"$root/default/colstats"
    // two commits, overlapping key populations: per-commit HLL sketches
    // must UNION, not sum (600 distinct keys total, 900 rows)
    VersionedTable.commit(
      (1L to 600L).map(k => (k, s"g${k % 7}", if (k % 5 == 0) null else s"v$k"))
        .toDF("k", "grp", "v"),
      t, append = false, statsCols = Seq("k", "grp"))
    VersionedTable.commit(
      (301L to 600L).map(k => (k, s"g${k % 7}", s"v$k")).toDF("k", "grp", "v"),
      t, append = true, statsCols = Seq("k", "grp"))
    val schema = VersionedTable.read(spark, t).schema
    val scan = new graft.sources.GraftTableScan(t, None, schema, graft.sources.Prune.none)
    val st = scan.estimateStatistics()
    assert(st.numRows().getAsLong == 900L)
    val cs = st.columnStats()
    import scala.jdk.CollectionConverters._
    val byName = cs.asScala.map { case (ref, v) => ref.describe() -> v }.toMap
    val kStats = byName.getOrElse("k", fail(s"no column stats for k: ${byName.keys}"))
    val ndv = kStats.distinctCount().getAsLong
    assert(math.abs(ndv - 600L) <= 30L, // HLL lgK=12: ~1.6% rse
      s"unioned NDV must approximate 600 distinct keys, got $ndv")
    assert(kStats.min().get() == java.lang.Long.valueOf(1L))
    assert(kStats.max().get() == java.lang.Long.valueOf(600L))
    assert(kStats.nullCount().getAsLong == 0L)
    val gStats = byName.getOrElse("grp", fail("no column stats for grp"))
    val gNdv = gStats.distinctCount().getAsLong
    assert(gNdv >= 6L && gNdv <= 8L, s"grp has 7 distinct values, got $gNdv")
    // string length stats: every grp value is 'gN' (2 bytes)
    assert(gStats.avgLen().getAsLong == 2L && gStats.maxLen().getAsLong == 2L)
    // v was never a stats column: no sketch -> no distinct count claimed
    byName.get("v").foreach(vs => assert(!vs.distinctCount().isPresent))
  }

  test("column statistics reach the Catalyst optimizer under CBO") {
    val s = spark; import s.implicits._
    val t = s"$root/default/cbo"
    VersionedTable.commit(
      (1L to 400L).map(k => (k, s"c${k % 5}")).toDF("k", "cat"),
      t, append = false, statsCols = Seq("k", "cat"))
    val before = spark.conf.getOption("spark.sql.cbo.enabled")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val plan = spark.sql("SELECT k, cat FROM gtest.default.cbo")
        .queryExecution.optimizedPlan
      val st = plan.stats
      assert(st.rowCount.contains(BigInt(400)),
        s"manifest row count must reach the optimizer, got ${st.rowCount}")
      val attrs = st.attributeStats.toSeq.map { case (a, cs) => a.name -> cs }.toMap
      val kCs = attrs.getOrElse("k", fail(s"no attribute stats for k: ${attrs.keys}"))
      assert(kCs.distinctCount.exists(d => (d - 400).abs <= 20),
        s"NDV must reach the optimizer, got ${kCs.distinctCount}")
      assert(kCs.min.contains(1L) && kCs.max.contains(400L))
      val cCs = attrs.getOrElse("cat", fail("no attribute stats for cat"))
      assert(cCs.distinctCount.exists(d => d >= 4 && d <= 6))
    } finally before match {
      case Some(v) => spark.conf.set("spark.sql.cbo.enabled", v)
      case None    => spark.conf.unset("spark.sql.cbo.enabled")
    }
  }

  test("graft.cluster-by: SQL INSERTs range-cluster and sort on write") {
    val s = spark; import s.implicits._
    val r = root // force catalog registration before any SQL
    spark.sql(
      """CREATE TABLE gtest.default.clw (k BIGINT, v STRING)
        |TBLPROPERTIES('graft.cluster-by'='k')""".stripMargin)
    // scrambled source: hash order, nothing presorted
    (1L to 800L).map(k => (k * 48271 % 800, s"v$k")).toDF("k", "v")
      .createOrReplaceTempView("clw_src")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false") // keep 32 range parts
    try spark.sql("INSERT INTO gtest.default.clw SELECT k, v FROM clw_src")
    finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    // the ordered write distribution left DISJOINT per-file key ranges:
    // a selective range read prunes most files at planning time
    val q = spark.sql(
      "SELECT k FROM gtest.default.clw WHERE k BETWEEN 100 AND 140")
    val desc = q.queryExecution.executedPlan.toString
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(desc)
      .getOrElse(fail(s"no graft-catalog scan in:\n$desc"))
    assert(m.group(2).toInt > 4, s"expected several files, got ${m.group(2)}")
    assert(m.group(1).toInt * 2 <= m.group(2).toInt,
      s"clustered-on-write must prune, got files=${m.group(1)}/${m.group(2)}")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to 800L).map(k => k * 48271 % 800).filter(k => k >= 100 && k <= 140).sorted)
    // the property is DESCRIBE-visible and the cluster column is pinned
    val p = new graft.sources.GraftCatalogTable(
      s"$root/default/clw", None, "gtest.default.clw").properties()
    assert(p.get("graft.cluster-by") == "k")
    val ex = intercept[Exception](spark.sql(
      "ALTER TABLE gtest.default.clw RENAME COLUMN k TO kk"))
    assert(ex.getMessage.contains("clusters on write"),
      s"renaming the cluster column must be refused: ${ex.getMessage}")
    // cross-feature: TopN pushdown composes — ORDER BY DESC LIMIT over
    // the freshly-inserted (never optimized) table plans only the files
    // that can hold the top n
    val qt = spark.sql(
      "SELECT k FROM gtest.default.clw ORDER BY k DESC LIMIT 5")
    val mt = "files=(\\d+)/(\\d+)".r
      .findFirstMatchIn(qt.queryExecution.executedPlan.toString)
      .getOrElse(fail("no scan"))
    assert(mt.group(1).toInt <= 2,
      s"TopN over clustered-on-write must open ~1 file, got files=${mt.group(1)}/${mt.group(2)}")
    val top = qt.collect().map(_.getLong(0)).toSeq
    val all = (1L to 800L).map(k => k * 48271 % 800).sorted.reverse.take(5)
    assert(top == all, s"TopN result exact: $top vs $all")
  }

  test("widened columns stay columnar under MOR tombstones; FLOAT->DOUBLE too") {
    val r = root
    // FLOAT -> DOUBLE widening, then a MOR delete keyed on the WIDENED
    // column committed pre-widen (float tombstone over float files) and
    // another post-widen (applies to pre-widen files through the
    // integral twin below) — the probe matrix must follow the FILE
    // primitive while reading the WIDE vector
    spark.sql("CREATE TABLE gtest.default.wide_f (k BIGINT, x FLOAT)")
    spark.sql(
      "INSERT INTO gtest.default.wide_f SELECT id, CAST(id AS FLOAT) / 2 FROM range(1, 101)")
    val t = s"$root/default/wide_f"
    // pre-widen float-keyed tombstone: dooms x = 5.0f (k = 10)
    VersionedTable.deleteWhere(spark, t, col("x") === 5.0f, "x")
    spark.sql("ALTER TABLE gtest.default.wide_f ALTER COLUMN x TYPE DOUBLE")
    spark.sql("INSERT INTO gtest.default.wide_f VALUES (200, 1e200)")
    val q = spark.sql("SELECT k, x FROM gtest.default.wide_f")
    SparkTestBase.assertColumnarScan(q, "widened + tombstoned must stay columnar")
    val got = q.collect().map(x => (x.getLong(0), x.getDouble(1))).toSet
    val want = (1L to 100L).filter(_ != 10L)
      .map(i => (i, i.toFloat / 2.0f.toFloat * 1.0)).map {
        case (i, _) => (i, (i.toFloat / 2).toDouble)
      }.toSet + ((200L, 1e200))
    assert(got == want, s"columnar widened MOR decode mismatch")
    // the columnar result equals the programmatic (anti-join) read
    val viaApi = VersionedTable.read(spark, t)
      .collect().map(x => (x.getAs[Long]("k"), x.getAs[Double]("x"))).toSet
    assert(got == viaApi)
    // INT->BIGINT widening with a tombstone on the widened column:
    // integral kinds unify across generations
    spark.sql("CREATE TABLE gtest.default.wide_i (k INT, v STRING)")
    spark.sql(
      "INSERT INTO gtest.default.wide_i SELECT CAST(id AS INT), concat('v', id) FROM range(1, 51)")
    val ti = s"$root/default/wide_i"
    spark.sql("ALTER TABLE gtest.default.wide_i ALTER COLUMN k TYPE BIGINT")
    spark.sql("INSERT INTO gtest.default.wide_i VALUES (6000000000, 'big')")
    // post-widen delete: BIGINT-keyed tombstone must doom rows in the
    // NARROW files too (KindIntegral spans INT32/INT64)
    VersionedTable.deleteWhere(spark, ti, col("k") % 10L === 3L, "k")
    val qi = spark.sql("SELECT k FROM gtest.default.wide_i")
    SparkTestBase.assertColumnarScan(qi)
    assert(qi.collect().map(_.getLong(0)).toSet ==
      ((1L to 50L).filter(_ % 10L != 3L).toSet + 6000000000L))
  }

  test("MOR deletes on DECIMAL-carrying tables stay columnar; values exact") {
    val s = spark; import s.implicits._
    val r = root
    // one equality rule for every key family: a row is doomed iff
    // VersionedTable.read's left-anti join drops it — with the key
    // projected, unprojected, and under count(*), every scan columnar
    def render(row: org.apache.spark.sql.Row): String = row.toSeq.map {
      case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
      case v => String.valueOf(v)
    }.mkString("|")
    def check(name: String, cols: String, all: Seq[String], ks: Seq[String]): Unit =
      for ((sql, want) <- Seq(
          s"SELECT $cols FROM gtest.default.$name" -> all,
          s"SELECT k FROM gtest.default.$name" -> ks,
          s"SELECT count(*) FROM gtest.default.$name" -> Seq(ks.size.toString))) {
        val q = spark.sql(sql)
        SparkTestBase.assertColumnarScan(q, sql)
        assert(q.collect().map(render).sorted.toSeq == want.sorted, sql)
      }
    def sameAsRead(name: String): Unit = {
      val read = VersionedTable.read(spark, s"$r/default/$name")
      check(name, read.columns.mkString(", "), read.collect().map(render).toSeq,
        read.select("k").collect().map(render).toSeq)
    }
    // a BIGINT key over a decimal column, then a positional vector on top
    spark.sql(
      "CREATE TABLE gtest.default.decmor (k BIGINT, amt DECIMAL(9, 2))")
    spark.sql(
      "INSERT INTO gtest.default.decmor " +
        "SELECT id, CAST(id + 0.25 AS DECIMAL(9, 2)) FROM range(1, 101)")
    val t = s"$root/default/decmor"
    VersionedTable.deleteWhere(spark, t, col("k") % 10L === 0L, "k")
    val got = spark.sql("SELECT k, amt FROM gtest.default.decmor").collect()
      .map(x => (x.getLong(0), x.getDecimal(1).toString)).toSet
    assert(got == (1L to 100L).filter(_ % 10L != 0L)
      .map(i => (i, s"$i.25")).toSet, got.toString)
    VersionedTable.deleteWherePositional(spark, t, col("k") % 7L === 0L)
    sameAsRead("decmor")
    // a positional vector alone: count(*) reads no column at all
    VersionedTable.commit((1L to 20L).map(k => (k, k * 2)).toDF("k", "v"),
      s"$r/default/posmor", append = false)
    VersionedTable.deleteWherePositional(spark, s"$r/default/posmor", col("k") % 3L === 0L)
    sameAsRead("posmor")
    // DECIMAL keys on INT32 (9 digits) and INT64 (18 digits): unscaled
    for ((name, p) <- Seq("deck9" -> 9, "deck18" -> 18)) {
      spark.sql(s"CREATE TABLE gtest.default.$name (k BIGINT, amt DECIMAL($p, 2))")
      spark.sql(s"INSERT INTO gtest.default.$name " +
        s"SELECT id, CAST(id * 0.4 AS DECIMAL($p, 2)) FROM range(1, 21)")
      VersionedTable.deleteWhere(spark, s"$r/default/$name", col("amt") < 6, "amt")
      sameAsRead(name)
    }
    // BINARY keys compare raw bytes: 0xFE and 0xFF are not UTF-8 and
    // must not collapse into one replacement character
    VersionedTable.commit(
      (1L to 20L).map(k => (k, Array((if (k >= 19) 0xEB + k else 0x60 + k).toByte)))
        .toDF("k", "b"), s"$r/default/binmor", append = false)
    VersionedTable.deleteWhere(spark, s"$r/default/binmor",
      col("b") === lit(Array(0xFE.toByte)) || col("k") <= 5L, "b")
    sameAsRead("binmor")
    // FLOAT widened to DOUBLE: a post-widen DOUBLE tombstone dooms a
    // narrow-file row and a wide one
    def widened(name: String, preWiden: Boolean): Unit = {
      spark.sql(s"CREATE TABLE gtest.default.$name (k BIGINT, x FLOAT)")
      spark.sql(s"INSERT INTO gtest.default.$name " +
        "SELECT id, CAST(id AS FLOAT) / 2 FROM range(1, 21)")
      val tw = s"$r/default/$name"
      if (preWiden) VersionedTable.deleteWhere(spark, tw, col("x") === 2.5f, "x")
      spark.sql(s"ALTER TABLE gtest.default.$name ALTER COLUMN x TYPE DOUBLE")
      spark.sql(s"INSERT INTO gtest.default.$name VALUES (100, 7.5), (101, 0.1)")
      VersionedTable.deleteWhere(spark, tw, col("x") === 7.5, "x")
    }
    widened("widepost", preWiden = false)
    sameAsRead("widepost")
    // ...and under a pre-widen FLOAT tombstone too: VersionedTable.read
    // anti-joins the FLOAT and the DOUBLE key files separately, and the
    // rows are spelled out as well: k = 5 (2.5) and 15, 100 (7.5) are doomed
    widened("widemor", preWiden = true)
    sameAsRead("widemor")
    val kept = (1 to 20).filterNot(Set(5, 15)) :+ 101
    check("widemor", "k, x",
      kept.map(k => s"$k|${if (k == 101) 0.1 else k / 2.0}"), kept.map(_.toString))
    // tombstones keyed on different columns each doom their own rows
    VersionedTable.commit(Seq(1L -> "v1", 2L -> "v2", 3L -> "v3").toDF("k", "x"),
      s"$r/default/multikey", append = false)
    VersionedTable.deleteWhere(spark, s"$r/default/multikey", col("k") === 1L, "k")
    VersionedTable.deleteWhere(spark, s"$r/default/multikey", col("x") === "v2", "x")
    assert(VersionedTable.read(spark, s"$r/default/multikey").select("k").collect()
      .map(_.getLong(0)).toSeq == Seq(3L))
    sameAsRead("multikey")
    // signed zeros and NaNs follow Spark's join-key normalization
    VersionedTable.commit(
      Seq(1L -> -0.0, 2L -> 0.0, 3L -> Double.NaN, 4L -> 1.5).toDF("k", "x"),
      s"$r/default/zeromor", append = false)
    VersionedTable.deleteWhere(spark, s"$r/default/zeromor",
      col("x") === 0.0 || isnan(col("x")), "x")
    sameAsRead("zeromor")
    assert(spark.sql("SELECT k FROM gtest.default.zeromor").collect()
      .map(_.getLong(0)).toSeq == Seq(4L))
  }

  test("DECIMAL lifecycle: SQL round-trip, same-scale precision widening, scale refusal") {
    val r = root
    spark.sql(
      "CREATE TABLE gtest.default.decs (k BIGINT, amt DECIMAL(9, 2))")
    spark.sql(
      "INSERT INTO gtest.default.decs " +
        "SELECT id, CAST(id + 0.25 AS DECIMAL(9, 2)) FROM range(1, 101)")
    // exact round-trip through the catalog writer/decoder pair
    val s0 = spark.sql("SELECT sum(amt) FROM gtest.default.decs")
      .collect()(0).getDecimal(0)
    assert(s0.compareTo(new java.math.BigDecimal("5075.00")) == 0, s"sum: $s0")
    // widen DECIMAL(9,2) -> DECIMAL(18,2): schema-only, zero rewrite
    spark.sql("ALTER TABLE gtest.default.decs ALTER COLUMN amt TYPE DECIMAL(18, 2)")
    spark.sql(
      "INSERT INTO gtest.default.decs VALUES (200, 12345678901234.56)")
    val rows = spark.sql(
      "SELECT k, CAST(amt AS STRING) FROM gtest.default.decs " +
        "WHERE k IN (7, 200) ORDER BY k").collect()
      .map(x => (x.getLong(0), x.getString(1))).toSeq
    assert(rows == Seq((7L, "7.25"), (200L, "12345678901234.56")),
      s"both generations must decode under DECIMAL(18,2): $rows")
    assert(spark.sql("SELECT count(*) FROM gtest.default.decs")
      .collect()(0).getLong(0) == 101L)
    // a SCALE change is not lossless: refused loudly
    val e = intercept[Exception](spark.sql(
      "ALTER TABLE gtest.default.decs ALTER COLUMN amt TYPE DECIMAL(18, 4)"))
    assert(e.getMessage.contains("lossless") ||
      e.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"), e.getMessage)
  }

  test("ALTER COLUMN TYPE widens INT->BIGINT through SQL; readers span generations") {
    val r = root
    spark.sql("CREATE TABLE gtest.default.wide_t (k INT, v STRING)")
    spark.sql(
      "INSERT INTO gtest.default.wide_t SELECT CAST(id AS INT), concat('v', id) FROM range(1, 6)")
    spark.sql("ALTER TABLE gtest.default.wide_t ALTER COLUMN k TYPE BIGINT")
    spark.sql(
      "INSERT INTO gtest.default.wide_t VALUES (5000000000, 'big')")
    val rows = spark.sql(
      "SELECT k, v FROM gtest.default.wide_t ORDER BY k").collect()
      .map(x => (x.getLong(0), x.getString(1))).toSeq
    assert(rows == (1L to 5L).map(i => (i, s"v$i")) :+ (5000000000L, "big"),
      "both physical generations must decode under the widened schema")
    // widened columns STAY COLUMNAR: the explicit-schema read declares
    // the wide type and Spark 4's vectorized reader promotes INT32→LONG
    // natively inside the batch load — no compaction tax
    SparkTestBase.assertColumnarScan(spark.sql("SELECT k FROM gtest.default.wide_t"),
      "widened scans must stay vectorized (native INT32->LONG promotion)")
    // zone-map pruning still works across generations (stats were
    // recorded as longs on both sides)
    val q = spark.sql(
      "SELECT k FROM gtest.default.wide_t WHERE k >= 5000000000")
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(5000000000L))
    // aggregate pushdown answers from manifest arithmetic across both
    val qa = spark.sql("SELECT min(k), max(k) FROM gtest.default.wide_t")
    assert(qa.queryExecution.executedPlan.toString.contains("manifest-only"))
    assert(qa.collect()(0).getLong(0) == 1L &&
      qa.collect()(0).getLong(1) == 5000000000L)
    // narrowing is refused loudly — Spark's analyzer rejects it before
    // the catalog even sees the change (NOT_SUPPORTED_CHANGE_COLUMN);
    // a non-widening change that DOES reach the catalog is refused by
    // widenColumn (pinned in VersionedTableSpec)
    val ex = intercept[Exception](spark.sql(
      "ALTER TABLE gtest.default.wide_t ALTER COLUMN k TYPE INT"))
    assert(ex.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN") ||
      ex.getMessage.contains("widen"), ex.getMessage)
  }

  test("commits record exact file bytes: $files size_bytes and planner sizeInBytes") {
    val t = s"$root/default/szb"
    VersionedTable.commit(df(1L -> "a", 2L -> "b"), t, append = false)
    VersionedTable.commit(df(3L -> "c"), t, append = true)
    val rows = spark.sql(
      "SELECT path, size_bytes FROM gtest.default.`szb$files`").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val p = java.nio.file.Paths.get(t, r.getString(0))
      assert(!r.isNullAt(1) && r.getLong(1) == java.nio.file.Files.size(p),
        s"recorded size must equal the file's bytes: ${r.getString(0)}")
    }
    // the planner consumes the EXACT recorded bytes, not a width estimate
    val expected = rows.map(_.getLong(1)).sum
    val st = spark.sql("SELECT k, v FROM gtest.default.szb")
      .queryExecution.optimizedPlan.stats
    assert(st.sizeInBytes == BigInt(expected),
      s"planner sizeInBytes ${st.sizeInBytes} must equal recorded bytes $expected")
  }

  test("CREATE TABLE PARTITIONED BY (col): identity partitioning prunes via clustering") {
    val s = spark; import s.implicits._
    val r = root // force catalog registration before any SQL
    spark.sql(
      "CREATE TABLE gtest.default.idp (k BIGINT, v STRING) PARTITIONED BY (k)")
    (1L to 800L).map(x => (x * 48271 % 800, s"v$x")).toDF("k", "v")
      .createOrReplaceTempView("idp_src")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try spark.sql("INSERT INTO gtest.default.idp SELECT k, v FROM idp_src")
    finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    // the declared identity transform is visible to DESCRIBE/SHOW
    val tbl = new graft.sources.GraftCatalogTable(
      s"$root/default/idp", None, "gtest.default.idp")
    assert(tbl.partitioning().map(_.toString).exists(_.contains("k")),
      s"identity transform must be reported: ${tbl.partitioning().mkString(",")}")
    assert(tbl.properties().get("graft.partition-by") == "k")
    // a partition predicate plans a strict file subset (delivered as
    // clustered-on-write + zone maps, no Hive directories)
    val q = spark.sql(
      "SELECT k FROM gtest.default.idp WHERE k BETWEEN 100 AND 140")
    val m = "files=(\\d+)/(\\d+)".r
      .findFirstMatchIn(q.queryExecution.executedPlan.toString)
      .getOrElse(fail("no graft-catalog scan"))
    assert(m.group(2).toInt > 4, s"expected several files, got ${m.group(2)}")
    assert(m.group(1).toInt * 2 <= m.group(2).toInt,
      s"identity partitioning must prune, got files=${m.group(1)}/${m.group(2)}")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to 800L).map(x => x * 48271 % 800).filter(k => k >= 100 && k <= 140).sorted)
    // a non-eligible transform is still refused loudly
    val ex = intercept[Exception](spark.sql(
      "CREATE TABLE gtest.default.idp_bad (k BIGINT) PARTITIONED BY (years(k))"))
    assert(ex.getMessage.contains("PARTITIONED BY"), ex.getMessage)
  }

  test("PARTITIONED BY (a, b): multi-column identity orders lexicographically, prunes the prefix") {
    val s = spark; import s.implicits._
    val r = root
    spark.sql(
      "CREATE TABLE gtest.default.idp2 (y BIGINT, m BIGINT, v BIGINT) " +
        "PARTITIONED BY (y, m)")
    // scrambled year/month grid — the write must do the ordering
    (1L to 960L).map(i => (2000L + (i * 48271) % 8, 1L + (i * 25903) % 12, i))
      .toDF("y", "m", "v").repartition(8, col("v"))
      .createOrReplaceTempView("idp2_src")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try spark.sql("INSERT INTO gtest.default.idp2 SELECT y, m, v FROM idp2_src")
    finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    val tbl = new graft.sources.GraftCatalogTable(
      s"$root/default/idp2", None, "gtest.default.idp2")
    assert(tbl.partitioning().length == 2,
      s"both identity transforms must report: ${tbl.partitioning().mkString(",")}")
    def files(sql: String): (Int, Int) = {
      val m0 = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(
        spark.sql(sql).queryExecution.executedPlan.toString)
        .getOrElse(fail("no graft-catalog scan"))
      (m0.group(1).toInt, m0.group(2).toInt)
    }
    val (k1, n1) = files("SELECT v FROM gtest.default.idp2 WHERE y = 2003")
    assert(n1 > 4 && k1 * 2 <= n1,
      s"the prefix (year) predicate must prune, got files=$k1/$n1")
    val (k2, _) = files(
      "SELECT v FROM gtest.default.idp2 WHERE y = 2003 AND m BETWEEN 2 AND 3")
    assert(k2 <= k1, s"the 2-D predicate must not prune less: $k2 vs $k1")
    assert(spark.sql(
      "SELECT v FROM gtest.default.idp2 WHERE y = 2003 AND m BETWEEN 2 AND 3")
      .collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to 960L).filter(i => 2000L + (i * 48271) % 8 == 2003L &&
        { val mm = 1L + (i * 25903) % 12; mm >= 2 && mm <= 3 }).sorted)
  }

  test("DOUBLE predicates prune files through sortable-bits zones, exactly") {
    val s = spark; import s.implicits._
    val t = s"$root/default/dblp"
    VersionedTable.commit(
      (1L to 8000L).map(k => (k, k + 0.25)).toDF("k", "amount")
        .repartitionByRange(8, col("amount")),
      t, append = false, statsCols = Seq("amount"))
    val q = spark.sql(
      "SELECT k FROM gtest.default.dblp " +
        "WHERE amount > 5000.25 AND amount <= 5500.25")
    val m = "files=(\\d+)/(\\d+)".r
      .findFirstMatchIn(q.queryExecution.executedPlan.toString)
      .getOrElse(fail("no graft-catalog scan"))
    assert(m.group(2).toInt >= 8, s"expected 8 files, got ${m.group(2)}")
    assert(m.group(1).toInt * 2 <= m.group(2).toInt,
      s"a double range must prune files, got files=${m.group(1)}/${m.group(2)}")
    // the STRICT lower bound is the exactness edge: 5000.25 itself is a
    // stored value and must be excluded by the query but never make the
    // pruning drop the file holding 5000.26.. (nextUp semantics)
    assert(q.collect().map(_.getLong(0)).sorted.toSeq == (5001L to 5500L),
      "bits-space pruning must be invisible to results")
    // equality on a stored double plans a strict subset too
    val q2 = spark.sql("SELECT k FROM gtest.default.dblp WHERE amount = 7777.25")
    val m2 = "files=(\\d+)/(\\d+)".r
      .findFirstMatchIn(q2.queryExecution.executedPlan.toString).get
    assert(m2.group(1).toInt * 2 <= m2.group(2).toInt)
    assert(q2.collect().map(_.getLong(0)).toSeq == Seq(7777L))
    // DOUBLE MIN/MAX answers from manifest arithmetic — bits zone edges
    // convert back to the EXACT extremes, zero data files opened
    val qa = spark.sql(
      "SELECT min(amount), max(amount), count(*) FROM gtest.default.dblp")
    assert(qa.queryExecution.executedPlan.toString.contains("graft-catalog-agg"),
      "double extremes must push down to manifest arithmetic")
    val ra = qa.collect()(0)
    assert(ra.getDouble(0) == 1.25 && ra.getDouble(1) == 8000.25 &&
      ra.getLong(2) == 8000L, ra.toString)
  }

  test("signed zero: ±0.0 predicates never prune the other sign's files") {
    val s = spark; import s.implicits._
    val t = s"$root/default/szero"
    // four single-file commits: all -0.0, all +0.0, positives, negatives
    // — the bits bijection separates the zeros (-1 vs 0), but Spark SQL
    // compares them EQUAL, so a zero predicate must keep both files
    def one(ks: Range, amt: Long => Double, append: Boolean): Unit =
      VersionedTable.commit(
        ks.map(k => (k.toLong, amt(k.toLong))).toDF("k", "amount").coalesce(1),
        t, append = append, statsCols = Seq("amount"))
    one(1 to 100, _ => -0.0d, append = false)
    one(101 to 200, _ => 0.0d, append = true)
    one(201 to 300, k => 5.5 + k, append = true)
    one(301 to 400, k => -5.5 - k, append = true)
    def ks(c: org.apache.spark.sql.Column): Set[Long] =
      VersionedTable.read(spark, t).filter(c)
        .collect().map(_.getAs[Long]("k")).toSet
    val zeros = (1L to 200L).toSet
    assert(ks(col("amount") === org.apache.spark.sql.functions.lit(0.0d)) == zeros,
      "= 0.0 must see the all--0.0 file")
    assert(ks(col("amount") === org.apache.spark.sql.functions.lit(-0.0d)) == zeros,
      "= -0.0 must see the all-+0.0 file")
    assert(ks(col("amount") >= org.apache.spark.sql.functions.lit(0.0d)) == zeros ++ (201L to 300L),
      ">= 0.0 must see the all--0.0 file")
    assert(ks(col("amount") <= org.apache.spark.sql.functions.lit(-0.0d)) == zeros ++ (301L to 400L),
      "<= -0.0 must see the all-+0.0 file")
    // strict comparisons exclude BOTH zeros and still prune
    assert(ks(col("amount") > org.apache.spark.sql.functions.lit(0.0d)) == (201L to 300L).toSet)
    assert(ks(col("amount") < org.apache.spark.sql.functions.lit(-0.0d)) == (301L to 400L).toSet)
    // the zero-widened equality must still prune the nonzero files
    val q = spark.sql(
      "SELECT k FROM gtest.default.szero WHERE amount = CAST(0.0 AS DOUBLE)")
    val m = "files=(\\d+)/(\\d+)".r
      .findFirstMatchIn(q.queryExecution.executedPlan.toString)
      .getOrElse(fail("no graft-catalog scan"))
    assert(m.group(2).toInt == 4 && m.group(1).toInt == 2,
      s"zero equality must keep exactly the two zero files, got " +
        s"files=${m.group(1)}/${m.group(2)}")
    assert(q.collect().map(_.getLong(0)).toSet == zeros)
  }

  test("FLOAT columns prune and answer extremes through the same bits zones") {
    val s = spark; import s.implicits._
    val t = s"$root/default/fltp"
    VersionedTable.commit(
      (1L to 8000L).map(k => (k, (k + 0.25).toFloat)).toDF("k", "amount")
        .repartitionByRange(8, col("amount")),
      t, append = false, statsCols = Seq("amount"))
    val q = spark.sql(
      "SELECT k FROM gtest.default.fltp " +
        "WHERE amount > CAST(5000.25 AS FLOAT) AND amount <= CAST(5500.25 AS FLOAT)")
    val m = "files=(\\d+)/(\\d+)".r
      .findFirstMatchIn(q.queryExecution.executedPlan.toString)
      .getOrElse(fail("no graft-catalog scan"))
    assert(m.group(1).toInt * 2 <= m.group(2).toInt,
      s"a float range must prune files, got files=${m.group(1)}/${m.group(2)}")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq == (5001L to 5500L),
      "float pruning must be invisible to results")
    val qa = spark.sql(
      "SELECT min(amount), max(amount), count(*) FROM gtest.default.fltp")
    assert(qa.queryExecution.executedPlan.toString.contains("graft-catalog-agg"),
      "float extremes must push down to manifest arithmetic")
    val ra = qa.collect()(0)
    assert(ra.getFloat(0) == 1.25f && ra.getFloat(1) == 8000.25f &&
      ra.getLong(2) == 8000L, ra.toString)
  }

  test("partition-transform EVOLUTION: set_partitioning re-declares; both generations prune") {
    val r = root
    spark.sql(
      "CREATE TABLE gtest.default.pevo (ts TIMESTAMP, v BIGINT) " +
        "PARTITIONED BY (days(ts))")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    def insert(from: Long, to: Long): Unit = spark.sql(
      s"""INSERT INTO gtest.default.pevo
         |SELECT timestamp_seconds(1704067200 + ((id * 48271) % 40) * 86400
         |  + id % 3600), id
         |FROM range($from, $to)""".stripMargin)
    try {
      insert(0, 800) // generation 1: days(ts)-clustered
      // evolve to hourly granularity — Iceberg's REPLACE PARTITION FIELD
      spark.sql("CALL gtest.system.set_partitioning('default.pevo', 'hours(ts)')")
      insert(800, 1600) // generation 2: hours(ts)-clustered
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    // the NEW transform is what DESCRIBE reports after evolution
    val parts = spark.sql("DESCRIBE TABLE EXTENDED gtest.default.pevo")
      .collect().map(_.toString).mkString("\n")
    assert(parts.contains("hours(ts)") && !parts.contains("days(ts)"),
      s"evolution must re-declare the reported transform:\n$parts")
    // ONE window predicate prunes BOTH generations per file — old files
    // keep their day-clustered zones, new files their hour-clustered ones
    val q = spark.sql(
      "SELECT v FROM gtest.default.pevo " +
        "WHERE ts >= TIMESTAMP'2024-01-10 00:00:00' " +
        "AND ts < TIMESTAMP'2024-01-13 00:00:00'")
    val m = "files=(\\d+)/(\\d+)".r
      .findFirstMatchIn(q.queryExecution.executedPlan.toString)
      .getOrElse(fail("no graft-catalog scan"))
    assert(m.group(2).toInt > 8, s"expected files from both generations, got ${m.group(2)}")
    assert(m.group(1).toInt * 2 <= m.group(2).toInt,
      s"the window must prune at least half across BOTH generations, " +
        s"got files=${m.group(1)}/${m.group(2)}")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 1600L).filter(id => {
        val day = (id * 48271) % 40; day >= 9 && day < 12
      }).sorted,
      "evolution must lose no rows and change no values")
    // an ill-typed evolution refuses loudly, leaving the spec untouched
    val e = intercept[Exception](spark.sql(
      "CALL gtest.system.set_partitioning('default.pevo', 'hours(v)')"))
    assert(e.getMessage.contains("TIMESTAMP"), e.getMessage)
    assert(VersionedTable.identityPartition(s"$r/default/pevo")
      .contains("hours(ts)"), "a refused evolution must not half-apply")
  }

  test("PARTITIONED BY (days(ts)) / truncate(n, col): temporal transforms prune via source zones") {
    val r = root
    // days(ts): the single most common warehouse DDL — cluster on the
    // raw timestamp (days is monotone), record epoch-micros zones, prune
    // timestamp predicates at the file level
    spark.sql(
      "CREATE TABLE gtest.default.idpt (ts TIMESTAMP, v BIGINT) " +
        "PARTITIONED BY (days(ts))")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try spark.sql(
      """INSERT INTO gtest.default.idpt
        |SELECT timestamp_seconds(1704067200 + ((id * 48271) % 40) * 86400
        |  + id % 3600), id
        |FROM range(0, 800)""".stripMargin)
    finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    // DESCRIBE-level fidelity: the declared transform is reported back
    val parts = spark.sql("DESCRIBE TABLE EXTENDED gtest.default.idpt")
      .collect().map(_.toString).mkString("\n")
    assert(parts.contains("days(ts)"),
      s"the declared transform must survive to DESCRIBE:\n$parts")
    val q = spark.sql(
      "SELECT v FROM gtest.default.idpt " +
        "WHERE ts >= TIMESTAMP'2024-01-10 00:00:00' " +
        "AND ts < TIMESTAMP'2024-01-13 00:00:00'")
    val m = "files=(\\d+)/(\\d+)".r
      .findFirstMatchIn(q.queryExecution.executedPlan.toString)
      .getOrElse(fail("no graft-catalog scan"))
    assert(m.group(2).toInt > 4, s"expected several files, got ${m.group(2)}")
    assert(m.group(1).toInt * 2 <= m.group(2).toInt,
      s"a timestamp range over days(ts) must prune at least half, " +
        s"got files=${m.group(1)}/${m.group(2)}")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 800L).filter(id => {
        val day = (id * 48271) % 40; day >= 9 && day < 12
      }).sorted,
      "timestamp-pruned result must equal the unpruned filter")
    // truncate(n, string): prefix clustering through byte-prefix zones
    spark.sql(
      "CREATE TABLE gtest.default.idptr (name STRING, v BIGINT) " +
        "PARTITIONED BY (truncate(4, name))")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try spark.sql(
      """INSERT INTO gtest.default.idptr
        |SELECT concat('grp', lpad(CAST((id * 48271) % 32 AS STRING), 2, '0'),
        |  '_item', CAST(id AS STRING)), id
        |FROM range(0, 800)""".stripMargin)
    finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    val q2 = spark.sql(
      "SELECT v FROM gtest.default.idptr WHERE name LIKE 'grp07%'")
    val m2 = "files=(\\d+)/(\\d+)".r
      .findFirstMatchIn(q2.queryExecution.executedPlan.toString)
      .getOrElse(fail("no graft-catalog scan"))
    assert(m2.group(1).toInt * 2 <= m2.group(2).toInt,
      s"a prefix predicate over truncate(4, name) must prune, " +
        s"got files=${m2.group(1)}/${m2.group(2)}")
    assert(q2.collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 800L).filter(id => (id * 48271) % 32 == 7).sorted)
    // TIMESTAMP identity partitioning is accepted too (was refused)
    spark.sql(
      "CREATE TABLE gtest.default.idpti (ts TIMESTAMP, v BIGINT) " +
        "PARTITIONED BY (ts)")
    // lossy / unknown transforms still refuse loudly
    val e = intercept[Exception](spark.sql(
      "CREATE TABLE gtest.default.idptb (s STRING, v BIGINT) " +
        "PARTITIONED BY (days(s))"))
    assert(e.getMessage.contains("TIMESTAMP"), e.getMessage)
  }

  test("PARTITIONED BY (date_col): date predicates prune through epoch-day zones") {
    val r = root
    spark.sql(
      "CREATE TABLE gtest.default.idpd (d DATE, v BIGINT) PARTITIONED BY (d)")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try spark.sql(
      """INSERT INTO gtest.default.idpd
        |SELECT date_add(DATE'2024-01-01', CAST((id * 48271) % 40 AS INT)), id
        |FROM range(0, 800)""".stripMargin)
    finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    val q = spark.sql(
      "SELECT v FROM gtest.default.idpd WHERE d = DATE'2024-01-10'")
    val m = "files=(\\d+)/(\\d+)".r
      .findFirstMatchIn(q.queryExecution.executedPlan.toString)
      .getOrElse(fail("no graft-catalog scan"))
    assert(m.group(2).toInt > 4, s"expected several files, got ${m.group(2)}")
    assert(m.group(1).toInt * 2 <= m.group(2).toInt,
      s"a date point predicate must prune, got files=${m.group(1)}/${m.group(2)}")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 800L).filter(id => (id * 48271) % 40 == 9).sorted,
      "date-pruned result must equal the unpruned filter")
    // range predicates prune too (epoch-day bounds are discrete)
    val q2 = spark.sql(
      "SELECT count(*) FROM gtest.default.idpd " +
        "WHERE d >= DATE'2024-02-05' AND d < DATE'2024-02-08'")
    assert(q2.collect()(0).getLong(0) ==
      (0L until 800L).count(id => { val m40 = (id * 48271) % 40; m40 >= 35 && m40 < 38 }))
    // DATE MIN/MAX answers from manifest arithmetic (epoch-day zones are
    // exact): the plan must be the pushed one-row aggregate scan
    val qa = spark.sql("SELECT min(d), max(d) FROM gtest.default.idpd")
    assert(qa.queryExecution.executedPlan.toString.contains("manifest-only"),
      s"date MIN/MAX must push to manifest arithmetic:\n${qa.queryExecution.executedPlan}")
    val ar = qa.collect()(0)
    assert(ar.getDate(0).toLocalDate == java.time.LocalDate.parse("2024-01-01"))
    assert(ar.getDate(1).toLocalDate == java.time.LocalDate.parse("2024-02-09"),
      s"max date: ${ar.getDate(1)}")
    // DATE TopN pushdown plans only the files that can hold the top n
    val qt = spark.sql(
      "SELECT d FROM gtest.default.idpd ORDER BY d DESC LIMIT 5")
    val mt = "files=(\\d+)/(\\d+)".r
      .findFirstMatchIn(qt.queryExecution.executedPlan.toString)
      .getOrElse(fail("no scan"))
    assert(mt.group(1).toInt * 2 <= mt.group(2).toInt,
      s"date TopN must prune files, got files=${mt.group(1)}/${mt.group(2)}")
    assert(qt.collect().map(_.getDate(0).toLocalDate.toString).toSeq ==
      Seq.fill(5)("2024-02-09"),
      "date TopN result exact (39 is the max residue and occurs 20 times)")
  }

  test("graft.bloom-cols: declared columns get write-side parquet bloom filters") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val s = spark; import s.implicits._
    val r = root
    spark.sql(
      """CREATE TABLE gtest.default.blm (id BIGINT, v STRING)
        |TBLPROPERTIES('graft.bloom-cols'='id')""".stripMargin)
    spark.sql(
      "INSERT INTO gtest.default.blm SELECT id * 7919, concat('v', id) FROM range(0, 2000)")
    def bloomOffsets(table: String): Seq[(String, Boolean)] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(table, "data"))
        .iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          p.toString.endsWith(".parquet"))
        .flatMap { p =>
          val rd = ParquetFileReader.open(HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(p.toString),
            new org.apache.hadoop.conf.Configuration()))
          try rd.getRowGroups.asScala.flatMap(bg => bg.getColumns.asScala.map(c =>
            c.getPath.toDotString -> (c.getBloomFilterOffset >= 0L))).toSeq
          finally rd.close()
        }.toSeq
    }
    val offs = bloomOffsets(s"$root/default/blm").filter(_._2)
    assert(offs.nonEmpty && offs.forall(_._1 == "id"),
      s"only the declared column may carry a bloom filter: $offs")
    assert(offs.exists(_._1 == "id"),
      "the SQL INSERT path must write a bloom filter for the declared column")
    // the programmatic commit path honors the property too (Spark writer
    // via parquet.bloom.filter.enabled#id write options)
    spark.sql(
      """CREATE TABLE gtest.default.blm2 (id BIGINT, v STRING)
        |TBLPROPERTIES('graft.bloom-cols'='id')""".stripMargin)
    val t2 = s"$root/default/blm2"
    graft.sources.VersionedTable.commit(
      (0L until 2000L).map(i => (i * 7919, s"v$i")).toDF("id", "v"),
      t2, append = true)
    val offs2 = bloomOffsets(t2)
    assert(offs2.exists { case (c, has) => c == "id" && has },
      s"programmatic commits must write the declared bloom filter: $offs2")
    assert(offs2.filter(_._2).forall(_._1 == "id"), s"only id is declared: $offs2")
    // point lookup stays exact
    assert(spark.sql(
      "SELECT v FROM gtest.default.blm WHERE id = 7919000").collect()
      .map(_.getString(0)).toSeq == Seq("v1000"))
    // absent property → no bloom anywhere (the documented fallback)
    spark.sql("CREATE TABLE gtest.default.blm3 (id BIGINT)")
    spark.sql("INSERT INTO gtest.default.blm3 SELECT id FROM range(0, 100)")
    assert(!bloomOffsets(s"$root/default/blm3").exists(_._2),
      "undeclared tables must not pay bloom bytes")
    // STRING bloom columns work end-to-end too: the writer blooms the
    // BINARY column, and a string point predicate emits the binary Eq
    // row-group leaf the bloom evaluator consumes
    spark.sql(
      """CREATE TABLE gtest.default.blm4 (sid STRING, v BIGINT)
        |TBLPROPERTIES('graft.bloom-cols'='sid')""".stripMargin)
    spark.sql(
      "INSERT INTO gtest.default.blm4 SELECT concat('doc-', id * 7919), id FROM range(0, 2000)")
    val offs4 = bloomOffsets(s"$root/default/blm4").filter(_._2)
    assert(offs4.nonEmpty && offs4.forall(_._1 == "sid"),
      s"the declared STRING column must carry the bloom filter: $offs4")
    assert(spark.sql(
      "SELECT v FROM gtest.default.blm4 WHERE sid = 'doc-7919000'")
      .collect().map(_.getLong(0)).toSeq == Seq(1000L))
  }

  test("CALL system.zorder on a STRING column prunes string predicates after rewrite") {
    val s = spark; import s.implicits._
    val r = root
    val t = s"$root/default/zstr"
    // hash-scrambled 2-D data: 8 first-byte-distinct string keys × a
    // dense integral dimension — nothing sorted anywhere. Enough rows
    // that each rewritten file covers a FRACTION of a Morton cell:
    // z-order locality (like any space-filling curve) only separates
    // dimensions once files are finer than the top-bit cells
    val langs = Seq("ar", "de", "en", "es", "fr", "it", "ja", "zh")
    VersionedTable.commit(
      (1L to 4000L).map(i => (langs(((i * 48271) % 8).toInt), i * 48271 % 997, i))
        .toDF("lang", "m", "id").repartition(8, col("id")),
      t, append = false)
    spark.sql("CALL gtest.system.zorder('default.zstr', 'lang,m', 64)")
    // string-leg prune: equality on lang keeps a strict file subset
    val q = spark.sql(
      "SELECT id FROM gtest.default.zstr WHERE lang = 'es'")
    val m = "files=(\\d+)/(\\d+)".r
      .findFirstMatchIn(q.queryExecution.executedPlan.toString)
      .getOrElse(fail("no graft-catalog scan"))
    assert(m.group(2).toInt > 4, s"expected several files, got ${m.group(2)}")
    assert(m.group(1).toInt * 2 <= m.group(2).toInt,
      s"string zorder must prune the string leg, got files=${m.group(1)}/${m.group(2)}")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to 4000L).filter(i => (i * 48271) % 8 == langs.indexOf("es")).sorted,
      "pruned result must equal the plain filter")
    // 2-D: the conjunction prunes at least as hard as either leg
    val q2 = spark.sql(
      "SELECT id FROM gtest.default.zstr WHERE lang = 'es' AND m BETWEEN 100 AND 300")
    val m2 = "files=(\\d+)/(\\d+)".r
      .findFirstMatchIn(q2.queryExecution.executedPlan.toString)
      .getOrElse(fail("no scan"))
    assert(m2.group(1).toInt <= m.group(1).toInt,
      s"2-D prune must not be weaker than 1-D: ${m2.group(1)} vs ${m.group(1)}")
    assert(q2.collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to 4000L).filter(i => (i * 48271) % 8 == langs.indexOf("es") &&
        { val mm = i * 48271 % 997; mm >= 100 && mm <= 300 }).sorted)
  }

  test("string zorder: common-prefix low-NDV keys bucket by exact rank") {
    val s = spark; import s.implicits._
    val r = root
    val t = s"$root/default/zstr2"
    // ALL keys share their first 9 bytes — the 7-byte prefix surrogate
    // would collapse them into ONE bucket and the interleave would be
    // blind in this dimension; the NDV-adaptive exact rank is not.
    // (Keys stay under the 16-byte zone-map truncation: the ZONES must
    // be able to distinguish them, or no layout could ever prune.)
    val segs = (0 until 8).map(i => s"Customer#$i")
    VersionedTable.commit(
      (1L to 4000L).map(i =>
        (segs(((i * 48271) % 8).toInt), i * 48271 % 997, i))
        .toDF("seg", "m", "id").repartition(8, col("id")),
      t, append = false)
    spark.sql("CALL gtest.system.zorder('default.zstr2', 'seg,m', 64)")
    val q = spark.sql(
      s"SELECT id FROM gtest.default.zstr2 WHERE seg = '${segs(4)}'")
    val m = "files=(\\d+)/(\\d+)".r
      .findFirstMatchIn(q.queryExecution.executedPlan.toString)
      .getOrElse(fail("no graft-catalog scan"))
    assert(m.group(2).toInt > 4, s"expected several files, got ${m.group(2)}")
    assert(m.group(1).toInt * 2 <= m.group(2).toInt,
      s"rank-surrogate zorder must prune common-prefix keys, " +
        s"got files=${m.group(1)}/${m.group(2)}")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to 4000L).filter(i => (i * 48271) % 8 == 4).sorted,
      "pruned result must equal the plain filter")
  }

  test("graft.stats-max-cols caps the commit stats job at wide tables") {
    val r = root
    spark.sql(
      """CREATE TABLE gtest.default.wide (a BIGINT, b BIGINT, c STRING)
        |TBLPROPERTIES('graft.stats-max-cols'='1')""".stripMargin)
    spark.sql(
      "INSERT INTO gtest.default.wide SELECT id, id * 2, concat('x', id) FROM range(1, 101)")
    val rows = spark.sql(
      "SELECT column, min_long, max_long FROM gtest.default.`wide$stats`")
      .collect().map(r2 => r2.getString(0) -> (r2.isNullAt(1), r2.isNullAt(2))).toMap
    assert(rows.get("a").contains((false, false)),
      s"the first schema column must keep its zone stats: $rows")
    // b and c fall outside the cap: no zones recorded
    assert(rows.get("b").forall(_ == (true, true)),
      s"capped-out column b must record no zones: $rows")
    // the cap is per-table, not global: an uncapped table records all
    spark.sql("CREATE TABLE gtest.default.wide2 (a BIGINT, b BIGINT)")
    spark.sql("INSERT INTO gtest.default.wide2 SELECT id, id * 2 FROM range(1, 101)")
    val rows2 = spark.sql(
      "SELECT column, min_long FROM gtest.default.`wide2$stats`")
      .collect().map(r2 => r2.getString(0) -> r2.isNullAt(1)).toMap
    assert(rows2.get("a").contains(false) && rows2.get("b").contains(false),
      s"uncapped tables keep full stats: $rows2")
    // the declared layout key never falls outside the cap: partitioning
    // by the LAST column with cap 1 must still record that column's
    // zones (losing them would silently disable the layout's pruning)
    spark.sql(
      """CREATE TABLE gtest.default.wide3 (a BIGINT, b BIGINT, pk BIGINT)
        |PARTITIONED BY (pk)
        |TBLPROPERTIES('graft.stats-max-cols'='1')""".stripMargin)
    spark.sql(
      "INSERT INTO gtest.default.wide3 SELECT id, id * 2, id * 3 FROM range(1, 101)")
    val rows3 = spark.sql(
      "SELECT column, min_long FROM gtest.default.`wide3$stats`")
      .collect().map(r2 => r2.getString(0) -> r2.isNullAt(1)).toMap
    assert(rows3.get("pk").contains(false),
      s"the partition key must keep its zones under any cap: $rows3")
    assert(rows3.get("a").forall(_ == true) && rows3.get("b").forall(_ == true),
      s"cap 1 + key leaves no room for other columns: $rows3")
  }

  test("table_changes() TVF resolves catalog names; fails loudly across overwrites") {
    val r = root
    val t = s"$root/default/tvf"
    VersionedTable.commit(df(1L -> "a", 2L -> "b"), t, append = false) // v1
    VersionedTable.commit(df(3L -> "c"), t, append = true) // v2
    VersionedTable.deleteWhere(spark, t, col("k") === 1L, "k") // v3
    val rows = spark.sql(
      "SELECT k, v, _change_type, _commit_version " +
        "FROM table_changes('gtest.default.tvf', 2, 3) ORDER BY k")
      .collect().map(x => (x.getLong(0), Option(x.getString(1)),
        x.getString(2), x.getLong(3))).toSeq
    assert(rows == Seq(
      (1L, None, "delete", 3L),
      (3L, Some("c"), "insert", 2L)),
      s"got $rows")
    // Delta-parity pin: startVersion is INCLUSIVE — from=1 returns v1's
    // own inserts, which a ported Delta query expects
    val inclusive = spark.sql(
      "SELECT k, _change_type, _commit_version " +
        "FROM table_changes('gtest.default.tvf', 1, 3) ORDER BY _commit_version, k")
      .collect().map(x => (x.getLong(0), x.getString(1), x.getLong(2))).toSeq
    assert(inclusive == Seq(
      (1L, "insert", 1L), (2L, "insert", 1L),
      (3L, "insert", 2L), (1L, "delete", 3L)),
      s"startVersion must be inclusive (Delta parity): $inclusive")
    // the plan is distributed (a parquet scan), not a driver LocalScan
    val plan = spark.sql(
      "SELECT * FROM table_changes('gtest.default.tvf', 1, 3)")
      .queryExecution.executedPlan.toString
    assert(plan.contains("Scan parquet") || plan.contains("FileScan"),
      s"TVF must plan file scans:\n$plan")
    VersionedTable.commit(df(9L -> "z"), t, append = false) // v4 overwrite
    val ex = intercept[Exception](spark.sql(
      "SELECT * FROM table_changes('gtest.default.tvf', 1, 4)").collect())
    assert(ex.getMessage.contains("non-additive"), ex.getMessage)
  }

  test("CALL system.auto_maintain restores a degraded table to advisor-clean in one call") {
    val s = spark; import s.implicits._
    val r = root
    val t = s"$root/default/amt"
    // degrade: one 4-file commit, two small appends, one MOR delete
    val base = (1L to 4000L).map(k => (k, s"v$k")).toDF("k", "v")
    VersionedTable.commit(
      base.filter(col("k") % 2L === 0L).repartition(4), t, append = false)
    VersionedTable.commit(
      base.filter(col("k") % 100L === 1L).repartition(1), t, append = true)
    VersionedTable.commit(
      base.filter(col("k") % 100L === 3L).repartition(1), t, append = true)
    VersionedTable.deleteWhere(spark, t, col("k") % 1000L === 2L, "k")
    val r1 = spark.sql("CALL gtest.system.auto_maintain('default.amt')").collect()(0)
    assert(r1.getString(0) == "compact: tombstone debt", r1.toString)
    assert(r1.getLong(1) == 5L, "the compaction must commit a new version")
    // post-state: zero tombstoned files, zero small files, exact content
    val files = spark.sql(
      "SELECT n_rows, n_applicable_tombstones FROM gtest.default.`amt$files`")
      .collect().map(row => (
        row.getAs[Number](0).longValue(), row.getAs[Number](1).longValue()))
    assert(files.forall(_._2 == 0L), s"tombstone debt must be gone: ${files.toSeq}")
    assert(files.count(f => f._1 > 0L && f._1 < 1000L) < 2,
      s"small-file debt must be gone: ${files.toSeq}")
    val expect = (1L to 4000L)
      .filter(k => k % 2 == 0 || k % 100 == 1 || k % 100 == 3)
      .filterNot(_ % 1000 == 2).sorted
    assert(spark.sql("SELECT k FROM gtest.default.amt")
      .collect().map(_.getLong(0)).sorted.toSeq == expect,
      "maintenance must change layout only, never content")
    // a second call is a healthy no-op: same head, no new version
    val r2 = spark.sql("CALL gtest.system.auto_maintain('default.amt')").collect()(0)
    assert(r2.getString(0) == "healthy" && r2.getLong(1) == 5L, r2.toString)
  }

  test("auto_maintain weighs POSITIONAL deletion-vector debt: light keeps, heavy compacts") {
    val s = spark; import s.implicits._
    val r = root
    // LIGHT: a small vector dooms ~1% of rows — vectors read at parity
    // (SCALING.md round 16 "the equality→positional cost crossover"), so
    // keeping it beats a full rewrite
    val tl = s"$root/default/pdl"
    VersionedTable.commit(
      (1L to 10000L).map(k => (k, s"v$k")).toDF("k", "v").repartition(2),
      tl, append = false)
    VersionedTable.deleteWherePositional(spark, tl, col("k") % 100L === 7L)
    val r1 = spark.sql("CALL gtest.system.auto_maintain('default.pdl')").collect()(0)
    assert(r1.getString(0) == "healthy",
      s"a 1%-doomed vector must not trigger a rewrite: ${r1.toString}")
    // HEAVY: vectors doom ~50% of live rows — doomed-position mass past
    // the 30% manifest-arithmetic threshold compacts in one call
    val th = s"$root/default/pdh"
    VersionedTable.commit(
      (1L to 10000L).map(k => (k, s"v$k")).toDF("k", "v").repartition(2),
      th, append = false)
    VersionedTable.deleteWherePositional(spark, th, col("k") % 2L === 0L)
    val r2 = spark.sql("CALL gtest.system.auto_maintain('default.pdh')").collect()(0)
    assert(r2.getString(0) == "compact: deletion-vector debt", r2.toString)
    val files = spark.sql(
      "SELECT n_applicable_tombstones FROM gtest.default.`pdh$files`")
      .collect().map(_.getAs[Number](0).longValue())
    assert(files.forall(_ == 0L), "the compaction must drop the vectors")
    assert(spark.sql("SELECT count(*) FROM gtest.default.pdh")
      .collect()(0).getLong(0) == 5000L,
      "maintenance must change layout only, never content")
    val r3 = spark.sql("CALL gtest.system.auto_maintain('default.pdh')").collect()(0)
    assert(r3.getString(0) == "healthy", s"no thrash after the rewrite: ${r3.toString}")
  }

  test("auto_maintain detects CLUSTERING DECAY and re-executes the Z-ORDER in one call") {
    val s = spark; import s.implicits._
    val r = root
    // multi-column declared clustering; several fat RANDOM appends decay
    // it — every file's zones then span the whole key space and a
    // rectangle predicate prunes nothing
    spark.sql(
      """CREATE TABLE gtest.default.amz (a BIGINT, b BIGINT, v STRING)
        |TBLPROPERTIES('graft.cluster-by'='a,b')""".stripMargin)
    val t = s"$root/default/amz"
    // a and b must be DECORRELATED (quadratic mix in b): correlated
    // keys lie on a lattice and give the interleave degenerate,
    // run-to-run-unstable per-dimension widths
    (0 until 4).foreach { i =>
      VersionedTable.commit(
        (1L to 16000L).map { k =>
          val key = (k * 48271 + i * 7919) % 4000
          (key, (k * k * 31 + k * 69621 + i) % 4000, s"v$k")
        }.toDF("a", "b", "v").repartition(4),
        t, append = true, statsCols = Seq("a", "b"))
    }
    val before = VersionedTable.pruneCount(t, None, "a", 100L, 300L)
    assert(before._1 == before._2,
      s"fixture must be decayed (nothing prunes): $before")
    val r1 = spark.sql("CALL gtest.system.auto_maintain('default.amz')").collect()(0)
    assert(r1.getString(0).contains("clustering decay"), r1.toString)
    val after = VersionedTable.pruneCount(t, None, "a", 100L, 300L)
    assert(after._1 * 2 <= after._2,
      s"one call must restore pruning to <= half the files: $after")
    // rectangle reads prune in BOTH declared dimensions and stay exact
    val q = spark.sql(
      "SELECT count(*) FROM gtest.default.amz WHERE a BETWEEN 100 AND 300 " +
        "AND b BETWEEN 100 AND 300")
    val expect = (0 until 4).flatMap(i => (1L to 16000L).map { k =>
      ((k * 48271 + i * 7919) % 4000, (k * k * 31 + k * 69621 + i) % 4000)
    }).count { case (a, b) => a >= 100 && a <= 300 && b >= 100 && b <= 300 }
    assert(q.collect()(0).getLong(0) == expect)
    // and the advisor is satisfied afterwards
    val r2 = spark.sql("CALL gtest.system.auto_maintain('default.amz')").collect()(0)
    assert(r2.getString(0) == "healthy", r2.toString)
  }

  test("table properties expose the operational state to DESCRIBE") {
    val t = s"$root/default/props"
    VersionedTable.commit(df(1L -> "a"), t, append = false)
    VersionedTable.commit(df(2L -> "b"), t, append = true)
    val p = new graft.sources.GraftCatalogTable(t, None, "gtest.default.props")
      .properties()
    assert(p.get("graft.head-version") == "2" && p.get("graft.commits") == "2")
    assert(!p.containsKey("graft.bucket-column"))
    // and DESCRIBE EXTENDED renders them
    val desc = spark.sql("DESCRIBE TABLE EXTENDED gtest.default.props")
      .collect().map(r => s"${r.getString(0)}|${r.getString(1)}").mkString("\n")
    assert(desc.contains("graft.head-version=2"), s"missing property in:\n$desc")
  }

  test("$stats metadata table serves per-column statistics as a driver-local scan") {
    val s = spark; import s.implicits._
    val t = s"$root/default/stt"
    VersionedTable.commit(
      (1L to 500L).map(k => (k, s"name-$k")).toDF("k", "nm"),
      t, append = false, statsCols = Seq("k", "nm"))
    VersionedTable.commit(
      (501L to 600L).map(k => (k, s"name-$k")).toDF("k", "nm"),
      t, append = true, statsCols = Seq("k", "nm"))
    val rows = spark.sql(
      "SELECT column, ndv_estimate, null_count, min_long, max_long, avg_len, max_len " +
        "FROM gtest.default.`stt$stats` ORDER BY column").collect()
    val byCol = rows.map(r => r.getString(0) -> r).toMap
    val k = byCol("k")
    assert(math.abs(k.getLong(1) - 600L) <= 30L, s"k NDV ~600, got ${k.getLong(1)}")
    assert(k.getLong(2) == 0L && k.getLong(3) == 1L && k.getLong(4) == 600L)
    val nm = byCol("nm")
    assert(math.abs(nm.getLong(1) - 600L) <= 30L)
    assert(nm.isNullAt(3) && nm.isNullAt(4), "no integral zone for a string")
    assert(nm.getLong(6) == "name-600".length.toLong, "max_len measured")
    assert(nm.getLong(5) >= 6L && nm.getLong(5) <= 8L, "avg_len measured")
    // the scan is driver-local: no executor task
    val plan = spark.sql("SELECT * FROM gtest.default.`stt$stats`")
      .queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") || plan.contains("graft-stats"),
      s"expected a driver-local scan:\n$plan")
    // VERSION AS OF pins the older snapshot's statistics
    val v1 = spark.sql(
      "SELECT max_long FROM gtest.default.`stt$stats` VERSION AS OF 1 " +
        "WHERE column = 'k'").collect()(0).getLong(0)
    assert(v1 == 500L, "time-traveled stats must reflect the pinned snapshot")
  }

  test("compaction upgrades stat-less files with zone maps and NDV sketches") {
    val s = spark; import s.implicits._
    val t = s"$root/default/upg"
    // committed WITHOUT stats: no zones, no sketches, $stats knows nothing
    VersionedTable.commit(
      (1L to 400L).map(k => (k, s"u$k")).toDF("k", "u"), t, append = false)
    def ndv(): Option[Long] = {
      val r = spark.sql(
        "SELECT ndv_estimate FROM gtest.default.`upg$stats` WHERE column = 'k'")
        .collect()(0)
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
    assert(ndv().isEmpty, "pre-stats files must claim no NDV")
    VersionedTable.compact(spark, t)
    val after = ndv().getOrElse(fail("compaction must record NDV sketches"))
    assert(math.abs(after - 400L) <= 20L, s"NDV ~400 after compaction, got $after")
    // content untouched
    assert(spark.sql("SELECT count(*) FROM gtest.default.upg")
      .collect()(0).getLong(0) == 400L)
  }

  test("CALL system.vacuum_time expires versions by wall-clock retention") {
    val t = s"$root/default/vact"
    VersionedTable.commit(df(1L -> "a"), t, append = false)
    VersionedTable.commit(df(2L -> "b"), t, append = true)
    VersionedTable.commit(df(3L -> "c"), t, append = true)
    // a huge retention window expires nothing
    val kept = spark.sql(
      "CALL gtest.system.vacuum_time('default.vact', 86400000)").collect()(0).getInt(0)
    assert(kept == 0 && VersionedTable.versions(t).size == 3)
    // zero retention keeps only the head (never less)
    spark.sql("CALL gtest.system.vacuum_time('default.vact', 0)").collect()
    assert(VersionedTable.versions(t) == Seq(3L),
      "zero retention must retain exactly the head")
    val rows = spark.sql("SELECT k FROM gtest.default.vact ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(rows == Seq(1L, 2L, 3L), "the head snapshot survives intact")
  }

  test("string MIN/MAX push down from exact zone sides; truncation declines") {
    val s = spark; import s.implicits._
    val t = s"$root/default/aggstr"
    // short (exact) string ids across two commits + an all-short second col
    VersionedTable.commit(
      (1L to 900L).map(k => (k, f"id$k%06d")).toDF("k", "sid")
        .repartitionByRange(3, col("k")),
      t, append = false, statsCols = Seq("k", "sid"))
    VersionedTable.commit(
      Seq((1000L, "zz-last")).toDF("k", "sid"), t, append = true,
      statsCols = Seq("k", "sid"))
    val q = spark.sql(
      "SELECT min(sid) AS mn, max(sid) AS mx, count(*) AS n FROM gtest.default.aggstr")
    assert(q.queryExecution.executedPlan.toString.contains("manifest-only"),
      s"expected pushed string min/max:\n${q.queryExecution.executedPlan}")
    val r = q.collect()(0)
    assert((r.getString(0), r.getString(1), r.getLong(2)) ==
      (("id000001", "zz-last", 901L)))
    // values LONGER than the 16-byte truncation: bounds are starred,
    // pushdown declines, the ordinary scan still answers exactly
    val t2 = s"$root/default/aggstr2"
    VersionedTable.commit(
      (1L to 100L).map(k => (k, f"long-prefix-id$k%06d-suffix")).toDF("k", "sid"),
      t2, append = false, statsCols = Seq("sid"))
    val q2 = spark.sql(
      "SELECT min(sid) AS mn, max(sid) AS mx FROM gtest.default.aggstr2")
    assert(!q2.queryExecution.executedPlan.toString.contains("manifest-only"),
      "truncated bounds must decline MIN/MAX pushdown")
    val r2 = q2.collect()(0)
    assert((r2.getString(0), r2.getString(1)) ==
      (("long-prefix-id000001-suffix", "long-prefix-id000100-suffix")))
    // a column with NO string zones recorded declines too
    val t3 = s"$root/default/aggstr3"
    VersionedTable.commit(
      (1L to 50L).map(k => (k, s"v$k")).toDF("k", "v"), t3, append = false)
    val q3 = spark.sql("SELECT min(v) AS mn FROM gtest.default.aggstr3")
    assert(!q3.queryExecution.executedPlan.toString.contains("manifest-only"))
    assert(q3.collect()(0).getString(0) == "v1")
  }

  test("a pushed LIMIT plans just enough files by footer counts") {
    val s = spark; import s.implicits._
    val t = s"$root/default/lim"
    VersionedTable.commit(
      (1L to 800L).map(k => (k, s"v$k")).toDF("k", "v")
        .repartitionByRange(8, col("k")),
      t, append = false)
    val q = spark.sql("SELECT k FROM gtest.default.lim LIMIT 10")
    assert(q.collect().length == 10)
    val m = "files=(\\d+)/(\\d+)".r
      .findFirstMatchIn(q.queryExecution.executedPlan.toString)
      .getOrElse(fail("no graft-catalog scan"))
    assert(m.group(2).toInt == 8 && m.group(1).toInt == 1,
      s"LIMIT 10 over ~100-row files must plan one file, got " +
        s"files=${m.group(1)}/${m.group(2)}")
    // a LIMIT spanning several files keeps exactly enough
    val q2 = spark.sql("SELECT k FROM gtest.default.lim LIMIT 250")
    assert(q2.collect().length == 250)
    val m2 = "files=(\\d+)/(\\d+)".r
      .findFirstMatchIn(q2.queryExecution.executedPlan.toString).get
    assert(m2.group(1).toInt == 3, s"files=${m2.group(1)}/${m2.group(2)}")
    // tombstones decline the file-count trick; results stay exact
    VersionedTable.deleteWhere(spark, t, col("k") <= 150L, "k")
    val q3 = spark.sql("SELECT k FROM gtest.default.lim LIMIT 200")
    val m3 = "files=(\\d+)/(\\d+)".r
      .findFirstMatchIn(q3.queryExecution.executedPlan.toString).get
    assert(m3.group(1).toInt == 8, s"files=${m3.group(1)}/${m3.group(2)}")
    val got = q3.collect().map(_.getLong(0))
    assert(got.length == 200 && got.forall(_ > 150L),
      "limited read over tombstones must never resurrect deleted rows")
  }

  test("manifest-derived statistics let a small catalog table broadcast in joins") {
    val s = spark; import s.implicits._
    val t = s"$root/default/dim"
    VersionedTable.commit(
      (1L to 50L).map(k => (k, s"name$k")).toDF("k", "nm"), t, append = false)
    val big = spark.range(1, 100000)
      .selectExpr("id AS fk", "id % 50 + 1 AS k")
    big.createOrReplaceTempView("g_stats_big")
    val q = spark.sql(
      "SELECT b.fk, d.nm FROM g_stats_big b JOIN gtest.default.dim d USING (k)")
    // without SupportsReportStatistics the DSv2 side sizes as "unknown =
    // huge" and this join would sort-merge; the 50-row footer count must
    // make it broadcast
    assert(q.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      s"expected a broadcast join:\n${q.queryExecution.executedPlan}")
    assert(q.count() == 99999L)
  }

  test("ALTER TABLE ADD/DROP CONSTRAINT wires SQL CHECK DDL to the commit gate") {
    val _ = root // force gtest catalog registration (lazy)
    spark.sql("CREATE TABLE gtest.default.con (k BIGINT, v STRING)")
    spark.sql("INSERT INTO gtest.default.con VALUES (1, 'a'), (2, 'b')")
    spark.sql(
      "ALTER TABLE gtest.default.con ADD CONSTRAINT pos_k CHECK (k > 0)")
    // the constraint now gates every commit: a violating INSERT aborts
    // atomically and publishes nothing
    val ex = intercept[Exception] {
      spark.sql("INSERT INTO gtest.default.con VALUES (-5, 'bad')")
    }
    assert(ex.getMessage.contains("pos_k") ||
      Option(ex.getCause).exists(_.getMessage.contains("pos_k")), ex.getMessage)
    assert(spark.sql("SELECT count(*) AS n FROM gtest.default.con")
      .collect()(0).getLong(0) == 2L, "violating INSERT must publish nothing")
    // a constraint the standing head violates is rejected at ADD time
    val ex2 = intercept[Exception] {
      spark.sql("ALTER TABLE gtest.default.con ADD CONSTRAINT big_k CHECK (k > 10)")
    }
    // Spark's AddCheckConstraintExec validates the standing data itself
    // (NEW_CHECK_CONSTRAINT_VIOLATION) before the catalog's own gate
    assert(ex2.getMessage.contains("CHECK_CONSTRAINT_VIOLATION") ||
      ex2.getMessage.contains("violates"), ex2.getMessage)
    // DROP CONSTRAINT unrecords it and the insert lands
    spark.sql("ALTER TABLE gtest.default.con DROP CONSTRAINT pos_k")
    spark.sql("INSERT INTO gtest.default.con VALUES (-5, 'now ok')")
    assert(spark.sql("SELECT count(*) AS n FROM gtest.default.con")
      .collect()(0).getLong(0) == 3L)
    // inline constraint at CREATE TABLE time is recorded and gates too
    spark.sql(
      "CREATE TABLE gtest.default.con2 " +
        "(k BIGINT, v STRING, CONSTRAINT pos2 CHECK (k > 0))")
    val ex3 = intercept[Exception] {
      spark.sql("INSERT INTO gtest.default.con2 VALUES (-1, 'bad')")
    }
    assert(ex3.getMessage.contains("pos2") ||
      Option(ex3.getCause).exists(_.getMessage.contains("pos2")), ex3.getMessage)
    spark.sql("INSERT INTO gtest.default.con2 VALUES (7, 'good')")
    assert(spark.sql("SELECT k FROM gtest.default.con2")
      .collect().map(_.getLong(0)).toSeq == Seq(7L))
  }

  test("co-bucketed tables equi-join with ZERO exchange (storage-partitioned join)") {
    val s = spark; import s.implicits._
    val tf = s"$root/default/fact_b"
    val td = s"$root/default/dim_b"
    VersionedTable.commitBucketed(
      (1L to 5000L).map(i => (i % 97L, i, s"f$i")).toDF("k", "fid", "fv"),
      tf, "k", 8, append = false)
    // a bucketed APPEND keeps the layout
    VersionedTable.commitBucketed(
      Seq((5L, 99999L, "late")).toDF("k", "fid", "fv"),
      tf, "k", 8, append = true)
    VersionedTable.commitBucketed(
      (0L to 96L).map(k => (k, s"name$k")).toDF("k", "nm"),
      td, "k", 8, append = false)
    val prevB = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    val prevT = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val q = spark.sql(
        """SELECT f.k, f.fid, d.nm
          |FROM gtest.default.fact_b f JOIN gtest.default.dim_b d USING (k)""".stripMargin)
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"co-bucketed equi-join must be exchange-free:\n$plan")
      assert(q.count() == 5001L)
      // spot-check content against the programmatic read join
      val expect = VersionedTable.read(spark, tf)
        .join(VersionedTable.read(spark, td), "k").count()
      assert(q.count() == expect)
      // merge-on-read delete composes: tombstones apply inside buckets
      VersionedTable.deleteWhere(spark, tf, col("fid") === 99999L, "fid")
      val q2 = spark.sql(
        """SELECT f.k, f.fid, d.nm
          |FROM gtest.default.fact_b f JOIN gtest.default.dim_b d USING (k)""".stripMargin)
      assert(!q2.queryExecution.executedPlan.toString.contains("Exchange"))
      assert(q2.count() == 5000L, "tombstoned row must vanish from the join")
      // SQL INSERT routes through the bucketed writer: the new row lands
      // in its own key's bucket subtree and the join stays exchange-free
      spark.sql("INSERT INTO gtest.default.fact_b VALUES (13, 77777, 'sqlrow')")
      val q3 = spark.sql(
        """SELECT f.k, f.fid, d.nm
          |FROM gtest.default.fact_b f JOIN gtest.default.dim_b d USING (k)""".stripMargin)
      assert(!q3.queryExecution.executedPlan.toString.contains("Exchange"),
        "SQL-inserted data must preserve the exchange-free join")
      assert(q3.count() == 5001L)
      assert(spark.sql(
        "SELECT nm FROM gtest.default.fact_b f JOIN gtest.default.dim_b d USING (k) " +
          "WHERE fid = 77777").collect().map(_.getString(0)).toSeq == Seq("name13"))
      // and on disk the new commit nests under the key's bucket dir
      val lastCommit = java.nio.file.Files.list(
        java.nio.file.Paths.get(tf, "data")).iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("c"))
        .maxBy(p => p.getFileName.toString.drop(1).takeWhile(_.isDigit).toLong)
      val nested = java.nio.file.Files.walk(lastCommit).iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          p.toString.endsWith(".parquet")).toSeq
      assert(nested.nonEmpty &&
        nested.forall(_.toString.contains(s"__graft_bucket=${13 % 8}/")),
        s"SQL insert wrote outside the key's bucket: $nested")
      val ex2 = intercept[Exception] {
        VersionedTable.commit(Seq((1L, 1L, "x")).toDF("k", "fid", "fv"),
          tf, append = true)
      }
      assert(ex2.getMessage.contains("commitBucketed"), ex2.getMessage)
      // and a mismatched bucket spec is refused
      val ex3 = intercept[Exception] {
        VersionedTable.commitBucketed(
          Seq((1L, 1L, "x")).toDF("k", "fid", "fv"), tf, "k", 16, append = true)
      }
      assert(ex3.getMessage.contains("co-location"), ex3.getMessage)
    } finally {
      prevB.fold(spark.conf.unset("spark.sql.sources.v2.bucketing.enabled"))(
        v => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevT)
    }
  }

  test("CREATE TABLE PARTITIONED BY (bucket(n, col)): pure-SQL co-bucketed lifecycle") {
    val _ = root // force gtest catalog registration (lazy)
    val prevB = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    val prevT = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.sql("CREATE TABLE gtest.default.sfact (k BIGINT, m BIGINT) " +
        "PARTITIONED BY (bucket(4, k))")
      spark.sql("CREATE TABLE gtest.default.sdim (k BIGINT, nm STRING) " +
        "PARTITIONED BY (bucket(4, k))")
      // the spec is recorded at CREATE time, before any data
      assert(VersionedTable.bucketSpec(s"$root/default/sfact").contains(("k", 4)))
      // a freshly created (empty) bucketed table reads fine
      assert(spark.sql("SELECT * FROM gtest.default.sfact").count() == 0L)
      spark.sql("INSERT INTO gtest.default.sfact " +
        "SELECT id % 13 AS k, id AS m FROM range(0, 1000)")
      spark.sql("INSERT INTO gtest.default.sfact VALUES (5, 100000)") // append keeps layout
      spark.sql("INSERT INTO gtest.default.sdim " +
        "SELECT id AS k, concat('n', id) AS nm FROM range(0, 13)")
      val q = spark.sql(
        """SELECT f.k, f.m, d.nm
          |FROM gtest.default.sfact f JOIN gtest.default.sdim d USING (k)""".stripMargin)
      assert(!q.queryExecution.executedPlan.toString.contains("Exchange"),
        s"pure-SQL co-bucketed join must be exchange-free:\n${q.queryExecution.executedPlan}")
      assert(q.count() == 1001L)
      // parity with a plain (unbucketed) recomputation of the same join
      val expect = spark.sql(
        "SELECT count(*) FROM (SELECT id % 13 AS k FROM range(0, 1000) " +
          "UNION ALL SELECT 5) f JOIN (SELECT id AS k FROM range(0, 13)) d USING (k)")
        .collect()(0).getLong(0)
      assert(q.count() == expect)
      // an empty INSERT ... SELECT commits cleanly and stays readable
      spark.sql("INSERT INTO gtest.default.sfact " +
        "SELECT id, id FROM range(0, 1000) WHERE id < 0")
      assert(spark.sql("SELECT * FROM gtest.default.sfact").count() == 1001L)
      // INSERT OVERWRITE replaces data but keeps the bucket layout
      spark.sql("INSERT OVERWRITE gtest.default.sfact VALUES (7, 1), (20, 2)")
      assert(VersionedTable.bucketSpec(s"$root/default/sfact").contains(("k", 4)))
      val q2 = spark.sql(
        """SELECT f.k, d.nm FROM gtest.default.sfact f
          |JOIN gtest.default.sdim d USING (k)""".stripMargin)
      assert(!q2.queryExecution.executedPlan.toString.contains("Exchange"))
      assert(q2.collect().map(_.getString(1)).sorted.toSeq == Seq("n7"))
      // schema evolution composes with the bucket layout: old snapshots
      // stay narrow, the widened head still joins exchange-free
      spark.sql("ALTER TABLE gtest.default.sfact ADD COLUMN tag STRING")
      spark.sql("INSERT INTO gtest.default.sfact VALUES (9, 90, 'wide')")
      val evo = spark.sql(
        """SELECT f.k, f.m, f.tag, d.nm FROM gtest.default.sfact f
          |JOIN gtest.default.sdim d USING (k)""".stripMargin)
      assert(!evo.queryExecution.executedPlan.toString.contains("Exchange"),
        "evolved bucketed join must stay exchange-free")
      val evoRows = evo.collect().map(r =>
        (r.getLong(0), r.getLong(1), Option(r.getString(2)), r.getString(3))).toSet
      assert(evoRows == Set(
        (7L, 1L, None, "n7"), (9L, 90L, Some("wide"), "n9")))
      // VERSION AS OF replays the pre-evolution bucketed snapshot
      assert(spark.sql(
        "SELECT k, m FROM gtest.default.sfact VERSION AS OF 5")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set((7L, 1L), (20L, 2L)))
      // unsupported partitionings are refused loudly (identity is now
      // accepted for BIGINT/INT/STRING/DATE — a DOUBLE key is not, its
      // zone maps can't prune exactly)
      val ex = intercept[Exception] {
        spark.sql("CREATE TABLE gtest.default.badpart (k BIGINT, v DOUBLE) " +
          "PARTITIONED BY (v)")
      }
      assert(ex.getMessage.contains("BIGINT/INT/STRING/DATE") ||
        Option(ex.getCause).exists(_.getMessage.contains("BIGINT/INT/STRING/DATE")),
        ex.getMessage)
      val ex2 = intercept[Exception] {
        spark.sql("CREATE TABLE gtest.default.badcol (k BIGINT, v STRING) " +
          "PARTITIONED BY (bucket(4, v))")
      }
      assert(ex2.getMessage.contains("BIGINT") ||
        Option(ex2.getCause).exists(_.getMessage.contains("BIGINT")), ex2.getMessage)
    } finally {
      prevB.fold(spark.conf.unset("spark.sql.sources.v2.bucketing.enabled"))(
        v => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevT)
    }
  }

  test("row-level SQL ops on bucketed tables preserve co-location") {
    val _ = root // force gtest catalog registration (lazy)
    val prevB = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    val prevT = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.sql("CREATE TABLE gtest.default.dmlfact (k BIGINT, m BIGINT) " +
        "PARTITIONED BY (bucket(4, k))")
      spark.sql("CREATE TABLE gtest.default.dmldim (k BIGINT, nm STRING) " +
        "PARTITIONED BY (bucket(4, k))")
      spark.sql("INSERT INTO gtest.default.dmlfact " +
        "SELECT id % 13 AS k, id AS m FROM range(0, 1000)")
      spark.sql("INSERT INTO gtest.default.dmldim " +
        "SELECT id AS k, concat('n', id) AS nm FROM range(0, 22)")
      // UPDATE rewrites candidate files but every row re-lands in its
      // own key's bucket subtree
      spark.sql("UPDATE gtest.default.dmlfact SET m = m + 1000000 WHERE k = 5")
      // DELETE (row-level fallback COW on bucketed tables) drops k=7
      spark.sql("DELETE FROM gtest.default.dmlfact WHERE k = 7")
      // MERGE updates k=5 again and inserts a brand-new key 20
      spark.sql(
        """MERGE INTO gtest.default.dmlfact t
          |USING (SELECT 5L AS k, 0L AS m UNION ALL SELECT 20L, 42L) c
          |ON t.k = c.k
          |WHEN MATCHED THEN UPDATE SET m = t.m + 1
          |WHEN NOT MATCHED THEN INSERT (k, m) VALUES (c.k, c.m)""".stripMargin)
      // content: 1000 - 77 (k=7 rows) + 1 (k=20 insert) rows survive
      assert(spark.sql("SELECT count(*) FROM gtest.default.dmlfact")
        .collect()(0).getLong(0) == 924L)
      assert(spark.sql(
        "SELECT count(*) FROM gtest.default.dmlfact WHERE k = 7")
        .collect()(0).getLong(0) == 0L)
      // k=5 rows saw UPDATE (+1e6) then MERGE (+1): m = orig + 1000001
      val m5 = spark.sql(
        "SELECT min(m), max(m) FROM gtest.default.dmlfact WHERE k = 5").collect()(0)
      assert(m5.getLong(0) == 5L + 1000001L)
      assert(m5.getLong(1) == 993L + 1000001L)
      assert(spark.sql(
        "SELECT m FROM gtest.default.dmlfact WHERE k = 20")
        .collect().map(_.getLong(0)).toSeq == Seq(42L))
      // the co-bucketed join stays exchange-free through all three ops
      val q = spark.sql(
        """SELECT f.k, f.m, d.nm
          |FROM gtest.default.dmlfact f JOIN gtest.default.dmldim d USING (k)""".stripMargin)
      assert(!q.queryExecution.executedPlan.toString.contains("Exchange"),
        s"bucketed join must stay exchange-free after DML:\n${q.queryExecution.executedPlan}")
      assert(q.count() == 924L)
      // and on disk EVERY data file still nests under a bucket subtree
      val tf = s"$root/default/dmlfact"
      val stray = java.nio.file.Files.walk(
        java.nio.file.Paths.get(tf, "data")).iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          p.toString.endsWith(".parquet") &&
          !p.toString.contains("__graft_bucket=")).toSeq
      assert(stray.isEmpty, s"row-level rewrite wrote flat files: $stray")
      // updating the BUCKET KEY itself re-places the row correctly:
      // k 20 → 21 moves the row from bucket 0 to bucket 1
      spark.sql("UPDATE gtest.default.dmlfact SET k = 21 WHERE k = 20")
      // m=42 matches the moved row (now k=21) AND the original id=42 row (k=3)
      assert(spark.sql(
        "SELECT nm FROM gtest.default.dmlfact f JOIN gtest.default.dmldim d USING (k) " +
          "WHERE m = 42").collect().map(_.getString(0)).sorted.toSeq == Seq("n21", "n3"))
      // CALL system.compact sweeps the DML history's small files into
      // one file per bucket — layout preserved, content unchanged
      val before = spark.sql("SELECT k, m FROM gtest.default.dmlfact")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      spark.sql("CALL gtest.system.compact('default.dmlfact')")
      assert(spark.sql("SELECT k, m FROM gtest.default.dmlfact")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == before)
      val compacted = VersionedTable.read(spark, tf).inputFiles
      assert(compacted.length <= 4,
        s"compaction must leave at most one file per bucket: ${compacted.length}")
      assert(compacted.forall(_.contains("__graft_bucket=")),
        "compacted files must keep the bucket layout")
      val q4 = spark.sql(
        """SELECT f.k, f.m, d.nm
          |FROM gtest.default.dmlfact f JOIN gtest.default.dmldim d USING (k)""".stripMargin)
      assert(!q4.queryExecution.executedPlan.toString.contains("Exchange"),
        "bucketed join must stay exchange-free after compaction")
      assert(q4.count() == 924L)
      // compaction writes one KEY-SORTED file per bucket and the scan
      // reports the ordering — after compacting BOTH sides the join
      // plans with no exchange AND no sort
      spark.sql("CALL gtest.system.compact('default.dmldim')")
      val q5 = spark.sql(
        """SELECT f.k, f.m, d.nm
          |FROM gtest.default.dmlfact f JOIN gtest.default.dmldim d USING (k)""".stripMargin)
      val p5 = q5.queryExecution.executedPlan.toString
      assert(!p5.contains("Exchange"), s"exchange after sorted compaction:\n$p5")
      assert(!p5.contains("Sort "), s"sort despite reported ordering:\n$p5")
      assert(q5.count() == 924L)
      assert(q5.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        before)
    } finally {
      prevB.fold(spark.conf.unset("spark.sql.sources.v2.bucketing.enabled"))(
        v => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevT)
    }
  }

  test("runtime (DPP-style) In filters prune files through the zone maps") {
    val s = spark; import s.implicits._
    val t = s"$root/default/dpp"
    // 8 range-clustered files over k=1..800 with zone maps on k
    VersionedTable.commit(
      (1L to 800L).map(k => (k, k * 10L)).toDF("k", "amt")
        .repartitionByRange(8, col("k")),
      t, append = false, statsCols = Seq("k"))
    // unit pin: the scan's runtime filter() drops files whose zone map
    // holds none of the pushed values, before any execution
    val scan = new graft.sources.GraftTableScan(
      t, None, org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("amt",
          org.apache.spark.sql.types.LongType))), graft.sources.Prune.none)
    val all = scan.planInputPartitions().length
    assert(all == 8)
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("k", Array(5L, 7L, 650L))))
    val prunedN = scan.planInputPartitions().length
    assert(prunedN <= 2, s"3 keys in 2 files must plan <= 2 partitions, got $prunedN")
    // and the pruned scan still reads exactly the matching rows' files
    // (integration: a selective dim join triggers Spark's own runtime
    // filtering against the scan; results stay exact)
    val dim = Seq((5L, "a"), (650L, "b")).toDF("k", "tag")
    dim.createOrReplaceTempView("dpp_dim")
    val q = spark.sql(
      """SELECT f.k, f.amt, d.tag
        |FROM gtest.default.dpp f JOIN dpp_dim d ON f.k = d.k""".stripMargin)
    assert(q.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet ==
      Set((5L, 50L, "a"), (650L, 6500L, "b")))
  }

  test("runtime In filters on STRING keys prune files through the byte-prefix zones") {
    val s = spark; import s.implicits._
    val t = s"$root/default/dppstr"
    // 30-byte string ids: every zone bound is truncated, so this pins
    // the byte-prefix probe, not the easy exact-bounds case
    def id(k: Long) = f"doc-$k%09d" + "y" * 18
    VersionedTable.commit(
      (1L to 800L).map(k => (id(k), k * 10L)).toDF("doc_id", "amt")
        .repartitionByRange(8, col("doc_id")),
      t, append = false, statsCols = Seq("doc_id"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("amt",
        org.apache.spark.sql.types.LongType)))
    val scan = new graft.sources.GraftTableScan(t, None, schema, graft.sources.Prune.none)
    assert(scan.planInputPartitions().length == 8)
    // the scan reports string columns as runtime-filterable
    assert(scan.filterAttributes().map(_.describe()).contains("doc_id"))
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("doc_id",
        Array[Any](id(5L), id(7L), id(650L)))))
    val prunedN = scan.planInputPartitions().length
    assert(prunedN <= 2, s"3 ids in 2 files must plan <= 2 partitions, got $prunedN")
    // integration: a string-keyed dim join stays exact under the prune
    val dim = Seq((id(5L), "a"), (id(650L), "b")).toDF("doc_id", "tag")
    dim.createOrReplaceTempView("dppstr_dim")
    val q = spark.sql(
      """SELECT f.doc_id, f.amt, d.tag
        |FROM gtest.default.dppstr f JOIN dppstr_dim d ON f.doc_id = d.doc_id""".stripMargin)
    assert(q.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet ==
      Set((id(5L), 50L, "a"), (id(650L), 6500L, "b")))
  }

  test("TopN pushdown plans only the files that can hold the top n") {
    val s = spark; import s.implicits._
    val t = s"$root/default/topn"
    // 8 range-clustered files over k=1..800, zone maps + NN counts on k
    VersionedTable.commit(
      (1L to 800L).map(k => (k, k * 10L)).toDF("k", "amt")
        .repartitionByRange(8, col("k")),
      t, append = false, statsCols = Seq("k"))
    val qd = spark.sql(
      "SELECT k FROM gtest.default.topn ORDER BY k DESC LIMIT 5")
    assert(qd.queryExecution.executedPlan.toString.contains("files=1/8"),
      s"DESC top-5 must plan one file:\n${qd.queryExecution.executedPlan}")
    assert(qd.collect().map(_.getLong(0)).toSeq ==
      Seq(800L, 799L, 798L, 797L, 796L))
    // ASC requires explicit NULLS LAST (default asc is nulls-first,
    // which a dropped file's unknown null count could violate)
    val qa = spark.sql(
      "SELECT k FROM gtest.default.topn ORDER BY k ASC NULLS LAST LIMIT 3")
    assert(qa.queryExecution.executedPlan.toString.contains("files=1/8"),
      s"ASC NULLS LAST top-3 must plan one file:\n${qa.queryExecution.executedPlan}")
    assert(qa.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // default ASC (nulls first) declines — all files planned, still exact
    val qn = spark.sql(
      "SELECT k FROM gtest.default.topn ORDER BY k LIMIT 3")
    assert(qn.queryExecution.executedPlan.toString.contains("files=8/8"),
      "nulls-first ordering must decline the pushdown")
    assert(qn.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // a LIMIT spanning several files keeps exactly enough of them
    val qw = spark.sql(
      "SELECT k FROM gtest.default.topn ORDER BY k DESC LIMIT 150")
    assert(qw.queryExecution.executedPlan.toString.contains("files=2/8"),
      s"top-150 over 100-row files must plan two files:\n${qw.queryExecution.executedPlan}")
    assert(qw.count() == 150L)
    assert(qw.collect().map(_.getLong(0)).min == 651L)
    // tombstones decline the pushdown (counts no longer exact), exactly
    VersionedTable.deleteWhere(spark, t, col("k") === 800L, "k")
    val qt = spark.sql(
      "SELECT k FROM gtest.default.topn ORDER BY k DESC LIMIT 5")
    assert(qt.queryExecution.executedPlan.toString.contains("files=8/8"),
      "tombstoned snapshot must decline TopN planning")
    assert(qt.collect().map(_.getLong(0)).toSeq ==
      Seq(799L, 798L, 797L, 796L, 795L))
  }

  test("staged-commit reconcile drops zombie speculative-attempt files") {
    val dir = java.nio.file.Files.createTempDirectory("graft_reconcile")
    val staging = dir.resolve("_stg_x")
    def plant(rel: String): java.nio.file.Path = {
      val p = dir.resolve("c1_tok").resolve(rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, Array[Byte](1, 2, 3))
      p
    }
    // accepted file (named in a commit message, via its STAGING path),
    // a flat zombie, and a nested (bucketed) zombie
    val ok = plant("part-0-1.parquet")
    val zombieFlat = plant("part-0-7.parquet")
    val zombieNested = plant("__graft_bucket=3/part-1-9.parquet")
    val okNested = plant("__graft_bucket=3/part-1-2.parquet")
    graft.sources.GraftStagedCommit.reconcile(
      dir.resolve("c1_tok"), staging.toString,
      Array(
        graft.sources.GraftWriteDone(Seq(s"$staging/part-0-1.parquet")),
        graft.sources.GraftWriteDone(
          Seq(s"$staging/__graft_bucket=3/part-1-2.parquet"))))
    assert(java.nio.file.Files.exists(ok))
    assert(java.nio.file.Files.exists(okNested))
    assert(!java.nio.file.Files.exists(zombieFlat),
      "unreported flat attempt file must be deleted")
    assert(!java.nio.file.Files.exists(zombieNested),
      "unreported nested attempt file must be deleted")
  }

  test("CREATE TABLE AS SELECT creates v1 (schema-only) + v2 (the data)") {
    val _ = root // force gtest catalog registration (lazy)
    spark.sql(
      "CREATE TABLE gtest.default.ctas AS " +
        "SELECT id AS k, concat('v', id) AS v FROM range(1, 6)")
    val got = spark.sql("SELECT k, v FROM gtest.default.ctas ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == (1L to 5L).map(k => (k, s"v$k")))
    // the create half is an ordinary commit: v1 is the empty schema
    // carrier, the CTAS write appended v2 — both time-travelable
    assert(spark.sql("SELECT count(*) AS n FROM gtest.default.ctas VERSION AS OF 1")
      .collect()(0).getLong(0) == 0L)
    val ops = spark.sql(
      "SELECT version, operation FROM gtest.default.`ctas$history` ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(ops == Seq((1L, "create"), (2L, "append")), s"history: $ops")
  }

  test("CREATE TABLE then INSERT; DROP TABLE; recreate at the same path") {
    val _ = root // force gtest catalog registration (lazy)
    spark.sql("CREATE TABLE gtest.default.ddl (k BIGINT, v STRING)")
    assert(spark.sql("SELECT count(*) AS n FROM gtest.default.ddl")
      .collect()(0).getLong(0) == 0L, "a created table reads as empty")
    spark.sql("INSERT INTO gtest.default.ddl VALUES (1, 'a'), (2, 'b')")
    assert(spark.sql("SELECT k FROM gtest.default.ddl ORDER BY k")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    spark.sql("DROP TABLE gtest.default.ddl")
    assert(spark.sql("SHOW TABLES IN gtest.default")
      .collect().map(_.getString(1)).forall(_ != "ddl"), "dropped table still listed")
    // recreate at the same path with different content: a stale resolved-
    // entry cache would replay the dropped table's manifests
    spark.sql("CREATE TABLE gtest.default.ddl (k BIGINT, v STRING)")
    spark.sql("INSERT INTO gtest.default.ddl VALUES (9, 'z')")
    assert(spark.sql("SELECT k, v FROM gtest.default.ddl")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq == Seq(9L -> "z"))
  }

  test("ALTER TABLE ADD COLUMN: old rows null-fill, old snapshots stay narrow") {
    val _ = root // force gtest catalog registration (lazy)
    spark.sql("CREATE TABLE gtest.default.evo (k BIGINT, v STRING)")
    spark.sql("INSERT INTO gtest.default.evo VALUES (1, 'a'), (2, 'b')")
    spark.sql("ALTER TABLE gtest.default.evo ADD COLUMN score BIGINT")
    // head schema widened; pre-evolution rows read NULL for the new column
    val head = spark.sql("SELECT k, v, score FROM gtest.default.evo ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSeq
    assert(head == Seq((1L, "a", None), (2L, "b", None)))
    spark.sql("INSERT INTO gtest.default.evo VALUES (3, 'c', 70)")
    val all = spark.sql("SELECT k, score FROM gtest.default.evo ORDER BY k")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSeq
    assert(all == Seq((1L, None), (2L, None), (3L, Some(70L))))
    // the pre-evolution snapshot keeps its narrower schema
    val v2 = spark.sql("SELECT * FROM gtest.default.evo VERSION AS OF 2")
    assert(v2.columns.toSeq == Seq("k", "v"),
      s"old snapshot must not see the added column: ${v2.columns.toSeq}")
    // RENAME COLUMN is now first-class (metadata-only column mapping):
    // the rename lands and a retired name can never be re-added
    spark.sql("ALTER TABLE gtest.default.evo RENAME COLUMN v TO w")
    assert(spark.table("gtest.default.evo").columns.toSeq == Seq("k", "w", "score"))
    val ex = intercept[Exception] {
      spark.sql("ALTER TABLE gtest.default.evo ADD COLUMN v STRING")
    }
    assert(ex.getMessage.contains("retired") || ex.getMessage.contains("in use"),
      ex.getMessage)
  }

  test("two concurrent SQL INSERTs both survive as distinct versions") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    spark.sql("CREATE TABLE gtest.default.race (k BIGINT, v STRING)")
    val fs = Seq("x", "y").map(tag => Future {
      spark.sql(s"INSERT INTO gtest.default.race VALUES (${tag.hashCode}, '$tag')")
    })
    Await.result(Future.sequence(fs), 120.seconds)
    val got = spark.sql("SELECT v FROM gtest.default.race")
      .collect().map(_.getString(0)).toSet
    assert(got == Set("x", "y"),
      s"a racing INSERT must never be silently dropped: $got")
    val t = s"$root/default/race"
    assert(VersionedTable.versions(t) == Seq(1L, 2L, 3L),
      "each INSERT must land as its own commit after the create")
  }

  test("an UPDATE racing an INSERT wins cleanly or fails loudly — never drops rows") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    spark.sql("CREATE TABLE gtest.default.race2 (k BIGINT, v STRING)")
    spark.sql("INSERT INTO gtest.default.race2 VALUES (1, 'old'), (2, 'old')")
    val upd = Future(scala.util.Try(
      spark.sql("UPDATE gtest.default.race2 SET v = 'new' WHERE v = 'old'")))
    val ins = Future(
      spark.sql("INSERT INTO gtest.default.race2 VALUES (3, 'inserted')"))
    val updResult = Await.result(upd, 120.seconds)
    Await.result(ins, 120.seconds)
    val rows = spark.sql("SELECT k, v FROM gtest.default.race2")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // the INSERT retries past any interleaving: its row must survive
    assert(rows.contains(3L -> "inserted"), s"inserted row lost: $rows")
    assert(rows.map(_._1) == Set(1L, 2L, 3L), s"base rows lost: $rows")
    updResult match {
      case scala.util.Success(_) =>
        // the update scanned a basis that already held rows 1 and 2 —
        // a clean win must have updated both
        assert(rows.contains(1L -> "new") && rows.contains(2L -> "new"),
          s"UPDATE reported success but left stale rows: $rows")
      case scala.util.Failure(e) =>
        // loud loss: the basis moved underneath the rewrite
        assert(e.getMessage.contains("concurrent") ||
          Option(e.getCause).exists(_.getMessage.contains("concurrent")),
          s"UPDATE failed for an unexpected reason: $e")
        assert(rows.contains(1L -> "old") && rows.contains(2L -> "old"),
          s"failed UPDATE must leave the base rows untouched: $rows")
    }
  }
}
