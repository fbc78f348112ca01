package graft

import graft.sources.VersionedTable
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BINARY / ARRAY / STRUCT / MAP columns as first-class citizens of the
  * versioned table format: SQL CREATE/INSERT (the catalog's own Group-API
  * writer), the catalog's columnar reader (batches pass through when
  * tombstone-free, a surviving-row copy under MOR tombstones), SQL
  * DELETE (copy-on-write rewrite through the same writer), positional
  * deletion vectors, and time travel. The multimodal pin: a WAV payload
  * stored IN a graft table decodes bit-identically to the same payload
  * decoded straight from the source dataset.
  */
class NestedTableSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private lazy val root = {
    val d = SparkTestBase.tempDir("graft_nested_root")
    spark.conf.set("spark.sql.catalog.gnest", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gnest.root", d.toString)
    d.toString
  }

  test("SQL CREATE/INSERT/SELECT round-trips binary, array, struct, and map") {
    root // force catalog registration
    spark.sql(
      """CREATE TABLE gnest.default.rt (
        |  id BIGINT, payload BINARY, toks ARRAY<BIGINT>,
        |  meta STRUCT<lang: STRING, n: INT>, tags MAP<STRING, BIGINT>)""".stripMargin)
    spark.sql(
      """INSERT INTO gnest.default.rt VALUES
        |  (1, CAST('ab' AS BINARY), array(1L, 2L, 3L),
        |   named_struct('lang', 'en', 'n', 7), map('x', 10L, 'y', 20L)),
        |  (2, CAST('' AS BINARY), array(), named_struct('lang', CAST(NULL AS STRING), 'n', 0), map()),
        |  (3, NULL, NULL, NULL, NULL),
        |  (4, CAST('zq' AS BINARY), array(5L, CAST(NULL AS BIGINT), 6L),
        |   named_struct('lang', 'fr', 'n', 2), map('k', CAST(NULL AS BIGINT)))""".stripMargin)
    val got = spark.sql("SELECT * FROM gnest.default.rt ORDER BY id").collect()
    assert(got.length == 4)
    val r1 = got(0)
    assert(new String(r1.getAs[Array[Byte]]("payload"), "UTF-8") == "ab")
    assert(r1.getAs[collection.Seq[Long]]("toks") == Seq(1L, 2L, 3L))
    assert(r1.getAs[Row]("meta") == Row("en", 7))
    assert(r1.getAs[collection.Map[String, Long]]("tags") == collection.Map("x" -> 10L, "y" -> 20L))
    val r2 = got(1)
    assert(r2.getAs[Array[Byte]]("payload").length == 0,
      "empty binary must round-trip as empty, not null")
    assert(r2.getAs[collection.Seq[Long]]("toks") == Seq.empty,
      "empty array must round-trip as empty, not null")
    assert(r2.getAs[Row]("meta") == Row(null, 0),
      "struct with a null field must keep the sibling value")
    assert(r2.getAs[collection.Map[String, Long]]("tags") == collection.Map.empty)
    val r3 = got(2)
    assert(r3.isNullAt(1) && r3.isNullAt(2) && r3.isNullAt(3) && r3.isNullAt(4),
      "null binary/array/struct/map must stay null")
    val r4 = got(3)
    assert(r4.getAs[collection.Seq[Any]]("toks") == Seq(5L, null, 6L),
      "null ELEMENTS inside an array must survive")
    assert(r4.getAs[collection.Map[String, Any]]("tags") == collection.Map[String, Any]("k" -> null),
      "null map VALUES must survive")
  }

  test("tombstone-free nested scans stay vectorized; projection prunes to the nested column") {
    root
    val q = spark.sql(
      "SELECT id, size(toks) AS n FROM gnest.default.rt WHERE id <= 2 ORDER BY id")
    SparkTestBase.assertColumnarScan(q,
      "a tombstone-free scan with nested columns must serve columnar batches")
    assert(q.collect().map(r => (r.getLong(0), r.getInt(1))).toSeq ==
      Seq((1L, 3), (2L, 0)))
    // nested-only projection
    val q2 = spark.sql("SELECT meta.lang AS lang FROM gnest.default.rt WHERE id = 1")
    assert(q2.collect().map(_.getString(0)).toSeq == Seq("en"))
  }

  test("nested projections prune to the requested leaf at the scan") {
    root
    // Spark's nested schema pruning hands pruneColumns a struct holding
    // only the requested subfield; the scan must declare exactly that
    // back (and the vectorized reader's explicit requested schema then
    // decodes only the leaf — a giant sibling BINARY is never read)
    val q = spark.sql("SELECT meta.lang AS l FROM gnest.default.rt WHERE id = 1")
    val scanExec = q.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head
    val rs = scanExec.scan.readSchema()
    assert(rs.fieldNames.toSeq.sorted == Seq("id", "meta"),
      s"projection must drop payload/toks/tags: ${rs.treeString}")
    val metaT = rs("meta").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(metaT.fieldNames.toSeq == Seq("lang"),
      s"the struct must prune to the requested leaf: ${metaT.treeString}")
    assert(q.collect().map(_.getString(0)).toSeq == Seq("en"))
  }

  test("MOR tombstones over a nested table stay COLUMNAR, row-path value-identical") {
    val s = spark; import s.implicits._
    val t = s"$root/default/morn"
    val base = (1L to 100L).map(k =>
      (k, Array.fill(4)((k % 7).toByte), Seq(k, k * 2), (s"l$k", k.toInt)))
      .toDF("id", "payload", "toks", "meta")
      .withColumn("meta", struct(col("meta._1").as("lang"), col("meta._2").as("n")))
    VersionedTable.commit(base, t, append = false)
    VersionedTable.deleteWhere(spark, t, col("id") % 5L === 0L, "id")
    val sql =
      "SELECT id, toks[1] AS t2, meta.lang AS l FROM gnest.default.morn ORDER BY id"
    val q = spark.sql(sql)
    SparkTestBase.assertColumnarScan(q,
      "tombstones + nested projection must ride the columnar surviving-row copy")
    def check(rows: Array[Row]): Unit = {
      assert(rows.length == 80)
      assert(rows.forall(r => r.getLong(0) % 5 != 0))
      assert(rows.forall(r => r.getLong(1) == r.getLong(0) * 2))
      assert(rows.forall(r => r.getString(2) == s"l${r.getLong(0)}"))
    }
    val rows = q.collect()
    check(rows)
    // the reference: Spark's own parquet scan plus the anti-join, which
    // shares no decoding with the catalog reader, agrees value-for-value
    val viaRead = VersionedTable.read(spark, t)
      .selectExpr("id", "toks[1] AS t2", "meta.lang AS l").orderBy("id").collect()
    assert(rows.toSeq == viaRead.toSeq)
    // full-row projection (map + binary + struct + array) under the same
    // tombstones: columnar, with nested values intact
    val full = spark.sql(
      "SELECT id, payload, toks, meta FROM gnest.default.morn ORDER BY id")
    SparkTestBase.assertColumnarScan(full)
    val fr = full.collect()
    assert(fr.length == 80)
    assert(fr.forall { r =>
      val k = r.getLong(0)
      r.getAs[Array[Byte]]("payload").forall(_ == (k % 7).toByte) &&
        r.getAs[collection.Seq[Long]]("toks") == Seq(k, k * 2) &&
        r.getAs[Row]("meta") == Row(s"l$k", k.toInt)
    })
  }

  test("nested + MAP columns under POSITIONAL vectors stay columnar, values exact") {
    val s = spark; import s.implicits._
    val t = s"$root/default/pdvm"
    val base = (1L to 60L).map(k =>
      (k, Seq(k, k * 3), Map(s"k$k" -> k, "c" -> (k % 4))))
      .toDF("id", "toks", "tags")
    VersionedTable.commit(base, t, append = false)
    VersionedTable.deleteWherePositional(spark, t, col("id") % 3L === 0L)
    val q = spark.sql(
      "SELECT id, toks, tags FROM gnest.default.pdvm ORDER BY id")
    SparkTestBase.assertColumnarScan(q,
      "positional vectors + nested/map projection must stay columnar")
    val got = q.collect()
    assert(got.length == 40)
    assert(got.forall { r =>
      val k = r.getLong(0)
      k % 3 != 0 &&
        r.getAs[collection.Seq[Long]]("toks") == Seq(k, k * 3) &&
        r.getAs[collection.Map[String, Long]]("tags") ==
          collection.Map(s"k$k" -> k, "c" -> (k % 4))
    })
  }

  test("positional deletion vectors work over binary/nested tables") {
    val s = spark; import s.implicits._
    val t = s"$root/default/pdvn"
    val base = (1L to 50L).map(k => (k, s"pay$k".getBytes("UTF-8"), Seq(k)))
      .toDF("id", "payload", "toks")
    VersionedTable.commit(base, t, append = false)
    // non-key predicate over the binary's length — no key column at all
    VersionedTable.deleteWherePositional(spark, t, length(col("payload")) >= lit(5))
    val got = spark.sql("SELECT id FROM gnest.default.pdvn ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(got == (1L to 9L), // "pay10".."pay50" are 5 bytes, "pay1".."pay9" are 4
      s"positions matching length(payload)>=5 must be gone, got $got")
  }

  test("SQL DELETE rewrites nested files copy-on-write; time travel keeps the old rows") {
    spark.sql(
      """CREATE TABLE gnest.default.cow (
        |  id BIGINT, toks ARRAY<BIGINT>, tags MAP<STRING, BIGINT>)""".stripMargin)
    spark.sql(
      """INSERT INTO gnest.default.cow
        |SELECT id, array(id, id * 10), map('a', id)
        |FROM range(1, 21)""".stripMargin)
    spark.sql("DELETE FROM gnest.default.cow WHERE id % 4 = 0")
    val head = spark.sql(
      "SELECT id, toks[1] AS t, tags['a'] AS a FROM gnest.default.cow ORDER BY id")
      .collect()
    assert(head.length == 15)
    assert(head.forall(r => r.getLong(1) == r.getLong(0) * 10 &&
      r.getLong(2) == r.getLong(0)))
    val v2 = spark.sql(
      "SELECT count(*) FROM gnest.default.cow VERSION AS OF 2").collect()(0).getLong(0)
    assert(v2 == 20L, "the pre-delete snapshot must still hold every row")
  }

  test("nested ADD COLUMN: old files null-fill, new files carry the field") {
    root
    spark.sql(
      "CREATE TABLE gnest.default.evo (id BIGINT, meta STRUCT<lang: STRING, n: INT>)")
    spark.sql(
      """INSERT INTO gnest.default.evo VALUES
        |  (1, named_struct('lang', 'en', 'n', 1)),
        |  (2, named_struct('lang', 'fr', 'n', 2))""".stripMargin)
    spark.sql("ALTER TABLE gnest.default.evo ADD COLUMNS (meta.src STRING)")
    spark.sql(
      """INSERT INTO gnest.default.evo VALUES
        |  (3, named_struct('lang', 'de', 'n', 3, 'src', 'web'))""".stripMargin)
    val got = spark.sql(
      "SELECT id, meta.lang AS lang, meta.src AS src, meta.n AS n " +
        "FROM gnest.default.evo ORDER BY id").collect()
    assert(got.map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3)))
      .toSeq == Seq((1L, "en", null, 1), (2L, "fr", null, 2), (3L, "de", "web", 3)),
      "pre-evolution rows must read the new field as NULL, siblings intact")
    // whole-struct read across generations: old rows' struct gains a null slot
    val full = spark.sql("SELECT meta FROM gnest.default.evo ORDER BY id").collect()
    assert(full.map(_.getAs[Row]("meta")).toSeq ==
      Seq(Row("en", 1, null), Row("fr", 2, null), Row("de", 3, "web")))
    // a pinned pre-evolution snapshot keeps the NARROW struct
    val old = spark.sql("SELECT * FROM gnest.default.evo VERSION AS OF 2")
    assert(!old.schema("meta").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.contains("src"),
      "time travel below the carrier must keep the pre-evolution struct")
    assert(old.count() == 2L)
    // deeper spine: a struct inside an ARRAY evolves through the API
    val s = spark; import s.implicits._
    val t = s"$root/default/evoarr"
    VersionedTable.commit(
      Seq((1L, Seq((10L, "a")), "x"), (2L, Seq((20L, "b"), (21L, "c")), "y"))
        .toDF("id", "spans", "tag")
        .withColumn("spans", expr(
          "transform(spans, s -> named_struct('off', s._1, 'txt', s._2))")),
      t, append = false)
    VersionedTable.addNestedColumn(spark, t, Seq("spans"),
      org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.DoubleType))
    val arr = spark.sql(
      "SELECT id, spans FROM gnest.default.evoarr ORDER BY id").collect()
    assert(arr(0).getAs[collection.Seq[Row]]("spans") == Seq(Row(10L, "a", null)),
      "array-of-struct elements must null-fill the evolved field")
    assert(arr(1).getAs[collection.Seq[Row]]("spans") ==
      Seq(Row(20L, "b", null), Row(21L, "c", null)))
    // refusals survive: duplicate nested field, non-struct spine
    intercept[IllegalArgumentException] {
      VersionedTable.addNestedColumn(spark, t, Seq("spans"),
        org.apache.spark.sql.types.StructField("score",
          org.apache.spark.sql.types.DoubleType))
    }
    intercept[IllegalArgumentException] {
      VersionedTable.addNestedColumn(spark, t, Seq("tag"),
        org.apache.spark.sql.types.StructField("x",
          org.apache.spark.sql.types.StringType))
    }
  }

  test("zone maps on STRUCT leaves: a meta.lang predicate prunes files") {
    val s = spark; import s.implicits._
    val t = s"$root/default/nzp"
    // lang-clustered commit: each output file holds one language, so the
    // dotted string zones ("meta.lang=…") separate cleanly per file
    val langs = Seq("de", "en", "fr", "ja")
    langs.zipWithIndex.foreach { case (lang, i) =>
      val df = (1L to 4000L).filter(_ % 4 == i)
        .map(k => (k, (lang, k.toInt), k * 2)).toDF("id", "meta", "x")
        .withColumn("meta",
          struct(col("meta._1").as("lang"), col("meta._2").as("n")))
        .coalesce(1)
      VersionedTable.commit(df, t, append = i > 0,
        statsCols = Seq("id", "meta.lang", "meta.n"))
    }
    val q = spark.sql(
      "SELECT id FROM gnest.default.nzp WHERE meta.lang = 'en'")
    val m = "files=(\\d+)/(\\d+)".r
      .findFirstMatchIn(q.queryExecution.executedPlan.toString)
      .getOrElse(fail("no graft-catalog scan"))
    assert(m.group(2).toInt == 4, s"expected 4 files, got ${m.group(2)}")
    assert(m.group(1).toInt == 1,
      s"a nested-leaf equality must prune to the one lang file, got " +
        s"files=${m.group(1)}/${m.group(2)}")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to 4000L).filter(_ % 4 == 1),
      "nested pruning must be invisible to results")
    // integral struct leaf too: meta.n range over the id-ordered layout
    val q2 = spark.sql(
      "SELECT id FROM gnest.default.nzp WHERE meta.n BETWEEN 100 AND 200")
    assert(q2.collect().map(_.getLong(0)).sorted.toSeq == (100L to 200L))
    // the default stats set picks struct leaves up WITHOUT declaration
    val t2 = s"$root/default/nzp2"
    spark.sql(
      "CREATE TABLE gnest.default.nzp2 (id BIGINT, meta STRUCT<lang: STRING, n: INT>)")
    spark.sql(
      """INSERT INTO gnest.default.nzp2
        |SELECT id, named_struct('lang',
        |  CASE WHEN id < 500 THEN 'aa' ELSE 'zz' END, 'n', CAST(id AS INT))
        |FROM range(0, 1000)""".stripMargin)
    require(t2.nonEmpty) // silence unused
    val q3 = spark.sql(
      "SELECT count(*) AS c FROM gnest.default.nzp2 WHERE meta.lang = 'aa'")
    assert(q3.collect()(0).getLong(0) == 500L)
  }

  test("ADD COLUMN evolution gaps stay COLUMNAR: absent columns null-fill in the batch") {
    val s = spark; import s.implicits._
    root
    // top-level gap: rows inserted before the ADD COLUMN lack `w`
    spark.sql("CREATE TABLE gnest.default.vevo (id BIGINT, v STRING)")
    spark.sql(
      "INSERT INTO gnest.default.vevo SELECT id, concat('v', id) FROM range(0, 500)")
    spark.sql("ALTER TABLE gnest.default.vevo ADD COLUMNS (w BIGINT)")
    spark.sql(
      "INSERT INTO gnest.default.vevo SELECT id, concat('v', id), id * 7 FROM range(500, 800)")
    val q = spark.sql("SELECT id, v, w FROM gnest.default.vevo ORDER BY id")
    SparkTestBase.assertColumnarScan(q,
      "an evolution gap must keep the scan columnar")
    val got = q.collect()
    assert(got.length == 800)
    assert(got.forall { r =>
      r.getString(1) == s"v${r.getLong(0)}" &&
        (if (r.getLong(0) < 500) r.isNullAt(2) else r.getLong(2) == r.getLong(0) * 7)
    }, "pre-evolution rows must read the new column as NULL, columnar")
    // nested gap: the struct field added by ALTER is absent in old files
    spark.sql(
      "CREATE TABLE gnest.default.vevn (id BIGINT, meta STRUCT<lang: STRING>)")
    spark.sql(
      "INSERT INTO gnest.default.vevn SELECT id, named_struct('lang', 'en') FROM range(0, 300)")
    spark.sql("ALTER TABLE gnest.default.vevn ADD COLUMNS (meta.src STRING)")
    spark.sql(
      """INSERT INTO gnest.default.vevn
        |SELECT id, named_struct('lang', 'de', 'src', 'web') FROM range(300, 400)""".stripMargin)
    val q2 = spark.sql(
      "SELECT id, meta.lang AS lang, meta.src AS src FROM gnest.default.vevn ORDER BY id")
    SparkTestBase.assertColumnarScan(q2,
      "a nested evolution gap must stay columnar (null-filled struct field)")
    val g2 = q2.collect()
    assert(g2.length == 400)
    assert(g2.forall { r =>
      if (r.getLong(0) < 300) r.getString(1) == "en" && r.isNullAt(2)
      else r.getString(1) == "de" && r.getString(2) == "web"
    })
    // under MOR on top of the gap: still columnar, still exact
    VersionedTable.deleteWherePositional(spark, s"$root/default/vevn",
      col("id") % 5L === 1L)
    val q3 = spark.sql(
      "SELECT id, meta.lang AS lang, meta.src AS src FROM gnest.default.vevn ORDER BY id")
    SparkTestBase.assertColumnarScan(q3)
    val g3 = q3.collect()
    assert(g3.length == 320 && g3.forall(_.getLong(0) % 5 != 1))
  }

  test("nested RENAME COLUMN: metadata-only, both generations read, writes land physical") {
    root
    spark.sql(
      "CREATE TABLE gnest.default.nrn (id BIGINT, meta STRUCT<lang: STRING, n: INT>)")
    spark.sql(
      """INSERT INTO gnest.default.nrn VALUES
        |  (1, named_struct('lang', 'en', 'n', 1)),
        |  (2, named_struct('lang', 'fr', 'n', 2))""".stripMargin)
    spark.sql("ALTER TABLE gnest.default.nrn RENAME COLUMN meta.lang TO lang_code")
    // served schema carries the logical name, field order preserved
    val st = spark.table("gnest.default.nrn").schema("meta").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(st.fieldNames.toSeq == Seq("lang_code", "n"))
    // an INSERT through the logical name lands under the PHYSICAL name
    spark.sql(
      """INSERT INTO gnest.default.nrn VALUES
        |  (3, named_struct('lang_code', 'de', 'n', 3))""".stripMargin)
    // the freshest data file's FOOTER must still carry the physical name
    val newest = {
      val w = java.nio.file.Files.walk(
        java.nio.file.Paths.get(s"$root/default/nrn/data"))
      try w.filter(p => p.toString.endsWith(".parquet"))
        .max(java.util.Comparator.comparing[java.nio.file.Path, String](_.toString))
        .orElseThrow()
      finally w.close()
    }
    val footer = spark.read.parquet(newest.toString).schema
    assert(footer("meta").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType]
        .fieldNames.toSeq == Seq("lang", "n"),
      "files must keep physical field names across the rename")
    assert(VersionedTable.columnMap(s"$root/default/nrn") ==
      Map("meta.lang" -> "lang_code"))
    // both generations read under the new name — SQL scan path
    val got = spark.sql(
      "SELECT id, meta.lang_code AS lc, meta.n AS n FROM gnest.default.nrn ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(got == Seq((1L, "en", 1), (2L, "fr", 2), (3L, "de", 3)))
    // programmatic read path (logicalizeFrame) agrees
    val prog = VersionedTable.read(spark, s"$root/default/nrn")
      .selectExpr("id", "meta.lang_code", "meta.n").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq.sortBy(_._1)
    assert(prog == got)
    // whole-struct read: null structs stay null, names logical
    spark.sql("INSERT INTO gnest.default.nrn VALUES (4, NULL)")
    val full = spark.sql("SELECT meta FROM gnest.default.nrn ORDER BY id").collect()
    assert(full.map(_.getAs[Row]("meta")).toSeq ==
      Seq(Row("en", 1), Row("fr", 2), Row("de", 3), null))
    // time travel sees CURRENT names (mapping is table-wide, like Delta)
    val old = spark.sql("SELECT meta.lang_code AS lc FROM gnest.default.nrn VERSION AS OF 2")
    assert(old.collect().map(_.getString(0)).sorted.toSeq == Seq("en", "fr"))
    // refusals: collision with a live sibling; reuse of the retired name
    intercept[Exception] {
      spark.sql("ALTER TABLE gnest.default.nrn RENAME COLUMN meta.n TO lang_code")
    }
    intercept[Exception] {
      spark.sql("ALTER TABLE gnest.default.nrn ADD COLUMNS (meta.lang STRING)")
    }
    // rename-back erases the mapping
    spark.sql("ALTER TABLE gnest.default.nrn RENAME COLUMN meta.lang_code TO lang")
    assert(VersionedTable.columnMap(s"$root/default/nrn").isEmpty)
  }

  test("nested RENAME keeps zone pruning and vectorized MOR on the renamed leaf") {
    val s = spark; import s.implicits._
    root
    spark.sql(
      "CREATE TABLE gnest.default.nrz (id BIGINT, meta STRUCT<lang: STRING, n: INT>)")
    Seq("de", "en", "fr").foreach { lang =>
      spark.sql(
        s"""INSERT INTO gnest.default.nrz
           |SELECT id, named_struct('lang', '$lang', 'n', CAST(id % 97 AS INT))
           |FROM range(0, 200) AS t(id)""".stripMargin)
    }
    spark.sql("ALTER TABLE gnest.default.nrz RENAME COLUMN meta.lang TO lc")
    // zone maps key the PHYSICAL dotted leaf; the pushed filter arrives
    // logical and must translate — exactly 1 of 3 files survives planning
    val q = spark.sql(
      "SELECT id, meta.lc AS lc FROM gnest.default.nrz WHERE meta.lc = 'en'")
    assert(q.count() == 200L)
    val m = "files=(\\d+)/(\\d+)".r
      .findFirstMatchIn(q.queryExecution.executedPlan.toString)
      .getOrElse(fail("no graft-catalog scan"))
    // each lang's INSERT may split into several files; pruning must keep
    // only the en generation's share (≤ 1/3 of the snapshot)
    assert(m.group(1).toInt * 3 <= m.group(2).toInt,
      s"meta.lc = 'en' must prune to the en-clustered files only, got " +
        s"files=${m.group(1)}/${m.group(2)}")
    // MOR positional vectors + rename: still columnar, values exact
    VersionedTable.deleteWherePositional(spark, s"$root/default/nrz",
      col("id") % 4L === 1L)
    val q2 = spark.sql(
      "SELECT id, meta.lc AS lc FROM gnest.default.nrz WHERE meta.lc = 'en' ORDER BY id")
    SparkTestBase.assertColumnarScan(q2,
      "renamed nested leaf under posdel must stay columnar")
    val g2 = q2.collect()
    assert(g2.length == 150 && g2.forall(r => r.getLong(0) % 4 != 1 && r.getString(1) == "en"))
  }

  test("nested DROP COLUMN: field disappears, new files written without it, mixed generations read") {
    root
    spark.sql(
      "CREATE TABLE gnest.default.ndr (id BIGINT, meta STRUCT<lang: STRING, n: INT, src: STRING>)")
    spark.sql(
      """INSERT INTO gnest.default.ndr VALUES
        |  (1, named_struct('lang', 'en', 'n', 1, 'src', 'a')),
        |  (2, named_struct('lang', 'fr', 'n', 2, 'src', 'b'))""".stripMargin)
    spark.sql("ALTER TABLE gnest.default.ndr DROP COLUMN meta.src")
    val st = spark.table("gnest.default.ndr").schema("meta").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(st.fieldNames.toSeq == Seq("lang", "n"))
    // an INSERT after the drop writes files WITHOUT the field
    spark.sql("INSERT INTO gnest.default.ndr VALUES (3, named_struct('lang', 'de', 'n', 3))")
    // mixed generations: old files carry the dropped bytes (pruned away),
    // new files lack them — both read under the narrowed struct
    val got = spark.sql("SELECT id, meta FROM gnest.default.ndr ORDER BY id").collect()
    assert(got.map(_.getAs[Row]("meta")).toSeq ==
      Seq(Row("en", 1), Row("fr", 2), Row("de", 3)))
    // programmatic read path agrees
    val prog = VersionedTable.read(spark, s"$root/default/ndr")
      .selectExpr("id", "meta.lang").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(prog == Seq((1L, "en"), (2L, "fr"), (3L, "de")))
    // the dropped name is retired: re-adding it is refused
    intercept[Exception] {
      spark.sql("ALTER TABLE gnest.default.ndr ADD COLUMNS (meta.src STRING)")
    }
    // last-field refusal
    spark.sql("ALTER TABLE gnest.default.ndr DROP COLUMN meta.n")
    intercept[Exception] {
      spark.sql("ALTER TABLE gnest.default.ndr DROP COLUMN meta.lang")
    }
  }

  test("multi-change ALTER validates before applying: no half-applied statement") {
    root
    spark.sql(
      "CREATE TABLE gnest.default.atom (id BIGINT, meta STRUCT<lang: STRING>)")
    spark.sql("INSERT INTO gnest.default.atom VALUES (1, named_struct('lang', 'en'))")
    val before = VersionedTable.versions(s"$root/default/atom").size
    // a nested add FOLLOWED by an unsupported change: the statement must
    // refuse up-front, committing NO carrier for the first change
    intercept[Exception] {
      spark.sql(
        "ALTER TABLE gnest.default.atom ADD COLUMNS (meta.src STRING, `a.b` STRING)")
    }
    assert(VersionedTable.versions(s"$root/default/atom").size == before,
      "a refused multi-change ALTER must not leave earlier carriers committed")
    val st = spark.table("gnest.default.atom").schema("meta").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(st.fieldNames.toSeq == Seq("lang"), "no half-applied nested add")
  }

  test("dots in column names are refused at CREATE TABLE") {
    root
    intercept[Exception] {
      spark.sql("CREATE TABLE gnest.default.dotty (`a.b` BIGINT, x STRING)")
    }
    intercept[Exception] {
      spark.sql(
        "CREATE TABLE gnest.default.dotty2 (id BIGINT, m STRUCT<`a.b`: STRING>)")
    }
  }

  test("a graft-table-stored WAV decodes identically to its dataset twin") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "hello nested tables", "en", "unit", 19L),
      (2L, "payload bytes are samples", "en", "unit", 25L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val assets = graft.ops.Multimodal.wavAssetsFromDocuments(docs)
    val direct = graft.ops.Multimodal.decodeAudio(assets)
      .collect().sortBy(_.asset_id)
    val t = s"$root/default/wavs"
    VersionedTable.commit(assets.toDF(), t, append = false)
    val stored = spark.sql(
      "SELECT asset_id, media_type, payload, source FROM gnest.default.wavs")
      .as[graft.ops.Multimodal.MediaAsset]
    val viaTable = graft.ops.Multimodal.decodeAudio(stored)
      .collect().sortBy(_.asset_id)
    assert(viaTable.toSeq == direct.toSeq,
      "the WAV decoded from the graft table must equal the direct decode")
  }
}
