package graft

import graft.functions.TextExpressions
import graft.ops.TextAnalysis
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the native text expressions against the HOF formulations they
  * replaced — same values on the codegen AND interpreted paths, including
  * the edge cases (short strings, empty strings, multibyte codepoints,
  * nulls) where a hand-rolled loop most plausibly diverges.
  */
class TextExpressionsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def docs = {
    val sparkS = spark
    import sparkS.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "tiny"),   // shorter than one shingle/window
      (3L, ""),       // empty
      (4L, "abcdefgh"), // exactly one window
      (5L, "héllo wörld multibyte ünïcode text here"), // non-ASCII codepoints
      (6L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
  }

  private def hofShingles(width: Int, step: Int) =
    transform(
      sequence(lit(1), greatest(length(col("text")) - (width - 1), lit(1)), lit(step)),
      i => substring(col("text"), i, lit(width)))

  test("shingles matches the HOF formulation incl. multibyte and edge lengths") {
    val rows = docs.filter(col("text").isNotNull)
      .select(
        col("doc_id"),
        TextExpressions.shingles(col("text"), 8, 4).as("native"),
        hofShingles(8, 4).as("hof"))
      .orderBy("doc_id")
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2), s"doc ${r.getLong(0)}")
    }
    // Deliberate improvement over the HOF twin on NULL text: the native
    // expression is null-intolerant (null in → null out), where the HOF
    // produced the surprising [null] (sequence ignores the null length).
    val nullRow = docs.filter(col("text").isNull)
      .select(TextExpressions.shingles(col("text"), 8, 4)).collect()(0)
    assert(nullRow.isNullAt(0))
  }

  test("shingles survives the interpreted path") {
    val expected = docs.filter(col("text").isNotNull)
      .select(TextExpressions.shingles(col("text"), 8, 4)).collect()
      .map(_.getSeq[String](0))
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
                "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val interpreted = docs.filter(col("text").isNotNull)
        .select(TextExpressions.shingles(col("text"), 8, 4)).collect()
        .map(_.getSeq[String](0))
      assert(interpreted.toSeq == expected.toSeq)
    }
  }

  test("alnumTokens matches the split/filter HOF formulation") {
    for (minLen <- Seq(1, 3)) {
      val rows = docs.filter(col("text").isNotNull)
        .select(
          col("doc_id"),
          TextExpressions.alnumTokens(col("text"), minLen).as("native"),
          filter(
            split(lower(col("text")), "[^a-z0-9]+"),
            t => length(t) >= minLen).as("hof"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[String](1) == r.getSeq[String](2),
          s"minLen=$minLen doc ${r.getLong(0)}")
      }
    }
    // multibyte separators: 'héllo' splits into 'h' and 'llo' on both sides
    val m = docs.filter(col("doc_id") === 5)
      .select(TextExpressions.alnumTokens(col("text"), 1)).collect()(0)
    assert(m.getSeq[String](0).take(3) == Seq("h", "llo", "w"))
  }

  test("arrayJaccard matches the intersect/union formulation, dups ignored") {
    val sparkS = spark
    import sparkS.implicits._
    val pairs = Seq(
      (Seq("a", "b", "c"), Seq("b", "c", "d")),        // 2/4
      (Seq("a", "a", "b"), Seq("b", "b", "a")),        // dups: 2/2 = 1.0
      (Seq("a"), Seq("b")),                            // 0/2
      (Seq.empty[String], Seq.empty[String]),          // both empty -> 0.0
      (Seq("a", "b"), Seq.empty[String]))              // 0/2
      .toDF("a", "b")
    val r = pairs.select(
      TextExpressions.arrayJaccard(col("a"), col("b")).as("native"),
      try_divide(size(array_intersect(col("a"), col("b"))).cast("double"),
        size(array_union(col("a"), col("b"))).cast("double")).as("builtin"))
      .collect()
    r.foreach { row =>
      // try_divide yields null on the both-empty 0/0 row; native yields 0.0
      val builtin = if (row.isNullAt(1)) 0.0 else row.getDouble(1)
      assert(row.getDouble(0) == builtin)
    }
    assert(r(1).getDouble(0) == 1.0)
  }

  test("rolling fingerprint matches the HOF formulation on edge cases") {
    import TextAnalysis.{RkB, RkK, RkP, rkPowers}
    // the pre-native HOF formulation, inlined here as the independent twin
    val withCodes = docs.filter(col("text").isNotNull).select(
      col("doc_id"),
      length(col("text")).as("len"),
      transform(split(col("text"), ""), c => coalesce(ascii(c), lit(0)).cast("long"))
        .as("codes"))
    val npos = greatest(col("len") - (RkK - 1), lit(1))
    val hashes = transform(sequence(lit(1), npos), i =>
      (0 until RkK).map { j =>
        coalesce(try_element_at(col("codes"), i + lit(j)), lit(0L)) * lit(rkPowers(j))
      }.reduce(_ + _) % lit(RkP))
    val withHashes = withCodes.select(
      col("doc_id"),
      hashes.as("hs"),
      greatest(ceil(npos / lit(4.0)).cast("long"), lit(1L)).as("qlen"))
    val quarters = (0 until 4).map(m =>
      array_min(slice(col("hs"), (lit(m.toLong) * col("qlen") + 1L).cast("int"),
        col("qlen").cast("int"))).as(s"q$m"))
    val hof = withHashes
      .select(col("doc_id") +: array_min(col("hs")).as("rk_min") +: quarters: _*)
      .orderBy("doc_id").collect()

    val native = TextAnalysis.rollingFingerprint(docs.filter(col("text").isNotNull))
      .collect()
    assert(native.length == hof.length)
    native.zip(hof).foreach { case (n, h) =>
      (0 until 6).foreach { i =>
        assert(n.isNullAt(i) == h.isNullAt(i), s"null mismatch col $i doc ${n.getLong(0)}")
        if (!n.isNullAt(i) && i > 0)
          assert(n.getLong(i) == h.getLong(i), s"col $i doc ${n.getLong(0)}")
      }
    }
  }

  test("rolling fingerprint survives the interpreted path") {
    val expected = TextAnalysis.rollingFingerprint(docs.filter(col("text").isNotNull))
      .collect().map(_.toSeq)
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
                "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val interpreted = TextAnalysis.rollingFingerprint(docs.filter(col("text").isNotNull))
        .collect().map(_.toSeq)
      assert(interpreted.toSeq == expected.toSeq)
    }
  }

  test("strPrefixU64 is order-preserving over bytewise string order") {
    val sparkS = spark
    import sparkS.implicits._
    // adversarial set: shared prefixes, length ties, multibyte, empty,
    // high bytes — bytewise order must survive the u56 mapping
    val vals = Seq("", "a", "ab", "az", "b", "abcdefg", "abcdefgh",
      "abcdefgi", "Customer#1", "Customer#2", "zh", "z", "δoc", "δa",
      "ÿÿ", "0", "~")
    val rows = vals.toDF("s")
      .select(col("s"), TextExpressions.strPrefixU64(col("s")).as("u"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    def byteLt(a: String, b: String): Boolean = {
      val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val d = (x(i) & 0xff) - (y(i) & 0xff)
        if (d != 0) return d < 0
        i += 1
      }
      x.length < y.length
    }
    assert(rows.forall(_._2 >= 0L), "u56 must stay non-negative")
    for ((a, ua) <- rows; (b, ub) <- rows if byteLt(a, b))
      assert(ua <= ub, s"order violated: '$a'($ua) vs '$b'($ub)")
    // strings equal in their first 7 bytes collapse (documented tie)
    val m = rows.toMap
    assert(m("abcdefgh") == m("abcdefgi") && m("abcdefg") == m("abcdefgh"))
    // and the interpreted path agrees with codegen
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
                "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val interp = vals.toDF("s")
        .select(TextExpressions.strPrefixU64(col("s"))).collect().map(_.getLong(0))
      assert(interp.toSeq == rows.map(_._2).toSeq)
    }
  }

  test("every native expression compiles under codegen-only and matches interpreted") {
    val sparkS = spark
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // an RDD-backed input: a local Seq would be folded by
    // ConvertToLocalRelation, which evaluates the projection interpreted
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("other", ArrayType(StringType, containsNull = false))))
    val rows = Seq(
      Row(1L, "the quick brown fox jumps over the lazy dog", Seq("fox", "dog")),
      Row(2L, "tiny", Seq.empty[String]),
      Row(3L, "", Seq("a")),
      Row(4L, "abcdefgh", Seq("abcdefgh", "x")),
      Row(5L, "héllo wörld multibyte ünïcode text here", Seq("wörld", "here")),
      Row(6L, null, null))
    val input = sparkS.createDataFrame(sparkS.sparkContext.parallelize(rows, 2), schema)
    val words = TextExpressions.alnumTokens(col("text"))
    val sh = TextExpressions.shingles(col("text"), 4, 2)
    val exprs = Seq(
      "rolling_fingerprint" -> TextExpressions.rollingFingerprint(col("text"), 5, 1000003L, 257L),
      "str_prefix_u64" -> TextExpressions.strPrefixU64(col("text")),
      "shingles" -> sh,
      "minhash_mins" -> TextExpressions.minhashMins(sh,
        Seq(1000003L, 1000005L, 1000007L), Seq(12345L, 12352L, 12359L), 2147483647L),
      // the n-gram expressions on their domain, as every caller filters it
      "hex_ngrams" -> when(size(words) >= 2, TextExpressions.hexNgrams(words, 2, 16)),
      "fuzzy_variants" -> when(size(words) >= 2, TextExpressions.fuzzyVariants(words, 2, 8)),
      "alnum_tokens" -> words,
      "hashed_ngrams" -> TextExpressions.hashedNgrams(words, 2),
      "array_jaccard" -> TextExpressions.arrayJaccard(words, col("other")))
    def eval(): Map[String, Seq[Seq[Any]]] = exprs.map { case (name, e) =>
      name -> input.select(col("doc_id"), e.as("v")).orderBy("doc_id")
        .collect().map(_.toSeq).toSeq
    }.toMap
    // a generated class that fails to compile throws here instead of
    // silently falling back to interpreted evaluation
    val generated = withSQLConf(
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")(eval())
    val interpreted = withSQLConf(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(eval())
    exprs.foreach { case (name, _) =>
      assert(generated(name) == interpreted(name), s"$name: codegen and interpreted differ")
    }
  }

  test("n-gram expressions fail loudly on fewer than n tokens, codegen and interpreted") {
    val sparkS = spark
    import org.apache.spark.sql.types._
    // RDD-backed, so the projection is not folded away on the driver
    val schema = StructType(Seq(StructField("ws", ArrayType(StringType, containsNull = false))))
    val input = sparkS.createDataFrame(sparkS.sparkContext.parallelize(
      Seq(org.apache.spark.sql.Row(Seq("only", "two"))), 1), schema)
    val exprs = Seq(
      "hex_ngrams" -> TextExpressions.hexNgrams(col("ws"), 3, 16),
      "fuzzy_variants" -> TextExpressions.fuzzyVariants(col("ws"), 3, 16))
    val modes = Seq(
      "codegen" -> Seq(
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.fallback" -> "false"),
      "interpreted" -> Seq(
        "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    for ((name, e) <- exprs; (mode, conf) <- modes) {
      val ex = intercept[Exception](withSQLConf(conf: _*)(input.select(e).collect()))
      val causes = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null).toSeq
      assert(causes.exists(c => c.isInstanceOf[IllegalArgumentException] &&
          c.getMessage.contains(s"$name needs at least 3 tokens per row, got 2")),
        s"$name ($mode): expected the too-few-tokens error, got $ex")
    }
  }

  private def withSQLConf[T](pairs: (String, String)*)(f: => T): T = {
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
