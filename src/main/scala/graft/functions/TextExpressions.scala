package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the Rabin-Karp winnowed rolling-hash
  * fingerprint ([[graft.ops.TextAnalysis.rollingFingerprint]]).
  *
  * The HOF formulation (`transform(sequence(...), window-sum)`) is correct
  * and O(len·k), but evaluates interpreted — one boxed lambda call per
  * window position plus a materialized hash array per row. This expression
  * computes the same five minima (global + 4 quarters) in ONE primitive
  * loop over the string inside whole-stage codegen, allocating nothing per
  * row but the codepoint array.
  *
  * Arithmetic is replicated exactly from the HOF version (and the DuckDB
  * oracle): h(i) = (Σ_{j<k} code(i+j)·(B^j mod P)) mod P, positions past
  * the end contribute 0, npos = max(len-k+1, 1), quarter m = window
  * positions [m·qlen, (m+1)·qlen) with qlen = max(ceil(npos/4), 1) — an
  * empty quarter yields null, matching `array_min(slice(...))` on an empty
  * slice. `code` is the Unicode codepoint, matching `ascii()` per
  * single-char split.
  */
object TextExpressions {

  case class RollingFingerprintExpr(child: Expression, k: Int, p: Long, b: Long)
      extends UnaryExpression {

    private val powers: Array[Long] = Array.iterate(1L, k)(x => x * b % p)

    override def dataType: DataType = StructType(
      StructField("rk_min", LongType, nullable = true) +:
        (0 until 4).map(m => StructField(s"q$m", LongType, nullable = true)))

    override def prettyName: String = "rolling_fingerprint"

    override def nullSafeEval(input: Any): Any = {
      val cps = input.asInstanceOf[UTF8String].toString.codePoints().toArray
      val len = cps.length
      val npos = math.max(len - (k - 1), 1)
      val qlen = math.max(math.ceil(npos / 4.0).toLong, 1L)
      var rkMin = Long.MaxValue
      val qMin = Array.fill(4)(Long.MaxValue)
      var i = 0
      while (i < npos) {
        var h = 0L
        var j = 0
        while (j < k) {
          if (i + j < len) h += cps(i + j).toLong * powers(j)
          j += 1
        }
        h %= p
        if (h < rkMin) rkMin = h
        val q = (i / qlen).toInt
        if (h < qMin(q)) qMin(q) = h
        i += 1
      }
      val out = new Array[Any](5)
      out(0) = rkMin
      var m = 0
      while (m < 4) {
        out(m + 1) = if (qMin(m) == Long.MaxValue) null else qMin(m)
        m += 1
      }
      new GenericInternalRow(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, s => {
        val cps = ctx.freshName("cps")
        val len = ctx.freshName("len")
        val npos = ctx.freshName("npos")
        val qlen = ctx.freshName("qlen")
        val rkMin = ctx.freshName("rkMin")
        val qMin = ctx.freshName("qMin")
        val h = ctx.freshName("h")
        val i = ctx.freshName("i")
        val j = ctx.freshName("j")
        val q = ctx.freshName("q")
        val out = ctx.freshName("out")
        // the power table is constant for the expression — hoist it to a
        // class field initialized once, not a per-row allocation
        val powsInit = powers.map(x => s"${x}L").mkString(", ")
        val pows = ctx.addMutableState("long[]", "rkPows",
          v => s"$v = new long[] { $powsInit };")
        s"""
           |int[] $cps = $s.toString().codePoints().toArray();
           |int $len = $cps.length;
           |int $npos = Math.max($len - ${k - 1}, 1);
           |long $qlen = Math.max((long) Math.ceil($npos / 4.0), 1L);
           |long $rkMin = Long.MAX_VALUE;
           |long[] $qMin = new long[] {
           |  Long.MAX_VALUE, Long.MAX_VALUE, Long.MAX_VALUE, Long.MAX_VALUE };
           |for (int $i = 0; $i < $npos; $i++) {
           |  long $h = 0L;
           |  for (int $j = 0; $j < $k; $j++) {
           |    if ($i + $j < $len) $h += (long) $cps[$i + $j] * $pows[$j];
           |  }
           |  $h %= ${p}L;
           |  if ($h < $rkMin) $rkMin = $h;
           |  int $q = (int) ($i / $qlen);
           |  if ($h < $qMin[$q]) $qMin[$q] = $h;
           |}
           |Object[] $out = new Object[5];
           |$out[0] = java.lang.Long.valueOf($rkMin);
           |for (int $j = 0; $j < 4; $j++) {
           |  $out[$j + 1] = $qMin[$j] == Long.MAX_VALUE
           |    ? null : java.lang.Long.valueOf($qMin[$j]);
           |}
           |${ev.value} =
           |  new org.apache.spark.sql.catalyst.expressions.GenericInternalRow($out);
           |""".stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): RollingFingerprintExpr =
      copy(child = newChild)
  }

  /** Column-API entry point with the engine's standard RK parameters. */
  def rollingFingerprint(text: Column, k: Int, p: Long, b: Long): Column =
    ColumnBridge.column(RollingFingerprintExpr(ColumnBridge.expression(text), k, p, b))

  /** ORDER-PRESERVING string → u56 mapping: the first 7 UTF-8 bytes
    * packed big-endian into a non-negative long (shorter strings
    * zero-pad). For any two strings a ≤ b bytewise, u56(a) ≤ u56(b) —
    * bytewise UTF-8 order IS Spark's binary-collation string order, so
    * this is exactly the integral surrogate Z-ORDER range-bucketing
    * needs for string clustering columns (ties beyond 7 bytes collapse
    * into one bucket, which only loosens the layout, never corrupts it:
    * zone maps record the real truncated byte bounds separately). Seven
    * bytes, not eight, so the value stays non-negative and the bucket
    * arithmetic `(v - lo) * 256 / span` cannot overflow signed math.
    */
  case class StrPrefixU64Expr(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "str_prefix_u64"

    override def nullSafeEval(input: Any): Any = {
      val b = input.asInstanceOf[UTF8String].getBytes
      var v = 0L
      var i = 0
      while (i < 7) {
        v = (v << 8) | (if (i < b.length) b(i) & 0xffL else 0L)
        i += 1
      }
      v
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, s => {
        val b = ctx.freshName("bytes")
        val v = ctx.freshName("v")
        val i = ctx.freshName("i")
        s"""
           |byte[] $b = $s.getBytes();
           |long $v = 0L;
           |for (int $i = 0; $i < 7; $i++) {
           |  $v = ($v << 8) | ($i < $b.length ? ($b[$i] & 0xffL) : 0L);
           |}
           |${ev.value} = $v;
           |""".stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): StrPrefixU64Expr =
      copy(child = newChild)
  }

  /** Column-API entry point for the Z-ORDER string surrogate. */
  def strPrefixU64(text: Column): Column =
    ColumnBridge.column(StrPrefixU64Expr(ColumnBridge.expression(text)))

  /** Character shingles: `substring(text, i, width)` for i = 1, 1+step, …
    * ≤ max(len-width+1, 1) — the same values as the HOF formulation
    * `transform(sequence(1, npos, step), i -> substring(text, i, width))`
    * (and the DuckDB `list_transform(range(...))` oracle), but generated
    * in one codegen loop instead of an interpreted lambda per position.
    * Substring semantics are SQL's (codepoint-based, via
    * `UTF8String.substringSQL`), so multibyte text shingles identically
    * to the built-in.
    */
  case class ShinglesExpr(child: Expression, width: Int, step: Int)
      extends UnaryExpression {

    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType, containsNull = false)

    override def prettyName: String = "shingles"

    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String]
      val len = s.numChars()
      val npos = math.max(len - (width - 1), 1)
      val n = (npos - 1) / step + 1
      val out = new Array[Any](n)
      var i = 0
      while (i < n) {
        out(i) = s.substringSQL(i * step + 1, width)
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, s => {
        val len = ctx.freshName("len")
        val npos = ctx.freshName("npos")
        val n = ctx.freshName("n")
        val out = ctx.freshName("out")
        val i = ctx.freshName("i")
        s"""
           |int $len = $s.numChars();
           |int $npos = Math.max($len - ${width - 1}, 1);
           |int $n = ($npos - 1) / $step + 1;
           |Object[] $out = new Object[$n];
           |for (int $i = 0; $i < $n; $i++) {
           |  $out[$i] = $s.substringSQL($i * $step + 1, $width);
           |}
           |${ev.value} =
           |  new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
           |""".stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): ShinglesExpr =
      copy(child = newChild)
  }

  def shingles(text: Column, width: Int, step: Int): Column =
    ColumnBridge.column(ShinglesExpr(ColumnBridge.expression(text), width, step))

  /** MinHash minima over a shingle array in one generated loop: for each
    * element, hv = the first 4 bytes of its md5 digest as an unsigned
    * 32-bit value (exactly `conv(substring(md5(s), 1, 8), 16, 10)` — the
    * hex prefix IS the leading digest bytes), then per hash k the running
    * min of `(a_k·hv + b_k) mod p`. Replaces the
    * `array_min(transform(transform(sh, md5…), affine…))` HOF chain of the
    * banded-signature path, which evaluated interpreted — one boxed lambda
    * call per (shingle, hash) plus a materialized hash array per row
    * (r20, guide §1.2 step 2: per-task work). The affine operands are all
    * non-negative (a_k < 2^20, hv < 2^32 — products < 2^52), so `%` equals
    * `pmod` and nothing overflows. Empty arrays yield all-null minima,
    * matching `array_min` over an empty transform; the digest instance is
    * allocated once per task, not per row.
    */
  case class MinhashMinsExpr(
      child: Expression, as: Seq[Long], bs: Seq[Long], p: Long)
      extends UnaryExpression {
    require(as.length == bs.length && as.nonEmpty, "one (a, b) pair per hash")

    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(LongType, containsNull = true)

    override def prettyName: String = "minhash_mins"

    @transient private lazy val md =
      java.security.MessageDigest.getInstance("MD5")

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val n = arr.numElements()
      val k = as.length
      val mins = Array.fill(k)(Long.MaxValue)
      var i = 0
      while (i < n) {
        val d = md.digest(arr.getUTF8String(i).getBytes)
        val hv = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        var j = 0
        while (j < k) {
          val m = (as(j) * hv + bs(j)) % p
          if (m < mins(j)) mins(j) = m
          j += 1
        }
        i += 1
      }
      val out = new Array[Any](k)
      var j = 0
      while (j < k) {
        out(j) = if (n == 0) null else mins(j)
        j += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, s => {
        val k = as.length
        val aInit = as.map(x => s"${x}L").mkString(", ")
        val bInit = bs.map(x => s"${x}L").mkString(", ")
        val aF = ctx.addMutableState("long[]", "mmA",
          v => s"$v = new long[] { $aInit };")
        val bF = ctx.addMutableState("long[]", "mmB",
          v => s"$v = new long[] { $bInit };")
        val mdF = ctx.addMutableState("java.security.MessageDigest", "mmMd",
          v => s"""try { $v = java.security.MessageDigest.getInstance("MD5"); }
                  |catch (java.security.NoSuchAlgorithmException e) {
                  |  throw new RuntimeException(e); }""".stripMargin)
        val n = ctx.freshName("n")
        val mins = ctx.freshName("mins")
        val i = ctx.freshName("i")
        val j = ctx.freshName("j")
        val d = ctx.freshName("d")
        val hv = ctx.freshName("hv")
        val m = ctx.freshName("m")
        val out = ctx.freshName("out")
        // one shift per statement: a generated line that starts with `|`
        // loses it to the enclosing operator's stripMargin, and Janino then
        // reads the parenthesized term before it as a cast
        s"""
           |int $n = $s.numElements();
           |long[] $mins = new long[$k];
           |java.util.Arrays.fill($mins, Long.MAX_VALUE);
           |for (int $i = 0; $i < $n; $i++) {
           |  byte[] $d = $mdF.digest($s.getUTF8String($i).getBytes());
           |  long $hv = $d[0] & 0xffL;
           |  $hv = ($hv << 8) | ($d[1] & 0xffL);
           |  $hv = ($hv << 8) | ($d[2] & 0xffL);
           |  $hv = ($hv << 8) | ($d[3] & 0xffL);
           |  for (int $j = 0; $j < $k; $j++) {
           |    long $m = ($aF[$j] * $hv + $bF[$j]) % ${p}L;
           |    if ($m < $mins[$j]) $mins[$j] = $m;
           |  }
           |}
           |Object[] $out = new Object[$k];
           |for (int $j = 0; $j < $k; $j++) {
           |  $out[$j] = $n == 0 ? null : (Object) java.lang.Long.valueOf($mins[$j]);
           |}
           |${ev.value} =
           |  new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
           |""".stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): MinhashMinsExpr =
      copy(child = newChild)
  }

  def minhashMins(sh: Column, as: Seq[Long], bs: Seq[Long], p: Long): Column =
    ColumnBridge.column(MinhashMinsExpr(ColumnBridge.expression(sh), as, bs, p))

  /** Lowercase hex rendering of the first `hexChars`/2 md5 digest bytes —
    * exactly `substring(md5(s), 1, hexChars)`. Shared by interpreted and
    * generated code paths of [[HexNgramsExpr]]. */
  def md5HexPrefix(md: java.security.MessageDigest, s: String, hexChars: Int): UTF8String = {
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = new Array[Byte](hexChars)
    val digits = "0123456789abcdef"
    var i = 0
    while (i < hexChars) {
      val b = d(i / 2) & 0xff
      out(i) = digits.charAt(if (i % 2 == 0) b >>> 4 else b & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** The error of an n-gram expression handed fewer than `n` tokens: its
    * callers filter `size(ws) >= n`, so a shorter input is a caller bug,
    * and no output would match the HOF formulation there. */
  def tooFewTokens(expr: String, n: Int, len: Int): IllegalArgumentException =
    new IllegalArgumentException(
      s"$expr needs at least $n tokens per row, got $len: filter size(ws) >= $n first")

  /** Word n-grams hashed to `hexChars`-char md5 hex prefixes in one
    * generated loop — exactly
    * `transform(sequence(1, size(ws) − n + 1), i →
    *    substring(md5(concat_ws(" ", slice(ws, i, n))), 1, hexChars))`
    * on its domain, inputs with ≥ n tokens. Callers filter
    * `size(ws) >= n` first; a shorter input throws ([[tooFewTokens]]), as
    * the HOF's descending `sequence` there has no meaning to match. The
    * HOF formulation evaluated interpreted: a boxed lambda, a slice
    * allocation, and a concat per window position (r20, guide §1.2
    * step 2). Used by the AllPairs set-similarity shingler and the
    * ExactSubstr gram positions.
    */
  case class HexNgramsExpr(child: Expression, n: Int, hexChars: Int)
      extends UnaryExpression {
    require(hexChars > 0 && hexChars <= 32, "md5 yields 32 hex chars")

    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType, containsNull = false)

    override def prettyName: String = "hex_ngrams"

    @transient private lazy val md =
      java.security.MessageDigest.getInstance("MD5")

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val len = arr.numElements()
      if (len < n) throw TextExpressions.tooFewTokens(prettyName, n, len)
      val out = new Array[Any](len - n + 1)
      var i = 0
      while (i < out.length) {
        val sb = new java.lang.StringBuilder()
        var j = i
        while (j < i + n) {
          if (j > i) sb.append(' ')
          sb.append(arr.getUTF8String(j).toString)
          j += 1
        }
        out(i) = TextExpressions.md5HexPrefix(md, sb.toString, hexChars)
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val len = ctx.freshName("len")
        val out = ctx.freshName("out")
        val sb = ctx.freshName("sb")
        val i = ctx.freshName("i")
        val j = ctx.freshName("j")
        val md = ctx.addMutableState("java.security.MessageDigest", "hexNgramMd5",
          v => s"""try { $v = java.security.MessageDigest.getInstance("MD5"); }
                  |catch (java.security.NoSuchAlgorithmException e) {
                  |  throw new RuntimeException(e);
                  |}""".stripMargin)
        s"""
           |int $len = $a.numElements();
           |if ($len < $n) {
           |  throw graft.functions.TextExpressions.tooFewTokens("$prettyName", $n, $len);
           |}
           |Object[] $out = new Object[$len - ${n - 1}];
           |for (int $i = 0; $i < $out.length; $i++) {
           |  StringBuilder $sb = new StringBuilder();
           |  for (int $j = $i; $j < $i + $n; $j++) {
           |    if ($j > $i) $sb.append(' ');
           |    $sb.append($a.getUTF8String($j).toString());
           |  }
           |  $out[$i] = graft.functions.TextExpressions.md5HexPrefix(
           |    $md, $sb.toString(), $hexChars);
           |}
           |${ev.value} =
           |  new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
           |""".stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): HexNgramsExpr =
      copy(child = newChild)
  }

  def hexNgrams(words: Column, n: Int, hexChars: Int): Column =
    ColumnBridge.column(HexNgramsExpr(ColumnBridge.expression(words), n, hexChars))

  /** Position-masked n-gram variant hashes for fuzzy decontamination —
    * exactly the nested-HOF form
    * `flatten(transform(sequence(1, len−n+1), i →
    *    transform(sequence(-1, n−1), d → struct(i, d, hash(masked gram)))))`
    * where mask d = −1 is the unmasked gram and d ∈ [0, n) replaces the
    * d-th gram token with "#", hashed to a `hexChars`-char md5 prefix —
    * in ONE generated loop per row. The HOF form paid two nested boxed
    * lambdas, two slice allocations and a concat per (window, mask).
    * Callers filter len ≥ n; a shorter input throws ([[tooFewTokens]]),
    * since the HOF's `sequence(1, len−n+1)` runs DESCENDING below that.
    */
  case class FuzzyVariantsExpr(child: Expression, n: Int, hexChars: Int)
      extends UnaryExpression {

    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(
        StructType(Seq(
          StructField("pos", org.apache.spark.sql.types.IntegerType, nullable = false),
          StructField("d", org.apache.spark.sql.types.IntegerType, nullable = false),
          StructField("vh", org.apache.spark.sql.types.StringType, nullable = true))),
        containsNull = false)

    override def prettyName: String = "fuzzy_variants"

    @transient private lazy val md =
      java.security.MessageDigest.getInstance("MD5")

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val len = arr.numElements()
      if (len < n) throw TextExpressions.tooFewTokens(prettyName, n, len)
      val w = len - n + 1
      val out = new Array[Any](w * (n + 1))
      var idx = 0
      var i = 0
      while (i < w) {
        var d = -1
        while (d < n) {
          val sb = new java.lang.StringBuilder()
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(' ')
            if (j == d) sb.append('#')
            else sb.append(arr.getUTF8String(i + j).toString)
            j += 1
          }
          out(idx) = new GenericInternalRow(Array[Any](
            i + 1, d, TextExpressions.md5HexPrefix(md, sb.toString, hexChars)))
          idx += 1
          d += 1
        }
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val len = ctx.freshName("len")
        val w = ctx.freshName("w")
        val out = ctx.freshName("out")
        val idx = ctx.freshName("idx")
        val i = ctx.freshName("i")
        val d = ctx.freshName("d")
        val j = ctx.freshName("j")
        val sb = ctx.freshName("sb")
        val md = ctx.addMutableState("java.security.MessageDigest", "fuzzyMd5",
          v => s"""try { $v = java.security.MessageDigest.getInstance("MD5"); }
                  |catch (java.security.NoSuchAlgorithmException e) {
                  |  throw new RuntimeException(e);
                  |}""".stripMargin)
        s"""
           |int $len = $a.numElements();
           |if ($len < $n) {
           |  throw graft.functions.TextExpressions.tooFewTokens("$prettyName", $n, $len);
           |}
           |int $w = $len - ${n - 1};
           |Object[] $out = new Object[$w * ${n + 1}];
           |int $idx = 0;
           |for (int $i = 0; $i < $w; $i++) {
           |  for (int $d = -1; $d < $n; $d++) {
           |    StringBuilder $sb = new StringBuilder();
           |    for (int $j = 0; $j < $n; $j++) {
           |      if ($j > 0) $sb.append(' ');
           |      if ($j == $d) $sb.append('#');
           |      else $sb.append($a.getUTF8String($i + $j).toString());
           |    }
           |    $out[$idx++] =
           |      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
           |        new Object[] { java.lang.Integer.valueOf($i + 1),
           |          java.lang.Integer.valueOf($d),
           |          graft.functions.TextExpressions.md5HexPrefix(
           |            $md, $sb.toString(), $hexChars) });
           |  }
           |}
           |${ev.value} =
           |  new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
           |""".stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): FuzzyVariantsExpr =
      copy(child = newChild)
  }

  def fuzzyVariants(words: Column, n: Int, hexChars: Int): Column =
    ColumnBridge.column(FuzzyVariantsExpr(ColumnBridge.expression(words), n, hexChars))

  /** Lowercase alphanumeric tokens of at least `minLen` chars — the same
    * values as `filter(split(lower(text), "[^a-z0-9]+"), t => length(t) >=
    * minLen)` (and the DuckDB `list_filter(string_split_regex(lower(...)))`
    * oracle), in one generated pass. Lowercasing goes through
    * `UTF8String.toLowerCase` — identical to the `lower()` builtin — and
    * the character class is pure ASCII `[a-z0-9]`, so runs never split a
    * multibyte character (every non-ASCII unit is a separator on both
    * formulations).
    */
  case class TokensExpr(child: Expression, minLen: Int)
      extends UnaryExpression {

    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType, containsNull = false)

    override def prettyName: String = "alnum_tokens"

    override def nullSafeEval(input: Any): Any = {
      val str = input.asInstanceOf[UTF8String].toLowerCase.toString
      val out = new java.util.ArrayList[Object]()
      var i = 0
      val n = str.length
      while (i < n) {
        val c = str.charAt(i)
        if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
          val start = i
          while (i < n && {
            val d = str.charAt(i); (d >= 'a' && d <= 'z') || (d >= '0' && d <= '9')
          }) i += 1
          if (i - start >= minLen)
            out.add(UTF8String.fromString(str.substring(start, i)))
        } else i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, s => {
        val str = ctx.freshName("str")
        val out = ctx.freshName("out")
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val c = ctx.freshName("c")
        val d = ctx.freshName("d")
        val start = ctx.freshName("start")
        s"""
           |String $str = $s.toLowerCase().toString();
           |java.util.ArrayList<Object> $out = new java.util.ArrayList<Object>();
           |int $n = $str.length();
           |int $i = 0;
           |while ($i < $n) {
           |  char $c = $str.charAt($i);
           |  if (($c >= 'a' && $c <= 'z') || ($c >= '0' && $c <= '9')) {
           |    int $start = $i;
           |    while ($i < $n) {
           |      char $d = $str.charAt($i);
           |      if (($d >= 'a' && $d <= 'z') || ($d >= '0' && $d <= '9')) $i++;
           |      else break;
           |    }
           |    if ($i - $start >= $minLen) {
           |      $out.add(org.apache.spark.unsafe.types.UTF8String.fromString(
           |        $str.substring($start, $i)));
           |    }
           |  } else $i++;
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
           |  $out.toArray());
           |""".stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): TokensExpr =
      copy(child = newChild)
  }

  def alnumTokens(text: Column, minLen: Int = 1): Column =
    ColumnBridge.column(TokensExpr(ColumnBridge.expression(text), minLen))

  /** Hashed word n-grams: for token array `words`, emits
    * `hash(words[i..i+n) joined by ' ')` for i = 0 … max(len-n, 0) — the
    * same values as the HOF formulation
    * `transform(sequence(1, greatest(size-n+1, 1)), i ->
    * conv(substring(md5(concat_ws(' ', slice(words, i, n))), 1, 15), 16,
    * 10))` (and its DuckDB twin), in one generated loop. The hash is the
    * first 15 hex chars of md5 as a long (60 bits, sign-safe) — the
    * engine's standard oracle-replayable hash scheme. A short array
    * (fewer than n tokens) emits one gram over whatever is there,
    * matching `greatest(..., 1)`.
    */
  case class HashedNgramsExpr(child: Expression, n: Int)
      extends UnaryExpression {

    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = false)

    override def prettyName: String = "hashed_ngrams"

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val len = arr.numElements()
      val out = new Array[Any](math.max(len - n + 1, 1))
      val md = java.security.MessageDigest.getInstance("MD5")
      var i = 0
      while (i < out.length) {
        val sb = new java.lang.StringBuilder()
        var j = i
        val end = math.min(i + n, len)
        while (j < end) {
          if (j > i) sb.append(' ')
          sb.append(arr.getUTF8String(j).toString)
          j += 1
        }
        out(i) = TextExpressions.md5Prefix60(md, sb.toString)
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val len = ctx.freshName("len")
        val out = ctx.freshName("out")
        val sb = ctx.freshName("sb")
        val i = ctx.freshName("i")
        val j = ctx.freshName("j")
        val end = ctx.freshName("end")
        // one digest instance per generated class, not per row (digest()
        // resets it after each call, so reuse across rows is safe)
        val md = ctx.addMutableState("java.security.MessageDigest", "ngramMd5",
          v => s"""try { $v = java.security.MessageDigest.getInstance("MD5"); }
                  |catch (java.security.NoSuchAlgorithmException e) {
                  |  throw new RuntimeException(e);
                  |}""".stripMargin)
        s"""
           |int $len = $a.numElements();
           |Object[] $out = new Object[Math.max($len - ${n - 1}, 1)];
           |for (int $i = 0; $i < $out.length; $i++) {
           |  StringBuilder $sb = new StringBuilder();
           |  int $end = Math.min($i + $n, $len);
           |  for (int $j = $i; $j < $end; $j++) {
           |    if ($j > $i) $sb.append(' ');
           |    $sb.append($a.getUTF8String($j).toString());
           |  }
           |  $out[$i] = java.lang.Long.valueOf(
           |    graft.functions.TextExpressions.md5Prefix60($md, $sb.toString()));
           |}
           |${ev.value} =
           |  new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
           |""".stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): HashedNgramsExpr =
      copy(child = newChild)
  }

  /** First 60 bits (15 hex chars) of md5(s) as a long — shared by the
    * interpreted and generated paths of [[HashedNgramsExpr]]. The digest
    * instance is reset by `digest()` itself, so reuse across calls is safe.
    */
  def md5Prefix60(md: java.security.MessageDigest, s: String): Long = {
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // 15 hex chars = 7.5 bytes: top 7 bytes + high nibble of the 8th
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) & 0xf0L) >> 4)
  }

  def hashedNgrams(words: Column, n: Int): Column =
    ColumnBridge.column(HashedNgramsExpr(ColumnBridge.expression(words), n))

  /** Jaccard similarity |A∩B| / |A∪B| of two string arrays under DISTINCT
    * semantics — the same value as
    * `size(array_intersect(a,b)) / size(array_union(a,b))` but computed
    * from two hash sets without materializing the intersection/union
    * arrays (which that formulation builds only to take their sizes).
    * Duplicate elements in either input are ignored, matching the
    * distinct semantics of `array_intersect`/`array_union`. Both-empty
    * inputs yield 0.0 (the built-in formulation's 0/0 would be
    * null-after-division; callers threshold above zero anyway, and 0.0
    * keeps the output non-null).
    */
  case class ArrayJaccardExpr(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

    override def dataType: DataType = org.apache.spark.sql.types.DoubleType
    override def prettyName: String = "array_jaccard"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val xa = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val xb = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val sa = new java.util.HashSet[Any]()
      var i = 0
      while (i < xa.numElements()) { sa.add(xa.getUTF8String(i)); i += 1 }
      val sb = new java.util.HashSet[Any]()
      i = 0
      while (i < xb.numElements()) { sb.add(xb.getUTF8String(i)); i += 1 }
      var inter = 0
      val it = sb.iterator()
      while (it.hasNext) { if (sa.contains(it.next())) inter += 1 }
      val union = sa.size() + sb.size() - inter
      if (union == 0) 0.0 else inter.toDouble / union.toDouble
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val sa = ctx.freshName("sa")
        val sb = ctx.freshName("sb")
        val i = ctx.freshName("i")
        val it = ctx.freshName("it")
        val inter = ctx.freshName("inter")
        val union = ctx.freshName("union")
        s"""
           |java.util.HashSet<Object> $sa = new java.util.HashSet<Object>();
           |for (int $i = 0; $i < $a.numElements(); $i++) {
           |  $sa.add($a.getUTF8String($i));
           |}
           |java.util.HashSet<Object> $sb = new java.util.HashSet<Object>();
           |for (int $i = 0; $i < $b.numElements(); $i++) {
           |  $sb.add($b.getUTF8String($i));
           |}
           |int $inter = 0;
           |java.util.Iterator<Object> $it = $sb.iterator();
           |while ($it.hasNext()) { if ($sa.contains($it.next())) $inter++; }
           |int $union = $sa.size() + $sb.size() - $inter;
           |${ev.value} = $union == 0 ? 0.0 : (double) $inter / (double) $union;
           |""".stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): ArrayJaccardExpr =
      copy(left = newLeft, right = newRight)
  }

  def arrayJaccard(a: Column, b: Column): Column =
    ColumnBridge.column(ArrayJaccardExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
