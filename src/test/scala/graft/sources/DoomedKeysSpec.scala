package graft.sources

import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Membership pins for the primitive-specialized tombstone key
  * structures: a row is doomed iff `VersionedTable.read`'s left-anti
  * join drops it, so the sorted-long representation follows Spark's
  * join-key equality — including IEEE edge cases (NaN dooms NaN, -0.0
  * dooms 0.0) — and a probe is picked from the keys' family and the
  * batch vector's type.
  */
class DoomedKeysSpec extends AnyFunSuite {
  import DoomedKeys._

  private def longs(kind: Int, vs: Long*): LongDoomedKeys = {
    val a = vs.toArray
    java.util.Arrays.sort(a)
    new LongDoomedKeys(kind, a)
  }

  test("integral keys: binary-search membership; INT32 and INT64 probes value-match") {
    val k = longs(KindIntegral, 5L, -3L, Long.MaxValue, 0L)
    assert(k.size == 4)
    for (v <- Seq(5L, -3L, Long.MaxValue, 0L)) assert(k.containsBits(v))
    assert(!k.containsBits(4L))
    assert(!k.containsBits(Long.MinValue))
    // INT32 and INT64 are ONE family: a type-widened column mixes INT32
    // data files with an INT64 tombstone, and value equality is what a
    // delete means — an INT vector of the same value matches
    val ints = new OnHeapColumnVector(2, IntegerType)
    ints.putInt(0, 5); ints.putInt(1, 4)
    val p = k.probe("k", IntegerType)
    assert(p(ints, 0) && !p(ints, 1))
  }

  test("double keys: join-key equality — NaN dooms NaN, -0.0 dooms 0.0") {
    val k = longs(KindFloating, doubleBits(1.5), doubleBits(Double.NaN), doubleBits(-0.0))
    assert(k.containsBits(doubleBits(1.5)))
    // every NaN is one key: any NaN probe matches
    assert(k.containsBits(doubleBits(Double.NaN)))
    assert(k.containsBits(doubleBits(
      java.lang.Double.longBitsToDouble(0x7ff8000000000001L))))
    // Spark's join normalizes -0.0 to 0.0, so VersionedTable.read drops
    // a 0.0 row under a -0.0 key and the reader must too
    assert(k.containsBits(doubleBits(-0.0)))
    assert(k.containsBits(doubleBits(0.0)), "-0.0 and 0.0 are one join key")
    assert(!k.containsBits(doubleBits(1.5000001)))
    // a long probe whose value happens to equal a double's bits must not
    // match: the probe of a LONG vector against floating keys fails loudly
    val e = intercept[UnsupportedOperationException](k.probe("x", LongType))
    assert(e.getMessage.contains("column x"), e.getMessage)
  }

  test("float and boolean keys normalize through their bit families") {
    val kf = longs(KindFloating, doubleBits(2.25f.toDouble), doubleBits(Float.NaN.toDouble))
    assert(kf.containsBits(doubleBits(2.25f.toDouble)))
    assert(kf.containsBits(doubleBits(Float.NaN.toDouble)))
    assert(!kf.containsBits(doubleBits(2.26f.toDouble)))
    // a float widens to the double exactly: a FLOAT key dooms the equal
    // DOUBLE value of a widened column, as the join compares them
    assert(kf.containsBits(doubleBits(2.25)))
    val kb = longs(KindBool, 1L)
    assert(kb.containsBits(1L))
    assert(!kb.containsBits(0L))
  }

  test("string keys: UTF8String set with String-probe normalization") {
    val set = new java.util.HashSet[UTF8String]()
    set.add(UTF8String.fromString("a"))
    set.add(UTF8String.fromString("δoc")) // multibyte survives the round trip
    val k = new StringDoomedKeys(set)
    assert(k.size == 2)
    assert(k.containsUtf8(UTF8String.fromString("a")))
    assert(k.containsUtf8(UTF8String.fromString("δoc")))
    assert(!k.containsUtf8(UTF8String.fromString("b")))
    intercept[UnsupportedOperationException](k.probe("s", LongType))
  }

  test("probes compare at the vector's type: decimals unscaled, BINARY as raw bytes") {
    // DECIMAL(9,2) keys held unscaled at scale 2 doom the same values in
    // a DECIMAL(18,2) vector (a same-scale precision widening)
    val kd = new LongDoomedKeys(KindDecimal, Array(125L, 600L), 2)
    val dec = new OnHeapColumnVector(2, DecimalType(18, 2))
    dec.putDecimal(0, Decimal(BigDecimal("1.25"), 18, 2), 18)
    dec.putDecimal(1, Decimal(BigDecimal("1.26"), 18, 2), 18)
    val pd = kd.probe("amt", DecimalType(18, 2))
    assert(pd(dec, 0) && !pd(dec, 1))
    intercept[UnsupportedOperationException](kd.probe("amt", DecimalType(18, 4)))
    // BINARY keys are raw bytes: 0xFE and 0xFF are distinct keys, though
    // both decode to the same replacement character as UTF-8
    val set = new java.util.HashSet[UTF8String]()
    set.add(UTF8String.fromBytes(Array(0xFE.toByte)))
    val kb = new StringDoomedKeys(set)
    val bin = new OnHeapColumnVector(2, BinaryType)
    bin.putByteArray(0, Array(0xFE.toByte)); bin.putByteArray(1, Array(0xFF.toByte))
    val pb = kb.probe("b", BinaryType)
    assert(pb(bin, 0) && !pb(bin, 1))
  }

  test("TombstoneKeys.load builds the primitive structure from a real tombstone file") {
    val spark = graft.SparkTestBase.spark
    import spark.implicits._
    val dir = graft.SparkTestBase.tempDir("graft_doomed_load")
    Seq(3L, 1L, 2L).toDF("k").coalesce(1).write.parquet(s"$dir/ts")
    val file = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/ts"))
      .iterator().next() match {
      case p if p.toString.endsWith(".parquet") => p.toString
      case _ =>
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/ts"))
          .iterator().asScala.map(_.toString).find(_.endsWith(".parquet")).get
    }
    val Seq((name, keys)) = TombstoneKeys.load(Seq(file))
    assert(name == "k")
    val lk = keys.asInstanceOf[LongDoomedKeys]
    assert(lk.kind == KindIntegral && lk.size == 3)
    assert(Seq(1L, 2L, 3L).forall(lk.containsBits))
    assert(!lk.containsBits(0L) && !lk.containsBits(4L))
    // the per-executor cache serves the SAME instance on a re-load —
    // tombstone files are immutable, so tasks share one decoded set
    val Seq((_, again)) = TombstoneKeys.load(Seq(file))
    assert(again eq keys, "second load must hit the executor cache")
  }
}
