package graft

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.QueryCache

/** The contract of [[QueryCache.fixture]]: one build per key, kinds kept
  * apart, a failed build retried, and builds free to ask for the catalog
  * root. Each test uses its own kind, so the JVM-wide memo never carries a
  * fixture from one test into another.
  */
class QueryCacheSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def input(kind: String) = {
    import spark.implicits._
    Seq((1L, kind)).toDF("id", "kind")
  }

  test("one key builds once, across sequential and concurrent calls") {
    val builds = new AtomicInteger()
    def call(): String = QueryCache.fixture("qc_once", input("qc_once")) { f =>
      builds.incrementAndGet()
      Thread.sleep(200) // keep the build open while the other callers arrive
      f.tag
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val calls = (1 to 4).map(_ => pool.submit(() => call()))
      val tags = calls.map(_.get()) :+ call()
      assert(builds.get == 1)
      assert(tags.distinct.size == 1)
    } finally pool.shutdown()
  }

  test("different kinds over the same inputs do not collide") {
    val df = input("qc_kinds")
    val a = QueryCache.fixture("qc_kind_a", df)(f => s"a_${f.tag}")
    val b = QueryCache.fixture("qc_kind_b", df)(f => s"b_${f.tag}")
    assert(a.startsWith("a_") && b.startsWith("b_"))
    assert(QueryCache.fixture("qc_kind_a", df)(_ => "rebuilt") == a)
  }

  test("a build that throws memoizes nothing and is retried on the next call") {
    val df = input("qc_retry")
    val builds = new AtomicInteger()
    val err = intercept[IllegalStateException] {
      QueryCache.fixture("qc_retry", df) { _ =>
        builds.incrementAndGet()
        throw new IllegalStateException("first build fails")
      }
    }
    assert(err.getMessage == "first build fails")
    val ok = QueryCache.fixture("qc_retry", df) { f => builds.incrementAndGet(); f.tag }
    assert(builds.get == 2)
    assert(QueryCache.fixture("qc_retry", df)(_ => "rebuilt") == ok)
  }

  test("a build that asks for the catalog root completes") {
    val df = input("qc_catalog")
    val (name, path) = QueryCache.fixture("qc_catalog", df) { f =>
      val n = f.catalogTable("qc_cat")
      (n, f.catalogPath(n))
    }
    val root = spark.conf.get("spark.sql.catalog.gtab.root")
    assert(spark.conf.get("spark.sql.catalog.gtab") == "graft.sources.GraftCatalog")
    assert(path == s"$root/default/$name")
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(root)))
    // a nested fixture inside a build also completes
    val nested = QueryCache.fixture("qc_outer", df) { _ =>
      QueryCache.fixture("qc_inner", df)(f => f.tag)
    }
    assert(QueryCache.fixture("qc_inner", df)(_ => "rebuilt") == nested)
  }
}
