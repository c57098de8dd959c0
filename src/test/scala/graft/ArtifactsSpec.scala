package graft

import java.io.File
import java.util.concurrent.atomic.AtomicInteger

import graft.core.Artifacts

/** The shared build-once artifact store. Builds here are one-file
  * parquet writes, so every property is checked without running the
  * query layer. Each test uses its own kinds, so entries never leak
  * between tests. */
class ArtifactsSpec extends SparkSpec {

  /** A build that counts its runs and writes `value` as one file. */
  private def writer(runs: AtomicInteger, value: Long): File => Unit =
    root => {
      runs.incrementAndGet()
      spark.range(value, value + 1).coalesce(1).write
        .parquet(root.getAbsolutePath)
    }

  private def read(root: String): Long =
    spark.read.parquet(root).head().getLong(0)

  test("a second call returns the cached root without rebuilding") {
    val runs = new AtomicInteger
    val a = Artifacts.memo(spark, "aspec_hit", "/sfA")(writer(runs, 7))
    val b = Artifacts.memo(spark, "aspec_hit", "/sfA")(writer(runs, 8))
    assert(a == b)
    assert(runs.get == 1)
    assert(read(b) == 7L)
    assert(a == Artifacts.root(spark, "aspec_hit", "/sfA").getAbsolutePath)
  }

  test("deleting the root forces a rebuild into a wiped root") {
    val runs = new AtomicInteger
    val a = Artifacts.memo(spark, "aspec_gone", "/sfA")(writer(runs, 1))
    org.apache.commons.io.FileUtils.deleteDirectory(new File(a))
    val b = Artifacts.memo(spark, "aspec_gone", "/sfA")(writer(runs, 2))
    assert(a == b)
    assert(runs.get == 2)
    assert(read(b) == 2L)
  }

  test("two sf dirs under one kind get distinct roots and neither " +
    "poisons the other's entry") {
    val runsA = new AtomicInteger
    val runsB = new AtomicInteger
    val a = Artifacts.memo(spark, "aspec_dirs", "/sfA")(writer(runsA, 10))
    val b = Artifacts.memo(spark, "aspec_dirs", "/sfB")(writer(runsB, 20))
    assert(a != b)
    assert(Artifacts.memo(spark, "aspec_dirs", "/sfA")(writer(runsA, 11))
      == a)
    assert(Artifacts.memo(spark, "aspec_dirs", "/sfB")(writer(runsB, 21))
      == b)
    assert(runsA.get == 1 && runsB.get == 1)
    assert(read(a) == 10L && read(b) == 20L)
  }

  test("invalidate drops one kind and leaves the other kinds cached") {
    val runs1 = new AtomicInteger
    val runs2 = new AtomicInteger
    Artifacts.memo(spark, "aspec_inv1", "/sfA")(writer(runs1, 1))
    Artifacts.memo(spark, "aspec_inv2", "/sfA")(writer(runs2, 2))
    Artifacts.invalidate(spark, "aspec_inv1", "/sfA")
    val r1 = Artifacts.memo(spark, "aspec_inv1", "/sfA")(writer(runs1, 3))
    val r2 = Artifacts.memo(spark, "aspec_inv2", "/sfA")(writer(runs2, 4))
    assert(runs1.get == 2, "the invalidated kind must rebuild")
    assert(runs2.get == 1, "the other kind must stay cached")
    assert(read(r1) == 3L && read(r2) == 2L)
  }

  test("a build that throws leaves no entry; the next call rebuilds") {
    val runs = new AtomicInteger
    val err = intercept[IllegalStateException] {
      Artifacts.memo(spark, "aspec_fail", "/sfA") { root =>
        writer(runs, 1)(root)
        throw new IllegalStateException("build failed")
      }
    }
    assert(err.getMessage == "build failed")
    val r = Artifacts.memo(spark, "aspec_fail", "/sfA")(writer(runs, 2))
    assert(runs.get == 2)
    assert(read(r) == 2L)
  }

  test("a build that memoizes another key neither deadlocks nor " +
    "throws, and both entries are cached afterwards") {
    val inner = new AtomicInteger
    val outer = new AtomicInteger
    def innerRoot() =
      Artifacts.memo(spark, "aspec_inner", "/sfA")(writer(inner, 5))
    def outerRoot() = Artifacts.memo(spark, "aspec_outer", "/sfA") {
      root =>
        outer.incrementAndGet()
        spark.read.parquet(innerRoot()).coalesce(1).write
          .parquet(root.getAbsolutePath)
    }
    val o = outerRoot()
    assert(read(o) == 5L)
    outerRoot()
    innerRoot()
    assert(outer.get == 1 && inner.get == 1)
  }

  test("concurrent callers of one key share a single build") {
    val runs = new AtomicInteger
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (0 until 4).map(_ => pool.submit(
        new java.util.concurrent.Callable[String] {
          def call(): String =
            Artifacts.memo(spark, "aspec_race", "/sfA")(writer(runs, 9))
        }))
      val roots = futures.map(_.get()).distinct
      assert(roots.size == 1)
      assert(runs.get == 1)
    } finally pool.shutdown()
  }
}
