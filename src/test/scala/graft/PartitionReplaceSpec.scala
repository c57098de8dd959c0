package graft

import java.io.File

import org.apache.spark.sql.functions._

import graft.core.PartitionReplace

/** The in-place partition rewrite every stored index goes through,
  * checked on a three-partition store at file level. */
class PartitionReplaceSpec extends SparkSpec {
  import spark.implicits._

  /** Runs `body` on a fresh store `p=0`, `p=1`, `p=2`, two rows each. */
  private def withStore(body: File => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft_prspec")
      .toFile
    try {
      val store = new File(root, "store")
      Seq((1L, 0), (2L, 0), (3L, 1), (4L, 1), (5L, 2), (6L, 2))
        .toDF("id", "p").write.partitionBy("p")
        .parquet(store.getAbsolutePath)
      body(store)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root)
  }

  /** File name → mtime of one partition directory. */
  private def listing(dir: File): Map[String, Long] =
    dir.listFiles().map(f => f.getName -> f.lastModified()).toMap

  private def stored(store: File): Set[(Long, Int)] =
    spark.read.parquet(store.getAbsolutePath).as[(Long, Int)]
      .collect().toSet

  private def stageOf(store: File): File =
    new File(store.getParentFile, s"${store.getName}_stage")

  test("replace rewrites the touched partitions, deletes the one it " +
    "emptied, and leaves the untouched one's files alone") {
    withStore { store =>
      val untouched = listing(new File(store, "p=2"))
      // a merge that reads the partitions it replaces: p=1 loses both
      // rows, p=0 gains one
      val rows = spark.read.parquet(store.getAbsolutePath)
        .filter(col("p").isin(0, 1) && !col("id").isin(3L, 4L))
        .select("id", "p")
        .unionByName(Seq((7L, 0)).toDF("id", "p"))
      val kept = PartitionReplace.replace(rows, store.getAbsolutePath,
        "p", Seq(0, 1))
      assert(kept == Set(0))
      assert(!new File(store, "p=1").exists())
      assert(listing(new File(store, "p=2")) == untouched)
      assert(!stageOf(store).exists())
      assert(stored(store) ==
        Set((1L, 0), (2L, 0), (7L, 0), (5L, 2), (6L, 2)))
    }
  }

  test("zero rows delete every touched partition and nothing else") {
    withStore { store =>
      val untouched = listing(new File(store, "p=2"))
      val rows = spark.read.parquet(store.getAbsolutePath)
        .filter(col("p").isin(0, 1) && col("id") < 0L)
      val kept = PartitionReplace.replace(rows, store.getAbsolutePath,
        "p", Seq(0, 1))
      assert(kept.isEmpty)
      assert(!new File(store, "p=0").exists())
      assert(!new File(store, "p=1").exists())
      assert(listing(new File(store, "p=2")) == untouched)
      assert(!stageOf(store).exists())
      assert(stored(store) == Set((5L, 2), (6L, 2)))
    }
  }

  test("published reads back the kept partitions; for none it is an " +
    "empty frame whose replace deletes every touched partition") {
    withStore { store =>
      val path = store.getAbsolutePath
      val rows = spark.read.parquet(path)
        .filter(col("p") === 1).select("id", "p")
      val kept = PartitionReplace.replace(rows, path, "p", Seq(1))
      assert(kept == Set(1))
      assert(PartitionReplace.published(rows, path, "p", kept)
        .as[(Long, Int)].collect().toSet == Set((3L, 1), (4L, 1)))
      val none = PartitionReplace.published(rows, path, "p", Set.empty)
      assert(none.count() == 0 && none.schema == rows.schema)
      assert(PartitionReplace.replace(none, path, "p", Seq(0, 1, 2))
        .isEmpty)
      assert(!store.listFiles().exists(_.getName.startsWith("p=")))
      assert(!stageOf(store).exists())
    }
  }
}
