package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the engine on its one-module helpers: scratch roots come
  * from [[core.Artifacts]], never from a hand-built `java.io.tmpdir`
  * path anywhere in the main sources, and no query file keeps its own
  * memo map. The single memo-map exception is `Sources.bloomSessions`,
  * which caches a SparkSession rather than a scratch artifact. Query
  * files scope settings with `GraftSession.withConf`, replay streams
  * with `streaming.Replay` and install rules through the rule's own
  * `install`, so none of them touches the underlying calls; tests
  * scope settings and install rules the same way. Stored partitions
  * are rewritten in place only through [[core.PartitionReplace]]. */
class ScratchPathGuardSpec extends AnyFunSuite {

  private val mainRoot = new File("src/main/scala/graft")

  private def scalaFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).getOrElse(Array.empty[File]).toSeq
      .sortBy(_.getName).flatMap { f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f)
        else Nil
      }

  private val queryFiles: Seq[File] =
    scalaFiles(new File(mainRoot, "queries"))

  private val testRoot = new File("src/test/scala/graft")

  // the artifact module itself and the sweeper of its roots
  private val tmpdirOwners = Set("core/Artifacts.scala",
    "core/TmpHousekeeping.scala")

  private def text(f: File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")

  test("the guard sees the query sources") {
    assert(queryFiles.exists(_.getName == "Streaming.scala"),
      s"no query sources under ${new File(".").getAbsolutePath}")
  }

  test("no main source outside core.Artifacts builds a tmpdir path") {
    val hits = for {
      f <- scalaFiles(mainRoot)
      rel = mainRoot.toPath.relativize(f.toPath).toString
      if !tmpdirOwners.contains(rel)
      (line, i) <- text(f).split("\n").zipWithIndex
      if line.contains("java.io.tmpdir") ||
        line.contains("createTempDirectory")
    } yield s"$rel:${i + 1}"
    assert(hits.isEmpty, s"use core.Artifacts.root instead: $hits")
  }

  test("no query file declares a ConcurrentHashMap except " +
    "Sources.bloomSessions") {
    val allowed =
      """(?s)val\s+bloomSessions\s*=\s*new\s+java\.util\.concurrent\.ConcurrentHashMap""".r
    val extra = queryFiles.flatMap { f =>
      val t = text(f)
      val uses = "ConcurrentHashMap".r.findAllIn(t).size
      val ok =
        if (f.getName == "Sources.scala") allowed.findAllIn(t).size else 0
      if (uses > ok) Some(s"${f.getName}: ${uses - ok}") else None
    }
    assert(extra.isEmpty, s"use core.Artifacts.memo instead: $extra")
  }

  test("no query file unsets a conf, replays a stream or appends an " +
    "optimizer rule by hand") {
    val banned = Seq("conf.unset", "Trigger.AvailableNow",
      "awaitTermination", "extraOptimizations")
    val hits = for {
      f <- queryFiles
      (line, i) <- text(f).split("\n").zipWithIndex
      b <- banned
      if line.contains(b)
    } yield s"${f.getName}:${i + 1}: $b"
    assert(hits.isEmpty,
      s"use GraftSession.withConf, streaming.Replay or install: $hits")
  }

  test("no test unsets a conf or appends an optimizer rule by hand") {
    // GraftSessionSpec tests withConf itself; this file names the calls
    val exempt = Set("GraftSessionSpec.scala", "ScratchPathGuardSpec.scala")
    val tests = scalaFiles(testRoot)
    assert(tests.exists(_.getName == "Round15Spec.scala"),
      s"no test sources under ${new File(".").getAbsolutePath}")
    val hits = for {
      f <- tests
      if !exempt.contains(f.getName)
      (line, i) <- text(f).split("\n").zipWithIndex
      b <- Seq("conf.unset", "extraOptimizations")
      if line.contains(b)
    } yield s"${f.getName}:${i + 1}: $b"
    assert(hits.isEmpty,
      s"use GraftSession.withConf or CboReorder.install: $hits")
  }

  test("only core.PartitionReplace and Sources' j08 row set " +
    "partitionOverwriteMode on a write") {
    val owners = Set("core/PartitionReplace.scala", "queries/Sources.scala")
    val hits = for {
      f <- scalaFiles(mainRoot)
      (line, i) <- text(f).split("\n").zipWithIndex
      if line.contains(".option(\"partitionOverwriteMode\"")
    } yield (mainRoot.toPath.relativize(f.toPath).toString, i + 1)
    assert(hits.map(_._1).toSet == owners,
      "rewrite stored partitions through PartitionReplace.replace: " +
        hits.filterNot(h => owners(h._1)).map { case (f, l) => s"$f:$l" })
  }

  test("Trigger.AvailableNow appears in one main file: the replay " +
    "module") {
    val owners = scalaFiles(mainRoot)
      .filter(f => text(f).contains("Trigger.AvailableNow"))
      .map(f => mainRoot.toPath.relativize(f.toPath).toString)
    assert(owners == Seq("streaming/Replay.scala"),
      s"start replays through streaming.Replay: $owners")
  }
}
