package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the query layer on the one artifact module: scratch roots
  * come from [[core.Artifacts]], never from a hand-built
  * `java.io.tmpdir` path, and no query file keeps its own memo map.
  * The single exception is `Sources.bloomSessions`, which caches a
  * SparkSession rather than a scratch artifact. */
class ScratchPathGuardSpec extends AnyFunSuite {

  private val queryFiles: Seq[File] = {
    val dir = new File("src/main/scala/graft/queries")
    Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".scala")).sortBy(_.getName).toSeq
  }

  private def text(f: File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")

  test("the guard sees the query sources") {
    assert(queryFiles.exists(_.getName == "Streaming.scala"),
      s"no query sources under ${new File(".").getAbsolutePath}")
  }

  test("no query file builds a java.io.tmpdir path by hand") {
    val hits = for {
      f <- queryFiles
      (line, i) <- text(f).split("\n").zipWithIndex
      if line.contains("java.io.tmpdir")
    } yield s"${f.getName}:${i + 1}"
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
}
