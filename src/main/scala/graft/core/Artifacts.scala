package graft.core

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** The engine's scratch artifacts: stored indexes, stats tables,
  * staged stream sources and committed sinks. Every one lives under
  * one root named `graft_<kind>_<dirTag>_<applicationId>` in
  * `java.io.tmpdir` — the layout [[TmpHousekeeping]] sweeps — and
  * the build-once ones are memoized here, keyed by
  * (application, kind, sf dir).
  *
  * An entry stays valid while its application is the current one and
  * its root directory still exists; anything else (a previous
  * SparkContext in this JVM, a dir an OS tmp cleaner removed) is
  * evicted and rebuilt. Builds run under a per-key lock rather than
  * inside `computeIfAbsent`, because builds call `memo` for the
  * artifacts they depend on (a stream sink on its staged source) and
  * a nested `computeIfAbsent` on one map throws "Recursive update".
  *
  * Three caches stay outside this store: `HyperplaneBuckets`' plane
  * cache (seeded hyperplane matrices), `Sources.bloomSessions` (a
  * SparkSession) and `CboReorder.byPath` (table statistics). They are
  * in-JVM caches with no scratch root, so there is nothing to sweep
  * or fingerprint. */
object Artifacts {
  private type Key = (String, String, String) // (appId, kind, dir)
  private val entries = new ConcurrentHashMap[Key, String]()
  private val locks = new ConcurrentHashMap[Key, AnyRef]()

  /** 8-hex content tag of an sf dir. Roots MUST embed the dir
    * identity, or a second sf dir in the same application would build
    * into the first's root and poison its still-cached entry. */
  private def dirTag(dir: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString

  private def tmp(name: String): File =
    new File(sys.props("java.io.tmpdir"), name)

  /** The scratch root for one (kind, sf dir) in this application. */
  def root(s: SparkSession, kind: String, dir: String): File =
    tmp(s"graft_${kind}_${dirTag(dir)}_${s.sparkContext.applicationId}")

  /** A root shared by every application that reads the same input:
    * named by the input's content fingerprint instead of the
    * application id, so it outlives the session that built it. */
  def sharedRoot(kind: String, dir: String, fingerprint: String): File =
    tmp(s"graft_${kind}_${dirTag(dir)}_v$fingerprint")

  /** Builds the (kind, dir) artifact once per application into a
    * freshly wiped [[root]] and returns the root's path; later calls
    * return the path without building while the entry is valid. A
    * build that throws leaves no entry. */
  def memo(s: SparkSession, kind: String, dir: String)
      (build: File => Unit): String = {
    val app = s.sparkContext.applicationId
    entries.entrySet().removeIf(e =>
      e.getKey._1 != app || !new File(e.getValue).isDirectory)
    locks.keySet().removeIf(_._1 != app)
    val key = (app, kind, dir)
    val hit = entries.get(key)
    if (hit != null) hit
    else locks.computeIfAbsent(key, _ => new Object).synchronized {
      val again = entries.get(key)
      if (again != null && new File(again).isDirectory) again
      else {
        val r = root(s, kind, dir)
        org.apache.commons.io.FileUtils.deleteDirectory(r)
        build(r)
        entries.put(key, r.getAbsolutePath)
        r.getAbsolutePath
      }
    }
  }

  /** Drops the (kind, dir) entry, so the next [[memo]] call rebuilds. */
  def invalidate(s: SparkSession, kind: String, dir: String): Unit = {
    entries.remove((s.sparkContext.applicationId, kind, dir))
    ()
  }
}
