package graft.core

import java.io.File

/** Lifecycle management for the engine's scratch artifacts. Every
  * stored artifact the query layer persists (stats tables, IVF index
  * roots, staged stream sources/sinks, MV parquet dirs) lives under
  * `java.io.tmpdir` in a root [[Artifacts]] names
  * `graft_<kind>_<dirTag>_<applicationId>`, keyed to the owning Spark
  * application. [[Artifacts.memo]] evicts stale ENTRIES when the
  * application changes, but the directories themselves used to
  * outlive the JVM — repeated application runs accumulated orphans.
  * Three cooperating mechanisms close that:
  *
  *  - a JVM shutdown hook (armed once per application id) deletes the
  *    CURRENT application's `graft_*_<appId>` dirs at exit — the
  *    normal-path cleanup, and always safe because the appId suffix
  *    is unique to this JVM's SparkContext;
  *  - a HEARTBEAT file (`graft_owner_<appId>`) touched on the hot
  *    path at most once per [[HeartbeatMs]] — proof the owning
  *    application is still alive, independent of its artifact dirs'
  *    mtimes (a memoized index built at minute 5 keeps its creation
  *    mtime forever, so artifact age says nothing about owner
  *    liveness);
  *  - an age-guarded sweep run at arm time: `graft_*` dirs belonging
  *    to OTHER application ids are deleted only when the owner's
  *    heartbeat is missing or ≥ [[StaleAfterMs]] old — a crashed or
  *    exited app stops heartbeating and its leftovers are collected,
  *    while a long-running sibling's stay safe for as long as it
  *    keeps running queries.
  *
  * At 100 TB these artifacts live in a catalog / object store with
  * real retention policies; this is the local-scratch analog of that
  * retention discipline.
  */
object TmpHousekeeping {
  private val StaleAfterMs: Long = 2L * 60 * 60 * 1000
  /** A dir whose owner cannot be resolved to any heartbeat file (a
    * pre-heartbeat build, or an appId format the suffix match cannot
    * pin) is UNKNOWN-owner, not known-dead: it may belong to a live
    * sibling JVM that simply never wrote a heartbeat. Such dirs need
    * a much larger quiet period before collection. */
  private val UnknownOwnerAfterMs: Long = 24L * 60 * 60 * 1000
  private val HeartbeatMs: Long = 60 * 1000
  @volatile private var armedFor: String = null
  @volatile private var lastBeat: Long = 0L

  private def tmpRoot = new File(sys.props("java.io.tmpdir"))

  private def graftDirs(): Array[File] = {
    val fs = tmpRoot.listFiles()
    if (fs == null) Array.empty
    else fs.filter(f => f.isDirectory && f.getName.startsWith("graft_"))
  }

  private def heartbeatFile(appId: String): File =
    new File(tmpRoot, s"graft_owner_$appId")

  private def deleteQuietly(f: File): Unit =
    try org.apache.commons.io.FileUtils.deleteDirectory(f)
    catch { case _: java.io.IOException => () }

  /** Newest mtime anywhere in the dir tree — a memoized artifact's
    * ROOT keeps its creation mtime forever, but a dir a live app is
    * still writing into (stream sinks, staged epochs) has fresh
    * children; sweeping on the root mtime alone would collect it. */
  private def treeMaxMtime(f: File): Long = {
    var m = f.lastModified()
    val fs = f.listFiles()
    if (fs != null) fs.foreach { c =>
      val cm = if (c.isDirectory) treeMaxMtime(c) else c.lastModified()
      if (cm > m) m = cm
    }
    m
  }

  /** Idempotent per application id and cheap on hot paths (one
    * volatile read once armed; a throttled touch of the heartbeat). */
  def arm(appId: String): Unit = {
    if (armedFor == appId) { beat(appId); return }
    synchronized {
      if (armedFor == appId) return
      armedFor = appId
      beat(appId, force = true)
      val now = System.currentTimeMillis()
      // Resolve each dir's owner against the EXISTING heartbeat files
      // rather than parsing a token out of the dir name: appId formats
      // with underscores (YARN `application_<ts>_<n>`) make the
      // "substring after the last '_'" parse silently wrong, while a
      // suffix match against known owner ids is exact by construction
      // (dirs are named `graft_<kind>_…_<appId>`).
      val hbIds = Option(tmpRoot.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.startsWith("graft_owner_"))
        .map(_.getName.stripPrefix("graft_owner_"))
        .sortBy(-_.length) // longest first: most specific suffix wins
      graftDirs().foreach { d =>
        if (!d.getName.endsWith(s"_$appId")) {
          hbIds.find(id => d.getName.endsWith(s"_$id")) match {
            case Some(id) =>
              val hb = heartbeatFile(id)
              val ownerDead = now - hb.lastModified() >= StaleAfterMs
              if (ownerDead && now - treeMaxMtime(d) >= StaleAfterMs)
                deleteQuietly(d)
            case None =>
              // no heartbeat at all: unknown owner, NOT known-dead —
              // could be a live pre-heartbeat sibling. Collect only
              // after a day of total quiet across the whole tree.
              if (now - treeMaxMtime(d) >= UnknownOwnerAfterMs)
                deleteQuietly(d)
          }
        }
      }
      // collect dead apps' heartbeat files too
      Option(tmpRoot.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.startsWith("graft_owner_") &&
          f.getName != heartbeatFile(appId).getName &&
          now - f.lastModified() >= StaleAfterMs)
        .foreach(f => { f.delete(); () })
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        graftDirs().filter(_.getName.endsWith(s"_$appId"))
          .foreach(deleteQuietly)
        heartbeatFile(appId).delete()
        ()
      }))
    }
  }

  private def beat(appId: String, force: Boolean = false): Unit = {
    val now = System.currentTimeMillis()
    if (force || now - lastBeat >= HeartbeatMs) {
      lastBeat = now
      val hb = heartbeatFile(appId)
      try {
        if (!hb.createNewFile()) { hb.setLastModified(now); () }
      } catch { case _: java.io.IOException => () }
    }
  }
}
