package graft

import org.apache.spark.sql.SparkSession

/** Production session factory: one place that encodes the cluster
  * settings this engine is designed around, so "switch to geckospark"
  * is `GraftSession.builder(...)` instead of a tuning checklist.
  *
  * What it sets and why (all overridable afterwards):
  *  - AQE on, with skew-join handling: runtime coalescing + skew
  *    splits are the first line of defense at 100 TB (Round5Spec
  *    demonstrates the split firing).
  *  - `spark.sql.shuffle.partitions` defaults to a multiple of the
  *    executor parallelism instead of the static 200 — AQE coalesces
  *    down, so err high; callers pass their cluster's core count.
  *  - 128 MB `maxPartitionBytes` keeps scan tasks memory-bounded at
  *    any table size.
  *  - UTC session timezone: every datetime operator here is defined
  *    against UTC, and oracle replay requires it.
  *  - ANSI mode stays ON (Spark 4 default): silent overflow would
  *    break the integer-exact oracles.
  *  - [[GraftExtensions]] registered, so `minhash_signature`,
  *    `cosine_similarity`, `ngram_hashes`, `int_dot` work from SQL.
  *  - Room for [[CodegenCacheEntries]] compiled generated classes, so
  *    a pipeline that runs again in the same JVM reuses its compiled
  *    code instead of recompiling it.
  *
  * The codegen cache size is a static, JVM-wide setting: Spark sizes
  * its cache once, when the first session of the JVM generates code,
  * and later sessions cannot change it. A caller who builds its own
  * `SparkSession` sets the same key in that builder, or pipelines it
  * repeats recompile their generated code on every pass.
  *
  * Local smoke use: `GraftSession.local(cores)`. */
object GraftSession {

  /** Size of Spark's compiled-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100). One pass of
    * the benchmark's `corpus_curation` generates about 230 classes, so
    * with 100 every warm pass recompiled them all; with 1000 warm
    * passes compile 0-12, and metaspace does not grow (BASELINE.md,
    * "corpus_curation: codegen cache"). */
  val CodegenCacheEntries = 1000

  /** Builder pre-loaded with the engine's cluster settings; caller
    * supplies master/deploy specifics and may override anything. */
  def builder(parallelism: Int): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.shuffle.partitions", (parallelism * 2).toString)
      .config("spark.sql.files.maxPartitionBytes", (128L << 20).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.serializer",
        "org.apache.spark.serializer.KryoSerializer")
      // localCheckpoint blocks (the CacheScope release pattern) are
      // reclaimed by ContextCleaner only after the owning RDD is
      // GC'd; with the JVM under no heap pressure the default 30min
      // periodic GC lets block storage accumulate across a long
      // query sequence and later heavy queries pay the eviction —
      // measured r8: gr03 at sf3 is 66s late in a 14-query suite vs
      // 40s isolated. 5min keeps long-running sessions (a suite, a
      // notebook, a multi-query job) near their isolated cost.
      .config("spark.cleaner.periodicGC.interval", "5min")
      .config("spark.sql.codegen.cache.maxEntries",
        CodegenCacheEntries.toString)

  /** Run `body` with the settings `kv` on `s`, then put each key back:
    * the value it had before, or unset if it had none. This holds
    * whether `body` returns or throws. It mutates `s` itself, not a
    * clone, so everything `body` runs on `s` sees the settings. */
  def withConf[A](s: SparkSession, kv: (String, String)*)(body: => A): A = {
    val prev = kv.map { case (k, _) => k -> s.conf.getOption(k) }
    kv.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Local session sized to `cores` (tests, notebooks, smoke runs). */
  def local(cores: Int): SparkSession =
    builder(cores)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
