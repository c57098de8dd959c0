package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Artifacts

/** Multi-dimensional data layout: Z-order (Morton) clustering, the
  * standard write-side organization for tables that are filtered on
  * more than one column (absent in the reference, which never persists
  * anything but flat CSV — `generator.py:147-161`; first-class in
  * Delta/Iceberg/Hudi `OPTIMIZE ZORDER BY`).
  *
  * A linear sort clusters min/max file statistics on ONE column; a
  * Z-order sort interleaves the bits of several columns so that every
  * contiguous z-range maps to a bounded hyper-rectangle — file-level
  * min/max pruning then works for predicates on ANY of the interleaved
  * dimensions. At 100 TB the win is entirely at scan time: a
  * two-dimensional predicate prunes ~sqrt of the files instead of
  * reading everything when the filter misses the single sort key.
  *
  * The z-value is pure bit arithmetic composed from builtin
  * shift/and/or functions — whole-stage codegen, no UDF, and exactly
  * replayable in any engine (the DuckDB oracle rebuilds it with the
  * same integer expression). The write path is one range shuffle
  * (`repartitionByRange` on the z-value + `sortWithinPartitions`),
  * identical in cost to the single-column sort it replaces. */
object Layout {

  /** Bits per dimension; 2 dims × 10 bits = 20-bit z-values. */
  private val ZBits = 10
  /** Top 6 bits of the z-value → 64 z-range buckets (one per file in
    * the write-path analogy). */
  private val ZBucketBits = 6

  /** Morton-interleave the low `bits` bits of two non-negative longs:
    * bit i of x lands at position 2i, bit i of y at 2i+1. Composed
    * entirely from codegen'd builtins — the fold compiles to one
    * constant-folded expression tree inside WholeStageCodegen. */
  def zValue(x: Column, y: Column, bits: Int = ZBits): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(
          shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  /** The same interleave as a DuckDB SQL expression (non-overlapping
    * bits, so `+` ≡ `|`). */
  private def zValueSql(x: String, y: String, bits: Int = ZBits): String =
    (0 until bits).flatMap { i =>
      Seq(s"((($x >> $i) & 1) << ${2 * i})",
        s"((($y >> $i) & 1) << ${2 * i + 1})")
    }.mkString(" + ")

  /** q22 — Z-order layout audit of lineitem on (l_partkey, l_orderkey):
    * assign every row its z-value, cut the z-range into [[ZBuckets]]
    * buckets (the per-file ranges a z-ordered write would produce), and
    * report each bucket's row count plus the bounding rectangle
    * [min,max]×[min,max] it spans in the original dimensions — the
    * exact statistics a scan planner prunes on. Bounded rectangles per
    * bucket ARE the layout property; the oracle checks them
    * bit-exactly.
    *
    * Scale shape: z-assignment is map-only expression work; the only
    * shuffle is the bucket aggregation (map-side partial over 64 keys).
    * The production write adds `repartitionByRange($"z")` — one range
    * shuffle, the same price as any sorted write. */
  def zorderLayout(s: SparkSession, dir: String): DataFrame = {
    val dims = Relational.table(s, dir, "lineitem").select(
      pmod(col("l_partkey").cast("long"), lit(1L << ZBits)).as("xd"),
      pmod(col("l_orderkey").cast("long"), lit(1L << ZBits)).as("yd"))
    val z = zValue(col("xd"), col("yd"))
    dims.withColumn("zbucket",
        shiftright(z, 2 * ZBits - ZBucketBits).cast("long"))
      .groupBy("zbucket")
      .agg(count(lit(1)).as("n_rows"),
        min(col("xd")).as("x_min"), max(col("xd")).as("x_max"),
        min(col("yd")).as("y_min"), max(col("yd")).as("y_max"))
      .orderBy("zbucket")
  }

  val zorderLayoutSql: String = {
    val z = zValueSql("xd", "yd")
    s"""
    WITH dims AS (
      SELECT l_partkey % ${1L << ZBits} AS xd,
             l_orderkey % ${1L << ZBits} AS yd
      FROM lineitem),
    zv AS (SELECT xd, yd, ($z) AS z FROM dims)
    SELECT z >> ${2 * ZBits - ZBucketBits} AS zbucket, count(*) AS n_rows,
      min(xd) AS x_min, max(xd) AS x_max,
      min(yd) AS y_min, max(yd) AS y_max
    FROM zv
    GROUP BY zbucket
    ORDER BY zbucket"""
  }

  private val Shards = 32

  /** q23 — range-sharded sorted output: the write-side global ordering
    * every sorted 100 TB table ships with. `repartitionByRange` samples
    * split points (one pass), then each shard sorts independently —
    * a global total order WITHOUT a single-reducer sort; shard files
    * carry non-overlapping min/max so readers binary-search the shard
    * list instead of scanning.
    *
    * The physical split points are sample-dependent (and may legally
    * merge empty shards), so the query outputs the INVARIANTS of the
    * layout, not the boundaries: total row count (nothing lost), shard
    * count within [1, Shards], and cross-shard non-overlap — each a
    * constant the oracle states in closed form. PlanSpec asserts the
    * plan shape (range exchange + non-global sort). */
  def rangeShards(s: SparkSession, dir: String): DataFrame = {
    val sharded = Relational.table(s, dir, "lineitem")
      .select(col("l_orderkey"))
      .repartitionByRange(Shards, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
    val stats = sharded
      .groupBy(spark_partition_id().as("pid"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_orderkey")).as("lo"), max(col("l_orderkey")).as("hi"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("lo", "pid")
    stats
      .withColumn("prev_hi", lag(col("hi"), 1).over(w))
      .agg(sum(col("n_rows")).as("n_rows"),
        (count(lit(1)) >= 1 && count(lit(1)) <= Shards).as("shards_ok"),
        coalesce(min(col("prev_hi") <= col("lo")), lit(true))
          .as("non_overlapping"))
  }

  val rangeShardsSql: String =
    "SELECT count(*) AS n_rows, TRUE AS shards_ok, " +
      "TRUE AS non_overlapping FROM lineitem"

  // --------------------------------------- q44 zone-map data skipping
  /** Fixed range predicates: narrow (one month), medium (half a
    * year), wide (two years) — the selectivity sweep a skipping
    * layout is judged on. Shared with the streamed twin (st34). */
  private[graft] val ZmPreds: Seq[(Int, String, String)] = Seq(
    (1, "1996-03-01", "1996-03-31"),
    (2, "1997-01-01", "1997-06-30"),
    (3, "1998-01-01", "1999-12-31"))

  /** The lineitem projection every zone-mapped layout stores:
    * (l_orderkey, ship_day, quarter shard) — deterministic, so batch
    * build and streamed ingest land identical rows. */
  private[graft] def zmProjected(s: SparkSession, dir: String)
      : DataFrame =
    Relational.table(s, dir, "lineitem")
      .select(col("l_orderkey"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_day"),
        ((year(col("l_shipdate")) - 1995) * 4 +
          quarter(col("l_shipdate")) - 1).cast("int").as("shard"))

  /** Per-shard zone rows of a projected frame. */
  private[graft] def zmStats(df: DataFrame): DataFrame =
    df.groupBy("shard").agg(min(col("ship_day")).as("lo"),
      max(col("ship_day")).as("hi"), count(lit(1)).as("n"))

  /** The serve pass shared by q44 (build-once manifest) and st34
    * (union of per-batch manifests): consult the KB-sized zone map
    * driver-side per predicate, scan only overlapping shards of the
    * stored table (static pruning), emit decision + exact count. */
  /** Merged (shard, lo, hi) zones of a manifest frame, driver-side
    * (KB-scale metadata). */
  private def zmZones(manifest: DataFrame): Array[(Int, String, String)] =
    manifest.groupBy("shard")
      .agg(min(col("lo")).as("lo"), max(col("hi")).as("hi"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))

  /** THE zone-overlap rule — the one definition both the served
    * answer (zmAnswer) and the spec's pruning scan (zmQualifying)
    * route through, so they cannot silently diverge. */
  private def zmOverlaps(zlo: String, zhi: String,
      plo: String, phi: String): Boolean = zhi >= plo && zlo <= phi

  private[graft] def zmAnswer(s: SparkSession, tablePath: String,
      manifest: DataFrame): DataFrame = {
    import s.implicits._
    val zones = zmZones(manifest)
    val rows = ZmPreds.map { case (id, plo, phi) =>
      val qual = zones.filter { case (_, lo, hi) =>
        zmOverlaps(lo, hi, plo, phi)
      }.map(_._1).sorted
      val n = s.read.parquet(tablePath)
        .filter(col("shard").isin(qual.map(Integer.valueOf): _*) &&
          col("ship_day") >= plo && col("ship_day") <= phi)
        .count()
      (id.toLong, zones.length.toLong, qual.length.toLong, n)
    }
    rows.toDF("pred_id", "shards_total", "shards_read", "n_rows")
      .orderBy("pred_id")
  }

  /** Build-once: lineitem re-laid-out CLUSTERED ON THE FILTER COLUMN
    * (calendar-quarter shards of l_shipdate, hive `partitionBy`) plus
    * a stored per-shard ZONE MAP (min/max ship day + row count) — the
    * Delta/Iceberg data-skipping layout. Quarter bucketing is
    * deterministic (no sampled split points), so the zone map — and
    * therefore every skipping decision below — replays exactly in the
    * oracle. */
  private def zmRoot(s: SparkSession, dir: String): String =
    Artifacts.memo(s, "q44", dir) { root =>
      val base = root.getAbsolutePath
      zmProjected(s, dir)
        .write.partitionBy("shard").mode("overwrite")
        .parquet(s"$base/table")
      zmStats(s.read.parquet(s"$base/table"))
        .coalesce(1).write.mode("overwrite").parquet(s"$base/manifest")
    }

  /** Zone-qualifying shard ids for a [lo, hi] ship-day predicate —
    * read from the KB-sized stored manifest, driver-side (the s24
    * probe-list pattern: skipping decisions are metadata work). */
  private def zmQualifying(s: SparkSession, root: String,
      lo: String, hi: String): Array[Int] =
    zmZones(s.read.parquet(s"$root/manifest"))
      .filter { case (_, zlo, zhi) => zmOverlaps(zlo, zhi, lo, hi) }
      .map(_._1)

  /** The pruned serve scan for one predicate — the spec hook:
    * `shard IN (...)` over the hive layout is STATIC partition
    * pruning, so unqualified quarters' files are never opened. */
  private[graft] def zonemapServeScan(s: SparkSession, dir: String,
      lo: String, hi: String): DataFrame = {
    val root = zmRoot(s, dir)
    val qual = zmQualifying(s, root, lo, hi)
    s.read.parquet(s"$root/table")
      .filter(col("shard").isin(qual.map(Integer.valueOf): _*) &&
        col("ship_day") >= lo && col("ship_day") <= hi)
  }

  /** q44 — zone-map data skipping, end to end: the table stored
    * clustered on its hot filter column with a per-shard min/max
    * manifest, and each range predicate answered by consulting the
    * manifest (driver-side metadata) and scanning ONLY the
    * overlapping shards via static partition pruning. Emits, per
    * predicate, the skipping decision (shards_read of shards_total)
    * AND the exact matching row count — and because the quarter
    * bucketing and the zones are deterministic data properties, the
    * DuckDB oracle replays the DECISION, not just the answer: a
    * skipped shard that should have been read (or vice versa)
    * hash-fails the row.
    *
    * Scale shape: this is the Delta/Iceberg skipping contract — the
    * manifest is KBs per million files, consulted before any I/O;
    * scan cost ∝ predicate selectivity × clustering quality, never
    * corpus size. The narrow predicate reads 1 of 28 quarters; an
    * unclustered layout (q23 on a ~zero-correlation column — measured
    * corr(l_orderkey, shipdate) ≈ 0.001 in this corpus) would read
    * all of them, which is exactly why clustering the LAYOUT on the
    * filter column is the knob (q22's Z-order generalizes it to two
    * columns). */
  def zonemapPruning(s: SparkSession, dir: String): DataFrame = {
    val root = zmRoot(s, dir)
    zmAnswer(s, s"$root/table", s.read.parquet(s"$root/manifest"))
  }

  val zonemapPruningSql: String = {
    val predRows = ZmPreds.map { case (id, lo, hi) =>
      s"(CAST($id AS BIGINT), '$lo', '$hi')"
    }.mkString(", ")
    s"""
    WITH sh AS (
      SELECT (year(l_shipdate) - 1995) * 4 + quarter(l_shipdate) - 1
          AS shard,
        strftime(l_shipdate, '%Y-%m-%d') AS d
      FROM lineitem),
    man AS (SELECT shard, min(d) AS lo, max(d) AS hi
      FROM sh GROUP BY 1),
    preds AS (SELECT * FROM (VALUES $predRows) AS t(pred_id, plo, phi))
    SELECT p.pred_id,
      (SELECT count(*) FROM man) AS shards_total,
      (SELECT count(*) FROM man m
        WHERE m.hi >= p.plo AND m.lo <= p.phi) AS shards_read,
      (SELECT count(*) FROM sh x
        WHERE x.d >= p.plo AND x.d <= p.phi) AS n_rows
    FROM preds p ORDER BY p.pred_id"""
  }

  // ----------------------------------- q45 time-travel snapshot reads
  /** Builds the versioned layout once per (application, sf dir):
    * `base/` (the version-0 snapshot of orders as (k, cents)) plus
    * delta dirs `deltas/v=1..3`, each a CDC batch of (k, cents, op)
    * rows — the Delta-Lake shape where a snapshot is base + the
    * ordered log of row-level changes. The batches are DERIVED from
    * the data (so DuckDB replays each version exactly): v1 updates
    * every k%10==1 row to cents+5; v2 deletes every k%10==2 row; v3
    * re-updates k%10==1 to cents+12 (last-writer-wins across
    * versions) and RE-INSERTS k%20==2 at cents+1 (an upsert must
    * override an earlier tombstone). */
  /** The unmemoized layout writer — shared by q45's root, q46's
    * compaction root, and the spec's throwaway fixtures. */
  private[graft] def writeVersionedOrders(s: SparkSession, dir: String,
      root: java.io.File): Unit = {
    if (root.exists())
      org.apache.commons.io.FileUtils.deleteDirectory(root)
    val o = Relational.table(s, dir, "orders")
      .select(col("o_orderkey").as("k"),
        (col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long").as("cents"))
    o.write.parquet(new java.io.File(root, "base").getAbsolutePath)
    val m10 = pmod(col("k"), lit(10))
    val deltas = Seq(
      1 -> o.filter(m10 === 1)
        .select(col("k"), (col("cents") + 5).as("cents"),
          lit("U").as("op")),
      2 -> o.filter(m10 === 2)
        .select(col("k"), lit(0L).as("cents"), lit("D").as("op")),
      3 -> o.filter(m10 === 1)
        .select(col("k"), (col("cents") + 12).as("cents"),
          lit("U").as("op"))
        .unionByName(o.filter(pmod(col("k"), lit(20)) === 2)
          .select(col("k"), (col("cents") + 1).as("cents"),
            lit("U").as("op"))))
    deltas.foreach { case (v, df) =>
      df.write.parquet(
        new java.io.File(root, s"deltas/v=$v").getAbsolutePath)
    }
  }

  private[graft] def buildVersionedOrders(s: SparkSession, dir: String)
      : String =
    Artifacts.memo(s, "q45", dir)(writeVersionedOrders(s, dir, _))

  /** The layout's commit pointer — (base_version, base dir name),
    * defaulting to (0, "base") when no compaction has run. The meta
    * swap is the single commit point of [[compactVersions]]; on an
    * object store this is the atomic `_last_checkpoint`-style
    * pointer write. */
  private[graft] def ttMeta(s: SparkSession, root: String)
      : (Int, String) = {
    val m = new java.io.File(root, "meta")
    // meta/ missing or partial = a crash mid-swap (the local-FS
    // rename pair below is not one atomic op). Recover from the
    // newest COMPLETE snapshot dir (_SUCCESS present): the writer
    // only swaps the pointer after its snapshot is complete, so that
    // snapshot is always a committed state — never fall back to the
    // original "base", which a finished vacuum may have deleted.
    def fallback: (Int, String) = {
      val bases = Option(new java.io.File(root).listFiles())
        .getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("base_v") &&
          new java.io.File(f, "_SUCCESS").exists())
        .map(_.getName.stripPrefix("base_v").toInt)
      if (bases.isEmpty) (0, "base")
      else { val v = bases.max; (v, s"base_v$v") }
    }
    if (!m.isDirectory) fallback
    else try {
      val r = s.read.parquet(m.getAbsolutePath).collect().head
      (r.getInt(0), r.getString(1))
    } catch {
      case scala.util.control.NonFatal(_) => fallback
    }
  }

  /** The AS-OF-version read: base ∪ the delta log STATICALLY pruned
    * to v ≤ `version` — only those `deltas/v=` directories are ever
    * listed or opened (the s24/q44 stored-layout discipline:
    * pruning by construction, not by optimizer grace; Round13bSpec
    * pins it on inputFiles), folded last-writer-wins per key with
    * delete tombstones honored at the winning version. One window
    * over (key; version desc) — the c04 CDC fold with the version
    * axis made explicit. */
  private[graft] def readOrdersAsOf(s: SparkSession, root: String,
      version: Int): DataFrame = {
    val (baseV, baseName) = ttMeta(s, root)
    // a vacuumed version is GONE — fail loudly, never reconstruct a
    // wrong answer from a post-horizon snapshot
    require(version >= baseV,
      s"version $version predates the compaction horizon $baseV " +
        "(vacuumed)")
    val base = s.read
      .parquet(new java.io.File(root, baseName).getAbsolutePath)
      .select(col("k"), col("cents"), lit("U").as("op"),
        lit(baseV).as("v"))
    val log = (baseV + 1 to version)
      .map(v => v -> new java.io.File(root, s"deltas/v=$v"))
      // commitDeltaOcc publishes a version as ONE atomic directory
      // rename of a fully-staged (_SUCCESS-carrying) delta, so its
      // slots are never partial; a delta dir without _SUCCESS can
      // only come from an external/legacy writer — never a committed
      // version, so readers skip it the way Delta readers skip an
      // uncommitted transaction log entry
      .filter { case (_, d) => d.isDirectory &&
        new java.io.File(d, "_SUCCESS").exists() }
      .map { case (v, d) =>
        s.read.parquet(d.getAbsolutePath)
          .select(col("k"), col("cents"), col("op"), lit(v).as("v"))
      }
      .foldLeft(base)(_ unionByName _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("k").orderBy(col("v").desc)
    log.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .select(col("k"), col("cents"))
  }

  /** q45 — TIME TRAVEL over the versioned layout: one consistent
    * aggregate of the orders state AS OF each version 0..3. Every
    * snapshot is read through [[readOrdersAsOf]]; nothing is ever
    * rewritten in place, so historical reads are reproducible — the
    * lakehouse audit/debug/ML-reproducibility primitive. All integer
    * cents ⇒ DIRECT DuckDB oracle replaying all four versions. */
  def timeTravel(s: SparkSession, dir: String): DataFrame = {
    val root = buildVersionedOrders(s, dir)
    (0 to 3).map { v =>
      readOrdersAsOf(s, root, v)
        .agg(count(lit(1)).as("n_rows"),
          sum(col("cents")).as("total_cents"))
        .select(lit(v).as("version"), col("n_rows"),
          col("total_cents"))
    }.reduce(_ unionByName _).orderBy("version")
  }

  /** q46's mechanism — version-log COMPACTION (the Delta
    * checkpoint + vacuum pair): fold base ∪ deltas ≤ `upTo` into ONE
    * snapshot at version `upTo`, publish it by swapping the `meta/`
    * commit pointer, then vacuum the folded inputs. As-of reads at
    * v ≥ upTo are pinned unchanged; versions before the horizon are
    * INTENTIONALLY unreadable afterwards ([[readOrdersAsOf]] rejects
    * them loudly) — the retention trade every log-structured table
    * ships, made explicit. Crash-ordering: snapshot dir first, meta
    * swap second (the commit point — readers switch atomically from
    * (old base, all deltas) to (snapshot, tail deltas); the snapshot
    * carries version `upTo`, so any not-yet-vacuumed folded delta
    * can never override it), cleanup last (idempotent re-run). */
  /** Delete everything the meta pointer no longer references: stale
    * base dirs and delta dirs at or below the horizon. Idempotent —
    * a crash mid-cleanup leaves orphans the next run sweeps. */
  private def ttVacuum(root: String, horizon: Int, baseName: String)
      : Unit = {
    Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("base") &&
        f.getName != baseName)
      .foreach(org.apache.commons.io.FileUtils.deleteDirectory)
    val dd = new java.io.File(root, "deltas")
    Option(dd.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("v=") &&
        f.getName.stripPrefix("v=").toInt <= horizon)
      .foreach(org.apache.commons.io.FileUtils.deleteDirectory)
  }

  private[graft] def compactVersions(s: SparkSession, root: String,
      upTo: Int): Unit = {
    import s.implicits._
    val (baseV, baseName) = ttMeta(s, root)
    if (upTo <= baseV) {
      // already at or past this horizon: the re-run after a crash
      // mid-cleanup — just finish the vacuum
      ttVacuum(root, baseV, baseName)
      return
    }
    val target = new java.io.File(root, s"base_v$upTo")
    readOrdersAsOf(s, root, upTo)
      .write.mode("overwrite").parquet(target.getAbsolutePath)
    // the COMMIT POINT: readers switch atomically from (old base,
    // all deltas) to (snapshot, tail deltas). Spark's mode(overwrite)
    // is delete-then-recreate on a local FS — NOT atomic — so the new
    // pointer is staged and rename()d into place (rename IS atomic on
    // a local FS; on an object store this would be the conditional
    // pointer PUT). The one residual window — old meta renamed aside,
    // new one not yet in — leaves no meta/ at all, which ttMeta
    // recovers from via the newest complete snapshot dir.
    val metaDir = new java.io.File(root, "meta")
    val metaStage = new java.io.File(root, "meta_stage")
    val metaOld = new java.io.File(root, "meta_old")
    Seq(metaStage, metaOld).filter(_.exists())
      .foreach(org.apache.commons.io.FileUtils.deleteDirectory)
    Seq((upTo, s"base_v$upTo")).toDF("base_version", "base_dir")
      .coalesce(1).write.mode("overwrite")
      .parquet(metaStage.getAbsolutePath)
    if (metaDir.exists())
      require(metaDir.renameTo(metaOld),
        s"meta swap: renaming the old pointer aside failed at $root")
    require(metaStage.renameTo(metaDir),
      s"meta swap: renaming the staged pointer into place failed " +
        s"at $root")
    if (metaOld.exists())
      org.apache.commons.io.FileUtils.deleteDirectory(metaOld)
    ttVacuum(root, upTo, s"base_v$upTo")
  }

  /** q46 — the layout of q45 COMPACTED to horizon v=2 and served for
    * the still-live versions: reads at v ∈ {2, 3} come from the
    * snapshot + the v=3 tail delta and must equal the uncompacted
    * layout's answers exactly (the direct oracle replays both
    * versions; Round13bSpec pins pre/post equality, the vacuumed-
    * version rejection, and the crash window where the meta swap
    * landed but cleanup did not). */
  def timeTravelCompacted(s: SparkSession, dir: String): DataFrame = {
    val root = Artifacts.memo(s, "q46", dir) { r =>
      writeVersionedOrders(s, dir, r)
      compactVersions(s, r.getAbsolutePath, upTo = 2)
    }
    (2 to 3).map { v =>
      readOrdersAsOf(s, root, v)
        .agg(count(lit(1)).as("n_rows"),
          sum(col("cents")).as("total_cents"))
        .select(lit(v).as("version"), col("n_rows"),
          col("total_cents"))
    }.reduce(_ unionByName _).orderBy("version")
  }

  val timeTravelCompactedSql: String = """
    WITH o AS (
      SELECT o_orderkey AS k,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
          AS cents
      FROM orders),
    v1 AS (SELECT k,
        CASE WHEN k % 10 = 1 THEN cents + 5 ELSE cents END AS cents
      FROM o),
    v2 AS (SELECT k, cents FROM v1 WHERE k % 10 <> 2),
    v3 AS (
      SELECT k, CASE WHEN k % 10 = 1 THEN cents + 12 ELSE cents END
        AS cents
      FROM o WHERE k % 10 <> 2
      UNION ALL
      SELECT k, cents + 1 AS cents FROM o WHERE k % 20 = 2)
    SELECT * FROM (
      SELECT 2 AS version, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(cents) AS BIGINT) AS total_cents FROM v2
      UNION ALL
      SELECT 3, CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
        FROM v3)
    ORDER BY version"""

  val timeTravelSql: String = """
    WITH o AS (
      SELECT o_orderkey AS k,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
          AS cents
      FROM orders),
    v0 AS (SELECT k, cents FROM o),
    v1 AS (SELECT k,
        CASE WHEN k % 10 = 1 THEN cents + 5 ELSE cents END AS cents
      FROM o),
    v2 AS (SELECT k, cents FROM v1 WHERE k % 10 <> 2),
    v3 AS (
      SELECT k, CASE WHEN k % 10 = 1 THEN cents + 12 ELSE cents END
        AS cents
      FROM o WHERE k % 10 <> 2
      UNION ALL
      SELECT k, cents + 1 AS cents FROM o WHERE k % 20 = 2)
    SELECT * FROM (
      SELECT 0 AS version, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(cents) AS BIGINT) AS total_cents FROM v0
      UNION ALL
      SELECT 1, CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
        FROM v1
      UNION ALL
      SELECT 2, CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
        FROM v2
      UNION ALL
      SELECT 3, CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
        FROM v3)
    ORDER BY version"""

  // ----------------- q47 optimistic concurrency for the version log
  /** The newest COMMITTED version: the compaction horizon or any
    * published (`_SUCCESS`-carrying) delta above it. Unpublished OCC
    * claims don't count — they are invisible to readers too. */
  private[graft] def currentVersion(s: SparkSession, root: String)
      : Int = {
    val (baseV, _) = ttMeta(s, root)
    val dd = new java.io.File(root, "deltas")
    val committed = Option(dd.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("v=") &&
        new java.io.File(f, "_SUCCESS").exists())
      .map(_.getName.stripPrefix("v=").toInt)
    (committed :+ baseV).max
  }

  /** q47's mechanism — OPTIMISTIC CONCURRENCY CONTROL for the version
    * log (the Delta/Iceberg commit protocol on a filesystem): without
    * it, two writers that both read version v and both write
    * `deltas/v=<v+1>` silently lose one update. The protocol:
    *  1. read the latest committed version; compute the delta FROM
    *     that state (`deltaOf` receives it — read-modify-write
    *     semantics rebase correctly on retry) and stage it FULLY,
    *     `_SUCCESS` included, under the writer's private
    *     `deltas_stage/<writerId>`;
    *  2. CLAIM AND PUBLISH in one step: a single atomic directory
    *     `rename(stage → deltas/v=<v+1>)` — the filesystem's
    *     create-if-absent (rename onto an existing non-empty dir
    *     fails, and every committed slot is non-empty), the commit
    *     point's conditional PUT. Exactly one concurrent writer wins
    *     a slot, and the slot it wins is complete the instant it
    *     exists — there is NO window where a claim sits unpublished,
    *     so there is nothing to sweep and no sweep that could race a
    *     live-but-slow publisher (the lost-update mode of the earlier
    *     mkdir-claim + rename-files-in protocol: a sweeper deleting a
    *     slow winner's claim and re-claiming it, after which the slow
    *     winner's renames land inside the sweeper's dir);
    *  3. a loser's rename fails; it REBASES immediately — re-reads
    *     the new latest state (the slot that beat it is already
    *     complete), recomputes its delta, and claims the next id. The
    *     serialized result equals the sequential order of the commit
    *     renames — no lost update, and no `claimWaitMs` tuning knob.
    * Crash windows: die before the claim-rename → only a private
    * stage dir, invisible to readers and overwritten by the same
    * writer's next attempt; after it → committed. Nothing in
    * `deltas/` is ever partial. Returns the committed version id.
    *
    * `beforeClaim(attempt, version)` is the coordination hook: the
    * gate uses a barrier to force a deterministic two-writer race,
    * Round14Spec a throw to pin the crash-before-claim window. */
  private[graft] def commitDeltaOcc(s: SparkSession, root: String,
      writerId: String, deltaOf: DataFrame => DataFrame,
      maxAttempts: Int = 5,
      beforeClaim: (Int, Int) => Unit = (_, _) => ()): Int = {
    var attempt = 0
    while (attempt < maxAttempts) {
      val latest = currentVersion(s, root)
      val delta = deltaOf(readOrdersAsOf(s, root, latest))
        .select(col("k"), col("cents"), col("op"))
      val stage = new java.io.File(root, s"deltas_stage/$writerId")
      if (stage.exists())
        org.apache.commons.io.FileUtils.deleteDirectory(stage)
      delta.write.parquet(stage.getAbsolutePath)
      require(new java.io.File(stage, "_SUCCESS").exists(),
        s"stage for $writerId is missing its _SUCCESS marker — " +
          "the atomic claim-rename would publish an incomplete delta")
      val target = new java.io.File(root, s"deltas/v=${latest + 1}")
      target.getParentFile.mkdirs()
      beforeClaim(attempt, latest + 1)
      // the commit point: atomic, all-or-nothing, first-wins
      if (stage.renameTo(target)) return latest + 1
      // conflict — the slot was taken by an already-complete delta;
      // rebase onto it right away
      attempt += 1
    }
    throw new IllegalStateException(
      s"writer $writerId: gave up after $maxAttempts OCC attempts")
  }

  /** q47's root: the q45 fixture plus a DETERMINISTIC
    * two-writer race — both writers stage from the same v3 snapshot
    * and meet at a barrier immediately before the claim, so exactly
    * one wins v4 and the other provably conflicts, rebases onto the
    * winner's state, and commits v5. Writer effects are
    * order-commutative BY CONSTRUCTION of the rebase (each recomputes
    * from current state), so the final table is deterministic and
    * directly oracle-checkable even though the winner is not. */
  private[graft] def buildOccOrders(s: SparkSession, dir: String)
      : String =
    Artifacts.memo(s, "q47", dir) { root =>
      writeVersionedOrders(s, dir, root)
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val meet: (Int, Int) => Unit = (attempt, _) =>
        if (attempt == 0) {
          barrier.await(60, java.util.concurrent.TimeUnit.SECONDS)
          ()
        }
      // writer A: erase k%20==5 and bump k%20==7 by 100 (read-
      // modify-write); writer B: bump k%20==7 by 3. A lost update
      // would make the final bump 100 or 3 instead of 103.
      def bump(state: DataFrame, by: Long): DataFrame =
        state.filter(pmod(col("k"), lit(20)) === 7)
          .select(col("k"), (col("cents") + by).as("cents"),
            lit("U").as("op"))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val fa = pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = commitDeltaOcc(s, root.getAbsolutePath,
            "A", st => st.filter(pmod(col("k"), lit(20)) === 5)
              .select(col("k"), lit(0L).as("cents"),
                lit("D").as("op"))
              .unionByName(bump(st, 100)), beforeClaim = meet)
        })
        val fb = pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = commitDeltaOcc(s, root.getAbsolutePath,
            "B", st => bump(st, 3), beforeClaim = meet)
        })
        val committed = Seq(fa.get(), fb.get()).sorted
        require(committed == Seq(4, 5),
          s"the race must commit exactly v4 and v5, got $committed")
      } finally pool.shutdown()
    }

  /** q47 — CONCURRENT COMMITS serialized by optimistic concurrency:
    * two writers race from the same snapshot (barrier-pinned, so the
    * conflict always happens); the loser rebases and both land. The
    * final state must show BOTH effects composed — k%20==5 erased,
    * k%20==7 bumped by exactly 103 — whichever writer won, and the
    * log must hold exactly two new committed versions. All integer
    * cents ⇒ DIRECT DuckDB oracle. */
  def concurrentCommit(s: SparkSession, dir: String): DataFrame = {
    val root = buildOccOrders(s, dir)
    val latest = currentVersion(s, root)
    readOrdersAsOf(s, root, latest)
      .agg(count(lit(1)).as("n_rows"),
        sum(col("cents")).as("total_cents"))
      .select(lit(latest).as("final_version"), col("n_rows"),
        col("total_cents"))
  }

  val concurrentCommitSql: String = """
    WITH o AS (
      SELECT o_orderkey AS k,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
          AS cents
      FROM orders),
    v3 AS (
      SELECT k, CASE WHEN k % 10 = 1 THEN cents + 12 ELSE cents END
        AS cents
      FROM o WHERE k % 10 <> 2
      UNION ALL
      SELECT k, cents + 1 AS cents FROM o WHERE k % 20 = 2),
    final AS (
      SELECT k,
        CASE WHEN k % 20 = 7 THEN cents + 103 ELSE cents END AS cents
      FROM v3 WHERE k % 20 <> 5)
    SELECT 5 AS final_version, CAST(count(*) AS BIGINT) AS n_rows,
      CAST(sum(cents) AS BIGINT) AS total_cents
    FROM final"""

  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Seq(("q22_zorder_layout", zorderLayout _, Some(zorderLayoutSql)),
      ("q23_range_shards", rangeShards _, Some(rangeShardsSql)),
      ("q44_zonemap_pruning", zonemapPruning _, Some(zonemapPruningSql)),
      ("q45_time_travel", timeTravel _, Some(timeTravelSql)),
      ("q46_time_travel_compacted", timeTravelCompacted _,
        Some(timeTravelCompactedSql)),
      ("q47_concurrent_commit", concurrentCommit _,
        Some(concurrentCommitSql)))
}
