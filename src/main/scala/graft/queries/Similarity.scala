package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.core.Artifacts
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor search over the embeddings table
  * (Layer B north-star; absent in the reference).
  *
  *  - Brute-force cosine top-k is the exactness baseline: the query set
  *    is tiny and broadcast, so the scan over the corpus is a single
  *    map-side pass (no shuffle of the corpus), followed by a per-query
  *    top-k window.
  *  - The LSH-bucketed variant is the 100 TB path: seeded random
  *    hyperplanes assign each vector a sign bucket; multiple tables
  *    (multi-probe) bound the recall loss; the join touches only
  *    same-bucket vectors. */
object Similarity {

  /** Deterministic seeded gaussian hyperplanes (driver-side). */
  def hyperplanes(n: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(n)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign bucket of v under the given hyperplanes (bit i = sign of
    * dot(v, plane_i)). */
  def signBucket(v: Seq[Float], planes: Array[Array[Double]]): Int = {
    var bucket = 0
    var i = 0
    while (i < planes.length) {
      val p = planes(i)
      var dot = 0.0
      var j = 0
      while (j < p.length && j < v.length) { dot += v(j) * p(j); j += 1 }
      if (dot >= 0) bucket |= (1 << i)
      i += 1
    }
    bucket
  }

  /** Cosine similarity in double precision. */
  def cosine(x: Seq[Float], y: Seq[Float]): Double = {
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      dot += x(i).toDouble * y(i)
      nx += x(i).toDouble * x(i)
      ny += y(i).toDouble * y(i)
      i += 1
    }
    if (nx == 0 || ny == 0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  private val NumQueries = 8
  private val TopK = 5

  /** Exact top-k neighbors of the first 8 vectors by cosine. Output is
    * rank-only (ids + rank) so the DuckDB oracle comparison is immune
    * to float-vs-double cosine rounding. */
  def annBruteForce(s: SparkSession, dir: String): DataFrame = {
    val emb = Relational.table(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val queries = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    emb.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        graft.expr.CosineSimilarity.cosineSimilarity(
          col("embedding"), col("qe")).as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"))
      .orderBy("query_id", "rank")
  }

  val annBruteForceSql: String = s"""
    SELECT query_id, neighbor_id, rank FROM (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        row_number() OVER (PARTITION BY q.vec_id
          ORDER BY list_cosine_similarity(e.embedding, q.embedding) DESC,
                   e.vec_id) AS rank
      FROM embeddings e, embeddings q
      WHERE q.vec_id < $NumQueries AND e.vec_id <> q.vec_id)
    WHERE rank <= $TopK
    ORDER BY query_id, rank"""

  /** LSH-bucketed ANN: 6 hash tables of 5 hyperplanes each (tuned for
    * weakly-clustered corpora — real embedding spaces cluster, which
    * raises both recall and bucket selectivity); candidates share a
    * bucket in at least one table; exact cosine re-ranks them. Scale
    * path: each table's join is bucket-equi, so cost is corpus-linear
    * with small constants instead of quadratic. The corpus-wide bucket
    * assignment is a native codegen'd expression
    * ([[graft.expr.HyperplaneBuckets]], bit-identical to
    * [[signBucket]] over [[hyperplanes]] — spec-checked) — no ScalaUDF
    * touches the full scan. */
  def annLshBucketed(s: SparkSession, dir: String): DataFrame = {
    val (out, caches) = annLshBucketedPlan(s, dir)
    graft.queries.CacheScope.materializeAndRelease(out, caches: _*)
  }

  /** Un-materialized plan + persisted inputs — the spec hook: plan
    * assertions must read the REAL plan (materializeAndRelease
    * replaces the returned lineage with a checkpoint scan). */
  private[graft] def annLshBucketedPlan(s: SparkSession, dir: String)
      : (DataFrame, Seq[DataFrame]) = {
    val emb = Relational.table(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val bucketed = emb.select(col("vec_id"), col("embedding"),
      explode(graft.expr.HyperplaneBuckets.hyperplaneBuckets(
        col("embedding"), tables = 6, planes = 5, dim = 64, seed = 7000L))
        .as("bucket")).persist()

    val queries = bucketed.filter(col("vec_id") < NumQueries)
      .select(col("bucket"), col("vec_id").as("query_id"),
        col("embedding").as("qe"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    val out = bucketed.join(queries, Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .dropDuplicates("query_id", "vec_id")
      .select(col("query_id"), col("vec_id"),
        graft.expr.CosineSimilarity.cosineSimilarity(
          col("embedding"), col("qe")).as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"))
      .orderBy("query_id", "rank")
    (out, Seq(bucketed))
  }

  // ------------------------------------------------------------ IVF
  private[graft] val IvfK = 16
  private val IvfProbe = 4
  private val IvfIters = 2
  private val IvfTrainCap = 2000

  /** Index of the centroid most cosine-similar to v (ties → lowest). */
  def nearestCentroid(v: Seq[Float], cents: Array[Array[Float]]): Int = {
    var best = 0; var bestCos = -2.0
    var i = 0
    while (i < cents.length) {
      val c = cosine(v, cents(i).toSeq)
      if (c > bestCos) { bestCos = c; best = i }
      i += 1
    }
    best
  }

  /** The `n` most similar centroid indices (probe set). */
  def nearestCentroids(v: Seq[Float], cents: Array[Array[Float]],
                       n: Int): Seq[Int] =
    cents.indices
      .map(i => (i, cosine(v, cents(i).toSeq)))
      .sortBy { case (i, c) => (-c, i) }
      .take(n).map(_._1)

  /** Deterministic k-means centroids for the IVF index, trained on a
    * hash-gated sample (layout-stable): init = the k sample vectors
    * with the lowest seeded hash, then Lloyd rounds where only the
    * SAMPLE is dim-exploded and averaged — the full corpus is never
    * shuffled for training, which is the standard IVF shape at 100 TB
    * (train on a sample, assign the corpus in one broadcast pass). */
  def ivfCentroids(emb: DataFrame, k: Int, iters: Int,
                   seed: Long): Array[Array[Float]] = {
    val sample = emb
      .orderBy(xxhash64(col("vec_id"), lit(seed)), col("vec_id"))
      .limit(IvfTrainCap)
      .select(col("vec_id"), col("embedding")).persist()
    var cents = sample
      .orderBy(xxhash64(col("vec_id"), lit(seed + 1)), col("vec_id"))
      .limit(k).collect()
      .map(_.getSeq[Float](1).toArray)
    (1 to iters).foreach { _ =>
      // same codegen'd k-cosine argmax as the corpus pass — the
      // training loop is sample-sized, but there is no reason for its
      // only remaining ScalaUDF to exist when the native formulation
      // is bit-identical (ties -> lowest index, same double cosine)
      val means = sample.withColumn("cid",
          nearestCentroidCol(col("embedding"), cents))
        .select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("cid", "pos").agg(avg(col("x")).as("m"))
        .collect()
      val next = cents.map(_.clone()) // empty clusters keep their centroid
      means.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getDouble(2).toFloat
      }
      cents = next
    }
    sample.unpersist()
    cents
  }

  /** Codegen'd nearest-centroid assignment for the corpus-wide pass:
    * an array of k native cosine expressions and an argmax via
    * array_position(·, array_max(·)) — first occurrence of the max,
    * i.e. ties → lowest index, matching [[nearestCentroid]] exactly
    * (same cosine arithmetic through [[graft.expr.CosineSimilarity]]).
    * No ScalaUDF touches the full-corpus scan. */
  private def nearestCentroidCol(emb: org.apache.spark.sql.Column,
      cents: Array[Array[Float]]): org.apache.spark.sql.Column = {
    val coses = array(cents.map(c =>
      graft.expr.CosineSimilarity.cosineSimilarity(emb,
        typedLit(c.toSeq))): _*)
    (array_position(coses, array_max(coses)) - 1).cast("int")
  }

  /** Native multi-probe: top-`n` centroid indices by cosine, as pure
    * expression work — `array_sort` over `(−cos, idx)` structs (struct
    * default ordering = cos desc, ties → lowest index, exactly
    * [[nearestCentroids]]' `sortBy((-c, i))`), then slice + project.
    * Replaces the last ScalaUDF on the s04 query side: k is plan-time
    * constant, so the sort is over a k-element literal-shaped array
    * per row — no serialization boundary, no broadcast handle. */
  private[graft] def nearestCentroidsCol(emb: org.apache.spark.sql.Column,
      cents: Array[Array[Float]], n: Int): org.apache.spark.sql.Column = {
    val entries = cents.zipWithIndex.map { case (c, i) =>
      struct(
        (graft.expr.CosineSimilarity.cosineSimilarity(emb,
          typedLit(c.toSeq)) * lit(-1.0)).as("negcos"),
        lit(i).as("idx"))
    }
    transform(slice(array_sort(array(entries: _*)), 1, n),
      s => s.getField("idx"))
  }

  /** IVF ANN: k-means inverted lists + multi-probe. Every corpus
    * vector is assigned to its nearest centroid in ONE broadcast pass
    * (no shuffle); each query probes its `IvfProbe` closest lists, so
    * the candidate join is a centroid-id equi-join touching ~probe/k
    * of the corpus; exact cosine re-ranks. The centroid count scales
    * as sqrt(corpus) in production — the plan shape is unchanged. */
  def annIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = Relational.table(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val cents = ivfCentroids(emb, IvfK, IvfIters, seed = 9000)

    // corpus side stays UDF-free: codegen'd k-cosine argmax
    val lists = emb.select(col("vec_id"), col("embedding"),
      nearestCentroidCol(col("embedding"), cents).as("cid"))
    // ...and so does the query side: native top-n probe expression
    val queries = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        explode(nearestCentroidsCol(col("embedding"), cents, IvfProbe))
          .as("cid"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    // each corpus vector lives in exactly one list and each query
    // probes distinct lists => no duplicate (query, vec) candidates
    lists.join(broadcast(queries), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        graft.expr.CosineSimilarity.cosineSimilarity(
          col("embedding"), col("qe")).as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"))
      .orderBy("query_id", "rank")
  }

  // --------------------------------------- s24 stored IVF index (serve)
  /** Builds and PERSISTS the IVF index for the embeddings corpus:
    * `centroids/` (k rows: cid → vector) and `postings/` — every
    * corpus vector assigned to its nearest centroid in one broadcast
    * pass and written `partitionBy("cid")`, so each inverted list is
    * its own parquet partition directory and a probe-time
    * `cid IN (...)` becomes STATIC PARTITION PRUNING: the serve scan
    * never opens the unprobed lists' files. This is the vector-database
    * layout (FAISS IVF on object storage): at 100 TB the postings are
    * ~sqrt(n) directories, each internally splittable, and index build
    * cost is one corpus pass. Returns the index root. */
  private[graft] def buildIvfIndex(s: SparkSession, dir: String): String =
    Artifacts.memo(s, "s24", dir) { root =>
      val emb = Relational.table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      // shared writer (centroids + postings + idmap) — s24 indexes
      // are upsertable with the s25 machinery out of the box
      writeIvfIndexTrained(s, emb, root)
    }

  /** s24 — ANN answered from the STORED index (the serve path): the
    * MV discipline sk04/sk06 apply to sketches, applied to similarity
    * search. The corpus is touched only at [[buildIvfIndex]] build
    * time; a serve call reads the k-row `centroids/` table, computes
    * each query's probe lists driver-side (query vectors are the
    * bounded per-request input of any vector store — 8 rows here),
    * and scans ONLY the probed posting partitions (`cid IN` → static
    * partition pruning, plan-asserted in Round11Spec) with the same
    * exact-cosine re-rank as s04. Same centroids, same probe
    * arithmetic ([[nearestCentroids]] ↔ the native
    * [[nearestCentroidsCol]], spec-pinned bit-parity) ⇒ results are
    * IDENTICAL to the in-plan s04 — s24_ann_inv pins that parity plus
    * the recall contract. Engine-specific ordering internals →
    * rows-only. */
  def annStoredIvf(s: SparkSession, dir: String): DataFrame =
    serveIvf(s, buildIvfIndex(s, dir), dir)

  /** The serve path against an ARBITRARY index root — shared by s24
    * (build-once index) and s25 (incrementally upserted index): reads
    * the k-row centroid table, computes probe lists driver-side from
    * the bounded per-request query set, scans only probed posting
    * partitions, exact-cosine re-rank. */
  private[graft] def serveIvf(s: SparkSession, root: String,
      dir: String, k: Int = TopK): DataFrame = {
    import s.implicits._
    val cents = readCentroids(s, root)
    // serve-side request set: bounded (one row per query vector) —
    // the driver is where serve requests originate in a vector store
    val queries = Relational.table(s, dir, "embeddings")
      .filter(col("vec_id") < NumQueries)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val probeRows = queries.flatMap { case (qid, qe) =>
      nearestCentroids(qe, cents, IvfProbe).map(cid => (qid, cid, qe))
    }.toSeq
    val probedCids = probeRows.map(_._2).distinct.sorted
    val probeDf = probeRows.toDF("query_id", "cid", "qe")
    val postings = s.read
      .parquet(new java.io.File(root, "postings").getAbsolutePath)
      .filter(col("cid").isin(probedCids.map(Integer.valueOf): _*))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    postings.join(broadcast(probeDf), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        graft.expr.CosineSimilarity.cosineSimilarity(
          col("embedding"), col("qe")).as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** Spec hook: the serve-path scan WITHOUT the final materialization,
    * for partition-pruning plan assertions. */
  private[graft] def storedIvfServeScan(s: SparkSession, dir: String)
      : DataFrame = {
    val root = buildIvfIndex(s, dir)
    s.read.parquet(new java.io.File(root, "postings").getAbsolutePath)
      .filter(col("cid").isin(0, 1))
  }

  /** Spec hook: number of posting-list partition directories in the
    * stored index (the denominator of the pruning assertion). */
  private[graft] def annStoredIvfPostingCount(s: SparkSession,
      dir: String): Int = {
    val root = buildIvfIndex(s, dir)
    new java.io.File(root, "postings").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("cid="))
  }

  // ------------------------------ s25 incremental IVF upsert (serve)
  /** Assign a vector frame to the stored centroid set — the one
    * broadcast pass both the build and every upsert batch go through
    * (same codegen'd argmax as s04/s24 ⇒ identical list membership). */
  private[graft] def assignToLists(emb: DataFrame,
      cents: Array[Array[Float]]): DataFrame =
    emb.select(col("vec_id"), col("embedding"),
      nearestCentroidCol(col("embedding"), cents).as("cid"))

  /** Hash-bucket count of the id→list sidecar map (see
    * [[writeIvfIndex]]): an upsert touches only its batch ids'
    * buckets, so lookup and rewrite both prune statically. */
  private val IdMapBuckets = 16

  private def idBucket: org.apache.spark.sql.Column =
    pmod(xxhash64(col("vec_id")), lit(IdMapBuckets)).cast("int")

  /** Write an index root from an already-assigned frame — the build
    * step s24 does for the whole corpus, factored out so s25 can
    * build a BASE index and grow it. Layout: `centroids/` (k rows),
    * `postings/` (`partitionBy(cid)` inverted lists), and `idmap/` —
    * the (vec_id → cid) sidecar every real vector store keeps,
    * `partitionBy(bucket)` on a hash of the id. The id map is what
    * makes REPLACE correct when a new embedding assigns to a
    * DIFFERENT list: without it, finding a vector's current list
    * would take a full postings scan per upsert. */
  private[graft] def writeIvfIndex(s: SparkSession, emb: DataFrame,
      cents: Array[Array[Float]], root: java.io.File): Unit = {
    import s.implicits._
    if (root.exists())
      org.apache.commons.io.FileUtils.deleteDirectory(root)
    cents.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cid", "centroid")
      .coalesce(1).write.mode("overwrite")
      .parquet(new java.io.File(root, "centroids").getAbsolutePath)
    val assigned = assignToLists(emb, cents)
    assigned.write.partitionBy("cid").mode("overwrite")
      .parquet(new java.io.File(root, "postings").getAbsolutePath)
    assigned.select(col("vec_id"), col("cid"), idBucket.as("bucket"))
      .write.partitionBy("bucket").mode("overwrite")
      .parquet(new java.io.File(root, "idmap").getAbsolutePath)
  }

  /** The stored k-row centroid table of an index root. */
  private[graft] def readCentroids(s: SparkSession, root: String)
      : Array[Array[Float]] =
    s.read.parquet(new java.io.File(root, "centroids").getAbsolutePath)
      .orderBy("cid").collect()
      .map(_.getSeq[Float](1).toArray)

  /** Build an index root training centroids on the given corpus
    * (the s24 build, parameterized by corpus — st32's base build). */
  private[graft] def writeIvfIndexTrained(s: SparkSession,
      emb: DataFrame, root: java.io.File): Array[Array[Float]] = {
    val cents = ivfCentroids(emb, IvfK, IvfIters, seed = 9000)
    writeIvfIndex(s, emb, cents, root)
    cents
  }

  /** s25's mechanism — UPSERT a vector batch into a stored IVF index
    * WITHOUT rebuilding it: assign the batch against the STORED
    * centroids (k-row read, one broadcast pass over the batch), look
    * up replaced ids' CURRENT lists in the `idmap/` sidecar (pruned
    * to the batch ids' hash buckets — a replace whose new embedding
    * assigns to a DIFFERENT list must evict the old row from the list
    * it actually lives in, which the batch's own assignments cannot
    * reveal), then rewrite ONLY the affected posting lists via
    * dynamic partition overwrite (the j08 machinery): merged =
    * (existing rows of the affected lists MINUS rows whose vec_id the
    * batch replaces) ∪ batch, staged and written with
    * `partitionOverwriteMode=dynamic` so Spark replaces exactly the
    * `cid=` directories involved — unaffected lists' files are never
    * opened OR rewritten (Round12Spec pins both, file-listing-level,
    * plus the cross-list replace). The id map's touched buckets are
    * rewritten the same way. An empty batch is a no-op (a replayed
    * empty micro-batch must not kill the st32 stream).
    *
    * This is the vector-database ingest path: at 100 TB the cost of
    * an upsert is ∝ |batch| + |affected lists| + |touched id-map
    * buckets| (every read statically pruned), never ∝ corpus.
    * Centroids are intentionally immutable here — re-training is a
    * rebuild, not an upsert (the same contract FAISS IVF exposes);
    * served results therefore stay IDENTICAL to a full rebuild over
    * the union corpus with the same centroid set, which is exactly
    * what s25_ann_upsert_inv pins. */
  private[graft] def upsertIvfIndex(s: SparkSession, root: String,
      batch: DataFrame): Unit = {
    if (batch.isEmpty) return
    val idmapPath = new java.io.File(root, "idmap")
    require(idmapPath.isDirectory,
      s"index at $root has no id map — rebuild it with this layout " +
        "(upsert cannot locate replaced vectors' current lists)")
    val cents = readCentroids(s, root)
    val postingsPath = new java.io.File(root, "postings").getAbsolutePath
    val assigned = assignToLists(batch, cents)
    // batch ids' hash buckets: the only id-map partitions touched
    val buckets = assigned.select(idBucket.as("bucket")).distinct()
      .collect().map(_.getInt(0)).sorted
    val idmapHit = s.read.parquet(idmapPath.getAbsolutePath)
      .filter(col("bucket").isin(buckets.map(Integer.valueOf): _*))
    // affected lists = where the batch lands ∪ where replaced ids live
    val newCids = assigned.select("cid").distinct().collect()
      .map(_.getInt(0))
    val oldCids = idmapHit
      .join(assigned.select("vec_id"), Seq("vec_id"), "left_semi")
      .select("cid").distinct().collect().map(_.getInt(0))
    val affected = (newCids ++ oldCids).distinct.sorted
    val existing = s.read.parquet(postingsPath)
      .filter(col("cid").isin(affected.map(Integer.valueOf): _*))
      .join(assigned.select("vec_id"), Seq("vec_id"), "left_anti")
      .select("vec_id", "embedding", "cid")
    // stage the merged lists first: Spark (correctly) refuses a write
    // that overwrites a path its own plan is reading
    val stage = new java.io.File(root, "postings_stage")
    existing.unionByName(assigned)
      .write.partitionBy("cid").mode("overwrite")
      .parquet(stage.getAbsolutePath)
    s.read.parquet(stage.getAbsolutePath)
      .select("vec_id", "embedding", "cid")
      .write.partitionBy("cid").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(postingsPath)
    // Dynamic overwrite only replaces directories that RECEIVE rows:
    // a list whose last vector was replaced away (and that got no new
    // assignment) is absent from the merged frame, so its stale
    // `cid=` directory would survive — leaving the replaced vec_id
    // present twice (old payload in the old list, new in the new).
    // Delete affected lists the merge emptied.
    val mergedCids = s.read.parquet(stage.getAbsolutePath)
      .select("cid").distinct().collect().map(_.getInt(0)).toSet
    affected.filterNot(mergedCids.contains).foreach { cid =>
      val d = new java.io.File(postingsPath, s"cid=$cid")
      if (d.isDirectory)
        org.apache.commons.io.FileUtils.deleteDirectory(d)
    }
    org.apache.commons.io.FileUtils.deleteDirectory(stage)
    // id map: merge the touched buckets the same way
    val idStage = new java.io.File(root, "idmap_stage")
    idmapHit.join(assigned.select("vec_id"), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cid"), col("bucket"))
      .unionByName(assigned.select(col("vec_id"), col("cid"),
        idBucket.as("bucket")))
      .write.partitionBy("bucket").mode("overwrite")
      .parquet(idStage.getAbsolutePath)
    s.read.parquet(idStage.getAbsolutePath)
      .select("vec_id", "cid", "bucket")
      .write.partitionBy("bucket").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(idmapPath.getAbsolutePath)
    org.apache.commons.io.FileUtils.deleteDirectory(idStage)
  }

  /** Build-once memo for the s25 pair of roots: the INCREMENTAL index
    * (base build + upserted delta) and the FULL-REBUILD reference
    * (one-shot assignment of the union corpus with the SAME stored
    * centroid set). */
  private[graft] def buildUpsertedIvfIndex(s: SparkSession, dir: String)
      : (String, String) = {
    val root = Artifacts.memo(s, "s25", dir) { root =>
      val emb = Relational.table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      // base corpus = 3/4 of the vectors; the delta batch is the
      // remaining quarter PLUS re-writes of every vec_id % 8 == 0
      // vector (ids already present in the base — the REPLACE half
      // of upsert; payload identical, so the union corpus is still
      // exactly the full table)
      val base = emb.filter(pmod(col("vec_id"), lit(4)) =!= 3)
      val delta = emb.filter(pmod(col("vec_id"), lit(4)) === 3)
        .unionByName(emb.filter(pmod(col("vec_id"), lit(8)) === 0))
      // centroids train on the BASE (that is what existed at build
      // time) and stay immutable through the upsert
      val cents = ivfCentroids(base, IvfK, IvfIters, seed = 9000)
      val incRoot = new java.io.File(root, "inc")
      writeIvfIndex(s, base, cents, incRoot)
      upsertIvfIndex(s, incRoot.getAbsolutePath, delta)
      writeIvfIndex(s, emb, cents, new java.io.File(root, "full"))
    }
    (s"$root/inc", s"$root/full")
  }

  /** s25 — ANN served from the UPSERTED index: the s24 serve path
    * run against an index that was built on 3/4 of the corpus and
    * then grew the rest (plus replacements) through
    * [[upsertIvfIndex]]. Engine-specific ordering internals →
    * rows-only; [[annUpsertIvfInv]] ★ pins bit-parity with the
    * full-rebuild reference, no duplicate ids after the replace
    * batch, and the k bound. */
  def annUpsertIvf(s: SparkSession, dir: String): DataFrame =
    serveIvf(s, buildUpsertedIvfIndex(s, dir)._1, dir)

  /** Deterministic contract of the upsert path: (1) serving the
    * incrementally-grown index ≡ serving a full rebuild with the same
    * centroids, row for row; (2) the replace batch left no duplicate
    * vec_ids in the postings (and postings row count == corpus row
    * count); (3) every query still returns ≤ k neighbors. */
  def annUpsertIvfInv(s: SparkSession, dir: String): DataFrame = {
    val (incRoot, fullRoot) = buildUpsertedIvfIndex(s, dir)
    val inc = serveIvf(s, incRoot, dir)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
    val full = serveIvf(s, fullRoot, dir)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
    val union = inc.join(full, Seq("query_id", "neighbor_id", "rank"),
        "full_outer")
      .agg(count(lit(1)).as("n_union"))
    val both = inc.join(full, Seq("query_id", "neighbor_id", "rank"))
      .agg(count(lit(1)).as("n_both"))
    val postings = s.read
      .parquet(new java.io.File(incRoot, "postings").getAbsolutePath)
    val dupes = postings.groupBy("vec_id")
      .agg(count(lit(1)).as("c"))
      .agg(sum((col("c") > 1).cast("long")).as("n_dup"),
        count(lit(1)).as("n_ids"))
    val corpus = Relational.table(s, dir, "embeddings")
      .agg(count(lit(1)).as("n_corpus"))
    val overK = inc.groupBy("query_id").agg(count(lit(1)).as("k"))
      .agg(sum((col("k") > 5).cast("long")).as("n_over"))
    union.crossJoin(both).crossJoin(dupes).crossJoin(corpus)
      .crossJoin(overK)
      .select((col("n_union") === col("n_both")).as("parity_ok"),
        (col("n_dup") === 0 && col("n_ids") === col("n_corpus"))
          .as("no_dup"),
        (col("n_over") === 0).as("k_bounded"))
  }

  val annUpsertIvfInvSql: String =
    "SELECT TRUE AS parity_ok, TRUE AS no_dup, TRUE AS k_bounded"

  // --------------------------- s31 IVF hot-list rebalance (split)
  /** s31's mechanism — split an index's hottest posting lists IN
    * PLACE, the maintenance op the s25/st32 write path eventually
    * forces: under continuous ingest the largest lists grow without
    * bound while serve cost is ∝ the probed lists' sizes, so one hot
    * list throttles every query that probes it (the "hot shard
    * split" every production vector store ships). Each of the
    * `splits` largest lists (size desc, cid tie-break, ≥4 rows) is
    * re-clustered into TWO sub-lists by the SAME deterministic
    * k-means the build uses (k=2, seed derived from the cid):
    * sub-list 0 keeps the old cid under its REFINED centroid,
    * sub-list 1 becomes a fresh cid appended to the centroid table.
    * Rewrite cost = the split lists' rows + the moved ids' idmap
    * buckets, published via dynamic partition overwrite — every
    * other list's files are untouched (Round13bSpec pins it at file
    * granularity). Other lists' historical assignments are NOT
    * re-evaluated: assignment is frozen at write time and probes
    * always use the current centroid table — the standard IVF
    * contract. Publish order matters: postings and idmap first,
    * the centroid table LAST as the commit point (a crash before it
    * leaves fresh-cid rows unreachable — a recall dip, never a wrong
    * or duplicate answer), and the next run ROLLS the interrupted
    * commit forward before doing its own work: orphan posting lists
    * (cid without a centroid row) first get their ids' idmap buckets
    * republished from the orphan postings (the ground truth — covers
    * the postings-published-idmap-not window, where a stale idmap row
    * would send a later upsert's eviction to the wrong list), then
    * are adopted by appending their mean vector as the missing
    * centroid, so re-running after any crash converges (Round13bSpec
    * pins the centroid window, Round14Spec the idmap window).
    *
    * Returns the split cids. */
  private[graft] def rebalanceIvfIndex(s: SparkSession, root: String,
      splits: Int = 2): Seq[Int] = {
    import s.implicits._
    val postingsPath = new java.io.File(root, "postings").getAbsolutePath
    val sizes = s.read.parquet(postingsPath)
      .groupBy("cid").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1))
    // roll FORWARD a crashed predecessor: a posting dir whose cid has
    // no centroid row means a previous rebalance died between the
    // postings publish and the centroid commit — those rows exist but
    // are unreachable (no probe can select them). Adopt each orphan
    // list by appending its vectors' mean as the missing centroid
    // (the refined sub-0 centroid of the crashed run is lost — only
    // probe QUALITY, never correctness, depends on it), completing
    // the interrupted commit before this run allocates fresh cids.
    locally {
      val nCents0 = readCentroids(s, root).length
      val orphans = sizes.map(_._1).filter(_ >= nCents0).sorted
      if (orphans.nonEmpty) {
        require(orphans.toSeq ==
          (nCents0 until nCents0 + orphans.length).toSeq,
          s"orphan posting lists $orphans are not contiguous from " +
            s"$nCents0 — index corrupt beyond roll-forward, rebuild it")
        // the crash may equally have landed BETWEEN the postings
        // publish and the idmap publish: a moved vec_id's idmap row
        // then still points at its OLD cid, and a later s25-style
        // upsert of that id would evict from the wrong list and leave
        // a duplicate. The orphan postings are the ground truth —
        // republish their ids' idmap buckets from them (same
        // stage→dynamic-overwrite discipline as the main path; a
        // no-op rewrite when the idmap publish DID land, so the
        // roll-forward stays idempotent).
        locally {
          val orphanAssign = s.read.parquet(postingsPath)
            .filter(col("cid").isin(orphans.map(Integer.valueOf): _*))
            .select(col("vec_id"), col("cid"), idBucket.as("bucket"))
          val oBuckets = orphanAssign.select("bucket").distinct()
            .collect().map(_.getInt(0)).sorted
          if (oBuckets.nonEmpty) {
            val idmapPath = new java.io.File(root, "idmap")
              .getAbsolutePath
            val idStage = new java.io.File(root, "idmap_rollfwd_stage")
            s.read.parquet(idmapPath)
              .filter(col("bucket")
                .isin(oBuckets.map(Integer.valueOf): _*))
              .join(orphanAssign.select("vec_id"), Seq("vec_id"),
                "left_anti")
              .select("vec_id", "cid", "bucket")
              .unionByName(orphanAssign
                .select("vec_id", "cid", "bucket"))
              .write.partitionBy("bucket").mode("overwrite")
              .parquet(idStage.getAbsolutePath)
            s.read.parquet(idStage.getAbsolutePath)
              .select("vec_id", "cid", "bucket")
              .write.partitionBy("bucket").mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .parquet(idmapPath)
            org.apache.commons.io.FileUtils.deleteDirectory(idStage)
          }
        }
        val means = s.read.parquet(postingsPath)
          .filter(col("cid").isin(orphans.map(Integer.valueOf): _*))
          .select(col("cid"),
            posexplode(col("embedding")).as(Seq("pos", "x")))
          .groupBy("cid", "pos").agg(avg(col("x")).as("m"))
          .collect()
        val dim = means.map(_.getInt(1)).max + 1
        val adopted = orphans.map { cid =>
          val c = new Array[Float](dim)
          means.filter(_.getInt(0) == cid)
            .foreach(r => c(r.getInt(1)) = r.getDouble(2).toFloat)
          c
        }
        (readCentroids(s, root) ++ adopted).zipWithIndex
          .map { case (c, i) => (i, c.toSeq) }.toSeq
          .toDF("cid", "centroid")
          .coalesce(1).write.mode("overwrite")
          .parquet(new java.io.File(root, "centroids").getAbsolutePath)
      }
    }
    val hot = sizes.filter(_._2 >= 4)
      .sortBy { case (cid, n) => (-n, cid) }.take(splits).map(_._1)
    if (hot.isEmpty) return Seq.empty
    val cents = readCentroids(s, root)
    val newCents = scala.collection.mutable.ArrayBuffer(cents: _*)
    var nextCid = cents.length
    val rewrittenParts = hot.map { cid =>
      // one statically-selected partition dir per hot list
      val listVecs = s.read.parquet(postingsPath)
        .filter(col("cid") === cid)
        .select(col("vec_id"), col("embedding"))
      val sub = ivfCentroids(listVecs, 2, IvfIters, seed = 7700L + cid)
      newCents(cid) = sub(0)
      val fresh = nextCid
      nextCid += 1
      newCents += sub(1)
      listVecs.select(col("vec_id"), col("embedding"),
        when(nearestCentroidCol(col("embedding"), sub) === 0, lit(cid))
          .otherwise(lit(fresh)).as("cid"))
    }
    // snapshot the re-clustered rows to a stage dir BEFORE touching
    // postings/: the publish below refreshes (and so invalidates) any
    // cached plan that reads postingsPath — a persist() here would
    // silently recompute from the OVERWRITTEN dir and lose the moved
    // rows for the idmap merge (the s30 stage discipline, same reason)
    val stage = new java.io.File(root, "postings_rebal_stage")
    rewrittenParts.reduce(_ unionByName _)
      .write.partitionBy("cid").mode("overwrite")
      .parquet(stage.getAbsolutePath)
    val rewritten = s.read.parquet(stage.getAbsolutePath)
      .select(col("vec_id"), col("embedding"),
        col("cid").cast("int").as("cid"))
    rewritten.write.partitionBy("cid").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(postingsPath)
    // a hot list whose vectors ALL moved to the fresh sub-list keeps
    // its stale dir under dynamic overwrite — delete it (the s25
    // emptied-list edge, same fix)
    val keptCids = rewritten.select("cid").distinct()
      .collect().map(_.getInt(0)).toSet
    hot.filterNot(keptCids.contains).foreach { cid =>
      val d = new java.io.File(postingsPath, s"cid=$cid")
      if (d.isDirectory)
        org.apache.commons.io.FileUtils.deleteDirectory(d)
    }
    // idmap: only ids that moved to a FRESH list change buckets
    val moved = rewritten.filter(col("cid") >= cents.length)
      .select(col("vec_id"), col("cid"), idBucket.as("bucket"))
    val movedBuckets = moved.select("bucket").distinct()
      .collect().map(_.getInt(0)).sorted
    if (movedBuckets.nonEmpty) {
      val idmapPath = new java.io.File(root, "idmap").getAbsolutePath
      val idStage = new java.io.File(root, "idmap_rebal_stage")
      s.read.parquet(idmapPath)
        .filter(col("bucket").isin(movedBuckets.map(Integer.valueOf): _*))
        .join(moved.select("vec_id"), Seq("vec_id"), "left_anti")
        .select("vec_id", "cid", "bucket")
        .unionByName(moved.select("vec_id", "cid", "bucket"))
        .write.partitionBy("bucket").mode("overwrite")
        .parquet(idStage.getAbsolutePath)
      s.read.parquet(idStage.getAbsolutePath)
        .select("vec_id", "cid", "bucket")
        .write.partitionBy("bucket").mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(idmapPath)
      org.apache.commons.io.FileUtils.deleteDirectory(idStage)
    }
    // centroid table LAST — the commit point (KB-scale)
    newCents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cid", "centroid")
      .coalesce(1).write.mode("overwrite")
      .parquet(new java.io.File(root, "centroids").getAbsolutePath)
    org.apache.commons.io.FileUtils.deleteDirectory(stage)
    hot.toSeq
  }

  /** The s31 root: the s24 build, then a top-2-list rebalance
    * applied in place. */
  private[graft] def buildRebalancedIvfIndex(s: SparkSession,
      dir: String): String =
    Artifacts.memo(s, "s31", dir) { root =>
      val emb = Relational.table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      writeIvfIndexTrained(s, emb, root)
      rebalanceIvfIndex(s, root.getAbsolutePath)
    }

  /** s31 — ANN served from the REBALANCED index: the unchanged s24
    * serve path over an index whose two hottest lists were split in
    * place, completing the stored-index lifecycle (build s24 →
    * upsert s25 → streamed ingest st32 → REBALANCE s31). Engine-
    * specific ordering internals → rows-only; [[annRebalancedInv]] ★
    * pins the recall contract vs the exact arm, no-dup/coverage,
    * idmap↔postings consistency, and that the split actually
    * happened (k+2 centroids). */
  def annRebalanced(s: SparkSession, dir: String): DataFrame =
    serveIvf(s, buildRebalancedIvfIndex(s, dir), dir)

  def annRebalancedInv(s: SparkSession, dir: String): DataFrame = {
    val root = buildRebalancedIvfIndex(s, dir)
    val served = annRebalanced(s, dir)
      .select(col("query_id"), col("neighbor_id"))
    val exact = annBruteForce(s, dir)
      .select(col("query_id"), col("neighbor_id"))
    val nHit = served.join(exact, Seq("query_id", "neighbor_id"),
        "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    val postings = s.read
      .parquet(new java.io.File(root, "postings").getAbsolutePath)
    val dupes = postings.groupBy("vec_id").agg(count(lit(1)).as("c"))
      .agg(coalesce(sum((col("c") > 1).cast("long")), lit(0L))
        .as("n_dup"), count(lit(1)).as("n_ids"))
    val corpus = Relational.table(s, dir, "embeddings")
      .agg(count(lit(1)).as("n_corpus"))
    // idmap must agree with postings for EVERY id after the moves
    val idmap = s.read
      .parquet(new java.io.File(root, "idmap").getAbsolutePath)
      .select(col("vec_id"), col("cid").as("map_cid"))
    val mapChk = postings.select(col("vec_id"), col("cid"))
      .join(idmap, Seq("vec_id"), "full_outer")
      .agg(coalesce(sum((col("cid").isNull || col("map_cid").isNull ||
        col("cid") =!= col("map_cid")).cast("long")), lit(0L))
        .as("n_mismatch"))
    val nLists = s.read
      .parquet(new java.io.File(root, "centroids").getAbsolutePath)
      .agg(count(lit(1)).as("n_cents"))
    nHit.crossJoin(nExact).crossJoin(dupes).crossJoin(corpus)
      .crossJoin(mapChk).crossJoin(nLists)
      .select(
        (col("n_hit") * 10 >= col("n_exact") * 3).as("recall_ok"),
        (col("n_dup") === 0 && col("n_ids") === col("n_corpus"))
          .as("no_dup"),
        (col("n_mismatch") === 0).as("idmap_consistent"),
        (col("n_cents") === IvfK + 2).as("split_done"))
  }

  val annRebalancedInvSql: String =
    "SELECT TRUE AS recall_ok, TRUE AS no_dup, " +
      "TRUE AS idmap_consistent, TRUE AS split_done"

  // --------------------------- s32 right-to-erasure in the stored indexes
  /** s32's IVF mechanism — DELETE a set of vec_ids from a stored IVF
    * index without rebuilding it (the erasure half of the s25 upsert:
    * together they complete the index's write lifecycle, and close
    * the GDPR gap where c13 purges the fact tables but the vector
    * index keeps serving the deleted embeddings). The ids' CURRENT
    * lists come from the `idmap/` sidecar (pruned to the ids' hash
    * buckets); only those posting lists are rewritten (existing rows
    * MINUS the ids) via staged dynamic partition overwrite, lists the
    * delete emptied get their stale dirs removed (the s25 edge), and
    * the touched idmap buckets merge the same way — with buckets the
    * delete emptied removed too (a delete, unlike an upsert, CAN
    * empty a bucket). Centroids are untouched: erasure never retrains
    * (probing a shrunken or vanished list just reads fewer rows —
    * the FAISS `remove_ids` contract). Ids not present in the index
    * are a no-op, which makes a crash-replay of the whole delete
    * idempotent: every artifact is re-derived as (stored MINUS ids),
    * and the second run finds nothing to touch and rewrites NOTHING
    * (Round14Spec pins both windows at file level). Cost ∝ |ids| +
    * |their lists| + |their idmap buckets| — never ∝ corpus. */
  /** A staged parquet dir is unreadable when the write that produced
    * it emitted zero rows (no part files → no schema) — which a
    * delete, unlike an upsert, can legitimately do to every touched
    * partition at once. */
  private def stageHasRows(stage: java.io.File): Boolean = {
    def walk(f: java.io.File): Boolean =
      if (f.isFile) f.getName.endsWith(".parquet")
      else Option(f.listFiles()).getOrElse(Array.empty).exists(walk)
    walk(stage)
  }

  private[graft] def deleteFromIvfIndex(s: SparkSession, root: String,
      ids: DataFrame): Unit = {
    if (ids.isEmpty) return
    val idmapPath = new java.io.File(root, "idmap")
    require(idmapPath.isDirectory,
      s"index at $root has no id map — rebuild it with this layout " +
        "(erasure cannot locate the deleted vectors' lists)")
    val postingsPath = new java.io.File(root, "postings").getAbsolutePath
    val buckets = ids.select(idBucket.as("bucket")).distinct()
      .collect().map(_.getInt(0)).sorted
    val idmapHit = s.read.parquet(idmapPath.getAbsolutePath)
      .filter(col("bucket").isin(buckets.map(Integer.valueOf): _*))
    val hit = idmapHit
      .join(ids.select("vec_id"), Seq("vec_id"), "left_semi")
    val affected = hit.select("cid").distinct()
      .collect().map(_.getInt(0)).sorted
    if (affected.isEmpty) return // nothing stored — replayed delete
    // ---- postings: rewrite only the ids' lists, minus the ids ----
    val stage = new java.io.File(root, "postings_erase_stage")
    s.read.parquet(postingsPath)
      .filter(col("cid").isin(affected.map(Integer.valueOf): _*))
      .join(ids.select("vec_id"), Seq("vec_id"), "left_anti")
      .select("vec_id", "embedding", "cid")
      .write.partitionBy("cid").mode("overwrite")
      .parquet(stage.getAbsolutePath)
    val keptCids =
      if (stageHasRows(stage)) {
        val kept = s.read.parquet(stage.getAbsolutePath)
        kept.select("vec_id", "embedding", "cid")
          .write.partitionBy("cid").mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .parquet(postingsPath)
        kept.select("cid").distinct()
          .collect().map(_.getInt(0)).toSet
      } else Set.empty[Int]
    affected.filterNot(keptCids.contains).foreach { cid =>
      val d = new java.io.File(postingsPath, s"cid=$cid")
      if (d.isDirectory)
        org.apache.commons.io.FileUtils.deleteDirectory(d)
    }
    org.apache.commons.io.FileUtils.deleteDirectory(stage)
    // ---- idmap: merge the touched buckets, minus the ids ----
    val hitBuckets = hit.select("bucket").distinct()
      .collect().map(_.getInt(0)).sorted
    val idStage = new java.io.File(root, "idmap_erase_stage")
    s.read.parquet(idmapPath.getAbsolutePath)
      .filter(col("bucket").isin(hitBuckets.map(Integer.valueOf): _*))
      .join(ids.select("vec_id"), Seq("vec_id"), "left_anti")
      .select("vec_id", "cid", "bucket")
      .write.partitionBy("bucket").mode("overwrite")
      .parquet(idStage.getAbsolutePath)
    val keptBuckets =
      if (stageHasRows(idStage)) {
        val keptMap = s.read.parquet(idStage.getAbsolutePath)
        keptMap.select("vec_id", "cid", "bucket")
          .write.partitionBy("bucket").mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .parquet(idmapPath.getAbsolutePath)
        keptMap.select("bucket").distinct()
          .collect().map(_.getInt(0)).toSet
      } else Set.empty[Int]
    hitBuckets.filterNot(keptBuckets.contains).foreach { b =>
      val d = new java.io.File(idmapPath, s"bucket=$b")
      if (d.isDirectory)
        org.apache.commons.io.FileUtils.deleteDirectory(d)
    }
    org.apache.commons.io.FileUtils.deleteDirectory(idStage)
  }

  /** s32's BM25 mechanism — DELETE a set of doc_ids from a stored
    * BM25 index (the erasure half of the s30 upsert). The docs' token
    * footprint comes from the `docmap/` sidecar (pruned to the ids'
    * doc buckets); the touched token buckets' postings are rewritten
    * MINUS the docs, `dict/` is re-derived per touched bucket from
    * the merged postings (df drops, tokens the delete orphaned
    * disappear), the touched docmap buckets merge minus the docs, and
    * their `totals/` subtotals are re-derived from the merged docmap
    * — so n_docs/t_tokens (BM25's IDF and length normalizers) are
    * exactly the surviving corpus's. Buckets a delete emptied are
    * removed dir-by-dir (postings+dict twins, docmap+totals twins).
    * Absent ids are a no-op; replay is idempotent and rewrites
    * nothing. Because every statistic is an exact aggregate, the
    * erased index serves BIT-IDENTICALLY to a rebuild without the
    * docs — s32's serve carries a DIRECT DuckDB oracle. */
  private[graft] def deleteFromBm25Index(s: SparkSession, root: String,
      docIds: DataFrame): Unit = {
    if (docIds.isEmpty) return
    val docmapPath = new java.io.File(root, "docmap")
    require(docmapPath.isDirectory,
      s"index at $root has no doc map — rebuild it with this layout " +
        "(erasure cannot locate the deleted docs' postings)")
    val postingsPath = new java.io.File(root, "postings").getAbsolutePath
    val dictPath = new java.io.File(root, "dict").getAbsolutePath
    val dbs = docIds.select(docBucket.as("db")).distinct()
      .collect().map(_.getInt(0)).sorted
    val docmapHit = s.read.parquet(docmapPath.getAbsolutePath)
      .filter(col("db").isin(dbs.map(Integer.valueOf): _*))
      .join(docIds.select("doc_id"), Seq("doc_id"), "left_semi")
      .persist()
    val touched = docmapHit.select(explode(col("tbs")).as("tb"))
      .distinct().collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) { docmapHit.unpersist(false); return }
    // ---- postings: rewrite the touched token buckets, minus the docs
    val stage = new java.io.File(root, "postings_erase_stage")
    s.read.parquet(postingsPath)
      .filter(col("tb").isin(touched.map(Integer.valueOf): _*))
      .join(docIds.select("doc_id"), Seq("doc_id"), "left_anti")
      .select("token", "doc_id", "tf", "dl", "tb")
      .write.partitionBy("tb").mode("overwrite")
      .parquet(stage.getAbsolutePath)
    val mergedTbs =
      if (stageHasRows(stage)) {
        val merged = s.read.parquet(stage.getAbsolutePath)
        merged.select("token", "doc_id", "tf", "dl", "tb")
          .write.partitionBy("tb").mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .parquet(postingsPath)
        // dict: re-derive the touched buckets from merged postings
        val dictStage = new java.io.File(root, "dict_erase_stage")
        merged.groupBy("token").agg(count(lit(1)).as("df"))
          .withColumn("tb", tokenBucket(col("token")))
          .write.partitionBy("tb").mode("overwrite")
          .parquet(dictStage.getAbsolutePath)
        s.read.parquet(dictStage.getAbsolutePath)
          .select("token", "df", "tb")
          .write.partitionBy("tb").mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .parquet(dictPath)
        org.apache.commons.io.FileUtils.deleteDirectory(dictStage)
        merged.select("tb").distinct()
          .collect().map(_.getInt(0)).toSet
      } else Set.empty[Int]
    touched.filterNot(mergedTbs.contains).foreach { tb =>
      Seq(postingsPath, dictPath).foreach { p =>
        val d = new java.io.File(p, s"tb=$tb")
        if (d.isDirectory)
          org.apache.commons.io.FileUtils.deleteDirectory(d)
      }
    }
    // ---- docmap + totals: merge the touched doc buckets, minus docs
    val dmStage = new java.io.File(root, "docmap_erase_stage")
    s.read.parquet(docmapPath.getAbsolutePath)
      .filter(col("db").isin(dbs.map(Integer.valueOf): _*))
      .join(docIds.select("doc_id"), Seq("doc_id"), "left_anti")
      .select("doc_id", "dl", "tbs", "db")
      .write.partitionBy("db").mode("overwrite")
      .parquet(dmStage.getAbsolutePath)
    val keptDbs =
      if (stageHasRows(dmStage)) {
        val dmMerged = s.read.parquet(dmStage.getAbsolutePath)
        dmMerged.select("doc_id", "dl", "tbs", "db")
          .write.partitionBy("db").mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .parquet(docmapPath.getAbsolutePath)
        dmMerged.groupBy("db")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("dl")).as("t_tokens"))
          .write.partitionBy("db").mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .parquet(new java.io.File(root, "totals").getAbsolutePath)
        dmMerged.select("db").distinct()
          .collect().map(_.getInt(0)).toSet
      } else Set.empty[Int]
    dbs.filterNot(keptDbs.contains).foreach { db =>
      Seq(docmapPath.getAbsolutePath,
        new java.io.File(root, "totals").getAbsolutePath).foreach { p =>
        val d = new java.io.File(p, s"db=$db")
        if (d.isDirectory)
          org.apache.commons.io.FileUtils.deleteDirectory(d)
      }
    }
    org.apache.commons.io.FileUtils.deleteDirectory(dmStage)
    docmapHit.unpersist(false)
    ()
  }

  /** The s32 erasure set: a ~1/7 slice of each corpus, EXCLUDING the
    * serve paths' query ids so the request sets stay comparable
    * before and after erasure. */
  private def erasurePred(idCol: String) =
    pmod(col(idCol), lit(7)) === 3 && col(idCol) >= NumQueries

  /** The s32 root quartet: (BM25 erased, BM25
    * rebuilt-without-the-docs, IVF erased, IVF rebuilt-without — the
    * IVF pair sharing one full-corpus-trained centroid set, the s25
    * immutable-centroid contract). The erase legs build the FULL
    * index first, then delete — and replay the delete a second time,
    * which must be a no-op (Round14Spec pins it at file level). */
  private[graft] def buildErasedIndexes(s: SparkSession, dir: String)
      : (String, String, String, String) = {
    val root = Artifacts.memo(s, "s32", dir) { root =>
      val docs = Relational.table(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val bmErased = new java.io.File(root, "bm")
      writeBm25Index(s, docs, bmErased)
      val delDocs = docs.filter(erasurePred("doc_id"))
        .select("doc_id")
      deleteFromBm25Index(s, bmErased.getAbsolutePath, delDocs)
      deleteFromBm25Index(s, bmErased.getAbsolutePath, delDocs) // replay
      writeBm25Index(s, docs.filter(!erasurePred("doc_id")),
        new java.io.File(root, "bmref"))
      val emb = Relational.table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val cents = ivfCentroids(emb, IvfK, IvfIters, seed = 9000)
      val ivfErased = new java.io.File(root, "ivf")
      writeIvfIndex(s, emb, cents, ivfErased)
      val delVecs = emb.filter(erasurePred("vec_id"))
        .select("vec_id")
      deleteFromIvfIndex(s, ivfErased.getAbsolutePath, delVecs)
      deleteFromIvfIndex(s, ivfErased.getAbsolutePath, delVecs) // replay
      writeIvfIndex(s, emb.filter(!erasurePred("vec_id")), cents,
        new java.io.File(root, "ivfref"))
    }
    (s"$root/bm", s"$root/bmref", s"$root/ivf", s"$root/ivfref")
  }

  /** s32 — the lexical arm served from the ERASED BM25 index: every
    * BM25 statistic (tf, df, dl, n_docs, t_tokens) must reflect
    * exactly the surviving corpus, so the serve carries a DIRECT
    * DuckDB oracle over `documents` minus the erased slice — the
    * right-to-erasure proof a stored text index owes its operator
    * (the deleted docs are gone from results AND from every
    * normalizer they used to weight). */
  def bm25Erased(s: SparkSession, dir: String): DataFrame =
    hybridLexArmStoredAt(s, dir, buildErasedIndexes(s, dir)._1)
      .orderBy("query_id", "lex_rank")

  lazy val bm25ErasedSql: String = s"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      WHERE NOT (doc_id % 7 = 3 AND doc_id >= $NumQueries)),
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM corpus),
    qterms AS (
      SELECT DISTINCT doc_id AS query_id,
        unnest(string_split(text, ' ')) AS token FROM documents
      WHERE doc_id < $NumQueries),
    hits AS (
      SELECT t.doc_id, t.token FROM toks t
      WHERE t.token IN (SELECT DISTINCT token FROM qterms)),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM hits GROUP BY 1, 2),
    dfreq AS (
      SELECT token, count(DISTINCT doc_id) AS df FROM hits GROUP BY 1),
    dl AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      FROM corpus),
    tot AS (
      SELECT count(*) AS n_docs,
        CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS t_tokens
      FROM corpus),
    scored AS (
      SELECT tf.doc_id, tf.token,
        ((2*n_docs - 2*df + 1) * 1000) // (2*df + 1) AS idf_milli,
        (22 * t_tokens * tf * 1000) //
          (10 * t_tokens * tf + 3 * t_tokens + 9 * dl.dl * n_docs)
          AS sat_milli
      FROM tf JOIN dfreq USING (token) JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN tot)
    SELECT query_id, doc_id, lex_rank FROM (
      SELECT q.query_id, sc.doc_id,
        row_number() OVER (PARTITION BY q.query_id
          ORDER BY sum(sc.idf_milli * sc.sat_milli) DESC, sc.doc_id)
          AS lex_rank
      FROM scored sc JOIN qterms q USING (token)
      WHERE sc.doc_id <> q.query_id
      GROUP BY q.query_id, sc.doc_id)
    WHERE lex_rank <= $HybridArmK
    ORDER BY query_id, lex_rank"""

  /** s32's structural contract beyond the direct oracle: (1) not one
    * artifact row — IVF postings, idmap, BM25 postings, docmap —
    * still references an erased id; (2) the erased IVF index serves
    * bit-identically to a rebuild without the docs under the same
    * centroid set (the s25 parity discipline); (3) the stored BM25
    * totals match the surviving corpus exactly (DuckDB recomputes
    * both numbers). */
  def indexErasureInv(s: SparkSession, dir: String): DataFrame = {
    val (bmErased, _, ivfErased, ivfRef) = buildErasedIndexes(s, dir)
    def remnants(path: String, idCol: String): DataFrame =
      s.read.parquet(path).filter(erasurePred(idCol))
        .agg(count(lit(1)).as("n"))
    val rem = remnants(new java.io.File(ivfErased, "postings")
        .getAbsolutePath, "vec_id")
      .unionByName(remnants(new java.io.File(ivfErased, "idmap")
        .getAbsolutePath, "vec_id"))
      .unionByName(remnants(new java.io.File(bmErased, "postings")
        .getAbsolutePath, "doc_id"))
      .unionByName(remnants(new java.io.File(bmErased, "docmap")
        .getAbsolutePath, "doc_id"))
      .agg(sum(col("n")).as("n_remnants"))
    val servedE = serveIvf(s, ivfErased, dir)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
    val servedR = serveIvf(s, ivfRef, dir)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
    val union = servedE.join(servedR,
        Seq("query_id", "neighbor_id", "rank"), "full_outer")
      .agg(count(lit(1)).as("n_union"))
    val both = servedE.join(servedR,
        Seq("query_id", "neighbor_id", "rank"))
      .agg(count(lit(1)).as("n_both"))
    val totals = readBm25Totals(s, bmErased)
    rem.crossJoin(union).crossJoin(both).crossJoin(totals)
      .select((col("n_remnants") === 0).as("erased_everywhere"),
        (col("n_union") === col("n_both")).as("ivf_serve_parity"),
        col("n_docs"), col("t_tokens"))
  }

  val indexErasureInvSql: String = s"""
    SELECT TRUE AS erased_everywhere, TRUE AS ivf_serve_parity,
      (SELECT count(*) FROM documents
        WHERE NOT (doc_id % 7 = 3 AND doc_id >= $NumQueries))
        AS n_docs,
      (SELECT CAST(sum(len(string_split(text, ' '))) AS BIGINT)
        FROM documents
        WHERE NOT (doc_id % 7 = 3 AND doc_id >= $NumQueries))
        AS t_tokens"""

  // ------------------------------------------- int8 quantization
  /** Symmetric int8 quantization of the embedding column — the
    * standard 4× memory compression before an ANN index is built at
    * scale. Per-vector max-abs scale, `floor(x*127/scale + 0.5)`
    * rounding (identical IEEE arithmetic is replayable in DuckDB —
    * unlike HALF_UP/HALF_EVEN library rounding). Pure per-row
    * expression work: no shuffle, no UDF, scan-speed at 100 TB. */
  def quantizeEmbeddings(df: DataFrame): DataFrame = {
    val scale = array_max(transform(col("embedding"), x => abs(x)))
    val q = transform(col("embedding"), x =>
      when(col("scale") === 0f, lit(0))
        .otherwise(floor((x.cast("double") * lit(127.0)) /
          col("scale").cast("double") + lit(0.5)).cast("int")))
    df.withColumn("scale", scale).withColumn("q", q)
  }

  /** Driver-checkable projection: integer digests of the quantized
    * vectors (the list column itself stays engine-internal). */
  def quantizeDemo(s: SparkSession, dir: String): DataFrame =
    quantizeEmbeddings(Relational.table(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding")))
      .select(col("vec_id"),
        aggregate(col("q"), lit(0L), (acc, x) => acc + x).as("qsum"),
        array_min(col("q")).as("qmin"),
        array_max(col("q")).as("qmax"))
      .orderBy("vec_id")

  val quantizeSql: String = """
    SELECT vec_id,
      CAST(list_sum(q) AS BIGINT) AS qsum,
      list_min(q) AS qmin,
      list_max(q) AS qmax
    FROM (
      SELECT vec_id,
        list_transform(embedding, x -> CASE WHEN m = 0 THEN 0
          ELSE CAST(floor((CAST(x AS DOUBLE) * 127.0) /
            CAST(m AS DOUBLE) + 0.5) AS INT) END) AS q
      FROM (
        SELECT vec_id, embedding,
          list_max(list_transform(embedding, x -> abs(x))) AS m
        FROM embeddings))
    ORDER BY vec_id"""

  // ------------------------------------------------------ clustering
  /** s06 — embedding clustering as a first-class operator: the IVF
    * index build exposed directly. Centroids train on the hash-gated
    * sample; the corpus is then assigned in ONE broadcast pass (no
    * shuffle of vectors) and summarized per cluster — the shape that
    * holds at 100 TB, where only cluster ids and counts ever shuffle. */
  def embeddingClusters(s: SparkSession, dir: String): DataFrame = {
    val emb = Relational.table(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val cents = ivfCentroids(emb, IvfK, IvfIters, seed = 9000)
    emb.select(nearestCentroidCol(col("embedding"), cents)
        .as("cluster_id"))
      .groupBy("cluster_id").agg(count(lit(1)).as("n_points"))
      .orderBy("cluster_id")
  }

  /** Test hook: per-vector assignments through the codegen'd argmax
    * (see PipelineOpsSpec's UDF-parity check). */
  private[graft] def embeddingClustersAssignments(emb: DataFrame,
      cents: Array[Array[Float]]): DataFrame =
    emb.select(col("vec_id"),
      nearestCentroidCol(col("embedding"), cents).as("cluster_id"))

  /** s06's partition contract, exact-oracle-checkable: the clusters
    * PARTITION the corpus — sizes sum to the corpus count, ids stay in
    * [0, k), and there are at most k clusters. */
  def clusterInv(s: SparkSession, dir: String): DataFrame =
    embeddingClusters(s, dir).agg(
      sum(col("n_points")).as("total_points"),
      (min(col("cluster_id")) >= 0 && max(col("cluster_id")) < IvfK)
        .as("ids_in_range"),
      (count(lit(1)) <= IvfK).as("k_bounded"))

  val clusterInvSql: String = """
    SELECT CAST(count(*) AS BIGINT) AS total_points,
      TRUE AS ids_in_range, TRUE AS k_bounded
    FROM embeddings"""

  // --------------------------------------- product quantization (PQ)
  private val PqM = 8 // subspaces
  private val PqK = 16 // centroids per subspace (4-bit codes)
  private val PqSub = 64 / PqM
  private val PqRerank = 24 // approx candidates re-ranked exactly

  /** Nearest codebook entry by squared L2 (ties → lowest index). */
  def pqNearest(x: Array[Float], cents: Array[Array[Float]]): Int = {
    var best = 0
    var bd = Double.MaxValue
    var i = 0
    while (i < cents.length) {
      var d = 0.0
      var j = 0
      while (j < x.length) {
        val t = x(j).toDouble - cents(i)(j); d += t * t; j += 1
      }
      if (d < bd) { bd = d; best = i }
      i += 1
    }
    best
  }

  /** Per-subspace codebooks trained driver-side on the hash-gated
    * sample (deterministic strided init + 2 Lloyd rounds): the PQ
    * analog of [[ivfCentroids]]' train-on-sample shape — at 100 TB the
    * corpus is never touched for training, only for the one encoding
    * pass. */
  def pqCodebooks(emb: DataFrame, seed: Long): Array[Array[Array[Float]]] = {
    val sample = emb
      .orderBy(xxhash64(col("vec_id"), lit(seed)), col("vec_id"))
      .limit(IvfTrainCap)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "empty embedding table")
    Array.tabulate(PqM) { m =>
      val subs = sample.map(_.slice(m * PqSub, (m + 1) * PqSub))
      var cents = Array.tabulate(PqK)(i =>
        subs((i * 31 + 7) % subs.length).clone())
      (1 to 2).foreach { _ =>
        val sums = Array.fill(PqK)(new Array[Double](PqSub))
        val cnt = new Array[Int](PqK)
        subs.foreach { x =>
          val c = pqNearest(x, cents)
          cnt(c) += 1
          var j = 0
          while (j < PqSub) { sums(c)(j) += x(j); j += 1 }
        }
        cents = Array.tabulate(PqK)(c =>
          if (cnt(c) == 0) cents(c)
          else Array.tabulate(PqSub)(j => (sums(c)(j) / cnt(c)).toFloat))
      }
      cents
    }
  }

  /** PQ code of a vector: the nearest codebook entry per subspace. */
  def pqEncode(v: Seq[Float], cbs: Array[Array[Array[Float]]]): Seq[Int] = {
    val arr = v.toArray
    (0 until PqM).map(m =>
      pqNearest(arr.slice(m * PqSub, (m + 1) * PqSub), cbs(m)))
  }

  /** s10 — PQ ANN (asymmetric distance computation): corpus vectors
    * compress to M=8 4-bit codes (64 floats → 4 bytes, the 64×
    * memory step that makes billion-scale indexes fit at all); each
    * query precomputes an M×K table of partial dot products against
    * the codebooks, so scoring a candidate is M table lookups instead
    * of a 64-float dot; the approx top-[[PqRerank]] are re-ranked with
    * exact cosine against the ORIGINAL vectors (two-stage retrieval).
    *
    * Scale shape: training reads a sample; encoding is one UDF-free
    * map pass (native [[graft.expr.PqEncode]] — trained codebooks ride
    * into whole-stage codegen as a reference object); scoring is
    * builtin LUT lookups, map-side, with a per-query top-R window;
    * only R·queries rows ever rejoin the full vectors (broadcast-side)
    * for the exact re-rank. */
  /** Per-query ADC lookup tables: lut(m)(k) = dot(query subvector m,
    * codebook[m][k]) — shared by s10 (in-plan) and s28 (stored). */
  private def pqLuts(queryRows: Map[Long, Array[Float]],
      cbs: Array[Array[Array[Float]]]): Map[Long, Array[Array[Double]]] =
    queryRows.map { case (qid, q) =>
      qid -> Array.tabulate(PqM) { m =>
        Array.tabulate(PqK) { k =>
          var d = 0.0
          var j = 0
          while (j < PqSub) {
            d += q(m * PqSub + j).toDouble * cbs(m)(k)(j); j += 1
          }
          d
        }
      }
    }

  /** The ADC score column over a `code` array + `query_id` column:
    * builtin element_at lookups on the per-query LUT literals,
    * dispatched by a when-chain over the tiny query set — UDF-free,
    * summation order matches the imperative loop (m ascending). */
  private def adcColumn(luts: Map[Long, Array[Array[Double]]])
      : org.apache.spark.sql.Column = {
    def adc(lut: Array[Array[Double]]): org.apache.spark.sql.Column =
      (0 until PqM).map { m =>
        element_at(typedLit(lut(m).toSeq),
          element_at(col("code"), m + 1) + 1)
      }.reduce(_ + _)
    luts.keys.toSeq.sorted.foldLeft(lit(Double.MinValue)) {
      (acc, qid) => when(col("query_id") === qid, adc(luts(qid)))
        .otherwise(acc)
    }
  }

  def annPq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Relational.table(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val cbs = pqCodebooks(emb, seed = 11000)

    val queryRows = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val luts = pqLuts(queryRows, cbs)

    // both hot passes are UDF-free: codes via the native PqEncode
    // expression (codebooks ride into codegen as a reference object),
    // ADC scores via [[adcColumn]]
    val codes = emb.select(col("vec_id"),
      graft.expr.PqEncode.pqEncode(col("embedding"), cbs).as("code"))
    val approx = adcColumn(luts)
    val qids = queryRows.keys.toSeq.sorted
      .toDF("query_id")
    val wApprox = Window.partitionBy(col("query_id"))
      .orderBy(col("approx").desc, col("vec_id"))
    val candidates = codes.crossJoin(broadcast(qids))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("approx", approx)
      .withColumn("arank", row_number().over(wApprox))
      .filter(col("arank") <= PqRerank)
      .select(col("query_id"), col("vec_id"))

    // exact re-rank of the tiny candidate set against full vectors
    val queries = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val wExact = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    candidates
      .join(emb, "vec_id")
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col("vec_id"),
        graft.expr.CosineSimilarity.cosineSimilarity(
          col("embedding"), col("qe")).as("cos"))
      .withColumn("rank", row_number().over(wExact).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"))
      .orderBy("query_id", "rank")
  }

  // ---------------------------------------------------- s13 MMR
  private val MmrPool = 20
  private val MmrK = 5
  private val MmrLambda = 0.7

  /** One retrieval candidate flowing into the per-query MMR group.
    * NOT private — the Dataset encoder's generated deserializer must
    * be able to construct it. */
  case class MmrCand(query_id: Long, vec_id: Long, cos: Double,
    embedding: Array[Float])

  private def cosD(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i); i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** s13 — Maximal-Marginal-Relevance diversification, the re-rank
    * every retrieval-augmented pipeline runs between ANN and the
    * consumer: from each query's top-[[MmrPool]] cosine candidates,
    * greedily pick [[MmrK]] maximizing
    * λ·rel(c) − (1−λ)·max_{s∈picked} sim(c, s), ties by vec_id.
    *
    * Scale shape: candidate generation is the s01/s02 retrieval plan
    * (at 100 TB the LSH/IVF variant feeds this instead — same
    * interface); the greedy loop runs per-query inside
    * `flatMapGroups`, so a million queries diversify in parallel with
    * O(pool·k) work each and NOTHING is collected to the driver. The
    * first pick is provably the top-cosine neighbour — that slice of
    * the output is the DuckDB-checked s13_mmr_inv. */
  def mmrDiversify(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Relational.table(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val queries = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    val cand = emb.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        graft.expr.CosineSimilarity.cosineSimilarity(
          col("embedding"), col("qe")).as("cos"),
        col("embedding"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= MmrPool)
      .select("query_id", "vec_id", "cos", "embedding")
      .as[MmrCand]
    cand.groupByKey(_.query_id)
      .flatMapGroups { (q, it) =>
        val pool = it.toArray.sortBy(c => (-c.cos, c.vec_id))
        val picked = scala.collection.mutable.ArrayBuffer(pool.head)
        var rest = pool.tail.toBuffer
        while (picked.size < MmrK && rest.nonEmpty) {
          val best = rest.minBy { c =>
            val div = picked.map(p => cosD(c.embedding, p.embedding)).max
            (-(MmrLambda * c.cos - (1 - MmrLambda) * div), c.vec_id)
          }
          picked += best
          rest = rest.filterNot(_.vec_id == best.vec_id)
        }
        picked.zipWithIndex.map { case (c, i) =>
          (q, (i + 1).toLong, c.vec_id)
        }
      }
      .toDF("query_id", "pick_rank", "vec_id")
      .orderBy("query_id", "pick_rank")
  }

  /** The DuckDB-checkable slice of s13: MMR's first pick IS the
    * top-cosine neighbour (the diversity term is zero for an empty
    * picked set), so pick_rank=1 must match s01's rank=1 row. */
  def mmrFirstPickInv(s: SparkSession, dir: String): DataFrame =
    mmrDiversify(s, dir).filter(col("pick_rank") === 1)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
      .orderBy("query_id")

  val mmrFirstPickSql: String = s"""
    SELECT query_id, neighbor_id FROM (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        row_number() OVER (PARTITION BY q.vec_id
          ORDER BY list_cosine_similarity(e.embedding, q.embedding) DESC,
                   e.vec_id) AS rank
      FROM embeddings e, embeddings q
      WHERE q.vec_id < $NumQueries AND e.vec_id <> q.vec_id)
    WHERE rank = 1
    ORDER BY query_id"""

  // ------------------------------------- e02 random projection
  private val RpDim = 8
  private val RpInDim = 64

  /** Seeded ±1 sign planes for the Johnson–Lindenstrauss projection,
    * derived from md5 so they are reproducible anywhere; materialized
    * ONCE at plan time and shipped as literals into codegen (the
    * trained-model-parameter pattern, same as PqEncode's codebooks)
    * AND inlined into the oracle SQL from the same array — one source
    * of truth for both engines. */
  private[graft] lazy val rpPlanes: Array[Array[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(RpDim, RpInDim) { (j, i) =>
      val h = md.digest(s"e02#$j#$i".getBytes("UTF-8"))
      if ((h(0) & 1) == 0) 1 else -1
    }
  }

  /** e02 — random-projection dimensionality reduction (JL sketch):
    * the int8-quantized vectors (e01) project from 64 to 8 dimensions
    * through the ±1 sign planes — the classic cheap sketch that
    * approximately preserves pairwise distances, another 8× on top of
    * quantization's 4× before any index is built. All arithmetic is
    * exact 64-bit integer (quantized components × ±1, summed), so the
    * sketch replays bit-identically in DuckDB.
    *
    * Scale shape: pure per-row expression work (`zip_with` +
    * `aggregate` per output dim), no shuffle, no UDF — 100 TB costs
    * one scan, and downstream ANN then works on 1/32 of the bytes. */
  def randomProjection(s: SparkSession, dir: String): DataFrame = {
    val quant = quantizeEmbeddings(Relational.table(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding")))
      .select(col("vec_id"), col("q"))
    val ys = rpPlanes.zipWithIndex.map { case (p, j) =>
      struct(lit(j.toLong).as("j"),
        aggregate(
          zip_with(col("q"), typedLit(p.toSeq),
            (a, b) => a.cast("long") * b),
          lit(0L), (acc, x) => acc + x).as("y"))
    }
    quant.select(col("vec_id"), explode(array(ys.toSeq: _*)).as("p"))
      .select(col("vec_id"), col("p.j").as("j"), col("p.y").as("y"))
      .orderBy("vec_id", "j")
  }

  val randomProjectionSql: String = {
    val quantInner = """
      SELECT vec_id,
        list_transform(embedding, x -> CASE WHEN m = 0 THEN 0
          ELSE CAST(floor((CAST(x AS DOUBLE) * 127.0) /
            CAST(m AS DOUBLE) + 0.5) AS INT) END) AS q
      FROM (
        SELECT vec_id, embedding,
          list_max(list_transform(embedding, x -> abs(x))) AS m
        FROM embeddings)"""
    val arms = rpPlanes.zipWithIndex.map { case (p, j) =>
      val lits = p.mkString("[", ",", "]")
      s"""SELECT vec_id, CAST($j AS BIGINT) AS j,
        CAST(list_sum(list_transform(range(1, ${RpInDim + 1}),
          i -> q[i] * ($lits)[i])) AS BIGINT) AS y
      FROM quant"""
    }.mkString("\n      UNION ALL\n      ")
    s"""
    WITH quant AS ($quantInner)
    SELECT vec_id, j, y FROM (
      $arms)
    ORDER BY vec_id, j"""
  }

  // --------------------------------- e03 binary codes, hamming ANN
  /** e03 — 1-bit sign quantization + Hamming ANN, the last rung of
    * the compression ladder (float32 → e01's int8 → e02's 8×
    * projection → 64 BITS per vector, 256× smaller than the input):
    * bit d is set iff the int8-quantized coordinate is positive, the
    * code packs as two 32-bit halves (so no shift ever touches the
    * sign bit in either engine), and distance is
    * bit_count(xor(lo)) + bit_count(xor(hi)) — pure codegen'd integer
    * ops, the SIMD-friendly kernel binary-embedding search engines
    * run. Top-5 per query by (hamming asc, vec_id asc).
    *
    * Scale shape: the code table is 16 bytes/vector — a 100 TB float
    * corpus becomes ~400 GB of codes, the difference between an
    * out-of-core index and a broadcastable one; the scan is one map
    * pass + s01's broadcast-query rank. */
  def hammingAnn(s: SparkSession, dir: String): DataFrame = {
    val powers = (0 until 32).map(1L << _).toArray
    def half(from: Int): Column = aggregate(
      zip_with(slice(col("q"), from, 32), typedLit(powers.toSeq),
        (a, b) => when(a > 0, b).otherwise(0L)),
      lit(0L), (acc, x) => acc + x)
    val codes = quantizeEmbeddings(Relational.table(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding")))
      .select(col("vec_id"), half(1).as("lo"), half(33).as("hi"))
    val queries = codes.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("lo").as("qlo"),
        col("hi").as("qhi"))
    val ham = bit_count(col("lo").bitwiseXOR(col("qlo"))).cast("long") +
      bit_count(col("hi").bitwiseXOR(col("qhi"))).cast("long")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming"), col("vec_id"))
    codes.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("hamming", ham)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("hamming"), col("rank"))
      .orderBy("query_id", "rank")
  }

  val hammingAnnSql: String = {
    val quantInner = """
      SELECT vec_id,
        list_transform(embedding, x -> CASE WHEN m = 0 THEN 0
          ELSE CAST(floor((CAST(x AS DOUBLE) * 127.0) /
            CAST(m AS DOUBLE) + 0.5) AS INT) END) AS q
      FROM (
        SELECT vec_id, embedding,
          list_max(list_transform(embedding, x -> abs(x))) AS m
        FROM embeddings)"""
    s"""
    WITH quant AS ($quantInner),
    codes AS (
      SELECT vec_id,
        CAST(list_sum(list_transform(range(1, 33),
          i -> CASE WHEN q[i] > 0
            THEN CAST(1 AS BIGINT) << (i - 1) ELSE 0 END)) AS BIGINT)
          AS lo,
        CAST(list_sum(list_transform(range(33, 65),
          i -> CASE WHEN q[i] > 0
            THEN CAST(1 AS BIGINT) << (i - 33) ELSE 0 END)) AS BIGINT)
          AS hi
      FROM quant)
    SELECT query_id, neighbor_id, hamming, rank FROM (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        CAST(bit_count(xor(e.lo, q.lo)) + bit_count(xor(e.hi, q.hi))
          AS BIGINT) AS hamming,
        row_number() OVER (PARTITION BY q.vec_id
          ORDER BY bit_count(xor(e.lo, q.lo)) +
            bit_count(xor(e.hi, q.hi)), e.vec_id) AS rank
      FROM codes e, codes q
      WHERE q.vec_id < $NumQueries AND e.vec_id <> q.vec_id)
    WHERE rank <= $TopK
    ORDER BY query_id, rank"""
  }

  // ------------------------------------- s15 k-center coreset
  /** s15 — greedy k-center coreset selection (Gonzalez 1985): pick the
    * data points that maximally SPREAD over the embedding space —
    * seed with the lowest vec_id, then repeatedly take the point
    * farthest from every already-chosen center. This is the diverse-
    * subset primitive behind coreset-based training-data selection
    * (cover the distribution with a tiny budget, 2-approximation of
    * the optimal k-center radius). Distances are exact squared L2 over
    * the e01 int8-quantized vectors — pure integer arithmetic, so all
    * five rounds replay bit-exactly in DuckDB's unrolled CTEs (the
    * gr01 round-builder trick). `radius` is the max-min distance at
    * selection time: a certified covering radius of the chosen set.
    *
    * Scale shape: k passes over the corpus, each ONE broadcast of the
    * (tiny) chosen set + a map-side min-distance update + a
    * TakeOrdered(1) argmax — no shuffle of vectors, ever; the
    * running `dmin` column makes each round O(corpus · 1) instead of
    * O(corpus · r). The k collect(1)s are plan-time center lookups,
    * the same pattern as the IVF centroid trainer. */
  def kcenterCoreset(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = 4 // centers picked after the seed
    def distTo(center: Seq[Int]): Column = {
      val c = array(center.map(v => lit(v)): _*)
      aggregate(
        zip_with(col("q"), c, (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, v) => acc + v.cast("long"))
    }
    val qv = quantizeEmbeddings(Relational.table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding")))
      .select(col("vec_id"), col("q")).persist()
    val seed = qv.orderBy("vec_id").limit(1).collect()(0)
    var picked = Vector((0L, seed.getLong(0), 0L))
    var cur = qv.withColumn("dmin",
      distTo(seed.getSeq[Int](1)))
    for (r <- 1 to k) {
      val top = cur.orderBy(col("dmin").desc, col("vec_id")).limit(1)
        .collect()(0)
      picked :+= ((r.toLong, top.getLong(0), top.getLong(2)))
      cur = cur.withColumn("dmin",
        least(col("dmin"), distTo(top.getSeq[Int](1))))
        .localCheckpoint()
    }
    qv.unpersist(false) // picked is driver-local; cache no longer needed
    picked.toDF("round", "vec_id", "radius")
  }

  /** DuckDB replica: the same five greedy rounds as unrolled CTEs over
    * the same quantization. */
  val kcenterCoresetSql: String = {
    def dist(a: String, b: String): String =
      s"CAST(list_sum([($a[i] - $b[i]) * ($a[i] - $b[i]) " +
        s"FOR i IN range(1, len($a) + 1)]) AS BIGINT)"
    def round(mPrev: String, pPrev: String, m: String, p: String) = s"""
    $m AS (
      SELECT x.vec_id, x.q, least(x.dmin, ${dist("x.q", "c.q")}) AS dmin
      FROM $mPrev x JOIN qv c ON c.vec_id = (SELECT id FROM $pPrev)),
    $p AS (
      SELECT vec_id AS id, q, dmin AS r FROM $m
      ORDER BY dmin DESC, vec_id LIMIT 1)"""
    s"""
    WITH qv AS (
      SELECT vec_id,
        list_transform(embedding, x -> CASE WHEN m = 0 THEN 0
          ELSE CAST(floor((CAST(x AS DOUBLE) * 127.0) /
            CAST(m AS DOUBLE) + 0.5) AS INT) END) AS q
      FROM (
        SELECT vec_id, embedding,
          list_max(list_transform(embedding, x -> abs(x))) AS m
        FROM embeddings)),
    c0 AS (SELECT min(vec_id) AS id FROM qv),
    m1 AS (
      SELECT x.vec_id, x.q, ${dist("x.q", "c.q")} AS dmin
      FROM qv x JOIN qv c ON c.vec_id = (SELECT id FROM c0)),
    p1 AS (
      SELECT vec_id AS id, q, dmin AS r FROM m1
      ORDER BY dmin DESC, vec_id LIMIT 1),
    ${round("m1", "p1", "m2", "p2")},
    ${round("m2", "p2", "m3", "p3")},
    ${round("m3", "p3", "m4", "p4")}
    SELECT * FROM (
      SELECT CAST(0 AS BIGINT) AS round, id AS vec_id,
        CAST(0 AS BIGINT) AS radius FROM c0
      UNION ALL SELECT 1, id, r FROM p1
      UNION ALL SELECT 2, id, r FROM p2
      UNION ALL SELECT 3, id, r FROM p3
      UNION ALL SELECT 4, id, r FROM p4)
    ORDER BY round"""
  }

  // ------------------------------------------- s18 top-k via agg
  /** s18 — s01's brute-force top-k re-expressed on the bounded-heap
    * [[graft.expr.TopKPairs]] aggregate (q27's machinery applied to
    * the similarity family): per query, the k best (cosine, vec_id)
    * pairs combine MAP-SIDE — ≤ k pairs per (partition, query) cross
    * the shuffle and no per-query candidate list is ever sorted,
    * where s01's window formulation shuffles EVERY scored candidate
    * and sorts each query's full list just to keep 5. Same oracle as
    * s01, column for column — the hash match proves the heap path
    * returns the identical ranking (ties broken by ascending vec_id
    * in both formulations).
    *
    * Scale shape: at 100 TB the scored-candidate stream per query is
    * corpus-sized; the window rank moves all of it, the heap moves
    * k·partitions rows. This is the aggregation shape an ANN-serving
    * batch job needs once candidates stop fitting in one partition. */
  def annTopkAgg(s: SparkSession, dir: String): DataFrame = {
    val emb = Relational.table(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val queries = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    emb.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        graft.expr.CosineSimilarity.cosineSimilarity(
          col("embedding"), col("qe")).as("cos"))
      .groupBy("query_id")
      .agg(graft.expr.TopKPairs.topkPairs(
        col("cos"), col("vec_id"), TopK).as("top"))
      .select(col("query_id"),
        posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("query_id"), col("p.tag").as("neighbor_id"),
        (col("pos") + 1).cast("long").as("rank"))
      .orderBy("query_id", "rank")
  }

  // ------------------------------------------- s26 hybrid retrieval (RRF)
  private val HybridArmK = 20
  private val HybridFinalK = 10
  private val RrfC = 60L
  /** 1e9 so the fused score is an exact integer both engines agree on:
    * 1/(60+rank) scaled to nano-units under floor division. */
  private val RrfScale = 1000000000L

  /** s26 — hybrid lexical+vector retrieval fused with Reciprocal Rank
    * Fusion (the production RAG retrieval shape: BM25 arm + embedding
    * arm, fused as Σ 1/(c+rank) over each arm's top-k list). The query
    * set is the first [[NumQueries]] documents — `doc_id` and `vec_id`
    * are the SAME id space in the corpus (TESTDATA contract), so each
    * query has both a term set (its distinct tokens) and an embedding.
    *
    * Both arms are integer-exact where scores decide ranks: the
    * lexical arm is t19's milli-unit Okapi BM25 (same rational-to-
    * integer rewrite, per-query term sets instead of one global set);
    * the vector arm is s01's rank-only cosine ordering; fusion scores
    * are RRF in exact nano-units (floor division), so the ENTIRE fused
    * ranking replays bit-identically in DuckDB — a fully oracled
    * hybrid retrieval stack.
    *
    * Scale shape: the query vocabulary (8 bounded docs' tokens) is
    * broadcast, so the corpus token scan filters to query terms BEFORE
    * any shuffle (t19's postings shape, per-query); the vector arm is
    * the s01 broadcast-queries map-side scan. Each arm emits ≤
    * [[HybridArmK]] rows per query, so the fusion join handles
    * O(queries·k) rows — driver-trivial at any corpus size. At 100 TB
    * each arm would be served from its own index (t19's posting lists,
    * s24's stored IVF) and the fusion stage is UNCHANGED — that is the
    * point of fusing on ranks, not scores. */
  def hybridRrf(s: SparkSession, dir: String): DataFrame =
    rrfFuse(hybridLexArm(s, dir), hybridVecArm(s, dir))

  /** s26's lexical arm — in-plan integer BM25 over the corpus,
    * restricted to the broadcast query vocabulary. Factored out so
    * s29 can pin rank-identity between this and its stored-postings
    * serve. Returns (query_id, doc_id, lex_rank). */
  private[graft] def hybridLexArm(s: SparkSession, dir: String)
      : DataFrame = {
    val docs = Relational.table(s, dir, "documents")
      .select(col("doc_id"), col("text"))
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("token"))
    // per-query term sets: distinct tokens of the 8 query documents
    val qterms = toks.filter(col("doc_id") < NumQueries)
      .select(col("doc_id").as("query_id"), col("token")).distinct()
    val qvocab = qterms.select("token").distinct()
    // postings restricted to the (broadcast) query vocabulary — tf/df
    // never see non-query tokens, exactly t19's pre-shuffle filter
    val hits = toks.join(broadcast(qvocab), Seq("token"))
    val tf = hits.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = hits.groupBy("token")
      .agg(count_distinct(col("doc_id")).as("df"))
    val dl = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("dl"))
    val totals = docs.agg(count(lit(1)).as("n_docs"),
      sum(size(split(col("text"), " ")).cast("long")).as("t_tokens"))
    // t19's integer BM25: idf and tf-saturation in exact milli-units
    val scored = tf.join(broadcast(dfreq), Seq("token"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(totals))
      .withColumn("idf_milli",
        expr("((2*n_docs - 2*df + 1) * 1000) div (2*df + 1)"))
      .withColumn("sat_milli",
        expr("(22 * t_tokens * tf * 1000) div " +
          "(10 * t_tokens * tf + 3 * t_tokens + 9 * dl * n_docs)"))
    val wl = Window.partitionBy(col("query_id"))
      .orderBy(col("lex_micro").desc, col("doc_id"))
    scored.join(broadcast(qterms), Seq("token"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("idf_milli") * col("sat_milli")).as("lex_micro"))
      .withColumn("lex_rank", row_number().over(wl).cast("long"))
      .filter(col("lex_rank") <= HybridArmK)
      .select(col("query_id"), col("doc_id"), col("lex_rank"))
  }

  /** s26's vector arm — s01's rank-only EXACT cosine top-k (same id
    * space). Returns (query_id, doc_id, vec_rank). */
  private[graft] def hybridVecArm(s: SparkSession, dir: String)
      : DataFrame = {
    val emb = Relational.table(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val qe = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qemb"))
    val wv = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("doc_id"))
    emb.crossJoin(broadcast(qe))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("doc_id"),
        graft.expr.CosineSimilarity.cosineSimilarity(
          col("embedding"), col("qemb")).as("cos"))
      .withColumn("vec_rank", row_number().over(wv).cast("long"))
      .filter(col("vec_rank") <= HybridArmK)
      .select(col("query_id"), col("doc_id"), col("vec_rank"))
  }

  /** The RRF fusion stage — SHARED between s26 (in-plan arms) and s29
    * (stored-index arms), which is the point of fusing on ranks, not
    * scores: the fusion is arm-source-agnostic. Absent-from-arm
    * contributes 0 (standard top-k RRF). */
  private[graft] def rrfFuse(lex: DataFrame, vec: DataFrame)
      : DataFrame = {
    val wf = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_nano").desc, col("doc_id"))
    lex.join(vec, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_nano",
        coalesce(expr(s"$RrfScale div ($RrfC + lex_rank)"), lit(0L)) +
          coalesce(expr(s"$RrfScale div ($RrfC + vec_rank)"), lit(0L)))
      .withColumn("fused_rank", row_number().over(wf).cast("long"))
      .filter(col("fused_rank") <= HybridFinalK)
      .select(col("query_id"), col("doc_id"), col("lex_rank"),
        col("vec_rank"), col("rrf_nano"), col("fused_rank"))
      .orderBy("query_id", "fused_rank")
  }

  val hybridRrfSql: String = s"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents),
    qterms AS (
      SELECT DISTINCT doc_id AS query_id, token FROM toks
      WHERE doc_id < $NumQueries),
    hits AS (
      SELECT t.doc_id, t.token FROM toks t
      WHERE t.token IN (SELECT DISTINCT token FROM qterms)),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM hits GROUP BY 1, 2),
    dfreq AS (
      SELECT token, count(DISTINCT doc_id) AS df FROM hits GROUP BY 1),
    dl AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      FROM documents),
    tot AS (
      SELECT count(*) AS n_docs,
        CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS t_tokens
      FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token,
        ((2*n_docs - 2*df + 1) * 1000) // (2*df + 1) AS idf_milli,
        (22 * t_tokens * tf * 1000) //
          (10 * t_tokens * tf + 3 * t_tokens + 9 * dl.dl * n_docs)
          AS sat_milli
      FROM tf JOIN dfreq USING (token) JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN tot),
    lex AS (
      SELECT query_id, doc_id, lex_rank FROM (
        SELECT q.query_id, sc.doc_id,
          row_number() OVER (PARTITION BY q.query_id
            ORDER BY sum(sc.idf_milli * sc.sat_milli) DESC, sc.doc_id)
            AS lex_rank
        FROM scored sc JOIN qterms q USING (token)
        WHERE sc.doc_id <> q.query_id
        GROUP BY q.query_id, sc.doc_id)
      WHERE lex_rank <= $HybridArmK),
    vec AS (
      SELECT query_id, doc_id, vec_rank FROM (
        SELECT q.vec_id AS query_id, e.vec_id AS doc_id,
          row_number() OVER (PARTITION BY q.vec_id
            ORDER BY list_cosine_similarity(e.embedding, q.embedding)
              DESC, e.vec_id) AS vec_rank
        FROM embeddings e, embeddings q
        WHERE q.vec_id < $NumQueries AND e.vec_id <> q.vec_id)
      WHERE vec_rank <= $HybridArmK),
    fused AS (
      SELECT COALESCE(l.query_id, v.query_id) AS query_id,
        COALESCE(l.doc_id, v.doc_id) AS doc_id,
        l.lex_rank AS lex_rank, v.vec_rank AS vec_rank,
        COALESCE($RrfScale // ($RrfC + l.lex_rank), 0) +
          COALESCE($RrfScale // ($RrfC + v.vec_rank), 0) AS rrf_nano
      FROM lex l FULL JOIN vec v
        ON l.query_id = v.query_id AND l.doc_id = v.doc_id)
    SELECT query_id, doc_id, lex_rank, vec_rank,
      CAST(rrf_nano AS BIGINT) AS rrf_nano, fused_rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY rrf_nano DESC, doc_id) AS fused_rank
      FROM fused)
    WHERE fused_rank <= $HybridFinalK
    ORDER BY query_id, fused_rank"""

  // --------------------------- s29 hybrid retrieval from STORED indexes
  /** Token-hash bucket count of the stored BM25 postings layout: a
    * serve call's query vocabulary maps to a handful of buckets, so
    * the postings read prunes statically (the idmap/IdMapBuckets
    * discipline applied to text). */
  private[graft] val Bm25Buckets = 16

  private def tokenBucket(t: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    pmod(xxhash64(t), lit(Bm25Buckets)).cast("int")

  /** Doc-hash bucket of the `docmap/` sidecar — the BM25 analog of
    * the IVF `idmap/`: an upsert must evict a REPLACED document's old
    * postings rows, which live scattered across the token buckets of
    * its OLD text; the docmap records each doc's (dl, token buckets)
    * so eviction prunes statically instead of scanning the index. */
  private def docBucket: org.apache.spark.sql.Column =
    pmod(xxhash64(col("doc_id")), lit(Bm25Buckets)).cast("int")

  /** Write a BM25 index root for an arbitrary documents frame —
    * factored out of [[buildBm25Index]] so the s30 upsert path can
    * build a BASE index and grow it. Layout: `postings/` (token,
    * doc_id, tf, dl; partitionBy token bucket), `dict/` (token, df;
    * same bucketing), `docmap/` (doc_id, dl, tbs — the doc's token
    * buckets; partitionBy doc bucket), and `totals/` (per DOC-bucket
    * subtotals (n_docs, t_tokens), partitionBy db — NOT a global
    * row: a subtotal is a bucket-local aggregate of the docmap, so
    * an upsert republishes only its touched buckets idempotently
    * instead of read-modify-writing global state; [[readBm25Totals]]
    * folds the ≤[[Bm25Buckets]] rows at serve time). */
  private[graft] def writeBm25Index(s: SparkSession, docs: DataFrame,
      root: java.io.File): Unit = {
    if (root.exists())
      org.apache.commons.io.FileUtils.deleteDirectory(root)
    // precondition, asserted not assumed: every doc must yield ≥1
    // posting row, because docmap and totals DERIVE from postings —
    // a null-text doc would silently vanish from n_docs (and so from
    // BM25's IDF normalizer), a data-dependent divergence from any
    // oracle that counts all documents. (Empty-STRING text is fine:
    // split("", " ") yields one "" token, so the doc still posts.)
    val nNull = docs.filter(col("text").isNull).count()
    require(nNull == 0,
      s"BM25 index build: $nNull null-text document(s) — the index " +
        "derives n_docs/docmap from postings, so null-text docs " +
        "would silently drop out; filter or default them upstream")
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("token"))
    val dl = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("dl"))
    val postings = toks.groupBy("token", "doc_id")
      .agg(count(lit(1)).as("tf"))
      .join(dl, Seq("doc_id"))
      .withColumn("tb", tokenBucket(col("token")))
    postings.write.partitionBy("tb").mode("overwrite")
      .parquet(new java.io.File(root, "postings").getAbsolutePath)
    // dict + docmap derive from the written postings (one re-read of
    // the index, not another corpus pass)
    val stored = s.read
      .parquet(new java.io.File(root, "postings").getAbsolutePath)
    stored.groupBy("token").agg(count(lit(1)).as("df"))
      .withColumn("tb", tokenBucket(col("token")))
      .write.partitionBy("tb").mode("overwrite")
      .parquet(new java.io.File(root, "dict").getAbsolutePath)
    stored.groupBy("doc_id")
      .agg(first(col("dl")).as("dl"),
        sort_array(collect_set(col("tb"))).as("tbs"))
      .withColumn("db", docBucket)
      .write.partitionBy("db").mode("overwrite")
      .parquet(new java.io.File(root, "docmap").getAbsolutePath)
    // totals derive from the written docmap (KB-scale), NOT from a
    // second tokenize pass over the corpus
    s.read.parquet(new java.io.File(root, "docmap").getAbsolutePath)
      .groupBy("db")
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("t_tokens"))
      .write.partitionBy("db").mode("overwrite")
      .parquet(new java.io.File(root, "totals").getAbsolutePath)
  }

  /** The single-row (n_docs, t_tokens) BM25 global normalizers —
    * the fold of the per-doc-bucket subtotal rows. */
  private[graft] def readBm25Totals(s: SparkSession, root: String)
      : DataFrame =
    s.read.parquet(new java.io.File(root, "totals").getAbsolutePath)
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("t_tokens")).as("t_tokens"))

  /** Builds and PERSISTS the BM25 lexical index for the documents
    * corpus — the t19/s26 integer-BM25 arithmetic's stored artifact,
    * laid out like a real search engine's segment files:
    * `postings/` (token, doc_id, tf, dl — doc length DENORMALIZED
    * into the posting row so a serve never joins the corpus-sized
    * doclen table), `dict/` (token, df), both `partitionBy` a hash
    * bucket of the token so a query-vocabulary lookup statically
    * prunes to the touched buckets, and `totals/` (per doc-bucket
    * subtotals folding to n_docs, t_tokens — BM25's global
    * normalizers). Build cost: one tokenize
    * pass + one (token, doc) aggregation — the same one-shuffle shape
    * as the in-plan arm, paid once. */
  private[graft] def buildBm25Index(s: SparkSession, dir: String)
      : String =
    Artifacts.memo(s, "s29", dir) { root =>
      writeBm25Index(s, Relational.table(s, dir, "documents")
        .select(col("doc_id"), col("text")), root)
    }

  /** The lexical arm SERVED from the stored BM25 index: the bounded
    * per-request query set (8 docs' texts) resolves to a vocabulary
    * driver-side, the vocabulary's token-hash buckets statically
    * prune `postings/` and `dict/`, and the t19 integer arithmetic
    * runs over postings-touched rows only — cost ∝ postings of the
    * query terms, never ∝ corpus. Rank-identical to [[hybridLexArm]]
    * by construction (same tf/df/dl/totals values for every vocab
    * token, same milli-unit arithmetic, same tie-breaks) —
    * [[hybridStoredInv]] pins it. */
  private[graft] def hybridLexArmStored(s: SparkSession, dir: String)
      : DataFrame =
    hybridLexArmStoredAt(s, dir, buildBm25Index(s, dir))

  /** The stored-lexical-arm serve against an ARBITRARY index root —
    * shared by s29 (build-once index) and s30 (upserted index). */
  private[graft] def hybridLexArmStoredAt(s: SparkSession, dir: String,
      root: String): DataFrame = {
    import s.implicits._
    // per-request input: the query docs' texts (bounded — 8 rows)
    val qdocs = Relational.table(s, dir, "documents")
      .filter(col("doc_id") < NumQueries)
      .select(col("doc_id"), col("text")).collect()
    val qtermPairs = qdocs.flatMap { r =>
      r.getString(1).split(" ").distinct.map(t => (r.getLong(0), t))
    }.distinct.toSeq
    val vocab = qtermPairs.map(_._2).distinct
    // the vocabulary's buckets, via the same expression the build used
    // (a driver-side reimplementation of xxhash64 would be a parity
    // bug waiting to happen)
    val buckets = vocab.toDF("token")
      .select(tokenBucket(col("token"))).distinct()
      .collect().map(_.getInt(0)).sorted
    val postings = s.read
      .parquet(new java.io.File(root, "postings").getAbsolutePath)
      .filter(col("tb").isin(buckets.map(Integer.valueOf): _*))
      .filter(col("token").isin(vocab: _*))
    val dict = s.read
      .parquet(new java.io.File(root, "dict").getAbsolutePath)
      .filter(col("tb").isin(buckets.map(Integer.valueOf): _*))
      .filter(col("token").isin(vocab: _*))
      .select(col("token"), col("df"))
    val totals = readBm25Totals(s, root)
    val qterms = qtermPairs.toDF("query_id", "token")
    val scored = postings.join(broadcast(dict), Seq("token"))
      .crossJoin(broadcast(totals))
      .withColumn("idf_milli",
        expr("((2*n_docs - 2*df + 1) * 1000) div (2*df + 1)"))
      .withColumn("sat_milli",
        expr("(22 * t_tokens * tf * 1000) div " +
          "(10 * t_tokens * tf + 3 * t_tokens + 9 * dl * n_docs)"))
    val wl = Window.partitionBy(col("query_id"))
      .orderBy(col("lex_micro").desc, col("doc_id"))
    scored.join(broadcast(qterms), Seq("token"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("idf_milli") * col("sat_milli")).as("lex_micro"))
      .withColumn("lex_rank", row_number().over(wl).cast("long"))
      .filter(col("lex_rank") <= HybridArmK)
      .select(col("query_id"), col("doc_id"), col("lex_rank"))
  }

  /** s30's mechanism — UPSERT a document batch into a stored BM25
    * index WITHOUT rebuilding it (the s25 treatment applied to the
    * text index — together they make BOTH retrieval arms
    * continuously ingestible): tokenize the batch once; look up
    * replaced doc_ids' OLD (dl, token buckets) in the `docmap/`
    * sidecar (pruned to the batch ids' doc buckets); the touched
    * token buckets = the batch's new tokens' buckets ∪ the replaced
    * docs' old buckets; merge = (touched buckets' postings MINUS
    * batch doc_ids' rows) ∪ the batch's rows, staged and published
    * via dynamic partition overwrite, emptied `tb=` dirs deleted
    * explicitly (the s25 advice edge, same fix). `dict/` is
    * RE-DERIVED per touched bucket from the merged postings (df of a
    * token = its postings row count, a bucket-local aggregate — no
    * global pass), `docmap/`'s touched doc buckets merge the same
    * way, and `totals/`'s touched subtotal rows are re-derived from
    * the merged docmap buckets. Replay-idempotent INCLUDING every
    * crash window: each artifact is re-derived from (current stored
    * state MINUS batch ids) ∪ batch — never read-modify-written — so
    * a batch replayed after a partial publish converges to the same
    * bytes instead of double-counting a delta.
    *
    * Because every BM25 statistic is an EXACT aggregate (unlike
    * IVF's approximate geometry), an upserted index is
    * BIT-IDENTICAL to a full rebuild over the union corpus — s30's
    * serve carries a DIRECT DuckDB oracle, not just a parity inv.
    * Cost ∝ batch + touched token buckets + touched doc buckets;
    * the corpus is never rescanned. */
  private[graft] def upsertBm25Index(s: SparkSession, root: String,
      batch: DataFrame): Unit = {
    if (batch.isEmpty) return
    // same precondition as the build (see writeBm25Index): a
    // null-text batch doc would evict the old rows and post nothing
    val nNull = batch.filter(col("text").isNull).count()
    require(nNull == 0,
      s"BM25 upsert: $nNull null-text document(s) in the batch")
    val docmapPath = new java.io.File(root, "docmap")
    require(docmapPath.isDirectory,
      s"index at $root has no doc map — rebuild it with this layout " +
        "(upsert cannot locate replaced docs' postings)")
    val postingsPath = new java.io.File(root, "postings").getAbsolutePath
    val dictPath = new java.io.File(root, "dict").getAbsolutePath
    val toks = batch.select(col("doc_id"),
      explode(split(col("text"), " ")).as("token"))
    val bdl = batch.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("dl"))
    val bPostings = toks.groupBy("token", "doc_id")
      .agg(count(lit(1)).as("tf"))
      .join(bdl, Seq("doc_id"))
      .withColumn("tb", tokenBucket(col("token")))
      .persist()
    // replaced docs' old footprint, from the docmap's touched buckets
    val dbs = batch.select(docBucket.as("db")).distinct()
      .collect().map(_.getInt(0)).sorted
    val docmapHit = s.read.parquet(docmapPath.getAbsolutePath)
      .filter(col("db").isin(dbs.map(Integer.valueOf): _*))
      .join(batch.select("doc_id"), Seq("doc_id"), "left_semi")
      .persist()
    val oldTbs = docmapHit.select(explode(col("tbs")).as("tb"))
      .distinct().collect().map(_.getInt(0))
    val newTbs = bPostings.select("tb").distinct()
      .collect().map(_.getInt(0))
    val touched = (oldTbs ++ newTbs).distinct.sorted
    // ---- postings: merge the touched token buckets ----
    val existing = s.read.parquet(postingsPath)
      .filter(col("tb").isin(touched.map(Integer.valueOf): _*))
      .join(batch.select("doc_id"), Seq("doc_id"), "left_anti")
      .select("token", "doc_id", "tf", "dl", "tb")
    val stage = new java.io.File(root, "postings_stage")
    existing.unionByName(bPostings
        .select("token", "doc_id", "tf", "dl", "tb"))
      .write.partitionBy("tb").mode("overwrite")
      .parquet(stage.getAbsolutePath)
    val merged = s.read.parquet(stage.getAbsolutePath)
    merged.select("token", "doc_id", "tf", "dl", "tb")
      .write.partitionBy("tb").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(postingsPath)
    val mergedTbs = merged.select("tb").distinct()
      .collect().map(_.getInt(0)).toSet
    // a bucket the merge emptied keeps its stale dir under dynamic
    // overwrite — delete it (and its dict twin) explicitly
    touched.filterNot(mergedTbs.contains).foreach { tb =>
      Seq(postingsPath, dictPath).foreach { p =>
        val d = new java.io.File(p, s"tb=$tb")
        if (d.isDirectory)
          org.apache.commons.io.FileUtils.deleteDirectory(d)
      }
    }
    // ---- dict: re-derive the touched buckets from merged postings ----
    val dictStage = new java.io.File(root, "dict_stage")
    merged.groupBy("token").agg(count(lit(1)).as("df"))
      .withColumn("tb", tokenBucket(col("token")))
      .write.partitionBy("tb").mode("overwrite")
      .parquet(dictStage.getAbsolutePath)
    s.read.parquet(dictStage.getAbsolutePath)
      .select("token", "df", "tb")
      .write.partitionBy("tb").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(dictPath)
    org.apache.commons.io.FileUtils.deleteDirectory(dictStage)
    // ---- docmap: merge the touched doc buckets ----
    val dmStage = new java.io.File(root, "docmap_stage")
    val newDocmap = bPostings.groupBy("doc_id")
      .agg(first(col("dl")).as("dl"),
        sort_array(collect_set(col("tb"))).as("tbs"))
      .withColumn("db", docBucket)
    s.read.parquet(docmapPath.getAbsolutePath)
      .filter(col("db").isin(dbs.map(Integer.valueOf): _*))
      .join(batch.select("doc_id"), Seq("doc_id"), "left_anti")
      .select("doc_id", "dl", "tbs", "db")
      .unionByName(newDocmap.select("doc_id", "dl", "tbs", "db"))
      .write.partitionBy("db").mode("overwrite")
      .parquet(dmStage.getAbsolutePath)
    val dmMerged = s.read.parquet(dmStage.getAbsolutePath)
    dmMerged.select("doc_id", "dl", "tbs", "db")
      .write.partitionBy("db").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(docmapPath.getAbsolutePath)
    // (a touched doc bucket can never empty: every batch doc yields
    // ≥1 posting and upsert has no delete path — no dir cleanup here)
    // ---- totals: re-derive the touched doc buckets' subtotals from
    // the merged docmap (bucket-local, published idempotently via
    // dynamic overwrite — NOT a read-modify-write of a global row, so
    // a crash-replayed batch cannot double-count the delta; any crash
    // window re-derives the same subtotals from the same merge) ----
    dmMerged.groupBy("db")
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("t_tokens"))
      .write.partitionBy("db").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(new java.io.File(root, "totals").getAbsolutePath)
    org.apache.commons.io.FileUtils.deleteDirectory(dmStage)
    org.apache.commons.io.FileUtils.deleteDirectory(stage)
    docmapHit.unpersist(false)
    bPostings.unpersist(false)
    ()
  }

  /** The s30 root pair: the base-plus-upsert
    * index and the full-rebuild reference (same split as s25: base =
    * 3/4 of the docs, delta = the rest PLUS identical-payload
    * re-writes of every doc_id % 8 == 0 — the REPLACE half). */
  private[graft] def buildUpsertedBm25Index(s: SparkSession,
      dir: String): (String, String) = {
    val root = Artifacts.memo(s, "s30", dir) { root =>
      val docs = Relational.table(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val base = docs.filter(pmod(col("doc_id"), lit(4)) =!= 3)
      val delta = docs.filter(pmod(col("doc_id"), lit(4)) === 3)
        .unionByName(docs.filter(pmod(col("doc_id"), lit(8)) === 0))
      val incRoot = new java.io.File(root, "inc")
      writeBm25Index(s, base, incRoot)
      upsertBm25Index(s, incRoot.getAbsolutePath, delta)
      writeBm25Index(s, docs, new java.io.File(root, "full"))
    }
    (s"$root/inc", s"$root/full")
  }

  /** s30 — the lexical retrieval arm served from the UPSERTED BM25
    * index: built on 3/4 of the corpus, grown to the full corpus
    * (plus replaces) through [[upsertBm25Index]]. Exact-aggregate
    * statistics ⇒ the serve is bit-identical to s26's in-plan arm
    * over the full corpus, so this carries a DIRECT DuckDB oracle —
    * an approximation-free continuously-ingestible text index. */
  def bm25Upserted(s: SparkSession, dir: String): DataFrame =
    hybridLexArmStoredAt(s, dir, buildUpsertedBm25Index(s, dir)._1)
      .orderBy("query_id", "lex_rank")

  /** s30's structural contract beyond the direct oracle: (1) the
    * upserted index's FILES serve identically to a full rebuild's;
    * (2) no (token, doc) posting appears twice after the replace
    * batch; (3) the stored totals row matches the corpus exactly
    * (DuckDB recomputes both numbers). */
  def bm25UpsertedInv(s: SparkSession, dir: String): DataFrame = {
    val (incRoot, fullRoot) = buildUpsertedBm25Index(s, dir)
    val inc = CacheScope.pin(hybridLexArmStoredAt(s, dir, incRoot))
    val full = CacheScope.pin(hybridLexArmStoredAt(s, dir, fullRoot))
    val parity = inc.join(full,
        Seq("query_id", "doc_id", "lex_rank"), "full_outer")
      .agg(count(lit(1)).as("n_union"))
      .crossJoin(inc.join(full, Seq("query_id", "doc_id", "lex_rank"))
        .agg(count(lit(1)).as("n_both")))
    val postings = s.read
      .parquet(new java.io.File(incRoot, "postings").getAbsolutePath)
    val dupes = postings.groupBy("token", "doc_id")
      .agg(count(lit(1)).as("c"))
      .agg(coalesce(sum((col("c") > 1).cast("long")), lit(0L))
        .as("n_dup"))
    val totals = readBm25Totals(s, incRoot)
    parity.crossJoin(dupes).crossJoin(totals)
      .select((col("n_union") === col("n_both")).as("serve_parity"),
        (col("n_dup") === 0).as("no_dup"),
        col("n_docs"), col("t_tokens"))
  }

  val bm25UpsertedInvSql: String = """
    SELECT TRUE AS serve_parity, TRUE AS no_dup,
      (SELECT count(*) FROM documents) AS n_docs,
      (SELECT CAST(sum(len(string_split(text, ' '))) AS BIGINT)
        FROM documents) AS t_tokens"""

  /** s30's direct oracle: s26's lexical-arm CTEs over the full
    * corpus — what the upserted index must serve bit-identically. */
  val bm25UpsertedSql: String = s"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents),
    qterms AS (
      SELECT DISTINCT doc_id AS query_id, token FROM toks
      WHERE doc_id < $NumQueries),
    hits AS (
      SELECT t.doc_id, t.token FROM toks t
      WHERE t.token IN (SELECT DISTINCT token FROM qterms)),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM hits GROUP BY 1, 2),
    dfreq AS (
      SELECT token, count(DISTINCT doc_id) AS df FROM hits GROUP BY 1),
    dl AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      FROM documents),
    tot AS (
      SELECT count(*) AS n_docs,
        CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS t_tokens
      FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token,
        ((2*n_docs - 2*df + 1) * 1000) // (2*df + 1) AS idf_milli,
        (22 * t_tokens * tf * 1000) //
          (10 * t_tokens * tf + 3 * t_tokens + 9 * dl.dl * n_docs)
          AS sat_milli
      FROM tf JOIN dfreq USING (token) JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN tot)
    SELECT query_id, doc_id, lex_rank FROM (
      SELECT q.query_id, sc.doc_id,
        row_number() OVER (PARTITION BY q.query_id
          ORDER BY sum(sc.idf_milli * sc.sat_milli) DESC, sc.doc_id)
          AS lex_rank
      FROM scored sc JOIN qterms q USING (token)
      WHERE sc.doc_id <> q.query_id
      GROUP BY q.query_id, sc.doc_id)
    WHERE lex_rank <= $HybridArmK
    ORDER BY query_id, lex_rank"""

  /** The vector arm served from the stored s24 IVF index at the
    * hybrid arm depth. */
  private[graft] def hybridVecArmStored(s: SparkSession, dir: String)
      : DataFrame =
    serveIvf(s, buildIvfIndex(s, dir), dir, k = HybridArmK)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("vec_rank"))

  /** s29 — s26's hybrid retrieval served from the STORED indexes: the
    * lexical arm from the persisted BM25 postings (t19's arithmetic
    * over statically-pruned token buckets), the vector arm from the
    * s24 IVF index (probed posting partitions), fused by the SAME
    * [[rrfFuse]] stage s26 runs. This is the retrieval twin of what
    * s24 did for s04 — the serve path a RAG system actually runs:
    * NOTHING here scans the corpus; every input is an index readout.
    * The lexical arm is rank-IDENTICAL to in-plan s26 (exact
    * arithmetic over identical stored values); the vector arm is the
    * honest IVF approximation (probe < nlist), so the fused ranking
    * is rows-only with [[hybridStoredInv]] ★ pinning lex identity,
    * vector recall vs the exact arm, the fusion arithmetic, and the
    * k bound. */
  def hybridStored(s: SparkSession, dir: String): DataFrame =
    rrfFuse(hybridLexArmStored(s, dir), hybridVecArmStored(s, dir))

  /** s29's contract flags: (1) stored-served lexical arm == in-plan
    * lexical arm, rank for rank; (2) stored-IVF vector arm holds the
    * house recall bound (≥ 0.3 overlap vs the exact arm — the s04
    * contract at the arm depth); (3) every fused row's rrf_nano
    * equals the integer formula applied to its carried ranks, and
    * fused ranks are ≤ the final k; (4) every query answered. */
  def hybridStoredInv(s: SparkSession, dir: String): DataFrame = {
    val lexS = hybridLexArmStored(s, dir)
    val lexP = hybridLexArm(s, dir)
    val lexCmp = lexS.join(lexP, Seq("query_id", "doc_id", "lex_rank"),
        "full_outer")
      .agg(count(lit(1)).as("n_union"))
      .crossJoin(lexS.join(lexP, Seq("query_id", "doc_id", "lex_rank"))
        .agg(count(lit(1)).as("n_both")))
    val vecS = hybridVecArmStored(s, dir)
    val vecP = hybridVecArm(s, dir)
    val recall = vecP.join(vecS, Seq("query_id", "doc_id"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
      .crossJoin(vecP.agg(count(lit(1)).as("n_exact")))
    val fused = hybridStored(s, dir)
    val fusionChk = fused.select(
        ((coalesce(expr(s"$RrfScale div ($RrfC + lex_rank)"), lit(0L)) +
          coalesce(expr(s"$RrfScale div ($RrfC + vec_rank)"), lit(0L)))
          === col("rrf_nano")).cast("long").as("arith_ok"),
        (col("fused_rank") <= HybridFinalK).cast("long").as("k_ok"))
      .agg(count(lit(1)).as("n_rows"),
        coalesce(sum(col("arith_ok")), lit(0L)).as("n_arith"),
        coalesce(sum(col("k_ok")), lit(0L)).as("n_k"))
    val nq = fused.agg(count_distinct(col("query_id")).as("n_q"))
    lexCmp.crossJoin(recall).crossJoin(fusionChk).crossJoin(nq)
      .select(
        (col("n_union") === col("n_both")).as("lex_identical"),
        (col("n_hit") * 10 >= col("n_exact") * 3).as("vec_recall_ok"),
        (col("n_arith") === col("n_rows") &&
          col("n_k") === col("n_rows")).as("fusion_ok"),
        col("n_q").as("n_queries"))
  }

  val hybridStoredInvSql: String = s"""
    SELECT TRUE AS lex_identical, TRUE AS vec_recall_ok,
      TRUE AS fusion_ok,
      (SELECT count(*) FROM documents WHERE doc_id < $NumQueries)
        AS n_queries"""

  /** Spec hook: bucket directories the stored lexical serve touches /
    * total bucket directories — the static-pruning assertion's
    * numerator and denominator. */
  private[graft] def bm25BucketsTouched(s: SparkSession, dir: String)
      : (Int, Int) = {
    import s.implicits._
    val root = buildBm25Index(s, dir)
    val qdocs = Relational.table(s, dir, "documents")
      .filter(col("doc_id") < NumQueries)
      .select(col("text")).collect()
    val vocab = qdocs.flatMap(_.getString(0).split(" ")).distinct.toSeq
    val touched = vocab.toDF("token")
      .select(tokenBucket(col("token"))).distinct().count().toInt
    val total = new java.io.File(root, "postings").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("tb="))
    (touched, total)
  }

  // ------------------------------------------- s27 filtered vector search
  /** Over-probe factor for filtered search: the metadata filter thins
    * every posting list (~10% survive the label predicate here), so
    * the serve probes 2× the unfiltered list count to hold recall —
    * the standard filtered-ANN over-fetch knob. */
  private val FilteredProbe = 2 * IvfProbe

  /** s27 — FILTERED vector search: top-k under a per-query metadata
    * predicate (`candidate.label == query.label` — the tenant/language
    * /license filter every production vector store must honor). This
    * is the known-hard regime for IVF indexes: the filter thins each
    * probed list, so an unfiltered-tuned probe count starves recall.
    * The serve path answers it with POST-FILTERING + OVER-PROBE: probe
    * [[FilteredProbe]] (2× the s04 count) lists, apply the predicate
    * to candidates BEFORE the exact re-rank, keep top-k among
    * survivors.
    *
    * Scale shape: identical to s04 — centroid assignment is one
    * broadcast pass, candidates are a cid equi-join touching
    * probe/k of the corpus, and the predicate lands on the candidate
    * stream pre-shuffle (at 100 TB with a stored s24 index the label
    * would be a postings column, so the filter pushes into the
    * posting-partition scan itself). The alternative regime —
    * PRE-FILTERING (scan the predicate's partition of the corpus
    * exactly) — is what [[Invariants.s27FilteredInv]] measures this
    * path against. */
  def annFiltered(s: SparkSession, dir: String): DataFrame = {
    val emb = Relational.table(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"))
    val cents = ivfCentroids(emb.select(col("vec_id"), col("embedding")),
      IvfK, IvfIters, seed = 9000)
    val lists = emb.select(col("vec_id"), col("embedding"), col("label"),
      nearestCentroidCol(col("embedding"), cents).as("cid"))
    val queries = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("label").as("qlabel"),
        explode(nearestCentroidsCol(col("embedding"), cents,
          FilteredProbe)).as("cid"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    lists.join(broadcast(queries), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id") &&
        col("label") === col("qlabel"))
      .select(col("query_id"), col("vec_id"),
        graft.expr.CosineSimilarity.cosineSimilarity(
          col("embedding"), col("qe")).as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** The pre-filter exact ground truth s27 is measured against: filter
    * the corpus to the predicate's exact survivor set, then brute-force
    * within it (always-correct, cost ∝ survivors — the regime a vector
    * store picks when the filter is SO selective the survivor set is
    * small enough to scan). Fully SQL-expressible, so this arm is a
    * direct DuckDB oracle row. */
  def annFilteredExact(s: SparkSession, dir: String): DataFrame = {
    val emb = Relational.table(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"))
    val queries = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("label").as("qlabel"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    emb.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id") &&
        col("label") === col("qlabel"))
      .select(col("query_id"), col("vec_id"),
        graft.expr.CosineSimilarity.cosineSimilarity(
          col("embedding"), col("qe")).as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"))
      .orderBy("query_id", "rank")
  }

  val annFilteredExactSql: String = s"""
    SELECT query_id, neighbor_id, rank FROM (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        row_number() OVER (PARTITION BY q.vec_id
          ORDER BY list_cosine_similarity(e.embedding, q.embedding) DESC,
                   e.vec_id) AS rank
      FROM embeddings e, embeddings q
      WHERE q.vec_id < $NumQueries AND e.vec_id <> q.vec_id
        AND e.label = q.label)
    WHERE rank <= $TopK
    ORDER BY query_id, rank"""

  // -------------------------------- s28 stored IVF-PQ index (serve)
  /** Fetch-shard count for the refine sidecar (id-keyed full
    * vectors): candidate ids are known driver-side after the ADC
    * pass, and vbucket = vec_id % shards is driver-computable, so the
    * refine read statically prunes to the candidates' buckets. */
  private val VecBuckets = 16
  /** IVFPQ probes WIDER and re-ranks DEEPER than IVF-flat (2× each):
    * scanning a list costs ~17 B/vector instead of 256 B and the
    * refine fetch is per-candidate, so widening the cheap tier to buy
    * back the quantization recall loss is exactly the IVFPQ trade —
    * measured 0.275 recall at the flat-index settings vs 0.525 here
    * (sf0.01, vs the exact top-k). */
  private val IvfPqProbe = 2 * IvfProbe
  private val IvfPqRerank = 2 * PqRerank

  /** Build-once: the FAISS IVFPQ ON-DISK LAYOUT — `centroids/` (the
    * coarse quantizer, same seed as s24 ⇒ identical list membership),
    * `codebooks/` (PqM×PqK sub-quantizer rows), `postings/`
    * `partitionBy(cid)` holding (vec_id, code) — CODES ONLY, ~17 B
    * per vector instead of 256 B of floats: the hot tier a 100 TB
    * corpus can actually keep warm — and `vectors/` (full embeddings
    * `partitionBy(vbucket)`), the cold refine sidecar touched only
    * for re-rank candidates. */
  private[graft] def buildIvfPqIndex(s: SparkSession, dir: String)
      : String =
    Artifacts.memo(s, "s28", dir) { root =>
      import s.implicits._
      val emb = Relational.table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val cents = ivfCentroids(emb, IvfK, IvfIters, seed = 9000)
      val cbs = pqCodebooks(emb, seed = 11000)
      cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cid", "centroid").coalesce(1).write.mode("overwrite")
        .parquet(new java.io.File(root, "centroids").getAbsolutePath)
      (for (m <- 0 until PqM; k <- 0 until PqK)
        yield (m, k, cbs(m)(k).toSeq)).toDF("m", "k", "sub")
        .coalesce(1).write.mode("overwrite")
        .parquet(new java.io.File(root, "codebooks").getAbsolutePath)
      // ONE corpus pass emits both tiers: coarse cid + PQ code for
      // the hot postings, full vector into the bucketed cold tier
      val assigned = emb.select(col("vec_id"), col("embedding"),
        nearestCentroidCol(col("embedding"), cents).as("cid"),
        graft.expr.PqEncode.pqEncode(col("embedding"), cbs).as("code"))
        .persist()
      assigned.select(col("vec_id"), col("cid"), col("code"))
        .write.partitionBy("cid").mode("overwrite")
        .parquet(new java.io.File(root, "postings").getAbsolutePath)
      assigned.select(col("vec_id"), col("embedding"),
          (col("vec_id") % VecBuckets).cast("int").as("vbucket"))
        .write.partitionBy("vbucket").mode("overwrite")
        .parquet(new java.io.File(root, "vectors").getAbsolutePath)
      assigned.unpersist(false)
    }

  private[graft] def readCodebooks(s: SparkSession, root: String)
      : Array[Array[Array[Float]]] = {
    val rows = s.read
      .parquet(new java.io.File(root, "codebooks").getAbsolutePath)
      .orderBy("m", "k").collect()
    val out = Array.ofDim[Array[Float]](PqM, PqK)
    rows.foreach(r =>
      out(r.getInt(0))(r.getInt(1)) = r.getSeq[Float](2).toArray)
    out
  }

  /** Spec hook: the codes-tier scan for a fixed probe set. */
  private[graft] def storedIvfPqCodesScan(s: SparkSession, dir: String)
      : DataFrame = {
    val root = buildIvfPqIndex(s, dir)
    s.read.parquet(new java.io.File(root, "postings").getAbsolutePath)
      .filter(col("cid").isin(0, 1))
  }

  /** s28 — ANN served from the STORED IVF-PQ index, the two-phase
    * vector-database serve path end to end: (1) ADC phase — read the
    * k-row centroid + KB codebook tables, compute probe lists
    * driver-side, scan ONLY the probed posting partitions' CODES
    * (static pruning, no embedding column anywhere in the hot scan)
    * and score them with per-query lookup tables ([[adcColumn]] —
    * pure builtin expressions); (2) REFINE phase — the top
    * [[IvfPqRerank]] candidate ids per query (a bounded per-request
    * set, collected driver-side exactly like the probe lists) are
    * fetched from the bucketed `vectors/` sidecar with vbucket-level
    * static pruning and re-ranked with exact cosine.
    *
    * Scale shape: serve I/O = probed lists × ~17 B/vector for phase 1
    * + |candidates| point-ish lookups for phase 2 — corpus floats are
    * NEVER bulk-scanned at serve time. This is the memory-bound
    * regime IVFPQ exists for: at 100 TB the codes tier is ~400×
    * smaller than the float corpus. Engine-specific (seeded k-means,
    * xxhash-free integer bucketing) → rows-only; s28_ann_inv is the
    * oracle companion. */
  def annStoredIvfPq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = buildIvfPqIndex(s, dir)
    val cents = readCentroids(s, root)
    val cbs = readCodebooks(s, root)
    val queryRows = Relational.table(s, dir, "embeddings")
      .filter(col("vec_id") < NumQueries)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val luts = pqLuts(queryRows, cbs)
    val probeRows = queryRows.toSeq.flatMap { case (qid, qe) =>
      nearestCentroids(qe.toSeq, cents, IvfPqProbe).map(cid => (qid, cid))
    }
    val probedCids = probeRows.map(_._2).distinct.sorted
    val probeDf = probeRows.toDF("query_id", "cid")
    // phase 1: ADC over the probed lists' codes
    val codes = s.read
      .parquet(new java.io.File(root, "postings").getAbsolutePath)
      .filter(col("cid").isin(probedCids.map(Integer.valueOf): _*))
    val wApprox = Window.partitionBy(col("query_id"))
      .orderBy(col("approx").desc, col("vec_id"))
    val candidates = codes.join(broadcast(probeDf), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("approx", adcColumn(luts))
      .withColumn("arank", row_number().over(wApprox))
      .filter(col("arank") <= IvfPqRerank)
      .select(col("query_id"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // phase 2: refine — fetch ONLY the candidates' vector buckets
    val candIds = candidates.map(_._2).distinct.sorted
    val buckets = candIds.map(id => (id % VecBuckets).toInt)
      .distinct.sorted
    val candDf = candidates.toSeq.toDF("query_id", "vec_id")
    val qe = queryRows.toSeq.map { case (qid, q) => (qid, q.toSeq) }
      .toDF("query_id", "qe")
    val fetched = s.read
      .parquet(new java.io.File(root, "vectors").getAbsolutePath)
      .filter(col("vbucket").isin(buckets.map(Integer.valueOf): _*) &&
        col("vec_id").isin(candIds.map(java.lang.Long.valueOf): _*))
    val wExact = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    fetched.join(broadcast(candDf), Seq("vec_id"))
      .join(broadcast(qe), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        graft.expr.CosineSimilarity.cosineSimilarity(
          col("embedding"), col("qe")).as("cos"))
      .withColumn("rank", row_number().over(wExact).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rank"))
      .orderBy("query_id", "rank")
  }

  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Seq(
      ("s01_ann_brute_force", annBruteForce _, Some(annBruteForceSql)),
      ("s18_ann_topk_agg", annTopkAgg _, Some(annBruteForceSql)),
      ("s13_mmr_diversify", mmrDiversify _, None),
      ("s13_mmr_inv", mmrFirstPickInv _, Some(mmrFirstPickSql)),
      ("s02_ann_lsh_bucketed", annLshBucketed _, None),
      ("s04_ann_ivf", annIvf _, None),
      ("s24_ann_stored_ivf", annStoredIvf _, None),
      ("s25_ann_upsert", annUpsertIvf _, None),
      ("s25_ann_upsert_inv", annUpsertIvfInv _,
        Some(annUpsertIvfInvSql)),
      ("s31_ann_rebalanced", annRebalanced _, None),
      ("s31_rebalance_inv", annRebalancedInv _,
        Some(annRebalancedInvSql)),
      ("s32_index_erasure", bm25Erased _, Some(bm25ErasedSql)),
      ("s32_index_erasure_inv", indexErasureInv _,
        Some(indexErasureInvSql)),
      ("s06_embedding_clusters", embeddingClusters _, None),
      ("s06_cluster_inv", clusterInv _, Some(clusterInvSql)),
      ("s10_ann_pq", annPq _, None),
      ("e01_embed_quantize", quantizeDemo _, Some(quantizeSql)),
      ("e02_random_projection", randomProjection _,
        Some(randomProjectionSql)),
      ("s15_kcenter_coreset", kcenterCoreset _,
        Some(kcenterCoresetSql)),
      ("e03_hamming_ann", hammingAnn _, Some(hammingAnnSql)),
      ("s26_hybrid_rrf", hybridRrf _, Some(hybridRrfSql)),
      ("s29_hybrid_stored", hybridStored _, None),
      ("s29_hybrid_stored_inv", hybridStoredInv _,
        Some(hybridStoredInvSql)),
      ("s30_bm25_upserted", bm25Upserted _, Some(bm25UpsertedSql)),
      ("s30_bm25_upsert_inv", bm25UpsertedInv _,
        Some(bm25UpsertedInvSql)),
      ("s28_ann_stored_ivfpq", annStoredIvfPq _, None),
      ("s27_ann_filtered", annFiltered _, None),
      ("s27_filtered_exact", annFilteredExact _, Some(annFilteredExactSql)),
    )
}
