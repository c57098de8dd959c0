package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic sampling operators for training-data pipelines
  * (absent in the reference — Layer B north-star).
  *
  * `df.sample()` draws from a per-partition RNG, so its output changes
  * with the partition layout — unacceptable for reproducible corpus
  * construction at 100 TB where partitioning is an execution detail.
  * These operators gate each row on a hash of its KEY instead: the
  * decision is a pure function of (key, seed), stable under shuffles,
  * re-runs, cluster sizes, and incremental reprocessing (a row's fate
  * never changes when the corpus around it grows). Pure codegen'd
  * expressions — no RNG state, no UDFs, no shuffle. */
object Sampling {

  private val Buckets = 1000000L

  /** Keep ~`fraction` of rows, decided by hash(key, seed). */
  def deterministicSample(df: DataFrame, keyCol: Column, fraction: Double,
                          seed: Long): DataFrame = {
    require(fraction >= 0 && fraction <= 1,
      s"fraction must be in [0, 1], is $fraction")
    df.filter(bucketOf(keyCol, seed) < (fraction * Buckets).toLong)
  }

  /** Per-stratum keep fractions (strata absent from the map are
    * dropped) — e.g. downsample dominant languages, keep the tail. */
  def stratifiedSample(df: DataFrame, strataCol: Column, keyCol: Column,
                       fractions: Map[String, Double],
                       seed: Long): DataFrame = {
    fractions.values.foreach(f => require(f >= 0 && f <= 1,
      s"fraction must be in [0, 1], is $f"))
    val threshold = fractions.foldLeft(lit(0L)) {
      case (acc, (stratum, f)) =>
        when(strataCol === lit(stratum),
          lit((f * Buckets).toLong)).otherwise(acc)
    }
    df.filter(bucketOf(keyCol, seed) < threshold)
  }

  private def bucketOf(keyCol: Column, seed: Long): Column =
    pmod(xxhash64(keyCol, lit(seed)), lit(Buckets))

  /** Demo: downsample English, keep most of the tail languages.
    * Hash-gated => rows-only driver check; SamplingSpec asserts the
    * realized fractions, determinism across layouts, and the
    * subset/stability contracts. */
  def stratifiedDemo(s: SparkSession, dir: String): DataFrame =
    stratifiedSample(
      Relational.table(s, dir, "documents")
        .select(col("doc_id"), col("lang")),
      col("lang"), col("doc_id"),
      Map("en" -> 0.25, "de" -> 0.8, "fr" -> 0.8, "es" -> 0.8,
        "zh" -> 1.0),
      seed = 4242)

  // ------------------------------------------------- mixture sampling
  private val MixShards = 8

  /** Source-mixture ("data mixing") sampling: select documents so the
    * sampled corpus's per-source token totals match the target mixture
    * proportions, without upsampling — the binding source (least
    * headroom vs its target share) sets the output size and every
    * other source is trimmed to match.
    *
    * Selection is a greedy token-budget cumsum per (source, shard):
    * docs are taken in doc_id order until the shard's budget share is
    * exhausted. Sharding keeps the window partitioned — one source is
    * NOT one partition at 100 TB (t05's packing compromise); each
    * shard gets budget/k, so budget accuracy degrades only by ~one doc
    * per shard. Pass 1 is a tiny per-source token aggregate pulled at
    * plan time (the factory-stats pattern); pass 2 is one windowed
    * scan. Deterministic under any partition layout. */
  def mixtureSample(docs: DataFrame, targets: Map[String, Double],
                    shards: Int = MixShards): DataFrame = {
    require(targets.nonEmpty, "target mixture may not be empty")
    targets.foreach { case (src, w) =>
      require(w > 0, s"target weight for `$src` must be positive, is $w")
    }
    val shareSum = targets.values.sum
    val shares = targets.map { case (s0, w) => s0 -> w / shareSum }
    import org.apache.spark.sql.expressions.Window
    val toks = docs
      .filter(col("source").isin(targets.keys.toSeq: _*))
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        pmod(col("doc_id"), lit(shards)).as("shard"))
    // tiny per-source token totals -> plan-time literals
    val observed = toks.groupBy("source").agg(sum("n_tokens").as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    shares.keys.foreach(s0 => require(observed.contains(s0),
      s"target source `$s0` absent from the corpus"))
    val tOut = shares.map { case (s0, w) => observed(s0).toDouble / w }.min
    val shardBudget = shares.map { case (s0, w) =>
      s0 -> (w * tOut) / shards
    }
    val budgetCol = shardBudget.foldLeft(lit(0.0)) {
      case (acc, (s0, b)) =>
        when(col("source") === lit(s0), lit(b)).otherwise(acc)
    }
    val w = Window.partitionBy(col("source"), col("shard"))
      .orderBy(col("doc_id"))
    toks.withColumn("cum", sum(col("n_tokens")).over(w))
      .filter(col("cum") <= budgetCol)
      .select(col("doc_id"), col("source"), col("n_tokens"))
  }

  private val MixTargets =
    Seq("src0" -> 0.4, "src1" -> 0.35, "src2" -> 0.25)

  /** Demo: mix three sources to 40/35/25 token proportions. Fully
    * deterministic arithmetic => exact DuckDB oracle below replays the
    * same budget derivation and window. */
  def mixtureDemo(s: SparkSession, dir: String): DataFrame =
    mixtureSample(Relational.table(s, dir, "documents"),
      MixTargets.toMap)

  /** The oracle replays the exact arithmetic: DECIMAL literals are
    * cast to DOUBLE before any division so both engines do the same
    * IEEE ops in the same order. */
  val mixtureSql: String = {
    val vals = MixTargets.map { case (s0, w) => s"('$s0', $w)" }
      .mkString(", ")
    s"""
    WITH tgt(source, w) AS (VALUES $vals),
    toks AS (
      SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT)
          AS n_tokens,
        doc_id % $MixShards AS shard
      FROM documents
      WHERE source IN (${MixTargets.map(t => s"'${t._1}'").mkString(",")})),
    obs AS (
      SELECT source, CAST(sum(n_tokens) AS DOUBLE) AS t
      FROM toks GROUP BY source),
    tout AS (
      SELECT min(t / CAST(w AS DOUBLE)) AS tout
      FROM obs JOIN tgt USING (source)),
    bud AS (
      SELECT source, (CAST(w AS DOUBLE) * tout) / $MixShards AS b
      FROM tgt, tout),
    cum AS (
      SELECT doc_id, source, n_tokens,
        sum(n_tokens) OVER (PARTITION BY source, shard ORDER BY doc_id)
          AS cum
      FROM toks)
    SELECT doc_id, source, n_tokens
    FROM cum JOIN bud USING (source)
    WHERE cum <= b
    ORDER BY doc_id"""
  }

  // ------------------------------------------- per-source capping
  private val SourceCap = 20

  /** s07 — domain/source balancing: cap every source at [[SourceCap]]
    * documents, keeping the deterministic lowest doc_ids (first-seen
    * order in an append-only corpus). The classic guard against one
    * crawl dominating the training mix. One partitioned window —
    * parallel across sources; for mega-sources whose partition would
    * not fit an executor, pre-gate with [[deterministicSample]] to
    * ~cap x oversample first (exactness preserved as long as the gate
    * keeps > cap rows), then apply the same window. */
  def sourceCapSample(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    Relational.table(s, dir, "documents")
      .select(col("source"), col("doc_id"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= SourceCap)
  }

  val sourceCapSql: String = s"""
    SELECT source, doc_id, rn FROM (
      SELECT source, doc_id,
        row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents)
    WHERE rn <= $SourceCap
    ORDER BY source, doc_id"""

  // --------------------------------------------- train/val/test split
  /** Knuth multiplicative constant — the split hash must be integer
    * arithmetic both engines evaluate identically (xxhash64 exists
    * only on the Spark side), while still decorrelating the split from
    * every id-derived planting pattern (`doc_id % k`) used elsewhere. */
  private val SplitMult = 2654435761L
  private val SplitMod = 1L << 32

  /** s08 — reproducible train/val/test split (80/10/10): each doc's
    * assignment is a pure integer function of its id, so the split is
    * stable under partition layout, corpus growth, and engine — the
    * property `randomSplit()` (per-partition RNG) cannot give. Exactly
    * the same contract as [[deterministicSample]], but 3-way and
    * oracle-checkable end-to-end because the gate is plain arithmetic
    * rather than an engine hash. The split itself is map-side; the
    * only shuffle is the per-(lang, split) count. */
  def trainSplit(s: SparkSession, dir: String): DataFrame = {
    val h = pmod(col("doc_id") * SplitMult, lit(SplitMod))
    val bucket = pmod(h, lit(100L))
    Relational.table(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        when(bucket < 80, "train").when(bucket < 90, "val")
          .otherwise("test").as("split"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_doc_id"))
  }

  val trainSplitSql: String = s"""
    WITH assigned AS (
      SELECT doc_id, lang,
        CASE WHEN (doc_id * $SplitMult) % $SplitMod % 100 < 80 THEN 'train'
             WHEN (doc_id * $SplitMult) % $SplitMod % 100 < 90 THEN 'val'
             ELSE 'test' END AS split
      FROM documents)
    SELECT lang, split, count(*) AS n_docs,
      CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
    FROM assigned
    GROUP BY lang, split
    ORDER BY lang, split"""

  // --------------------------------------------- epoch shuffle
  private val EpochSeed = 7L

  /** s09 — deterministic global epoch shuffle: assign every document a
    * dense position 0..n-1 in a pseudorandom total order keyed by
    * md5(epoch, doc_id). This is the training-data "shuffle each epoch"
    * primitive; a different seed reshuffles, the same seed replays
    * byte-identically on any cluster (md5 is engine-portable, unlike
    * xxhash64 — which is what makes the whole rank oracle-checkable).
    *
    * The scale story is the global RANK, not the sort: a naive
    * `row_number() OVER (ORDER BY key)` funnels 100 TB through ONE
    * window partition. Instead: bucket rows by the key's first byte
    * (256 buckets — the bucket order IS the key order because
    * fixed-width lowercase hex sorts lexicographically like its
    * numeric value), count per bucket (tiny agg), prefix-sum the 256
    * counts in a one-partition window over 256 ROWS, broadcast the
    * offsets back, and rank within buckets only. Every per-row step
    * distributes; the single-partition step touches 256 rows. */
  def epochShuffle(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val key = md5(concat_ws("-", lit(EpochSeed), col("doc_id")))
    val docs = Relational.table(s, dir, "documents")
      .select(col("doc_id"), key.as("skey"),
        conv(substring(key, 1, 2), 16, 10).cast("long").as("bucket"))
    val counts = docs.groupBy("bucket").agg(count(lit(1)).as("n"))
    val wOff = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("offset", coalesce(sum(col("n")).over(wOff), lit(0L)))
      .select("bucket", "offset")
    val wIn = Window.partitionBy("bucket").orderBy("skey", "doc_id")
    docs.join(broadcast(offsets), "bucket")
      .withColumn("pos",
        (col("offset") + row_number().over(wIn) - 1).cast("long"))
      .select(col("doc_id"), col("skey"), col("pos"))
  }

  val epochShuffleSql: String = s"""
    SELECT doc_id, md5('$EpochSeed-' || doc_id) AS skey,
      CAST(row_number() OVER (
        ORDER BY md5('$EpochSeed-' || doc_id), doc_id) - 1 AS BIGINT)
        AS pos
    FROM documents
    ORDER BY doc_id"""

  // ------------------------------------------------ s11 curriculum
  private val CurriculumStops = Seq("the", "a", "of", "and", "to", "in")

  /** s11 — curriculum data ordering: serve documents easiest-first by
    * quality stage, shuffled within each stage. Stage tiers come from
    * integer token statistics (stopword-rich natural text first, then
    * vocabulary-diverse text, then the rest — cross-multiplied integer
    * tests, no division), the within-stage order is the md5 epoch
    * shuffle, and the global serving position uses s09's two-phase
    * rank (composite (stage, key-prefix) bucket → tiny offset agg →
    * in-bucket row_number) — a total curriculum order with NO
    * single-partition global sort, same shape at 100 TB. */
  def curriculumOrder(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = split(col("text"), " ")
    val nTokens = size(toks).cast("long")
    val nStop = size(filter(toks,
      t => CurriculumStops.map(w => t === w).reduce(_ || _))).cast("long")
    val nUnique = size(array_distinct(toks)).cast("long")
    val stage = when(nStop * 5 >= nTokens, lit(0L))
      .when(nUnique * 2 >= nTokens, lit(1L))
      .otherwise(lit(2L))
    val key = md5(concat_ws("-", lit(EpochSeed), col("doc_id")))
    val docs = Relational.table(s, dir, "documents")
      .select(col("doc_id"), stage.as("stage"), key.as("skey"))
      .withColumn("bucket",
        col("stage") * 256 +
          conv(substring(col("skey"), 1, 2), 16, 10).cast("long"))
    val counts = docs.groupBy("bucket").agg(count(lit(1)).as("n"))
    val wOff = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("offset", coalesce(sum(col("n")).over(wOff), lit(0L)))
      .select("bucket", "offset")
    val wIn = Window.partitionBy("bucket").orderBy("skey", "doc_id")
    docs.join(broadcast(offsets), "bucket")
      .withColumn("pos",
        (col("offset") + row_number().over(wIn) - 1).cast("long"))
      .select(col("doc_id"), col("stage"), col("pos"))
  }

  val curriculumOrderSql: String = s"""
    WITH staged AS (
      SELECT doc_id,
        CAST(CASE
          WHEN 5 * len(list_filter(string_split(text, ' '),
            t -> t IN (${CurriculumStops.map(w => s"'$w'").mkString(", ")})))
              >= len(string_split(text, ' ')) THEN 0
          WHEN 2 * len(list_distinct(string_split(text, ' ')))
              >= len(string_split(text, ' ')) THEN 1
          ELSE 2 END AS BIGINT) AS stage,
        md5('$EpochSeed-' || doc_id) AS skey
      FROM documents)
    SELECT doc_id, stage,
      CAST(row_number() OVER (ORDER BY stage, skey, doc_id) - 1 AS BIGINT)
        AS pos
    FROM staged
    ORDER BY doc_id"""

  // --------------------------------------- s12 negative sampling

  private val NegAnchors = 32L
  private val NegK = 4

  /** s12 — deterministic negative sampling for contrastive training:
    * for each anchor document, `NegK` pseudo-random negatives drawn
    * from the corpus by HASH-MIN — negative j of anchor a is the doc
    * minimizing md5(a, j, doc_id) over all eligible docs (different
    * doc AND different source, the hard-negative hygiene rule). No
    * rejection loop, no global rank, no assumption that doc_ids are
    * dense: one corpus scan computes all |anchors|·k hashes map-side
    * (anchor set broadcast — it is a training batch, inherently
    * bounded) and a partial-min aggregation ships k·|anchors| rows
    * per partition. Layout-stable and replayable: the same (a, j)
    * always yields the same negative regardless of partitioning or
    * corpus file order. */
  def negativeSampling(s: SparkSession, dir: String): DataFrame = {
    val docs = Relational.table(s, dir, "documents")
      .select(col("doc_id"), col("source"))
    val anchors = docs.filter(col("doc_id") < NegAnchors)
      .select(col("doc_id").as("a"), col("source").as("asrc"))
    docs.crossJoin(broadcast(anchors))
      .filter(col("doc_id") =!= col("a") && col("source") =!= col("asrc"))
      .select(col("a"), col("doc_id"),
        explode(expr(s"sequence(0, ${NegK - 1})")).as("j"))
      .withColumn("h",
        md5(concat_ws("#", col("a"), col("j"), col("doc_id"))))
      .groupBy("a", "j")
      .agg(min(struct(col("h"), col("doc_id"))).as("b"))
      .select(col("a").as("anchor_id"), col("j").cast("long").as("j"),
        col("b.doc_id").as("neg_id"))
  }

  /** md5 values are distinct across distinct preimages (a collision
    * inside one (a, j) group would be an md5 collision), so scalar
    * min(h) + join-back is exactly Spark's min(struct(h, doc_id)). */
  val negativeSamplingSql: String = s"""
    WITH anchors AS (
      SELECT doc_id AS a, source AS asrc FROM documents
      WHERE doc_id < $NegAnchors),
    cand AS (
      SELECT an.a, j.j, d.doc_id,
        md5(an.a || '#' || j.j || '#' || d.doc_id) AS h
      FROM anchors an
      CROSS JOIN (SELECT unnest(range(0, $NegK)) AS j) j
      CROSS JOIN documents d
      WHERE d.doc_id <> an.a AND d.source <> an.asrc),
    mins AS (SELECT a, j, min(h) AS h FROM cand GROUP BY a, j)
    SELECT c.a AS anchor_id, c.j, c.doc_id AS neg_id
    FROM mins m JOIN cand c USING (a, j, h)
    ORDER BY anchor_id, j"""

  // ------------------------------------ s14 importance resampling
  /** s14 — quality-weighted importance resampling (the DSIR-style
    * "sample proportional to a per-document score" primitive that
    * upweights target-like data when assembling a training mix): each
    * document's acceptance probability is quality/20, where quality is
    * its distinct-token count capped at 20 — a per-ROW rate, unlike
    * s03's fixed per-stratum fraction. The coin is the portable hash
    * gate: accept iff the 32-bit md5 draw u satisfies
    * u · 20 < quality · 2³², cross-multiplied so there is no division
    * and no float anywhere.
    *
    * Scale shape: a pure map-pass filter — no sampling state, no
    * shuffle, layout-independent and replayable on any cluster (the
    * s03/s08 hash-gate argument); 100 TB costs one scan. */
  def importanceResample(s: SparkSession, dir: String): DataFrame = {
    val quality = least(
      size(array_distinct(split(col("text"), " "))).cast("long"), lit(20L))
    val u = conv(substring(md5(concat(lit("s14#"), col("doc_id"))), 1, 8),
      16, 10).cast("long")
    Relational.table(s, dir, "documents")
      .select(col("doc_id"), quality.as("quality"), u.as("draw"))
      .filter(col("draw") * 20 < col("quality") * 4294967296L)
      .select("doc_id", "quality")
  }

  val importanceResampleSql: String = """
    SELECT doc_id, quality FROM (
      SELECT doc_id,
        least(CAST(len(list_distinct(string_split(text, ' ')))
          AS BIGINT), 20) AS quality,
        ('0x' || substr(md5('s14#' || doc_id), 1, 8))::BIGINT AS draw
      FROM documents)
    WHERE draw * 20 < quality * 4294967296
    ORDER BY doc_id"""

  // -------------------------------- s16 largest-remainder apportionment
  /** s16 — exact integer budget apportionment (Hamilton / largest-
    * remainder): split a document budget of N=400 across sources in
    * proportion to integer weights so the per-source quotas sum to
    * EXACTLY N — `floor(N·wᵢ/W)` seats plus one bonus seat to the
    * largest remainders (`(N·wᵢ) mod W`, ties to the lexicographically
    * first source) — with N=50 and weights 5:3:2:1:1 the floors sum to
    * 48 and src0/src1 win the two bonus seats, so the remainder path
    * is live. This is the allocation layer a budgeted data-mix
    * needs ABOVE s05's greedy token packing: s05 fills a continuous
    * budget, s16 certifies a discrete one with zero rounding drift.
    * Selection within a source is the deterministic lowest-doc_id
    * prefix. Everything is integer arithmetic — quota math AND
    * selection replay bit-exactly in the oracle.
    *
    * Scale shape: weights and quotas are a HANDFUL of rows computed
    * from one map-combinable per-source count; the only per-row work
    * is a source-partitioned row_number prefix gate (one shuffle on
    * source, same shape as s07's cap). The apportionment itself is
    * plan-side arithmetic — no iteration, no driver loop. */
  def budgetApportionment(s: SparkSession, dir: String): DataFrame = {
    val budget = 50L
    val weights = Seq("src0" -> 5L, "src1" -> 3L, "src2" -> 2L,
      "src3" -> 1L, "src4" -> 1L)
    val wSum = weights.map(_._2).sum
    val floors = weights.map { case (src, w) =>
      src -> (budget * w / wSum) }
    val bonus = (budget - floors.map(_._2).sum).toInt
    val byRemainder = weights
      .map { case (src, w) => (src, (budget * w) % wSum) }
      .sortBy { case (src, rem) => (-rem, src) }
      .take(bonus).map(_._1).toSet
    val quota = floors.map { case (src, f) =>
      src -> (f + (if (byRemainder(src)) 1L else 0L)) }.toMap
    val quotaCol = quota.foldLeft(lit(0L)) { case (acc, (src, q)) =>
      when(col("source") === lit(src), lit(q)).otherwise(acc) }
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("doc_id")
    Relational.table(s, dir, "documents")
      .select(col("doc_id"), col("source"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= quotaCol)
      .groupBy("source")
      .agg(count(lit(1)).as("n_selected"),
        sum(col("doc_id")).as("sum_doc_id"),
        max(col("doc_id")).as("max_doc_id"))
      .withColumn("quota", quotaCol)
      .select("source", "quota", "n_selected", "sum_doc_id",
        "max_doc_id")
  }

  /** The oracle recomputes the apportionment itself in SQL (floors,
    * remainders, ranked bonus seats) rather than inlining the Scala-
    * computed quotas — so a quota-math bug cannot cancel out. */
  val budgetApportionmentSql: String = """
    WITH w(source, wt) AS (VALUES ('src0', 5), ('src1', 3),
      ('src2', 2), ('src3', 1), ('src4', 1)),
    base AS (
      SELECT source, wt,
        50 * wt // (SELECT sum(wt) FROM w) AS fl,
        (50 * wt) % (SELECT sum(wt) FROM w) AS rem
      FROM w),
    ranked AS (
      SELECT source, fl, rem,
        row_number() OVER (ORDER BY rem DESC, source) AS rk
      FROM base),
    quota AS (
      SELECT source,
        CAST(fl + CASE WHEN rk <= 50 - (SELECT sum(fl) FROM base)
          THEN 1 ELSE 0 END AS BIGINT) AS quota
      FROM ranked),
    sel AS (
      SELECT d.source, d.doc_id, q.quota FROM (
        SELECT source, doc_id,
          row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        FROM documents) d
      JOIN quota q ON d.source = q.source
      WHERE d.rn <= q.quota)
    SELECT source, quota, count(*) AS n_selected,
      CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
      max(doc_id) AS max_doc_id
    FROM sel
    GROUP BY source, quota
    ORDER BY source"""

  // -------------------------------- s17 temperature-scaled mixture
  /** s17 — temperature-scaled source sampling (the multilingual /
    * multi-source rebalancing trick: draw source i with probability
    * ∝ nᵢ^α, α = 0.5, so token-poor sources are upweighted relative
    * to proportional sampling while token-rich ones still dominate —
    * the standard α-temperature mix from multilingual pretraining).
    * Per-source mass nᵢ = total whitespace tokens; the weight is the
    * EXACT integer square root (floor(√n) from the double sqrt, then
    * a ±1 correction so kᵢ² ≤ nᵢ < (kᵢ+1)² exactly — replayed
    * identically in the oracle, so a last-ulp sqrt disagreement
    * cannot leak into the hash). A token budget of T=4000 turns the
    * weights into per-source acceptance rates
    * rateᵢ = min(1, T·wᵢ/(W·nᵢ)) in ppm, and each document flips the
    * portable coin: accept iff u₃₂·10⁶ < rate_ppm·2³² (s14's
    * cross-multiplied md5 gate — no division, no floats).
    *
    * Scale shape: per-source masses are ONE map-combinable agg over
    * (source) — a handful of rows; rates broadcast back onto the
    * corpus for a pure map-pass gate. No sampling state, layout-
    * independent, one scan at 100 TB. */
  def temperatureMixture(s: SparkSession, dir: String): DataFrame = {
    val budgetTokens = 4000L
    val docs = Relational.table(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val mass = docs.groupBy("source")
      .agg(sum(col("n_tokens")).as("n_tok"))
    val k0 = floor(sqrt(col("n_tok").cast("double"))).cast("long")
    val k1 = k0 - when(k0 * k0 > col("n_tok"), 1L).otherwise(0L)
    val isqrt = k1 +
      when((k1 + 1) * (k1 + 1) <= col("n_tok"), 1L).otherwise(0L)
    val weighted = mass.withColumn("w", isqrt)
    val totalW = weighted.agg(sum(col("w")).as("w_sum"))
    val rates = weighted.crossJoin(broadcast(totalW))
      // integral `div` — double division would drift in the last ulp
      .withColumn("rate_ppm",
        least(lit(1000000L),
          expr(s"$budgetTokens * w * 1000000 div (w_sum * n_tok)")))
      .select("source", "n_tok", "w", "rate_ppm")
    val u = conv(substring(md5(concat(lit("s17#"), col("doc_id"))), 1, 8),
      16, 10).cast("long")
    docs.join(broadcast(rates), "source")
      .withColumn("draw", u)
      .filter(col("draw") * 1000000L < col("rate_ppm") * 4294967296L)
      .groupBy("source")
      .agg(count(lit(1)).as("n_accepted"),
        sum(col("n_tokens")).as("tok_accepted"),
        min(col("rate_ppm")).as("rate_ppm"),
        min(col("n_tok")).as("n_tok"),
        min(col("w")).as("w"))
      .select("source", "n_tok", "w", "rate_ppm", "n_accepted",
        "tok_accepted")
  }

  val temperatureMixtureSql: String = """
    WITH docs AS (
      SELECT doc_id, source,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents),
    mass AS (
      SELECT source, CAST(sum(n_tokens) AS BIGINT) AS n_tok
      FROM docs GROUP BY source),
    iroot AS (
      SELECT source, n_tok,
        k1 + CASE WHEN (k1+1)*(k1+1) <= n_tok THEN 1 ELSE 0 END AS w
      FROM (
        SELECT source, n_tok,
          k0 - CASE WHEN k0*k0 > n_tok THEN 1 ELSE 0 END AS k1
        FROM (
          SELECT source, n_tok,
            CAST(floor(sqrt(CAST(n_tok AS DOUBLE))) AS BIGINT) AS k0
          FROM mass))),
    rates AS (
      SELECT source, n_tok, w,
        CAST(least(1000000, 4000 * w * 1000000 //
          ((SELECT sum(w) FROM iroot) * n_tok)) AS BIGINT) AS rate_ppm
      FROM iroot),
    accepted AS (
      SELECT d.source, d.n_tokens, r.rate_ppm, r.n_tok, r.w
      FROM docs d JOIN rates r ON d.source = r.source
      WHERE ('0x' || substr(md5('s17#' || d.doc_id), 1, 8))::BIGINT
        * 1000000 < r.rate_ppm * 4294967296)
    SELECT source, min(n_tok) AS n_tok, min(w) AS w,
      min(rate_ppm) AS rate_ppm,
      count(*) AS n_accepted,
      CAST(sum(n_tokens) AS BIGINT) AS tok_accepted
    FROM accepted
    GROUP BY source
    ORDER BY source"""

  // ------------------------------------- s19 grouped k-fold split
  /** s19 — grouped k-fold cross-validation assignment: the fold is a
    * function of the SOURCE (md5 mod 5), not the document — so all
    * documents from one source land in one fold and near-duplicates
    * within a source can never straddle a train/test boundary (the
    * group-leakage failure mode that inflates CV scores; the
    * fold-level analog of t34's gram purge). The portable md5 gate
    * makes assignment engine-replayable and stable under corpus
    * growth: adding documents never moves an existing source's fold.
    *
    * Scale shape: fold assignment is a pure map expression; the
    * manifest is ONE map-combinable (fold, source) agg. Nothing
    * global anywhere — the same two lines run at 100 TB. */
  def groupedKfold(s: SparkSession, dir: String): DataFrame = {
    val fold = pmod(
      conv(substring(md5(concat(lit("s19#"), col("source"))), 1, 8),
        16, 10).cast("long"), lit(5L))
    Relational.table(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("fold", fold)
      .groupBy("fold", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"))
  }

  val groupedKfoldSql: String = """
    SELECT ('0x' || substr(md5('s19#' || source), 1, 8))::BIGINT % 5
        AS fold,
      source, count(*) AS n_docs,
      CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
    FROM documents
    GROUP BY 1, 2
    ORDER BY fold, source"""

  // ------------------------------------ s21 exact-k stratified holdout
  /** s21 — EXACT-size stratified holdout: "exactly 8 documents per
    * language, chosen reproducibly" — the eval-set construction where
    * rate-based gates (s03/s14/s17, whose output sizes are binomial)
    * don't cut it: a benchmark needs exact counts. Selection is the
    * md5-rank prefix within each stratum (rank by the portable hash,
    * keep rank ≤ k), so membership is engine-replayable, and — unlike
    * a `LIMIT` per group — layout-independent. Short strata
    * contribute everything they have (min(k, |stratum|) — the
    * truncation every real holdout spec has to define). Output: the
    * chosen doc ids with their in-stratum rank.
    *
    * Scale shape: one window rank per stratum key (the only shuffle)
    * with the rank gate applied before anything else reads the rows;
    * at 100 TB this is one key-partitioned sort bounded per stratum,
    * and the result is holdout-sized, not corpus-sized. */
  def exactHoldout(s: SparkSession, dir: String): DataFrame = {
    val k = 8
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("draw"), col("doc_id"))
    Relational.table(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        md5(concat(lit("s21#"), col("doc_id"))).as("draw"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("lang"), col("rank"), col("doc_id"))
  }

  val exactHoldoutSql: String = """
    SELECT lang, rank, doc_id FROM (
      SELECT lang, doc_id,
        CAST(row_number() OVER (PARTITION BY lang
          ORDER BY md5('s21#' || doc_id), doc_id) AS BIGINT) AS rank
      FROM documents)
    WHERE rank <= 8
    ORDER BY lang, rank"""

  // --------------------------------- s22 leakage-safe cluster split
  /** s22 — near-dup-aware train/val/test split: the fate is a
    * function of the NEAR-DUP CLUSTER, not the document, so two
    * near-duplicates can never straddle a boundary — the
    * document-level leakage failure s08's per-doc gate (and most
    * real pipelines) silently allow: a test doc whose near-copy sits
    * in train inflates every metric it touches. s19 closes the same
    * hole at SOURCE granularity; this closes it at the granularity
    * dedup actually measures. Clusters come from the multi-hop
    * closed-form chains (d07's harness: cluster_id = doc_id −
    * doc_id % 10 over the planted chain members), so the WHOLE stack
    * — clustering + cluster-keyed md5 gate (80/10/10) — replays
    * bit-exactly in the oracle. Non-chain docs are their own
    * singleton cluster, as in a real pipeline.
    *
    * Scale shape: cluster labels ride the d06/d07 star machinery
    * (O(log n) rounds); the gate is a pure map on the cluster key; the
    * manifest is one combinable agg. Nothing about the split itself
    * shuffles. */
  def leakageSafeSplit(s: SparkSession, dir: String): DataFrame = {
    val members = clusterChain(s, dir)
      .select(col("doc_id"), col("cluster_id"))
    val docs = Relational.table(s, dir, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val labeled = docs.join(members, Seq("doc_id"), "left")
      .withColumn("cluster_id",
        coalesce(col("cluster_id"), col("doc_id")))
    val u = conv(substring(md5(concat(lit("s22#"), col("cluster_id"))),
      1, 8), 16, 10).cast("long")
    labeled
      .withColumn("bucket",
        when(u * 10 < 8L * 4294967296L, "train")
          .when(u * 10 < 9L * 4294967296L, "val")
          .otherwise("test"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("cluster_id")).as("n_clusters"),
        sum(col("n_tokens")).as("n_tokens"))
  }

  private def clusterChain(s: SparkSession, dir: String): DataFrame =
    Dedup.clusterChain(s, dir)

  val leakageSafeSplitSql: String = """
    WITH members AS (
      SELECT DISTINCT doc_id, doc_id - (doc_id % 10) AS cluster_id
      FROM (
        SELECT doc_id FROM documents WHERE doc_id % 10 <= 2
        UNION ALL
        SELECT doc_id + 1 AS doc_id FROM documents
        WHERE doc_id % 10 <= 2)),
    labeled AS (
      SELECT d.doc_id, coalesce(m.cluster_id, d.doc_id) AS cluster_id,
        len(string_split(d.text, ' ')) AS n_tokens
      FROM documents d LEFT JOIN members m ON d.doc_id = m.doc_id),
    gated AS (
      SELECT *,
        CASE
          WHEN ('0x' || substr(md5('s22#' || cluster_id), 1, 8))::BIGINT
              * 10 < 8 * 4294967296 THEN 'train'
          WHEN ('0x' || substr(md5('s22#' || cluster_id), 1, 8))::BIGINT
              * 10 < 9 * 4294967296 THEN 'val'
          ELSE 'test' END AS bucket
      FROM labeled)
    SELECT bucket, count(*) AS n_docs,
      CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
      CAST(sum(n_tokens) AS BIGINT) AS n_tokens
    FROM gated
    GROUP BY bucket
    ORDER BY bucket"""

  /** s23 — contrastive training-triplet mining: (anchor, positive,
    * hard negative) triples for embedding-model training, the data
    * product a dedup pipeline's by-products feed. Positives are the
    * planted near-dup chain pairs (a, a+1 — the same closed-form
    * harness s22 splits on, so pairing replays bit-exactly in the
    * oracle); hard negatives come from the anchor's (lang, length
    * band) block — surface-similar but NOT a near-dup — selected by
    * a deterministic md5-rank shift (+7 mod block size) WITHIN the
    * block. Rank-shift is the scale move: every anchor gets exactly
    * one candidate negative from one window pass + one equi-join on
    * (block, rank) — never an all-pairs product, never an RNG whose
    * draw depends on partition layout. Candidates that collapse
    * (negative == anchor/positive in tiny blocks) or land in the
    * anchor's own near-dup cluster are DROPPED, not silently kept —
    * the per-status ledger makes the mining loss visible, and the
    * cluster exclusion is the correctness property that separates
    * hard negatives from false negatives. In a production pipeline
    * the block key is an LSH bucket or ANN shortlist; the shape
    * (blocked rank-shift + cluster exclusion + drop ledger) is
    * unchanged. Checksum sums over the kept triples pin per-triple
    * identity through the hash gate. */
  def contrastiveTriplets(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Relational.table(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        floor(size(split(col("text"), " ")) / 16).as("len_band"))
    val members = Dedup.clusterChain(s, dir)
      .select(col("doc_id"), col("cluster_id"))
    val labeled = docs.join(members, Seq("doc_id"), "left")
      .withColumn("cluster_id",
        coalesce(col("cluster_id"), col("doc_id")))
    val block = Window.partitionBy("lang", "len_band")
    val ranked = labeled
      .withColumn("r", row_number().over(
        block.orderBy(md5(concat(lit("s23#"), col("doc_id"))),
          col("doc_id"))))
      .withColumn("block_n", count(lit(1)).over(block))
    // anchors: chain a-sides whose positive (a+1) exists in the corpus
    val positives = Relational.table(s, dir, "documents")
      .select(col("doc_id").as("pos_id"))
    val anchors = ranked
      .filter(col("doc_id") % 10 <= 2)
      .join(positives, col("doc_id") + 1 === col("pos_id"))
    val negatives = ranked.select(
      col("lang").as("n_lang"), col("len_band").as("n_band"),
      col("r").as("n_r"), col("doc_id").as("neg_id"),
      col("cluster_id").as("neg_cluster"))
    anchors
      .withColumn("neg_r", (col("r") - 1 + 7) % col("block_n") + 1)
      .join(negatives, col("lang") === col("n_lang") &&
        col("len_band") === col("n_band") && col("neg_r") === col("n_r"))
      .withColumn("status",
        when(col("neg_id") === col("doc_id") ||
          col("neg_id") === col("pos_id"), "dropped_identity")
          .when(col("neg_cluster") === col("cluster_id"),
            "dropped_same_cluster")
          .otherwise("kept"))
      .groupBy("lang", "status")
      .agg(count(lit(1)).as("n_triples"),
        sum(col("doc_id")).as("sum_anchor"),
        sum(col("pos_id")).as("sum_pos"),
        sum(col("neg_id")).as("sum_neg"))
  }

  val contrastiveTripletsSql: String = """
    WITH members AS (
      SELECT DISTINCT doc_id, doc_id - (doc_id % 10) AS cluster_id
      FROM (
        SELECT doc_id FROM documents WHERE doc_id % 10 <= 2
        UNION ALL
        SELECT doc_id + 1 AS doc_id FROM documents
        WHERE doc_id % 10 <= 2)),
    labeled AS (
      SELECT d.doc_id, d.lang,
        len(string_split(d.text, ' ')) // 16 AS len_band,
        coalesce(m.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN members m ON d.doc_id = m.doc_id),
    ranked AS (
      SELECT *,
        row_number() OVER (PARTITION BY lang, len_band
          ORDER BY md5('s23#' || doc_id), doc_id) AS r,
        count(*) OVER (PARTITION BY lang, len_band) AS block_n
      FROM labeled),
    anchors AS (
      SELECT a.*, p.doc_id AS pos_id,
        (a.r - 1 + 7) % a.block_n + 1 AS neg_r
      FROM ranked a
      JOIN documents p ON a.doc_id + 1 = p.doc_id
      WHERE a.doc_id % 10 <= 2),
    triples AS (
      SELECT a.lang, a.doc_id, a.pos_id, n.doc_id AS neg_id,
        CASE
          WHEN n.doc_id = a.doc_id OR n.doc_id = a.pos_id
            THEN 'dropped_identity'
          WHEN n.cluster_id = a.cluster_id THEN 'dropped_same_cluster'
          ELSE 'kept' END AS status
      FROM anchors a
      JOIN ranked n ON a.lang = n.lang AND a.len_band = n.len_band
        AND a.neg_r = n.r)
    SELECT lang, status, count(*) AS n_triples,
      CAST(sum(doc_id) AS BIGINT) AS sum_anchor,
      CAST(sum(pos_id) AS BIGINT) AS sum_pos,
      CAST(sum(neg_id) AS BIGINT) AS sum_neg
    FROM triples
    GROUP BY lang, status
    ORDER BY lang, status"""

  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Seq(
      ("s03_stratified_sample", stratifiedDemo _, None),
      ("s05_mixture_sample", mixtureDemo _, Some(mixtureSql)),
      ("s07_source_cap", sourceCapSample _, Some(sourceCapSql)),
      ("s08_train_split", trainSplit _, Some(trainSplitSql)),
      ("s09_epoch_shuffle", epochShuffle _, Some(epochShuffleSql)),
      ("s11_curriculum", curriculumOrder _, Some(curriculumOrderSql)),
      ("s12_negative_sampling", negativeSampling _,
        Some(negativeSamplingSql)),
      ("s14_importance_resample", importanceResample _,
        Some(importanceResampleSql)),
      ("s16_budget_apportionment", budgetApportionment _,
        Some(budgetApportionmentSql)),
      ("s17_temperature_mixture", temperatureMixture _,
        Some(temperatureMixtureSql)),
      ("s19_grouped_kfold", groupedKfold _, Some(groupedKfoldSql)),
      ("s21_exact_holdout", exactHoldout _, Some(exactHoldoutSql)),
      ("s22_leakage_safe_split", leakageSafeSplit _,
        Some(leakageSafeSplitSql)),
      ("s23_contrastive_triplets", contrastiveTriplets _,
        Some(contrastiveTripletsSql)),
    )
}
