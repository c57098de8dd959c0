package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.hashing.MurmurHash3

/** Large-scale training-data deduplication operators (absent in the
  * reference — Layer B north-star, see BASELINE.json). All are
  * shuffle-lean designs meant for the 100 TB path:
  *
  *  - exact dedup: one hash-groupBy (map-side partial agg);
  *  - MinHash+LSH: per-doc signature in ONE pass (no shingle explode
  *    shuffle), then an explode only of (doc, band) pairs — b rows per
  *    doc — bucketed by (band, hash) so the candidate join touches only
  *    colliding docs, never the full cross product;
  *  - SimHash: one 64-bit fingerprint per doc, banded by 16-bit chunks
  *    for Hamming-neighbor candidate generation;
  *  - n-gram Jaccard: the exact verifier applied to candidate pairs
  *    only;
  *  - embedding cosine: random-hyperplane LSH buckets → in-bucket join.
  *
  * The demo corpora plant duplicates by corrupting a deterministic
  * slice of the real documents table (drop the last two words / nudge
  * the embedding), so recall is measurable and outputs are non-empty at
  * every SF. */
object Dedup {

  private[graft] val PlantOffset = 1000000L

  /** documents ∪ near-duplicate copies (every 10th doc with its last
    * two words dropped, id shifted by +1e6). */
  def corpusWithNearDups(s: SparkSession, dir: String): DataFrame = {
    val docs = Relational.table(s, dir, "documents")
      .select(col("doc_id"), col("text"))
    val corrupted = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + PlantOffset).as("doc_id"),
        array_join(slice(split(col("text"), " "), lit(1),
          greatest(size(split(col("text"), " ")) - 2, lit(1))), " ")
          .as("text"))
    docs.unionAll(corrupted)
  }

  // ---------------------------------------------------------- exact
  /** Exact dedup via hash-groupBy on the full text. The demo corpus
    * plants exact copies of every 20th doc. Map-side partial
    * aggregation makes this one shuffle of (hash, partial counts) at
    * scale; dedup keeps the minimum doc_id as canonical. */
  def dedupExact(s: SparkSession, dir: String): DataFrame = {
    val docs = Relational.table(s, dir, "documents")
      .select(col("doc_id"), col("text"))
    val dupes = docs.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + lit(2 * PlantOffset)).as("doc_id"),
        col("text"))
    docs.unionAll(dupes)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("dup_cnt"))
  }

  val dedupExactSql: String = s"""
    SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
      count(*) AS dup_cnt
    FROM (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + ${2 * PlantOffset}, text FROM documents
      WHERE doc_id % 20 = 0)
    GROUP BY md5(text)
    ORDER BY text_hash"""

  // -------------------------------------------------------- minhash
  private[queries] val MinhashK = 32
  private[queries] val Bands = 16 // x2 rows per band

  /** The d02 band columns over a `sig` column — one struct per band,
    * bucket hash = murmur3 of the band's two signature positions.
    * Shared with the streamed twin (st30) so the stream's bucket keys
    * are bit-identical to the batch plan's. */
  private[queries] def bandStructs: Seq[org.apache.spark.sql.Column] =
    (0 until Bands).map { b =>
      struct(lit(b).as("band"),
        hash(element_at(col("sig"), 2 * b + 1),
          element_at(col("sig"), 2 * b + 2)).as("bh"))
    }

  /** Exact-duplicate representatives of the planted near-dup corpus —
    * the staged input both d02 and its streamed twin consume. */
  private[queries] def nearDupReps(s: SparkSession, dir: String): DataFrame =
    exactReps(corpusWithNearDups(s, dir))

  /** splitmix64 finalizer — cheap, allocation-free avalanche. */
  @inline private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Word-3-gram shingles → k min-hashes, computed in one pass per doc
    * (O(shingles*k) CPU, zero extra shuffle — beats the
    * explode-shingles-then-groupBy formulation whose shuffle is
    * O(total shingles) at 100 TB). Word hashes are computed once per
    * doc and shingle/per-k hashes derived numerically — the hot loop
    * does no allocation. */
  private[graft] def minhashSignature(text: String): Seq[Long] = {
    val words = text.split(' ')
    val wh = new Array[Long](words.length)
    var w = 0
    while (w < words.length) {
      wh(w) = MurmurHash3.stringHash(words(w)).toLong
      w += 1
    }
    val sig = Array.fill(MinhashK)(Long.MaxValue)
    var i = 0
    while (i + 2 < words.length) {
      val base = mix64(wh(i) * 31L + wh(i + 1) * 1299709L + wh(i + 2))
      var k = 0
      while (k < MinhashK) {
        val h = mix64(base ^ (k * 0x9e3779b97f4a7c15L)) & 0xffffffffL
        if (h < sig(k)) sig(k) = h
        k += 1
      }
      i += 1
    }
    sig.toSeq
  }

  /** Signature-estimated Jaccard (|equal positions| / k) as a pure
    * expression — the d02 arithmetic, shared with st31's cross-epoch
    * batch join so handoff pairs carry bit-identical estimates. */
  /** Batch LSH candidate pairs over an ARBITRARY (doc_id, text)
    * frame — the d02 plan's core factored for callers that need the
    * batch answer over a MODIFIED corpus: st39 compares the streamed
    * index's post-erasure behavior against exactly this computed over
    * corpus-minus-the-purged-docs. Same signatures, same band keys,
    * same estimate arithmetic, same threshold as d02. */
  private[queries] def lshPairsOf(docs: DataFrame): DataFrame = {
    val sigs = docs.select(col("doc_id"),
      graft.expr.MinHashSignature.minhashSignature(col("text"),
        MinhashK).as("sig"))
    val buckets = sigs.select(col("doc_id"), col("sig"),
      explode(array(bandStructs: _*)).as("bb"))
    val a = buckets.select(col("bb"), col("doc_id").as("a"),
      col("sig").as("sig_a"))
    val b = buckets.select(col("bb"), col("doc_id").as("b"),
      col("sig").as("sig_b"))
    a.join(b, Seq("bb")).filter(col("a") < col("b"))
      .select(col("a"), col("b"), col("sig_a"), col("sig_b"))
      .dropDuplicates("a", "b")
      .select(col("a"), col("b"),
        estJaccardCol(col("sig_a"), col("sig_b")).as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.5)
  }

  private[queries] def estJaccardCol(sigA: org.apache.spark.sql.Column,
      sigB: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (size(zip_with(sigA, sigB,
      (x, y) => when(x === y, 1).otherwise(0)).as("eq")) -
      size(filter(zip_with(sigA, sigB,
        (x, y) => when(x === y, 1).otherwise(0)), _ === 0)))
      .cast("double") / lit(MinhashK)

  /** Collapse exact duplicates to their min-id representative before
    * any near-dup candidate generation. Standard pipeline staging
    * (exact dedup → near dedup) and the structural guard against
    * quadratic candidate blowup: k exact copies of a document would
    * otherwise co-occur in every LSH bucket and emit k(k-1)/2
    * candidate pairs each — the sf1 replication bench measured exactly
    * that (BASELINE.md). One hash-groupBy with map-side partial agg,
    * same shuffle shape as exact dedup itself. */
  private def exactReps(corpus: DataFrame): DataFrame =
    corpus.groupBy(md5(col("text")).as("__th"))
      .agg(min(col("doc_id")).as("doc_id"), first(col("text")).as("text"))
      .drop("__th")

  /** MinHash-LSH near-dup pairs over exact-duplicate representatives:
    * signature → 16 bands of 2 → bucket join → signature-estimated
    * Jaccard >= 0.5. The signature is a native Catalyst expression
    * (graft.expr.MinHashSignature) — stays inside whole-stage codegen,
    * no per-row UDF boxing. */
  def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame = {
    val (out, caches) = dedupMinhashLshPlan(s, dir)
    CacheScope.materializeAndRelease(out, caches: _*)
  }

  /** Un-materialized plan + persisted inputs — the spec hook: plan
    * assertions must read the REAL plan (materializeAndRelease
    * replaces the returned lineage with a checkpoint scan). */
  private[graft] def dedupMinhashLshPlan(s: SparkSession, dir: String)
      : (DataFrame, Seq[DataFrame]) = {
    val sigs = nearDupReps(s, dir)
      .select(col("doc_id"),
        graft.expr.MinHashSignature.minhashSignature(col("text"), MinhashK)
          .as("sig"))

    // persisted: both sides of the candidate join consume this frame —
    // at scale you persist/checkpoint the signature table exactly here
    val buckets = sigs.select(col("doc_id"), col("sig"),
      explode(array(bandStructs: _*)).as("bb")).persist()

    // candidate pairs: docs sharing a band bucket (dedup across bands)
    val a = buckets.select(col("bb"), col("doc_id").as("a"),
      col("sig").as("sig_a"))
    val b = buckets.select(col("bb"), col("doc_id").as("b"),
      col("sig").as("sig_b"))
    val pairs = a.join(b, Seq("bb")).filter(col("a") < col("b"))
      .select(col("a"), col("b"), col("sig_a"), col("sig_b"))
      .dropDuplicates("a", "b")

    val estJaccard = estJaccardCol(col("sig_a"), col("sig_b"))

    val out = pairs.select(col("a"), col("b"),
        estJaccard.as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.5)
    (out, Seq(buckets))
  }

  // -------------------------------------------------------- simhash
  /** 64-bit SimHash over word hashes (unweighted). Reference Scala
    * formulation — production scans use the native
    * [[graft.expr.SimHash64]] expression; SimHashExprSpec asserts
    * bit-parity between the two. */
  private[graft] def simhash64(text: String): Long = {
    val acc = new Array[Int](64)
    text.split(' ').foreach { w =>
      val h1 = MurmurHash3.stringHash(w).toLong & 0xffffffffL
      val h2 = MurmurHash3.stringHash(w, 0x9747b28c).toLong & 0xffffffffL
      val h = (h1 << 32) | h2
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) acc(bit) += 1 else acc(bit) -= 1
        bit += 1
      }
    }
    var out = 0L
    var bit = 0
    while (bit < 64) {
      if (acc(bit) > 0) out |= (1L << bit)
      bit += 1
    }
    out
  }

  /** SimHash near-dup pairs over exact-duplicate representatives:
    * fingerprint once per doc, candidates via 16-bit chunk banding
    * (any equal chunk), verified by Hamming distance <= 16. */
  /** The d03 fingerprint scan (pre-banding) — separate so PlanSpec can
    * assert the native expression on the scan itself; the banded join
    * below persists it, which hides the scan inside the cached plan. */
  private[graft] def simhashSigs(s: SparkSession, dir: String): DataFrame =
    exactReps(corpusWithNearDups(s, dir))
      .select(col("doc_id"),
        graft.expr.SimHash64.simhash64(col("text")).as("sh"))

  def dedupSimhash(s: SparkSession, dir: String): DataFrame = {
    val sigs = simhashSigs(s, dir)
    // chunk i = bits [16i, 16i+16)
    val buckets = sigs.select(col("doc_id"), col("sh"),
      explode(array((0 until 4).map(i => struct(lit(i).as("chunk"),
        shiftrightunsigned(col("sh"), 16 * i).bitwiseAND(lit(0xffffL))
          .as("cv"))): _*)).as("bb")).persist()
    val a = buckets.select(col("bb"), col("doc_id").as("a"),
      col("sh").as("sh_a"))
    val b = buckets.select(col("bb"), col("doc_id").as("b"),
      col("sh").as("sh_b"))
    val out = a.join(b, Seq("bb")).filter(col("a") < col("b"))
      .dropDuplicates("a", "b")
      .select(col("a"), col("b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .filter(col("hamming") <= 16)
    CacheScope.materializeAndRelease(out, buckets)
  }

  // -------------------------------------- n-gram Jaccard verifier
  /** Exact character-3-gram Jaccard similarity of two strings. */
  private[graft] def ngramJaccard(x: String, y: String): Double = {
    def grams(s: String): Set[String] =
      if (s.length < 3) Set(s)
      else (0 to s.length - 3).map(i => s.substring(i, i + 3)).toSet
    val (gx, gy) = (grams(x), grams(y))
    val inter = gx.intersect(gy).size
    val union = gx.size + gy.size - inter
    // plain long/long IEEE division — bit-identical in any engine
    // (a round() here would reintroduce tie-breaking drift vs DuckDB)
    if (union == 0) 1.0 else inter.toDouble / union
  }

  /** Exact verification of the planted candidate pairs — the "verify"
    * stage a scale pipeline runs only on LSH candidates, never on the
    * cross product. */
  def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame = {
    val jacUdf = udf(ngramJaccard _)
    val base = Relational.table(s, dir, "documents")
      .select(col("doc_id"), col("text"))
    val corrupted = corpusWithNearDups(s, dir)
      .filter(col("doc_id") >= PlantOffset)
      .select((col("doc_id") - PlantOffset).as("doc_id"),
        col("text").as("text_b"))
    base.join(corrupted, "doc_id")
      .select(col("doc_id").as("a"),
        (col("doc_id") + PlantOffset).as("b"),
        jacUdf(col("text"), col("text_b")).as("jaccard"))
  }

  /** DuckDB replica of [[dedupNgramJaccard]]: same corrupted-copy
    * construction, 3-gram sets via list comprehension, exact long/long
    * division. */
  val dedupNgramJaccardSql: String = s"""
    WITH corr AS (
      SELECT doc_id AS a, doc_id + $PlantOffset AS b, text,
        array_to_string(list_slice(string_split(text, ' '), 1,
          greatest(len(string_split(text, ' ')) - 2, 1)), ' ') AS text_b
      FROM documents WHERE doc_id % 10 = 0),
    g AS (
      SELECT a, b,
        CASE WHEN length(text) < 3 THEN [text]
          ELSE list_distinct([substring(text, i, 3)
            FOR i IN range(1, length(text) - 1)]) END AS ga,
        CASE WHEN length(text_b) < 3 THEN [text_b]
          ELSE list_distinct([substring(text_b, i, 3)
            FOR i IN range(1, length(text_b) - 1)]) END AS gb
      FROM corr)
    SELECT a, b,
      CASE WHEN len(ga) + len(gb) - len(list_intersect(ga, gb)) = 0 THEN 1.0
        ELSE CAST(len(list_intersect(ga, gb)) AS DOUBLE) /
          (len(ga) + len(gb) - len(list_intersect(ga, gb))) END AS jaccard
    FROM g ORDER BY a"""

  // ------------------------------------ embedding cosine near-dup
  /** Near-duplicate embeddings via random-hyperplane LSH: 12 seeded
    * hyperplanes → sign bucket → in-bucket cosine >= 0.99. The demo
    * plants a +0.3%-perturbed copy of every 10th embedding. At 100 TB
    * the bucket join touches only same-bucket vectors; the planted
    * near-dups land in the same bucket with overwhelming probability. */
  private[graft] def d05Bucketed(corpus: DataFrame): DataFrame =
    corpus.select(col("vec_id"), col("embedding"),
      element_at(graft.expr.HyperplaneBuckets.hyperplaneBuckets(
        col("embedding"), tables = 1, planes = 12, dim = 64,
        seed = 4242L), 1).as("bucket"))

  def dedupEmbeddingCosine(s: SparkSession, dir: String): DataFrame = {
    val emb = Relational.table(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val perturbed = emb.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + PlantOffset).as("vec_id"),
        transform(col("embedding"),
          x => (x * lit(1.003f)).cast("float")).as("embedding"))
    val corpus = emb.unionAll(perturbed)

    // native sign-bucket expression — a 1-table instance of the s02
    // kernel (element 0 is `(0 << 32) | signBucket(v, planes)`, and
    // hyperplanes(12, 64, 4242) == table 0 of seed 4242); the UDF-free
    // scan is asserted by PlanSpec on this pre-persist projection
    val bucketed = d05Bucketed(corpus).persist()
    val a = bucketed.select(col("bucket"), col("vec_id").as("a"),
      col("embedding").as("ea"))
    val b = bucketed.select(col("bucket"), col("vec_id").as("b"),
      col("embedding").as("eb"))
    val out = a.join(b, Seq("bucket")).filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        round(graft.expr.CosineSimilarity.cosineSimilarity(
          col("ea"), col("eb")), 4).as("cos"))
      .filter(col("cos") >= 0.99)
      .dropDuplicates("a", "b")
    CacheScope.materializeAndRelease(out, bucketed)
  }

  /** DuckDB oracle for [[dedupEmbeddingCosine]]: at the driver's scale
    * factors the output is exactly the planted pairs (random 64-dim
    * vectors essentially never reach cos >= 0.99, and the planted
    * copies always share a bucket — verified at sf0.001/sf0.01), and
    * cos(x, 1.003x) rounds to 1.0 at 4 decimals. */
  val dedupEmbeddingCosineSql: String = s"""
    SELECT vec_id AS a, vec_id + $PlantOffset AS b,
      CAST(1.0 AS DOUBLE) AS cos
    FROM embeddings WHERE vec_id % 10 = 0
    ORDER BY 1, 2"""

  // ------------------------------- cluster formation / canonical pick
  /** Transitive closure of near-dup pairs into clusters: every node
    * labelled with its component's minimum id, and the dedup decision
    * "keep the minimum doc_id per cluster". Rows are
    * `(doc_id, cluster_id, keep)`.
    *
    * Which path runs is chosen from the MEASURED size of the input: the
    * canonical edge set (a > b, self-loops and dupes dropped) is
    * checkpointed once, and that checkpoint's `observe()` count picks
    * the path — no extra action.
    *
    *  - At most [[Graph.superstepCap]] edges (default 2M, the cap that
    *    bounds every superstep's trip through the driver): the edges are
    *    collected once and contracted on the driver with union-find.
    *    Two actions in all, the checkpoint and the collect, where the
    *    loop below pays one action of 4–5 stages per round — on small
    *    graphs that per-round scheduling is nearly all of the cost.
    *    This path is always exact; `maxRounds` does not apply to it.
    *    An empty edge set needs neither path: the loop below stops
    *    before its first round.
    *  - Above the cap, the alternating large-star/small-star loop
    *    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    *    SoCC'14), the only path for a graph larger than driver memory.
    *    Each round rewires every node's neighborhood toward its local
    *    minimum —
    *      large-star: for every node u, connect each strictly-larger
    *        neighbor to min(N(u) ∪ u);
    *      small-star: on the downward edges (u > v), connect u and each
    *        smaller neighbor to their minimum.
    *    The edge set contracts to a star per component (every member →
    *    component min) in O(log n) rounds, vs the linear-in-diameter
    *    rounds of plain min-label propagation — the difference between
    *    6 and ~60 rounds on a 64-hop chain. `maxRounds` bounds this
    *    loop only.
    *
    *    ONE job per round: both stars are min-aggregations (map-side
    *    partial min — no skew-fragile window buffering) folded into a
    *    single plan whose fixpoint check — (edge count, xxhash64
    *    multiset xor) unchanged — rides the round's eager
    *    localCheckpoint as an `observe()` metric, so convergence
    *    detection costs no extra action. The hash-pair equality test is
    *    probabilistic in principle (64-bit collision) but vanishingly
    *    so, and a false "converged" requires a collision in the SAME
    *    round that also keeps the count equal. localCheckpoint
    *    truncates the per-round lineage — without it the plan doubles
    *    every iteration. */
  def clusterPairs(pairs: DataFrame, maxRounds: Int = 20): DataFrame =
    clusterPairsCounted(pairs, maxRounds)._1

  /** [[clusterPairs]] plus the number of distributed rounds actually
    * run (0 on the driver path) — exposed so tests can assert the
    * O(log n) round complexity. */
  private[graft] def clusterPairsCounted(pairs: DataFrame,
                                         maxRounds: Int = 20)
      : (DataFrame, Int) = {
    def metrics(obs: org.apache.spark.sql.Observation): (Long, Long) = {
      val m = obs.getAsJava
      (m.getOrDefault("cnt", 0L).asInstanceOf[Long],
        m.getOrDefault("hsum", 0L) match {
          case null => 0L
          case l: java.lang.Long => l.longValue()
        })
    }
    def observed(df: DataFrame): (DataFrame, (Long, Long)) = {
      val obs = org.apache.spark.sql.Observation()
      // bit_xor (not sum): order-independent, overflow-free under ANSI,
      // and exact over a distinct edge set
      val ck = df.observe(obs, count(lit(1)).as("cnt"),
        expr("bit_xor(xxhash64(a, b))").as("hsum"))
        .localCheckpoint() // eager: runs the job incl. the metrics
      (ck, metrics(obs))
    }

    // canonical downward edges (a > b), self-loops and dupes dropped
    var (edges, prev) = observed(
      pairs.select(greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b"))
        .filter(col("a") =!= col("b")).distinct())
    if (prev._1 > 0L && prev._1 <= Graph.superstepCap(pairs.sparkSession))
      (contractOnDriver(edges), 0)
    else {
      var round = 0
      var converged = prev._1 == 0L
      while (round < maxRounds && !converged) {
        val sym = edges.unionAll(
          edges.select(col("b").as("a"), col("a").as("b")))
        // large-star: min over N(u) ∪ {u}, emitted to larger neighbors —
        // output edges are strictly downward again (m <= u < v)
        val lsMin = sym.groupBy("a").agg(min("b").as("mn"))
          .select(col("a"), least(col("a"), col("mn")).as("m"))
        val ls = sym.join(lsMin, "a").filter(col("b") > col("a"))
          .select(col("b").as("a"), col("m").as("b"))
        // small-star on the downward edges: everyone in N-(u) ∪ {u}
        // connects to the minimum
        val ssMin = ls.groupBy("a").agg(min("b").as("m"))
        val next = ls.join(ssMin, "a")
          .select(col("b").as("a"), col("m").as("b"))
          .unionAll(ssMin.select(col("a"), col("m").as("b")))
          .filter(col("a") =!= col("b"))
          .distinct()
        val (ck, cur) = observed(next)
        converged = cur == prev
        prev = cur
        edges = ck
        round += 1
      }
      // fixpoint is a star per component: member -> min, plus the roots
      val labels = edges.select(col("a").as("doc_id"), col("b").as("label"))
        .unionAll(edges.select(col("b").as("doc_id"), col("b").as("label")))
        .distinct()
      (labels.select(col("doc_id"), col("label").as("cluster_id"),
        (col("doc_id") === col("label")).as("keep")), round)
    }
  }

  /** [[clusterPairs]]' driver path: collect the canonical edges `(a, b)`
    * once, packed per partition into primitive arrays, and label every
    * node with its component minimum by union-find. Nodes are indexed by
    * binary search into the sorted distinct ids, so a smaller index is a
    * smaller id and "union by smaller index" leaves each component's
    * minimum at its root. Path compression is iterative: a 2M-hop chain
    * must not overflow the stack. */
  private def contractOnDriver(edges: DataFrame): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val packed = edges.mapPartitions { it =>
      val buf = Array.newBuilder[Long]
      it.foreach { r => buf += r.getLong(0); buf += r.getLong(1) }
      Iterator.single(buf.result())
    }.collect()
    val ends = Array.concat(packed: _*)
    val ids = ends.clone()
    java.util.Arrays.sort(ids)
    var n = 0
    for (i <- ids.indices)
      if (i == 0 || ids(i) != ids(n - 1)) { ids(n) = ids(i); n += 1 }
    val parent = Array.tabulate(n)(identity)
    def find(i: Int): Int = {
      var root = i
      while (parent(root) != root) root = parent(root)
      var j = i
      while (parent(j) != root) {
        val next = parent(j)
        parent(j) = root
        j = next
      }
      root
    }
    def index(id: Long): Int = java.util.Arrays.binarySearch(ids, 0, n, id)
    var e = 0
    while (e < ends.length) {
      val ra = find(index(ends(e)))
      val rb = find(index(ends(e + 1)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      e += 2
    }
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row](n)
    for (i <- 0 until n) {
      val root = find(i)
      rows.add(org.apache.spark.sql.Row(ids(i), ids(root), i == root))
    }
    s.createDataFrame(rows, ClusterSchema)
  }

  /** The loop's output schema after any round: `min()` is nullable, so
    * every column is, whatever the input's nullability. */
  private val ClusterSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "doc_id BIGINT, cluster_id BIGINT, keep BOOLEAN")

  /** d11 — golden-record survivorship: instead of d06's min-id keep
    * rule, each near-dup cluster keeps its BEST member, scored by an
    * integer quality key (longest text, ties to the lowest id) — the
    * MDM "survivorship policy" every dedup pipeline bolts on after
    * clustering. One `max(struct(quality, -doc_id, payload))` per
    * cluster — a map-side-combinable aggregate, never a window rank
    * (c04's shape: partial aggregation below the shuffle is what
    * survives at 100 TB). Clusters here are the closed-form chains
    * (d07's harness), so the WHOLE stack — multi-hop clustering plus
    * survivorship — is oracle-checked bit-exactly. */
  def goldenRecords(s: SparkSession, dir: String): DataFrame = {
    val docs = Relational.table(s, dir, "documents")
      .select(col("doc_id"), length(col("text")).cast("long").as("quality"))
    clusterChain(s, dir)
      .join(docs, "doc_id")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("quality"), (-col("doc_id")).as("neg_id")))
          .as("best"))
      .select(col("cluster_id"), col("n_members"),
        (-col("best.neg_id")).as("golden_id"),
        col("best.quality").as("golden_quality"))
  }

  val goldenRecordsSql: String = """
    WITH members AS (
      SELECT DISTINCT doc_id, doc_id - (doc_id % 10) AS cluster_id
      FROM (
        SELECT doc_id FROM documents WHERE doc_id % 10 <= 2
        UNION ALL
        SELECT doc_id + 1 AS doc_id FROM documents WHERE doc_id % 10 <= 2)),
    scored AS (
      SELECT m.cluster_id, m.doc_id, length(d.text) AS quality
      FROM members m JOIN documents d ON d.doc_id = m.doc_id)
    SELECT cluster_id, count(*) AS n_members,
      CAST(-(max(struct_pack(q := quality, nid := -doc_id)).nid)
        AS BIGINT) AS golden_id,
      CAST(max(struct_pack(q := quality, nid := -doc_id)).q
        AS BIGINT) AS golden_quality
    FROM scored
    GROUP BY cluster_id
    ORDER BY cluster_id"""

  /** MinHash candidate pairs → clusters → canonical keep decision. */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    clusterPairs(dedupMinhashLsh(s, dir))

  /** Oracle harness for the label-propagation operator itself: chain
    * edges i→i+1 for doc_id % 10 ∈ {0,1,2} form 4-node paths whose
    * transitive closure has the closed form cluster_id = doc_id -
    * doc_id % 10 — multi-hop convergence is checked bit-exactly
    * against SQL, which the hash-derived d06 pairs can't be. */
  def clusterChain(s: SparkSession, dir: String): DataFrame = {
    val sources = Relational.table(s, dir, "documents")
      .select(col("doc_id")).filter(col("doc_id") % 10 <= 2)
    val edges = sources
      .select(col("doc_id").as("a"), (col("doc_id") + 1).as("b"))
    clusterPairs(edges)
  }

  val clusterChainSql: String = """
    SELECT doc_id, doc_id - (doc_id % 10) AS cluster_id,
      doc_id % 10 = 0 AS keep
    FROM (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_id FROM documents WHERE doc_id % 10 <= 2
        UNION ALL
        SELECT doc_id + 1 AS doc_id FROM documents WHERE doc_id % 10 <= 2))
    ORDER BY cluster_id, doc_id"""

  // ------------------------------------------- paragraph-level dedup
  private val ParaTokens = 8

  /** Paragraph-level dedup (the Dolma/FineWeb-style scrub): chunk each
    * document into fixed 8-token paragraphs, keep only the globally
    * FIRST occurrence of every distinct paragraph (by doc_id, then
    * position), and re-assemble the survivors in document order. Docs
    * whose every paragraph already appeared elsewhere — the planted
    * exact copies — vanish entirely.
    *
    * Scale shape: the paragraph explode is map-side; first-occurrence
    * is one shuffle keyed by paragraph text (partial-agg-friendly
    * min-struct, no window over the corpus); the re-assembly groupBy
    * shuffles back by doc_id. Two keyed shuffles total, both on keys
    * with bounded fan-in, no joins, no cross products. */
  def paragraphDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Relational.table(s, dir, "documents")
    val toks = split(col("text"), " ")
    val nParas = ceil(size(toks).cast("double") / ParaTokens).cast("int")
    val paras = docs.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), nParas - 1),
        i => array_join(slice(toks, i * ParaTokens + 1, lit(ParaTokens)),
          " "))))
      .toDF("doc_id", "pos", "para")
    // first global occurrence per distinct paragraph: min (doc_id, pos)
    // — an aggregation, not a window, so map-side partial agg applies
    val first = paras.groupBy("para")
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
      .select(col("f.doc_id").as("doc_id"), col("f.pos").as("pos"),
        col("para"))
    first.groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("para")))),
          x => x.getField("para")), " ").as("text_clean"))
  }

  /** DuckDB twin: same chunking arithmetic (1-based inclusive list
    * slice == Spark's length-capped slice), first occurrence via
    * min(doc_id, pos) per paragraph, order-preserving string_agg. */
  val paragraphDedupSql: String = s"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    paras AS (
      SELECT doc_id, i AS pos,
        array_to_string(ts[(i * $ParaTokens + 1):((i + 1) * $ParaTokens)],
          ' ') AS para
      FROM toks,
        LATERAL unnest(generate_series(0,
          CAST(ceil(len(ts) / ${ParaTokens}.0) AS INT) - 1)) AS g(i)),
    first AS (
      SELECT para,
        min(struct_pack(doc_id := doc_id, pos := pos)) AS f
      FROM paras GROUP BY para),
    kept AS (
      SELECT f.doc_id AS doc_id, f.pos AS pos, para FROM first)
    SELECT doc_id, count(*) AS n_kept,
      string_agg(para, ' ' ORDER BY pos) AS text_clean
    FROM kept
    GROUP BY doc_id
    ORDER BY doc_id"""

  // ------------------------------------------------ semantic dedup
  private val SemK = 8
  private val SemTauNum = 81 // tau^2 = 81/100 => cosine threshold 0.9
  /** Target in-cluster population: the centroid count is
    * k = max([[SemK]], n/SemClusterTarget), so cluster sizes — and
    * with them the per-cluster quadratic pair term, the ONLY
    * superlinear term in d09/d16 — stay ~constant as the corpus
    * grows (the SemDeDup premise; the r10 sf1 audit caught the
    * fixed-k version growing its pair term 100× per 10× data). At
    * the gate SFs the rule resolves to k = [[SemK]] exactly, so the
    * oracle values are unchanged; both engines replay the same
    * `greatest(k_min, n div target)` arithmetic. Centroids stay the
    * k lowest-id vectors — valid while k is below the first id gap
    * (2000 at the scaled-dir stride; k reaches that at ~500k
    * vectors, where production swaps in s06's sampled k-means
    * anyway, as the d09 scaladoc already prescribes). */
  private val SemClusterTarget = 256L

  /** Above this centroid count the argmax assignment stops being a
    * compiled k-wide literal expression and becomes a broadcast
    * join + max-struct aggregation. The literal path is exchange-free
    * and unbeatable for small k (the gate's k = [[SemK]]), but its
    * collect size and generated code grow linearly with k — codegen
    * gives out around k ≈ 10⁴. Session-overridable
    * (`spark.graft.semdedup.centroidLiteralMax`) so a scale audit can
    * force either path; the default hands the 99× corpus (k ≈ 773)
    * to the join path. Past broadcast limits (k ≳ 10⁶) the next swap
    * is s06's sampled k-means / a two-level IVF assign (s04), as the
    * d09 scaladoc prescribes. */
  private val CentroidLiteralMaxKey =
    "spark.graft.semdedup.centroidLiteralMax"
  private val CentroidLiteralMaxDefault = 512L

  /** Cluster assignment for the SemDeDup family: every vector gets
    * the id of the max-integer-dot centroid, ties to the LOWEST
    * centroid id — the same decision on both paths:
    *  - k ≤ threshold: k-wide literal argmax (zero exchanges, the
    *    argmax position maps back to the centroid's actual vec_id);
    *  - k > threshold: broadcast the centroid frame, one dot per
    *    (vector, centroid) pair inside codegen, then
    *    `max(struct(dot, −cent_id))` per vector — the standard
    *    broadcast-assign shape that scales to millions of vectors ×
    *    thousands of centroids without the driver compiling a plan
    *    proportional to k. Costs one extra shuffle (the assignment
    *    joins back on vec_id) — the price of unbounded k. */
  private def assignClusters(s: SparkSession,
      quant: org.apache.spark.sql.DataFrame, k: Long)
      : org.apache.spark.sql.DataFrame = {
    val idot = graft.expr.IntDotProduct.intDot _
    val litMax = s.conf.getOption(CentroidLiteralMaxKey)
      .map(_.toLong).getOrElse(CentroidLiteralMaxDefault)
    if (k <= litMax) {
      // plan-time driver lookup of a tiny, deterministic set (same
      // pattern as the reference's factory-time table loads)
      val cents: Array[(Long, Seq[Int])] = quant
        .filter(col("vec_id") < k)
        .orderBy("vec_id").select(col("vec_id"), col("q")).collect()
        .map(r => (r.getLong(0), r.getSeq[Int](1)))
      val dots = array(cents.map { case (_, c) =>
        idot(col("q"), typedLit(c)) }: _*)
      // first occurrence of the max => ties break to the lowest
      // centroid; the argmax position is mapped back to the
      // centroid's actual vec_id (the oracle's cluster key) rather
      // than assuming the centroid ids are the contiguous 0..k-1
      val centIds = typedLit(cents.map(_._1).toSeq)
      quant.withColumn("cluster_id", element_at(centIds,
        array_position(dots, array_max(dots)).cast("int")))
    } else {
      val centDf = quant.filter(col("vec_id") < k)
        .select(col("vec_id").as("cent_id"), col("q").as("cq"))
      val best = quant.select(col("vec_id"), col("q"))
        .crossJoin(broadcast(centDf))
        .withColumn("cdot", idot(col("q"), col("cq")))
        .groupBy("vec_id")
        .agg(max(struct(col("cdot"),
          (-col("cent_id")).as("neg_cid"))).as("best"))
        .select(col("vec_id"),
          (-col("best.neg_cid")).as("cluster_id"))
      quant.join(best, Seq("vec_id"))
    }
  }

  /** d09 — SemDeDup-style semantic deduplication (Abbas et al. 2023):
    * cluster the corpus, then drop every vector that has a
    * sufficiently-cosine-similar smaller-id neighbor in its own
    * cluster. The in-cluster pairing is the whole point of the
    * algorithm — cluster count scales with the corpus so cluster sizes
    * (and the quadratic term) stay bounded, which is what makes it run
    * where corpus-wide pairing can't.
    *
    * Everything after the scan is exact INTEGER arithmetic so a SQL
    * oracle can replay it bit-for-bit: vectors are int8-quantized with
    * e01's replayable formula, cluster assignment is an argmax of
    * integer dot products against [[SemK]] deterministic centroids
    * (the quantized lowest-id vectors; production would use s06's
    * sampled k-means — the plan shape is identical), and the cosine
    * test `cos > 0.9` is evaluated as `100*dot^2 > 81*|a|^2*|b|^2`
    * with dot > 0 — no sqrt, no floats, no cross-engine ulp risk.
    * Near-dups are planted as power-of-two-scaled copies (x2.0 is
    * exact in IEEE arithmetic, so the planted copy quantizes to the
    * IDENTICAL int8 vector in any engine — direction-preserving and
    * rounding-proof, unlike the 1.003 factor d05 uses with its
    * closed-form oracle).
    *
    * Scale shape: quantize + assign are map-only for gate-scale k
    * (codegen'd literal argmax, no UDF) and a broadcast-join argmax
    * past [[CentroidLiteralMaxDefault]] centroids (see
    * [[assignClusters]] — one extra vec_id shuffle buys unbounded k);
    * the remaining shuffle is the cluster_id self-join, whose skew is
    * bounded by cluster size. */
  def semanticDedup(s: SparkSession, dir: String): DataFrame = {
    val emb = Relational.table(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val planted = emb.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + PlantOffset).as("vec_id"),
        transform(col("embedding"),
          x => (x * lit(2.0f)).cast("float")).as("embedding"))
    val corpus = emb.unionAll(planted)

    // all dot products go through the native codegen'd kernel — the
    // composed aggregate(zip_with(...)) allocates an array per pair,
    // which dominates over the quadratic in-cluster candidate set
    val idot = graft.expr.IntDotProduct.intDot _
    val quant = Similarity.quantizeEmbeddings(corpus)
      .select(col("vec_id"), col("q"))
      .withColumn("n2", idot(col("q"), col("q")))

    // centroids: quantized vectors of the k lowest ids, k scaled to
    // the corpus (see SemClusterTarget); [[assignClusters]] picks the
    // literal-argmax or broadcast-join path by k
    val k = math.max(SemK.toLong, corpus.count() / SemClusterTarget)
    val assigned = assignClusters(s, quant, k).persist()

    val a = assigned.select(col("cluster_id"), col("vec_id").as("a_id"),
      col("q").as("qa"), col("n2").as("na2"))
    val b = assigned.select(col("cluster_id"), col("vec_id").as("b_id"),
      col("q").as("qb"), col("n2").as("nb2"))
    val pairDot = idot(col("qa"), col("qb"))
    val out = a.join(b, Seq("cluster_id"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("dot", pairDot)
      .filter(col("dot") > 0 &&
        col("dot") * col("dot") * 100 > col("na2") * col("nb2") * SemTauNum)
      .groupBy("b_id")
      .agg(min(col("cluster_id")).as("cluster_id"),
        min(col("a_id")).as("keeper_id"))
      .select(col("b_id").as("vec_id"), col("cluster_id"), col("keeper_id"))
    CacheScope.materializeAndRelease(out, assigned)
  }

  /** Full-pipeline DuckDB replica of [[semanticDedup]] — quantization,
    * centroid argmax, and the integer cosine test are all replayed, not
    * assumed (the x2.0 planting makes every step IEEE-exact in both
    * engines). */
  val semanticDedupSql: String = s"""
    WITH corpus AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + $PlantOffset AS vec_id,
        list_transform(embedding, x -> CAST(x * 2 AS REAL)) AS embedding
      FROM embeddings WHERE vec_id % 10 = 0),
    qe AS (
      SELECT vec_id,
        list_transform(embedding, x -> CASE WHEN m = 0 THEN 0
          ELSE CAST(floor(CAST(x AS DOUBLE) * 127.0 /
            CAST(m AS DOUBLE) + 0.5) AS BIGINT) END) AS q
      FROM (SELECT vec_id, embedding,
            list_max(list_transform(embedding, x -> abs(x))) AS m
            FROM corpus)),
    qn AS (
      SELECT vec_id, q,
        list_sum(list_transform(q, x -> x * x)) AS n2 FROM qe),
    cents AS (SELECT vec_id AS cid, q AS cq FROM qe
      WHERE vec_id < greatest($SemK,
        (SELECT count(*) FROM corpus) // $SemClusterTarget)),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT qe.vec_id, c.cid,
          row_number() OVER (PARTITION BY qe.vec_id ORDER BY
            list_sum(list_transform(list_zip(qe.q, c.cq),
              p -> p[1] * p[2])) DESC, c.cid) AS rn
        FROM qe CROSS JOIN cents c) WHERE rn = 1),
    av AS (
      SELECT qn.vec_id, assign.cid, qn.q, qn.n2
      FROM qn JOIN assign ON qn.vec_id = assign.vec_id),
    cand AS (
      SELECT a.cid AS cluster_id, a.vec_id AS a_id, b.vec_id AS b_id,
        list_sum(list_transform(list_zip(a.q, b.q), p -> p[1] * p[2]))
          AS dot,
        a.n2 AS na2, b.n2 AS nb2
      FROM av a JOIN av b ON a.cid = b.cid AND a.vec_id < b.vec_id)
    SELECT b_id AS vec_id, min(cluster_id) AS cluster_id,
      min(a_id) AS keeper_id
    FROM cand
    WHERE dot > 0 AND 100 * dot * dot > $SemTauNum * na2 * nb2
    GROUP BY b_id
    ORDER BY vec_id"""

  // ----------------------------- d16 threshold calibration sweep
  private val CalibTaus = Seq(64L, 81L, 90L, 95L)

  /** d16 — semantic-dedup threshold calibration: d09 RUNS at a fixed
    * cosine threshold; this measures what every threshold would do —
    * the dup-rate curve over τ² ∈ {0.64, 0.81, 0.90, 0.95} that an
    * operator actually looks at before picking one (st19's
    * measure-then-choose discipline applied to the dedup family).
    * Candidates are d09's in-cluster pairs, computed ONCE; each pair
    * is then judged against every τ by the same cross-multiplied
    * integer test (100·dot² > τ²·‖a‖²·‖b‖², dot > 0), so the curve
    * costs one extra 4-way explode over the pair stream, not four
    * dedup runs.
    *
    * Scale shape: identical to d09 (cluster-bounded pair generation,
    * native int_dot kernel); the sweep adds a constant factor on the
    * pair stream and a 4-row aggregate. */
  def semanticCalibration(s: SparkSession, dir: String): DataFrame = {
    val emb = Relational.table(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    // graded near-dup plants: class c (vec_id ≡ c mod 10, c = 0..3)
    // contributes a replica with the first c dims NEGATED — cosine to
    // its origin ≈ 1 − 2c/64 (1.0, ~0.97, ~0.94, ~0.91), straddling
    // the τ ladder so the calibration curve actually discriminates
    val planted = (0 to 3).map { c =>
      emb.filter(col("vec_id") % 10 === c)
        .select((col("vec_id") + PlantOffset * (c + 1)).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            when(i < c, -x).otherwise(x).cast("float"))
            .as("embedding"))
    }.reduce(_ unionAll _)
    val corpus = emb.unionAll(planted)
    val idot = graft.expr.IntDotProduct.intDot _
    val quant = Similarity.quantizeEmbeddings(corpus)
      .select(col("vec_id"), col("q"))
      .withColumn("n2", idot(col("q"), col("q")))
    val k = math.max(SemK.toLong, corpus.count() / SemClusterTarget)
    val assigned = assignClusters(s, quant, k).persist()
    val a = assigned.select(col("cluster_id"), col("vec_id").as("a_id"),
      col("q").as("qa"), col("n2").as("na2"))
    val b = assigned.select(col("cluster_id"), col("vec_id").as("b_id"),
      col("q").as("qb"), col("n2").as("nb2"))
    val out = a.join(b, Seq("cluster_id"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("dot", idot(col("qa"), col("qb")))
      .select(col("dot"), col("na2"), col("nb2"),
        explode(typedLit(CalibTaus)).as("tau_num"))
      .groupBy("tau_num")
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("dot") > 0 &&
          col("dot") * col("dot") * 100 >
            col("na2") * col("nb2") * col("tau_num"), 1L)
          .otherwise(0L)).as("n_dups"))
      .withColumn("dup_ppm",
        expr("n_dups * 1000000 div n_candidates"))
    CacheScope.materializeAndRelease(out, assigned)
  }

  val semanticCalibrationSql: String = {
    val plantArms = (0 to 3).map { c =>
      s"""SELECT vec_id + ${PlantOffset * (c + 1)} AS vec_id,
        list_transform(range(1, 65), i -> CASE WHEN i <= $c
          THEN CAST(-embedding[i] AS REAL)
          ELSE embedding[i] END) AS embedding
      FROM embeddings WHERE vec_id % 10 = $c"""
    }.mkString("\n      UNION ALL\n      ")
    s"""
    WITH corpus AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      $plantArms),
    qe AS (
      SELECT vec_id,
        list_transform(embedding, x -> CASE WHEN m = 0 THEN 0
          ELSE CAST(floor(CAST(x AS DOUBLE) * 127.0 /
            CAST(m AS DOUBLE) + 0.5) AS BIGINT) END) AS q
      FROM (SELECT vec_id, embedding,
            list_max(list_transform(embedding, x -> abs(x))) AS m
            FROM corpus)),
    qn AS (
      SELECT vec_id, q,
        list_sum(list_transform(q, x -> x * x)) AS n2 FROM qe),
    cents AS (SELECT vec_id AS cid, q AS cq FROM qe
      WHERE vec_id < greatest($SemK,
        (SELECT count(*) FROM corpus) // $SemClusterTarget)),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT qe.vec_id, c.cid,
          row_number() OVER (PARTITION BY qe.vec_id ORDER BY
            list_sum(list_transform(list_zip(qe.q, c.cq),
              p -> p[1] * p[2])) DESC, c.cid) AS rn
        FROM qe CROSS JOIN cents c) WHERE rn = 1),
    av AS (
      SELECT qn.vec_id, assign.cid, qn.q, qn.n2
      FROM qn JOIN assign ON qn.vec_id = assign.vec_id),
    cand AS (
      SELECT
        list_sum(list_transform(list_zip(a.q, b.q), p -> p[1] * p[2]))
          AS dot,
        a.n2 AS na2, b.n2 AS nb2
      FROM av a JOIN av b ON a.cid = b.cid AND a.vec_id < b.vec_id)
    SELECT t.tau_num, count(*) AS n_candidates,
      CAST(sum(CASE WHEN dot > 0
          AND 100 * dot * dot > t.tau_num * na2 * nb2
        THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
      CAST(sum(CASE WHEN dot > 0
          AND 100 * dot * dot > t.tau_num * na2 * nb2
        THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS dup_ppm
    FROM cand CROSS JOIN
      (SELECT unnest([${CalibTaus.mkString(", ")}]) AS tau_num) t
    GROUP BY t.tau_num
    ORDER BY tau_num"""
  }

  // ------------------------------------------- d10 incremental dedup
  /** d10 — incremental ingestion dedup: admit only the rows of a NEW
    * batch whose content fingerprint is absent from the existing
    * corpus. This is the shape every append-only pipeline actually
    * runs — dedup of the delta AGAINST history, not a full-corpus
    * re-dedup: one anti-join of the (small) delta onto the corpus
    * fingerprint set, so the per-ingest cost is O(delta) shuffle plus
    * a fingerprint-table probe, never a rescan-the-world groupBy. At
    * 100 TB the fingerprint relation is the thing a production system
    * would keep materialized (it is corpus-sized but 16 bytes/row);
    * here it is derived in-plan from the held-out split.
    *
    * The synthetic corpus has no natural cross-batch duplicates, so
    * they are PLANTED deterministically: the delta is every 10th doc,
    * and every 3rd delta doc's payload is replaced by its successor's
    * (a corpus member) — those rows must be rejected; the oracle
    * replays the planting in closed form. */
  def incrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val base = Relational.table(s, dir, "documents")
      .select(col("doc_id"), col("text"))
    val donor = base.select((col("doc_id") - 1).as("doc_id"),
      col("text").as("donor_text"))
    val delta = base.filter(col("doc_id") % 10 === 0)
      .join(donor, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("doc_id") % 30 === 0 && col("donor_text").isNotNull,
          col("donor_text")).otherwise(col("text")).as("text"))
    val corpusFp = base.filter(col("doc_id") % 10 =!= 0)
      .select(md5(col("text")).as("fp")).distinct()
    delta.withColumn("fp", md5(col("text")))
      .join(corpusFp, Seq("fp"), "left_anti")
      .select(col("doc_id"), col("fp"))
  }

  val incrementalDedupSql: String = """
    WITH base AS (SELECT doc_id, text FROM documents),
    delta AS (
      SELECT b.doc_id,
        CASE WHEN b.doc_id % 30 = 0 AND d.text IS NOT NULL
             THEN d.text ELSE b.text END AS text
      FROM base b LEFT JOIN base d ON d.doc_id = b.doc_id + 1
      WHERE b.doc_id % 10 = 0),
    corpus AS (
      SELECT DISTINCT md5(text) AS fp FROM base WHERE doc_id % 10 <> 0)
    SELECT doc_id, md5(text) AS fp
    FROM delta
    WHERE md5(text) NOT IN (SELECT fp FROM corpus)
    ORDER BY doc_id"""

  // ------------------------------------ d12 duplicated-span removal

  /** Window length (tokens) above which a repeated span is cut. */
  private[graft] val SpanL = 8

  /** 12 sentinel tokens appended to every 7th doc — a shared tail whose
    * internal L-grams are duplicated corpus-wide by construction, so
    * span removal (and its island merge: 5 overlapping dup windows →
    * ONE 12-token cut) is exercised at every SF. Grams straddling the
    * original text and the tail differ per doc and stay unique. */
  private[graft] val PlantTail: String =
    (1 to 12).map(i => f"pz$i%02d").mkString(" ")

  private def plantedSpanCorpus(s: SparkSession, dir: String): DataFrame =
    Relational.table(s, dir, "documents")
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" " + PlantTail)))
          .otherwise(col("text")).as("text"))

  /** d12 — exact duplicated-substring REMOVAL (the cut, not just the
    * t21 coverage measure): every token span of length ≥ [[SpanL]]
    * whose text occurs ≥ 2 times anywhere in the corpus is deleted
    * from every document, overlapping spans merged (cf. the
    * exact-substring dedup of Lee et al. 2021, token granularity).
    *
    * Scale shape: the ONLY corpus-proportional shuffle is the gram
    * window (same key/fanout as t21 — one row per token position,
    * counted per gram). Duplicated positions then collapse to ONE row
    * per affected doc (collect_list bounded by the doc's own token
    * count), and the cut itself is map-side array arithmetic after a
    * doc_id-keyed join — at test scale AQE broadcasts the position
    * side so the payload text never shuffles; at 100 TB it degrades
    * to a single doc_id SMJ. No per-token join, no second pass over
    * the corpus. */
  def substringDedup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = plantedSpanCorpus(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val grams = toks.filter(size(col("toks")) >= SpanL)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(toks) - $SpanL + 1), i -> " +
          s"named_struct('pos', i, 'gram', " +
          s"array_join(slice(toks, i, $SpanL), ' ')))")).as("pg"))
      .select(col("doc_id"), col("pg.pos").as("pos"),
        col("pg.gram").as("gram"))
    val dupPos = grams
      .withColumn("n_global", count(lit(1)).over(Window.partitionBy("gram")))
      .filter(col("n_global") > 1)
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("dup_pos"))
    toks.join(dupPos, Seq("doc_id"), "left")
      .withColumn("covered", expr(
        s"array_distinct(flatten(transform(" +
          s"coalesce(dup_pos, cast(array() as array<int>)), " +
          s"p -> sequence(p, p + $SpanL - 1))))"))
      .withColumn("kept", expr(
        "filter(zip_with(toks, sequence(1, size(toks)), " +
          "(t, i) -> named_struct('t', t, 'i', i)), " +
          "s -> NOT array_contains(covered, s.i))"))
      .select(col("doc_id"),
        expr("array_join(transform(kept, s -> s.t), ' ')")
          .as("clean_text"),
        (size(col("toks")) - size(col("kept"))).cast("long")
          .as("n_removed"))
  }

  val substringDedupSql: String = s"""
    WITH docs2 AS (
      SELECT doc_id,
        CASE WHEN doc_id % 7 = 0 THEN text || ' $PlantTail'
             ELSE text END AS text
      FROM documents),
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM docs2),
    grams AS (
      SELECT doc_id,
        unnest(range(1, len(t) - $SpanL + 2)) AS pos,
        unnest(list_transform(range(1, len(t) - $SpanL + 2),
          i -> array_to_string(t[i:i+$SpanL-1], ' '))) AS gram
      FROM toks WHERE len(t) >= $SpanL),
    dup AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos, count(*) OVER (PARTITION BY gram) AS n
        FROM grams) WHERE n > 1),
    covered AS (
      SELECT DISTINCT doc_id, idx FROM (
        SELECT doc_id, pos + unnest(range(0, $SpanL)) AS idx FROM dup)),
    tokidx AS (
      SELECT doc_id, unnest(t) AS tok,
        unnest(range(1, len(t) + 1)) AS idx
      FROM toks),
    kept AS (
      SELECT k.doc_id, k.tok, k.idx FROM tokidx k
      LEFT JOIN covered c ON c.doc_id = k.doc_id AND c.idx = k.idx
      WHERE c.doc_id IS NULL)
    SELECT t.doc_id,
      coalesce(string_agg(k.tok, ' ' ORDER BY k.idx), '') AS clean_text,
      CAST(len(t.t) - count(k.tok) AS BIGINT) AS n_removed
    FROM toks t LEFT JOIN kept k ON k.doc_id = t.doc_id
    GROUP BY t.doc_id, len(t.t)
    ORDER BY t.doc_id"""

  // ------------------------------------- d13 containment near-dup
  /** d13 — containment dedup: the ASYMMETRIC near-dup case Jaccard
    * misses. A short document wholly embedded in a longer one (quote,
    * excerpt, boilerplate wrapper — endemic in crawled training data)
    * scores low Jaccard (the union is dominated by the long doc) but
    * containment `|A∩B| / min(|A|,|B|)` ≈ 1 (Broder 1997's resemblance
    * vs containment distinction). The demo plants the first half of
    * every 7th document as a standalone doc; each planted prefix is
    * fully contained (1 000 000 ppm) in its source.
    *
    * Scale shape: the d02/d04 two-stage pattern. (1) CANDIDATE
    * GENERATION from an inverted index over word-3-grams with posting
    * lists capped to the 8 lowest doc ids via
    * `slice(array_sort(collect_set(doc_id)), 1, 8)` — HONEST MEMORY
    * BOUND: the per-gram aggregation state is O(df) (the gram's full
    * distinct doc-id set is held in one in-memory aggregation buffer
    * before the slice; collect_set does partial/map-side aggregation
    * but does not spill), so a pathologically viral gram concentrates
    * memory on one task — acceptable here because the df>=2 semi-join
    * below already restricts the aggregate to shared grams and a
    * doc-id is 8 bytes (a 10M-doc-df gram costs ~80 MB of buffer; at
    * that scale switch back to a bounded-heap TypedImperative
    * aggregate, which was measured 2x slower at gate df profiles —
    * see the df2 comment). df==1 grams (the majority of distinct
    * 3-grams) are dropped before the cap, since a single-doc posting
    * can never form a pair. Pair volume is ≤ C(8,2) per gram, linear
    * in distinct grams, never quadratic in docs.
    * (2) EXACT VERIFY on candidates only: shared
    * grams are recounted from the UNCAPPED gram table, but the
    * pair-join is semi-restricted to candidate pairs, so the exact
    * pass touches only candidate docs' grams (capping the counting
    * pass itself would undercount containment for high-df grams).
    * Containment is exact integer ppm (floor division both engines →
    * hash-exact oracle). */
  def containmentDedup(s: SparkSession, dir: String): DataFrame = {
    val (out, caches) = containmentDedupPlan(s, dir)
    CacheScope.materializeAndRelease(out, caches: _*)
  }

  /** Spec hook — see [[dedupMinhashLshPlan]]. */
  private[graft] def containmentDedupPlan(s: SparkSession, dir: String)
      : (DataFrame, Seq[DataFrame]) = {
    // ONE split() in the whole plan (the grams projection below). The
    // r15 shape evaluated split(text) in four more places — the two
    // token-count filters, the planted slice and its size — and filter
    // pushdown duplicates any projected alias back into the predicate,
    // so a column-level `toks` alias cannot fix it (guide §4.4). The
    // token-COUNT filters instead use the split-free identity
    // n_tokens = n_spaces + 1 (split on a single space keeps empty
    // tokens, so the identity is exact, consecutive spaces included),
    // and the planted prefix uses substring_index(text, ' ', n) —
    // "first n tokens joined by spaces" as one codegen'd string scan,
    // byte-identical to concat_ws(' ', slice(split(text), 1, n)).
    val nSpaces = length(col("text")) -
      length(replace(col("text"), lit(" "), lit("")))
    val nToks = nSpaces + 1
    val docs = Relational.table(s, dir, "documents")
      .select(col("doc_id"), col("text"))
    val planted = docs.filter(col("doc_id") % 7 === 0)
      .filter(nToks >= 6)
      .select((col("doc_id") + PlantOffset).as("doc_id"),
        expr("substring_index(text, ' ', cast((length(text) - " +
          "length(replace(text, ' ', '')) + 1) / 2 as int))")
          .as("text"))
    val corpus = docs.unionAll(planted).filter(nToks >= 3)
    // tokenize ONCE into a column, then index it — inlining
    // `element_at(split(text), i)` into the transform lambda re-splits
    // the whole text per gram element, an O(len²)-per-doc trap that
    // alone cost ~6 s at sf0.1 (measured; this shape is <1 s)
    val grams = corpus
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        explode(array_distinct(expr(
          "transform(sequence(1, size(toks) - 2), i -> " +
            "concat_ws(' ', element_at(toks, i), " +
            "element_at(toks, i + 1), element_at(toks, i + 2)))")))
          .as("gram"))
      .persist()
    // df==1 grams — the overwhelming long tail of distinct 3-grams —
    // can never form a candidate pair; drop them BEFORE the per-gram
    // posting window so the row_number sort runs over the shared-gram
    // sliver only. The df count is a codegen'd hash aggregate with
    // map-side combine (longs, no object buffers — a TypedImperative
    // top-k heap was measured 2× SLOWER here: ObjectHashAggregate
    // falls back to sort-based past 128 groups/partition, paying the
    // sort AND per-gram heap serde).
    val df2 = grams.groupBy("gram").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select("gram")
    // capped posting lists + pair emission IN ONE AGGREGATION (the
    // gr03 coPurchaseEdges trick): per shared gram, keep the 8 lowest
    // doc ids (grams are per-doc distinct, so sorted collect_set ==
    // the old row_number()<=8 window) and emit the <=C(8,2) unordered
    // pairs in-row with a nested transform — replacing the window's
    // partition sort + the posting self-join with a single
    // gram-keyed aggregate (r15-opt; same candidate set, the list is
    // ascending so a < b holds by construction)
    val candidates = grams.join(df2, Seq("gram"), "left_semi")
      .groupBy("gram")
      .agg(slice(array_sort(collect_set(col("doc_id"))), 1, 8).as("ds"))
      .select(expr(
        """flatten(transform(ds, (u, i) ->
             transform(slice(ds, i + 2, size(ds)), v ->
               struct(u AS a, v AS b))))""").as("pairs"))
      .select(explode(col("pairs")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b")).distinct()
    // EXACT VERIFY via per-doc gram SETS + array_intersect: one row
    // per doc (gram list bounded by doc length) instead of one row
    // per (pair × gram). The old two-sided gram re-join expanded the
    // candidate stream by each doc's gram count (~6M rows at sf0.1,
    // the measured 5 s hot spot); this shape joins each candidate to
    // exactly two doc rows — and the doc-keyed gram-set table is
    // orders of magnitude smaller than the gram table, so AQE
    // broadcasts it outright at bench scale. Same exact shared-gram
    // counts: grams are per-doc distinct, so |intersect| == the
    // old join-count.
    val gramSets = grams.groupBy("doc_id")
      .agg(collect_list(col("gram")).as("gs"),
        count(lit(1)).as("n_grams"))
    val out = candidates
      .join(gramSets.select(col("doc_id").as("a"), col("gs").as("gs_a"),
        col("n_grams").as("ng_a")), "a")
      .join(gramSets.select(col("doc_id").as("b"), col("gs").as("gs_b"),
        col("n_grams").as("ng_b")), "b")
      .withColumn("shared_grams",
        size(array_intersect(col("gs_a"), col("gs_b"))).cast("long"))
      .withColumn("containment_ppm",
        expr("shared_grams * 1000000 div least(ng_a, ng_b)"))
      .filter(col("containment_ppm") >= 600000)
      .select("a", "b", "shared_grams", "ng_a", "ng_b",
        "containment_ppm")
    (out, Seq(grams))
  }

  val containmentDedupSql: String = s"""
    WITH base AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + $PlantOffset AS doc_id,
        array_to_string(list_slice(string_split(text, ' '), 1,
          len(string_split(text, ' ')) // 2), ' ') AS text
      FROM documents
      WHERE doc_id % 7 = 0 AND len(string_split(text, ' ')) >= 6),
    corpus AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM base
      WHERE len(string_split(text, ' ')) >= 3),
    grams AS (
      SELECT doc_id, unnest(list_distinct(
        [array_to_string(list_slice(t, i, i + 2), ' ')
         FOR i IN range(1, len(t) - 1)])) AS gram
      FROM corpus),
    ng AS (
      SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
    postings AS (
      SELECT gram, doc_id FROM (
        SELECT gram, doc_id,
          row_number() OVER (PARTITION BY gram ORDER BY doc_id) AS rn
        FROM grams) WHERE rn <= 8),
    candidates AS (
      SELECT DISTINCT p1.doc_id AS a, p2.doc_id AS b
      FROM postings p1 JOIN postings p2
        ON p1.gram = p2.gram AND p1.doc_id < p2.doc_id),
    shared AS (
      SELECT c.a, c.b, count(*) AS shared_grams
      FROM candidates c
      JOIN grams g1 ON c.a = g1.doc_id
      JOIN grams g2 ON c.b = g2.doc_id AND g1.gram = g2.gram
      GROUP BY 1, 2)
    SELECT s.a, s.b, s.shared_grams,
      na.n_grams AS ng_a, nb.n_grams AS ng_b,
      s.shared_grams * 1000000 // least(na.n_grams, nb.n_grams)
        AS containment_ppm
    FROM shared s
    JOIN ng na ON s.a = na.doc_id
    JOIN ng nb ON s.b = nb.doc_id
    WHERE s.shared_grams * 1000000 // least(na.n_grams, nb.n_grams)
      >= 600000
    ORDER BY a, b"""

  // ------------------------------------------------ d14 URL dedup
  /** d14 — URL canonicalization dedup, the web-crawl curation staple
    * (Common-Crawl-scale pipelines dedup on canonical URL before any
    * content pass, because it is free: no shingles, no signatures,
    * just string normalization + one hash aggregation). Each document
    * carries a synthesized crawl URL (four deterministic variants —
    * tracking query params, http scheme, fragments, `www.`/`m.`
    * subdomain — of a shared underlying page identity). Canonical
    * form: strip fragment, strip query string, force https, lowercase
    * the host, drop `www.`/`m.`, trim the trailing slash. Docs
    * sharing a canonical URL collapse to the lowest doc_id.
    *
    * Scale shape: canonicalization is a pure codegen'd map pass
    * (anchored regexp_replace/extract chains, no UDF); the dedup is
    * ONE hash groupBy on the canonical key with map-side partial
    * aggregation — the cheapest possible dedup at 100 TB, which is
    * exactly why real pipelines run it first. */
  def urlDedup(s: SparkSession, dir: String): DataFrame = {
    val url = concat(
      when(col("doc_id") % 4 === 0, concat(lit("https://WWW."),
        col("source"), lit(".Example.com/page/"), col("doc_id") % 50,
        lit("?utm_source=feed&ref="), col("doc_id")))
        .when(col("doc_id") % 4 === 1, concat(lit("http://"),
          col("source"), lit(".example.com/page/"), col("doc_id") % 50,
          lit("/")))
        .when(col("doc_id") % 4 === 2, concat(lit("https://"),
          col("source"), lit(".example.com/page/"), col("doc_id") % 50,
          lit("#section"), col("doc_id")))
        .otherwise(concat(lit("https://m."), col("source"),
          lit(".Example.com/page/"), col("doc_id") % 50)))
    val noFragment = regexp_replace(url, "#.*$", "")
    val noQuery = regexp_replace(noFragment, "\\?.*$", "")
    val httpsOnly = regexp_replace(noQuery, "^http://", "https://")
    val host = regexp_replace(
      lower(regexp_extract(httpsOnly, "^https://([^/]+)", 1)),
      "^(www|m)\\.", "")
    val path = regexp_replace(
      regexp_extract(httpsOnly, "^https://[^/]+(/.*)?$", 1), "/$", "")
    val canonical = concat(lit("https://"), host, path)
    Relational.table(s, dir, "documents")
      .select(col("doc_id"), canonical.as("canonical_url"))
      .groupBy("canonical_url")
      .agg(min(col("doc_id")).as("keeper_id"),
        count(lit(1)).as("n_dupes"))
  }

  val urlDedupSql: String = """
    WITH urls AS (
      SELECT doc_id,
        CASE doc_id % 4
          WHEN 0 THEN 'https://WWW.' || source || '.Example.com/page/'
            || (doc_id % 50) || '?utm_source=feed&ref=' || doc_id
          WHEN 1 THEN 'http://' || source || '.example.com/page/'
            || (doc_id % 50) || '/'
          WHEN 2 THEN 'https://' || source || '.example.com/page/'
            || (doc_id % 50) || '#section' || doc_id
          ELSE 'https://m.' || source || '.Example.com/page/'
            || (doc_id % 50)
        END AS url
      FROM documents),
    canon AS (
      SELECT doc_id,
        'https://' ||
        regexp_replace(lower(regexp_extract(step3,
          '^https://([^/]+)', 1)), '^(www|m)\.', '') ||
        regexp_replace(regexp_extract(step3,
          '^https://[^/]+(/.*)?$', 1), '/$', '') AS canonical_url
      FROM (
        SELECT doc_id,
          regexp_replace(regexp_replace(regexp_replace(url,
            '#.*$', ''), '\?.*$', ''), '^http://', 'https://') AS step3
        FROM urls))
    SELECT canonical_url, min(doc_id) AS keeper_id,
      count(*) AS n_dupes
    FROM canon
    GROUP BY canonical_url
    ORDER BY canonical_url"""

  // ----------------------------------- d15 cross-source mirrors
  /** d15 — mirror-site detection: which PAIRS of sources carry
    * byte-identical documents (the web-crawl reality that whole
    * sites are mirrored under different domains, so per-source dedup
    * misses systematic cross-source duplication — this measures it
    * pairwise, the input to "drop the mirror, keep the origin"
    * decisions). Every 13th document plants a replica into a rotated
    * source, so real cross-source mirrors exist. Fingerprint = md5
    * of the text; pairs counted on DISTINCT (source, fingerprint),
    * canonically ordered source_a < source_b.
    *
    * Scale shape: one distinct projection (map-side combine), one
    * self-equi-join on the fingerprint — join fanout is bounded by
    * per-fingerprint source counts (≤ #sources), never corpus-
    * quadratic — and one pair-keyed count agg. */
  def crossSourceMirrors(s: SparkSession, dir: String): DataFrame = {
    // No ASCII guard needed here (unlike the Multimodal synth
    // oracles): both engines hash the string's UTF-8 BYTES — Spark
    // md5 casts string→binary as UTF-8, DuckDB strings are UTF-8 —
    // so the fingerprints agree for any code point.
    val docs = Relational.table(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val mirrored = docs.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 20000L).as("doc_id"),
        concat(lit("src"), pmod(col("doc_id") + 7, lit(20L)))
          .as("source"),
        col("text"))
    val keys = docs.unionAll(mirrored)
      .select(col("source"), md5(col("text")).as("h"))
      .distinct()
    val a = keys.select(col("source").as("source_a"), col("h"))
    val b = keys.select(col("source").as("source_b"), col("h"))
    a.join(b, "h")
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared"))
  }

  val crossSourceMirrorsSql: String = """
    WITH base AS (
      SELECT doc_id, source, text FROM documents
      UNION ALL
      SELECT doc_id + 20000 AS doc_id,
        'src' || ((doc_id + 7) % 20) AS source, text
      FROM documents WHERE doc_id % 13 = 0),
    keys AS (
      SELECT DISTINCT source, md5(text) AS h FROM base)
    SELECT a.source AS source_a, b.source AS source_b,
      count(*) AS n_shared
    FROM keys a JOIN keys b
      ON a.h = b.h AND a.source < b.source
    GROUP BY 1, 2
    ORDER BY source_a, source_b"""

  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Seq(
      ("d01_dedup_exact", dedupExact _, Some(dedupExactSql)),
      ("d02_dedup_minhash_lsh", dedupMinhashLsh _, None),
      ("d03_dedup_simhash", dedupSimhash _, None),
      ("d04_dedup_ngram_jaccard", dedupNgramJaccard _,
        Some(dedupNgramJaccardSql)),
      ("d05_dedup_embedding_cosine", dedupEmbeddingCosine _,
        Some(dedupEmbeddingCosineSql)),
      ("d06_dedup_clusters", dedupClusters _, None),
      ("d07_cluster_chain", clusterChain _, Some(clusterChainSql)),
      ("d08_paragraph_dedup", paragraphDedup _, Some(paragraphDedupSql)),
      ("d09_semantic_dedup", semanticDedup _, Some(semanticDedupSql)),
      ("d10_incremental_dedup", incrementalDedup _,
        Some(incrementalDedupSql)),
      ("d11_golden_records", goldenRecords _, Some(goldenRecordsSql)),
      ("d12_substring_dedup", substringDedup _, Some(substringDedupSql)),
      ("d13_containment_dedup", containmentDedup _,
        Some(containmentDedupSql)),
      ("d14_url_dedup", urlDedup _, Some(urlDedupSql)),
      ("d15_cross_source_mirrors", crossSourceMirrors _,
        Some(crossSourceMirrorsSql)),
      ("d16_semantic_calibration", semanticCalibration _,
        Some(semanticCalibrationSql)),
    )
}
