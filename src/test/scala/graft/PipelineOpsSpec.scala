package graft

import graft.queries.{Dedup, Graph, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.DataFrame

/** Semantics tests for the LLM-pipeline operators: planted-duplicate
  * recall for the dedup family, LSH-vs-brute-force recall for ANN,
  * exact invariants for text analysis and the multimodal plumbing. */
class PipelineOpsSpec extends SparkSpec {

  private val Plant = 1000000L
  /** The superstep cap; "0" pins clusterPairs to its distributed loop. */
  private val Cap = "spark.graft.superstep.broadcastRows"

  test("dedup_exact: planted exact copies collapse; keep_id is original") {
    val rows = Dedup.dedupExact(spark, sfDir).collect()
    val dups = rows.filter(_.getLong(2) > 1)
    assert(dups.nonEmpty)
    // every planted dup group kept the original (small) id
    assert(dups.forall(_.getLong(1) < 2 * Plant))
    assert(dups.forall(_.getLong(2) == 2))
  }

  test("dedup_minhash_lsh: recovers most planted near-dup pairs") {
    val pairs = Dedup.dedupMinhashLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val nPlanted = spark.read
      .parquet(s"$sfDir/documents.parquet")
      .filter(org.apache.spark.sql.functions.col("doc_id") % 10 === 0)
      .count()
    val recovered = pairs.count { case (a, b) => b == a + Plant }
    assert(recovered >= 0.8 * nPlanted,
      s"recovered $recovered of $nPlanted planted pairs")
    // est_jaccard is a real similarity: planted pairs score high
  }

  test("dedup_simhash: planted pairs within hamming threshold") {
    val pairs = Dedup.dedupSimhash(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val nPlanted = spark.read
      .parquet(s"$sfDir/documents.parquet")
      .filter(org.apache.spark.sql.functions.col("doc_id") % 10 === 0)
      .count()
    val recovered = pairs.count { case (a, b) => b == a + Plant }
    assert(recovered >= 0.7 * nPlanted,
      s"recovered $recovered of $nPlanted planted pairs")
  }

  test("dedup_ngram_jaccard: exact verifier scores planted pairs high") {
    assert(Dedup.ngramJaccard("abcdef", "abcdef") == 1.0)
    assert(Dedup.ngramJaccard("abcdef", "uvwxyz") == 0.0)
    val rows = Dedup.dedupNgramJaccard(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getDouble(2) > 0.5),
      "dropping two words should keep char-3-gram jaccard high")
  }

  test("dedup_embedding_cosine: perturbed copies found via LSH buckets") {
    val pairs = Dedup.dedupEmbeddingCosine(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    // all reported pairs are the planted ones at sf0.001 (random 64-dim
    // vectors essentially never reach cos >= 0.99)
    assert(pairs.forall { case (a, b) => b == a + Plant })
  }

  test("dedup_clusters: label propagation forms transitive components") {
    import spark.implicits._
    // a 6-node path (needs > 3 propagation rounds to converge) plus an
    // isolated pair: fixpoint iteration must fully absorb the chain
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L)).toDF("a", "b")
    val got = Dedup.clusterPairs(pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    (1L to 6L).foreach { id =>
      assert(got(id) == (1L, id == 1L), s"doc $id -> ${got(id)}")
    }
    assert(got(10L) == (10L, true) && got(11L) == (10L, false))

    // end-to-end on the planted corpus: every cluster keeps exactly one
    val clusters = Dedup.dedupClusters(spark, sfDir).collect()
    val byCluster = clusters.groupBy(_.getLong(1))
    assert(byCluster.nonEmpty)
    byCluster.values.foreach { members =>
      assert(members.count(_.getBoolean(2)) == 1)
    }
  }

  /** SQL executions `body` starts, and its result. */
  private def sqlExecutions[A](body: => A): (Int, A) = {
    val execs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          execs.incrementAndGet(); ()
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      Thread.sleep(500) // listener bus drain
      (execs.get(), out)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("dedup_clusters: one action per propagation round (convergence " +
    "rides the checkpoint job as an observe metric)") {
    import spark.implicits._
    // 6-node path: star-contraction needs ~4 rounds (vs 6 for plain
    // 1-hop label propagation)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("a", "b").persist()
    pairs.count() // warm the input so only clusterPairs' actions count
    try {
      // cap 0 pins the distributed loop (the default cap would contract
      // this graph on the driver in zero rounds)
      val (n, _) = sqlExecutions {
        GraftSession.withConf(spark, Cap -> "0") { Dedup.clusterPairs(pairs) }
      }
      // initial edge checkpoint + <=5 rounds; the r1 version paid an
      // extra isEmpty action per round (>= 13 executions here)
      assert(n <= 6, s"expected <=6 eager actions in clusterPairs, saw $n")
    } finally { pairs.unpersist(); () }
  }

  test("dedup_clusters: under the superstep cap the edges are contracted " +
    "on the driver in two actions and zero rounds") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("a", "b").persist()
    pairs.count()
    try {
      val (n, (labels, rounds)) =
        sqlExecutions { Dedup.clusterPairsCounted(pairs) }
      assert(rounds == 0, s"expected the driver path, ran $rounds rounds")
      // the edge checkpoint and the collect
      assert(n <= 2, s"expected <=2 eager actions in clusterPairs, saw $n")
      assert(labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
        (1L to 6L).map(_ -> 1L).toMap)
    } finally { pairs.unpersist(); () }
  }

  test("dedup_clusters: large-star/small-star converges in O(log n) " +
    "rounds on a long chain (not linear-in-diameter)") {
    import spark.implicits._
    // 65-node path: plain min-label propagation needs 64+1 rounds —
    // far past the maxRounds=20 cap; star contraction must finish in
    // a handful and still produce the exact component
    val pairs = (1L until 65L).map(i => (i, i + 1)).toDF("a", "b")
    val (labels, rounds) = GraftSession.withConf(spark, Cap -> "0") {
      Dedup.clusterPairsCounted(pairs)
    }
    assert(rounds <= 10, s"expected <=10 rounds on a 64-hop chain, " +
      s"took $rounds")
    val got = labels.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got.size == 65)
    (1L to 65L).foreach { id =>
      assert(got(id) == (1L, id == 1L), s"doc $id -> ${got(id)}")
    }
  }

  test("dedup_clusters: a high-degree hub (worst-case skew key) " +
    "converges in few rounds with exact labels") {
    import spark.implicits._
    // star graph: hub 1 with 50k leaves, PLUS a chain glued to a leaf
    // so the hub is not already the closed form. At 100 TB this is the
    // mega-cluster shape; it is safe here because both star steps are
    // min-aggregations (map-side partial agg absorbs the hot key) and
    // the per-node min join is AQE-skew-splittable — nothing buffers
    // the full neighborhood of one node on one task.
    val hub = (2L to 50001L).map(i => (1L, i))
    val tail = (50001L until 50006L).map(i => (i, i + 1))
    val pairs = (hub ++ tail).toDF("a", "b").repartition(8)
    val (labels, rounds) = GraftSession.withConf(spark, Cap -> "0") {
      Dedup.clusterPairsCounted(pairs)
    }
    assert(rounds <= 6, s"hub graph should contract almost immediately, " +
      s"took $rounds rounds")
    val got = labels.collect()
    assert(got.length == 50006)
    assert(got.forall(_.getLong(1) == 1L),
      "every node must label to the hub-cluster minimum")
    assert(got.count(_.getBoolean(2)) == 1)
  }

  /** Rows of `df` as a sorted multiset, and its schema. */
  private def result(df: DataFrame) =
    (df.collect().map(_.toString).sorted.toSeq, df.schema)

  /** [[Dedup.clusterPairsCounted]]'s result and round count with the
    * cap set to `cap` for the call. */
  private def clustered(pairs: DataFrame, cap: String) =
    GraftSession.withConf(spark, Cap -> cap) {
      val (df, rounds) = Dedup.clusterPairsCounted(pairs)
      (result(df), rounds)
    }

  /** Clusters `pairs` under `driverCap` (default: the default 2M) and
    * `loopCap` (default 0, the distributed loop); asserts the same rows
    * and the same schema, and returns the two round counts. */
  private def samePaths(pairs: DataFrame, driverCap: String = "2000000",
                        loopCap: String = "0"): (Int, Int) = {
    val (driver, driverRounds) = clustered(pairs, driverCap)
    val (loop, loopRounds) = clustered(pairs, loopCap)
    assert(driver._2 == loop._2, s"schema ${driver._2} != ${loop._2}")
    assert(driver._1 == loop._1, "driver and loop clusterings differ")
    (driverRounds, loopRounds)
  }

  test("dedup_clusters: the driver path and the distributed loop give " +
    "the same rows and schema on chains, hubs and a random multigraph") {
    import spark.implicits._
    val chain = (1L until 65L).map(i => (i, i + 1)).toDF("a", "b")
    val hub = ((2L to 50001L).map(i => (1L, i)) ++
      (50001L until 50006L).map(i => (i, i + 1))).toDF("a", "b")
    // duplicate edges, both directions, self-loops, ids near ±2^62
    val rng = new scala.util.Random(20261017L)
    val ids = (0 until 300).map {
      case i if i % 3 == 0 => (1L << 62) - i
      case i if i % 3 == 1 => -(1L << 62) + i
      case i => i.toLong
    }
    val base = Seq.fill(400)((ids(rng.nextInt(ids.size)),
      ids(rng.nextInt(ids.size))))
    val random = (base ++ base.take(50) ++ base.slice(50, 100).map(_.swap) ++
      ids.take(20).map(i => (i, i))).toDF("a", "b").repartition(5)
    Seq(chain, hub, random).foreach { pairs =>
      val (driverRounds, loopRounds) = samePaths(pairs)
      assert(driverRounds == 0 && loopRounds >= 1,
        s"rounds: driver $driverRounds, loop $loopRounds")
    }
  }

  test("dedup_clusters: an empty input and an all-self-loop input give " +
    "no rows on either path") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    val loops = Seq((1L, 1L), (2L, 2L), (2L, 2L)).toDF("a", "b")
    Seq(empty, loops).foreach { pairs =>
      assert(samePaths(pairs) == ((0, 0)))
      assert(Dedup.clusterPairs(pairs).isEmpty)
    }
  }

  test("dedup_clusters: the cap is inclusive — at the edge count the " +
    "driver path runs, one below it the loop runs") {
    import spark.implicits._
    // 5 canonical edges once the reversed duplicate is dropped
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (2L, 1L)).toDF("a", "b")
    val (atCap, belowCap) = samePaths(pairs, driverCap = "5", loopCap = "4")
    assert(atCap == 0, s"cap == edge count: expected 0 rounds, ran $atCap")
    assert(belowCap >= 1, s"cap == edge count - 1: expected the loop, " +
      s"ran $belowCap rounds")
  }

  test("dedup_clusters: gr02, d06, d07 and d11 are unchanged when the " +
    "clustering is pinned to the distributed loop") {
    val queries: Seq[(String, () => DataFrame)] = Seq(
      "gr02_components" -> (() => Graph.components(spark, sfDir)),
      "d06_dedup_clusters" -> (() => Dedup.dedupClusters(spark, sfDir)),
      "d07_cluster_chain" -> (() => Dedup.clusterChain(spark, sfDir)),
      "d11_golden_records" -> (() => Dedup.goldenRecords(spark, sfDir)))
    queries.foreach { case (name, q) =>
      val driver = result(q())
      val loop = GraftSession.withConf(spark, Cap -> "0") { result(q()) }
      assert(driver._1.nonEmpty, s"$name: empty result")
      assert(driver == loop, s"$name: driver and loop paths differ")
    }
  }

  test("ann_ivf: k-means inverted lists recover a meaningful share of " +
    "the exact top-k, deterministically") {
    val bf = Similarity.annBruteForce(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = sortedRows(Similarity.annIvf(spark, sfDir))
      .map(r => (r.getLong(0), r.getLong(1)))
    // k-bounded per query
    assert(ivf.groupBy(_._1).values.forall(_.length <= 5))
    val recall = ivf.toSet.intersect(bf).size.toDouble / bf.size
    assert(recall >= 0.3, s"IVF recall $recall below bound")
    // deterministic: seeded sample + hash-stable init
    val again = sortedRows(Similarity.annIvf(spark, sfDir))
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(ivf.sameElements(again))
  }

  test("ann_brute_force: 5 neighbors per query, deterministic") {
    val rows = Similarity.annBruteForce(spark, sfDir).collect()
    val byQuery = rows.groupBy(_.getLong(0))
    assert(byQuery.size == 8)
    assert(byQuery.values.forall(_.length == 5))
    assert(byQuery.values.forall(_.map(_.getLong(2)).sorted
      .sameElements(Array(1L, 2L, 3L, 4L, 5L))))
  }

  test("ann_lsh_bucketed: decent recall vs brute force") {
    val exact = Similarity.annBruteForce(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.annLshBucketed(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    // random embeddings are the LSH worst case (no cluster structure);
    // 6 tables x 5 bits lands ~0.4-0.6 here, far higher on real data
    assert(recall >= 0.3, s"recall@5 = $recall")
  }

  test("text analysis: token counts and quality are consistent") {
    val tc = TextAnalysis.tokenCount(spark, sfDir).collect()
    assert(tc.forall(r => r.getLong(1) > 0 && r.getLong(2) > 0))
    val qs = TextAnalysis.qualityScore(spark, sfDir).collect()
    qs.foreach { r =>
      val (n, stop, uniq) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(stop <= n && uniq <= n && uniq > 0)
      assert(r.getDouble(4) >= 0 && r.getDouble(4) <= 1)
    }
  }

  test("lang_id: scores are counts, predicted is a known label") {
    val rows = TextAnalysis.langId(spark, sfDir).collect()
    val langs = Set("en", "de", "fr", "es", "zh", "und")
    assert(rows.forall(r => langs.contains(r.getString(7))))
  }

  test("fingerprint: order/repetition-insensitive dedup key") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((1L, "b a c"), (2L, "a b c"), (3L, "c b a a"),
      (4L, "a b d")).toDF("doc_id", "text")
    val fps = df.select(md5(array_join(array_sort(array_distinct(
      split(col("text"), " "))), " "))).collect().map(_.getString(0))
    assert(fps(0) == fps(1) && fps(1) == fps(2) && fps(0) != fps(3))
  }

  test("normalize: case-fold, punctuation strip, whitespace collapse") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("norm").toString
    Seq((1L, "Hello,  World! 42"), (2L, "a   b"), (3L, "X--Y"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextAnalysis.normalize(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "hello world 42")
    assert(got(2L) == "a b")
    assert(got(3L) == "xy")
  }

  test("repetition: expression-only max-token-frequency equals the " +
    "explode+groupBy formulation") {
    import spark.implicits._
    val docs = Seq((1L, "a a a b c"), (2L, "x y z"), (3L, "w w W w"),
      (4L, "solo")).toDF("doc_id", "text")
    docs.createOrReplaceTempView("rep_docs")
    // the shuffle-heavy formulation the operator replaces
    val expected = spark.sql("""
      SELECT doc_id, max(c) AS max_freq FROM (
        SELECT doc_id, t, count(*) AS c
        FROM (SELECT doc_id, explode(split(lower(text), ' ')) AS t
              FROM rep_docs)
        GROUP BY doc_id, t)
      GROUP BY doc_id""").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tmp = java.nio.file.Files.createTempDirectory("rep").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val op = TextAnalysis.repetition(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(op == expected)
    assert(op(1L) == 3 && op(2L) == 1 && op(3L) == 4 && op(4L) == 1)
  }

  test("multimodal: WAV codec round-trips bytes through a real RIFF " +
    "parse") {
    val payload = "Hello WAV".getBytes("US-ASCII")
    val wav = Multimodal.synthWav(payload, sampleRate = 16000)
    val decoded = Multimodal.decodeWav(wav)
    assert(decoded.sampleRate == 16000)
    assert(decoded.channels == 1 && decoded.bitsPerSample == 16)
    assert(decoded.samples.toSeq ==
      payload.toSeq.map(b => (((b & 0xff) - 128) * 256).toShort))
    // the decoder is a real chunk walker: an extra chunk before data
    // (as real encoders emit, e.g. LIST/INFO) is skipped, odd length
    // padded
    val bb = java.nio.ByteBuffer
      .allocate(wav.length + 8 + 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(wav, 0, 36) // RIFF..fmt chunk
    bb.put("JUNK".getBytes("US-ASCII")).putInt(3)
      .put(Array[Byte](1, 2, 3, 0)) // odd-length chunk + pad byte
    bb.put(wav, 36, wav.length - 36) // data chunk
    val withJunk = bb.array()
    assert(Multimodal.decodeWav(withJunk).samples.toSeq ==
      decoded.samples.toSeq)
  }

  test("multimodal: PPM codec round-trips pixels through a real P6 " +
    "parse, including comments and multi-row images") {
    val payload = "Hi PPM!".getBytes("US-ASCII")
    val img = Multimodal.decodePpm(Multimodal.synthPpm(payload))
    assert(img.width == payload.length && img.height == 1 &&
      img.maxVal == 255)
    payload.zipWithIndex.foreach { case (b, i) =>
      assert((img.pixels(3 * i) & 0xff) == (b & 0xff))
      assert((img.pixels(3 * i + 1) & 0xff) == 255 - (b & 0xff))
      assert((img.pixels(3 * i + 2) & 0xff) == (b & 0xff) * 7 % 256)
    }
    // a real parser handles comments, extra whitespace, and w*h rasters
    val raster = Array.tabulate[Byte](2 * 3 * 3)(i => (i * 11).toByte)
    val exotic = ("P6 # a comment\n# another\n 3\t2 \n255\n"
      .getBytes("US-ASCII")) ++ raster
    val multi = Multimodal.decodePpm(exotic)
    assert(multi.width == 3 && multi.height == 2)
    assert(multi.pixels.toSeq == raster.toSeq)
  }

  test("multimodal: nearest-neighbor half-width resize keeps even " +
    "source columns, odd widths round up, rows independent") {
    // 5x2 image, pixel (x,y) has R = 10*y + x (G/B mirror R)
    val px = (for { y <- 0 until 2; x <- 0 until 5; _ <- 0 until 3 }
      yield (10 * y + x).toByte).toArray
    val img = Multimodal.PpmImage(5, 2, 255, px)
    val half = Multimodal.resizeHalf(img)
    assert(half.width == 3 && half.height == 2)
    val r = (0 until half.width * half.height)
      .map(i => half.pixels(3 * i) & 0xff)
    assert(r == Seq(0, 2, 4, 10, 12, 14)) // even columns per row
  }

  test("embedding_clusters: codegen'd argmax assignment == UDF " +
    "reference on every corpus vector") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cents = Similarity.ivfCentroids(emb, 16, 2, seed = 9000)
    val byUdf = emb.collect().map { r =>
      r.getLong(0) ->
        Similarity.nearestCentroid(r.getSeq[Float](1), cents)
    }.toMap
    val byExpr = Similarity.embeddingClustersAssignments(emb, cents)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(byExpr == byUdf)
  }

  test("embedding_clusters: clusters partition the corpus, ids in " +
    "[0, k), assignment deterministic across runs") {
    val rows = sortedRows(Similarity.embeddingClusters(spark, sfDir))
    val n = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    assert(rows.map(_.getLong(1)).sum == n)
    assert(rows.forall(r => r.getInt(0) >= 0 && r.getInt(0) < 16))
    assert(rows.length > 1, "degenerate single-cluster solution")
    val again = sortedRows(Similarity.embeddingClusters(spark, sfDir))
    assert(rows.map(_.toString).sameElements(again.map(_.toString)))
  }

  test("heavy_hitters: CMS never underestimates, estimates are tight " +
    "at this vocab size, sketch is fixed 4x1024 cells") {
    val rows = graft.queries.Sketches.heavyHitters(spark, sfDir).collect()
    assert(rows.length == 30)
    rows.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1), s"CMS underestimated: $r")
      // d=4 rows over w=1024 buckets with a ~50-word vocab: at least
      // one collision-free row per token keeps the min exact-ish
      assert(r.getLong(2) <= r.getLong(1) * 2, s"estimate off 2x: $r")
    }
    // ranked by true count descending, deterministic tie-break
    assert(rows.sliding(2).forall {
      case Array(a, b) => a.getLong(1) > b.getLong(1) ||
        (a.getLong(1) == b.getLong(1) &&
          a.getString(0) < b.getString(0))
      case _ => true
    })
  }

  test("paragraph_dedup: first occurrence wins globally; fully-" +
    "duplicated docs vanish; doc order preserved in reassembly") {
    import org.apache.spark.sql.functions._
    val rows = Dedup.paragraphDedup(spark, sfDir).collect()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    assert(rows.length < docs.length,
      "no doc fully vanished — planted duplicates not collapsing")
    // the minimum doc_id can lose paragraphs only to itself: expected
    // reassembly = its paragraphs with intra-doc later repeats removed
    val (minId, minText) = docs.head
    val paras = minText.split(" ").grouped(8).map(_.mkString(" ")).toSeq
    val expected = paras.foldLeft(Vector.empty[String]) {
      case (acc, p) => if (acc.contains(p)) acc else acc :+ p
    }
    val got = rows.find(_.getLong(0) == minId).get
    assert(got.getLong(1) == expected.length, got.toString)
    assert(got.getString(2) == expected.mkString(" "))
  }

  test("tfidf: 3 ranked terms per doc, score is the exact rational " +
    "(tf * N * 1000) div df, ranks deterministic") {
    val rows = TextAnalysis.tfidf(spark, sfDir).collect()
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    val byDoc = rows.groupBy(_.getLong(0))
    assert(byDoc.forall { case (_, rs) =>
      rs.map(_.getInt(1)).sorted.toSeq == (1 to rs.length) &&
        rs.length <= 3
    })
    rows.foreach { r =>
      val (tf, df, score) = (r.getLong(3), r.getLong(4), r.getLong(5))
      assert(score == tf * nDocs * 1000 / df, r.toString)
    }
    // within a doc, rank order follows (score desc, token asc)
    byDoc.values.foreach { rs =>
      val sorted = rs.sortBy(_.getInt(1))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          val (sa, sb) = (a.getLong(5), b.getLong(5))
          assert(sa > sb || (sa == sb &&
            a.getString(2) < b.getString(2)), s"$a !>= $b")
        case _ =>
      }
    }
  }

  test("curation pipeline: every survivor passes every gate; planted " +
    "duplicates never survive") {
    val rows = graft.queries.Curation.curationPipeline(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nTok, nUniq, en) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nTok >= 12 && nUniq * 2 >= nTok && en >= 1, r.toString)
    }
    // exact-dup copies are planted at doc_id + 1e6 with min-id
    // survivorship — no copy may outlive its original
    assert(rows.forall(_.getLong(0) < Plant),
      "a planted duplicate survived dedup")
    // the pipeline genuinely filters: survivors are a strict subset
    val total = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(rows.length < total)
  }

  test("multimodal: media plumbing carries binary + metadata, real " +
    "decode features") {
    val meta = Multimodal.mediaMeta(spark, sfDir).collect()
    assert(meta.forall(_.getLong(2) > 0))
    val feats = sortedRows(Multimodal.mediaFeatures(spark, sfDir))
    assert(feats.length == meta.length)
    // exact feature arithmetic: n_bytes = 44-byte header + 2/sample;
    // ASCII<128 sources make every sample negative, so 0 < max <= 2^15
    assert(feats.forall { r =>
      r.getLong(2) == 44 + 2 * r.getLong(4) &&
        r.getLong(3) == 8000 &&
        r.getLong(6) > 0 && r.getLong(6) <= 32768 &&
        r.getLong(5) >= r.getLong(6)
    })
    // deterministic: same run twice is identical
    val again = sortedRows(Multimodal.mediaFeatures(spark, sfDir))
    assert(feats.map(_.toString).sameElements(again.map(_.toString)))
  }
}
