package geckobench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.mut.MutateDataFrame
import graft.mut.Mutators._
import graft.queries.{Dedup, Similarity, TextAnalysis}

/** corpus_curation — the LLM-data pipeline over a staged text corpus and
  * its embeddings: MinHash-LSH and containment dedup, brute-force and
  * IVF nearest neighbours, TF-IDF, BM25 top-k, compression quality and
  * the quality gate. Time is in the `graft.expr` kernels and text-heavy
  * shuffles. No generator runs in the timed part and mutators run only
  * while staging, so a mutator change should move `setup_s` here and
  * leave `job_s` alone. */
object CorpusCuration extends Workload {
  /** Base corpus, in the shape of the engine's test tables. */
  val BaseDocs = 80
  val BaseVecs = 100
  val Dim = 64
  /** Copy 0 is the base corpus verbatim; copies 1.. carry seeded
    * near-duplicate edits (delete, substitute, insert). */
  val Copies = 5
  /** Id shift per copy, far above every base id. */
  val Stride = 10000000L
  /** Kernel probes read the staged documents repeated this many times
    * (the vectors four times as often), so each probe lasts long enough
    * to time. */
  private val ProbeRepeat = 100L

  private val Vocab = Seq("a", "the", "key", "agg", "row", "scan", "slow",
    "fast", "table", "value", "part", "hash", "merge", "batch", "spark",
    "line", "sort", "window", "data", "column", "order", "join", "small",
    "big", "query", "customer", "group", "filter", "stream", "vector")
  private val Langs = Seq("en" -> 44, "zh" -> 15, "de" -> 14, "fr" -> 13,
    "es" -> 14)

  /** A uniform [0, 1) draw from the seed and the given key columns —
    * independent of partitioning, so staging is reproducible. */
  private def u(seed: Long, keys: Column*): Column =
    pmod(xxhash64((lit(seed) +: keys): _*), lit(1L << 30)).cast("double") /
      (1L << 30).toDouble

  private def baseDocuments(spark: SparkSession, seed: Long): DataFrame = {
    val id = col("id")
    val nWords = (lit(20) + floor(u(seed, id, lit(-1)) * 80)).cast("int")
    val words = transform(sequence(lit(1), nWords), k =>
      element_at(typedLit(Vocab),
        (floor(u(seed, id, k) * Vocab.size) + 1).cast("int")))
    // language by cumulative weight: en below 44, zh below 59, ...
    val pick = u(seed, id, lit(-2)) * 100
    val langCol = Langs.scanLeft(("", 0)) { case ((_, acc), (l, w)) =>
      (l, acc + w) }.tail.foldRight(lit(Langs.last._1): Column) {
      case ((l, upTo), rest) => when(pick < upTo, lit(l)).otherwise(rest)
    }
    spark.range(BaseDocs).select(
      id.as("doc_id"),
      concat_ws(" ", words).as("text"),
      langCol.as("lang"),
      concat(lit("src"), (id % 20).cast("string")).as("source"))
  }

  private def baseEmbeddings(spark: SparkSession, seed: Long): DataFrame = {
    val id = col("id")
    val label = floor(u(seed, id, lit(-3)) * 10).cast("int")
    // ten label centroids plus per-vector noise
    val vec = transform(sequence(lit(0), lit(Dim - 1)), j =>
      ((u(seed, lit(-4L), label, j) - 0.5) +
        (u(seed, id, j) - 0.5) * 0.6).cast("float"))
    spark.range(BaseVecs).select(id.as("vec_id"), vec.as("embedding"),
      label.as("label"))
  }

  @volatile private var dir: String = ""

  def stage(spark: SparkSession, seed: Long, out: java.io.File): Unit = {
    val docs = baseDocuments(spark, seed)
    val copies = (0 until Copies).map { c =>
      val shifted = docs.withColumn("doc_id", col("doc_id") + c * Stride)
      val text =
        if (c == 0) shifted
        else {
          val s = seed * 100 + 10 * c
          MutateDataFrame(shifted, Seq(Seq("text") -> Seq(
            0.05 -> WithDelete(seed = s + 1),
            0.05 -> WithSubstitute(seed = s + 2),
            0.05 -> WithInsert(seed = s + 3))), ridCol = "doc_id")
        }
      text.withColumn("n_chars", length(col("text")).cast("long"))
    }
    copies.reduce(_.unionAll(_)).repartition(4).write.mode("overwrite")
      .parquet(new java.io.File(out, "documents.parquet").getPath)
    val emb = baseEmbeddings(spark, seed)
    (0 until Copies).map(c =>
      emb.withColumn("vec_id", col("vec_id") + c * Stride))
      .reduce(_.unionAll(_)).repartition(4).write.mode("overwrite")
      .parquet(new java.io.File(out, "embeddings.parquet").getPath)
    dir = out.getAbsolutePath
  }

  private val Calls: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "dedup.minhash_lsh" -> Dedup.dedupMinhashLsh,
    "dedup.containment" -> Dedup.containmentDedup,
    "sim.ann_brute_force" -> Similarity.annBruteForce,
    "sim.ann_ivf" -> Similarity.annIvf,
    "text.tfidf" -> TextAnalysis.tfidf,
    "text.bm25_topk" -> TextAnalysis.bm25TopK,
    "text.compression_quality" -> TextAnalysis.compressionQuality,
    "text.quality_gate" -> TextAnalysis.qualityGate)

  /** Each call's result is materialized by computing its fingerprint;
    * every dedup, ANN and text result must then equal the untimed first
    * iteration's, which ran at another partition count. */
  def iteration(ctx: Ctx): Map[String, Any] =
    Calls.map { case (name, fn) =>
      name -> ctx.call(name) {
        val fp = ctx.fingerprint(fn(ctx.spark, dir))
        ctx.require(fp._1 > 0, s"$name returned no rows")
        fp
      }
    }.toMap

  /** Each native kernel alone over the repeated staged corpus, selected
    * into the no-op sink. */
  override def probes(ctx: Ctx): Map[String, Double] = {
    import graft.expr._
    val spark = ctx.spark
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .crossJoin(spark.range(ProbeRepeat).withColumnRenamed("id", "rep"))
      .repartition(ctx.cores).persist()
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .crossJoin(spark.range(ProbeRepeat * 4).withColumnRenamed("id", "rep"))
      .repartition(ctx.cores).persist()
    val nDocs = docs.count().toDouble
    val nVecs = vecs.count().toDouble
    val rnd = new scala.util.Random(ctx.seed)
    val codebooks = Array.fill(8, 16, Dim / 8)(rnd.nextFloat() - 0.5f)
    val text = col("text")
    val emb = col("embedding")
    val kernels: Seq[(String, DataFrame, Double)] = Seq(
      ("minhash_signature", docs.select(MinHashSignature.minhashSignature(text)), nDocs),
      ("ngram_hashes", docs.select(NgramHashes.ngramHashes(text, 3)), nDocs),
      ("simhash64", docs.select(SimHash64.simhash64(text)), nDocs),
      ("deflate_length", docs.select(DeflateLength.deflateLength(text)), nDocs),
      ("kmv_sketch", docs.groupBy(col("rep") % 64)
        .agg(KmvSketchAgg.kmvSketch(xxhash64(text), 256)), nDocs),
      ("gk_sketch", docs.groupBy(col("rep") % 64)
        .agg(GkSketchAgg.gkSketch(col("n_chars").cast("double"), 1000)), nDocs),
      ("cosine_similarity", vecs.select(
        CosineSimilarity.cosineSimilarity(emb, emb)), nVecs),
      ("hyperplane_buckets", vecs.select(
        HyperplaneBuckets.hyperplaneBuckets(emb, 8, 8, Dim, ctx.seed)), nVecs),
      ("pq_encode", vecs.select(PqEncode.pqEncode(emb, codebooks)), nVecs))
    val rows = kernels.map { case (k, df, n) =>
      ctx.span(s"probe.expr.$k")(ctx.noopWrite(df))
      s"probe.expr.$k" -> n
    }.toMap
    docs.unpersist()
    vecs.unpersist()
    rows
  }
}
