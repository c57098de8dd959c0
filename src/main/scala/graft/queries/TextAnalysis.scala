package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Artifacts

/** Text-analysis operators for training-data pipelines (Layer B
  * north-star; absent in the reference): token counting, quality
  * scoring, language-ID scoring, document fingerprinting. All are pure
  * codegen'd column expressions — no UDFs, no shuffles beyond the final
  * ordering — so they run at scan speed on 100 TB. */
object TextAnalysis {

  private def tokens(c: Column): Column = split(c, " ")

  // --------------------------------------------------- token count
  /** Whitespace tokens plus a BPE-ish subword estimate: ceil(chars/4)
    * is the usual quick proxy; both are exact integer outputs. */
  def tokenCount(s: SparkSession, dir: String): DataFrame =
    Relational.table(s, dir, "documents")
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars"),
        ceil(length(col("text")).cast("double") / 4).cast("long")
          .as("n_subwords_est"))

  val tokenCountSql: String = """
    SELECT doc_id,
      len(string_split(text, ' ')) AS n_tokens,
      length(text) AS n_chars,
      CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_subwords_est
    FROM documents
    ORDER BY doc_id"""

  // -------------------------------------------------- quality score
  private val Stopwords = Seq("the", "a", "of", "and", "to", "in")

  /** Length/stopword/diversity quality signals. Ratios are exact
    * integer divisions surfaced as double (bit-identical across
    * engines). */
  def qualityScore(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val nTokens = size(toks).cast("long")
    val nStop = size(filter(toks,
      t => Stopwords.map(w => t === w).reduce(_ || _))).cast("long")
    val nUnique = size(array_distinct(toks)).cast("long")
    val totalLen = aggregate(transform(toks, t => length(t)), lit(0),
      (acc, x) => acc + x).cast("long")
    Relational.table(s, dir, "documents")
      .select(col("doc_id"), nTokens.as("n_tokens"), nStop.as("n_stop"),
        nUnique.as("n_unique"),
        (nStop.cast("double") / nTokens).as("stop_ratio"),
        (nUnique.cast("double") / nTokens).as("unique_ratio"),
        (totalLen.cast("double") / nTokens).as("mean_token_len"))
  }

  val qualityScoreSql: String = s"""
    SELECT doc_id, n_tokens, n_stop, n_unique,
      CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
      CAST(n_unique AS DOUBLE) / n_tokens AS unique_ratio,
      CAST(total_len AS DOUBLE) / n_tokens AS mean_token_len
    FROM (
      SELECT doc_id,
        len(string_split(text, ' ')) AS n_tokens,
        len(list_filter(string_split(text, ' '),
          t -> t IN (${Stopwords.map(w =>
            s"'${w.replace("'", "''")}'").mkString(",")})))
          AS n_stop,
        len(list_distinct(string_split(text, ' '))) AS n_unique,
        list_sum(list_transform(string_split(text, ' '), t -> length(t)))
          AS total_len
      FROM documents)
    ORDER BY doc_id"""

  // ------------------------------------------------------- lang id
  private[queries] val LangStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "de", "et", "est"),
    "es" -> Seq("el", "la", "de", "y", "es"),
    "zh" -> Seq("zh0", "zh1", "zh2", "zh3", "zh4"))

  /** Stopword-profile language scores per document (the classic
    * n-gram/stopword heuristic). Scores are exact integer counts; the
    * prediction is the argmax with first-profile tie-break. */
  def langId(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val scoreCols = LangStopwords.map { case (lang, words) =>
      size(filter(toks, t => words.map(w => t === w).reduce(_ || _)))
        .cast("long").as(s"score_$lang")
    }
    val scored = Relational.table(s, dir, "documents")
      .select((col("doc_id") +: col("lang").as("true_lang") +: scoreCols): _*)
    val predicted = LangStopwords.map(_._1).foldRight(lit("und")) {
      case (lang, other) =>
        val isMax = LangStopwords.map(_._1).filter(_ != lang)
          .map(o => col(s"score_$lang") >= col(s"score_$o")).reduce(_ && _)
        when(col(s"score_$lang") > 0 && isMax, lit(lang)).otherwise(other)
    }
    scored.withColumn("predicted", predicted)
  }

  /** DuckDB replica of [[langId]], generated from the same
    * [[LangStopwords]] profiles so the two can never drift: per-profile
    * stopword counts, then the same ordered argmax CASE chain. */
  val langIdSql: String = {
    val names = LangStopwords.map(_._1)
    val scoreDefs = LangStopwords.map { case (l, ws) =>
      // escape quotes: a future stopword like l'eau must not break the
      // generated SQL
      s"len(list_filter(string_split(text, ' '), t -> t IN " +
        s"(${ws.map(w => s"'${w.replace("'", "''")}'").mkString(",")})))" +
        s" AS score_$l"
    }.mkString(",\n        ")
    val cases = names.map { l =>
      val isMax = names.filter(_ != l)
        .map(o => s"score_$l >= score_$o").mkString(" AND ")
      s"WHEN score_$l > 0 AND $isMax THEN '$l'"
    }.mkString("\n        ")
    s"""
    SELECT doc_id, true_lang, ${names.map("score_" + _).mkString(", ")},
      CASE $cases ELSE 'und' END AS predicted
    FROM (
      SELECT doc_id, lang AS true_lang,
        $scoreDefs
      FROM documents)
    ORDER BY doc_id"""
  }

  // --------------------------------------------------- fingerprint
  /** Canonical fingerprint: md5 over the sorted distinct token set —
    * the standard "fingerprint dedup key" (token-order and repetition
    * insensitive). */
  def fingerprint(s: SparkSession, dir: String): DataFrame =
    Relational.table(s, dir, "documents")
      .select(col("doc_id"),
        md5(array_join(array_sort(array_distinct(tokens(col("text")))),
          " ")).as("fingerprint"),
        xxhash64(col("text")).as("content_hash"))

  // xxhash64 is Spark-only → fingerprint column alone is oracle-checked
  def fingerprintOracle(s: SparkSession, dir: String): DataFrame =
    fingerprint(s, dir).select(col("doc_id"), col("fingerprint"))

  val fingerprintSql: String = """
    SELECT doc_id,
      md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))),
        ' ')) AS fingerprint
    FROM documents
    ORDER BY doc_id"""

  // ----------------------------------------------- sequence packing
  private val PackShards = 32
  private val PackLimit = 2048L

  /** Greedy contiguous sequence packing for LLM training: assign each
    * document to a fixed-token-budget context chunk by running token
    * count. Packing runs independently inside each of 32 hash shards —
    * the window is PARTITION BY shard, so the sort/scan distributes;
    * a single global-order pack would funnel the whole corpus through
    * one partition at 100 TB. A chunk may overflow the budget by one
    * document (greedy fill, the standard packing compromise). */
  def sequencePack(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nTokens = size(tokens(col("text"))).cast("long")
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
    Relational.table(s, dir, "documents")
      .select(col("doc_id"), (col("doc_id") % PackShards).as("shard"),
        nTokens.as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        // 2^40 chunk namespace per shard: a shard would need ~2e15
        // tokens to overflow it — safe far past 100 TB of text
        (col("shard") * lit(1L << 40) +
          floor((col("cum") - col("n_tokens")) / lit(PackLimit.toDouble))
            .cast("long")).as("chunk_id"))
  }

  val sequencePackSql: String = s"""
    SELECT doc_id, shard, n_tokens,
      shard * ${1L << 40} +
        CAST(floor((cum - n_tokens) / $PackLimit.0) AS BIGINT)
        AS chunk_id
    FROM (
      SELECT doc_id, doc_id % $PackShards AS shard,
        len(string_split(text, ' ')) AS n_tokens,
        sum(len(string_split(text, ' '))) OVER (
          PARTITION BY doc_id % $PackShards ORDER BY doc_id) AS cum
      FROM documents)
    ORDER BY doc_id"""

  // ---------------------------------------------- text normalization
  /** Canonical cleaning pass every corpus pipeline runs before dedup:
    * case-fold, strip non-alphanumerics, collapse whitespace. Emits
    * the normalized text plus its md5 dedup key. Pure codegen'd
    * expressions — scan speed at 100 TB. */
  def normalize(s: SparkSession, dir: String): DataFrame = {
    val norm = trim(regexp_replace(regexp_replace(lower(col("text")),
      "[^a-z0-9 ]", ""), " +", " "))
    Relational.table(s, dir, "documents")
      .select(col("doc_id"), norm.as("norm_text"),
        md5(norm).as("norm_key"))
  }

  val normalizeSql: String = """
    SELECT doc_id, norm_text, md5(norm_text) AS norm_key
    FROM (
      SELECT doc_id,
        trim(regexp_replace(regexp_replace(lower(text),
          '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm_text
      FROM documents)
    ORDER BY doc_id"""

  // -------------------------------------------------- repetition score
  /** Gopher-style repetition signal: the highest single-token frequency
    * per document and its ratio of the token count. Computed with ZERO
    * shuffles as a pure expression — sort the token array and take the
    * longest equal-adjacent run via a struct-state aggregate — instead
    * of the explode + double-groupBy formulation whose shuffle is
    * O(total tokens) at 100 TB. */
  def repetition(s: SparkSession, dir: String): DataFrame = {
    val sorted = array_sort(tokens(lower(col("text"))))
    val nTokens = size(sorted).cast("long")
    // eq(i) = 1 iff sorted(i) == sorted(i+1); zip_with pads the
    // shorter shifted copy with null => 0
    val eqs = zip_with(sorted,
      slice(sorted, lit(2), greatest(size(sorted) - 1, lit(0))),
      (a, b) => when(b.isNotNull && a === b, 1).otherwise(0))
    val maxFreq = aggregate(eqs,
      struct(lit(1L).as("cur"), lit(1L).as("best")),
      (acc, x) => {
        val cur = when(x === 1, acc("cur") + 1).otherwise(lit(1L))
        struct(cur.as("cur"), greatest(acc("best"), cur).as("best"))
      },
      acc => acc("best"))
    Relational.table(s, dir, "documents")
      .select(col("doc_id"), nTokens.as("n_tokens"),
        maxFreq.as("max_freq"),
        (maxFreq.cast("double") / nTokens).as("max_token_ratio"))
  }

  val repetitionSql: String = """
    SELECT d.doc_id, len(string_split(lower(d.text), ' ')) AS n_tokens,
      f.max_freq,
      CAST(f.max_freq AS DOUBLE) /
        len(string_split(lower(d.text), ' ')) AS max_token_ratio
    FROM documents d
    JOIN (
      SELECT doc_id, max(c) AS max_freq
      FROM (
        SELECT doc_id, t, count(*) AS c
        FROM (
          SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
          FROM documents)
        GROUP BY doc_id, t)
      GROUP BY doc_id) f ON d.doc_id = f.doc_id
    ORDER BY d.doc_id"""

  // --------------------------------------------------- PII redaction
  /** Email / phone / IPv4 patterns shared by the Spark path (Java
    * regex) and the DuckDB oracle (RE2) — restricted to syntax both
    * engines interpret identically. */
  private[queries] val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private[queries] val PhoneRe = "\\b555-[0-9]{4}\\b"
  private[queries] val IpRe =
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** The corpus with deterministic PII planted from doc_id arithmetic
    * (the synthetic corpus carries none of its own): every 7th doc an
    * email, every 11th a phone, every 13th an IPv4. */
  private def piiPlanted(s: SparkSession, dir: String): DataFrame =
    piiPlant(Relational.table(s, dir, "documents"))

  /** Same planting on any (doc_id, text) frame — shared with the
    * composed curation pipeline ([[Curation]]). */
  private[queries] def piiPlant(df: DataFrame): DataFrame =
    df.select(col("doc_id"), concat(
      col("text"),
      when(pmod(col("doc_id"), lit(7)) === 0, concat(lit(" contact user"),
        col("doc_id"), lit("@example.com"))).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(11)) === 0, concat(lit(" call 555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(13)) === 0, concat(lit(" from 10."),
        pmod(col("doc_id"), lit(256)), lit("."),
        pmod(expr("doc_id div 7"), lit(256)), lit(".1"))).otherwise(lit("")))
      .as("text"))

  /** PII redaction — the scrub pass every training-data pipeline runs
    * before anything else sees the text. Pure codegen'd
    * regexp_count/regexp_replace chain (no UDFs): runs at scan speed,
    * trivially partition-parallel at 100 TB. Emails are redacted
    * before IPs so a dotted hostname can never be half-eaten by the
    * IPv4 rule. */
  def piiRedact(s: SparkSession, dir: String): DataFrame =
    redact(piiPlanted(s, dir))

  /** The stateless scrub transform alone, on any (doc_id, text) frame —
    * shared verbatim by the batch query above and Structured Streaming
    * pipelines (a pure select is streamable unchanged; see
    * StreamingSpec's composition test). */
  def redact(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
      regexp_count(col("text"), lit(EmailRe)).as("n_emails"),
      regexp_count(col("text"), lit(PhoneRe)).as("n_phones"),
      regexp_count(col("text"), lit(IpRe)).as("n_ips"),
      regexp_replace(
        regexp_replace(
          regexp_replace(col("text"), EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>"),
        IpRe, "<IP>").as("redacted"))

  /** DuckDB twin of [[piiPlant]] over any relation — kept as a
    * generator so t08 and the composed c01 pipeline can never drift. */
  private[queries] def piiPlantSql(src: String): String = s"""
      SELECT doc_id, text ||
        CASE WHEN doc_id % 7 = 0
          THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
        CASE WHEN doc_id % 11 = 0
          THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
          ELSE '' END ||
        CASE WHEN doc_id % 13 = 0
          THEN ' from 10.' || (doc_id % 256) || '.' ||
            ((doc_id // 7) % 256) || '.1' ELSE '' END AS text
      FROM $src"""

  /** DuckDB twin of [[redact]] over any (doc_id, text) relation. */
  private[queries] def redactSqlOver(src: String): String = s"""
    SELECT doc_id,
      CAST(len(regexp_extract_all(text, '$EmailRe')) AS INT) AS n_emails,
      CAST(len(regexp_extract_all(text, '$PhoneRe')) AS INT) AS n_phones,
      CAST(len(regexp_extract_all(text, '$IpRe')) AS INT) AS n_ips,
      regexp_replace(regexp_replace(regexp_replace(text,
        '$EmailRe', '<EMAIL>', 'g'),
        '$PhoneRe', '<PHONE>', 'g'),
        '$IpRe', '<IP>', 'g') AS redacted
    FROM $src"""

  val piiRedactSql: String = s"""
    WITH planted AS (${piiPlantSql("documents")})
    ${redactSqlOver("planted")}
    ORDER BY doc_id"""

  // ----------------------------------------- benchmark decontamination
  private val ContamGram = 13

  /** Synthetic benchmark corpus: 20 docs of 20 tokens from a vocabulary
    * disjoint from the documents table, so every n-gram match below is
    * a planted one — the decontamination analog of d07's closed-form
    * chain clusters. */
  private[graft] def benchmarkCorpus(s: SparkSession): DataFrame =
    s.range(20).select(col("id").as("bench_id"),
      array_join(transform(sequence(lit(0), lit(19)),
        j => concat(lit("bench"), col("id"), lit("w"), j)), " ")
        .as("btext"))

  /** Position n-gram hashes of the space-tokenized text (empty below
    * n tokens) — the native one-pass kernel; see
    * [[graft.expr.NgramHashes]] for why not transform+slice+concat. */
  private def gramHashes(text: Column): Column =
    graft.expr.NgramHashes.ngramHashes(text, ContamGram)

  /** Benchmark decontamination — flag training docs sharing any
    * 13-gram with an evaluation benchmark (the Dolma/RedPajama-style
    * leak check). Contamination is planted deterministically: every
    * 23rd non-benchmark doc gets the first 15 tokens of one benchmark
    * doc appended, which yields exactly 3 matching 13-grams.
    *
    * Scale shape: the benchmark gram set is tiny (8 grams × 20 docs)
    * and BROADCAST; corpus grams are generated at scan inside the
    * explode, so the only shuffle is the final aggregation over the
    * handful of matching rows. At 100 TB the cost is one corpus pass —
    * there is no corpus-side shuffle of all grams. */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val bench = benchmarkCorpus(s)
    val benchGrams = bench
      .select(explode(gramHashes(col("btext"))).as("gram"))
      .distinct()
    plantedDocs(s, dir)
      .select(col("doc_id"),
        explode(gramHashes(col("text"))).as("gram"))
      .join(broadcast(benchGrams), Seq("gram"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_bench_grams"))
  }

  /** The held-out documents with contamination planted — every 23rd
    * doc gets the first 15 tokens of one benchmark doc appended
    * (shared by t09 and t15, which must see the identical corpus). */
  private def plantedDocs(s: SparkSession, dir: String): DataFrame = {
    val bench = benchmarkCorpus(s)
    val docs = Relational.table(s, dir, "documents")
      .filter(pmod(col("doc_id"), lit(17)) =!= 0) // benchmark-held-out split
      .withColumn("bkey",
        when(pmod(col("doc_id"), lit(23)) === 0,
          pmod(expr("doc_id div 23"), lit(20))).otherwise(lit(-1L)))
    val spans = bench.select(col("bench_id").as("bkey"),
      array_join(slice(split(col("btext"), " "), 1, 15), " ").as("span"))
    docs.join(broadcast(spans), Seq("bkey"), "left")
      .select(col("doc_id"),
        when(col("span").isNotNull, concat_ws(" ", col("text"), col("span")))
          .otherwise(col("text")).as("text"))
  }

  /** t15 — decontamination through a Bloom-filter prefilter + exact
    * verify. t09 broadcasts the exact benchmark gram SET; that stops
    * working when the eval suite grows to billions of grams (a hash
    * set is ≥8 bytes/gram — past any broadcast threshold). The scale
    * path: (1) build a Bloom filter over the benchmark grams in one
    * distributed aggregate (~12 bits/gram at 1% fpp — 50-100× smaller
    * than the set, broadcastable long after the set is not);
    * (2) probe it map-side to drop ~99% of corpus grams before any
    * shuffle; (3) resolve the false positives with an exact join on
    * the tiny surviving candidate stream. The verify join receives
    * only candidates, so its shuffle is proportional to the TRUE match
    * count (+fpp leakage), not the corpus. Final result is EXACT —
    * same closed-form oracle as t09, so the driver proves the bloom
    * path loses nothing.
    *
    * The probe is Catalyst's own codegen'd
    * `BloomFilterMightContain` — the expression Spark's runtime-filter
    * rewrite injects for exactly this broadcast-sketch-probe shape —
    * over a serialized-filter literal, so the whole scan (gram
    * production AND probe) stays inside whole-stage codegen with no
    * ScalaUDF boxing per gram. */
  def bloomDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val bench = benchmarkCorpus(s)
    val benchGrams = bench
      .select(explode(gramHashes(col("btext"))).as("gram"))
      .distinct()
    // one distributed BloomFilterAggregate job; tiny here, but the
    // same call shape holds when benchGrams is a billion-row table
    val bf = benchGrams.stat.bloomFilter("gram", 4096L, 0.01)
    val bfBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val mightContain = org.apache.spark.sql.graftbridge.ColumnBridge
      .column(org.apache.spark.sql.catalyst.expressions
        .BloomFilterMightContain(
          org.apache.spark.sql.catalyst.expressions.Literal(bfBytes,
            org.apache.spark.sql.types.BinaryType),
          org.apache.spark.sql.graftbridge.ColumnBridge
            .expression(col("gram"))))
    plantedDocs(s, dir)
      .select(col("doc_id"),
        explode(gramHashes(col("text"))).as("gram"))
      .filter(mightContain)
      .join(broadcast(benchGrams), Seq("gram"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_bench_grams"))
  }

  /** Closed-form oracle: exactly the planted docs, exactly 3 matching
    * grams each (15-token span → 15-13+1 fully-benchmark grams; the
    * straddling grams mix corpus words and never hit the benchmark
    * set). */
  val decontaminateSql: String = """
    SELECT doc_id, CAST(3 AS BIGINT) AS n_bench_grams
    FROM documents
    WHERE doc_id % 23 = 0 AND doc_id % 17 <> 0
    ORDER BY doc_id"""

  // ------------------------------------------------ token histogram
  private val VocabTopK = 50

  /** Corpus-wide token frequency table — the statistic every tokenizer
    * build starts from. Shape at 100 TB: explode is map-side,
    * the groupBy count is a partial-agg shuffle over the (small)
    * distinct-token key space, and the top-k compiles to
    * TakeOrderedAndProject — no global sort of the full histogram.
    * Tie-break is (count desc, token asc), deterministic both sides. */
  def tokenHistogram(s: SparkSession, dir: String): DataFrame =
    Relational.table(s, dir, "documents")
      .select(explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(VocabTopK)

  val tokenHistogramSql: String = s"""
    SELECT t AS token, count(*) AS n
    FROM (
      SELECT unnest(string_split(text, ' ')) AS t
      FROM documents)
    WHERE t <> ''
    GROUP BY t
    ORDER BY n DESC, t
    LIMIT $VocabTopK"""

  // ------------------------------------------------------- tf-idf
  private val TfIdfTopK = 3

  /** Top-k characteristic terms per document by a log-free rational
    * tf-idf: score_milli = (tf · N · 1000) div df. Monotone in tf and
    * 1/df exactly like tf·log(N/df) for ranking within a document at
    * fixed tf scale, but integer-exact — so the DuckDB oracle compares
    * bit-for-bit (a transcendental log diverges in the last ulp
    * between engines; swapping in log10(N/df) is a one-line change
    * when exactness isn't needed).
    *
    * Shape at 100 TB: the explode is map-side; tf is a partial-agg
    * shuffle keyed by (doc_id, token); df is a distinct-agg whose
    * OUTPUT is vocabulary-sized, so it is broadcast — the bulky tf
    * side never shuffles onto token, only once more onto doc_id for
    * the top-k window (never a global sort). The corpus size N rides
    * in as a broadcast single-row agg. */
  def tfidf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Relational.table(s, dir, "documents")
    val toks = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
    val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df = toks.groupBy("token")
      .agg(count_distinct(col("doc_id")).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score_milli").desc, col("token"))
    tf.join(broadcast(df), "token")
      .crossJoin(broadcast(nDocs))
      .withColumn("score_milli", expr("(tf * n_docs * 1000) div df"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TfIdfTopK)
      .select("doc_id", "rank", "token", "tf", "df", "score_milli")
  }

  val tfidfSql: String = s"""
    WITH toks AS (
      SELECT doc_id, t AS token FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t
        FROM documents)
      WHERE t <> ''),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
    idf AS (SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token, tf.tf, idf.df,
        (tf.tf * nd.n_docs * 1000) // idf.df AS score_milli
      FROM tf JOIN idf USING (token) CROSS JOIN nd)
    SELECT doc_id, CAST(rank AS INT) AS rank, token, tf, df, score_milli
    FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
        ORDER BY score_milli DESC, token) AS rank
      FROM scored)
    WHERE rank <= $TfIdfTopK
    ORDER BY doc_id, rank"""

  // --------------------------------------------------- token rarity
  /** Per-document token-rarity signal — the unigram-LM quality proxy:
    * documents dominated by globally rare tokens score low on
    * sum_global / n_tokens. Outputs stay integer (sum of global
    * counts + token count) so the oracle is exact; consumers divide.
    *
    * Shape at 100 TB: same as tf-idf's fixed — the global counts
    * relation is vocabulary-sized and broadcast, so corpus tokens
    * shuffle once onto doc_id for the per-doc sum. */
  def tokenRarity(s: SparkSession, dir: String): DataFrame = {
    val toks = Relational.table(s, dir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
    val global = toks.groupBy("token")
      .agg(count(lit(1)).as("n_global"))
    toks.join(broadcast(global), "token")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("n_global")).as("sum_global"),
        min(col("n_global")).as("rarest"))
  }

  val tokenRaritySql: String = """
    WITH toks AS (
      SELECT doc_id, t AS token FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t
        FROM documents)
      WHERE t <> ''),
    global AS (
      SELECT token, count(*) AS n_global FROM toks GROUP BY token)
    SELECT doc_id, count(*) AS n_tokens,
      CAST(sum(n_global) AS BIGINT) AS sum_global,
      min(n_global) AS rarest
    FROM toks JOIN global USING (token)
    GROUP BY doc_id
    ORDER BY doc_id"""

  // -------------------------------------- quantile quality gating
  /** t14 — keep the top quartile of documents by an integer quality
    * score (distinct-token count), the standard "filter to the best X%"
    * curation step. Exact rank selection at scale is a global sort, so
    * the scalable formulation is histogram quantiles: the score is a
    * bounded-cardinality integer, so (1) one map-side-combined groupBy
    * builds the score histogram (tiny — at most a few thousand rows no
    * matter the corpus size), (2) a cumulative window over that tiny
    * histogram finds the exact threshold `max{t : |score >= t| >=
    * ceil(n/4)}`, (3) one broadcast of the scalar threshold gates the
    * corpus. Two scans of the corpus, no global sort, no single-
    * partition window over data that grows with the input — and the
    * result is EXACT, not an approx-percentile estimate. */
  def qualityGate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = Relational.table(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        size(array_distinct(tokens(col("text")))).cast("long").as("score"))
    val hist = scored.groupBy("score").agg(count(lit(1)).as("cnt"))
    // single-partition windows are fine HERE: the histogram is bounded
    // by score cardinality, not corpus size
    val desc = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy()
    val thr = hist
      .withColumn("cum", sum(col("cnt")).over(desc))
      .withColumn("n", sum(col("cnt")).over(whole))
      .filter(col("cum") * 4 >= col("n")) // cum >= ceil(n/4) in integers
      .agg(max(col("score")).as("threshold"))
    scored.join(broadcast(thr))
      .filter(col("score") >= col("threshold"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"), min(col("threshold")).as("threshold"))
  }

  val qualityGateSql: String = """
    WITH scored AS (
      SELECT doc_id, lang,
        len(list_distinct(string_split(text, ' '))) AS score
      FROM documents),
    hist AS (SELECT score, count(*) AS cnt FROM scored GROUP BY score),
    cum AS (
      SELECT score,
        sum(cnt) OVER (ORDER BY score DESC) AS cum,
        sum(cnt) OVER () AS n
      FROM hist),
    thr AS (SELECT max(score) AS threshold FROM cum WHERE cum * 4 >= n)
    SELECT lang, count(*) AS n_kept, min(threshold) AS threshold
    FROM scored, thr WHERE score >= threshold
    GROUP BY lang
    ORDER BY lang"""

  // ------------------------------------------------ document chunking
  private val ChunkTokens = 32
  private val ChunkStride = 24

  /** t16 — fixed-window document chunking with overlap: split each
    * English doc into [[ChunkTokens]]-token windows advancing by
    * [[ChunkStride]] tokens (8-token overlap keeps context across
    * boundaries), the complement of t05's packing — long docs must be
    * CUT to the model context before short ones are packed into it.
    *
    * Map-only at any scale: tokens, window count, and every chunk are
    * computed per row inside one codegen'd projection + explode; there
    * is no shuffle at all. The oracle rebuilds every chunk's exact text in DuckDB,
    * so window arithmetic, clamping of the final short chunk, and
    * reassembly are all proven byte-exact. */
  def chunkOverlap(s: SparkSession, dir: String): DataFrame = {
    val (w, st) = (ChunkTokens, ChunkStride)
    val toks = split(col("text"), " ")
    val n = size(toks)
    // ceil((n-w)/st)+1 windows for n>w, else 1 — matches `//` below
    val nChunks = when(n <= w, lit(1)).otherwise(
      floor((n - w + st - 1) / lit(st)).cast("int") + 1)
    Relational.table(s, dir, "documents")
      .filter(col("lang") === "en")
      .select(col("doc_id"), toks.as("toks"), nChunks.as("k"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), col("k") - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        slice(col("toks"), col("chunk_id") * st + 1, lit(w)).as("chunk"))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        size(col("chunk")).cast("long").as("n_tokens"),
        array_join(col("chunk"), " ").as("chunk_text"))
  }

  val chunkOverlapSql: String = {
    val (w, st) = (ChunkTokens, ChunkStride)
    s"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents WHERE lang = 'en'),
    k AS (
      SELECT doc_id, toks,
        CASE WHEN len(toks) <= $w THEN 1
             ELSE (len(toks) - $w + $st - 1) // $st + 1 END AS nchunks
      FROM d),
    ch AS (
      SELECT doc_id, toks, unnest(range(nchunks)) AS chunk_id FROM k)
    SELECT doc_id, chunk_id,
      len(toks[chunk_id * $st + 1 : chunk_id * $st + $w]) AS n_tokens,
      array_to_string(toks[chunk_id * $st + 1 : chunk_id * $st + $w], ' ')
        AS chunk_text
    FROM ch
    ORDER BY doc_id, chunk_id"""
  }

  // --------------------------------------------- regex tokenization
  /** Class pattern shared by both engines (Java regex and RE2 agree on
    * this subset): letter runs, digit runs, runs of anything else but
    * spaces — the GPT-2-style pre-tokenizer shape. */
  private val AlphaRe = "[A-Za-z]+"
  private val NumRe = "[0-9]+"
  private val OtherRe = "[^A-Za-z0-9 ]+"

  /** t18 — regex pre-tokenization stats (the BPE-front-end complement
    * of t01's whitespace count): token counts per character class over
    * the PII-planted corpus (the planting injects digits/punctuation,
    * so the class split is non-trivial). `regexp_extract_all` is a
    * codegen'd builtin — scan-speed, map-only. */
  def regexTokens(s: SparkSession, dir: String): DataFrame = {
    def n(re: String) =
      size(expr(s"regexp_extract_all(text, '$re', 0)")).cast("long")
    piiPlant(Relational.table(s, dir, "documents")
        .select(col("doc_id"), col("text")))
      .select(col("doc_id"), n(AlphaRe).as("n_alpha"),
        n(NumRe).as("n_num"), n(OtherRe).as("n_other"))
  }

  val regexTokensSql: String = s"""
    WITH planted AS (${piiPlantSql("documents")})
    SELECT doc_id,
      CAST(len(regexp_extract_all(text, '$AlphaRe')) AS BIGINT) AS n_alpha,
      CAST(len(regexp_extract_all(text, '$NumRe')) AS BIGINT) AS n_num,
      CAST(len(regexp_extract_all(text, '$OtherRe')) AS BIGINT) AS n_other
    FROM planted
    ORDER BY doc_id"""

  // ------------------------------------------- intra-doc boilerplate
  private val ParaTokens = 8

  /** t17 — intra-document boilerplate removal: drop repeated
    * paragraphs WITHIN each doc, keeping first occurrences in order
    * (headers/footers/nav text repeat inside a page — the complement
    * of d08's cross-doc paragraph dedup). Paragraph = non-overlapping
    * [[ParaTokens]]-token window. Duplication is planted by PREPENDING
    * every 7th doc's first paragraph — prepending keeps window
    * alignment, so the plant yields an exact duplicate window at any
    * doc length (natural repeats in the tiny synthetic vocabulary are
    * handled identically — the oracle replays the whole pipeline, not
    * a closed form).
    *
    * Scale shape: the dedup key is (doc_id, paragraph), so the first
    * shuffle's keys are scoped per document — no cross-doc hot keys by
    * construction; reassembly is the d08 sort-collect on doc_id. Two
    * keyed shuffles total, both map-side combining. */
  def boilerplateDedup(s: SparkSession, dir: String): DataFrame = {
    val w = ParaTokens
    val toks0 = split(col("text"), " ")
    val first = array_join(slice(toks0, 1, w), " ")
    val planted = when(
      pmod(col("doc_id"), lit(7)) === 0 && size(toks0) >= w,
      concat(first, lit(" "), col("text"))).otherwise(col("text"))
    val toks = split(col("planted"), " ")
    val nWin = ((size(toks) + w - 1) / lit(w)).cast("int")
    val paras = Relational.table(s, dir, "documents")
      .filter(col("lang") === "en")
      .select(col("doc_id"), planted.as("planted"))
      .select(col("doc_id"), toks.as("toks"),
        explode(sequence(lit(0), nWin - 1)).as("wi"))
      .select(col("doc_id"), col("wi"),
        array_join(slice(col("toks"), col("wi") * w + 1, lit(w)), " ")
          .as("key"))
    paras
      .groupBy("doc_id", "key")
      .agg(min(col("wi")).as("pos"), count(lit(1)).as("reps"))
      .groupBy("doc_id")
      .agg(sum(col("reps")).as("n_paras"),
        sum(col("reps") - 1).as("n_dupes"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("key")))),
          x => x.getField("key")), " ").as("cleaned_text"))
  }

  val boilerplateDedupSql: String = {
    val w = ParaTokens
    s"""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS t0
      FROM documents WHERE lang = 'en'),
    pl AS (
      SELECT doc_id,
        CASE WHEN doc_id % 7 = 0 AND len(t0) >= $w
          THEN array_to_string(t0[1:$w], ' ') || ' ' ||
            array_to_string(t0, ' ')
          ELSE array_to_string(t0, ' ') END AS text
      FROM base),
    tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM pl),
    wn AS (
      SELECT doc_id, toks,
        unnest(range((len(toks) + ${w - 1}) // $w)) AS wi
      FROM tk),
    k AS (
      SELECT doc_id, wi,
        array_to_string(toks[wi * $w + 1 : wi * $w + $w], ' ') AS key
      FROM wn),
    f AS (
      SELECT doc_id, key, min(wi) AS pos, count(*) AS reps
      FROM k GROUP BY doc_id, key)
    SELECT doc_id, CAST(sum(reps) AS BIGINT) AS n_paras,
      CAST(sum(reps - 1) AS BIGINT) AS n_dupes,
      string_agg(key, ' ' ORDER BY pos) AS cleaned_text
    FROM f
    GROUP BY doc_id
    ORDER BY doc_id"""
  }

  // -------------------------------------------------- BM25 retrieval
  private val Bm25Terms = Seq("join", "vector", "stream")
  private val Bm25TopK = 10

  /** t19 — BM25 keyword retrieval: top-k documents for a fixed query
    * term set, scored with the standard Okapi BM25 shape (k1=1.2,
    * b=0.75) made integer-exact. Both factors are rational, so they
    * are scaled to milli-units and evaluated with integer division —
    * the exact-oracle trick t11 uses for tf-idf, extended to BM25's
    * length normalization:
    *
    *   idf ≈ (N - df + 0.5)/(df + 0.5)           = (2N-2df+1)/(2df+1)
    *   tf-sat = tf·(k1+1)/(tf + k1(1-b) + k1·b·dl/avgdl)
    *          = 22·T·tf / (10·T·tf + 3·T + 9·dl·N)   with avgdl = T/N
    *
    * (the log around idf is monotone, so ranking is unchanged; at this
    * corpus scale the ×1000·T products stay far inside int64 — a
    * 100 TB corpus would route the same integers through DECIMAL(38)).
    *
    * Scale shape: the corpus scan filters to the query terms BEFORE
    * any shuffle, so tf is an agg over only matching postings; df is
    * |terms| rows and broadcast; N and T ride in as one broadcast agg
    * row; the only full-width shuffle keys matching docs by doc_id to
    * pick up dl; top-k is TakeOrderedAndProject, never a global
    * sort. */
  def bm25TopK(s: SparkSession, dir: String): DataFrame = {
    val docs = Relational.table(s, dir, "documents")
    val dl = docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("dl"))
    val qtoks = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .filter(col("token").isin(Bm25Terms: _*))
    val tf = qtoks.groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"))
    val dfreq = qtoks.groupBy("token")
      .agg(count_distinct(col("doc_id")).as("df"))
    val totals = docs.agg(count(lit(1)).as("n_docs"),
      sum(size(tokens(col("text"))).cast("long")).as("t_tokens"))
    tf.join(broadcast(dfreq), "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(totals))
      .withColumn("idf_milli",
        expr("((2*n_docs - 2*df + 1) * 1000) div (2*df + 1)"))
      .withColumn("sat_milli",
        expr("(22 * t_tokens * tf * 1000) div " +
          "(10 * t_tokens * tf + 3 * t_tokens + 9 * dl * n_docs)"))
      .groupBy("doc_id")
      .agg(sum(col("idf_milli") * col("sat_milli")).as("score_micro"),
        count(lit(1)).as("n_terms_hit"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(Bm25TopK)
  }

  val bm25TopKSql: String = s"""
    WITH qt AS (
      SELECT doc_id, t AS token FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t
        FROM documents)
      WHERE t IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")})),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM qt GROUP BY 1, 2),
    dfreq AS (
      SELECT token, count(DISTINCT doc_id) AS df FROM qt GROUP BY 1),
    dl AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      FROM documents),
    tot AS (
      SELECT count(*) AS n_docs,
        CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS t_tokens
      FROM documents),
    scored AS (
      SELECT tf.doc_id,
        ((2*n_docs - 2*df + 1) * 1000) // (2*df + 1) AS idf_milli,
        (22 * t_tokens * tf * 1000) //
          (10 * t_tokens * tf + 3 * t_tokens + 9 * dl.dl * n_docs)
          AS sat_milli
      FROM tf JOIN dfreq USING (token) JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN tot)
    SELECT doc_id,
      CAST(sum(idf_milli * sat_milli) AS BIGINT) AS score_micro,
      count(*) AS n_terms_hit
    FROM scored
    GROUP BY doc_id
    ORDER BY score_micro DESC, doc_id
    LIMIT $Bm25TopK"""

  // ------------------------------------------- length-binned batching
  private val PadBins = Seq(16L, 32L, 64L, 128L, 256L, 512L, 1024L)
  private val PadOverflowBin = 2048L
  private val PadBatch = 8
  private val PadShards = 16

  /** t20 — padding-efficient batch construction: round each document's
    * token count up to a power-of-two length bin, then group documents
    * of the same bin into fixed-size batches. Every sequence in a
    * batch pads to the SAME bin length, so the reported `waste` (padded
    * minus real tokens) is the exact number of pad tokens the training
    * job would burn — the quantity this layout minimizes vs. naive
    * in-order batching across mixed lengths.
    *
    * Distribution: batch numbering runs per (bin, shard) — the t05
    * compromise — so no window partition sees more than corpus/(bins×
    * shards) rows; all counters are integers, so the oracle replays
    * the batch assignment and waste accounting exactly. */
  def lengthBinnedBatches(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = size(tokens(col("text"))).cast("long")
    val bin = PadBins.foldRight(lit(PadOverflowBin)) { (b, acc) =>
      when(col("n_tokens") <= b, lit(b)).otherwise(acc)
    }
    val w = Window.partitionBy("bin", "shard").orderBy("doc_id")
    Relational.table(s, dir, "documents")
      .select(col("doc_id"), n.as("n_tokens"),
        (col("doc_id") % PadShards).as("shard"))
      .withColumn("bin", bin)
      .withColumn("batch",
        floor((row_number().over(w) - 1) / PadBatch).cast("long"))
      .groupBy("bin", "shard", "batch")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("real_tokens"),
        (count(lit(1)) * col("bin")).as("padded_tokens"),
        (count(lit(1)) * col("bin") - sum(col("n_tokens"))).as("waste"))
  }

  val lengthBinnedBatchesSql: String = {
    val caseBin = PadBins.map(b => s"WHEN n_tokens <= $b THEN $b")
      .mkString("CASE ", " ", s" ELSE $PadOverflowBin END")
    s"""
    WITH sized AS (
      SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        doc_id % $PadShards AS shard
      FROM documents),
    binned AS (
      SELECT doc_id, n_tokens, shard, $caseBin AS bin FROM sized),
    batched AS (
      SELECT *, CAST((row_number() OVER (
          PARTITION BY bin, shard ORDER BY doc_id) - 1) // $PadBatch
        AS BIGINT) AS batch
      FROM binned)
    SELECT bin, shard, batch, count(*) AS n_docs,
      CAST(sum(n_tokens) AS BIGINT) AS real_tokens,
      CAST(count(*) * bin AS BIGINT) AS padded_tokens,
      CAST(count(*) * bin - sum(n_tokens) AS BIGINT) AS waste
    FROM batched
    GROUP BY bin, shard, batch
    ORDER BY bin, shard, batch"""
  }

  // ------------------------------------------ duplicated-n-gram fraction
  private val DupGramN = 8

  /** t21 — duplicated-n-gram fraction, the tractable proxy for exact
    * substring dedup (the suffix-array formulation of "dedup exact
    * 50-token spans" does not distribute; counting how much of each
    * document is covered by GLOBALLY repeated n-gram spans does, and
    * is the standard corpus quality signal derived from it). Per
    * document: total 8-gram positions and how many of them carry a
    * gram that occurs more than once corpus-wide. Consumers divide
    * for the fraction; outputs stay integer so the oracle is exact.
    *
    * Shape at 100 TB: gram construction is a map-side expression
    * (transform over the token array — no UDF); the global occurrence
    * count rides a WINDOW over the gram partition — ONE gram-keyed
    * shuffle total (this shuffle is what replaces the suffix array).
    * The agg+join formulation (count per gram, join back) shuffles
    * the gram stream twice and measured 3.7× slower at sf1; since
    * nearly every gram is unique, partial aggregation cannot shrink
    * the count relation, so the join buys nothing. Grams could ride
    * as xxhash64 instead of strings to shrink the shuffle further —
    * kept as strings so the oracle replays them verbatim. */
  def dupNgramFraction(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = Relational.table(s, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= DupGramN)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(toks) - $DupGramN + 1), " +
          s"i -> array_join(slice(toks, i, $DupGramN), ' '))")).as("gram"))
    grams
      .withColumn("n_global",
        count(lit(1)).over(Window.partitionBy("gram")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("n_global") > 1, 1L).otherwise(0L)).as("n_dup_grams"))
  }

  val dupNgramFractionSql: String = s"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    grams AS (
      SELECT doc_id, unnest(list_transform(
          range(1, len(t) - $DupGramN + 2),
          i -> array_to_string(t[i:i+$DupGramN-1], ' '))) AS gram
      FROM toks WHERE len(t) >= $DupGramN),
    counted AS (
      SELECT doc_id,
        count(*) OVER (PARTITION BY gram) AS n_global
      FROM grams)
    SELECT doc_id, count(*) AS n_grams,
      CAST(sum(CASE WHEN n_global > 1 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_dup_grams
    FROM counted
    GROUP BY doc_id
    ORDER BY doc_id"""

  // --------------------------------------- heavy hitters (sketch)
  // k chosen BELOW the corpus vocabulary size so the sketch actually
  // evicts and merges lossily at test scale — the guarantee (not the
  // trivial no-eviction regime) is what t22_heavy_inv certifies
  private[graft] val HeavyK = 8

  /** The t22 input stream: corpus tokens plus a planted hot token
    * (10 per document ≈ 15% of the stream — a constant FRACTION, so
    * it stays above the N/(k+1) ≈ 11% frequency threshold at every
    * scale factor, while the near-uniform organic vocabulary stays
    * far below it). The plant makes the recall half of the
    * Misra-Gries contract non-vacuous; shared by the query and its
    * invariant oracle. */
  private[graft] def heavyTokenStream(s: SparkSession,
                                      dir: String): DataFrame = {
    val docs = Relational.table(s, dir, "documents")
    docs.select(explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .unionAll(docs.select(
        explode(array_repeat(lit("zzz_hot"), 10)).as("token")))
  }

  /** t22 — distributed Misra-Gries heavy hitters over the corpus
    * token stream (the sketch-shaped alternative to t10's exact
    * histogram). t10's exact groupBy shuffles EVERY distinct token —
    * fine while vocabularies are small, painful once the "token"
    * is an n-gram or URL at 100 TB. The [[graft.expr.MisraGriesTopK]]
    * aggregate builds one k-entry sketch per partition map-side and
    * ships at most k rows each to a single merge, with the provably
    * merge-safe guarantee: every token with true frequency > N/(k+1)
    * survives, and true is always within [est, est + err].
    *
    * Estimates are merge-order-dependent (engine-internal) → rows-only
    * here; the guarantee itself is the DuckDB-checked t22_heavy_inv. */
  def heavyHitters(s: SparkSession, dir: String): DataFrame =
    heavyTokenStream(s, dir)
      .agg(graft.expr.MisraGriesTopK
        .mgTopK(col("token"), HeavyK).as("sketch"))
      .select(explode(col("sketch")).as("hh"))
      .select(col("hh.token").as("token"), col("hh.est").as("est"),
        col("hh.err").as("err"))

  // ------------------------------------------------- t23 BPE merges
  private val BpeRounds = 3
  /** Unit separator wraps every symbol so a literal `replace` can
    * never match across symbol boundaries (a pair pattern "b␟  ␟c"
    * would otherwise also hit the tail of symbol "ab"). */
  private val USep = "\u001f"

  /** t23 — BPE merge-rule induction, the first `BpeRounds` rounds of
    * byte-pair-encoding tokenizer training: per round, the globally
    * most frequent adjacent symbol pair (occurrence-weighted,
    * deterministic count-desc/lexicographic tie-break) is merged
    * everywhere it occurs, greedily left-to-right.
    *
    * Scale shape — the standard BPE-trainer compression: the corpus
    * collapses to (distinct word, freq) in ONE shuffle and every
    * round after that runs over the VOCABULARY (pair explode +
    * freq-weighted partial-agg count + a 1-row argmax collect + a
    * map-side literal replace), never the corpus again — at 100 TB
    * the vocab is ~10^7 rows, so the per-round cost is constant-ish.
    * localCheckpoint truncates the per-round lineage exactly like the
    * d06 cluster loop. The merge itself is a plain string `replace`
    * over ␟-marked double-space-joined symbols: non-overlapping
    * left-to-right, which IS the greedy BPE merge order, and the
    * marker makes sub-symbol matches impossible. The DuckDB oracle
    * unrolls all three rounds with the same representation. */
  def bpeMerges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bpeRules(s, dir)
      .map { case (r, _, merged, cnt) => (r, merged.replace(USep, ""), cnt) }
      .toDF("round", "merged_token", "pair_count")
  }

  /** The t23 induction loop itself, returning each round's rule in
    * symbol form: (round, "␟s1␟  ␟s2␟" pattern, "␟s1s2␟" replacement,
    * pair count). Shared by t23 (reporting) and t24 (application).
    *
    * MERGE-COUNT ENVELOPE — this loop launches ONE Spark job per
    * merge (the 1-row argmax collect), which is the right shape for
    * the 3-round oracle demo but NOT for tokenizer training: a real
    * 32k-merge run would be 32k jobs of pure scheduler overhead on a
    * vocabulary-sized frame. The production path is [[bpeTrain]]:
    * after the one corpus-collapsing shuffle the vocabulary is SMALL
    * (Heaps' law — t38 measures the saturation curve on this very
    * corpus), so collect it once and run every merge round driver-
    * side in memory; the corpus is touched exactly twice total (vocab
    * build + final encode) for ANY merge count. Measured (sf0.1, r9):
    * 16 rounds in 0.41 s TOTAL vs 1.2 s/merge for this loop — the gap
    * is pure per-job overhead and widens linearly with merge count
    * (BASELINE_HISTORY.md, "BPE merge-count envelope"). */
  private def bpeRules(s: SparkSession,
      dir: String): Seq[(Int, String, String, Long)] = {
    val words = Relational.table(s, dir, "documents")
      .select(explode(tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .withColumn("sym", concat(lit(USep),
        array_join(split(col("w"), ""), USep + "  " + USep), lit(USep)))
      .select(col("sym"), col("freq"))
      .localCheckpoint()
    var cur = words
    val rules = Seq.newBuilder[(Int, String, String, Long)]
    for (r <- 1 to BpeRounds) {
      val top = cur
        .withColumn("l", split(col("sym"), "  "))
        .select(col("freq"), explode(expr(
          "zip_with(slice(l, 1, size(l) - 1), slice(l, 2, size(l) - 1), " +
            "(a, b) -> struct(a AS a, b AS b))")).as("p"))
        .groupBy(col("p.a").as("s1"), col("p.b").as("s2"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("s1"), col("s2"))
        .limit(1).collect()(0)
      val (s1, s2, cnt) =
        (top.getString(0), top.getString(1), top.getLong(2))
      val merged = s1.dropRight(1) + s2.drop(1) // ␟p1␟+␟p2␟ → ␟p1p2␟
      rules += ((r, s1 + "  " + s2, merged, cnt))
      cur = cur.withColumn("sym",
          replace(col("sym"), lit(s1 + "  " + s2), lit(merged)))
        .localCheckpoint()
    }
    rules.result()
  }

  /** Production-shape BPE trainer: identical merge rules to
    * [[bpeRules]] (same pair counting, same count-desc/lexicographic
    * tie-break, same greedy left-to-right non-overlapping merge), but
    * the loop runs DRIVER-SIDE over the collected vocabulary — the
    * "small model, big corpus" discipline every real BPE trainer
    * uses. Job envelope: exactly ONE corpus job here (the distinct
    * (word, freq) collapse + collect; vocabulary-sized by Heaps' law,
    * the t38 audit measures its saturation) and zero jobs per round;
    * the single corpus encode pass (t24's literal fold, or a
    * generated expression chain at 32k rules) is the only other
    * corpus-proportional work a full pipeline adds. KmvSketchSpec-
    * style parity is pinned by Round9Spec: the first [[BpeRounds]]
    * rules match the in-plan loop's exactly.
    *
    * Returns the same symbol-form tuples as [[bpeRules]], so the
    * encode fold is interchangeable.
    *
    * DRIVER-MEMORY DISCIPLINE (the r9 watch item): the vocabulary
    * collect is BOUNDED by two knobs applied in-plan, BEFORE any row
    * reaches the driver — `minFreq` drops words seen fewer than that
    * many times (the standard BPE trainer cutoff: hapax/noise strings
    * dominate the distinct-"word" set of web text, hundreds of
    * millions of strings at 100 TB, while contributing ~nothing to
    * pair counts), and `topN` caps the collected vocabulary at the N
    * most frequent words (deterministic: freq desc, then word, so the
    * cap commutes with re-runs). Defaults (minFreq = 1, topN = 0 =
    * uncapped) keep gate-corpus parity with [[bpeRules]] exactly —
    * the Heaps-small gate vocab needs no floor and Round10Spec pins
    * that a vacuous floor changes nothing — but a web-scale run sets
    * `minFreq >= 2` (or a topN in the low millions) as every real
    * tokenizer trainer does; rules then differ from the unfloored run
    * only through the dropped words' pair counts.
    *
    * Tie-breaks compare UTF-8 BYTES (unsigned), matching Spark's
    * binary string ordering in [[bpeRules]]'s `orderBy` — Scala's
    * default String ordering is UTF-16 code units, which disagrees
    * with UTF-8 for code points in [U+E000, U+FFFF] vs supplementary
    * planes (the r9 advice gap: the parity claim was ASCII-only). */
  /** Unsigned lexicographic comparison of the UTF-8 encodings — the
    * order Spark's binary string comparator (and DuckDB) uses. */
  private def utf8Compare(x: String, y: String): Int = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }

  private[graft] def bpeTrain(s: SparkSession, dir: String,
      rounds: Int, minFreq: Long = 1L, topN: Int = 0)
      : Seq[(Int, String, String, Long)] = {
    val base = Relational.table(s, dir, "documents")
      .select(explode(tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= minFreq)
    val capped =
      if (topN > 0) base.orderBy(col("freq").desc, col("w")).limit(topN)
      else base
    val vocab: Array[(Array[String], Long)] = capped
      .collect()
      .map(r => (r.getString(0).split("").filter(_.nonEmpty),
        r.getLong(1)))
    var words = vocab
    val rules = Seq.newBuilder[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val counts = scala.collection.mutable.HashMap[(String, String), Long]()
      words.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val key = (syms(i), syms(i + 1))
          counts.update(key, counts.getOrElse(key, 0L) + f)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        // count desc, then s1/s2 lexicographic in UTF-8 BYTE order —
        // exactly bpeRules' orderBy (Spark compares strings as binary
        // UTF-8); Scala tuple minBy would compare UTF-16 code units
        val ((s1, s2), cnt) = counts.reduce { (x, y) =>
          val cmp =
            if (x._2 != y._2) java.lang.Long.compare(y._2, x._2)
            else {
              val c1 = utf8Compare(x._1._1, y._1._1)
              if (c1 != 0) c1 else utf8Compare(x._1._2, y._1._2)
            }
          if (cmp <= 0) x else y
        }
        rules += ((r,
          s"$USep$s1$USep  $USep$s2$USep", s"$USep$s1$s2$USep", cnt))
        val merged = s1 + s2
        words = words.map { case (syms, f) =>
          // greedy left-to-right non-overlapping — replace() semantics
          val out = new scala.collection.mutable.ArrayBuffer[String](
            syms.length)
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == s1 && syms(i + 1) == s2) {
              out += merged; i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.toArray, f)
        }
        r += 1
      }
    }
    rules.result()
  }

  /** t24 — BPE tokenization: ENCODE the corpus with the merge rules
    * t23 induced, reporting per-document word and post-merge token
    * counts (the compression the tokenizer actually buys).
    *
    * Scale shape: induction runs over the vocabulary (see t23); the
    * encode pass is the only corpus-proportional work and it is pure
    * map-side codegen — the three collected rules are string LITERALS
    * folded into nested `replace` calls, so no join, no broadcast, no
    * UDF touches the corpus, and the single shuffle is the final
    * per-doc count agg (map-side partial). At 100 TB a real 30k-rule
    * vocab would swap the literal fold for one generated expression
    * chain or a native Expression — same plan shape. */
  def bpeApply(s: SparkSession, dir: String): DataFrame = {
    val rules = bpeRules(s, dir)
    val docw = Relational.table(s, dir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
    val sym0 = concat(lit(USep),
      array_join(split(col("w"), ""), USep + "  " + USep), lit(USep))
    val symN = rules.foldLeft(sym0) { case (c, (_, pat, merged, _)) =>
      replace(c, lit(pat), lit(merged)) }
    docw.select(col("doc_id"), symN.as("sym"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(size(split(col("sym"), "  ")).cast("long")).as("n_bpe_tokens"))
  }

  /** t25 — unigram-LM surprisal scoring, the perplexity-proxy quality
    * signal training-data pipelines sort by: rare-token-heavy docs
    * score high, boilerplate scores low. Per token the corpus model
    * gives p = cnt/N; surprisal is quantized to exact INTEGER bits as
    * floor(log2(N div cnt)) = length(bin(N div cnt)) - 1 — pure
    * integer/string arithmetic, so Spark and the DuckDB oracle agree
    * bit-exactly with no floating log anywhere (the l04 milli-weight
    * pattern taken one step further).
    *
    * Scale shape: one shuffle builds the unigram table, which is
    * vocabulary-sized → broadcast back onto the token stream; the
    * per-doc sum is the only other shuffle and partial-aggregates
    * map-side. At 100 TB the vocab table is the classic "small model,
    * big corpus" broadcast — never a corpus-vs-corpus shuffle join. */
  def surprisal(s: SparkSession, dir: String): DataFrame = {
    val toks = Relational.table(s, dir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
    val global = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
    val total = toks.agg(count(lit(1)).as("n_total"))
    toks.join(broadcast(global), "token")
      .crossJoin(broadcast(total))
      .withColumn("bits",
        (length(bin(expr("n_total div cnt"))) - 1).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("bits")).as("surprisal_bits"))
  }

  private val BpeMark = "chr(31)"

  /** The WITH-clause body for the 3-round merge induction — shared by
    * the t23 and t24 oracles (words → r0 symbols → per-round pair
    * count / argmax / merge). */
  private val bpeChainCtes: String = {
    val mark = BpeMark
    def pairs(src: String): String = s"""
      SELECT s1, s2, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        SELECT unnest(l[1:len(l)-1]) AS s1, unnest(l[2:len(l)]) AS s2,
          freq
        FROM (SELECT string_split(sym, '  ') AS l, freq FROM $src))
      GROUP BY s1, s2"""
    def best(p: String): String =
      s"SELECT s1, s2, cnt FROM $p ORDER BY cnt DESC, s1, s2 LIMIT 1"
    def merge(src: String, m: String): String = s"""
      SELECT replace(sym, m.s1 || '  ' || m.s2,
        m.s1[1:len(m.s1)-1] || m.s2[2:]) AS sym, freq
      FROM $src, $m m"""
    s"""words AS (
      SELECT w, count(*) AS freq FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> '' GROUP BY w),
    r0 AS (
      SELECT $mark || array_to_string(string_split(w, ''),
          $mark || '  ' || $mark) || $mark AS sym, freq
      FROM words),
    p1 AS (${pairs("r0")}), m1 AS (${best("p1")}),
    r1 AS (${merge("r0", "m1")}),
    p2 AS (${pairs("r1")}), m2 AS (${best("p2")}),
    r2 AS (${merge("r1", "m2")}),
    p3 AS (${pairs("r2")}), m3 AS (${best("p3")})"""
  }

  val bpeMergesSql: String = s"""
    WITH $bpeChainCtes
    SELECT * FROM (
      SELECT 1 AS round, replace(s1 || s2, $BpeMark, '') AS merged_token,
        cnt AS pair_count FROM m1
      UNION ALL SELECT 2, replace(s1 || s2, $BpeMark, ''), cnt FROM m2
      UNION ALL SELECT 3, replace(s1 || s2, $BpeMark, ''), cnt FROM m3)
    ORDER BY round"""

  val bpeApplySql: String = {
    val mark = BpeMark
    def apply(src: String, m: String): String = s"""
      SELECT doc_id, replace(sym, m.s1 || '  ' || m.s2,
        m.s1[1:len(m.s1)-1] || m.s2[2:]) AS sym
      FROM $src, $m m"""
    s"""
    WITH $bpeChainCtes,
    docw AS (
      SELECT doc_id, w FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents)
      WHERE w <> ''),
    a0 AS (
      SELECT doc_id, $mark || array_to_string(string_split(w, ''),
          $mark || '  ' || $mark) || $mark AS sym
      FROM docw),
    a1 AS (${apply("a0", "m1")}),
    a2 AS (${apply("a1", "m2")}),
    a3 AS (${apply("a2", "m3")})
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
      CAST(sum(len(string_split(sym, '  '))) AS BIGINT) AS n_bpe_tokens
    FROM a3
    GROUP BY doc_id
    ORDER BY doc_id"""
  }

  val surprisalSql: String = """
    WITH toks AS (
      SELECT doc_id, w AS token FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents)
      WHERE w <> ''),
    vocab AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
    total AS (SELECT count(*) AS n_total FROM toks)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      CAST(sum(length(bin(n_total // cnt)) - 1) AS BIGINT)
        AS surprisal_bits
    FROM toks JOIN vocab USING (token), total
    GROUP BY doc_id
    ORDER BY doc_id"""

  // ------------------------------------------ t26 classifier gate
  private val ClfDim = 64L

  /** t26 — model-based quality filtering with a hashing-trick linear
    * classifier (the fastText-style gate most corpus pipelines run
    * after the heuristic gates): each token hashes into one of
    * [[ClfDim]] feature buckets (md5 → 16-bit int → mod, the s09
    * portable-hash idiom), each bucket carries a small integer weight,
    * and a document's score is the weight-sum of its token bag;
    * `score >= 0` keeps the doc. Weights are derived here from the
    * bucket id ((b·37) mod 21 − 10 ∈ [−10, 10]) so the ORACLE can
    * replay them — in production they'd be trained parameters shipped
    * into codegen exactly like [[graft.expr.PqEncode]]'s codebooks
    * (`ctx.addReferenceObj`), with identical plan shape.
    *
    * Scale shape: inference is a pure map pass — `transform` +
    * `aggregate` over the token array, zero shuffles, zero UDFs, one
    * WholeStageCodegen span; 100 TB costs one scan. */
  def classifierGate(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val bucket = (t: Column) =>
      conv(substring(md5(concat(lit("t26#"), t)), 1, 4), 16, 10)
        .cast("long") % ClfDim
    val weight = (b: Column) => (b * 37) % 21 - 10
    val score = aggregate(toks, lit(0L),
      (acc, t) => acc + weight(bucket(t)))
    Relational.table(s, dir, "documents")
      .select(col("doc_id"), score.as("score"))
      .withColumn("kept", (col("score") >= 0).cast("long"))
  }

  val classifierGateSql: String = s"""
    SELECT doc_id, score,
      CAST(CASE WHEN score >= 0 THEN 1 ELSE 0 END AS BIGINT) AS kept
    FROM (
      SELECT doc_id,
        CAST(coalesce(list_sum(list_transform(string_split(text, ' '),
          t -> ((('0x' || substr(md5('t26#' || t), 1, 4))::BIGINT
                 % $ClfDim) * 37) % 21 - 10)), 0) AS BIGINT) AS score
      FROM documents)
    ORDER BY doc_id"""

  // ------------------------------------------- t27 Luhn redaction
  /** t27 — checksum-validated PII redaction: t08's regex finds digit
    * runs, but real pipelines must not scrub every 16-digit number —
    * only those passing the Luhn check (the card-number checksum) are
    * PII. A 16-digit candidate is planted in every third document with
    * a doc-id-derived check digit, so validity varies pseudo-randomly
    * across the corpus and the gate's selectivity is real. Validation
    * is pure integer expression work: char array → per-position
    * contribution (every second digit from the right doubled, −9 when
    * >9) → `aggregate` sum mod 10; valid candidates are replaced with
    * `[CARD]`, invalid ones (false positives under t08's rule) are
    * preserved.
    *
    * Scale shape: map-only — regex extract + fixed-16 `transform` +
    * literal `replace` per row, no shuffle, no UDF; the oracle
    * replays plant, checksum, and redaction byte-for-byte. */
  def luhnRedact(s: SparkSession, dir: String): DataFrame = {
    val card = concat(lit("4"),
      lpad(((col("doc_id") * 7919) % 100000000000000L).cast("string"),
        14, "0"),
      ((col("doc_id") * 31) % 10).cast("string"))
    val planted = when(pmod(col("doc_id"), lit(3)) === 0,
      concat(col("text"), lit(" card "), card)).otherwise(col("text"))
    val cands = regexp_extract_all(col("planted"), lit("\\d{16}"), lit(0))
    def luhnValid(c: Column): Column = {
      val chars = split(c, "")
      val contrib = transform(chars, (ch, i) => {
        val d = ch.cast("long")
        val dd = when(i % 2 === 0, d * 2).otherwise(d)
        when(dd > 9, dd - 9).otherwise(dd)
      })
      aggregate(contrib, lit(0L), _ + _) % 10 === 0
    }
    val valids = filter(col("cands"), luhnValid _)
    Relational.table(s, dir, "documents")
      .select(col("doc_id"), planted.as("planted"))
      .withColumn("cands", cands)
      .withColumn("n_cards", size(col("cands")).cast("long"))
      .withColumn("valids", valids)
      .withColumn("n_valid", size(col("valids")).cast("long"))
      .withColumn("redacted",
        when(col("n_valid") > 0,
          replace(col("planted"), element_at(col("valids"), 1),
            lit("[CARD]"))).otherwise(col("planted")))
      .select(col("doc_id"), col("n_cards"), col("n_valid"),
        md5(col("redacted")).as("redacted_fp"))
  }

  val luhnRedactSql: String = """
    WITH planted AS (
      SELECT doc_id,
        CASE WHEN doc_id % 3 = 0 THEN
          text || ' card ' || '4' ||
          lpad(CAST((doc_id * 7919) % 100000000000000 AS VARCHAR),
            14, '0') ||
          CAST((doc_id * 31) % 10 AS VARCHAR)
        ELSE text END AS planted
      FROM documents),
    scanned AS (
      SELECT doc_id, planted,
        regexp_extract_all(planted, '\d{16}') AS cands
      FROM planted),
    validated AS (
      SELECT doc_id, planted, cands,
        list_filter(cands, c ->
          list_sum(list_transform(range(1, 17), i ->
            CASE WHEN (CASE WHEN i % 2 = 1 THEN 2 ELSE 1 END)
                   * substr(c, i::INT, 1)::BIGINT > 9
              THEN (CASE WHEN i % 2 = 1 THEN 2 ELSE 1 END)
                   * substr(c, i::INT, 1)::BIGINT - 9
              ELSE (CASE WHEN i % 2 = 1 THEN 2 ELSE 1 END)
                   * substr(c, i::INT, 1)::BIGINT END)) % 10 = 0)
          AS valids
      FROM scanned)
    SELECT doc_id,
      CAST(len(cands) AS BIGINT) AS n_cards,
      CAST(len(valids) AS BIGINT) AS n_valid,
      md5(CASE WHEN len(valids) > 0
        THEN replace(planted, valids[1], '[CARD]')
        ELSE planted END) AS redacted_fp
    FROM validated
    ORDER BY doc_id"""

  // ---------------------------------- t28 eval-set gram overlap
  /** t28 — n-gram-level decontamination against an eval set (the
    * GPT-3-style check): t09/t15 drop docs that REPRODUCE an eval
    * document verbatim; this measures 8-gram overlap, which catches
    * partial leakage — a benchmark question quoted inside an
    * otherwise-novel page. The eval set is the `doc_id % 29 = 0`
    * slice; a canary sentence is planted into BOTH the eval docs and
    * the `% 31 = 1` corpus slice so cross-set overlap provably exists
    * and the measured hits are non-vacuous (the t09 planting
    * pattern). Output per corpus doc: total gram positions, positions
    * matching any eval gram, and the contamination flag.
    *
    * Scale shape: gram construction is map-side (t21's transform over
    * the token array); the overlap is ONE gram-keyed join of corpus
    * grams against the DISTINCT eval grams — eval sets are tiny
    * relative to the corpus, so at 100 TB that side broadcasts (or
    * rides t15's bloom prefilter to cut the corpus stream before the
    * exact join; both plans keep the corpus to a single pass). */
  def evalGramOverlap(s: SparkSession, dir: String): DataFrame = {
    val canary =
      " eval canary alpha beta gamma delta epsilon zeta"
    val docs = Relational.table(s, dir, "documents")
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(29)) === 0 ||
             pmod(col("doc_id"), lit(31)) === 1,
          concat(col("text"), lit(canary))).otherwise(col("text"))
          .as("text"))
    def grams(df: DataFrame): DataFrame = df
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= DupGramN)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(toks) - $DupGramN + 1), " +
          s"i -> array_join(slice(toks, i, $DupGramN), ' '))")).as("gram"))
    val evalGrams = grams(docs.filter(pmod(col("doc_id"), lit(29)) === 0))
      .select("gram").distinct().withColumn("hit", lit(1L))
    grams(docs.filter(pmod(col("doc_id"), lit(29)) =!= 0))
      .join(evalGrams, Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_eval_hits"))
      .withColumn("contaminated", (col("n_eval_hits") > 0).cast("long"))
  }

  val evalGramOverlapSql: String = s"""
    WITH docs AS (
      SELECT doc_id,
        CASE WHEN doc_id % 29 = 0 OR doc_id % 31 = 1
          THEN text || ' eval canary alpha beta gamma delta epsilon zeta'
          ELSE text END AS text
      FROM documents),
    toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM docs),
    grams AS (
      SELECT doc_id, unnest(list_transform(
          range(1, len(t) - $DupGramN + 2),
          i -> array_to_string(t[i:i+$DupGramN-1], ' '))) AS gram
      FROM toks WHERE len(t) >= $DupGramN),
    eval_grams AS (
      SELECT DISTINCT gram FROM grams WHERE doc_id % 29 = 0)
    SELECT g.doc_id,
      count(*) AS n_grams,
      CAST(sum(CASE WHEN e.gram IS NOT NULL THEN 1 ELSE 0 END)
        AS BIGINT) AS n_eval_hits,
      CAST(CASE WHEN sum(CASE WHEN e.gram IS NOT NULL THEN 1 ELSE 0
        END) > 0 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
    FROM (SELECT doc_id, gram FROM grams WHERE doc_id % 29 <> 0) g
    LEFT JOIN eval_grams e ON g.gram = e.gram
    GROUP BY g.doc_id
    ORDER BY g.doc_id"""

  // --------------------------------- t29 bigram surprisal w/ backoff
  /** t29 — bigram-LM surprisal with stupid backoff: t25's
    * perplexity-proxy upgraded one order. A bigram observed ≥ 2×
    * corpus-wide scores floor(log2(N_bg / cnt_bg)) bits (the t25
    * exact-integer-log2 trick, `length(bin(x div y)) − 1`); a
    * singleton bigram backs off to the unigram bits of its second
    * word plus a flat 4-bit penalty — the integer rendition of
    * stupid backoff (Brants et al.), chosen over interpolation
    * because it keeps every quantity integral and thus
    * oracle-replayable.
    *
    * Scale shape: bigram construction is map-side (transform over the
    * token array, no self-join); the count tables are gram-keyed
    * partial aggs; scoring joins the stream against the bigram and
    * unigram tables — the "small model, big corpus" joins that
    * broadcast at real vocab/corpus ratios — and the per-doc sum
    * partial-aggregates map-side. */
  def bigramSurprisal(s: SparkSession, dir: String): DataFrame = {
    val docs = Relational.table(s, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val flat = docs.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> " +
          "struct(element_at(toks, i) AS w1, " +
          "element_at(toks, i + 1) AS w2))")).as("bg"))
      .select(col("doc_id"), col("bg.w1"), col("bg.w2"))
    val uni = docs.select(explode(col("toks")).as("w2"))
      .groupBy("w2").agg(count(lit(1)).as("ucnt"))
    val nTotal = docs.select(explode(col("toks")).as("w"))
      .agg(count(lit(1)).as("n_total"))
    val bgc = flat.groupBy("w1", "w2").agg(count(lit(1)).as("bcnt"))
    val nBg = flat.agg(count(lit(1)).as("n_bg"))
    flat.join(bgc, Seq("w1", "w2"))
      .join(uni, Seq("w2"))
      .crossJoin(broadcast(nBg)).crossJoin(broadcast(nTotal))
      .withColumn("bits",
        when(col("bcnt") >= 2,
          (length(bin(expr("n_bg div bcnt"))) - 1).cast("long"))
          .otherwise(lit(4L) +
            (length(bin(expr("n_total div ucnt"))) - 1).cast("long")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("bits")).as("surprisal_bits"))
  }

  val bigramSurprisalSql: String = """
    WITH docs AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    flat AS (
      SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM (
        SELECT doc_id, unnest(list_transform(range(1, len(t)),
          i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS bg
        FROM docs WHERE len(t) >= 2)),
    uni AS (
      SELECT w2, count(*) AS ucnt FROM (
        SELECT unnest(t) AS w2 FROM docs) GROUP BY w2),
    bgc AS (
      SELECT w1, w2, count(*) AS bcnt FROM flat GROUP BY w1, w2),
    totals AS (
      SELECT (SELECT count(*) FROM (SELECT unnest(t) FROM docs))
          AS n_total,
        (SELECT count(*) FROM flat) AS n_bg)
    SELECT doc_id, count(*) AS n_bigrams,
      CAST(sum(CASE WHEN bcnt >= 2
        THEN length(bin(n_bg // bcnt)) - 1
        ELSE 4 + length(bin(n_total // ucnt)) - 1 END) AS BIGINT)
        AS surprisal_bits
    FROM flat JOIN bgc USING (w1, w2) JOIN uni USING (w2), totals
    GROUP BY doc_id
    ORDER BY doc_id"""

  // ------------------------------------- t30 PMI collocation mining
  /** t30 — collocation mining: bigrams whose observed co-occurrence
    * beats the independence expectation, ranked by an exact
    * integer-scaled lift `c_xy·10⁶ div (c_x·c_y)`. Under a fixed
    * corpus the PMI `log(c_xy·T²/(N·c_x·c_y))` is a monotone function
    * of `c_xy/(c_x·c_y)`, so ranking by the scaled lift IS ranking by
    * PMI — with the float log and the corpus constants folded out,
    * every quantity stays integral and the DuckDB oracle matches
    * hash-exactly (the same float-free trick as t25/t29's bit
    * surprisal). The `c_xy ≥ 5` support floor is the standard guard
    * against PMI's rare-pair bias (Church & Hanks 1990).
    *
    * Scale shape: bigram construction is map-side (`transform` over
    * the token array — no self-join); both count tables are gram-keyed
    * map-side-combinable aggregates; the scoring joins stream the
    * support-filtered bigram table against the unigram table (at real
    * corpus/vocab ratios the unigram side broadcasts); top-k is
    * TakeOrderedAndProject. One corpus scan end to end. */
  def pmiCollocations(s: SparkSession, dir: String): DataFrame = {
    val docs = Relational.table(s, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val flat = docs.filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> " +
          "struct(element_at(toks, i) AS w1, " +
          "element_at(toks, i + 1) AS w2))")).as("bg"))
      .select(col("bg.w1"), col("bg.w2"))
    val uni = docs.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    flat.groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= 5)
      .join(uni.select(col("w").as("w1"), col("c").as("c_x")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c_y")), "w2")
      .withColumn("lift_ppm", expr("c_xy * 1000000 div (c_x * c_y)"))
      .select("w1", "w2", "c_xy", "c_x", "c_y", "lift_ppm")
      .orderBy(col("lift_ppm").desc, col("c_xy").desc, col("w1"),
        col("w2"))
      .limit(30)
  }

  val pmiCollocationsSql: String = """
    WITH docs AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    flat AS (
      SELECT bg.w1 AS w1, bg.w2 AS w2 FROM (
        SELECT unnest(list_transform(range(1, len(t)),
          i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS bg
        FROM docs WHERE len(t) >= 2)),
    uni AS (
      SELECT w, count(*) AS c FROM (
        SELECT unnest(t) AS w FROM docs) GROUP BY w),
    bgc AS (
      SELECT w1, w2, count(*) AS c_xy FROM flat
      GROUP BY w1, w2 HAVING count(*) >= 5)
    SELECT b.w1, b.w2, b.c_xy, u1.c AS c_x, u2.c AS c_y,
      b.c_xy * 1000000 // (u1.c * u2.c) AS lift_ppm
    FROM bgc b
    JOIN uni u1 ON b.w1 = u1.w
    JOIN uni u2 ON b.w2 = u2.w
    ORDER BY lift_ppm DESC, c_xy DESC, w1, w2
    LIMIT 30"""

  // ------------------------------------------- t31 n-gram novelty
  /** t31 — novelty scoring by first-occurrence attribution: for each
    * document (in doc_id ingestion order), what fraction of its
    * distinct word-3-grams has never appeared in ANY earlier document?
    * This is the marginal-contribution measure data-mixing uses to
    * decide whether a new shard adds information or re-treads the
    * corpus — the longitudinal complement of t21's within-corpus dup
    * fraction. `novelty_ppm` is exact integer floor division, so the
    * oracle matches hash-exactly.
    *
    * Scale shape: "seen earlier" needs NO ordered scan — the first
    * holder of a gram is just `min(doc_id)` per gram, one map-side-
    * combinable aggregate over the exploded gram stream; attribution
    * joins it back gram-keyed and re-aggregates per doc. Two shuffles
    * total, both linear in distinct (gram, doc) pairs. At 100 TB the
    * production variant would hash grams to 64-bit to shrink shuffle
    * width; strings are kept here so the oracle replays the exact
    * pipeline. */
  def ngramNovelty(s: SparkSession, dir: String): DataFrame = {
    val grams = Relational.table(s, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(array_distinct(expr(
        "transform(sequence(1, size(toks) - 2), i -> " +
          "concat_ws(' ', element_at(toks, i), " +
          "element_at(toks, i + 1), element_at(toks, i + 2)))")))
        .as("gram"))
      .persist()
    val first = grams.groupBy("gram")
      .agg(min(col("doc_id")).as("first_doc"))
    val out = grams.join(first, "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty_ppm", expr("n_novel * 1000000 div n_grams"))
    graft.queries.CacheScope.materializeAndRelease(out, grams)
  }

  val ngramNoveltySql: String = """
    WITH docs AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE len(string_split(text, ' ')) >= 3),
    grams AS (
      SELECT doc_id, unnest(list_distinct(
        [array_to_string(list_slice(t, i, i + 2), ' ')
         FOR i IN range(1, len(t) - 1)])) AS gram
      FROM docs),
    first AS (
      SELECT gram, min(doc_id) AS first_doc FROM grams GROUP BY gram)
    SELECT g.doc_id, count(*) AS n_grams,
      count(*) FILTER (f.first_doc = g.doc_id) AS n_novel,
      count(*) FILTER (f.first_doc = g.doc_id) * 1000000 // count(*)
        AS novelty_ppm
    FROM grams g JOIN first f ON g.gram = f.gram
    GROUP BY g.doc_id
    ORDER BY doc_id"""

  // ------------------------------------- t33 training sequences
  /** t33 — GPT-style training-sequence assembly, the terminal step of
    * the whole curation stack: documents are epoch-shuffled (s09's
    * seeded md5 permutation), concatenated with one EOS token after
    * each doc, and the resulting token stream is cut every 512 tokens
    * REGARDLESS of document boundaries — the zero-padding-waste
    * packing used for LLM pretraining (t05's bin packing is the
    * respect-boundaries alternative; t20's length-binned batches the
    * padded one). Each document's global token offset places it in
    * its sequence: seq_id = offset div 512.
    *
    * The global cumulative sum over the shuffled order is computed
    * EXACTLY but without a global sort: the shard key is a PREFIX
    * (first 2 md5 hex chars) of the full sort key, so global order ==
    * (shard, key) order, and the global running sum decomposes into
    * per-shard window cumsums + a 256-row prefix-total offset (the
    * st18/s09 two-phase trick). The oracle computes the SAME stream
    * with one naive global window — the hash match certifies the
    * shard decomposition exact, token for token.
    *
    * Scale shape: one shuffle on the 256-way shard key + in-shard
    * sort; the only global object is the 256-row shard-total table
    * (broadcast). No single-partition window anywhere; at 100 TB the
    * stream cut is embarrassingly parallel after the one shuffle. */
  def trainingSequences(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val SeqLen = 512L
    val key = md5(concat(lit("t33#"), col("doc_id")))
    val docs = Relational.table(s, dir, "documents")
      .select(col("doc_id"), key.as("k"),
        (size(split(col("text"), " ")) + 1).cast("long").as("n_tok_eos"))
      .withColumn("shard", substring(col("k"), 1, 2))
    val wIn = Window.partitionBy(col("shard")).orderBy(col("k"))
    val inShard = docs
      .withColumn("cum_in", sum(col("n_tok_eos")).over(wIn))
    val wPrefix = Window.orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = docs.groupBy("shard")
      .agg(sum(col("n_tok_eos")).as("shard_tok"))
      .withColumn("offset",
        coalesce(sum(col("shard_tok")).over(wPrefix), lit(0L)))
      .select("shard", "offset")
    inShard.join(broadcast(offsets), "shard")
      .select(col("doc_id"), col("n_tok_eos"),
        (col("offset") + col("cum_in") - col("n_tok_eos"))
          .as("tok_start"))
      .withColumn("seq_id", expr(s"tok_start div $SeqLen"))
      .select("doc_id", "n_tok_eos", "tok_start", "seq_id")
  }

  val trainingSequencesSql: String = """
    SELECT doc_id, n_tok_eos,
      CAST(cum - n_tok_eos AS BIGINT) AS tok_start,
      CAST((cum - n_tok_eos) // 512 AS BIGINT) AS seq_id
    FROM (
      SELECT doc_id,
        CAST(len(string_split(text, ' ')) + 1 AS BIGINT) AS n_tok_eos,
        sum(len(string_split(text, ' ')) + 1) OVER (
          ORDER BY md5('t33#' || doc_id)) AS cum
      FROM documents)
    ORDER BY doc_id"""

  // -------------------------------------- t35 domain quality rollup
  /** t35 — domain-level quality aggregation, the FineWeb-style
    * "filter by DOMAIN, not by document" discipline: documents roll
    * up to their canonical crawl host (d14's URL synthesis +
    * canonicalization), each host gets integer-milli quality stats
    * (stopword-free length-and-punctuation proxy — t02's signals,
    * whole-host aggregated), and hosts are gated into keep /
    * review / drop bands on their MEAN milli-quality — cross-
    * multiplied, no division. Low-quality domains poison every doc
    * they host; this is the audit that finds them before any per-doc
    * filter runs.
    *
    * Scale shape: canonicalization is d14's pure map pass; the
    * rollup is ONE map-combinable (host) agg; the gate is plan-side
    * arithmetic on host-cardinality rows. */
  def domainQuality(s: SparkSession, dir: String): DataFrame = {
    val host = regexp_replace(
      lower(concat(col("source"), lit(".example.com"))),
      "^(www|m)\\.", "")
    val words = size(split(col("text"), " ")).cast("long")
    val qualityMilli =
      least(lit(1000L), words * 10L) -
        least(lit(500L),
          (length(col("text")) -
            length(regexp_replace(col("text"), "[^a-z ]", ""))) * 5L)
    Relational.table(s, dir, "documents")
      .select(host.as("host"), qualityMilli.as("q"))
      .groupBy("host")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("q")).as("q_sum"),
        min(col("q")).as("q_min"),
        max(col("q")).as("q_max"))
      .withColumn("band",
        when(col("q_sum") >= col("n_docs") * 560L, "keep")
          .when(col("q_sum") >= col("n_docs") * 500L, "review")
          .otherwise("drop"))
      .select("host", "n_docs", "q_sum", "q_min", "q_max", "band")
  }

  val domainQualitySql: String = """
    WITH scored AS (
      SELECT
        regexp_replace(lower(source || '.example.com'),
          '^(www|m)\.', '') AS host,
        least(1000, CAST(len(string_split(text, ' ')) AS BIGINT) * 10)
          - least(500, (len(text) -
              len(regexp_replace(text, '[^a-z ]', '', 'g'))) * 5)
          AS q
      FROM documents)
    SELECT host, count(*) AS n_docs,
      CAST(sum(q) AS BIGINT) AS q_sum,
      CAST(min(q) AS BIGINT) AS q_min,
      CAST(max(q) AS BIGINT) AS q_max,
      CASE WHEN sum(q) >= count(*) * 560 THEN 'keep'
           WHEN sum(q) >= count(*) * 500 THEN 'review'
           ELSE 'drop' END AS band
    FROM scored
    GROUP BY host
    ORDER BY host"""

  // ------------------------------------ t34 decontaminated split
  /** t34 — the decontaminated train/eval split, composing s08's hash
    * split with t28's gram-overlap check into the MANIFEST every
    * training run needs: documents split 80/20 by the portable md5
    * gate, then every train doc sharing ANY 8-gram with ANY eval doc
    * is moved to `train_purged` (eval is never touched — purging eval
    * would bias the benchmark toward whatever survived). A canary
    * phrase planted on every 97th doc guarantees cross-split overlap
    * exists, so the purge path is provably live. Output: per final
    * bucket, document and token counts — the numbers that go in the
    * model card.
    *
    * Scale shape: the gram join is t28's — train grams vs DISTINCT
    * eval grams (eval is the small side by construction: broadcast),
    * one semi-join, contaminated doc_ids deduped before the
    * manifest agg. No all-pairs anything. */
  def decontaminatedSplit(s: SparkSession, dir: String): DataFrame = {
    val canary = " leak canary omega psi chi phi upsilon tau"
    val docs = Relational.table(s, dir, "documents")
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(97)) === 0,
          concat(col("text"), lit(canary))).otherwise(col("text"))
          .as("text"))
    val u = conv(substring(md5(concat(lit("t34#"), col("doc_id"))),
      1, 8), 16, 10).cast("long")
    val tagged = docs
      .withColumn("bucket",
        when(u * 10 < 8L * 4294967296L, "train").otherwise("eval"))
      .persist()
    def grams(df: DataFrame): DataFrame = df
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= DupGramN)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(toks) - $DupGramN + 1), " +
          s"i -> array_join(slice(toks, i, $DupGramN), ' '))")).as("gram"))
    val evalGrams = grams(tagged.filter(col("bucket") === "eval"))
      .select("gram").distinct()
    val contaminated = grams(tagged.filter(col("bucket") === "train"))
      .join(broadcast(evalGrams), Seq("gram"), "left_semi")
      .select("doc_id").distinct()
      .withColumn("hit", lit(1L))
    val out = tagged.join(contaminated, Seq("doc_id"), "left")
      .withColumn("final_bucket",
        when(col("bucket") === "eval", "eval")
          .when(col("hit").isNotNull, "train_purged")
          .otherwise("train"))
      .groupBy("final_bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast("long")).as("n_tokens"))
    graft.queries.CacheScope.materializeAndRelease(out, tagged)
  }

  val decontaminatedSplitSql: String = s"""
    WITH docs AS (
      SELECT doc_id,
        CASE WHEN doc_id % 97 = 0
          THEN text || ' leak canary omega psi chi phi upsilon tau'
          ELSE text END AS text
      FROM documents),
    tagged AS (
      SELECT doc_id, text,
        CASE WHEN ('0x' || substr(md5('t34#' || doc_id), 1, 8))::BIGINT
            * 10 < 8 * 4294967296
          THEN 'train' ELSE 'eval' END AS bucket
      FROM docs),
    toks AS (
      SELECT doc_id, bucket, string_split(text, ' ') AS t FROM tagged),
    grams AS (
      SELECT doc_id, bucket, unnest(list_transform(
          range(1, len(t) - $DupGramN + 2),
          i -> array_to_string(t[i:i+${DupGramN - 1}], ' '))) AS gram
      FROM toks WHERE len(t) >= $DupGramN),
    eval_grams AS (
      SELECT DISTINCT gram FROM grams WHERE bucket = 'eval'),
    contaminated AS (
      SELECT DISTINCT g.doc_id
      FROM grams g JOIN eval_grams e ON g.gram = e.gram
      WHERE g.bucket = 'train')
    SELECT
      CASE WHEN tk.bucket = 'eval' THEN 'eval'
           WHEN c.doc_id IS NOT NULL THEN 'train_purged'
           ELSE 'train' END AS final_bucket,
      count(*) AS n_docs,
      CAST(sum(len(tk.t)) AS BIGINT) AS n_tokens
    FROM toks tk LEFT JOIN contaminated c ON tk.doc_id = c.doc_id
    GROUP BY 1
    ORDER BY final_bucket"""

  // ------------------------------------------ t32 mojibake audit
  /** t32 — encoding-damage audit (the ftfy-style pass every web-scale
    * corpus runs before training: U+FFFD replacement characters mean
    * an upstream transcode already destroyed bytes, zero-width spaces
    * poison tokenization silently, and stray C0 controls break
    * downstream parsers). Corruption is PLANTED deterministically so
    * the gate is non-vacuous on the clean synthetic corpus: every
    * 37th doc gains a U+FFFD, every 41st a leading zero-width space,
    * every 43rd a trailing BEL control — doc 0 (divisible by all
    * three) carries every class at once. Counting is the portable
    * length-difference trick: chars = len(s) − len(regexp_replace(s,
    * class, '', g)), identical in both engines, no UDF.
    *
    * Scale shape: a pure codegen'd map pass + ONE map-combinable agg
    * on (source) — the audit costs a single scan at 100 TB, which is
    * why it runs unconditionally in real ingest paths. */
  def mojibakeAudit(s: SparkSession, dir: String): DataFrame = {
    val planted = when(col("doc_id") % 37 === 0,
      concat(col("text"), lit("\uFFFD"))).otherwise(col("text"))
    val planted2 = when(col("doc_id") % 41 === 0,
      concat(lit("\u200B"), planted)).otherwise(planted)
    val planted3 = when(col("doc_id") % 43 === 0,
      concat(planted2, lit("\u0007"))).otherwise(planted2)
    def countOf(c: org.apache.spark.sql.Column, pat: String) =
      (length(c) - length(regexp_replace(c, pat, ""))).cast("long")
    Relational.table(s, dir, "documents")
      .select(col("doc_id"), col("source"), planted3.as("t"))
      .select(col("doc_id"), col("source"),
        countOf(col("t"), "\uFFFD").as("repl_chars"),
        countOf(col("t"), "\u200B").as("zw_chars"),
        countOf(col("t"), "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]")
          .as("ctl_chars"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("repl_chars") + col("zw_chars") + col("ctl_chars")
          > 0, 1L).otherwise(0L)).as("n_flagged"),
        sum(col("repl_chars")).as("repl_chars"),
        sum(col("zw_chars")).as("zw_chars"),
        sum(col("ctl_chars")).as("ctl_chars"))
  }

  val mojibakeAuditSql: String = """
    WITH planted AS (
      SELECT doc_id, source,
        CASE WHEN doc_id % 43 = 0 THEN p2 || chr(7) ELSE p2 END AS t
      FROM (
        SELECT doc_id, source,
          CASE WHEN doc_id % 41 = 0 THEN chr(8203) || p1 ELSE p1 END
            AS p2
        FROM (
          SELECT doc_id, source,
            CASE WHEN doc_id % 37 = 0 THEN text || chr(65533)
                 ELSE text END AS p1
          FROM documents))),
    counted AS (
      SELECT doc_id, source,
        len(t) - len(regexp_replace(t, chr(65533), '', 'g'))
          AS repl_chars,
        len(t) - len(regexp_replace(t, chr(8203), '', 'g'))
          AS zw_chars,
        len(t) - len(regexp_replace(t,
          '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')) AS ctl_chars
      FROM planted)
    SELECT source, count(*) AS n_docs,
      CAST(sum(CASE WHEN repl_chars + zw_chars + ctl_chars > 0
        THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
      CAST(sum(repl_chars) AS BIGINT) AS repl_chars,
      CAST(sum(zw_chars) AS BIGINT) AS zw_chars,
      CAST(sum(ctl_chars) AS BIGINT) AS ctl_chars
    FROM counted
    GROUP BY source
    ORDER BY source"""

  // lazy: forces AFTER full object init, so oracle-SQL vals declared
  // below this registration can never be read as null
  lazy val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Seq(
      ("t01_token_count", tokenCount _, Some(tokenCountSql)),
      ("t02_quality_score", qualityScore _, Some(qualityScoreSql)),
      ("t03_lang_id", langId _, Some(langIdSql)),
      ("t04_fingerprint", fingerprintOracle _, Some(fingerprintSql)),
      ("t05_sequence_pack", sequencePack _, Some(sequencePackSql)),
      ("t06_normalize", normalize _, Some(normalizeSql)),
      ("t07_repetition", repetition _, Some(repetitionSql)),
      ("t08_pii_redact", piiRedact _, Some(piiRedactSql)),
      ("t09_decontaminate", decontaminate _, Some(decontaminateSql)),
      ("t10_token_histogram", tokenHistogram _, Some(tokenHistogramSql)),
      ("t11_tfidf", tfidf _, Some(tfidfSql)),
      ("t13_token_rarity", tokenRarity _, Some(tokenRaritySql)),
      ("t14_quality_gate", qualityGate _, Some(qualityGateSql)),
      ("t15_bloom_decontaminate", bloomDecontaminate _,
        Some(decontaminateSql)),
      ("t16_chunk_overlap", chunkOverlap _, Some(chunkOverlapSql)),
      ("t17_boilerplate_dedup", boilerplateDedup _,
        Some(boilerplateDedupSql)),
      ("t18_regex_tokens", regexTokens _, Some(regexTokensSql)),
      ("t19_bm25_topk", bm25TopK _, Some(bm25TopKSql)),
      ("t20_length_batches", lengthBinnedBatches _,
        Some(lengthBinnedBatchesSql)),
      ("t21_dup_ngrams", dupNgramFraction _, Some(dupNgramFractionSql)),
      ("t22_heavy_hitters", heavyHitters _, None),
      ("t23_bpe_merges", bpeMerges _, Some(bpeMergesSql)),
      ("t24_bpe_apply", bpeApply _, Some(bpeApplySql)),
      ("t25_surprisal", surprisal _, Some(surprisalSql)),
      ("t26_classifier_gate", classifierGate _, Some(classifierGateSql)),
      ("t27_luhn_redact", luhnRedact _, Some(luhnRedactSql)),
      ("t28_eval_gram_overlap", evalGramOverlap _,
        Some(evalGramOverlapSql)),
      ("t29_bigram_surprisal", bigramSurprisal _,
        Some(bigramSurprisalSql)),
      ("t30_pmi_collocations", pmiCollocations _,
        Some(pmiCollocationsSql)),
      ("t31_ngram_novelty", ngramNovelty _, Some(ngramNoveltySql)),
      ("t32_mojibake_audit", mojibakeAudit _, Some(mojibakeAuditSql)),
      ("t33_training_sequences", trainingSequences _,
        Some(trainingSequencesSql)),
      ("t34_decontaminated_split", decontaminatedSplit _,
        Some(decontaminatedSplitSql)),
      ("t35_domain_quality", domainQuality _, Some(domainQualitySql)),
      ("t36_tokenizer_fertility", tokenizerFertility _,
        Some(tokenizerFertilitySql)),
      ("t37_pretrain_manifest", pretrainManifest _,
        Some(pretrainManifestSql)),
      ("t38_vocab_growth", vocabGrowth _, Some(vocabGrowthSql)),
      ("t39_zipf_audit", zipfAudit _, Some(zipfAuditSql)),
      ("t40_compression_quality", compressionQuality _, None),
      ("t40_compression_inv", compressionInv _, Some(compressionInvSql)),
      ("t41_lm_perplexity", lmPerplexity _, None),
      ("t41_lm_inv", lmPerplexityInv _, Some(lmPerplexityInvSql)),
      ("t42_fuzzy_decontaminate", fuzzyDecontaminate _, None),
      ("t42_decon_inv", fuzzyDeconInv _, Some(fuzzyDeconInvSql)),
    )

  // --------------------------------------------- tokenizer fertility
  /** t36 — tokenizer fertility audit: bytes-per-token (and
    * chars-per-token) per language, the number a tokenizer review
    * asks first — scripts the tokenizer segments poorly cost
    * multiples of the compute per unit of text, and the gap shows up
    * as per-language fertility. Tokens are the BPE-ish pre-tokenizer
    * classes t18 counts (alpha runs, digit runs, other runs);
    * fertility is reported in exact MILLI-units via integer `div` on
    * the per-language sums — cross-multiplied, never a float ratio,
    * and ×1000 keeps the numerator in 64-bit range up to ~9 PB of
    * text per language (ppm would cap at ~9 TB — the precision/range
    * trade-off is deliberate and documented). One combinable
    * aggregate over one corpus scan; the byte/char split makes the
    * multi-byte-script penalty visible (equal on an all-ASCII draw,
    * diverging the moment a non-Latin language lands). */
  def tokenizerFertility(s: SparkSession, dir: String): DataFrame = {
    def n(re: String) =
      size(expr(s"regexp_extract_all(text, '$re', 0)")).cast("long")
    Relational.table(s, dir, "documents")
      .select(col("lang"), octet_length(col("text")).cast("long")
        .as("bytes"), length(col("text")).cast("long").as("chars"),
        (n(AlphaRe) + n(NumRe) + n(OtherRe)).as("toks"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("bytes")).as("sum_bytes"),
        sum(col("toks")).as("sum_tokens"),
        expr("(sum(bytes) * 1000) div sum(toks)")
          .as("bytes_per_token_milli"),
        expr("(sum(chars) * 1000) div sum(toks)")
          .as("chars_per_token_milli"))
  }

  // `all` references this by name; keep object-init safe regardless
  // of declaration order (a plain val here would still be null when
  // `all` initializes above — see Verify's oracle_sql.json writer)
  lazy val tokenizerFertilitySql: String = s"""
    WITH per_doc AS (
      SELECT lang, strlen(text) AS bytes, length(text) AS chars,
        len(regexp_extract_all(text, '$AlphaRe'))
          + len(regexp_extract_all(text, '$NumRe'))
          + len(regexp_extract_all(text, '$OtherRe')) AS toks
      FROM documents)
    SELECT lang, count(*) AS n_docs,
      CAST(sum(bytes) AS BIGINT) AS sum_bytes,
      CAST(sum(toks) AS BIGINT) AS sum_tokens,
      CAST(sum(bytes) * 1000 AS BIGINT) // CAST(sum(toks) AS BIGINT)
        AS bytes_per_token_milli,
      CAST(sum(chars) * 1000 AS BIGINT) // CAST(sum(toks) AS BIGINT)
        AS chars_per_token_milli
    FROM per_doc
    GROUP BY lang
    ORDER BY lang"""

  // ------------------------------------------ pretraining manifest
  // `final val` + literal = compile-time constant, immune to object
  // init order: the lazy SQL below is forced DURING `all`'s
  // initialization, before later plain vals assign — a plain val
  // here interpolates as "null" into the oracle (bit us once: the
  // canary reached DuckDB as the literal string 'null' while Spark,
  // evaluating at query time, used the real one)
  private final val T37Canary =
    " canary alpha beta gamma delta epsilon zeta eta" // 8 tokens

  /** t37 — the composed pretraining-corpus build, end to end in ONE
    * labeled pass: exact dedup (d01) → length-band quality gate →
    * eval hold-out + 8-gram decontamination (t28) → 90/10 train/val
    * split (s08), with every document's FATE — the first stage that
    * dropped it, else its final split — resolved in a single CASE
    * chain over one frame, so the whole model-card ledger is ONE
    * aggregation. That per-doc-fate shape is the 100 TB design: the
    * naive per-stage recount re-scans the corpus once per ledger row;
    * this scans it once total (plus the two bounded side inputs: the
    * dedup keep-table and the eval-gram contamination list, both
    * broadcast-sized by construction — eval sets are small, that is
    * why they are eval sets). Plants keep every stage provably live:
    * exact copies of every 20th doc (id +2e6) feed the dedup drop, a
    * shared 8-token canary on the %37 and %101 slices feeds the
    * contamination drop, and the band edges drop both length tails.
    * All gates are md5/arithmetic — the DuckDB oracle replays the
    * entire five-stage pipeline bit-exactly. */
  def pretrainManifest(s: SparkSession, dir: String): DataFrame = {
    val plantGate = pmod(col("doc_id"), lit(37)) === 0 ||
      pmod(col("doc_id"), lit(101)) === 0
    val base = Relational.table(s, dir, "documents")
      .select(col("doc_id"),
        when(plantGate, concat(col("text"), lit(T37Canary)))
          .otherwise(col("text")).as("text"))
    val dupes = base.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + lit(2000000L)).as("doc_id"), col("text"))
    val raw = base.unionAll(dupes)
      .withColumn("n_chars", length(col("text")).cast("long"))
    // stage A side input: canonical id per exact-text group
    val keep = raw.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"))
    val labeled = raw.withColumn("h", md5(col("text")))
      .join(keep, Seq("h"))
      .withColumn("is_dup", col("doc_id") =!= col("keep_id"))
      .withColumn("is_quality",
        !col("is_dup") && col("n_chars").between(80, 480))
      .withColumn("is_eval",
        col("is_quality") && pmod(col("doc_id"), lit(101)) === 0)
    // stage C side input: train-side survivors sharing an 8-gram
    // with the eval hold-out
    def grams(df: DataFrame): DataFrame = df
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= DupGramN)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(toks) - $DupGramN + 1), " +
          s"i -> array_join(slice(toks, i, $DupGramN), ' '))")).as("gram"))
    val evalGrams = grams(labeled.filter(col("is_eval")))
      .select("gram").distinct()
    val contaminated =
      grams(labeled.filter(col("is_quality") && !col("is_eval")))
        .join(broadcast(evalGrams), Seq("gram"), "left_semi")
        .select("doc_id").distinct()
        .withColumn("hit", lit(1L))
    val u = conv(substring(md5(concat(lit("t37#"), col("doc_id"))),
      1, 8), 16, 10).cast("long")
    labeled.join(contaminated, Seq("doc_id"), "left")
      .withColumn("fate",
        when(col("is_dup"), "1_dropped_dup")
          .when(!col("is_quality"), "2_dropped_quality")
          .when(col("is_eval"), "4_eval")
          .when(col("hit").isNotNull, "3_dropped_contaminated")
          .when(u * 10 < 9L * 4294967296L, "4_train")
          .otherwise("4_val"))
      .groupBy("fate")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars"))
  }

  lazy val pretrainManifestSql: String = s"""
    WITH base AS (
      SELECT doc_id,
        CASE WHEN doc_id % 37 = 0 OR doc_id % 101 = 0
          THEN text || '$T37Canary' ELSE text END AS text
      FROM documents),
    raw AS (
      SELECT doc_id, text, length(text) AS n_chars FROM base
      UNION ALL
      SELECT doc_id + 2000000, text, length(text) FROM base
      WHERE doc_id % 20 = 0),
    keep AS (
      SELECT md5(text) AS h, min(doc_id) AS keep_id
      FROM raw GROUP BY 1),
    labeled AS (
      SELECT r.*, r.doc_id <> k.keep_id AS is_dup,
        r.doc_id = k.keep_id AND r.n_chars BETWEEN 80 AND 480
          AS is_quality,
        r.doc_id = k.keep_id AND r.n_chars BETWEEN 80 AND 480
          AND r.doc_id % 101 = 0 AS is_eval
      FROM raw r JOIN keep k ON md5(r.text) = k.h),
    toks AS (
      SELECT doc_id, is_quality, is_eval, string_split(text, ' ') AS t
      FROM labeled),
    grams AS (
      SELECT doc_id, is_eval, unnest(list_transform(
          range(1, len(t) - $DupGramN + 2),
          i -> array_to_string(t[i:i+${DupGramN - 1}], ' '))) AS gram
      FROM toks WHERE len(t) >= $DupGramN AND is_quality),
    eval_grams AS (
      SELECT DISTINCT gram FROM grams WHERE is_eval),
    contaminated AS (
      SELECT DISTINCT g.doc_id
      FROM grams g JOIN eval_grams e ON g.gram = e.gram
      WHERE NOT g.is_eval)
    SELECT
      CASE WHEN l.is_dup THEN '1_dropped_dup'
           WHEN NOT l.is_quality THEN '2_dropped_quality'
           WHEN l.is_eval THEN '4_eval'
           WHEN c.doc_id IS NOT NULL THEN '3_dropped_contaminated'
           WHEN ('0x' || substr(md5('t37#' || l.doc_id), 1, 8))::BIGINT
               * 10 < 9 * 4294967296 THEN '4_train'
           ELSE '4_val' END AS fate,
      count(*) AS n_docs,
      CAST(sum(l.n_chars) AS BIGINT) AS n_chars
    FROM labeled l LEFT JOIN contaminated c ON l.doc_id = c.doc_id
    GROUP BY 1
    ORDER BY fate"""

  // ------------------------------------------ t38 vocabulary growth
  /** t38 — vocabulary-growth (Heaps'-law) audit: distinct-token
    * counts over four NESTED corpus prefixes (doc-id quartile
    * bounds) plus the marginal growth ratio of each quarter in exact
    * ppm. The declining ratio sequence is the saturation curve a
    * data-mixing review reads to decide whether MORE of a source
    * still buys new vocabulary — the corpus-level twin of t31's
    * per-document n-gram novelty.
    *
    * Scale shape: ONE token scan feeding a single multi-distinct
    * aggregation (Catalyst plans the four conditional
    * `count_distinct`s as one Expand + agg pair — the c06 lesson,
    * never four rescans); the quartile bounds ride a broadcast
    * 1-row crossJoin, and distinct state is bounded by VOCABULARY
    * size per quarter, not corpus size. Ratios are floor-division
    * ppm over `greatest(v, 1)` so the arithmetic is total and
    * bit-exact in both engines. */
  def vocabGrowth(s: SparkSession, dir: String): DataFrame = {
    val docs = Relational.table(s, dir, "documents")
      .select(col("doc_id"), col("text"))
    val bounds = docs.agg(min(col("doc_id")).as("lo"),
      max(col("doc_id")).as("hi"))
    val toks = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .filter(col("t") =!= "")
    def vq(k: Int) = count_distinct(
      when(col("doc_id") <= expr(s"lo + (hi - lo + 1) * $k div 4"),
        col("t"))).as(s"v$k")
    toks.crossJoin(broadcast(bounds))
      .agg(vq(1), vq(2), vq(3), vq(4))
      .select(col("v1").as("v25"), col("v2").as("v50"),
        col("v3").as("v75"), col("v4").as("v100"),
        expr("(v2 - v1) * 1000000 div greatest(v1, 1)").as("g50_ppm"),
        expr("(v3 - v2) * 1000000 div greatest(v2, 1)").as("g75_ppm"),
        expr("(v4 - v3) * 1000000 div greatest(v3, 1)").as("g100_ppm"))
  }

  val vocabGrowthSql: String = """
    WITH b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi
               FROM documents),
    tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t
      FROM documents),
    v AS (
      SELECT
        count(DISTINCT CASE WHEN doc_id <= lo + (hi - lo + 1) * 1 // 4
          THEN t END) AS v25,
        count(DISTINCT CASE WHEN doc_id <= lo + (hi - lo + 1) * 2 // 4
          THEN t END) AS v50,
        count(DISTINCT CASE WHEN doc_id <= lo + (hi - lo + 1) * 3 // 4
          THEN t END) AS v75,
        count(DISTINCT CASE WHEN doc_id <= lo + (hi - lo + 1) * 4 // 4
          THEN t END) AS v100
      FROM tok, b WHERE t <> '')
    SELECT v25, v50, v75, v100,
      CAST((v50 - v25) * 1000000 // greatest(v25, 1) AS BIGINT)
        AS g50_ppm,
      CAST((v75 - v50) * 1000000 // greatest(v50, 1) AS BIGINT)
        AS g75_ppm,
      CAST((v100 - v75) * 1000000 // greatest(v75, 1) AS BIGINT)
        AS g100_ppm
    FROM v"""

  // ---------------------------------------- t39 Zipf rank-frequency
  private val ZipfMaxRank = 1024

  /** t39 — Zipf rank-frequency audit, t38's companion law: sample
    * the token frequency curve at power-of-2 ranks (1, 2, 4, …,
    * [[ZipfMaxRank]]) and report each sampled frequency's exact
    * integer log2 (t25's `length(bin(x)) − 1` trick) plus the bits
    * dropped since the previous sampled rank. Under Zipf (cnt ∝
    * 1/rank) each rank DOUBLING costs ~1 bit, so the bits_drop
    * column reads directly as the local Zipf exponent — the curve a
    * data-mixing review checks for head-heavy (boilerplate) or
    * flat-tail (template spam) deviations before trusting token
    * counts from a new source.
    *
    * Scale shape: one combinable token count, then a
    * TakeOrderedAndProject top-[[ZipfMaxRank]] — the global sort
    * never materializes the vocabulary; the rank window and lag run
    * on ≤1024 rows regardless of corpus size. All integer
    * arithmetic; bit-exact oracle. */
  def zipfAudit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = Relational.table(s, dir, "documents")
      .select(explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(ZipfMaxRank)
    val byRank = Window.orderBy(col("cnt").desc, col("token"))
    val sampled = top
      .withColumn("rank", row_number().over(byRank).cast("long"))
      .filter(expr("rank & (rank - 1)") === 0L)
      .withColumn("freq_bits", (length(bin(col("cnt"))) - 1).cast("long"))
    sampled
      .withColumn("bits_drop",
        coalesce(lag(col("freq_bits"), 1)
            .over(Window.orderBy(col("rank"))), col("freq_bits"))
          - col("freq_bits"))
      .select(col("rank"), col("token"), col("cnt"),
        col("freq_bits"), col("bits_drop"))
  }

  val zipfAuditSql: String = s"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents),
    cnts AS (
      SELECT token, count(*) AS cnt FROM tok WHERE token <> ''
      GROUP BY token),
    ranked AS (
      SELECT token, cnt,
        row_number() OVER (ORDER BY cnt DESC, token) AS rank
      FROM cnts ORDER BY cnt DESC, token LIMIT $ZipfMaxRank),
    pw AS (
      SELECT CAST(rank AS BIGINT) AS rank, token,
        CAST(cnt AS BIGINT) AS cnt,
        CAST(length(bin(cnt)) - 1 AS BIGINT) AS freq_bits
      FROM ranked WHERE rank & (rank - 1) = 0)
    SELECT rank, token, cnt, freq_bits,
      CAST(coalesce(lag(freq_bits) OVER (ORDER BY rank), freq_bits)
        - freq_bits AS BIGINT) AS bits_drop
    FROM pw
    ORDER BY rank"""

  // ----------------------------------------- compression-ratio gate
  /** milli-ratio below which a document counts as degenerate
    * repetition (boilerplate, stutter loops); the gate corpus'
    * natural range is ~390–1020 so the tail flags are non-vacuous at
    * the incompressible end and structurally reachable at this one. */
  private val RepetitiveMilli = 350L
  /** milli-ratio at/above which a document counts as near-
    * incompressible (binary spill, base64 blobs, high-entropy noise);
    * the gate corpus' short-doc tail reaches ~912 so the flag counts
    * are non-vacuous (short docs amortize no dictionary). */
  private val IncompressibleMilli = 900L

  /** Per-document deflate milli-ratio: raw-deflate bytes × 1000 div
    * UTF-8 bytes, pure integer readout of the native
    * [[graft.expr.DeflateLength]] kernel. */
  private def deflateRatioMilli(text: Column): Column =
    floor((graft.expr.DeflateLength.deflateLength(text).cast("long")
      * 1000L).cast("double") /
      greatest(octet_length(text).cast("long"), lit(1L))).cast("long")

  /** t40 — compression-ratio quality signal (the Gopher-family
    * curation rule no length/stopword heuristic replaces): documents
    * whose UTF-8 bytes deflate to under [[RepetitiveMilli]]/1000 of
    * their size are degenerate repetition; documents at/above
    * [[IncompressibleMilli]]/1000 are effectively incompressible
    * (binary spill, base64, high-entropy junk). Both tails are
    * filtered before pretraining; the mid-band ratio itself is a
    * standard quality feature.
    *
    * Scale shape: one scan, the deflate kernel is a native codegen'd
    * expression ([[graft.expr.DeflateLength]] — per-thread pooled
    * zlib state, no UDF boxing, no break in the whole-stage span),
    * then a per-source partial-agg'd groupBy over 20 groups — scan
    * speed at 100 TB, shuffle carries 20 rows. Deflate byte counts
    * are zlib-build-specific → rows-only; t40_compression_inv is the
    * oracle-checked companion. */
  def compressionQuality(s: SparkSession, dir: String): DataFrame =
    Relational.table(s, dir, "documents")
      .select(col("source"),
        deflateRatioMilli(col("text")).as("ratio_milli"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ratio_milli")).as("sum_ratio_milli"),
        min(col("ratio_milli")).as("min_ratio_milli"),
        max(col("ratio_milli")).as("max_ratio_milli"),
        sum((col("ratio_milli") < RepetitiveMilli).cast("long"))
          .as("n_repetitive"),
        sum((col("ratio_milli") >= IncompressibleMilli).cast("long"))
          .as("n_incompressible"))

  /** t40's oracle-checked invariants — the falsifiable contract of a
    * kernel DuckDB cannot replay: (a) raw deflate never EXPANDS text
    * beyond the 5-bytes-per-16 KB stored-block overhead (64-byte
    * slack covers every gate document); (b) the ratio is strictly
    * positive (finish() always emits at least the final block); (c) a
    * degenerate 1000×"ab" literal compresses below 10% while the
    * corpus median does not — the separation the quality rule exists
    * to detect. A wrong kernel (truncated count, missed finish loop,
    * expansion bug) flips a flag and hash-fails the row. */
  def compressionInv(s: SparkSession, dir: String): DataFrame = {
    val perDoc = Relational.table(s, dir, "documents")
      .select(
        graft.expr.DeflateLength.deflateLength(col("text")).cast("long")
          .as("dlen"),
        octet_length(col("text")).cast("long").as("blen"),
        deflateRatioMilli(col("text")).as("ratio_milli"))
    perDoc.agg(
        count(lit(1)).as("n_docs"),
        max(col("dlen") - (col("blen") + 64L)).as("worst_expansion"),
        min(col("ratio_milli")).as("min_ratio"),
        percentile_approx(col("ratio_milli"), lit(0.5), lit(10000))
          .as("median_ratio"))
      .select(col("n_docs"),
        (col("worst_expansion") <= 0L).as("no_expansion"),
        (col("min_ratio") > 0L).as("ratio_positive"),
        ((graft.expr.DeflateLength.deflateLength(
          lit("ab" * 1000)).cast("long") * 1000L / 2000L < 100L) &&
          (col("median_ratio") >= 100L)).as("repeat_separates"))
  }

  val compressionInvSql: String = """
    SELECT CAST(count(*) AS BIGINT) AS n_docs, TRUE AS no_expansion,
      TRUE AS ratio_positive, TRUE AS repeat_separates
    FROM documents"""

  // ------------------- t41 n-gram LM perplexity (CCNet-style filter)
  /** t41 — LANGUAGE-MODEL PERPLEXITY quality scoring, the CCNet/
    * Gopher filter the quality family (t14 heuristics, t40
    * compression ratio) was still missing: train a Laplace-smoothed
    * bigram LM on the corpus, STORE it as an artifact, and score
    * every document's cross-entropy under the STORED model —
    * H(doc) = −(1/m)·Σ log2 P(w2|w1) over its m bigrams, with
    * P(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V).
    *
    * The ANALYZE/score split is executed for real (the sk04/sk05
    * catalog discipline): the train pass is one bigram scan (a
    * partial-agg'd count whose output is vocabulary-bounded by
    * Heaps' law, NOT corpus-bounded) plus one narrow vocabulary
    * count; the UNIGRAM table never touches the corpus — c(w1) is
    * exactly Σ c(w1 ·) over the stored bigram artifact, derived at
    * vocabulary cost. Both tables persist to parquet; the score pass
    * re-derives doc
    * bigrams in-plan and joins the STORED model back (broadcast at
    * gate scale; at 100 TB the LM is trained on a sample and pruned
    * to the top-k bigrams, and the join stays broadcast because the
    * MODEL is vocabulary-sized — this is why perplexity filtering is
    * scan-speed in production pipelines). Emitted per language: doc
    * and bigram totals (exact integers) and the entropy profile.
    * log2 arithmetic is library-specific → rows-only;
    * [[lmPerplexityInv]] ★ is the oracle companion. */
  def lmPerplexity(s: SparkSession, dir: String): DataFrame = {
    val docs = Relational.table(s, dir, "documents")
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
    val bigrams = docs.select(col("doc_id"), col("lang"),
      explode(transform(sequence(lit(1), size(col("w")) - 1),
        i => struct(element_at(col("w"), i).as("w1"),
          element_at(col("w"), i + 1).as("w2")))).as("b"))
      .select(col("doc_id"), col("lang"),
        col("b.w1").as("w1"), col("b.w2").as("w2"))
    // ANALYZE: train + persist the model (one scan, two partial aggs)
    val lmPath = Artifacts.root(s, "t41", dir).getAbsolutePath
    bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .write.mode("overwrite").parquet(s"$lmPath/bigrams")
    // c(w1) = Σ_w2 c(w1, w2): derived from the STORED bigram table at
    // vocabulary cost — no second corpus scan
    s.read.parquet(s"$lmPath/bigrams")
      .groupBy("w1").agg(sum(col("c12")).as("c1"))
      .write.mode("overwrite").parquet(s"$lmPath/unigrams")
    val vocab = Relational.table(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .agg(count_distinct(col("word"))).collect()(0).getLong(0)
    // score from the STORED model only
    val lmB = s.read.parquet(s"$lmPath/bigrams")
    val lmU = s.read.parquet(s"$lmPath/unigrams")
    val scored = bigrams
      .join(broadcast(lmB), Seq("w1", "w2"))
      .join(broadcast(lmU), Seq("w1"))
      .select(col("doc_id"), col("lang"),
        (-log2((col("c12") + 1.0) / (col("c1") + lit(vocab.toDouble))))
          .as("bits"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("m"), avg(col("bits")).as("h"))
    scored.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("m")).as("n_bigrams"),
        avg(col("h")).as("mean_h_bits"), max(col("h")).as("max_h_bits"))
      .select(col("lang"), col("n_docs"), col("n_bigrams"),
        lit(vocab).as("vocab"), col("mean_h_bits"), col("max_h_bits"))
  }

  /** t41's oracle companion: the exact integer frame of the LM —
    * docs with ≥2 words, total bigrams (= spaces, single-space
    * corpus), global vocabulary — plus the smoothing bound
    * 0 < H ≤ log2(N + V) (P(w2|w1) ≥ 1/(c(w1)+V) ≥ 1/(N+V)), which a
    * truncated count table, a broken join, or a sign slip all
    * violate. */
  def lmPerplexityInv(s: SparkSession, dir: String): DataFrame = {
    val prof = lmPerplexity(s, dir)
    val totals = prof.agg(sum(col("n_bigrams")).as("n_total"))
    prof.crossJoin(broadcast(totals))
      .select(col("lang"), col("n_docs"), col("n_bigrams"), col("vocab"),
        (col("mean_h_bits") > 0.0 && col("max_h_bits") > 0.0 &&
          col("max_h_bits") <=
            log2(col("n_total") + col("vocab") + 1.0)).as("h_in_band"))
  }

  val lmPerplexityInvSql: String = """
    WITH d AS (
      SELECT lang,
        length(text) - length(replace(text, ' ', '')) AS n_sp
      FROM documents),
    v AS (
      SELECT count(DISTINCT word) AS vocab FROM (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents))
    SELECT lang, count(*) AS n_docs,
      CAST(sum(n_sp) AS BIGINT) AS n_bigrams,
      (SELECT vocab FROM v) AS vocab,
      TRUE AS h_in_band
    FROM d WHERE n_sp >= 1
    GROUP BY lang ORDER BY lang"""

  // --------------------------------------------- t42 fuzzy decontamination
  /** Signature-agreement threshold: estimated Jaccard >= 0.5 (d02's bar). */
  private val FuzzyDeconTau = 0.5

  /** t42 — FUZZY eval-set decontamination: flag training documents
    * that are NEAR-duplicates of an evaluation document — the
    * paraphrase-level contamination the exact 13-gram checks (t09 /
    * t15 / t28) cannot see, caught with the d02 MinHash-LSH machinery
    * pointed across the train×eval axis instead of train×train.
    * Eval set = every 10th document (the ids
    * [[Dedup.corpusWithNearDups]] plants corruptions of); train corpus
    * = the remaining documents PLUS those planted near-copies, so the
    * ground-truth contamination is the (orig + PlantOffset, orig)
    * pair set and recall is measurable (t42_decon_inv).
    *
    * Scale shape: the eval side (an eval SUITE — thousands of docs,
    * never billions) is signed + banded once and BROADCAST; the train
    * corpus is signed in ONE scan (native [[graft.expr.MinHashSignature]]
    * expression, whole-stage codegen) and band-joined against the
    * broadcast buckets — NO train-corpus shuffle exists in the plan:
    * only the candidate pairs (a few per contaminated doc) move, then
    * the signature-estimated Jaccard filters and the pair set dedups
    * across bands. At 100 TB this pass costs one corpus scan per
    * eval-suite release; upstream exact-dedup staging (d01) keeps
    * candidate multiplicity bounded exactly as in d02. */
  /** MinHash-sign and band a (doc_id, text) frame — works on batch
    * AND streaming frames (pure expressions), shared with st33. */
  private[queries] def deconBanded(in: DataFrame): DataFrame = in
    .select(col("doc_id"),
      graft.expr.MinHashSignature.minhashSignature(
        col("text"), Dedup.MinhashK).as("sig"))
    .select(col("doc_id"), col("sig"),
      explode(array(Dedup.bandStructs: _*)).as("bb"))

  /** The eval suite: every 10th document. */
  private[queries] def deconEval(s: SparkSession, dir: String): DataFrame =
    Relational.table(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .filter(col("doc_id") % 10 === 0)

  /** The train corpus: the remaining documents plus the planted
    * near-copies of the eval docs. */
  private[queries] def deconTrain(s: SparkSession, dir: String): DataFrame =
    Relational.table(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .filter(col("doc_id") % 10 =!= 0)
      .unionAll(Dedup.corpusWithNearDups(s, dir)
        .filter(col("doc_id") >= Dedup.PlantOffset))

  /** The banded+renamed broadcast side, and the candidate scoring —
    * factored so the streamed twin (st33) runs the IDENTICAL
    * arithmetic per micro-batch. Input: a banded train frame. */
  private[queries] def deconCandidates(trainBanded: DataFrame,
      evalBanded: DataFrame): DataFrame =
    trainBanded.select(col("doc_id").as("train_id"),
        col("sig").as("tsig"), col("bb"))
      .join(broadcast(evalBanded.select(col("doc_id").as("eval_id"),
        col("sig").as("esig"), col("bb"))), Seq("bb"))
      .select(col("train_id"), col("eval_id"),
        Dedup.estJaccardCol(col("tsig"), col("esig")).as("est_jaccard"))
      .filter(col("est_jaccard") >= FuzzyDeconTau)

  def fuzzyDecontaminate(s: SparkSession, dir: String): DataFrame =
    deconCandidates(deconBanded(deconTrain(s, dir)),
        deconBanded(deconEval(s, dir)))
      .dropDuplicates("train_id", "eval_id")

  /** t42's contract, surfaced to the driver gate: (a) >= 80% of the
    * planted contamination pairs are flagged (d02's bound — same
    * corpus, same bands), (b) every flagged pair has a real eval doc
    * on the eval side and never an eval doc mislabeled as train, and
    * (c) for EVERY flagged pair the signature-estimated Jaccard is
    * within 0.35 (4σ at k=32) of the EXACT word-3-gram Jaccard
    * recomputed from the texts — the estimates are measurements, not
    * noise. */
  def fuzzyDeconInv(s: SparkSession, dir: String): DataFrame = {
    val flagged = fuzzyDecontaminate(s, dir)
    val docs = Relational.table(s, dir, "documents")
      .select(col("doc_id"), col("text"))
    val planted = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + Dedup.PlantOffset).as("train_id"),
        col("doc_id").as("eval_id"))
    val hit = planted.join(flagged.select("train_id", "eval_id"),
        Seq("train_id", "eval_id"), "left_semi")
      .agg(count(lit(1)).as("hit"))
    val tot = planted.agg(count(lit(1)).as("tot"))
    val sidesBad = flagged.agg(coalesce(sum(
      (col("eval_id") % 10 =!= 0 ||
        col("eval_id") >= Dedup.PlantOffset ||
        (col("train_id") % 10 === 0 &&
          col("train_id") < Dedup.PlantOffset)).cast("long")),
      lit(0L)).as("n_sides_bad"))
    // exact 3-gram Jaccard of the flagged pairs, from the texts
    val texts = docs.unionAll(Dedup.corpusWithNearDups(s, dir)
      .filter(col("doc_id") >= Dedup.PlantOffset))
    val grams = texts.select(col("doc_id"), array_distinct(
      graft.expr.NgramHashes.ngramHashes(col("text"), 3)).as("g"))
    val bandBad = flagged
      .join(grams.select(col("doc_id").as("train_id"),
        col("g").as("tg")), Seq("train_id"))
      .join(grams.select(col("doc_id").as("eval_id"),
        col("g").as("eg")), Seq("eval_id"))
      .select(col("est_jaccard"),
        (size(array_intersect(col("tg"), col("eg"))).cast("double") /
          greatest(size(array_union(col("tg"), col("eg"))), lit(1))
          ).as("exact_jaccard"))
      .agg(coalesce(sum((abs(col("est_jaccard") - col("exact_jaccard"))
        > 0.35).cast("long")), lit(0L)).as("n_band_bad"))
    hit.crossJoin(tot).crossJoin(sidesBad).crossJoin(bandBad)
      .select((col("hit") >= lit(0.8) * col("tot")).as("recall_ok"),
        (col("n_sides_bad") === 0).as("sides_ok"),
        (col("n_band_bad") === 0).as("est_band_ok"))
  }

  val fuzzyDeconInvSql: String =
    "SELECT TRUE AS recall_ok, TRUE AS sides_ok, TRUE AS est_band_ok"
}
