package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Artifacts
import org.apache.spark.sql.types.{DecimalType, LongType, StringType,
  StructField, StructType}

/** Source/sink coverage beyond parquet+CSV (the reference only ever
  * reads CSV/XML and writes CSV — `generator.py:147-161`,
  * `README.md:79-81`): JSON-lines is the interchange format most
  * training-data pipelines actually ship documents in. */
object Sources {

  /** j01 — JSON-lines sink -> source roundtrip, proven by aggregate
    * equality against the original table: write the English documents
    * as JSONL, read them back with an EXPLICIT schema (schema
    * inference costs an extra full scan at 100 TB and can mistype
    * empty partitions — never infer in production), and aggregate.
    * The DuckDB oracle computes the same aggregates straight from the
    * parquet table, so a hash match proves the JSON encode/decode is
    * lossless for every doc_id and text byte. Writer parallelism is
    * per-partition (no coalesce(1) — a 100 TB sink must fan out);
    * aggregate equality is order-independent by construction. */
  def jsonlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val docs = Relational.table(s, dir, "documents")
      .filter(col("lang") === "en")
      .select(col("doc_id"), col("source"), col("text"))
    // per-session dir: two concurrent JVMs (test run alongside bench)
    // must not race on the same overwrite-mode output path
    val out = Artifacts.root(s, "j01_jsonl", dir).getAbsolutePath
    docs.write.mode("overwrite").json(out)
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("source", StringType),
      StructField("text", StringType)))
    s.read.schema(schema).json(out)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_doc_id"),
        sum(length(col("text")).cast("long")).as("sum_chars"))
  }

  val jsonlRoundtripSql: String = """
    SELECT source, count(*) AS n_docs,
      CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
      CAST(sum(length(text)) AS BIGINT) AS sum_chars
    FROM documents WHERE lang = 'en'
    GROUP BY source
    ORDER BY source"""

  /** j02 — hive-partitioned parquet sink → pruned source: write the
    * documents table `partitionBy("lang")`, read it back filtered to
    * two languages, and aggregate per (lang, source). The layout is
    * THE standard 100-TB table organization — a `lang='en'` predicate
    * becomes directory pruning, so the scan never opens the other
    * partitions' files (PlanSpec asserts the scan's PartitionFilters
    * and that the read schema excludes pruned data). Writer fanout is
    * per-partition-per-task; no coalesce, no global sort.
    *
    * The DuckDB oracle aggregates the same slice straight from the
    * original parquet, so a hash match proves the
    * partition-write/prune-read cycle is lossless — including the
    * lang column's round trip through directory names. */
  def partitionedSink(s: SparkSession, dir: String): DataFrame = {
    val docs = Relational.table(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"), col("lang"))
    val out = Artifacts.root(s, "j02_part", dir).getAbsolutePath
    docs.write.mode("overwrite").partitionBy("lang").parquet(out)
    // j15's fail-fast pattern: the read below prunes to lang=en/de
    // DIRECTORIES — if the hive layout ever changes shape (missing
    // dirs, nulls under __HIVE_DEFAULT_PARTITION__), fail with a
    // named precondition instead of a bare oracle hash mismatch
    val langDirs = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    require(langDirs.contains("lang=en") && langDirs.contains("lang=de")
        && !langDirs.exists(_.contains("HIVE_DEFAULT_PARTITION")),
      s"j02 precondition: partitionBy(lang) layout must contain " +
        s"lang=en and lang=de dirs and no null partition (got " +
        s"${langDirs.toSeq.sorted.mkString(", ")})")
    s.read.parquet(out)
      .filter(col("lang").isin("en", "de"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_doc_id"),
        sum(col("n_chars").cast("long")).as("sum_chars"))
  }

  val partitionedSinkSql: String = """
    SELECT lang, source, count(*) AS n_docs,
      CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
      CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents WHERE lang IN ('en', 'de')
    GROUP BY lang, source
    ORDER BY lang, source"""

  /** j03 — ORC sink → source roundtrip (same contract as j01 for the
    * other columnar format Spark ships a native vectorized reader for;
    * ORC is what Hive-lineage warehouses hand a training pipeline).
    * Write the German documents as ORC, read back with an explicit
    * schema, and aggregate; the oracle computes identical aggregates
    * from the original parquet, so a hash match proves the ORC
    * encode/decode cycle is lossless — including string payload bytes
    * through ORC's dictionary+RLE encodings. Per-partition writer
    * fanout; no coalesce. */
  def orcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val docs = Relational.table(s, dir, "documents")
      .filter(col("lang") === "de")
      .select(col("doc_id"), col("source"), col("text"), col("n_chars"))
    val out = Artifacts.root(s, "j03_orc", dir).getAbsolutePath
    docs.write.mode("overwrite").orc(out)
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("source", StringType),
      StructField("text", StringType),
      StructField("n_chars", LongType)))
    s.read.schema(schema).orc(out)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_doc_id"),
        sum(col("n_chars")).as("sum_n_chars"),
        sum(length(col("text")).cast("long")).as("sum_chars"))
  }

  val orcRoundtripSql: String = """
    SELECT source, count(*) AS n_docs,
      CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
      CAST(sum(n_chars) AS BIGINT) AS sum_n_chars,
      CAST(sum(length(text)) AS BIGINT) AS sum_chars
    FROM documents WHERE lang = 'de'
    GROUP BY source
    ORDER BY source"""

  /** j04 — small-file compaction: the "small files problem" remedy.
    * A fragmented table (64 tiny files — the residue of a 64-task
    * ingest) is rewritten to 4 right-sized files with a round-robin
    * `repartition` (even output sizes regardless of input skew; a
    * `coalesce` would just glue neighbors and inherit the skew). At
    * 100 TB the same two-liner runs with target = bytes/128 MB; file
    * counts are part of the checked OUTPUT (both repartitions are
    * deterministic row-count splits), and the content checksums prove
    * the rewrite lossless — computed from the COMPACTED files, matched
    * by the oracle against the original source table. */
  def compaction(s: SparkSession, dir: String): DataFrame = {
    val li = Relational.table(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
    val frag = Artifacts.root(s, "j04_frag", dir).getAbsolutePath
    val compact = Artifacts.root(s, "j04_comp", dir).getAbsolutePath
    li.repartition(64).write.mode("overwrite").parquet(frag)
    val fragged = s.read.parquet(frag)
    fragged.repartition(4).write.mode("overwrite").parquet(compact)
    def nFiles(p: String): Long = new java.io.File(p).listFiles()
      .count(f => f.getName.endsWith(".parquet")).toLong
    // j15's fail-fast pattern: the oracle hardcodes the 64→4 file
    // counts, so a writer fan-out change (maxRecordsPerFile, empty
    // partitions dropped, AQE coalescing a repartition) must surface
    // as a NAMED precondition break, not a bare hash mismatch
    require(nFiles(frag) == 64 && nFiles(compact) == 4,
      s"j04 precondition: repartition(64)/repartition(4) must yield " +
        s"exactly 64/4 parquet files (got ${nFiles(frag)}/" +
        s"${nFiles(compact)}) — writer fan-out changed; the oracle's " +
        s"files_before=64/files_after=4 would hash-mismatch")
    s.read.parquet(compact)
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_orderkey")).as("sum_okey"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double")
          .as("sum_qty"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double")
          .as("sum_price"))
      .withColumn("files_before", lit(nFiles(frag)))
      .withColumn("files_after", lit(nFiles(compact)))
      .select(col("files_before"), col("files_after"), col("n_rows"),
        col("sum_okey"), col("sum_qty"), col("sum_price"))
  }

  val compactionSql: String = """
    SELECT CAST(64 AS BIGINT) AS files_before,
      CAST(4 AS BIGINT) AS files_after,
      count(*) AS n_rows,
      CAST(sum(l_orderkey) AS BIGINT) AS sum_okey,
      CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        AS sum_price
    FROM lineitem"""

  /** j05 — RFC-4180 CSV sink → source roundtrip under HOSTILE content:
    * the corpus text is CSV-clean, so the query PLANTS the characters
    * that break naive CSV plumbing — commas, double quotes, and
    * embedded newlines — deterministically per doc_id, writes with
    * quote-all + doubled-quote escaping (the RFC dialect every
    * downstream parser speaks, not Spark's backslash default), and
    * reads back with `multiLine` (embedded newlines make records span
    * lines). Aggregate equality against the oracle recomputing the
    * same planted values straight from parquet proves the full
    * quote/escape/newline cycle is lossless byte-for-byte.
    *
    * Scale note: multiLine CSV is NOT splittable — a file must be
    * read by one task, so the writer's per-partition fanout (no
    * coalesce) is what keeps read parallelism at 100 TB; the Scaladoc
    * contract is "many medium files", never one giant one. */
  def csvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val planted = Relational.table(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        concat(lit("\""), col("source"), lit("\",\n"),
          col("text")).as("text"))
    val out = Artifacts.root(s, "j05_csv", dir).getAbsolutePath
    planted.write.mode("overwrite")
      .option("quoteAll", "true").option("escape", "\"")
      .csv(out)
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("lang", StringType),
      StructField("text", StringType)))
    s.read.schema(schema)
      .option("multiLine", "true").option("escape", "\"")
      .csv(out)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_doc_id"),
        sum(length(col("text")).cast("long")).as("sum_chars"),
        sum(length(regexp_replace(col("text"), "[^\"\n,]", ""))
          .cast("long")).as("sum_hostile"))
  }

  val csvRoundtripSql: String = """
    WITH planted AS (
      SELECT doc_id, lang,
        '"' || source || '",' || chr(10) || text AS text
      FROM documents)
    SELECT lang, count(*) AS n_docs,
      CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
      CAST(sum(length(text)) AS BIGINT) AS sum_chars,
      CAST(sum(length(regexp_replace(text, '[^"' || chr(10) || ',]',
        '', 'g'))) AS BIGINT) AS sum_hostile
    FROM planted
    GROUP BY lang
    ORDER BY lang"""

  /** j06 — malformed-record quarantine at the JSON parsing boundary
    * (mm05's decode-quarantine discipline applied to the
    * semi-structured path): corrupt payloads become a counted,
    * inspectable dataset instead of a job failure or a silent null.
    * Corruption is planted deterministically (every 13th event's
    * props prefixed into non-JSON), validity is `get_json_object(_,
    * '$')` on the Spark side and `json_valid` in DuckDB — the same
    * verdict on every planted string — and the long-format report
    * carries per-(event_type, status) row counts plus the field
    * aggregate over ONLY the rows that parsed.
    *
    * Scale shape: one map pass (validity + extraction are per-row
    * expressions) into one small-keyspace partial agg — the quarantine
    * costs nothing beyond the parse the pipeline already pays. */
  def jsonQuarantine(s: SparkSession, dir: String): DataFrame = {
    val ev = Streaming.events(s, dir)
      .withColumn("pr",
        when(col("event_id") % 13 === 0, concat(lit("#"), col("props")))
          .otherwise(col("props")))
    ev.withColumn("status",
        when(get_json_object(col("pr"), "$").isNotNull, lit("ok"))
          .otherwise(lit("quarantined")))
      .withColumn("k",
        when(col("status") === "ok",
          get_json_object(col("pr"), "$.k").cast("long")))
      .groupBy("event_type", "status")
      .agg(count(lit(1)).as("n"), sum(col("k")).as("k_sum"))
  }

  val jsonQuarantineSql: String = """
    SELECT event_type,
      CASE WHEN ok THEN 'ok' ELSE 'quarantined' END AS status,
      count(*) AS n,
      CAST(sum(CASE WHEN ok
        THEN CAST(json_extract(pr, '$.k') AS BIGINT) END)
        AS BIGINT) AS k_sum
    FROM (
      SELECT event_type,
        CASE WHEN event_id % 13 = 0 THEN '#' || props ELSE props END
          AS pr,
        json_valid(CASE WHEN event_id % 13 = 0 THEN '#' || props
          ELSE props END) AS ok
      FROM events)
    GROUP BY event_type, ok
    ORDER BY event_type, status"""

  // ----------------------------------------- j07 schema evolution
  /** j07 — schema-evolution read: two parquet epochs written with
    * DIFFERENT schemas (epoch 0 carries `lang`, epoch 1 instead
    * carries `source` and `n_chars` — the add-a-column / drop-a-column
    * drift every long-lived dataset accumulates) are read back as ONE
    * table via `mergeSchema`, which unions the schemas and null-fills
    * the columns each epoch lacks. The audit aggregates per-epoch row
    * and null counts; the DuckDB oracle derives the same numbers
    * STRUCTURALLY from the source table (epoch 0 rows must null
    * `source`/`n_chars`, epoch 1 rows must null `lang`), so a hash
    * match proves the merged read fills exactly the right cells.
    *
    * Scale shape: `mergeSchema` costs one footer read per file at
    * planning (not a data scan); production pins the unioned schema
    * explicitly after the first merge — noted here, and the read
    * itself stays a parallel per-file scan with the audit as one
    * map-side-combinable aggregate. */
  def schemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val docs = Relational.table(s, dir, "documents")
    val base = Artifacts.root(s, "j07", dir).getAbsolutePath
    docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("text"), col("lang"))
      .write.mode("overwrite").parquet(s"$base/epoch=0")
    docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text"), col("source"),
        col("n_chars"))
      .write.mode("overwrite").parquet(s"$base/epoch=1")
    s.read.option("mergeSchema", "true").parquet(base)
      .groupBy(col("epoch").cast("long").as("epoch"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("lang").isNull, 1L).otherwise(0L))
          .as("null_lang"),
        sum(when(col("source").isNull, 1L).otherwise(0L))
          .as("null_source"),
        sum(when(col("n_chars").isNull, 1L).otherwise(0L))
          .as("null_n_chars"),
        sum(length(col("text"))).as("sum_text_len"))
  }

  val schemaEvolutionSql: String = """
    SELECT doc_id % 2 AS epoch, count(*) AS n_rows,
      count(*) FILTER (doc_id % 2 = 1) AS null_lang,
      count(*) FILTER (doc_id % 2 = 0) AS null_source,
      count(*) FILTER (doc_id % 2 = 0) AS null_n_chars,
      CAST(sum(length(text)) AS BIGINT) AS sum_text_len
    FROM documents
    GROUP BY 1
    ORDER BY epoch"""

  /** j08 — dynamic partition overwrite: the "re-run one day" repair
    * discipline. A partitioned table is written whole (three hash
    * buckets), then a CORRECTION batch containing only bucket b1's
    * rows (with n_chars shifted +1000) is written in
    * `partitionOverwriteMode=dynamic` — Spark replaces exactly the
    * partitions present in the incoming data and leaves b0/b2
    * untouched, where static overwrite mode would have dropped them.
    * The read-back aggregate therefore sees originals in b0/b2 and
    * corrected rows in b1; the oracle derives the same merged state
    * structurally from the source table, so the hash match proves the
    * selective replacement semantics (and that the untouched
    * partitions really are untouched).
    *
    * Scale shape: a day-partitioned 100 TB corpus repairs one day by
    * writing one day — no full-table rewrite, no read-modify-write of
    * the other partitions; the writer fanout is per-task per-
    * partition exactly as j02. */
  def dynamicOverwrite(s: SparkSession, dir: String): DataFrame = {
    val docs = Relational.table(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"),
        concat(lit("b"), col("doc_id") % 3).as("bucket"))
    val out = Artifacts.root(s, "j08_dyn", dir).getAbsolutePath
    docs.write.mode("overwrite").partitionBy("bucket").parquet(out)
    docs.filter(col("bucket") === "b1")
      .withColumn("n_chars", col("n_chars") + 1000L)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket").parquet(out)
    s.read.parquet(out)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_doc_id"),
        sum(col("n_chars").cast("long")).as("sum_chars"))
  }

  val dynamicOverwriteSql: String = """
    SELECT 'b' || (doc_id % 3) AS bucket, count(*) AS n_docs,
      CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
      CAST(sum(n_chars + CASE WHEN doc_id % 3 = 1 THEN 1000 ELSE 0 END)
        AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY 1
    ORDER BY bucket"""

  /** j09 — nested-type roundtrip + NESTED schema pruning: orders are
    * written as a nested document (customer struct + an array of
    * line structs — the shape every document-store export and every
    * API log lands in), read back, and aggregated touching only
    * `customer.acctbal` and the line arrays' `qty` leaves. Catalyst's
    * nested-schema pruning must narrow the parquet ReadSchema to just
    * those LEAVES — reading `customer.name` or `lines.price` bytes
    * for this query would be the nested version of the unpruned-scan
    * mistake (Round5fSpec asserts the pruned ReadSchema). The oracle
    * computes the same aggregate from the FLAT tables, so the hash
    * match proves the nest→write→read→unnest cycle is lossless.
    *
    * Scale shape: the nested write is one join + one groupBy
    * (struct/array assembly is free, map-side); the read-back scan
    * touches 2 leaf columns of a wide nested schema — at 100 TB
    * nested pruning is the difference between scanning 2 columns and
    * scanning the whole document. */
  def nestedProjection(s: SparkSession, dir: String): DataFrame = {
    val out = Artifacts.root(s, "j09_nested", dir).getAbsolutePath
    val o = Relational.table(s, dir, "orders")
    val c = Relational.table(s, dir, "customer")
    val li = Relational.table(s, dir, "lineitem")
    val lines = li.groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(struct(
        col("l_linenumber").as("ln"),
        col("l_quantity").as("qty"),
        col("l_extendedprice").as("price")))).as("lines"))
    o.join(c, col("o_custkey") === col("c_custkey"))
      .join(lines, col("o_orderkey") === col("l_orderkey"), "left")
      .select(col("o_orderkey"),
        struct(col("c_name").as("name"), col("c_acctbal").as("acctbal"))
          .as("customer"),
        coalesce(col("lines"), typedLit(Seq.empty[(Int, Double, Double)])
          .cast("array<struct<ln:int,qty:double,price:double>>"))
          .as("lines"))
      .write.mode("overwrite").parquet(out)
    // field extraction FIRST (`lines.qty` is an ExtractValue the
    // nested pruner narrows to the qty leaf) — summing through an
    // `aggregate` lambda over the raw struct array defeats pruning
    // and drags the unused price/ln bytes through the scan
    s.read.parquet(out)
      .select(col("customer.acctbal").as("acctbal"),
        col("lines.qty").as("qtys"))
      .select(col("acctbal"),
        expr("aggregate(qtys, CAST(0 AS DOUBLE), (a, x) -> a + x)")
          .as("qty_sum"),
        size(col("qtys")).as("n_lines"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("acctbal").cast(DecimalType(18, 2))).cast("double")
          .as("sum_acctbal"),
        sum(col("qty_sum").cast(DecimalType(18, 2))).cast("double")
          .as("sum_qty"),
        sum(col("n_lines").cast("long")).as("n_lines"))
  }

  val nestedProjectionSql: String = """
    SELECT count(*) AS n_orders,
      CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        AS sum_acctbal,
      CAST(sum(CAST(COALESCE(l.qty, 0) AS DECIMAL(18,2))) AS DOUBLE)
        AS sum_qty,
      CAST(sum(COALESCE(l.n, 0)) AS BIGINT) AS n_lines
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN (
      SELECT l_orderkey, sum(l_quantity) AS qty, count(*) AS n
      FROM lineitem GROUP BY l_orderkey) l
      ON o.o_orderkey = l.l_orderkey"""

  /** j10 — bucketed tables → shuffle-free co-located join. Orders
    * and customer are written `bucketBy(16, custkey)` +
    * `sortBy(custkey)` as catalog tables; the read-back join on
    * custkey then needs NO Exchange on either side — the bucket
    * layout IS the join partitioning, persisted on disk. At 100 TB
    * this is the difference between re-shuffling the fact table on
    * every join and shuffling it exactly once at write time: every
    * downstream custkey-join (and custkey-groupBy) rides the same
    * layout for free. The `merge` hint pins a SortMergeJoin so the
    * query exercises the co-located path rather than broadcasting
    * the (locally small) dimension — on a real cluster both sides
    * are too big to broadcast, which is exactly when bucketing pays.
    * Round6Spec asserts the executed plan: `Bucketed: true` on both
    * scans, a SortMergeJoin, and zero shuffle exchanges before it.
    *
    * The DuckDB oracle computes the same join-aggregate straight
    * from the raw parquet, so a hash match proves the
    * bucket-write/bucket-read cycle is lossless AND the bucket-join
    * returns the exact join result (no row lost to bucket routing).
    *
    * Bucket count trade-off: scan parallelism of the bucketed read
    * equals the bucket count, so 16 is a test-scale stand-in — a
    * production table picks buckets ≈ cluster cores × small factor
    * (and AQE cannot coalesce a bucketed scan; the count is a real
    * layout decision, made once per table). */
  def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val (oTab, cTab) = writeBucketed(s, dir)
    bucketedJoinRead(s, oTab, cTab)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double")
          .as("total_price"))
  }

  /** Write orders + customer as 16-bucket catalog tables keyed on
    * custkey; returns the (orders, customer) table names. Idempotent
    * per session (overwrite mode, app-scoped names). */
  private[graft] def writeBucketed(s: SparkSession,
      dir: String): (String, String) = {
    val app = s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
    val base = Artifacts.root(s, "j10_bucketed", dir).getAbsolutePath
    val oTab = s"graft_j10_orders_$app"
    val cTab = s"graft_j10_customer_$app"
    // repartition ON THE BUCKET KEY before the write: each task then
    // holds exactly one bucket's rows, so the layout is one file per
    // bucket instead of (tasks × buckets) fragments — at 100 TB the
    // fragment count is the difference between a listable table and
    // a small-file catastrophe, and one-file-per-bucket is also what
    // lets a sorted bucket scan skip the re-sort
    Relational.table(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .repartition(16, col("o_custkey"))
      .write.mode("overwrite").option("path", s"$base/orders")
      .bucketBy(16, "o_custkey").sortBy("o_custkey")
      .saveAsTable(oTab)
    Relational.table(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
      .repartition(16, col("c_custkey"))
      .write.mode("overwrite").option("path", s"$base/customer")
      .bucketBy(16, "c_custkey").sortBy("c_custkey")
      .saveAsTable(cTab)
    (oTab, cTab)
  }

  /** The read-back co-located join alone (pre-aggregate), so the
    * plan spec can assert zero exchanges on the join itself. */
  private[graft] def bucketedJoinRead(s: SparkSession, oTab: String,
      cTab: String): DataFrame =
    s.table(oTab).hint("merge")
      .join(s.table(cTab), col("o_custkey") === col("c_custkey"))

  val bucketedJoinSql: String = """
    SELECT c_mktsegment, count(*) AS n_orders,
      CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment"""

  /** j11 — dynamic partition pruning: the TPC-DS fact⋈dim shape that
    * j02's STATIC pruning cannot cover. Lineitem is laid out
    * partitioned by ship month (83 directories on this draw); the
    * months worth scanning are only known from the DIM side — orders
    * restricted to one year — so no literal predicate on the fact
    * exists at plan time. Catalyst's DPP turns the broadcast dim
    * into a runtime partition filter
    * (`dynamicpruningexpression(ship_month IN broadcastResult)`), so
    * the fact scan opens ~12 of 83 directories instead of all of
    * them. At 100 TB this is THE difference between scanning the
    * whole fact table and scanning the joined slice — the layout
    * (partition by the join/filter time key) is a design decision
    * this engine bakes in; Round6Spec asserts the executed plan
    * carries the dynamic pruning expression on the scan.
    *
    * The DuckDB oracle computes the identical join-aggregate from
    * the raw parquet, so the hash match proves pruning dropped no
    * row it shouldn't have. */
  def dppJoin(s: SparkSession, dir: String): DataFrame =
    dppJoinRead(s, dir)
      .groupBy("ship_month")
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double")
          .as("sum_qty"))

  /** The pruned join alone (pre-aggregate) for the plan assert.
    *
    * The partitioned fact layout is CONTENT-ADDRESSED and shared
    * across sessions: its name carries the source lineitem's file
    * fingerprint, so any regeneration of the test data re-keys it,
    * while every JVM reading the same source reuses one layout. The
    * earlier appId-keyed memo made every new session pay the ~5 s
    * 83-directory build in its first iteration (and the session
    * shutdown hook then discarded it) — under ambient FS pressure
    * that build cost is exactly the r14 bench's j11 5.5 s min-of-3
    * anomaly. Publication is the engine's standard OCC pattern
    * (q47): stage privately, then one atomic directory rename —
    * concurrent builders race safely, losers adopt the winner's
    * complete layout, and no reader ever sees a partial directory. */
  private[graft] def dppJoinRead(s: SparkSession,
      dir: String): DataFrame = {
    val fp = graft.plans.CboCatalog.fingerprintOf(
      s"$dir/lineitem.parquet")
    val outDir = Artifacts.sharedRoot("j11_dpp", dir, fp)
    val out = outDir.getAbsolutePath
    val marker = new java.io.File(outDir, "_SUCCESS")
    if (!marker.exists()) {
      val stage = Artifacts.root(s, "j11_stage", dir)
      if (stage.exists())
        org.apache.commons.io.FileUtils.deleteDirectory(stage)
      Relational.table(s, dir, "lineitem")
        .withColumn("ship_month",
          date_format(col("l_shipdate"), "yyyy-MM"))
        .select(col("l_orderkey"), col("l_quantity"), col("ship_month"))
        .write.mode("overwrite").partitionBy("ship_month")
        .parquet(stage.getAbsolutePath)
      // atomic publish; a failed rename means a concurrent builder
      // won — its layout is complete (only complete stages rename)
      if (!stage.renameTo(outDir))
        org.apache.commons.io.FileUtils.deleteDirectory(stage)
      require(marker.exists(),
        s"j11 layout publish failed: $out has no _SUCCESS")
    }
    // j15's fail-fast pattern (FS listing only — no extra scan): DPP
    // needs a real multi-directory month layout to prune, and a null
    // ship month would silently land in the hive default partition
    // and come back as a NULL group — name both breaks
    val monthDirs = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName)
    require(monthDirs.count(_.startsWith("ship_month=")) >= 12 &&
        !monthDirs.exists(_.contains("HIVE_DEFAULT_PARTITION")),
      s"j11 precondition: ship_month layout must have >= 12 month " +
        s"dirs and no null partition (got ${monthDirs.length} dirs: " +
        s"${monthDirs.sorted.take(5).mkString(", ")}…)")
    val fact = s.read.parquet(out)
    val dim = Relational.table(s, dir, "orders")
      .filter(year(col("o_orderdate")) === 1996)
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .distinct()
    fact.join(broadcast(dim), col("ship_month") === col("month"))
  }

  val dppJoinSql: String = """
    SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
      count(*) AS n_lines,
      CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    JOIN (
      SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS month
      FROM orders WHERE year(o_orderdate) = 1996) d
      ON strftime(l_shipdate, '%Y-%m') = d.month
    GROUP BY 1
    ORDER BY 1"""

  /** j12 — VARIANT ingestion + shredding (Spark 4's semi-structured
    * type): order rows rendered as JSON text (the shape logs and
    * event buses actually deliver), parsed ONCE into `VariantType`
    * with `parse_json`, then shredded with typed `variant_get` path
    * extraction and aggregated. Variant keeps the parse cost to one
    * pass and the storage binary-encoded — at 100 TB the alternative
    * (per-query `get_json_object` string re-parsing) multiplies the
    * corpus scan cost by the number of paths touched. The DuckDB
    * oracle computes the same aggregate straight from the typed
    * columns, so the hash match proves the
    * struct→JSON→variant→typed-path cycle is lossless, including
    * double round-trips through JSON text. */
  def variantShred(s: SparkSession, dir: String): DataFrame = {
    val js = to_json(struct(col("o_orderkey").as("k"),
      col("o_totalprice").as("p"), col("o_orderpriority").as("pr")))
    Relational.table(s, dir, "orders")
      .select(parse_json(js).as("v"))
      .select(
        variant_get(col("v"), "$.k", "bigint").as("k"),
        variant_get(col("v"), "$.p", "double").as("p"),
        variant_get(col("v"), "$.pr", "string").as("pr"))
      .groupBy("pr")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("k")).as("sum_key"),
        sum(col("p").cast(DecimalType(18, 2))).cast("double")
          .as("sum_price"))
  }

  val variantShredSql: String = """
    SELECT o_orderpriority AS pr, count(*) AS n_orders,
      CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
      CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        AS sum_price
    FROM orders
    GROUP BY 1
    ORDER BY 1"""

  /** j13 — runtime bloom-filter join pruning: the shuffle-side twin
    * of j11's DPP for UNPARTITIONED layouts. A selective dim (big
    * urgent orders) joins the lineitem fact on orderkey — no
    * partition layout to prune, so Catalyst's InjectRuntimeFilter
    * builds a bloom filter from the dim's join keys and applies
    * `might_contain` to the fact BEFORE its shuffle, cutting the
    * shuffled fact rows to ~the join's selectivity. At 100 TB the
    * fact shuffle is the dominant cost of every selective join;
    * the bloom filter prices it at one scan-side expression. Runs
    * in a child session (`newSession`) with the application-side
    * size threshold lowered — the 10 GB default exists to spare
    * small scans the overhead, and a test-scale corpus never
    * reaches it; production keeps the default. Round6Spec asserts
    * `might_contain` on the fact side of the executed plan and
    * result equality with the unfiltered join. */
  // one configured child session per application (j10/j11's
  // app-scoped-artifact pattern): the bench loop re-invokes j13
  // iters×runs times, and a fresh newSession() per call would pile up
  // session state on the shared SparkContext
  private val bloomSessions =
    new java.util.concurrent.ConcurrentHashMap[String, SparkSession]()

  def bloomJoin(s: SparkSession, dir: String): DataFrame = {
    // evict entries from dead contexts: a JVM hosting several
    // SparkContexts over its lifetime (test harnesses) would
    // otherwise accumulate stopped child sessions, and a cached
    // child of a stopped context throws on use
    bloomSessions.entrySet().removeIf(e =>
      e.getKey != s.sparkContext.applicationId ||
        e.getValue.sparkContext.isStopped)
    val s2 = bloomSessions.computeIfAbsent(
      s.sparkContext.applicationId, _ => {
        val c = s.newSession()
        c.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled",
          "true")
        c.conf.set(
          "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
          "0")
        // broadcast would bypass the shuffle the bloom filter
        // protects; production dims at this selectivity exceed the
        // threshold anyway
        c.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        c
      })
    bloomJoinOn(s2, dir)
  }

  /** The join body on an explicitly-configured session (the spec
    * passes its own to read the plan). */
  private[graft] def bloomJoinOn(s2: SparkSession,
      dir: String): DataFrame = {
    val li = Relational.table(s2, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
    val dim = Relational.table(s2, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_totalprice") > 450000)
      .select(col("o_orderkey"))
    li.join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double")
          .as("sum_qty"))
  }

  val bloomJoinSql: String = """
    SELECT l_returnflag, count(*) AS n_lines,
      CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 450000
    GROUP BY l_returnflag
    ORDER BY l_returnflag"""

  /** j14 — XML sink → source roundtrip (Spark 4's built-in XML
    * datasource; the OTHER format the reference itself consumes —
    * its CLDR keymaps are XML). Same contract as j01/j03: write the
    * Spanish documents as XML with a `doc` row tag, read back with
    * an EXPLICIT schema, aggregate; the oracle computes identical
    * aggregates from the original parquet, so a hash match proves
    * the XML encode/decode cycle is lossless — including entity
    * escaping of every `<`/`&`/quote byte in the text payload, the
    * part naive XML handling silently corrupts. Per-partition writer
    * fanout; no coalesce. */
  def xmlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val docs = Relational.table(s, dir, "documents")
      .filter(col("lang") === "es")
      .select(col("doc_id"), col("source"), col("text"))
    val out = Artifacts.root(s, "j14_xml", dir).getAbsolutePath
    docs.write.mode("overwrite").option("rowTag", "doc")
      .format("xml").save(out)
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("source", StringType),
      StructField("text", StringType)))
    // explicit: the reader must NOT trim text-node whitespace —
    // leading/trailing (or whitespace-only) payload bytes are data,
    // and relying on the datasource default would silently break the
    // lossless-roundtrip contract if the default ever changed
    s.read.schema(schema).option("rowTag", "doc")
      .option("ignoreSurroundingSpaces", "false").format("xml")
      .load(out)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_doc_id"),
        sum(length(col("text")).cast("long")).as("sum_chars"))
  }

  val xmlRoundtripSql: String = """
    SELECT source, count(*) AS n_docs,
      CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
      CAST(sum(length(text)) AS BIGINT) AS sum_chars
    FROM documents WHERE lang = 'es'
    GROUP BY source
    ORDER BY source"""

  /** j15 — file-metadata provenance columns: every file-source row
    * carries hidden `_metadata` (file path, size, modification time)
    * — the zero-cost lineage a 100 TB ingest audit needs (WHICH
    * input file produced this row?) without baking paths into the
    * data or re-listing the filesystem. The query re-shards the
    * documents table into multiple parquet files, reads it back, and
    * reconciles per-source row counts against distinct source FILES
    * — path strings themselves never reach the output (they are
    * environment-specific; cardinalities and row counts are not).
    * The oracle reproduces the counts from the logical table,
    * proving metadata projection changes no row. */
  def metadataColumns(s: SparkSession, dir: String): DataFrame = {
    val out = Artifacts.root(s, "j15_meta", dir).getAbsolutePath
    Relational.table(s, dir, "documents")
      .select(col("doc_id"), col("source"))
      .repartition(8)
      .write.mode("overwrite").parquet(out)
    val withMeta = s.read.parquet(out)
      .select(col("doc_id"), col("source"),
        col("_metadata.file_path").as("file_path"))
    // global distinct-file count (8 — round-robin fills every shard
    // when rows >> shards) attached to each source row; per-SOURCE
    // file fans are layout-dependent (a 25-doc source need not touch
    // all 8 shards) and deliberately NOT part of the contract.
    // The oracle hardcodes 8, so FAIL FAST if the layout assumption
    // ever breaks (corpus < 8 rows, maxRecordsPerFile set, writer
    // fan-out change) instead of surfacing as a bare hash mismatch.
    // ONE distinct-file scan serves both the precondition and the
    // output column (as a literal) — the earlier shape re-counted
    // the same files in a crossJoin aggregate, two extra scans per
    // bench iteration for a static layout check
    val nFilesSeen = withMeta.select(col("file_path")).distinct().count()
    require(nFilesSeen == 8,
      s"j15 precondition: repartition(8) must yield exactly 8 data " +
        s"files (got $nFilesSeen) — corpus too small, " +
        s"spark.sql.files.maxRecordsPerFile set, or writer fan-out " +
        s"changed; the oracle's n_files_total=8 would hash-mismatch")
    withMeta.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_doc_id"))
      .withColumn("n_files_total", lit(nFilesSeen))
  }

  val metadataColumnsSql: String = """
    SELECT source, count(*) AS n_docs,
      CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
      CAST(8 AS BIGINT) AS n_files_total
    FROM documents
    GROUP BY source
    ORDER BY source"""

  val all: Seq[(String, (SparkSession, String) => DataFrame,
    Option[String])] =
    Seq(("j01_jsonl_roundtrip", jsonlRoundtrip _, Some(jsonlRoundtripSql)),
      ("j02_partitioned_sink", partitionedSink _, Some(partitionedSinkSql)),
      ("j03_orc_roundtrip", orcRoundtrip _, Some(orcRoundtripSql)),
      ("j04_compaction", compaction _, Some(compactionSql)),
      ("j05_csv_roundtrip", csvRoundtrip _, Some(csvRoundtripSql)),
      ("j06_json_quarantine", jsonQuarantine _, Some(jsonQuarantineSql)),
      ("j07_schema_evolution", schemaEvolution _,
        Some(schemaEvolutionSql)),
      ("j08_dynamic_overwrite", dynamicOverwrite _,
        Some(dynamicOverwriteSql)),
      ("j09_nested_projection", nestedProjection _,
        Some(nestedProjectionSql)),
      ("j10_bucketed_join", bucketedJoin _, Some(bucketedJoinSql)),
      ("j11_dpp_join", dppJoin _, Some(dppJoinSql)),
      ("j12_variant_shred", variantShred _, Some(variantShredSql)),
      ("j13_bloom_join", bloomJoin _, Some(bloomJoinSql)),
      ("j14_xml_roundtrip", xmlRoundtrip _, Some(xmlRoundtripSql)),
      ("j15_metadata_columns", metadataColumns _,
        Some(metadataColumnsSql)))
}
