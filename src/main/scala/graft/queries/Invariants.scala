package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.mut.{MutateDataFrame, Mutators, RuleMutators}

/** Invariant-projection oracles for the seeded-random operators.
  *
  * The seeded generators/mutators can't be value-matched by an external
  * oracle (their RNG is engine-specific), but at p=1 each one satisfies
  * hard per-row invariants that ARE closed-form SQL over the input
  * tables — e.g. with_insert grows every row by exactly one char
  * (reference: gecko/mutator.py:705-759), with_transpose preserves the
  * character multiset (mutator.py:815-871). Each query below runs the
  * real operator and projects the invariant; the DuckDB oracle computes
  * the same projection from the raw table. A wrong splice, off-by-one,
  * or eligibility bug breaks the hash match even though the random
  * draws themselves are unchecked (those are covered by
  * GeneratorSpec/MutatorSpec statistics).
  *
  * Pattern established by d07 (Dedup.scala chain clusters) and mm03
  * (Multimodal.scala md5 bridge) in round 2. */
object Invariants {
  import Mutators._

  private def customers(s: SparkSession, dir: String): DataFrame =
    Relational.table(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))

  /** Count of positions where two equal-length strings differ. */
  private def hamming(a: Column, b: Column): Column =
    aggregate(
      zip_with(split(a, ""), split(b, ""),
        (x, y) => when(x === y, 0).otherwise(1)),
      lit(0), (acc, x) => acc + x)

  // ------------------------------------------------- mutator invariants

  /** M2 p=1: a keymap typo swaps exactly one char for a neighbor —
    * length is preserved and hamming distance is at most 1 (0 for rows
    * with no mutable char — mutator.py:238-299). */
  def m02KeymapLen(s: SparkSession, dir: String): DataFrame = {
    val m = RuleMutators.WithCldrKeymap(
      graft.mut.Cldr.neighborCandidates(
        getClass.getResourceAsStream("/assets/de-t-k0-windows.xml"), None),
      seed = 602)
    val base = customers(s, dir).withColumn("__orig", col("c_name"))
    m(base, Seq("c_name"), 1.0, col("c_custkey"))
      .select(col("c_custkey"),
        length(col("c_name")).cast("long").as("len"),
        (hamming(col("__orig"), col("c_name")) <= 1).as("ham_le1"))
  }

  val m02Sql: String =
    """SELECT c_custkey, CAST(length(c_name) AS BIGINT) AS len,
       TRUE AS ham_le1 FROM customer ORDER BY 1"""

  /** M6 p=1: insert grows every row by exactly one char
    * (mutator.py:705-759 — always eligible). */
  def m06InsertLen(s: SparkSession, dir: String): DataFrame = {
    val base = customers(s, dir).withColumn("__len", length(col("c_name")))
    WithInsert(seed = 606)(base, Seq("c_name"), 1.0, col("c_custkey"))
      .select(col("c_custkey"),
        (length(col("c_name")) - col("__len")).cast("long").as("len_delta"))
  }

  val m06Sql: String =
    "SELECT c_custkey, CAST(1 AS BIGINT) AS len_delta FROM customer ORDER BY 1"

  /** M7 p=1: delete shrinks every (non-empty) row by exactly one char
    * (mutator.py:762-812). */
  def m07DeleteLen(s: SparkSession, dir: String): DataFrame = {
    val base = customers(s, dir).withColumn("__len", length(col("c_name")))
    WithDelete(seed = 607)(base, Seq("c_name"), 1.0, col("c_custkey"))
      .select(col("c_custkey"),
        (length(col("c_name")) - col("__len")).cast("long").as("len_delta"))
  }

  val m07Sql: String =
    "SELECT c_custkey, CAST(-1 AS BIGINT) AS len_delta FROM customer ORDER BY 1"

  /** M8 p=1: an adjacent swap preserves the character multiset and the
    * length (mutator.py:815-871); the oracle recomputes the sorted
    * char string from the raw table. */
  def m08TransposeCharset(s: SparkSession, dir: String): DataFrame =
    WithTranspose(seed = 608)(
      customers(s, dir), Seq("c_name"), 1.0, col("c_custkey"))
      .select(col("c_custkey"),
        array_join(array_sort(split(col("c_name"), "")), "")
          .as("chars_sorted"),
        length(col("c_name")).cast("long").as("len"))

  val m08Sql: String =
    """SELECT c_custkey,
       array_to_string(list_sort(string_split(c_name, '')), '') AS chars_sorted,
       CAST(length(c_name) AS BIGINT) AS len
       FROM customer ORDER BY 1"""

  /** M9 p=1: substitution preserves length and changes at most one
    * position (mutator.py:874-938). */
  def m09SubstituteLen(s: SparkSession, dir: String): DataFrame = {
    val base = customers(s, dir).withColumn("__orig", col("c_name"))
    WithSubstitute(seed = 609)(base, Seq("c_name"), 1.0, col("c_custkey"))
      .select(col("c_custkey"),
        length(col("c_name")).cast("long").as("len"),
        (hamming(col("__orig"), col("c_name")) <= 1).as("ham_le1"))
  }

  val m09Sql: String =
    """SELECT c_custkey, CAST(length(c_name) AS BIGINT) AS len,
       TRUE AS ham_le1 FROM customer ORDER BY 1"""

  /** M11 p=1: the replacement is always a member of the category set
    * and always differs from the original (mutator.py:1044-1048). */
  def m11CategoricalSet(s: SparkSession, dir: String): DataFrame = {
    val segs = customers(s, dir).select("c_mktsegment").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val m = WithCategoricalValues(segs, seed = 611)
    val base = customers(s, dir).withColumn("__orig", col("c_mktsegment"))
    m(base, Seq("c_mktsegment"), 1.0, col("c_custkey"))
      .select(col("c_custkey"),
        col("c_mktsegment").isin(segs: _*).as("in_set"),
        (col("c_mktsegment") =!= col("__orig")).as("changed"))
  }

  val m11Sql: String =
    """SELECT c_custkey, TRUE AS in_set, TRUE AS changed
       FROM customer ORDER BY 1"""

  /** M15 p=1 (maxDelta=10, unit=d, preventWraparound): the offset stays
    * within ±10 days, never crosses a month boundary (wraparound guard,
    * mutator.py:1269-1282), and keeps the format valid. */
  def m15OffsetBounds(s: SparkSession, dir: String): DataFrame = {
    val o = Relational.table(s, dir, "orders")
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"))
      .withColumn("__orig", col("odate"))
    WithDatetimeOffset(10, "d", "%Y-%m-%d", preventWraparound = true,
        seed = 615)(o, Seq("odate"), 1.0, col("o_orderkey"))
      .select(col("o_orderkey"),
        (month(to_date(col("odate"))) === month(to_date(col("__orig"))))
          .as("same_month"),
        (abs(datediff(to_date(col("odate")), to_date(col("__orig")))) <= 10)
          .as("delta_ok"),
        col("odate").rlike("^\\d{4}-\\d{2}-\\d{2}$").as("fmt_ok"))
  }

  val m15Sql: String =
    """SELECT o_orderkey, TRUE AS same_month, TRUE AS delta_ok,
       TRUE AS fmt_ok FROM orders ORDER BY 1"""

  /** M19 with a single weight-1.0 deterministic member: the dispatch
    * machinery (cumulative-weight pick, row-subset application at p=1 —
    * mutator.py:1700-1713) must reduce to the member itself. */
  def m19GroupDispatch(s: SparkSession, dir: String): DataFrame =
    WithGroup(Seq((1.0, WithRepeat("+", seed = 719): graft.mut.Mutator)),
        seed = 619)(
      customers(s, dir), Seq("c_name"), 1.0, col("c_custkey"))
      .select(col("c_custkey"), col("c_name"))

  val m19Sql: String =
    """SELECT c_custkey, c_name || '+' || c_name AS c_name
       FROM customer ORDER BY 1"""

  /** M20 with deterministic members at p=1: the full spec pipeline
    * (fused stats job, column routing, sequential fold —
    * mutator.py:1779-1791) is value-checkable end-to-end. */
  def m20MutateDet(s: SparkSession, dir: String): DataFrame =
    MutateDataFrame(customers(s, dir), Seq(
      (Seq("c_name"), Seq((1.0, WithLowercase(seed = 620): graft.mut.Mutator))),
      (Seq("c_mktsegment"),
        Seq((1.0, WithRepeat("-", seed = 720): graft.mut.Mutator)))),
      ridCol = "c_custkey")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))

  val m20Sql: String =
    """SELECT c_custkey, lower(c_name) AS c_name,
       c_mktsegment || '-' || c_mktsegment AS c_mktsegment
       FROM customer ORDER BY 1"""

  // ----------------------------------------------- generator invariants

  private val N = 20000L

  /** G2: every draw is formatted to exactly `precision` decimals and
    * lies in [low, high) (generator.py:52-78). */
  def g02UniformRange(s: SparkSession, dir: String): DataFrame =
    LayerADemo.g02Uniform(s, dir).agg(
      count(lit(1)).as("n"),
      sum((col("c0").rlike("^\\d+\\.\\d{4}$") &&
        col("c0").cast("double") >= 10 &&
        col("c0").cast("double") <= 20).cast("long")).as("n_ok"))

  val g02Sql: String =
    s"SELECT CAST($N AS BIGINT) AS n, CAST($N AS BIGINT) AS n_ok"

  /** G3: every draw matches the precision-2 decimal format
    * (generator.py:81-107). */
  def g03NormalFmt(s: SparkSession, dir: String): DataFrame =
    LayerADemo.g03Normal(s, dir).agg(
      count(lit(1)).as("n"),
      sum(col("c0").rlike("^-?\\d+\\.\\d{2}$").cast("long")).as("n_ok"))

  val g03Sql: String =
    s"SELECT CAST($N AS BIGINT) AS n, CAST($N AS BIGINT) AS n_ok"

  /** G4: the sampled value domain is exactly the frequency table's value
    * set (20k draws over 5 segments — every segment appears; seeded, so
    * stable). */
  def g04FreqValues(s: SparkSession, dir: String): DataFrame =
    LayerADemo.g04FrequencyTable(s, dir)
      .select("c0").distinct()

  val g04Sql: String =
    "SELECT DISTINCT c_mktsegment AS c0 FROM customer ORDER BY 1"

  /** G5: joint draws only ever produce (nation, region) pairs present
    * in the joint table — intra-row consistency
    * (generator.py:250-252). */
  def g05JointValues(s: SparkSession, dir: String): DataFrame =
    LayerADemo.g05MulticolumnFrequencyTable(s, dir)
      .select("c0", "c1").distinct()

  val g05Sql: String =
    """SELECT DISTINCT n_name AS c0, r_name AS c1
       FROM nation JOIN region ON n_regionkey = r_regionkey
       ORDER BY 1, 2"""

  /** G6: every draw is on the hourly grid inside [start, end]
    * (inclusive endpoint — generator.py:301). */
  def g06DatetimeBounds(s: SparkSession, dir: String): DataFrame =
    LayerADemo.g06DatetimeRange(s, dir).agg(
      count(lit(1)).as("n"),
      sum((col("c0").rlike("^\\d{4}-\\d{2}-\\d{2} \\d{2}:00:00$") &&
        col("c0") >= "1995-01-01 00:00:00" &&
        col("c0") <= "2001-12-31 00:00:00").cast("long")).as("n_ok"))

  val g06Sql: String =
    s"SELECT CAST($N AS BIGINT) AS n, CAST($N AS BIGINT) AS n_ok"

  /** G7: the mixture's per-generator row counts are exact driver-side
    * arithmetic (generator.py:363-388) — 0.6/0.4 of 20k with disjoint
    * value ranges gives exactly 12000/8000. */
  def g07GroupSizes(s: SparkSession, dir: String): DataFrame =
    LayerADemo.g07Group(s, dir)
      .groupBy(when(col("c0").cast("double") < 50, "low")
        .otherwise("high").as("grp"))
      .agg(count(lit(1)).as("n"))

  val g07Sql: String =
    """SELECT * FROM (VALUES ('high', CAST(8000 AS BIGINT)),
       ('low', CAST(12000 AS BIGINT))) AS t(grp, n) ORDER BY 1"""

  /** G8: every assembled column honors its generator's format/domain. */
  def g08ToDataFrameFmt(s: SparkSession, dir: String): DataFrame = {
    val segs = customers(s, dir).select("c_mktsegment").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    LayerADemo.g08ToDataFrame(s, dir).agg(
      count(lit(1)).as("n"),
      sum(col("segment").isin(segs: _*).cast("long")).as("n_seg"),
      sum(col("score").rlike("^-?\\d+\\.\\d{2}$").cast("long")).as("n_score"),
      sum(col("joined").rlike("^\\d{2}\\.\\d{2}\\.\\d{4}$").cast("long"))
        .as("n_joined"))
  }

  val g08Sql: String =
    s"""SELECT CAST($N AS BIGINT) AS n, CAST($N AS BIGINT) AS n_seg,
       CAST($N AS BIGINT) AS n_score, CAST($N AS BIGINT) AS n_joined"""

  // ------------------------------------------- sketch/LSH invariants
  // The sketch outputs themselves are engine-specific, but their
  // CONTRACTS are closed-form: recall bounds on the planted duplicates,
  // well-formedness of clusters, and error bounds vs the exact
  // aggregates — all seeded-deterministic, all reducible to constants.

  private def plantedPairs(s: SparkSession, dir: String): DataFrame =
    Relational.table(s, dir, "documents")
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("a"),
        (col("doc_id") + Dedup.PlantOffset).as("b"))

  private def recallOk(pairs: DataFrame, planted: DataFrame,
                       bound: Double): DataFrame =
    planted.join(pairs.select("a", "b"), Seq("a", "b"), "left_semi")
      .agg(count(lit(1)).as("hit"))
      .crossJoin(planted.agg(count(lit(1)).as("tot")))
      .select((col("hit") >= lit(bound) * col("tot")).as("recall_ok"))

  /** D2: MinHash-LSH must recover >= 80% of the planted near-dup
    * pairs (the PipelineOpsSpec bound, surfaced to the driver gate). */
  def d02RecallInv(s: SparkSession, dir: String): DataFrame =
    recallOk(Dedup.dedupMinhashLsh(s, dir), plantedPairs(s, dir), 0.8)

  /** D3: SimHash banding must recover >= 70% of the planted pairs. */
  def d03RecallInv(s: SparkSession, dir: String): DataFrame =
    recallOk(Dedup.dedupSimhash(s, dir), plantedPairs(s, dir), 0.7)

  val recallSql: String = "SELECT TRUE AS recall_ok"

  /** D6: every emitted cluster is well-formed — >= 2 members, exactly
    * one keep, and the cluster id IS the minimum member id. */
  def d06StarInv(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupClusters(s, dir)
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n"),
        sum(col("keep").cast("long")).as("keeps"),
        min(col("doc_id")).as("mn"))
      .agg(sum((col("n") < 2 || col("keeps") =!= 1 ||
        col("mn") =!= col("cluster_id")).cast("long")).as("bad_clusters"))

  val d06Sql: String = "SELECT CAST(0 AS BIGINT) AS bad_clusters"

  /** S2: LSH ANN results are valid (no query exceeds k=5 results) and
    * overlap the exact brute-force top-k by >= 30% (measured 45% at
    * sf0.01; seeded-deterministic). */
  def s02AnnInv(s: SparkSession, dir: String): DataFrame = {
    val bf = Similarity.annBruteForce(s, dir)
      .select(col("query_id"), col("neighbor_id"))
    val lsh = Similarity.annLshBucketed(s, dir)
      .select(col("query_id"), col("neighbor_id"))
    val hit = bf.join(lsh, Seq("query_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).as("hit"))
    val tot = bf.agg(count(lit(1)).as("tot"))
    val overK = lsh.groupBy("query_id").agg(count(lit(1)).as("k"))
      .agg(coalesce(sum((col("k") > 5).cast("long")), lit(0L))
        .as("n_over"))
    hit.crossJoin(tot).crossJoin(overK)
      .select((col("hit") >= lit(0.3) * col("tot")).as("recall_ok"),
        (col("n_over") === 0).as("k_bounded"))
  }

  val s02Sql: String = "SELECT TRUE AS recall_ok, TRUE AS k_bounded"

  /** T22: the Misra-Gries contract, checked against the exact token
    * counts — (a) every token with true frequency > N/(k+1) is present
    * in the sketch output, (b) every tracked token's true count lies
    * in [est, est + err]. Both hold by construction under ANY
    * partitioning / merge order (mergeable-summaries bound), which is
    * what makes the engine-specific estimates drivable to a constant. */
  def t22HeavyInv(s: SparkSession, dir: String): DataFrame = {
    val sketch = TextAnalysis.heavyHitters(s, dir)
    val exact = TextAnalysis.heavyTokenStream(s, dir)
      .groupBy("token").agg(count(lit(1)).as("true_n"))
    val n = exact.agg(sum(col("true_n")).as("n_total"))
    val heavyMissed = exact.crossJoin(n)
      .filter(col("true_n") * lit(TextAnalysis.HeavyK + 1) > col("n_total"))
      .join(sketch.select("token"), Seq("token"), "left_anti")
      .agg(count(lit(1)).as("heavy_missed"))
    val boundViolations = sketch.join(exact, Seq("token"))
      .agg(sum((col("est") > col("true_n") ||
        col("est") + col("err") < col("true_n")).cast("long"))
        .as("bound_violations"))
    heavyMissed.crossJoin(boundViolations)
  }

  val t22Sql: String =
    "SELECT CAST(0 AS BIGINT) AS heavy_missed, " +
      "CAST(0 AS BIGINT) AS bound_violations"

  /** S4: IVF ANN results are k-bounded and overlap the exact top-k by
    * >= 30% (seeded-deterministic centroids). */
  def s04AnnInv(s: SparkSession, dir: String): DataFrame = {
    val bf = Similarity.annBruteForce(s, dir)
      .select(col("query_id"), col("neighbor_id"))
    val ivf = Similarity.annIvf(s, dir)
      .select(col("query_id"), col("neighbor_id"))
    val hit = bf.join(ivf, Seq("query_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).as("hit"))
    val tot = bf.agg(count(lit(1)).as("tot"))
    val overK = ivf.groupBy("query_id").agg(count(lit(1)).as("k"))
      .agg(coalesce(sum((col("k") > 5).cast("long")), lit(0L))
        .as("n_over"))
    hit.crossJoin(tot).crossJoin(overK)
      .select((col("hit") >= lit(0.3) * col("tot")).as("recall_ok"),
        (col("n_over") === 0).as("k_bounded"))
  }

  /** S28: the stored IVF-PQ two-phase serve is k-bounded and overlaps
    * the exact top-k by >= 30% (seeded-deterministic coarse centroids
    * and codebooks; candidates pass through an exact re-rank, so
    * misses can only come from list probing or the ADC top-24 cut). */
  def s28AnnInv(s: SparkSession, dir: String): DataFrame = {
    val bf = Similarity.annBruteForce(s, dir)
      .select(col("query_id"), col("neighbor_id"))
    val pq = Similarity.annStoredIvfPq(s, dir)
      .select(col("query_id"), col("neighbor_id"))
    val hit = bf.join(pq, Seq("query_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).as("hit"))
    val tot = bf.agg(count(lit(1)).as("tot"))
    val overK = pq.groupBy("query_id").agg(count(lit(1)).as("k"))
      .agg(coalesce(sum((col("k") > 5).cast("long")), lit(0L))
        .as("n_over"))
    hit.crossJoin(tot).crossJoin(overK)
      .select((col("hit") >= lit(0.3) * col("tot")).as("recall_ok"),
        (col("n_over") === 0).as("k_bounded"))
  }

  /** S27: the filtered-ANN post-filter serve path honors its contract —
    * (a) every returned neighbor actually satisfies the per-query
    * predicate (`label == query.label`; a post-filter bug would leak
    * unfiltered candidates straight into results), (b) no query
    * exceeds k=5 rows, and (c) recall vs the exact PRE-FILTER arm
    * (s27_filtered_exact, itself a direct DuckDB oracle row) is
    * >= 70% under the 2× over-probe (measured well above at sf0.01;
    * seeded-deterministic centroids). */
  def s27FilteredInv(s: SparkSession, dir: String): DataFrame = {
    val exact = Similarity.annFilteredExact(s, dir)
      .select(col("query_id"), col("neighbor_id"))
    val served = Similarity.annFiltered(s, dir)
      .select(col("query_id"), col("neighbor_id"))
    val labels = Relational.table(s, dir, "embeddings")
      .select(col("vec_id"), col("label"))
    val hit = exact.join(served, Seq("query_id", "neighbor_id"),
      "left_semi").agg(count(lit(1)).as("hit"))
    val tot = exact.agg(count(lit(1)).as("tot"))
    val overK = served.groupBy("query_id").agg(count(lit(1)).as("k"))
      .agg(coalesce(sum((col("k") > 5).cast("long")), lit(0L))
        .as("n_over"))
    val predBad = served
      .join(labels.withColumnRenamed("vec_id", "query_id")
        .withColumnRenamed("label", "qlabel"), Seq("query_id"))
      .join(labels.withColumnRenamed("vec_id", "neighbor_id"),
        Seq("neighbor_id"))
      .agg(sum((col("label") =!= col("qlabel")).cast("long"))
        .as("n_pred_bad"))
    hit.crossJoin(tot).crossJoin(overK).crossJoin(predBad)
      .select((col("hit") >= lit(0.7) * col("tot")).as("recall_ok"),
        (col("n_over") === 0).as("k_bounded"),
        (col("n_pred_bad") === 0).as("predicate_ok"))
  }

  val s27Sql: String =
    "SELECT TRUE AS recall_ok, TRUE AS k_bounded, TRUE AS predicate_ok"

  /** S10: PQ ANN results are k-bounded and overlap the exact top-k by
    * >= 30% (deterministic codebooks; measured well above the bound —
    * the exact re-rank stage means misses can only come from the
    * approx stage dropping a true neighbor out of its top-24). */
  def s10AnnInv(s: SparkSession, dir: String): DataFrame = {
    val bf = Similarity.annBruteForce(s, dir)
      .select(col("query_id"), col("neighbor_id"))
    val pq = Similarity.annPq(s, dir)
      .select(col("query_id"), col("neighbor_id"))
    val hit = bf.join(pq, Seq("query_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).as("hit"))
    val tot = bf.agg(count(lit(1)).as("tot"))
    val overK = pq.groupBy("query_id").agg(count(lit(1)).as("k"))
      .agg(coalesce(sum((col("k") > 5).cast("long")), lit(0L))
        .as("n_over"))
    hit.crossJoin(tot).crossJoin(overK)
      .select((col("hit") >= lit(0.3) * col("tot")).as("recall_ok"),
        (col("n_over") === 0).as("k_bounded"))
  }

  /** S24: the stored-index serve path returns EXACTLY the in-plan
    * IVF's results (same centroids, spec-pinned probe-arithmetic
    * parity — so any drift means the index build or the pruned serve
    * scan corrupted the postings), plus s04's own recall/k contract
    * re-asserted on the served rows. */
  def s24AnnInv(s: SparkSession, dir: String): DataFrame = {
    val served = Similarity.annStoredIvf(s, dir)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
    val inPlan = Similarity.annIvf(s, dir)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
    val mism = served.join(inPlan, Seq("query_id", "neighbor_id", "rank"),
        "full_outer")
      .agg(count(lit(1)).as("n_union"))
    val both = served.join(inPlan, Seq("query_id", "neighbor_id", "rank"))
      .agg(count(lit(1)).as("n_both"))
    val bf = Similarity.annBruteForce(s, dir)
      .select(col("query_id"), col("neighbor_id"))
    val hit = bf.join(served.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).as("hit"))
    val tot = bf.agg(count(lit(1)).as("tot"))
    val overK = served.groupBy("query_id").agg(count(lit(1)).as("k"))
      .agg(coalesce(sum((col("k") > 5).cast("long")), lit(0L))
        .as("n_over"))
    mism.crossJoin(both).crossJoin(hit).crossJoin(tot).crossJoin(overK)
      .select((col("n_union") === col("n_both")).as("parity_ok"),
        (col("hit") >= lit(0.3) * col("tot")).as("recall_ok"),
        (col("n_over") === 0).as("k_bounded"))
  }

  val s24Sql: String =
    "SELECT TRUE AS parity_ok, TRUE AS recall_ok, TRUE AS k_bounded"

  /** Q18: the HyperLogLog++ distinct estimate stays within 5% of the
    * exact count per group (rsd=0.02 sketch). */
  def q18ErrorInv(s: SparkSession, dir: String): DataFrame =
    Relational.q18ApproxDistinct(s, dir)
      .select(col("l_returnflag"),
        (abs(col("approx_orders") - col("exact_orders")).cast("double") /
          col("exact_orders") <= 0.05).as("ok_orders"),
        (abs(col("approx_parts") - col("exact_parts")).cast("double") /
          col("exact_parts") <= 0.05).as("ok_parts"))

  val q18ErrSql: String = """
    SELECT l_returnflag, TRUE AS ok_orders, TRUE AS ok_parts
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** Q20: the t-digest percentile stays within 2% of the exact
    * percentile per group (the RelationalSpec bound, surfaced to the
    * driver gate). */
  def q20ErrorInv(s: SparkSession, dir: String): DataFrame = {
    val approx = Relational.q20ApproxPercentiles(s, dir)
      .withColumnRenamed("p50_price", "a50")
      .withColumnRenamed("p95_price", "a95")
    Relational.q19Percentiles(s, dir).join(approx, "l_returnflag")
      .select(col("l_returnflag"),
        (abs(col("a50") - col("p50_price")) / col("p50_price") <= 0.02)
          .as("ok_p50"),
        (abs(col("a95") - col("p95_price")) / col("p95_price") <= 0.02)
          .as("ok_p95"))
  }

  val q20ErrSql: String = """
    SELECT l_returnflag, TRUE AS ok_p50, TRUE AS ok_p95
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  // ------------------------------------------- 1M bench-row invariants

  /** A1: the 1M-row generation bench output honors every column's
    * format/domain contract — the Layer A headline path, oracle-gated
    * at full bench scale. */
  def a01GenerateInv(s: SparkSession, dir: String): DataFrame = {
    val segs = customers(s, dir).select("c_mktsegment").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val n = Relational.table(s, dir, "nation")
    val r = Relational.table(s, dir, "region")
    val pairs = n.join(r, col("n_regionkey") === col("r_regionkey"))
      .select(col("n_name"), col("r_name"))
      .collect().map(x => x.getString(0) + "|" + x.getString(1)).toSeq
    LayerADemo.bench1mGenerate(s, dir).agg(
      count(lit(1)).as("n"),
      sum(col("segment").isin(segs: _*).cast("long")).as("n_seg"),
      sum(concat_ws("|", col("nation"), col("region")).isin(pairs: _*)
        .cast("long")).as("n_joint"),
      sum((col("dob").rlike("^\\d{4}-\\d{2}-\\d{2}$") &&
        col("dob") >= "1940-01-01" && col("dob") <= "2005-12-31")
        .cast("long")).as("n_dob"),
      sum(col("score").rlike("^-?\\d+\\.\\d{2}$").cast("long"))
        .as("n_score"),
      sum((col("u").rlike("^\\d\\.\\d{6}$") &&
        col("u").cast("double") >= 0 && col("u").cast("double") < 1)
        .cast("long")).as("n_u"))
  }

  val a01Sql: String = """
    SELECT CAST(1000000 AS BIGINT) AS n, CAST(1000000 AS BIGINT) AS n_seg,
      CAST(1000000 AS BIGINT) AS n_joint, CAST(1000000 AS BIGINT) AS n_dob,
      CAST(1000000 AS BIGINT) AS n_score, CAST(1000000 AS BIGINT) AS n_u"""

  /** A2: after the 4-mutator chain, every row still satisfies the
    * reachable-domain contract (categorical stays in-set; missing
    * value empties or preserves the uniform format). */
  def a02MutateInv(s: SparkSession, dir: String): DataFrame = {
    val segs = customers(s, dir).select("c_mktsegment").distinct()
      .collect().map(_.getString(0)).sorted.toSeq ++
      Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    LayerADemo.bench1mMutate(s, dir).agg(
      count(lit(1)).as("n"),
      sum(col("segment").isin(segs.distinct: _*).cast("long")).as("n_seg"),
      sum((col("u") === "" || col("u").rlike("^\\d\\.\\d{6}$"))
        .cast("long")).as("n_u"))
  }

  val a02Sql: String = """
    SELECT CAST(1000000 AS BIGINT) AS n, CAST(1000000 AS BIGINT) AS n_seg,
      CAST(1000000 AS BIGINT) AS n_u"""

  // ------------------------------------------------ sampling invariants

  /** S3: a stratified sample is a subset of its input (no fabricated
    * keys) and never exceeds any stratum's population. */
  def s03SampleSubset(s: SparkSession, dir: String): DataFrame = {
    val docs = Relational.table(s, dir, "documents")
      .select(col("doc_id"), col("lang"))
    val sampled = Sampling.stratifiedDemo(s, dir)
    val orphans = sampled.join(docs.select("doc_id"), Seq("doc_id"),
      "left_anti").agg(count(lit(1)).as("orphans"))
    val over = sampled.groupBy("lang").agg(count(lit(1)).as("sn"))
      .join(docs.groupBy("lang").agg(count(lit(1)).as("tn")), Seq("lang"))
      .agg(sum((col("sn") > col("tn")).cast("long")).as("over_strata"))
    orphans.crossJoin(over)
  }

  val s03Sql: String =
    "SELECT CAST(0 AS BIGINT) AS orphans, CAST(0 AS BIGINT) AS over_strata"

  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Seq(
      ("m02_keymap_len_inv", m02KeymapLen _, Some(m02Sql)),
      ("m06_insert_len_inv", m06InsertLen _, Some(m06Sql)),
      ("m07_delete_len_inv", m07DeleteLen _, Some(m07Sql)),
      ("m08_transpose_charset_inv", m08TransposeCharset _, Some(m08Sql)),
      ("m09_substitute_len_inv", m09SubstituteLen _, Some(m09Sql)),
      ("m11_categorical_set_inv", m11CategoricalSet _, Some(m11Sql)),
      ("m15_offset_bounds_inv", m15OffsetBounds _, Some(m15Sql)),
      ("m19_group_dispatch_inv", m19GroupDispatch _, Some(m19Sql)),
      ("m20_mutate_det_inv", m20MutateDet _, Some(m20Sql)),
      ("g02_uniform_range_inv", g02UniformRange _, Some(g02Sql)),
      ("g03_normal_fmt_inv", g03NormalFmt _, Some(g03Sql)),
      ("g04_freq_values_inv", g04FreqValues _, Some(g04Sql)),
      ("g05_joint_values_inv", g05JointValues _, Some(g05Sql)),
      ("g06_datetime_bounds_inv", g06DatetimeBounds _, Some(g06Sql)),
      ("g07_group_sizes_inv", g07GroupSizes _, Some(g07Sql)),
      ("g08_to_data_frame_fmt_inv", g08ToDataFrameFmt _, Some(g08Sql)),
      ("s03_sample_subset_inv", s03SampleSubset _, Some(s03Sql)),
      ("d02_recall_inv", d02RecallInv _, Some(recallSql)),
      ("d03_recall_inv", d03RecallInv _, Some(recallSql)),
      ("d06_star_inv", d06StarInv _, Some(d06Sql)),
      ("s02_ann_inv", s02AnnInv _, Some(s02Sql)),
      ("s04_ann_inv", s04AnnInv _, Some(s02Sql)),
      ("s10_ann_inv", s10AnnInv _, Some(s02Sql)),
      ("s24_ann_inv", s24AnnInv _, Some(s24Sql)),
      ("s27_filtered_inv", s27FilteredInv _, Some(s27Sql)),
      ("s28_ann_inv", s28AnnInv _, Some(s02Sql)),
      ("t22_heavy_inv", t22HeavyInv _, Some(t22Sql)),
      ("q18_error_inv", q18ErrorInv _, Some(q18ErrSql)),
      ("q20_error_inv", q20ErrorInv _, Some(q20ErrSql)),
      ("a01_generate_inv", a01GenerateInv _, Some(a01Sql)),
      ("a02_mutate_inv", a02MutateInv _, Some(a02Sql)),
    )
}
