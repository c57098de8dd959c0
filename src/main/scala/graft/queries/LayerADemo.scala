package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Gecko
import graft.gen.{Generators, ToDataFrame}
import graft.mut.{MutateDataFrame, Mutators}

/** Driver-facing demo queries — one per Layer A operator (SURVEY.md §2)
  * — so every generator/mutator is exercised by the correctness gate.
  * Deterministic operators carry DuckDB oracle SQL; seeded-random ones
  * are rows-only checked here and value-checked by ScalaTest
  * (GeneratorSpec/MutatorSpec statistical + reproducibility tests).
  *
  * Lookup tables are derived from the sf directory's own tables, so
  * demos scale with the data like a real pipeline would. */
object LayerADemo {
  import Generators._
  import Mutators._

  private val N = 20000L

  /** customer with a row-id column usable for stable randomness. */
  private def customers(s: SparkSession, dir: String): DataFrame =
    Relational.table(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))

  // -------------------------------------------------- generators
  def g01FromFunction(s: SparkSession, dir: String): DataFrame =
    FromFunction(rid => s"row-$rid").generate(s, 1000)
      .select(col(Gecko.RowId), col("c0").as("value"))

  val g01Sql: String =
    """SELECT CAST(range AS BIGINT) AS __row_id,
       'row-' || range AS value FROM range(1000) ORDER BY 1"""

  def g02Uniform(s: SparkSession, dir: String): DataFrame =
    FromUniformDistribution(10, 20, precision = 4, seed = 101)
      .generate(s, N)

  def g03Normal(s: SparkSession, dir: String): DataFrame =
    FromNormalDistribution(100, 15, precision = 2, seed = 102)
      .generate(s, N)

  def g04FrequencyTable(s: SparkSession, dir: String): DataFrame = {
    val freq = customers(s, dir).groupBy("c_mktsegment")
      .agg(count(lit(1)).cast("int").as("freq"))
    fromFrequencyTable(s, freq, "c_mktsegment", "freq", seed = 103)
      .generate(s, N)
  }

  def g05MulticolumnFrequencyTable(s: SparkSession, dir: String): DataFrame = {
    val n = Relational.table(s, dir, "nation")
    val r = Relational.table(s, dir, "region")
    val joint = n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_name"), col("r_name"))
      .withColumn("freq", lit(1))
    fromMulticolumnFrequencyTable(s, joint, Seq("n_name", "r_name"), "freq",
      seed = 104).generate(s, N)
  }

  def g06DatetimeRange(s: SparkSession, dir: String): DataFrame =
    FromDatetimeRange("1995-01-01", "2001-12-31", "%Y-%m-%d %H:%M:%S", "h",
      seed = 105).generate(s, N)

  def g07Group(s: SparkSession, dir: String): DataFrame =
    FromGroup(Seq(
      (0.6, FromUniformDistribution(0, 1, 6, seed = 106): graft.gen.Generator),
      (0.4, FromUniformDistribution(100, 200, 6, seed = 107))),
      maxRoundingAdjustment = 1, seed = 108).generate(s, N)

  def g08ToDataFrame(s: SparkSession, dir: String): DataFrame = {
    val freq = customers(s, dir).groupBy("c_mktsegment")
      .agg(count(lit(1)).cast("int").as("freq"))
    ToDataFrame(s, Seq(
      (Seq("segment"), fromFrequencyTable(s, freq, "c_mktsegment", "freq",
        seed = 109)),
      (Seq("score"), FromNormalDistribution(50, 10, 2, seed = 110)),
      (Seq("joined"), FromDatetimeRange("1990-01-01", "2000-01-01",
        "%d.%m.%Y", "d", seed = 111))), N)
  }

  // -------------------------------------------------- mutators
  // Deterministic-at-p=1 mutators run on customer names with the
  // custkey as row identity → SQL-checkable against DuckDB.

  private def mutDemo(s: SparkSession, dir: String, m: graft.mut.Mutator,
                      p: Double = 1.0): DataFrame =
    m(customers(s, dir), Seq("c_name"), p, col("c_custkey"))
      .select(col("c_custkey"), col("c_name"))

  def m01WithFunction(s: SparkSession, dir: String): DataFrame =
    mutDemo(s, dir, WithFunction(v => v.reverse, seed = 201))

  def m02CldrKeymap(s: SparkSession, dir: String): DataFrame = {
    val m = graft.mut.RuleMutators.WithCldrKeymap(
      graft.mut.Cldr.neighborCandidates(
        getClass.getResourceAsStream("/assets/de-t-k0-windows.xml"), None),
      seed = 202)
    mutDemo(s, dir, m, p = 0.5)
  }

  /** Disjoint-anchor rules at p=1: each segment value matches at most
    * ONE rule, so the uniform rule pick is forced and the rewrite is
    * deterministic — oracle-checkable while exercising all three anchor
    * flags (^/$/_, mutator.py:411-424). Overlapping-rule randomness is
    * covered by MutatorSpec. */
  def m03PhoneticReplacementTable(s: SparkSession, dir: String): DataFrame = {
    val m = graft.mut.RuleMutators.WithPhoneticReplacementTable(Seq(
      ("AUTO", "OTTO", "^"), ("ING", "ENG", "$"), ("URN", "ERN", "_")),
      seed = 203)
    m(customers(s, dir), Seq("c_mktsegment"), 1.0, col("c_custkey"))
      .select(col("c_custkey"), col("c_mktsegment"))
  }

  val m03Sql: String =
    """SELECT c_custkey, CASE c_mktsegment
       WHEN 'AUTOMOBILE' THEN 'OTTOMOBILE'
       WHEN 'BUILDING' THEN 'BUILDENG'
       WHEN 'FURNITURE' THEN 'FERNITURE'
       ELSE c_mktsegment END AS c_mktsegment
       FROM customer ORDER BY 1"""

  /** Whole-value replacement table at p=1: every value matches at most
    * one (unique-source) rule, so the rarest-first order and the random
    * target pick are forced — deterministic, oracle-checkable
    * (mutator.py:595-647). Inline/multi-occurrence randomness is
    * covered by MutatorSpec and the a02 bench spec. */
  def m04ReplacementTable(s: SparkSession, dir: String): DataFrame = {
    val m = graft.mut.RuleMutators.WithReplacementTable(Seq(
      ("AUTOMOBILE", "CAR"), ("BUILDING", "EDIFICE"),
      ("FURNITURE", "DESK"), ("HOUSEHOLD", "HOME")),
      inline = false, reverse = false, seed = 204)
    m(customers(s, dir), Seq("c_mktsegment"), 1.0, col("c_custkey"))
      .select(col("c_custkey"), col("c_mktsegment"))
  }

  val m04Sql: String =
    """SELECT c_custkey, CASE c_mktsegment
       WHEN 'AUTOMOBILE' THEN 'CAR'
       WHEN 'BUILDING' THEN 'EDIFICE'
       WHEN 'FURNITURE' THEN 'DESK'
       WHEN 'HOUSEHOLD' THEN 'HOME'
       ELSE c_mktsegment END AS c_mktsegment
       FROM customer ORDER BY 1"""

  /** Single anchored rule at p=1: flip the last two digits of every
    * customer number — one matching rule forces the pick, the splice
    * (mutator.py:1392-1429) is deterministic and mirrored by DuckDB's
    * regexp_replace backrefs. */
  def m17RegexReplacementTable(s: SparkSession, dir: String): DataFrame = {
    val m = graft.mut.RuleMutators.WithRegexReplacementTable(Seq(
      ("""(?P<a>\d)(?P<b>\d)$""", "", Map(
        "a" -> "(?P<b>)", "b" -> "(?P<a>)"))), seed = 217)
    mutDemo(s, dir, m, p = 1.0)
  }

  val m17Sql: String =
    """SELECT c_custkey, regexp_replace(c_name, '(\d)(\d)$', '\2\1') AS c_name
       FROM customer ORDER BY 1"""

  val m01Sql: String =
    "SELECT c_custkey, reverse(c_name) AS c_name FROM customer ORDER BY 1"

  def m05MissingValue(s: SparkSession, dir: String): DataFrame =
    mutDemo(s, dir, WithMissingValue("##MISSING##", seed = 205))

  val m05Sql: String =
    "SELECT c_custkey, '##MISSING##' AS c_name FROM customer ORDER BY 1"

  def m06Insert(s: SparkSession, dir: String): DataFrame =
    mutDemo(s, dir, WithInsert(seed = 206), p = 0.5)

  def m07Delete(s: SparkSession, dir: String): DataFrame =
    mutDemo(s, dir, WithDelete(seed = 207), p = 0.5)

  def m08Transpose(s: SparkSession, dir: String): DataFrame =
    mutDemo(s, dir, WithTranspose(seed = 208), p = 0.5)

  def m09Substitute(s: SparkSession, dir: String): DataFrame =
    mutDemo(s, dir, WithSubstitute(seed = 209), p = 0.5)

  def m10Noop(s: SparkSession, dir: String): DataFrame =
    mutDemo(s, dir, WithNoop())

  val m10Sql: String =
    "SELECT c_custkey, c_name FROM customer ORDER BY 1"

  def m11Categorical(s: SparkSession, dir: String): DataFrame = {
    val m = WithCategoricalValues(customers(s, dir), "c_mktsegment",
      seed = 211)
    m(customers(s, dir), Seq("c_mktsegment"), 0.5, col("c_custkey"))
      .select(col("c_custkey"), col("c_mktsegment"))
  }

  def m12Permute(s: SparkSession, dir: String): DataFrame =
    // two columns + p=1 => single derangement (the swap): deterministic
    WithPermute(seed = 212)(customers(s, dir),
        Seq("c_name", "c_mktsegment"), 1.0, col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))

  val m12Sql: String =
    """SELECT c_custkey, c_mktsegment AS c_name, c_name AS c_mktsegment
       FROM customer ORDER BY 1"""

  def m13Lowercase(s: SparkSession, dir: String): DataFrame =
    mutDemo(s, dir, WithLowercase(seed = 213))

  val m13Sql: String =
    "SELECT c_custkey, lower(c_name) AS c_name FROM customer ORDER BY 1"

  def m14Uppercase(s: SparkSession, dir: String): DataFrame =
    mutDemo(s, dir, WithUppercase(seed = 214))

  val m14Sql: String =
    "SELECT c_custkey, upper(c_name) AS c_name FROM customer ORDER BY 1"

  def m15DatetimeOffset(s: SparkSession, dir: String): DataFrame = {
    val o = Relational.table(s, dir, "orders")
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"))
    WithDatetimeOffset(10, "d", "%Y-%m-%d", preventWraparound = true,
        seed = 215)(o, Seq("odate"), 0.5, col("o_orderkey"))
  }

  def m16WithGenerator(s: SparkSession, dir: String): DataFrame =
    mutDemo(s, dir, WithGenerator(
      FromFunction(rid => s"gen-$rid"), "replace", seed = 216))

  val m16Sql: String =
    "SELECT c_custkey, 'gen-' || c_custkey AS c_name FROM customer ORDER BY 1"

  def m18Repeat(s: SparkSession, dir: String): DataFrame =
    mutDemo(s, dir, WithRepeat(" ", seed = 218))

  val m18Sql: String =
    "SELECT c_custkey, c_name || ' ' || c_name AS c_name FROM customer ORDER BY 1"

  def m19Group(s: SparkSession, dir: String): DataFrame =
    mutDemo(s, dir, WithGroup(Seq(
      (0.4, WithRepeat("+", seed = 219)),
      (0.3, WithDelete(seed = 220)),
      (0.2, WithInsert(seed = 221))), seed = 222))

  def m20MutateDataFrame(s: SparkSession, dir: String): DataFrame =
    MutateDataFrame(customers(s, dir), Seq(
      (Seq("c_name"), Seq(
        (0.3, WithInsert(seed = 223): graft.mut.Mutator),
        (0.3, WithDelete(seed = 224): graft.mut.Mutator))),
      (Seq("c_mktsegment"), Seq(
        (0.5, WithLowercase(seed = 225): graft.mut.Mutator)))),
      ridCol = "c_custkey")

  // ------------------------------------------- BASELINE.md targets
  /** The bench generation recipe at an arbitrary row count — one fused
    * zero-shuffle `range(n).select(...)` plan whatever `n` is. */
  private[graft] def benchGenerate(s: SparkSession, dir: String,
      rows: Long): DataFrame = {
    val freq = customers(s, dir).groupBy("c_mktsegment")
      .agg(count(lit(1)).cast("int").as("freq"))
    val n = Relational.table(s, dir, "nation")
    val r = Relational.table(s, dir, "region")
    val joint = n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_name"), col("r_name")).withColumn("freq", lit(1))
    ToDataFrame(s, Seq(
      (Seq("segment"), fromFrequencyTable(s, freq, "c_mktsegment", "freq",
        seed = 301)),
      (Seq("nation", "region"), fromMulticolumnFrequencyTable(s, joint,
        Seq("n_name", "r_name"), "freq", seed = 302)),
      (Seq("dob"), FromDatetimeRange("1940-01-01", "2005-12-31",
        "%Y-%m-%d", "d", seed = 303)),
      (Seq("score"), FromNormalDistribution(100, 15, 2, seed = 304)),
      (Seq("u"), FromUniformDistribution(0, 1, 6, seed = 305))), rows)
  }

  /** 1M rows × 6 string columns (G4+G5+G6 mix) — BASELINE target
    * "≤ 60 s wall". */
  def bench1mGenerate(s: SparkSession, dir: String): DataFrame =
    benchGenerate(s, dir, 1000000L)

  /** The 4-mutator bench spec (M4 inline OCR, M11, M5, M2) over the
    * generated frame at an arbitrary row count. */
  private[graft] def benchMutate(s: SparkSession, dir: String,
      rows: Long): DataFrame = {
    val base = benchGenerate(s, dir, rows)
    val ocr = graft.mut.RuleMutators.WithReplacementTable(Seq(
      ("0", "o"), ("1", "|"), ("5", "s"), ("2", "z"), ("g", "9")),
      inline = true, reverse = false, seed = 311)
    val cat = WithCategoricalValues(
      Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
      seed = 312)
    val miss = WithMissingValue("", seed = 313)
    val cldr = graft.mut.RuleMutators.WithCldrKeymap(
      graft.mut.Cldr.neighborCandidates(
        getClass.getResourceAsStream("/assets/de-t-k0-windows.xml"), None),
      seed = 314)
    MutateDataFrame(base, Seq(
      (Seq("dob"), Seq((0.3, ocr: graft.mut.Mutator))),
      (Seq("segment"), Seq((0.5, cat: graft.mut.Mutator))),
      (Seq("u"), Seq((0.1, miss: graft.mut.Mutator))),
      (Seq("nation"), Seq((0.2, cldr: graft.mut.Mutator)))))
  }

  /** 1M rows through the 4-mutator spec — BASELINE target
    * "≤ 120 s wall". */
  def bench1mMutate(s: SparkSession, dir: String): DataFrame =
    benchMutate(s, dir, 1000000L)

  private[graft] val A03Rows = 100000000L

  /** a03 — the a01+a02 pipeline at 100M rows (100× the 1M rows the
    * BASELINE targets were set against, untouched since round 1): one
    * fused zero-shuffle generate plan straight into the fused-stats
    * 4-mutator spec. At this scale the GATE ARTIFACT must stay
    * KB-sized, so the query emits the a02 domain-contract summary
    * (every count must equal the row count) instead of the frame —
    * which also makes it a DIRECT DuckDB oracle row (pure constants),
    * not a rows-only demo: a dropped row, a broken format, or an
    * out-of-set category at any of the 100M rows hash-fails the gate.
    * The aggregation is map-side partial — the plan stays
    * exchange-free end to end. Wall time vs a02 is the linearity
    * check (BASELINE row; any superlinearity is a bug in the fused
    * stats pass or the generator expressions). */
  def bench100mGenerateMutate(s: SparkSession, dir: String): DataFrame = {
    val segs = customers(s, dir).select("c_mktsegment").distinct()
      .collect().map(_.getString(0)).sorted.toSeq ++
      Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    // Measured in round 15 (OPTIMIZATION_r15.md, "Examined, measured,
    // and deliberately left alone"): the row is two passes over the
    // generated lineage — the fused stats agg evaluates only the
    // stats-bearing columns (dob/segment/u/nation) and the output
    // agg only (segment/u/score); column pruning already cuts both
    // to their minimal sets, and PERSISTING the generation to share
    // one materialization was A/B-measured 26.4 -> 42.6 s at the
    // bench's 4 GB heap (a ~10 GB 6-column cache thrashes to disk
    // and defeats pruning in BOTH passes) — so the double pruned
    // pass is kept deliberately.
    benchMutate(s, dir, A03Rows).agg(
      count(lit(1)).as("n"),
      sum(col("segment").isin(segs.distinct: _*).cast("long")).as("n_seg"),
      sum((col("u") === "" || col("u").rlike("^\\d\\.\\d{6}$"))
        .cast("long")).as("n_u"),
      sum(col("score").rlike("^-?\\d+\\.\\d{2}$").cast("long"))
        .as("n_score"))
  }

  val a03Sql: String = s"""
    SELECT CAST($A03Rows AS BIGINT) AS n,
      CAST($A03Rows AS BIGINT) AS n_seg,
      CAST($A03Rows AS BIGINT) AS n_u,
      CAST($A03Rows AS BIGINT) AS n_score"""

  /** name -> (query, optional oracle sql) */
  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Seq(
      ("g01_from_function", g01FromFunction _, Some(g01Sql)),
      ("g02_uniform", g02Uniform _, None),
      ("g03_normal", g03Normal _, None),
      ("g04_frequency_table", g04FrequencyTable _, None),
      ("g05_multicolumn_frequency_table", g05MulticolumnFrequencyTable _, None),
      ("g06_datetime_range", g06DatetimeRange _, None),
      ("g07_group", g07Group _, None),
      ("g08_to_data_frame", g08ToDataFrame _, None),
      ("m01_with_function", m01WithFunction _, Some(m01Sql)),
      ("m02_cldr_keymap", m02CldrKeymap _, None),
      ("m03_phonetic_replacement_table", m03PhoneticReplacementTable _,
        Some(m03Sql)),
      ("m04_replacement_table", m04ReplacementTable _, Some(m04Sql)),
      ("m17_regex_replacement_table", m17RegexReplacementTable _,
        Some(m17Sql)),
      ("m05_missing_value", m05MissingValue _, Some(m05Sql)),
      ("m06_insert", m06Insert _, None),
      ("m07_delete", m07Delete _, None),
      ("m08_transpose", m08Transpose _, None),
      ("m09_substitute", m09Substitute _, None),
      ("m10_noop", m10Noop _, Some(m10Sql)),
      ("m11_categorical", m11Categorical _, None),
      ("m12_permute", m12Permute _, Some(m12Sql)),
      ("m13_lowercase", m13Lowercase _, Some(m13Sql)),
      ("m14_uppercase", m14Uppercase _, Some(m14Sql)),
      ("m15_datetime_offset", m15DatetimeOffset _, None),
      ("m16_with_generator", m16WithGenerator _, Some(m16Sql)),
      ("m18_repeat", m18Repeat _, Some(m18Sql)),
      ("m19_group", m19Group _, None),
      ("m20_mutate_data_frame", m20MutateDataFrame _, None),
      ("a01_bench_generate_1m", bench1mGenerate _, None),
      ("a02_bench_mutate_1m", bench1mMutate _, None),
      ("a03_bench_generate_mutate_100m", bench100mGenerateMutate _,
        Some(a03Sql)),
    )
}
