package geckobench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Gecko
import graft.gen.{Generator, ToDataFrame}
import graft.gen.Generators._
import graft.mut.{MutateDataFrame, Mutator}
import graft.mut.Mutators._
import graft.mut.RuleMutators._
import graft.queries.{Dedup, Linkage}

/** linkage_roundtrip — the paper's evaluation loop: generate people,
  * corrupt a copy with the German-example mutator chain, link the copy
  * back, cluster the links and score exact precision and recall against
  * the row id. Most time is in the blocked join, the Levenshtein filter
  * and the clustering supersteps; generation is light, and the mutators
  * are rule based (keymap, phonetic and OCR tables) rather than
  * expression based. */
object LinkageRoundtrip extends Workload {
  val People = 20000L
  /** Corrupted records are keyed `row id + RecOffset`, so both sides
    * share one id space in the clustering. */
  val RecOffset = 1L << 40
  val MaxDist = 2

  private val Onsets = Array("b", "d", "f", "g", "h", "k", "l", "m", "n",
    "p", "r", "s", "t", "w", "z", "j", "sch", "st", "br", "kr")
  private val Nuclei = Array("a", "e", "i", "o", "u", "ie", "ei", "au",
    "ee", "ue")
  private val Syllables = for (o <- Onsets; n <- Nuclei) yield o + n
  /** Name slots: three leading syllables times 100 last-syllable pairs. */
  private val Slots = math.pow(Syllables.length, 3).toLong * 100
  /** Rows 16m and 16m+1 are near-namesakes (twins): one slot, last
    * syllables 2j and 2j+1, which differ in one vowel. They are distinct
    * identities within the join's edit distance, so every seed has the
    * same kind of ambiguous clusters and the clustering needs the same
    * number of supersteps whatever the seed. */
  private val TwinEvery = 16

  private var spec: Seq[(Seq[String], Generator)] = Nil
  private var muts: Seq[(Seq[String], Seq[(Double, Mutator)])] = Nil

  /** A seeded bijection from row id to a four-syllable surname, so every
    * generated identity is distinct and the row id is the ground truth. */
  private def surnames(seed: Long): Long => String = {
    val rnd = new scala.util.Random(seed)
    // odd and not a multiple of 5: coprime to Slots = 2^11 * 5^8
    var a = 0L
    while (a % 2 == 0 || a % 5 == 0) a = 1 + rnd.nextInt(Int.MaxValue).toLong
    val b = rnd.nextInt(Int.MaxValue).toLong
    val syl = Syllables
    val (slots, every) = (Slots, TwinEvery)
    rid => {
      val twin = rid % every == 1
      var x = Math.floorMod(a * (if (twin) rid - 1 else rid) + b, slots)
      val sb = new StringBuilder
      for (_ <- 0 until 3) {
        sb.append(syl((x % syl.length).toInt))
        x /= syl.length
      }
      sb.append(syl((2 * x + (if (twin) 1 else 0)).toInt))
      sb.setCharAt(0, sb.charAt(0).toUpper)
      sb.toString
    }
  }

  def stage(spark: SparkSession, seed: Long, dir: java.io.File): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val assets = Workload.Assets
    val givenNames = spark.read.option("header", "true")
      .csv(s"$assets/given-name.csv")
      .select(explode(array(col("source"), col("target"))).as("given"))
      .distinct().orderBy("given").as[String].collect().toSeq
    val genders = spark.read.option("header", "true")
      .csv(s"$assets/freq_table_gender.csv")
      .select("gender").distinct().orderBy("gender").as[String].collect()
      .toSeq
    val givenFreq = givenNames.map(g => (g, 1 + rnd.nextInt(50)))
      .toDF("given", "freq")
    val genderFreq = genders.map(g => (g, 1 + rnd.nextInt(50)))
      .toDF("gender", "freq")
    val s = seed * 100
    spec = Seq(
      Seq("surname") -> FromFunction(surnames(s + 1)),
      Seq("given") -> fromFrequencyTable(spark, givenFreq, "given", "freq",
        seed = s + 2),
      Seq("dob") -> FromDatetimeRange("1930-01-01", "2005-12-31",
        "%Y-%m-%d", "d", seed = s + 3),
      Seq("gender") -> fromFrequencyTable(spark, genderFreq, "gender",
        "freq", seed = s + 4))
    muts = Seq(
      Seq("name") -> Seq(
        0.15 -> WithCldrKeymap(Workload.deKeymap(), seed = s + 11),
        0.15 -> WithPhoneticReplacementTable.fromCsv(spark,
          s"$assets/homophone-de.csv", seed = s + 12),
        0.1 -> WithReplacementTable.fromCsv(spark, s"$assets/ocr.csv",
          inline = true, seed = s + 13)),
      Seq("dob", "gender") -> Seq(0.05 -> WithMissingValue("", seed = s + 14)))
  }

  /** Block on the first four characters: a typo there loses the true
    * pair, which is what recall measures. */
  private def blockOf(name: org.apache.spark.sql.Column) =
    lower(substring(name, 1, 4))

  def iteration(ctx: Ctx): Map[String, Any] = {
    val people = ctx.call("gen.to_data_frame") {
      ToDataFrame(ctx.spark, spec, People)
        .select(col(Gecko.RowId),
          concat_ws(" ", col("surname"), col("given")).as("name"),
          col("dob"), col("gender"))
        .localCheckpoint()
    }
    val mutated = ctx.call("mut.mutate_data_frame") {
      MutateDataFrame(people, muts)
    }
    val copy = ctx.call("mut.rewrite") { mutated.localCheckpoint() }
    val links = ctx.call("link.blocked_levenshtein_join") {
      Linkage.blockedLevenshteinJoin(
          people.select(col(Gecko.RowId).as("id"), col("name")), "name",
          copy.select(col(Gecko.RowId).as("rec_id"), col("name").as("rec_name")),
          "rec_name", blockOf, MaxDist)
        .select(col("id"), col("rec_id"))
        .localCheckpoint()
    }
    val clusters = ctx.call("dedup.cluster_pairs") {
      Dedup.clusterPairs(links.select(col("id").as("a"),
        (col("rec_id") + RecOffset).as("b"))).localCheckpoint()
    }
    ctx.call("score.precision_recall") {
      val (tp, predicted) = score(clusters)
      ctx.require(predicted > 0 && tp > 0,
        s"linkage_roundtrip: no true link found ($tp of $predicted)")
      Map("tp" -> tp, "predicted" -> predicted,
        "precision" -> tp.toDouble / predicted,
        "recall" -> tp.toDouble / People)
    }
  }

  /** Pairwise scoring of the clustering: every (person, record) pair
    * inside one cluster is a predicted match; it is true when the record
    * is the corrupted copy of that person. Returns (true, predicted). */
  private def score(labels: DataFrame): (Long, Long) = {
    val isRec = col("doc_id") >= RecOffset
    val predicted = labels.groupBy("cluster_id")
      .agg(sum(when(isRec, 0L).otherwise(1L)).as("n_people"),
        sum(when(isRec, 1L).otherwise(0L)).as("n_records"))
      .agg(sum(col("n_people") * col("n_records"))).head()
    val people = labels.filter(!isRec)
    val records = labels.filter(isRec)
      .select((col("doc_id") - RecOffset).as("doc_id"),
        col("cluster_id").as("rec_cluster"))
    val tp = people.join(records, "doc_id")
      .filter(col("cluster_id") === col("rec_cluster")).count()
    (tp, if (predicted.isNullAt(0)) 0L else predicted.getLong(0))
  }

  /** Candidate pairs the block join verifies, and the share of them that
    * are true pairs (a person and its own corrupted copy). */
  override def probes(ctx: Ctx): Map[String, Double] = ctx.span("probe.link_candidates") {
    val people = ToDataFrame(ctx.spark, spec, People)
      .select(col(Gecko.RowId),
        concat_ws(" ", col("surname"), col("given")).as("name"))
    val copy = MutateDataFrame(people, muts.take(1))
    val l = people.select(blockOf(col("name")).as("blk"))
      .groupBy("blk").count()
    val r = copy.select(blockOf(col("name")).as("blk"))
      .groupBy("blk").agg(count(lit(1)).as("n"))
    val candidates = l.join(r, "blk").agg(sum(col("count") * col("n")))
      .head().getLong(0)
    val truePairs = people.join(copy.withColumnRenamed("name", "rec_name"),
        Gecko.RowId)
      .filter(blockOf(col("name")) === blockOf(col("rec_name"))).count()
    Map("link.candidate_pairs" -> candidates.toDouble,
      "link.true_pair_share" -> truePairs.toDouble / candidates)
  }

  override def report(first: Map[String, Any]): Map[String, Double] =
    Map("linkage_precision" -> first("precision").asInstanceOf[Double],
      "linkage_recall" -> first("recall").asInstanceOf[Double],
      "gen_rows" -> People.toDouble)
}
