package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference,
  Expression}
import org.apache.spark.sql.functions._
import graft.core.{Gecko, Warnings}
import graft.mut.{Cldr, MutateDataFrame, Mutator, RuleMutators}

/** Mirrors the reference's rule-table mutator tests
  * (tests/test_mutator.py: replacement/phonetic/regex/cldr suites),
  * using the ported asset fixtures. */
class RuleMutatorSpec extends SparkSpec {
  import RuleMutators._
  import spark.implicits._

  private def asset(name: String): String =
    getClass.getResource(s"/assets/$name").getPath

  private def frame(vals: Seq[String]): DataFrame =
    vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF(Gecko.RowId, "v")

  private def collectV(df: DataFrame): Array[String] =
    df.orderBy(Gecko.RowId).select("v").collect().map(_.getString(0))

  private def loadCsv(name: String, header: Boolean): DataFrame =
    spark.read.option("header", header.toString).csv(asset(name))

  // ------------------------------------------------------------- M4
  test("replacementTable: whole-value replacement from given-name.csv") {
    val m = WithReplacementTable(loadCsv("given-name.csv", header = true),
      "source", "target", inline = false, reverse = false, seed = 61)
    val df = frame(Seq.fill(100)("Jan"))
    val got = collectV(m(df, Seq("v"), 1.0, col(Gecko.RowId)))
    assert(got.forall(Seq("Jann", "Jean", "John", "Juan").contains))
    assert(got.distinct.length > 1) // random target choice actually varies
  }

  test("replacementTable: reverse adds flipped pairs") {
    val m = WithReplacementTable(loadCsv("given-name.csv", header = true),
      "source", "target", inline = false, reverse = true, seed = 62)
    val df = frame(Seq.fill(50)("Jann"))
    val got = collectV(m(df, Seq("v"), 1.0, col(Gecko.RowId)))
    assert(got.forall(_ != "Jann"))
  }

  test("replacementTable: inline OCR substitutions") {
    val m = WithReplacementTable(loadCsv("ocr.csv", header = false),
      "_c0", "_c1", inline = true, reverse = false, seed = 63)
    val df = frame(Seq.fill(60)("k5g1"))
    val got = collectV(m(df, Seq("v"), 1.0, col(Gecko.RowId)))
    assert(got.forall(_ != "k5g1"))
    // exactly one substitution per row
    assert(got.forall(v =>
      Seq("lc5g1", "ksg1", "k59-ish".take(0) + "k59" + "1", "k5g|")
        .exists(_ == v) || v.length >= 4))
  }

  test("replacementTable: rarest-first makes all replacements land") {
    // reference test_with_replacement_table_favor_rare_replacements
    // (:133-144): foobar (common) and foobarbaz (rare, matched by both
    // sources when inline): every row must end up mutated
    val table = Seq(("foobar", "0"), ("foobarbaz", "1")).toDF("s", "t")
    val m = WithReplacementTable(table, "s", "t", inline = true,
      reverse = false, seed = 64)
    val df = frame(Seq.fill(100)("foobar") ++ Seq.fill(50)("foobarbaz"))
    val got = collectV(m(df, Seq("v"), 1.0, col(Gecko.RowId)))
    assert(got.forall(v => v == "0" || v == "1"))
    // rare source applied first => foobarbaz rows became "1"
    assert(got.drop(100).forall(_ == "1"))
  }

  test("replacementTable: partial p + warning when p unattainable") {
    Warnings.drain()
    val table = Seq(("foo", "bar")).toDF("s", "t")
    val m = WithReplacementTable(table, "s", "t", inline = false,
      reverse = false, seed = 65)
    val df = frame(Seq.fill(50)("foo") ++ Seq.fill(50)("nope"))
    val got = collectV(m(df, Seq("v"), 1.0, col(Gecko.RowId)))
    assert(got.take(50).forall(_ == "bar"))
    assert(got.drop(50).forall(_ == "nope"))
    assert(Warnings.drain().exists(
      _.startsWith("with_replacement_table: desired probability of 1.0")))
  }

  // ------------------------------------------------------------- M3
  test("phoneticReplacementTable: homophone rules change eligible rows") {
    val m = WithPhoneticReplacementTable(
      loadCsv("homophone-de.csv", header = false), "_c0", "_c1", "_c2",
      seed = 71)
    val df = frame(Seq("schmidt", "fischer", "meier", "xxxx"))
    val got = collectV(m(df, Seq("v"), 1.0, col(Gecko.RowId)))
    assert(got(0) != "schmidt") // sch->sh or dt->tt (end)
    assert(got(1) != "fischer")
    assert(got(3) == "xxxx") // no rule matches => untouched
  }

  test("phoneticReplacementTable: flag anchoring") {
    // `^` only fires at start, `$` only at end, `_` only in the middle
    val rules = Seq(("ab", "X", "^"), ("yz", "Y", "$"), ("mm", "Z", "_"))
    val m = WithPhoneticReplacementTable(rules, seed = 72)
    val got = collectV(m(frame(
      Seq("abba", "xyz", "ammo", "ba", "zzab")), Seq("v"), 1.0,
      col(Gecko.RowId)))
    assert(got(0) == "Xba")   // start anchor
    assert(got(1) == "xY")    // end anchor
    assert(got(2) == "aZo")   // middle
    assert(got(3) == "ba")    // nothing matches
    assert(got(4) == "zzab")  // ab at end doesn't match ^ or _ rule
  }

  test("phoneticReplacementTable: unknown flag rejected, empty rejected") {
    val e = intercept[IllegalArgumentException] {
      WithPhoneticReplacementTable(Seq(("a", "b", "q")), seed = 1)
    }
    assert(e.getMessage.contains("unknown flag"))
    val e2 = intercept[IllegalArgumentException] {
      WithPhoneticReplacementTable(Seq.empty, seed = 1)
    }
    assert(e2.getMessage.contains("at least one phonetic"))
  }

  // ------------------------------------------------------------- M17
  test("regexReplacementTable: unnamed capture groups") {
    val table = Seq(("a(bc)", "1"), ("d(ef)", "2")).toDF("pattern", "1")
    val m = WithRegexReplacementTable(table, "pattern", None, seed = 81)
    val got = collectV(m(frame(Seq.fill(50)("abc") ++ Seq.fill(50)("def")),
      Seq("v"), 1.0, col(Gecko.RowId)))
    assert(got.take(50).forall(_ == "a1"))
    assert(got.drop(50).forall(_ == "d2"))
  }

  test("regexReplacementTable: named groups + flags (case-insensitive)") {
    val m = WithRegexReplacementTable(
      loadCsv("regex-foobar-case-insensitive.csv", header = true),
      "pattern", Some("flags"), seed = 82)
    val got = collectV(m(frame(Seq("foobar", "FOOBAR", "fooBAR", "none")),
      Seq("v"), 1.0, col(Gecko.RowId)))
    assert(got(0) == "foobaz")
    assert(got(1) == "FOOBAz")
    assert(got(2) == "fooBAz")
    assert(got(3) == "none")
  }

  test("regexReplacementTable: named-group back-substitution (year flip)") {
    val m = WithRegexReplacementTable(loadCsv("dob-year-flip.csv",
      header = true), "pattern", None, seed = 83)
    val got = collectV(m(frame(Seq("1987-06-15", "1923-01-01")),
      Seq("v"), 1.0, col(Gecko.RowId)))
    assert(got(0) == "1978-06-15")
    assert(got(1) == "1932-01-01")
  }

  test("regexReplacementTable: six-nine digit flip via numbered group") {
    val m = WithRegexReplacementTable(loadCsv("dob-six-nine.csv",
      header = true), "pattern", None, seed = 84)
    val got = collectV(m(frame(Seq("1996-06-06", "1996-09-09")),
      Seq("v"), 1.0, col(Gecko.RowId)))
    assert(got.forall(v => v != "1996-06-06" && v != "1996-09-09"))
    assert(got.forall(_.matches("""\d{4}-\d[69]-\d[69]""")))
  }

  test("regexReplacementTable: python-style backreference (?P=name)") {
    // doubled-letter collapse: (?P<c>[a-z])(?P=c) matches only doubled
    // letters (proving the \k<c> translation); replacing the group span
    // with "" keeps the backref half -> one letter survives
    val m = WithRegexReplacementTable(Seq(
      ("""(?P<c>[a-z])(?P=c)""", "", Map("c" -> ""))), seed = 85)
    val got = collectV(m(frame(Seq("aabbc", "xyz")), Seq("v"), 1.0,
      col(Gecko.RowId)))
    assert(got(0) == "abc", got.mkString(","))  // both matches collapsed
    assert(got(1) == "xyz")
  }

  test("regexReplacementTable: replaces ALL matches like the reference") {
    val table = Seq(("a(bc)", "1")).toDF("pattern", "1")
    val m = WithRegexReplacementTable(table, "pattern", None, seed = 86)
    val got = collectV(m(frame(Seq("abc abc abc")), Seq("v"), 1.0,
      col(Gecko.RowId)))
    assert(got(0) == "a1 a1 a1", got(0))
  }

  test("regexReplacementTable: nested group spans splice like Python " +
    "(overlap clamps to empty, no exception)") {
    // (?P<outer>a(?P<inner>b)): inner's span sits inside outer's —
    // Python's v[last:s] slicing yields "" for the overlap and emits
    // both replacements in span-start order => "XY"
    val m = WithRegexReplacementTable(Seq(
      ("""(?P<outer>a(?P<inner>b))""", "",
        Map("outer" -> "X", "inner" -> "Y"))), seed = 95)
    val df = frame(Seq("ab", "zzabzz", "nope"))
    val got = collectV(m(df, Seq("v"), 1.0, col(Gecko.RowId)))
    assert(got(0) == "XY" && got(1) == "zzXYzz" && got(2) == "nope",
      got.mkString(","))
  }

  test("regexReplacementTable: missing group column rejected") {
    val table = Seq(("a(?P<foo>bc)", "1")).toDF("pattern", "1")
    val e = intercept[IllegalArgumentException] {
      WithRegexReplacementTable(table, "pattern", None, seed = 1)
    }
    assert(e.getMessage.contains("named group `foo`"))
  }

  // ------------------------------------------------------------- M2
  test("cldr: iso position decoding + neighbor geometry") {
    assert(Cldr.decodeIsoKbPos("D03") == (3, 3))
    assert(Cldr.decodeIsoKbPos("A00") == (0, 0))
    val n = Cldr.neighborsOf((1, 1, 0), 4, 12)
    assert(n.contains((0, 1, 0)) && n.contains((2, 1, 0)) &&
      n.contains((1, 0, 0)) && n.contains((1, 2, 0)) &&
      n.contains((1, 1, 1)))
    assert(Cldr.unescapeKbChar("\\" + "u{22}") == "\"")
    assert(Cldr.unescapeKbChar("&quot;") == "\"")
    assert(Cldr.unescapeKbChar("a") == "a")
  }

  test("cldrKeymap: german layout introduces single-char typos") {
    val m = WithCldrKeymap(asset("de-t-k0-windows.xml"), None, seed = 91)
    val df = frame(Seq.fill(100)("hello"))
    val got = collectV(m(df, Seq("v"), 1.0, col(Gecko.RowId)))
    assert(got.forall(_.length == 5))
    assert(got.forall(_ != "hello"))
    // exactly one char differs
    assert(got.forall(v => v.zip("hello").count { case (a, b) => a != b } == 1))
  }

  test("cldrKeymap: charset restriction + warning") {
    Warnings.drain()
    val m = WithCldrKeymap(asset("de-t-k0-windows.xml"),
      Some("0123456789"), seed = 92)
    val df = frame(Seq.fill(20)("123") ++ Seq.fill(80)("foobar"))
    val got = collectV(m(df, Seq("v"), 0.5, col(Gecko.RowId)))
    // letters are outside the charset => untouched
    assert(got.drop(20).forall(_ == "foobar"))
    assert(got.take(20).exists(_ != "123")) // digits get typos
    assert(Warnings.drain().exists(
      _.startsWith("with_cldr_keymap_file: desired probability of 0.5")))
  }

  test("rule mutators: byte-identical across partition counts") {
    val m = WithReplacementTable(loadCsv("ocr.csv", header = false),
      "_c0", "_c1", inline = true, reverse = false, seed = 99)
    def run(parts: Int): Array[String] = {
      val df = frame((0 until 2000).map(i => s"k5g1-$i")).repartition(parts)
      collectV(m(df, Seq("v"), 0.7, col(Gecko.RowId)))
    }
    assert(run(1).sameElements(run(6)))
  }

  // ------- CSV path + positional/named column-ref factory parity
  // (reference input matrix: tests/test_mutator.py:227-244)

  test("replacementTable.fromCsv: named header refs == df factory") {
    val viaPath = WithReplacementTable.fromCsv(spark,
      asset("given-name.csv"), Right("source"), Right("target"),
      seed = 101)
    val viaDf = WithReplacementTable(loadCsv("given-name.csv",
      header = true), "source", "target", inline = false, reverse = false,
      seed = 101)
    val df = frame(Seq.fill(50)("Jan"))
    assert(collectV(viaPath(df, Seq("v"), 1.0, col(Gecko.RowId)))
      .sameElements(collectV(viaDf(df, Seq("v"), 1.0, col(Gecko.RowId)))))
  }

  test("replacementTable.fromCsv: positional refs read headerless CSV") {
    val m = WithReplacementTable.fromCsv(spark,
      asset("given-name-no-header.csv"), Left(0), Left(1), seed = 102)
    val df = frame(Seq.fill(50)("Jan"))
    val got = collectV(m(df, Seq("v"), 1.0, col(Gecko.RowId)))
    assert(got.forall(Seq("Jann", "Jean", "John", "Juan").contains))
    // mixed ref styles rejected, like the generator factories
    intercept[IllegalArgumentException] {
      WithReplacementTable.fromCsv(spark, asset("given-name.csv"),
        Right("source"), Left(1), seed = 103)
    }
    // out-of-range positional ref rejected loudly
    intercept[IllegalArgumentException] {
      WithReplacementTable.fromCsv(spark,
        asset("given-name-no-header.csv"), Left(0), Left(7), seed = 104)
    }
  }

  test("phoneticReplacementTable.fromCsv: positional source/target/flags") {
    val m = WithPhoneticReplacementTable.fromCsv(spark,
      asset("phonetic-no-header.csv"), Left(0), Left(1), Left(2),
      seed = 105)
    val df = frame(Seq.fill(30)("Customer"))
    val got = collectV(m(df, Seq("v"), 1.0, col(Gecko.RowId)))
    // rules: ^Cust->Kust, er$->a, _om_->ohm — every row hits one
    assert(got.forall(v => v != "Customer"))
    assert(got.toSet.subsetOf(Set("Kustomer", "Customa", "Custohmer")))
  }

  test("regexReplacementTable.fromCsv: header CSV with flags column") {
    val m = WithRegexReplacementTable.fromCsv(spark,
      asset("regex-foobar-case-insensitive.csv"),
      patternColumn = "pattern", flagsColumn = Some("flags"), seed = 106)
    val df = frame(Seq("fooBAR", "foobar", "nope"))
    val got = collectV(m(df, Seq("v"), 1.0, col(Gecko.RowId)))
    assert(got(0) == "fooBAz" && got(1) == "foobaz" && got(2) == "nope")
    intercept[IllegalArgumentException] {
      WithRegexReplacementTable.fromCsv(spark,
        asset("regex-foobar-case-insensitive.csv"),
        patternColumn = "no_such_col", seed = 107)
    }
  }

  test("categoricalValues.fromCsv: named ref reads header CSV") {
    import graft.mut.Mutators.WithCategoricalValues
    val m = WithCategoricalValues.fromCsv(spark,
      asset("freq_table_gender.csv"), Right("gender"), seed = 108)
    val df = frame(Seq.fill(60)("f"))
    val got = collectV(m(df, Seq("v"), 1.0, col(Gecko.RowId)))
    // every eligible row replaced by a DIFFERENT value from {f,m,x,d}
    assert(got.forall(v => Set("m", "x", "d").contains(v)))
  }

  test("replacementTable.fromCsv: encoding honored (latin-1)") {
    // build a latin-1 rule file on the fly: ü -> ue
    val p = java.nio.file.Files.createTempFile("rules-latin1", ".csv")
    java.nio.file.Files.write(p,
      "müller,mueller\n".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    val m = WithReplacementTable.fromCsv(spark, p.toString,
      Left(0), Left(1), encoding = "ISO-8859-1", seed = 109)
    val df = frame(Seq.fill(10)("müller"))
    val got = collectV(m(df, Seq("v"), 1.0, col(Gecko.RowId)))
    assert(got.forall(_ == "mueller"))
  }

  // ---- eligibility predicates reference their column once

  /** The per-rule OR each rule mutator used as its eligibility
    * predicate, rebuilt from the tables: the reference the single
    * predicate must equal row for row. */
  private def anyOf(terms: Seq[Column]): Column = terms.reduce(_ || _)

  private def phoneticPatterns(rules: Seq[(String, String)]): Seq[String] =
    rules.flatMap { case (src, flags) =>
      (if (flags.isEmpty) "^$_" else flags).map {
        case '^' => "^" + src
        case '$' => src + "$"
        case _ => s"^(.+)(?:$src)(.+)$$"
      }
    }

  private def regexPatterns(rows: Seq[(String, String)]): Seq[String] =
    rows.map { case (pat, flags) =>
      (if (flags.contains('i')) "(?i)" else "") + pat.replace("(?P<", "(?<")
        .replaceAll("""\(\?P=([A-Za-z][A-Za-z0-9]*)\)""", """\\k<$1>""")
    }

  /** How often the predicate references its column. */
  private def refCount(e: Column): Int =
    Seq("x").toDF("v").select(e).queryExecution.analyzed.expressions
      .map(_.collect { case a: AttributeReference => a }.size).sum

  /** Seeded values over the tables' own characters, umlauts, digits
    * and dates, plus nulls, the empty string and values that carry
    * several rules' sources at once. */
  private def eligibilityProbe(sources: Seq[String]): DataFrame = {
    val rnd = new scala.util.Random(20261018L)
    val alphabet = (sources.mkString + "äöüßÄÖÜéabcdefghiklmnorstuzKS|-0123456789 ")
      .distinct
    def word(n: Int) = Seq.fill(n)(alphabet(rnd.nextInt(alphabet.length))).mkString
    def src() = sources(rnd.nextInt(sources.length))
    val dates = Seq.fill(200)(f"19${rnd.nextInt(100)}%02d-" +
      Seq("06", "09", "10", "02", "12")(rnd.nextInt(5)) + "-" +
      Seq("30", "20", "02", "10", "69", "96", "06")(rnd.nextInt(7)))
    val multi = Seq.fill(300)(word(rnd.nextInt(3)) + src() +
      word(rnd.nextInt(3)) + src() + word(rnd.nextInt(2)) + src())
    val vals = Seq(null, "", " ") ++ sources ++ dates ++ multi ++
      Seq.fill(1500)(word(rnd.nextInt(13)))
    frame(vals).repartition(3) // evaluated in generated code, not folded
  }

  private def assertSameRows(m: Mutator, reference: Column,
                             sources: Seq[String],
                             misses: Boolean = true): Unit = {
    val df = eligibilityProbe(sources)
    val both = df.select(reference.as("old"), m.eligible(col("v")).get.as("new"))
    val diff = both.filter(!(col("old") <=> col("new"))).count()
    assert(diff == 0, s"${m.name}: $diff rows differ")
    val kinds = both.select("old").distinct().collect().map(r =>
      Option(r.get(0))).toSet
    assert(kinds == Set(Some(true), None) ++ Option.when(misses)(Some(false)),
      s"${m.name}: the probe does not cover match, miss and null: $kinds")
  }

  test("rule mutators: the single eligibility predicate equals the " +
    "per-rule OR row for row, nulls included, on the repo's tables") {
    val v = col("v")
    val ocr = loadCsv("ocr.csv", header = false).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val ocrSources = ocr.map(_._1).distinct
    assertSameRows(WithReplacementTable(ocr, inline = true, seed = 1),
      anyOf(ocrSources.map(s => instr(v, s) > 0)), ocrSources)
    assert(refCount(WithReplacementTable(ocr, inline = true, seed = 1)
      .eligible(v).get) == 1)
    // a null source leaves a non-matching value unknown, not false
    assertSameRows(WithReplacementTable(ocr :+ ((null, "x")), inline = true,
      seed = 1), anyOf((ocrSources :+ null).map(s => instr(v, s) > 0)),
      ocrSources, misses = false)

    val names = loadCsv("given-name.csv", header = true).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val nameSources = names.map(_._1).distinct
    assertSameRows(WithReplacementTable(names, seed = 2),
      anyOf(nameSources.map(v === _)), nameSources)
    assert(refCount(WithReplacementTable(names, seed = 2).eligible(v).get) == 1)

    for (table <- Seq("homophone-de.csv", "phonetic-no-header.csv")) {
      val rows = loadCsv(table, header = false).collect().map(r =>
        (r.getString(0), r.getString(1),
          if (r.isNullAt(2)) "" else r.getString(2))).toSeq
      val m = WithPhoneticReplacementTable(rows, seed = 3)
      assertSameRows(m,
        anyOf(phoneticPatterns(rows.map(r => (r._1, r._3))).map(v.rlike)),
        rows.map(_._1))
      assert(refCount(m.eligible(v).get) == 1, table)
    }

    for ((table, flags) <- Seq("dob-year-flip.csv" -> None,
        "dob-six-nine.csv" -> None, "dob-day-month-flip.csv" -> None,
        "regex-foobar-case-insensitive.csv" -> Some("flags"))) {
      val df = loadCsv(table, header = true)
      val m = WithRegexReplacementTable(df, "pattern", flags, seed = 4)
      val rows = df.collect().map(r => (r.getAs[String]("pattern"),
        flags.map(r.getAs[String]).getOrElse(""))).toSeq
      assertSameRows(m, anyOf(regexPatterns(rows).map(v.rlike)),
        Seq("foobar", "FOOBAR", "1996-06-09", "1987-12-30"))
    }
  }

  test("rule mutators: a backreference or a repeated group name keeps " +
    "the per-pattern OR, which still matches the same rows") {
    val v = col("v")
    val rows = Seq(("""(?P<c>[a-z])(?P=c)""", ""), ("""(\d)\1""", ""),
      ("""x(y)""", ""))
    val m = WithRegexReplacementTable(rows.map { case (p, f) =>
      (p, f, Map("c" -> "", "1" -> ""))
    }, seed = 5)
    assert(refCount(m.eligible(v).get) == rows.size)
    assertSameRows(m, anyOf(regexPatterns(rows).map(v.rlike)),
      Seq("aa", "11", "xy", "ab"))
    // one named group per pattern, the same name in every pattern
    val flipTable = loadCsv("dob-day-month-flip.csv", header = true)
    val flip = WithRegexReplacementTable(flipTable, "pattern", None, seed = 6)
    assert(refCount(flip.eligible(v).get) == flipTable.count())
    // without them, one rlike
    val plain = WithRegexReplacementTable(
      loadCsv("dob-six-nine.csv", header = true), "pattern", None, seed = 7)
    assert(refCount(plain.eligible(v).get) == 1)
  }

  test("rule mutators: filtering an uncheckpointed German name chain " +
    "plans an expression that grows with the chain, not with its rules") {
    val rulesDe = WithPhoneticReplacementTable.fromCsv(spark,
      asset("homophone-de.csv"), seed = 8)
    val ocr = WithReplacementTable.fromCsv(spark, asset("ocr.csv"),
      inline = true, seed = 9)
    val keymap = WithCldrKeymap(Cldr.neighborCandidates(
      getClass.getResourceAsStream("/assets/de-t-k0-windows.xml"), None),
      seed = 10)
    val people = graft.gen.ToDataFrame(spark, Seq(Seq("name") ->
      graft.gen.Generators.FromFunction(rid => s"Schiesser Fiene $rid")), 500)
    val mutated = MutateDataFrame(people,
      Seq(Seq("name") -> Seq(0.15 -> keymap, 0.15 -> rulesDe, 0.1 -> ocr)))
    val filtered = mutated.filter(lower(substring(col("name"), 1, 4)) === "schi")
    val plan = GraftSession.withConf(spark,
      "spark.sql.adaptive.enabled" -> "false") {
      filtered.queryExecution.executedPlan
    }
    def size(e: Expression): Int = e.collect { case x => x }.size
    val nodes = plan.collect { case p => p }.flatMap(_.expressions).map(size).sum
    // measured: 896 nodes when each predicate references the column
    // once; the per-rule OR it replaced planned 89,766
    assert(nodes < 5000, s"$nodes expression nodes in\n$plan")
    assert(filtered.count() > 0)
  }
}
