package graft.mut

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Warnings
import graft.expr.ContainsAny

import java.util.regex.{Matcher, Pattern}

/** Rule-table mutators (SURVEY.md §2.2 M2/M3/M4/M17) — the reference's
  * hard core. All rule data is parsed and compiled on the driver at
  * factory time (the reference does its CSV/XML I/O at factory-call
  * time too — mutator.py:556-569, :149-152) and shipped to executors
  * inside deterministic UDF closures; matching and replacement are one
  * UDF pass per row.
  *
  * A note on the reference's "rarest-first with per-row 1/k weighting"
  * loop (mutator.py:443-478 and :1546-1577): per row it selects the
  * t-th remaining matching rule with probability 1/(remaining count),
  * decrementing on every miss — which is exactly a uniform draw over
  * the row's matching rules, independent of the global iteration order.
  * The Spark implementation therefore picks uniformly among matching
  * rules inside the UDF and needs NO global count pass for M3/M17. Only
  * M4 (with_replacement_table) applies rules in a deterministic
  * global-ascending-match-count order (mutator.py:618-624), which does
  * require one aggregation pass; its per-source counts are declared via
  * [[Mutator.statsAggs]] alongside the eligibility rate, so both ride
  * the single fused stats job (standalone or inside MutateDataFrame). */
object RuleMutators {

  /** Uniform index in [0, n) from a double in [0, 1). */
  private def pick(u: Double, n: Int): Int = {
    val i = (u * n).toInt
    if (i >= n) n - 1 else i
  }

  private val backreference = Pattern.compile("""\\(?:\d|k<)""")

  /** "`c` has a match of any of `patterns`" (each with `rlike`'s
    * unanchored-find semantics) as one `rlike` over the alternation
    * `(?:p1)|(?:p2)|…`, so an eligibility predicate references its
    * column once, not once per rule. That matters in a mutator chain:
    * the planner inlines each mutator's output into every reference of
    * the next one's predicate, so per-rule terms grow the expression
    * multiplicatively. Each pattern keeps its own group and inline
    * flags, since java.util.regex scopes inline flags to the enclosing
    * group. The per-pattern OR stays when a pattern has a
    * backreference (the alternation renumbers groups), does not parse
    * as one closed group (an unterminated `\Q`, a `(?x)` comment), or
    * when the alternation repeats a group name. */
  private def matchesAny(c: Column, patterns: Seq[String]): Column = {
    val alternation = patterns.map(p => s"(?:$p)").mkString("|")
    def parses(p: String) = scala.util.Try(Pattern.compile(p)).isSuccess
    val single = !patterns.exists(backreference.matcher(_).find()) &&
      patterns.forall(p => parses(s"(?:$p)")) && parses(alternation)
    if (single) c.rlike(alternation) else patterns.map(c.rlike).reduce(_ || _)
  }

  /** Shared rule-table CSV loader (reference: mutator.py:556-569): all
    * columns arrive as strings, header presence is inferred from
    * whether the column refs are names or positions (mutator.py:529),
    * NA coercion is disabled (keep_default_na=False) and `encoding` is
    * honored (mutator.py:536). Returns the frame plus the resolved
    * column names. */
  private[mut] def readRuleCsv(spark: SparkSession, path: String,
                               refs: Seq[Either[Int, String]],
                               encoding: String, delimiter: String)
      : (DataFrame, Seq[String]) = {
    val allNamed = refs.forall(_.isRight)
    val allIndexed = refs.forall(_.isLeft)
    require(allNamed || allIndexed,
      "column references must either all be names or all be indices")
    val df = graft.core.CsvIo.read(spark, path, header = allNamed,
      delimiter, encoding)
    (df, refs.map {
      case Right(name) =>
        require(df.columns.contains(name),
          s"CSV file at `$path` doesn't have a column named `$name`")
        name
      case Left(idx) =>
        require(idx >= 0 && idx < df.columns.length,
          s"CSV file at `$path` has no column at index $idx")
        df.columns(idx)
    })
  }

  // ------------------------------------------------------------------ M4
  /** Dictionary substitution (reference: gecko/mutator.py:510-655).
    * `inline=true` matches sources as substrings, otherwise whole
    * values (:595-599); `reverse=true` appends flipped pairs
    * (:571-584). Sources are applied rarest-global-match-first
    * ascending (:618-624); each row takes the first source (in that
    * order) that matches and actually changes the value (:633's
    * not-yet-mutated mask), replacing the first occurrence with a
    * random target of that source (:637-647). */
  case class WithReplacementTable(pairs: Seq[(String, String)],
                                  inline: Boolean = false,
                                  reverse: Boolean = false,
                                  seed: Long) extends Mutator {
    require(pairs.nonEmpty, "replacement table must not be empty")

    // unique sources in order of appearance, reverse pairs appended
    private val allPairs: Seq[(String, String)] =
      if (reverse) pairs ++ pairs.map(_.swap).filterNot(pairs.contains)
      else pairs
    private val sources: Array[String] = allPairs.map(_._1).distinct.toArray
    private val targets: Map[String, Array[String]] =
      allPairs.groupBy(_._1).map { case (s, ps) => s -> ps.map(_._2).toArray }

    private def matchExpr(c: Column, s: String): Column =
      if (inline) instr(c, s) > 0 else c === s

    /** Whole values: one `isin`. Inline sources: one byte-level
      * [[graft.expr.ContainsAny]]; a null source keeps its own `instr`
      * term (null, never true), as in a per-source OR. */
    override def eligible(c: Column): Option[Column] = Some(
      if (!inline) c.isin(sources.toIndexedSeq: _*)
      else {
        val (given, nulls) = sources.toSeq.partition(_ != null)
        val terms = nulls.map(matchExpr(c, _))
        (if (given.isEmpty) terms
         else ContainsAny.containsAny(c, given) +: terms).reduce(_ || _)
      })

    /** Eligibility rate + one global match count per source — all carried
      * by the single fused stats job. */
    override def statsAggs(colName: String): Seq[Column] =
      super.statsAggs(colName) ++
        sources.map(s => sum(matchExpr(col(colName), s).cast("long")))

    /** Ascending global-match-count source order from the stats values
      * (reference: mutator.py:618-624). */
    private def orderFrom(counts: Seq[Any]): Array[Int] =
      sources.indices
        .map(i => (i, counts(i) match {
          case l: java.lang.Long => l.longValue()
          case _ => 0L
        }))
        .filter(_._2 > 0)
        .sortBy { case (i, n) => (n, i) } // stable: appearance-order ties
        .map(_._1).toArray

    /** Direct (stats-less) path — only reached via WithGroup's
      * sub-mutator dispatch; runs its own single counts job. */
    override def applyToColumn(df: DataFrame, colName: String, colIdx: Int,
                               sel: Column, rid: Column): DataFrame = {
      val aggs = sources.map(s =>
        sum(matchExpr(col(colName), s).cast("long")))
      val row = df.agg(aggs.head, aggs.tail: _*).head()
      applyOrdered(df, colName, colIdx, sel, rid,
        orderFrom(sources.indices.map(row.get)))
    }

    override protected def applyToColumnWithStats(
        df: DataFrame, colName: String, colIdx: Int, sel: Column,
        rid: Column, stats: Seq[Any]): DataFrame =
      applyOrdered(df, colName, colIdx, sel, rid,
        orderFrom(stats.drop(1))) // drop the eligibility-rate slot

    private def applyOrdered(df: DataFrame, colName: String, colIdx: Int,
                             sel: Column, rid: Column,
                             order: Array[Int]): DataFrame = {
      val inl = inline
      val srcArr = sources
      val tgtMap = targets
      val f = udf { (v: String, u: Double) =>
        var out = v
        var i = 0
        while (i < order.length && (out eq v)) {
          val s = srcArr(order(i))
          val matches = if (inl) v.contains(s) else v == s
          if (matches) {
            val ts = tgtMap(s)
            val t = ts(pick(u, ts.length))
            val idx = v.indexOf(s)
            val candidate = v.substring(0, idx) + t + v.substring(idx + s.length)
            if (candidate != v) out = candidate
          }
          i += 1
        }
        out
      }
      val c = col(colName)
      // no eligibility re-check: the UDF is identity on non-matching
      // rows, and the selection mask already carries the gate
      df.withColumn(colName,
        when(sel, f(c, draw(rid, colIdx, 1))).otherwise(c))
    }

    override def name: String = "with_replacement_table"
  }

  object WithReplacementTable {
    def apply(df: DataFrame, sourceColumn: String, targetColumn: String,
              inline: Boolean, reverse: Boolean,
              seed: Long): WithReplacementTable = {
      val pairs = df.select(col(sourceColumn).cast("string"),
        col(targetColumn).cast("string"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      WithReplacementTable(pairs, inline, reverse, seed)
    }

    /** CSV path + name-or-position column refs, reference parity with
      * mutator.py:510-569 (header inferred from ref style, encoding +
      * delimiter honored). */
    def fromCsv(spark: SparkSession, path: String,
                sourceColumn: Either[Int, String] = Left(0),
                targetColumn: Either[Int, String] = Left(1),
                inline: Boolean = false, reverse: Boolean = false,
                encoding: String = "UTF-8", delimiter: String = ",",
                seed: Long): WithReplacementTable = {
      val (df, cols) = readRuleCsv(spark, path,
        Seq(sourceColumn, targetColumn), encoding, delimiter)
      apply(df, cols(0), cols(1), inline, reverse, seed)
    }
  }

  // ------------------------------------------------------------------ M3
  /** Phonetic replacement rules (source, target, flags ∈ {^,$,_}; empty
    * flags ⇒ all three) — reference: gecko/mutator.py:314-507. A rule
    * matches per its flag anchor (:411-424); a selected row applies one
    * uniformly-drawn matching rule with the anchored first-occurrence
    * regex replace (:481-497). */
  case class WithPhoneticReplacementTable(rules: Seq[(String, String, String)],
                                          seed: Long) extends Mutator {

    private case class Rule(pattern: Pattern, replacement: String)

    private val compiled: Array[Rule] = rules.flatMap {
      case (src, tgt, flagsRaw) =>
        val flags = if (flagsRaw == null || flagsRaw.isEmpty) "^$_"
        else {
          flagsRaw.foreach { f =>
            if (!"^$_".contains(f))
              throw new IllegalArgumentException(s"unknown flag: $f")
          }
          flagsRaw
        }
        flags.map {
          case '^' => Rule(Pattern.compile("^" + src),
            Matcher.quoteReplacement(tgt))
          case '$' => Rule(Pattern.compile(src + "$"),
            Matcher.quoteReplacement(tgt))
          case '_' => Rule(Pattern.compile(s"^(.+)(?:$src)(.+)$$"),
            "$1" + Matcher.quoteReplacement(tgt) + "$2")
        }
    }.toArray
    require(compiled.nonEmpty,
      "must provide at least one phonetic replacement rule")

    /** Eligibility as one codegen'd rlike over the rules' anchored
      * patterns ([[matchesAny]]; rlike has the same unanchored-find
      * semantics, and the same java.util.regex engine, as the UDF's
      * matcher.find()) — no UDF in the selection gate. */
    override def eligible(c: Column): Option[Column] =
      Some(matchesAny(c, compiled.map(_.pattern.pattern).toSeq))

    override def applyToColumn(df: DataFrame, colName: String, colIdx: Int,
                               sel: Column, rid: Column): DataFrame = {
      val rs = compiled
      val f = udf { (v: String, u: Double) =>
        val matching = new scala.collection.mutable.ArrayBuffer[Int](4)
        var i = 0
        while (i < rs.length) {
          if (rs(i).pattern.matcher(v).find()) matching += i
          i += 1
        }
        if (matching.isEmpty) v
        else {
          val r = rs(matching(pick(u, matching.length)))
          r.pattern.matcher(v).replaceFirst(r.replacement)
        }
      }
      val c = col(colName)
      // the UDF is identity on non-matching rows — no eligibility
      // re-check needed beyond the selection mask
      df.withColumn(colName,
        when(sel, f(c, draw(rid, colIdx, 1))).otherwise(c))
    }

    override def name: String = "with_phonetic_replacement_table"
  }

  object WithPhoneticReplacementTable {
    def apply(df: DataFrame, sourceColumn: String, targetColumn: String,
              flagsColumn: String, seed: Long): WithPhoneticReplacementTable = {
      val rules = df.select(col(sourceColumn).cast("string"),
        col(targetColumn).cast("string"), col(flagsColumn).cast("string"))
        .collect()
        .map(r => (r.getString(0), r.getString(1),
          if (r.isNullAt(2)) "" else r.getString(2))).toSeq
      WithPhoneticReplacementTable(rules, seed)
    }

    /** CSV path + name-or-position column refs, reference parity with
      * mutator.py:314-360 (source/target/flags default to positions
      * 0/1/2; header inferred from ref style). */
    def fromCsv(spark: SparkSession, path: String,
                sourceColumn: Either[Int, String] = Left(0),
                targetColumn: Either[Int, String] = Left(1),
                flagsColumn: Either[Int, String] = Left(2),
                encoding: String = "UTF-8", delimiter: String = ",",
                seed: Long): WithPhoneticReplacementTable = {
      val (df, cols) = readRuleCsv(spark, path,
        Seq(sourceColumn, targetColumn, flagsColumn), encoding, delimiter)
      apply(df, cols(0), cols(1), cols(2), seed)
    }
  }

  // ----------------------------------------------------------------- M17
  /** Regex substitutions from a table: a pattern column plus one column
    * per capture group, numbered ("1", "2", …) or named; group values
    * are replaced by the row's lookup values, which may themselves
    * reference named groups via `(?P<name>)` back-substitution
    * (reference: gecko/mutator.py:1444-1590 and the splice function
    * :1392-1429). Flags column supports `a`/`i` (:1432-1441; `a` is a
    * no-op on the JVM where \w is ASCII already). Python `(?P<g>)`
    * syntax is translated to JDK `(?<g>)`. */
  case class WithRegexReplacementTable(
      rows: Seq[(String, String, Map[String, String])], // pattern, flags, colName->replacement
      seed: Long) extends Mutator {

    private case class RRule(pattern: Pattern, groupNames: Array[String],
                             repl: Map[String, String])

    private val namedGroupRe =
      Pattern.compile("""\(\?P?<([A-Za-z][A-Za-z0-9]*)>""")

    private val compiled: Array[RRule] = rows.map {
      case (pat, flagsStr, repl) =>
        var flags = 0
        Option(flagsStr).getOrElse("").foreach {
          case 'i' => flags |= Pattern.CASE_INSENSITIVE
          case 'a' => () // JVM \w/\d are ASCII by default
          case _ => ()
        }
        // Python named-group syntax → JDK: (?P<g>…) → (?<g>…) and the
        // backref (?P=g) → \k<g> (note the closing paren becomes '>')
        val jdkPat = pat.replace("(?P<", "(?<")
          .replaceAll("""\(\?P=([A-Za-z][A-Za-z0-9]*)\)""", """\\k<$1>""")
        val names = {
          val m = namedGroupRe.matcher(pat)
          val buf = scala.collection.mutable.ArrayBuffer[String]()
          while (m.find()) buf += m.group(1)
          buf.toArray
        }
        names.foreach { n =>
          if (!repl.contains(n))
            throw new IllegalArgumentException(
              s"regex pattern `$pat` contains named group `$n` which is " +
                "not present as a column in the CSV file")
        }
        RRule(Pattern.compile(jdkPat, flags), names, repl)
    }.toArray
    require(compiled.nonEmpty, "must provide at least one regex pattern")

    /** The reference's group-splice replacement (mutator.py:1392-1429),
      * applied to EVERY match in the value (pandas str.replace with no
      * n limit — mutator.py:1581): replace each capture-group span with
      * the row's column value, named groups overriding numbered ones,
      * with `(?P<name>)` in replacement text substituted by the group's
      * matched content. */
    private def applyRule(r: RRule, v: String): String = {
      val m = r.pattern.matcher(v)
      val sb = new java.lang.StringBuilder
      var tail = 0
      var searchFrom = 0
      while (searchFrom <= v.length && m.find(searchFrom)) {
        // span -> replacement key; named groups override numbered spans
        val spans =
          scala.collection.mutable.LinkedHashMap[(Int, Int), String]()
        (1 to m.groupCount()).foreach { i =>
          if (m.start(i) >= 0) spans((m.start(i), m.end(i))) = i.toString
        }
        r.groupNames.foreach { n =>
          if (m.start(n) >= 0) spans((m.start(n), m.end(n))) = n
        }
        sb.append(v, tail, m.start)
        var last = m.start
        spans.toSeq.sortBy(_._1._1).foreach { case ((s, e), key) =>
          // nested/overlapping group spans: Python's v[last:s] clamps to
          // "" when s < last (mutator.py:1411) — mirror that instead of
          // letting StringBuilder.append throw on a negative range
          if (s > last) sb.append(v, last, s)
          val replRaw = r.repl.getOrElse(key,
            throw new IllegalArgumentException(
              s"match group with index `$key` is not present in CSV file"))
          var repl = replRaw
          r.groupNames.foreach { n =>
            val g = m.group(n)
            if (g != null) repl = repl.replace(s"(?P<$n>)", g)
          }
          sb.append(repl)
          last = e // may move backward for nested spans, like Python's
        }
        if (m.end > last) sb.append(v, last, m.end)
        tail = m.end
        // zero-length matches must still advance the scan
        searchFrom = if (m.end == m.start) m.end + 1 else m.end
      }
      if (tail == 0) v
      else {
        sb.append(v.substring(tail))
        sb.toString
      }
    }

    /** Eligibility as one codegen'd rlike over the patterns
      * ([[matchesAny]]); compile-time flags are re-expressed as inline
      * `(?i)` so rlike (same java.util.regex engine) matches
      * identically. */
    override def eligible(c: Column): Option[Column] =
      Some(matchesAny(c, compiled.map { r =>
        val inline =
          if ((r.pattern.flags & Pattern.CASE_INSENSITIVE) != 0) "(?i)"
          else ""
        inline + r.pattern.pattern
      }.toSeq))

    override def applyToColumn(df: DataFrame, colName: String, colIdx: Int,
                               sel: Column, rid: Column): DataFrame = {
      val rs = compiled
      val applyFn: (RRule, String) => String = applyRule
      val f = udf { (v: String, u: Double) =>
        val matching = new scala.collection.mutable.ArrayBuffer[Int](4)
        var i = 0
        while (i < rs.length) {
          if (rs(i).pattern.matcher(v).find()) matching += i
          i += 1
        }
        if (matching.isEmpty) v
        else applyFn(rs(matching(pick(u, matching.length))), v)
      }
      val c = col(colName)
      // the UDF is identity on non-matching rows — selection mask only
      df.withColumn(colName,
        when(sel, f(c, draw(rid, colIdx, 1))).otherwise(c))
    }

    override def name: String = "with_regex_replacement_table"
  }

  object WithRegexReplacementTable {
    /** Build from a DataFrame whose columns are the pattern column, an
      * optional flags column, and one column per capture group. */
    def apply(df: DataFrame, patternColumn: String,
              flagsColumn: Option[String], seed: Long)
        : WithRegexReplacementTable = {
      require(df.columns.contains(patternColumn),
        s"data source doesn't have a pattern column `$patternColumn`")
      val replCols = df.columns
        .filterNot(c => c == patternColumn || flagsColumn.contains(c))
      val rows = df.collect().map { r =>
        val pat = r.getAs[Any](patternColumn).toString
        val flags = flagsColumn
          .map(fc => Option(r.getAs[Any](fc)).map(_.toString).getOrElse(""))
          .getOrElse("")
        val repl = replCols.map(c =>
          c -> Option(r.getAs[Any](c)).map(_.toString).getOrElse("")).toMap
        (pat, flags, repl)
      }.toSeq
      WithRegexReplacementTable(rows, seed)
    }

    /** CSV path variant, reference parity with mutator.py:1444-1483:
      * the CSV always carries a header (the pattern column is named),
      * capture-group columns are every column that is neither the
      * pattern nor the flags column. */
    def fromCsv(spark: SparkSession, path: String,
                patternColumn: String = "pattern",
                flagsColumn: Option[String] = None,
                encoding: String = "UTF-8", delimiter: String = ",",
                seed: Long): WithRegexReplacementTable = {
      val (df, _) = readRuleCsv(spark, path,
        (Seq(patternColumn) ++ flagsColumn).map(Right(_)),
        encoding, delimiter)
      apply(df, patternColumn, flagsColumn, seed)
    }
  }

  // ------------------------------------------------------------------ M2
  /** Keyboard typos from a CLDR keymap (reference:
    * gecko/mutator.py:120-306 + gecko/_cldr.py). The XML is parsed on
    * the driver; each key's 4-neighborhood plus shift-flip
    * (_cldr.py:44-63) yields a char→candidate-replacements map
    * (sorted for reproducibility, mutator.py:229-231). Per selected
    * row: uniform pick of a present mutable char, uniform pick of one
    * of its neighbors, first occurrence replaced (:238-299).
    * Eligibility: the value contains at least one mutable char. */
  case class WithCldrKeymap(candidates: Map[Char, String], seed: Long)
      extends Mutator {
    require(candidates.nonEmpty, "keymap yields no mutable characters")
    // deterministic iteration order
    private val candChars: Array[Char] = candidates.keys.toArray.sorted
    private val candMap: Map[Char, String] = candidates

    /** Eligibility = "contains any mutable char" as a codegen'd
      * character-class rlike — no UDF in the selection gate. */
    private val candClassRegex: String = {
      def esc(ch: Char): String =
        if ("[]^-\\&".indexOf(ch.toInt) >= 0) "\\" + ch else ch.toString
      s"[${candChars.map(esc).mkString}]"
    }

    override def eligible(c: Column): Option[Column] =
      Some(c.rlike(candClassRegex))

    override def applyToColumn(df: DataFrame, colName: String, colIdx: Int,
                               sel: Column, rid: Column): DataFrame = {
      val cs = candChars
      val cm = candMap
      val f = udf { (v: String, u1: Double, u2: Double) =>
        val present = cs.filter(c => v.indexOf(c.toInt) >= 0)
        if (present.isEmpty) v
        else {
          val ch = present(pick(u1, present.length))
          val nbrs = cm(ch)
          val repl = nbrs.charAt(pick(u2, nbrs.length))
          val i = v.indexOf(ch.toInt)
          v.substring(0, i) + repl + v.substring(i + 1)
        }
      }
      val c = col(colName)
      // the UDF is identity on rows without candidate chars
      df.withColumn(colName,
        when(sel,
          f(c, draw(rid, colIdx, 1), draw(rid, colIdx, 2))).otherwise(c))
    }

    override def name: String = "with_cldr_keymap_file"
  }

  object WithCldrKeymap {
    /** Parse a CLDR keymap XML into the char→neighbors map. */
    def apply(cldrPath: String, charset: Option[String],
              seed: Long): WithCldrKeymap =
      WithCldrKeymap(Cldr.neighborCandidates(cldrPath, charset), seed)
  }
}
