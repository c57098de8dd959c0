package graft

import org.apache.spark.sql.functions._
import graft.queries.{Curation, Dedup, Graph, Multimodal, Relational,
  Sampling, TextAnalysis}

/** Round-5 session-7 operators: q36 null-aware anti join, q37 bag
  * set ops, gr06 frontier BFS, d14 URL dedup, s17 temperature
  * mixture, t32 mojibake audit, c12 drift audit, mm09 VAD. Each test
  * pins the property the DuckDB hash check cannot see from the
  * outside — the three-valued-logic drops are live, the frontier
  * decomposition equals the naive min-unroll, the plants actually
  * fire, the islands are well-formed. */
class Round5fSpec extends SparkSpec {

  import spark.implicits._

  test("q36: null-probe customers are dropped by three-valued logic " +
    "even when a plain anti join would keep them, and no nested-loop " +
    "join appears") {
    val df = Relational.q36NullAwareAnti(spark, sfDir)
    val kept = df.collect().map(_.getLong(0)).toSet
    // every kept key survived the NOT IN — none is ≡ 0 (mod 97)
    assert(kept.nonEmpty)
    kept.foreach(k => assert(k % 97 != 0,
      s"customer $k has a NULL probe key and must be dropped"))
    // a plain anti join (null-oblivious) keeps at least one ≡ 0
    // (mod 97) customer that q36 drops — the semantic difference is
    // live on this corpus
    val failCust = Relational.table(spark, sfDir, "orders")
      .filter(col("o_orderstatus") === "F").select("o_custkey")
    val plain = Relational.table(spark, sfDir, "customer")
      .join(failCust, col("c_custkey") === col("o_custkey"),
        "left_anti")
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    // EXACT semantic relation: NOT IN == anti join minus the nulled
    // probes — three-valued logic drops those rows, nothing else
    // differs
    assert(kept == plain.filter(_ % 97 != 0),
      s"NOT IN != (anti join minus nulled probes): " +
        s"extra=${(kept -- plain).take(3)} " +
        s"missing=${(plain.filter(_ % 97 != 0) -- kept).take(3)}")
    // nulled probes exist in the corpus, so the subtraction is a real
    // constraint (whether each also has an F order is data-dependent)
    val nulledProbes = Relational.table(spark, sfDir, "customer")
      .filter(col("c_custkey") % 97 === 0).count()
    assert(nulledProbes > 0, "no customer has a nulled probe key")
    val physical = df.queryExecution.executedPlan.toString
    assert(!physical.contains("BroadcastNestedLoopJoin"),
      "NOT IN degenerated to a nested-loop join — the null-aware " +
        "anti-join optimization did not apply")
  }

  test("q37: INTERSECT ALL / EXCEPT ALL multiplicities follow the " +
    "min / truncated-difference algebra") {
    val sup = Relational.table(spark, sfDir, "supplier")
      .groupBy(col("s_nationkey").as("n")).count()
      .collect()
      .map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toMap
    val cus = Relational.table(spark, sfDir, "customer")
      .groupBy(col("c_nationkey").as("n")).count()
      .collect()
      .map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toMap
    val rows = Relational.q37BagSetOps(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getAs[Number](1).longValue) ->
        r.getLong(2)).toMap
    assert(rows.nonEmpty)
    val nations = (sup.keySet ++ cus.keySet)
    nations.foreach { n =>
      val mi = math.min(sup.getOrElse(n, 0L), cus.getOrElse(n, 0L))
      val di = math.max(0L, cus.getOrElse(n, 0L) - sup.getOrElse(n, 0L))
      assert(rows.getOrElse(("intersect_all", n), 0L) == mi,
        s"intersect-all multiplicity wrong for nation $n")
      assert(rows.getOrElse(("except_all", n), 0L) == di,
        s"except-all multiplicity wrong for nation $n")
    }
  }

  test("gr06: frontier BFS equals the naive full-relaxation unroll, " +
    "seeds sit at distance zero") {
    val got = Graph.bfsHops(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty)
    // naive reference: relax ALL known distances through the edge
    // list three times (no frontier, no anti-join) — must agree
    val pairs = Relational.table(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Relational.table(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .filter((col("l_suppkey") * 31 + col("o_custkey")) % 11 === 0)
      .select(col("l_suppkey").as("supp"),
        (col("o_custkey") + 1000000L).as("cust"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = (pairs.map { case (a, b) => (a, b) } ++
      pairs.map { case (a, b) => (b, a) })
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val seeds = Relational.table(spark, sfDir, "supplier")
      .filter(col("s_suppkey") % 50 === 0)
      .collect().map(_.getLong(0)).toSet
    var dist = seeds.map(_ -> 0L).toMap
    for (k <- 1 to 3) {
      val reached = dist.keySet.flatMap(n => adj.getOrElse(n, Set.empty))
      val fresh = reached -- dist.keySet
      dist = dist ++ fresh.map(_ -> k.toLong)
    }
    assert(got == dist,
      s"frontier BFS diverges from naive relaxation: " +
        s"only-got=${(got.toSet -- dist.toSet).take(3)} " +
        s"only-ref=${(dist.toSet -- got.toSet).take(3)}")
    seeds.foreach(sd => assert(got(sd) == 0L))
  }

  test("d14: canonical URLs are fully normalized and the collapse " +
    "is live") {
    val rows = Dedup.urlDedup(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val u = r.getString(0)
      assert(u.startsWith("https://"), s"non-https survived: $u")
      assert(!u.contains("?") && !u.contains("#"),
        s"query/fragment survived: $u")
      assert(!u.endsWith("/"), s"trailing slash survived: $u")
      val host = u.stripPrefix("https://").takeWhile(_ != '/')
      assert(host == host.toLowerCase, s"host not lowercased: $u")
      assert(!host.startsWith("www.") && !host.startsWith("m."),
        s"subdomain alias survived: $u")
    }
    // the four URL variants of a shared (source, page) identity must
    // actually collapse somewhere
    assert(rows.exists(_.getLong(2) > 1),
      "no canonical URL had duplicates — the dedup is vacuous")
    // conservation: group sizes sum to the corpus size
    val total = rows.map(_.getLong(2)).sum
    val nDocs = Relational.table(spark, sfDir, "documents").count()
    assert(total == nDocs, s"dedup lost rows: $total != $nDocs")
  }

  test("s17: rates follow the temperature algebra and the gate " +
    "replays deterministically") {
    val rows = Sampling.temperatureMixture(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // recompute the rate from (n_tok, w) and the global weight sum
    val wSum = rows.map(_.getLong(2)).sum
    rows.foreach { r =>
      val (nTok, w, ratePpm) = (r.getLong(1), r.getLong(2), r.getLong(3))
      // w is the exact integer square root of n_tok
      assert(w * w <= nTok && (w + 1) * (w + 1) > nTok,
        s"w=$w is not isqrt($nTok)")
      val expect = math.min(1000000L, 4000L * w * 1000000L / (wSum * nTok))
      assert(ratePpm == expect, s"rate mismatch for ${r.getString(0)}")
      assert(r.getLong(4) >= 0 && ratePpm >= 0 && ratePpm <= 1000000)
    }
    // replay: the md5 gate is stateless — a second run is identical
    val again = Sampling.temperatureMixture(spark, sfDir).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("t32: exactly the planted docs are flagged, clean docs carry " +
    "zero damage") {
    val perSource = TextAnalysis.mojibakeAudit(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    assert(perSource.nonEmpty)
    // expected flags derived straight from the plant rule
    val docs = Relational.table(spark, sfDir, "documents")
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expect = docs.groupBy(_._2).map { case (src, ds) =>
      val flagged = ds.count { case (id, _) =>
        id % 37 == 0 || id % 41 == 0 || id % 43 == 0 }
      val repl = ds.count(_._1 % 37 == 0)
      val zw = ds.count(_._1 % 41 == 0)
      val ctl = ds.count(_._1 % 43 == 0)
      src -> (ds.length.toLong, flagged.toLong, repl.toLong, zw.toLong,
        ctl.toLong)
    }
    assert(perSource == expect)
    // the corpus itself is clean: all damage is the plants'
    val (_, fl, rp, zw, ct) = perSource.values
      .reduce((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3,
        a._4 + b._4, a._5 + b._5))
    assert(fl > 0 && rp > 0 && zw > 0 && ct > 0,
      "plants did not fire — the audit is vacuous")
  }

  test("c12: the planted shift dominates — maximum drift sits in the " +
    "planted buckets and every bucket is internally consistent") {
    val rows = Curation.driftAudit(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.length == 8, s"expected 8 buckets, got ${rows.length}")
    val nA = rows.map(_._2).sum
    val nB = rows.map(_._3).sum
    rows.foreach { case (_, cA, cB, paPpm, pbPpm, drift) =>
      assert(paPpm == cA * 1000000L / nA)
      assert(pbPpm == cB * 1000000L / nB)
      val d = paPpm - pbPpm
      assert(drift == d * d / (paPpm + pbPpm + 1))
    }
    val maxBucket = rows.maxBy(_._6)._1
    assert(maxBucket >= 4,
      s"max drift in unplanted bucket $maxBucket — the planted shift " +
        "should dominate")
    assert(rows.map(_._6).sum > 0, "drift audit is vacuous")
  }

  test("s18: the bounded-heap top-k equals s01's window rank row for " +
    "row, partial-aggregates map-side, and never sorts a group") {
    val viaAgg = graft.queries.Similarity.annTopkAgg(spark, sfDir)
    val viaWindow = graft.queries.Similarity.annBruteForce(spark, sfDir)
    assert(sortedRows(viaAgg).map(_.toString) ==
      sortedRows(viaWindow).map(_.toString),
      "heap aggregate ranking diverges from the window rank")
    val plan = viaAgg.queryExecution.executedPlan.toString
    assert(plan.contains("partial_topk_pairs") ||
      plan.toLowerCase.contains("partial"),
      "no map-side partial aggregation in the s18 plan")
    assert(!plan.contains("Window"),
      "a window sneaked into the heap-aggregate formulation")
  }

  test("l06: every dirty probe recovers its own origin name within " +
    "distance 1, and all three edit classes are live") {
    val parts = Relational.table(spark, sfDir, "part")
      .select("p_partkey", "p_name").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val matches = graft.queries.Linkage
      .editDistanceLinkage(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    assert(matches.nonEmpty)
    val byProbe = matches.groupBy(_._1)
    parts.foreach { case (id, name) =>
      val hits = byProbe.getOrElse(id, Array.empty)
      assert(hits.exists(_._3 == name),
        s"probe $id failed to recover its origin '$name'")
    }
    // all three corruption classes produced probes
    Seq(0L, 1L, 2L).foreach { cls =>
      assert(byProbe.keys.exists(_ % 3 == cls),
        s"edit class $cls never fired")
    }
    // deletion probes are shorter, insertion probes longer
    byProbe.foreach { case (id, hits) =>
      val dirty = hits.head._2
      val origin = parts(id)
      (id % 3: @unchecked) match {
        case 0 => assert(dirty.length == origin.length &&
          dirty.contains("#"))
        case 1 => assert(dirty.length == origin.length - 1)
        case 2 => assert(dirty.length == origin.length + 1 &&
          dirty.contains("#"))
      }
    }
  }

  test("gr07: restart mass stays in the seeds' 3-hop neighborhood " +
    "and seeds dominate their own scores") {
    val ranks = Graph.personalizedPagerank(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranks.nonEmpty)
    // full-graph 3-hop reachable set from the seed suppliers
    val pairs = Relational.table(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Relational.table(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").as("supp"),
        (col("o_custkey") + 1000000L).as("cust"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = (pairs ++ pairs.map(p => (p._2, p._1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val seeds = adj.keySet.filter(n => n % 25 == 0 && n < 1000000L)
    assert(seeds.nonEmpty, "no seed supplier in the trade graph")
    var reach = seeds.toSet
    for (_ <- 1 to 3)
      reach = reach ++ reach.flatMap(n => adj.getOrElse(n, Set.empty))
    assert(ranks.keySet.subsetOf(reach),
      "rank mass escaped the 3-hop neighborhood of the seeds")
    // every seed keeps at least its final-round restart mass
    seeds.foreach { sd =>
      assert(ranks.getOrElse(sd, 0L) >= 150000L,
        s"seed $sd lost its restart mass")
    }
  }

  test("t33: the sharded two-phase cumsum equals the naive global " +
    "window, offsets tile the token stream exactly") {
    import org.apache.spark.sql.expressions.Window
    val got = TextAnalysis.trainingSequences(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    // naive reference: ONE global window over the full md5 order —
    // the formulation that does NOT scale, used here as the oracle of
    // the decomposition
    val naive = Relational.table(spark, sfDir, "documents")
      .select(col("doc_id"),
        md5(concat(lit("t33#"), col("doc_id"))).as("k"),
        (size(split(col("text"), " ")) + 1).cast("long").as("n"))
      .withColumn("cum", sum(col("n")).over(Window.orderBy(col("k"))))
      .select(col("doc_id"), col("n"), (col("cum") - col("n")).as("st"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .map(t => t._1 -> (t._2, t._3)).toMap
    got.foreach { case (id, n, st, seq) =>
      val (nN, nSt) = naive(id)
      assert(n == nN && st == nSt,
        s"doc $id two-phase offset $st != naive ${nSt}")
      assert(seq == st / 512, s"doc $id seq_id inconsistent")
    }
    // offsets tile: sorted starts are the prefix sums — no gap, no
    // overlap, total conserved
    val sorted = got.sortBy(_._3)
    var expect = 0L
    sorted.foreach { case (id, n, st, _) =>
      assert(st == expect, s"stream gap at doc $id: $st != $expect")
      expect += n
    }
  }

  test("j08: dynamic overwrite replaces exactly the partitions in " +
    "the correction batch") {
    val rows = graft.queries.Sources.dynamicOverwrite(spark, sfDir)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    assert(rows.keySet == Set("b0", "b1", "b2"),
      "static-style overwrite dropped untouched partitions")
    // originals per bucket
    val base = Relational.table(spark, sfDir, "documents")
      .groupBy(concat(lit("b"), col("doc_id") % 3).as("bucket"))
      .agg(count(lit(1)).as("n"), sum("doc_id").as("sd"),
        sum(col("n_chars").cast("long")).as("sc"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    // untouched partitions identical, corrected partition shifted by
    // exactly +1000 per row
    Seq("b0", "b2").foreach(b => assert(rows(b) == base(b),
      s"untouched partition $b changed"))
    val (n1, sd1, sc1) = base("b1")
    assert(rows("b1") == ((n1, sd1, sc1 + 1000L * n1)),
      "correction batch did not replace b1's content")
  }

  test("st19: the chosen delay is the minimal observed lateness " +
    "covering 99%, and the drop ledger is exact") {
    val rows = graft.queries.Streaming.watermarkTuning(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val delay = rows.head._2
    assert(rows.forall(_._2 == delay), "delay must be global")
    // recompute lateness naively and check the quantile contract
    val late = graft.queries.Streaming
      .latenessFrame(graft.queries.Streaming.events(spark, sfDir), 8192L)
      .select("event_type", "late_us").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val n = late.length.toLong
    val covered = late.count(_._2 <= delay).toLong
    assert(covered * 100 >= n * 99, "chosen delay fails 99% coverage")
    // minimality: the largest observed lateness strictly below the
    // chosen delay must NOT reach coverage
    val below = late.map(_._2).filter(_ < delay)
    if (below.nonEmpty) {
      val prev = below.max
      assert(late.count(_._2 <= prev).toLong * 100 < n * 99,
        "a smaller observed delay already covers 99% — not minimal")
    }
    // drop ledger per feed
    val dropByType = late.groupBy(_._1)
      .map { case (t, xs) => t -> xs.count(_._2 > delay).toLong }
    rows.foreach { case (t, _, nEv, nDrop, ppm) =>
      assert(nDrop == dropByType.getOrElse(t, 0L))
      assert(ppm == nDrop * 1000000L / nEv)
    }
  }

  test("c13: the purge conserves rows and no erased customer " +
    "survives") {
    val ledger = Curation.retentionPurge(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    assert(ledger.keySet == Set("orders", "lineitem"))
    val orders = Relational.table(spark, sfDir, "orders")
    val li = Relational.table(spark, sfDir, "lineitem")
    val (po, ro, _) = ledger("orders")
    val (pl, rl, tl) = ledger("lineitem")
    assert(po + ro == orders.count(), "orders rows not conserved")
    assert(pl + rl == li.count(), "lineitem rows not conserved")
    // independent recomputation of the cascade
    val erasedOrders = orders
      .filter(col("o_custkey") % 89 === 0)
    assert(po == erasedOrders.count())
    assert(tl == erasedOrders.select("o_orderkey")
      .join(li, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .count(), "lineitem tombstones != purged orders with lines")
    // survivors contain no erased customer
    val survivors = orders.filter(!(col("o_custkey") % 89 === 0))
    assert(survivors.count() == ro)
  }

  test("t34: purged train docs genuinely share an 8-gram with eval, " +
    "eval is untouched, and the canary keeps the purge live") {
    val manifest = TextAnalysis.decontaminatedSplit(spark, sfDir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(manifest.contains("train_purged") &&
      manifest("train_purged")._1 > 0,
      "purge path is vacuous — no contaminated train doc")
    // hash split recomputed independently: eval count must match
    val docs = Relational.table(spark, sfDir, "documents")
      .select("doc_id").collect().map(_.getLong(0))
    def u32(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"t34#$id".getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.take(4).map(b => f"${b & 0xff}%02x").mkString, 16)
    }
    val evalIds = docs.filter(id => u32(id) * 10 >= 8L * 4294967296L)
    assert(manifest("eval")._1 == evalIds.length.toLong,
      "eval bucket size differs from the pure hash split — eval was " +
        "touched by the purge")
    val totalDocs = docs.length.toLong
    assert(manifest.values.map(_._1).sum == totalDocs,
      "split buckets do not partition the corpus")
  }

  test("mm10: brightness-shifted replicas collapse into their " +
    "origin's group — the perceptual property a byte hash lacks") {
    val groups = Multimodal.phashDedup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(groups.nonEmpty)
    val planted = Relational.table(spark, sfDir, "documents")
      .filter(length(col("text")) >= 16 && col("doc_id") % 11 === 0)
      .count()
    assert(planted > 0)
    // every replica shares a group with at least one original, so the
    // surplus over singletons is at least the plant count
    val surplus = groups.map(g => g._3 - 1).sum
    assert(surplus >= planted,
      s"only $surplus collapsed rows for $planted planted replicas")
    // keepers are always originals (replica ids start at 10000)
    groups.foreach { case (_, _, nImg, keeper) =>
      if (nImg > 1)
        assert(keeper < 10000L,
          s"a replica became keeper of a multi-image group: $keeper")
    }
  }

  test("e03: hamming ANN equals a from-scratch brute force over the " +
    "sign codes, and codes stay inside their 32-bit halves") {
    val got = graft.queries.Similarity.hammingAnn(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    // reference: quantize + sign-pack + brute force in plain Scala
    val emb = Relational.table(spark, sfDir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1))
    val codes = emb.map { case (id, v) =>
      val m = v.map(math.abs).max
      val q = v.map(x => if (m == 0f) 0
        else math.floor(x.toDouble * 127.0 / m + 0.5).toInt)
      var lo = 0L; var hi = 0L
      for (d <- 0 until 32) if (q(d) > 0) lo |= 1L << d
      for (d <- 32 until 64) if (q(d) > 0) hi |= 1L << (d - 32)
      (id, lo, hi)
    }
    codes.foreach { case (id, lo, hi) =>
      assert(lo >= 0 && lo < (1L << 32) && hi >= 0 && hi < (1L << 32),
        s"code of $id escaped its 32-bit half")
    }
    val byId = codes.map(c => c._1 -> c).toMap
    val expect = codes.filter(_._1 < 8).flatMap { case (qid, qlo, qhi) =>
      codes.filter(_._1 != qid).map { case (id, lo, hi) =>
        val h = java.lang.Long.bitCount(lo ^ qlo) +
          java.lang.Long.bitCount(hi ^ qhi)
        (qid, id, h.toLong)
      }.sortBy(t => (t._3, t._2)).take(5).zipWithIndex
        .map { case ((q, n, h), i) => (q, n, h, i + 1L) }
    }.toSet
    assert(got.toSet == expect,
      "hamming ranking diverges from the scalar reference")
    assert(byId.nonEmpty)
  }

  test("s19: folds are a function of source alone, every source " +
    "lands in exactly one fold, and the manifest conserves the " +
    "corpus") {
    val rows = Sampling.groupedKfold(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    assert(rows.nonEmpty)
    val foldsPerSource = rows.groupBy(_._2).map(_._2.map(_._1).distinct)
    assert(foldsPerSource.forall(_.size == 1),
      "a source straddles folds — group leakage")
    // replay the md5 assignment in plain Scala
    rows.foreach { case (fold, src, _, _) =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"s19#$src".getBytes("UTF-8"))
      val u = java.lang.Long.parseLong(
        d.take(4).map(b => f"${b & 0xff}%02x").mkString, 16)
      assert(fold == u % 5, s"fold of $src diverges from md5 replay")
    }
    val total = rows.map(_._3).sum
    assert(total ==
      Relational.table(spark, sfDir, "documents").count(),
      "manifest does not conserve the corpus")
  }

  test("gr08: three min-plus rounds equal a scalar Bellman-Ford " +
    "bounded at three edges") {
    val got = Graph.weightedPaths(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty)
    val edges = Relational.table(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Relational.table(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_suppkey").as("supp"),
        (col("o_custkey") + 1000000L).as("cust"))
      .agg(count_distinct(col("o_orderkey")).as("n"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), 1000000L / r.getLong(2)))
    val adj = (edges.map { case (a, b, w) => (a, (b, w)) } ++
      edges.map { case (a, b, w) => (b, (a, w)) })
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val seeds = Relational.table(spark, sfDir, "supplier")
      .filter(col("s_suppkey") % 50 === 0)
      .collect().map(_.getLong(0))
    var dist = seeds.map(_ -> 0L).toMap
    for (_ <- 1 to 3) {
      val relaxed = dist.toSeq.flatMap { case (u, du) =>
        adj.getOrElse(u, Array.empty[(Long, Long)])
          .map { case (v, w) => v -> (du + w) }
      }
      dist = (dist.toSeq ++ relaxed).groupBy(_._1)
        .map { case (k, v) => k -> v.map(_._2).min }
    }
    assert(got == dist,
      s"min-plus relaxation diverges from scalar Bellman-Ford: " +
        s"got=${got.size} ref=${dist.size}")
  }

  test("q39: every cohort's offset-0 row equals its size and the " +
    "triangle conserves (customer, month) activity") {
    val rows = Relational.q39CohortRetention(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val activity = Relational.table(spark, sfDir, "orders")
      .select(col("o_custkey"),
        (year(to_date(col("o_orderdate"))) * 12 +
          month(to_date(col("o_orderdate"))) - 1).cast("long").as("m"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.map(_._3).sum == activity.length.toLong,
      "triangle does not conserve the activity matrix")
    val cohortOf = activity.groupBy(_._1).map { case (c, xs) =>
      c -> xs.map(_._2).min }
    val cohortSizes = cohortOf.groupBy(_._2).map { case (m, xs) =>
      m -> xs.size.toLong }
    rows.filter(_._2 == 0L).foreach { case (label, _, n) =>
      val Array(y, mo) = label.split("-").map(_.toInt)
      val mIdx = (y * 12 + mo - 1).toLong
      assert(cohortSizes(mIdx) == n,
        s"cohort $label offset-0 count $n != cohort size")
    }
    // every cohort present at offset 0 (its members are active in
    // their own first month by definition)
    assert(rows.count(_._2 == 0L) == cohortSizes.size)
  }

  test("d15: planted mirrors surface as cross-source pairs and the " +
    "pair list is canonical") {
    val pairs = Dedup.crossSourceMirrors(spark, sfDir).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
    assert(pairs.nonEmpty)
    pairs.foreach { case ((a, b), n) =>
      assert(a < b, s"non-canonical pair ($a,$b)")
      assert(n > 0)
    }
    val pairSet = pairs.map(_._1).toSet
    // replay the plant: every mirrored doc whose target source
    // differs from its origin must produce its (origin, target) pair
    val docs = Relational.table(spark, sfDir, "documents")
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = docs.filter(_._1 % 13 == 0).flatMap { case (id, src) =>
      val tgt = s"src${(id + 7) % 20}"
      if (tgt != src)
        Some((Seq(src, tgt).min, Seq(src, tgt).max))
      else None
    }.toSet
    assert(expected.nonEmpty, "plant produced no cross-source mirror")
    assert(expected.subsetOf(pairSet),
      s"missing planted pairs: ${(expected -- pairSet).take(5)}")
  }

  test("d16: the calibration curve discriminates — candidates " +
    "constant, dup counts monotone in the threshold, strict drop " +
    "across the ladder") {
    val rows = Dedup.semanticCalibration(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(64L, 81L, 90L, 95L))
    assert(rows.map(_._2).distinct.size == 1,
      "candidate count must not depend on the threshold")
    rows.sliding(2).foreach {
      case Array(lo, hi) =>
        assert(lo._3 >= hi._3,
          s"dup count rose with the threshold: tau ${lo._1}->${hi._1}")
      case _ =>
    }
    assert(rows.last._3 > 0, "strictest threshold catches nothing")
    assert(rows.head._3 > rows.last._3,
      "flat curve — the graded plants do not straddle the ladder")
    rows.foreach { case (_, cand, dups, ppm) =>
      assert(ppm == dups * 1000000L / cand)
    }
  }

  test("q40: ordered string agg lists each nation's top-3 keys in " +
    "exact descending-balance order") {
    val rows = Relational.q40OrderedStringAgg(spark, sfDir).collect()
      .map(r => (r.getAs[Number](0).longValue, r.getString(1),
        r.getLong(2)))
    assert(rows.nonEmpty)
    val ref = Relational.table(spark, sfDir, "customer")
      .select("c_nationkey", "c_custkey", "c_acctbal").collect()
      .map(r => (r.getAs[Number](0).longValue, r.getLong(1),
        r.getDouble(2)))
      .groupBy(_._1).map { case (n, xs) =>
        n -> xs.sortBy(x => (-x._3, x._2)).take(3).map(_._2)
          .mkString(",")
      }
    rows.foreach { case (nation, csv, nTop) =>
      assert(nTop <= 3 && nTop == csv.split(",").length)
      assert(csv == ref(nation),
        s"nation $nation ordered agg '$csv' != '${ref(nation)}'")
    }
    assert(rows.map(_._1).toSet == ref.keySet)
  }

  test("st20: the seam is live (overlap replays history) and the " +
    "merged result equals the one-shot batch truth") {
    val got = graft.queries.Streaming.backfillSeam(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val truth = graft.queries.Streaming.events(spark, sfDir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum((col("value").cast(
          org.apache.spark.sql.types.DataTypes.createDecimalType(18, 6))
          * 1000000).cast("long")).as("sv"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.sortBy(_._1).toSeq == truth.sortBy(_._1).toSeq,
      "backfill + deduped tail diverges from the one-shot truth")
    // the overlap window is non-empty, so WITHOUT the seam dedup the
    // counts would double — the dedup is a real constraint
    val maxId = graft.queries.Streaming.events(spark, sfDir)
      .agg(max("event_id")).head().getLong(0)
    assert(maxId * 3 / 4 < maxId * 8 / 10,
      "overlap window empty — seam dedup vacuous")
  }

  test("l07: the blocking audit separates the blockers — first-char " +
    "keeps every true pair, length loses exactly the length-changing " +
    "edit classes") {
    val rows = graft.queries.Linkage.blockingAudit(spark, sfDir)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(rows.keySet == Set("first_char", "length"))
    val (_, _, nTrue, fcFound, fcComp) = rows("first_char")
    assert(fcFound == nTrue && fcComp == 1000000L,
      "first-char blocking should keep every true pair (plants never " +
        "touch position 1)")
    val (_, _, _, lenFound, lenComp) = rows("length")
    // only the substitution class (p_partkey % 3 == 0) preserves
    // length
    val nSub = Relational.table(spark, sfDir, "part")
      .filter(col("p_partkey") % 3 === 0).count()
    assert(lenFound == nSub,
      s"length blocking kept $lenFound pairs, expected the $nSub " +
        "substitution probes")
    assert(lenComp == nSub * 1000000L / nTrue)
    assert(lenComp < 1000000L, "length blocker lost nothing — the " +
      "audit does not discriminate")
    rows.values.foreach { case (cand, red, _, _, _) =>
      assert(cand > 0 && red >= 0 && red <= 1000000L)
    }
  }

  test("s21: the holdout has exactly min(k, |stratum|) rows per " +
    "stratum and replays the md5 ranking") {
    val rows = Sampling.exactHoldout(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val byLang = Relational.table(spark, sfDir, "documents")
      .select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._2)
    val got = rows.groupBy(_._1)
    assert(got.keySet == byLang.keySet)
    byLang.foreach { case (lang, docs) =>
      val expectK = math.min(8, docs.size)
      val sel = got(lang).sortBy(_._2)
      assert(sel.length == expectK,
        s"lang $lang holdout size ${sel.length} != $expectK")
      // replay: md5 prefix ranking in plain Scala
      def key(id: Long): String = java.security.MessageDigest
        .getInstance("MD5").digest(s"s21#$id".getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
      val expectIds = docs.map(_._1).sortBy(id => (key(id), id))
        .take(expectK)
      assert(sel.map(_._3).toSeq == expectIds.toSeq,
        s"lang $lang holdout membership/order diverges from the " +
          "md5 replay")
    }
  }

  test("j09: the nested read prunes to the touched leaves — " +
    "customer.acctbal and lines.qty — and never reads the unused " +
    "name/price bytes") {
    val df = graft.queries.Sources.nestedProjection(spark, sfDir)
    assert(df.collect().length == 1)
    // re-run the read side alone to inspect the scan's ReadSchema
    val out = core.Artifacts.root(spark, "j09_nested", sfDir)
      .getAbsolutePath
    val plan = spark.read.parquet(out)
      .select(col("customer.acctbal").as("acctbal"),
        col("lines.qty").as("qtys"))
      .select(col("acctbal"),
        expr("aggregate(qtys, CAST(0 AS DOUBLE), (a, x) -> a + x)")
          .as("qty_sum"),
        size(col("qtys")).as("n_lines"))
      .queryExecution.executedPlan.toString
    val readSchema = plan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("acctbal"),
      s"acctbal leaf missing from ReadSchema: $readSchema")
    assert(!readSchema.contains("name"),
      s"unused customer.name leaf read from parquet: $readSchema")
    assert(!readSchema.contains("price"),
      s"unused lines.price leaf read from parquet: $readSchema")
  }

  test("q41: the map profile round-trips — element_at / map_keys / " +
    "map_values agree with the relational recomputation") {
    val rows = Relational.q41MapProfile(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    assert(rows.nonEmpty)
    val direct = Relational.table(spark, sfDir, "orders")
      .select("o_custkey", "o_orderpriority").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).map { case (c, xs) =>
        c -> ((xs.count(_._2 == "1-URGENT").toLong,
          xs.map(_._2).distinct.size.toLong, xs.size.toLong))
      }
    assert(rows == direct,
      "map-profile lookups diverge from the relational recomputation")
  }

  test("c14: the reconciliation bands partition the order headers " +
    "and the no-lines band is exactly the lineitem-less orders") {
    val rows = Curation.reconciliation(spark, sfDir).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2),
        r.getLong(3))))
    assert(rows.nonEmpty)
    val labels = Set("exact", "lt_1pct", "lt_10pct", "ge_10pct",
      "no_lines")
    rows.foreach { case ((_, band), _) =>
      assert(labels.contains(band), s"unknown band $band")
    }
    val totalBanded = rows.map(_._2._1).sum
    val orders = Relational.table(spark, sfDir, "orders")
    assert(totalBanded == orders.count(),
      "bands do not partition the headers")
    val noLines = orders.join(
      Relational.table(spark, sfDir, "lineitem")
        .select(col("l_orderkey")).distinct(),
      col("o_orderkey") === col("l_orderkey"), "left_anti").count()
    assert(rows.filter(_._1._2 == "no_lines").map(_._2._1).sum ==
      noLines, "no_lines band != headers without lineitems")
    // mismatch bands carry positive gap mass; no_lines carries none
    rows.foreach { case ((_, band), (_, gap)) =>
      if (band == "no_lines" || band == "exact") assert(gap == 0L)
      else assert(gap > 0L, s"band $band has zero total gap")
    }
  }

  test("t35: the domain rollup conserves the corpus and the band " +
    "gate genuinely discriminates") {
    val rows = TextAnalysis.domainQuality(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getString(5)))
    assert(rows.nonEmpty)
    assert(rows.map(_._2).sum ==
      Relational.table(spark, sfDir, "documents").count(),
      "host rollup does not conserve the corpus")
    rows.foreach { case (host, n, qSum, qMin, qMax, band) =>
      assert(!host.startsWith("www.") && !host.startsWith("m.") &&
        host == host.toLowerCase)
      assert(qMin <= qMax && qSum >= n * qMin && qSum <= n * qMax)
      val expected =
        if (qSum >= n * 560L) "keep"
        else if (qSum >= n * 500L) "review" else "drop"
      assert(band == expected, s"band of $host diverges from the gate")
    }
    assert(rows.map(_._6).distinct.length >= 2,
      "every host landed in one band — the gate is vacuous on this " +
        "corpus")
  }

  test("gr09: k-hop features match a scalar recomputation over the " +
    "sparsified edge slice") {
    val got = Graph.khopFeatures(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.nonEmpty)
    val pairs = Relational.table(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Relational.table(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .filter((col("l_suppkey") * 31 + col("o_custkey")) % 11 === 0)
      .select(col("l_suppkey"), col("o_custkey"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val bySupp = pairs.groupBy(_._1).map { case (k, v) =>
      k -> v.map(_._2).toSet }
    val byCust = pairs.groupBy(_._2).map { case (k, v) =>
      k -> v.map(_._1).toSet }
    val expect = bySupp.map { case (s0, custs) =>
      val peers = custs.flatMap(c => byCust(c)) - s0
      s0 -> ((custs.size.toLong, peers.size.toLong))
    }
    assert(got == expect,
      "k-hop features diverge from the scalar recomputation")
  }

  test("mm09: segments are disjoint maximal runs of above-threshold " +
    "frames and conserve the active-frame count") {
    val segs = Multimodal.vadSegments(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(segs.nonEmpty)
    segs.foreach { case (_, s0, s1, n, _) =>
      assert(s1 >= s0 && n == s1 - s0 + 1,
        s"segment [$s0,$s1] frame count $n inconsistent")
    }
    // disjoint + maximal per doc: consecutive segments leave a gap
    segs.groupBy(_._1).foreach { case (doc, ss) =>
      val sorted = ss.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b._2 > a._3 + 1,
            s"doc $doc segments [${a._2},${a._3}] and [${b._2},${b._3}] " +
              "touch or overlap — islands not maximal")
        case _ =>
      }
    }
    // conservation vs an independent frame-energy recomputation from
    // the synth formula (text chars -> sample energies)
    val active = Relational.table(spark, sfDir, "documents")
      .filter(length(col("text")) >= 16)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), (length(col("text")) / 16).cast("int") - 1),
        f => {
          val window = substring(col("text"), (f * 16 + 1).cast("int"),
            lit(16))
          aggregate(split(window, ""),
            lit(0L),
            (acc, ch) => acc +
              when(length(ch) > 0,
                (lit(128L) - ascii(ch)) * 256L).otherwise(0L))
        })).as(Seq("frame_no", "energy")))
      .filter(col("energy") > 140000L)
      .count()
    assert(segs.map(_._4).sum == active,
      "segment frame totals diverge from the closed-form energies")
  }
}
