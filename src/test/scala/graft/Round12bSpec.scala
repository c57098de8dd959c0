package graft

import org.apache.spark.sql.functions._
import graft.queries.{Graph, Invariants, Similarity, TextAnalysis}

/** Round-12 extension pins: hybrid RRF retrieval (s26), filtered
  * vector search (s27), label-propagation communities (gr11), and
  * fuzzy eval-set decontamination (t42). */
class Round12bSpec extends SparkSpec {

  // ----------------------------------------------- s26 hybrid RRF
  test("s26: every fused score is exactly the RRF of its own emitted " +
    "arm ranks, and the fused ordering is (rrf desc, doc_id)") {
    val rows = Similarity.hybridRrf(spark, sfDir).collect()
    assert(rows.nonEmpty)
    def contrib(r: Any): Long = r match {
      case null => 0L
      case rank: Long => 1000000000L / (60L + rank)
    }
    rows.foreach { r =>
      val expected = contrib(r.get(2)) + contrib(r.get(3))
      assert(r.getLong(4) == expected,
        s"rrf_nano mismatch on $r")
    }
    rows.groupBy(_.getLong(0)).foreach { case (_, qs) =>
      val sorted = qs.sortBy(_.getLong(5))
      // fused_rank order must equal (rrf desc, doc_id asc) order
      assert(sorted.map(r => (-r.getLong(4), r.getLong(1))).toSeq ==
        sorted.map(r => (-r.getLong(4), r.getLong(1)))
          .sorted.toSeq)
      assert(sorted.map(_.getLong(5)).toSeq ==
        (1L to sorted.length.toLong))
    }
  }

  test("s26: the fusion is real — some top results carry BOTH arm " +
    "ranks and some carry exactly one (absent arm contributes zero)") {
    val rows = Similarity.hybridRrf(spark, sfDir).collect()
    assert(rows.exists(r => !r.isNullAt(2) && !r.isNullAt(3)),
      "no doc ranked by both arms — fusion degenerate")
    assert(rows.exists(r => r.isNullAt(2) ^ r.isNullAt(3)),
      "every doc ranked by both arms — arm top-k truncation untested")
  }

  // ----------------------------------------------- s27 filtered ANN
  test("s27: post-filter serve honors the predicate, stays k-bounded, " +
    "and holds >= 70% recall vs the exact pre-filter arm") {
    val flags = Invariants.s27FilteredInv(spark, sfDir).collect()
    assert(flags.length == 1)
    val r = flags.head
    assert(r.getBoolean(0), "recall_ok false")
    assert(r.getBoolean(1), "k_bounded false")
    assert(r.getBoolean(2), "predicate_ok false")
  }

  test("s27: the exact pre-filter arm only ever returns neighbors " +
    "sharing the query's label, with contiguous ranks") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("label"))
    val byId = emb.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = Similarity.annFilteredExact(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(byId(r.getLong(1)) == byId(r.getLong(0)),
        s"label predicate violated on $r")
    }
    rows.groupBy(_.getLong(0)).foreach { case (_, qs) =>
      assert(qs.map(_.getLong(2)).sorted.toSeq ==
        (1L to qs.length.toLong), "ranks not contiguous")
    }
  }

  // ----------------------------------------------- gr11 LPA
  test("gr11: closed-form fixpoint — two disjoint triangles converge " +
    "to their min-id communities in 3 synchronous rounds") {
    import spark.implicits._
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L))
    val e = und.toDF("src", "dst")
      .unionAll(und.map(_.swap).toDF("src", "dst"))
    val got = Graph.lpaOnEdges(e, 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L), s"got $got")
  }

  test("gr11: the trade-graph communities are a stable relabeling — " +
    "every community label is itself a member node, and at least one " +
    "community has > 1 member") {
    val rows = Graph.labelPropagation(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val nodes = rows.map(_.getLong(0)).toSet
    val labels = rows.map(_.getLong(1)).toSet
    assert(labels.subsetOf(nodes), "a community label is not a node id")
    assert(labels.size < nodes.size, "no label ever propagated")
  }

  // ----------------------------------------------- s28 stored IVF-PQ
  test("s28: the hot postings tier stores CODES ONLY — no float " +
    "embedding column anywhere in the serve-path scan") {
    val scan = graft.queries.Similarity
      .storedIvfPqCodesScan(spark, sfDir)
    val fields = scan.schema.fields.map(f =>
      f.name -> f.dataType.simpleString).toMap
    assert(!fields.contains("embedding"),
      s"postings leaked the float tier: $fields")
    assert(fields("code") == "array<int>", s"got $fields")
  }

  test("s28: the ADC phase prunes posting partitions statically, " +
    "and the two-phase serve holds the recall/k contract") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val scan = graft.queries.Similarity
      .storedIvfPqCodesScan(spark, sfDir)
    scan.collect()
    val plan = scan.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val f = plan.collect { case x: FileSourceScanExec => x }.head
    assert(f.partitionFilters.nonEmpty,
      "cid IN (...) must be a partition filter on the codes tier")
    assert(f.selectedPartitions.partitionCount == 2,
      s"probe of {0,1} must open exactly 2 list dirs, got " +
        s"${f.selectedPartitions.partitionCount}")
    val inv = graft.queries.Invariants.s28AnnInv(spark, sfDir)
      .collect().head
    assert(inv.getBoolean(0), "recall_ok false")
    assert(inv.getBoolean(1), "k_bounded false")
  }

  // ----------------------------------------------- gr12 modularity
  test("gr12: closed-form — two disjoint triangles score exactly " +
    "Q·(2m)² = 36 per community (total Q = 0.5)") {
    import spark.implicits._
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L))
    val e = und.toDF("src", "dst")
      .unionAll(und.map(_.swap).toDF("src", "dst"))
    val rows = Graph.modularityOnEdges(e, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // each triangle: E2_c = 6 directed intra edges, D_c = 6, 2m = 12
    assert(rows.toSeq == Seq((1L, 6L, 6L, 36L), (10L, 6L, 6L, 36L)),
      s"got ${rows.toSeq}")
  }

  test("gr12: trade-graph audit identities — degrees and intra-edges " +
    "partition the directed edge count") {
    val rows = Graph.modularity(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val m2FromD = rows.map(_.getLong(2)).sum
    val e2Sum = rows.map(_.getLong(1)).sum
    assert(e2Sum <= m2FromD, "intra-community edges exceed all edges")
    rows.foreach { r =>
      assert(r.getLong(3) ==
        m2FromD * r.getLong(1) - r.getLong(2) * r.getLong(2),
        s"contribution arithmetic broken on $r")
    }
  }

  // ----------------------------------------------- q44 zone-map skipping
  test("q44: the narrow predicate's serve scan prunes STATICALLY — " +
    "one quarter's partition dir selected, the rest never opened") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val scan = graft.queries.Layout.zonemapServeScan(spark, sfDir,
      "1996-03-01", "1996-03-31")
    scan.collect()
    val plan = scan.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = plan.collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, "expected a parquet file scan")
    val f = scans.head
    assert(f.partitionFilters.nonEmpty,
      "shard IN (...) must land in partitionFilters, got " +
        s"data filters only: ${f.dataFilters}")
    assert(f.selectedPartitions.partitionCount == 1,
      s"one month inside one quarter must select exactly 1 dir, " +
        s"got ${f.selectedPartitions.partitionCount}")
  }

  test("q44: pruning loses nothing — every predicate's pruned count " +
    "equals the unpruned full-table filter count") {
    val rows = graft.queries.Layout.zonemapPruning(spark, sfDir)
      .collect()
    assert(rows.length == 3)
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(date_format(col("l_shipdate"), "yyyy-MM-dd").as("d"))
    val bounds = Seq(("1996-03-01", "1996-03-31"),
      ("1997-01-01", "1997-06-30"), ("1998-01-01", "1999-12-31"))
    rows.sortBy(_.getLong(0)).zip(bounds).foreach { case (r, (lo, hi)) =>
      val full = li.filter(col("d") >= lo && col("d") <= hi).count()
      assert(r.getLong(3) == full, s"pruned scan lost rows on $r")
      assert(r.getLong(2) <= r.getLong(1))
    }
    // the narrow predicate must actually skip most of the corpus
    val narrow = rows.minBy(_.getLong(0))
    assert(narrow.getLong(2) * 4 <= narrow.getLong(1),
      s"narrow predicate read ${narrow.getLong(2)} of " +
        s"${narrow.getLong(1)} shards — no skipping happened")
  }

  // ----------------------------------------------- st34 zone-map ingest
  test("st34: the streamed-maintained layout answers every predicate " +
    "identically to the batch-built q44, and a replayed ingest batch " +
    "changes nothing") {
    import graft.queries.{Layout, Streaming}
    val streamed = Streaming.zonemapIngestStreamed(spark, sfDir)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val batch = Layout.zonemapPruning(spark, sfDir)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(streamed == batch, s"streamed $streamed vs batch $batch")
    // replay batch 2: same rows, same id → idempotent overwrite of
    // exactly its own sub-directories and manifest
    val root = Streaming.st34Root(spark, sfDir)
    val replay = Layout.zmProjected(spark, sfDir)
      .filter(pmod(col("l_orderkey"), lit(5)) === 2)
    val confKey = "spark.sql.sources.partitionOverwriteMode"
    GraftSession.withConf(spark, confKey -> "dynamic") {
      Streaming.st34WriteBatch(replay, 2L, root)
    }
    val after = graft.queries.Layout.zmAnswer(spark, s"$root/table",
      spark.read.parquet(s"$root/manifests").drop("batch"))
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(after == batch, s"replay changed the answer: $after")
  }

  // ----------------------------------------------- st33 streamed decon
  test("st33: the streamed ingest gate's pair set equals batch t42's " +
    "exactly (ids and estimates)") {
    val r = graft.queries.Streaming.deconStreamInv(spark, sfDir)
      .collect().head
    assert(r.getBoolean(0), "parity_ok false")
    assert(r.getBoolean(1), "nonempty false")
  }

  // ----------------------------------------------- sk10 join order
  test("sk10: the sketch-chosen join order is executed (innermost " +
    "join audited), matches the exact-stats choice, and the final " +
    "count is order-independent truth") {
    val r = graft.queries.Sketches.cboJoinOrder(spark, sfDir)
      .collect().head
    assert(r.getBoolean(6), "executed innermost join is not the chosen pair")
    assert(r.getBoolean(7), "sketch decision flipped vs exact stats")
    // the chain join's truth, computed directly
    val c = spark.read.parquet(s"$sfDir/customer.parquet")
      .select("c_custkey")
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_custkey", "o_orderkey")
    val l = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey")
    val truth = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .join(c, col("c_custkey") === col("o_custkey")).count()
    assert(r.getLong(5) == truth,
      s"chosen-order count ${r.getLong(5)} != other-order count $truth")
    // TPC-H shape: the smaller intermediate is customer-orders
    assert(r.getString(0) == "customer-orders")
  }

  // ----------------------------------------------- t42 fuzzy decon
  test("t42: the decon contract flags hold at sf0.001 — planted " +
    "recall, side discipline, est-vs-exact band") {
    val r = TextAnalysis.fuzzyDeconInv(spark, sfDir).collect().head
    assert(r.getBoolean(0), "recall_ok false")
    assert(r.getBoolean(1), "sides_ok false")
    assert(r.getBoolean(2), "est_band_ok false")
  }

  test("t42: a specific planted contamination pair is flagged, and " +
    "no flagged pair ever sits inside the eval set itself") {
    val rows = TextAnalysis.fuzzyDecontaminate(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // doc 0 is eval; its corrupted copy is planted at PlantOffset
    assert(rows.exists(r =>
      r.getLong(0) == 1000000L && r.getLong(1) == 0L),
      "planted pair (1000000, 0) not flagged")
    rows.foreach { r =>
      assert(r.getLong(0) != r.getLong(1))
      assert(r.getLong(1) % 10 == 0 && r.getLong(1) < 1000000L,
        s"eval side is not an eval doc: $r")
      assert(r.getDouble(2) >= 0.5)
    }
  }
}
