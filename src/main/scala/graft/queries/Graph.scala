package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Artifacts

/** Iterative graph analytics expressed as the canonical
  * Pregel-as-DataFrame loop: each superstep is ONE edge⋈rank join +
  * ONE destination-keyed aggregation — exactly how large-scale graph
  * engines (GraphX, connected-components in d06/d07) run on Spark.
  *
  * The rank arithmetic is ALL INTEGER (micro-points, floor division),
  * so three unrolled rounds replay bit-exactly in DuckDB — the same
  * float-free trick as l04's milli log-odds and t25's bit surprisal. */
object Graph {

  /** Customers' node ids live above suppliers'. */
  private val CustOffset = 1000000L
  private val PrRounds = 3
  /** Rank unit: 1.0 == 1e6 micro-points; damping 0.85. */
  private val PrBase = 150000L

  /** The trade graph: supplier ↔ customer edges (one per distinct
    * trading pair, BOTH directions so the graph is cyclic and every
    * round genuinely moves rank — a one-way bipartite graph would
    * converge after round 1 and leave rounds 2–3 untested). */
  private[graft] def edges(s: SparkSession, dir: String): DataFrame = {
    val pairs = Relational.table(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Relational.table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").as("supp"),
        (col("o_custkey") + CustOffset).as("cust"))
      .distinct()
    pairs.select(col("supp").as("src"), col("cust").as("dst"))
      .union(pairs.select(col("cust").as("src"), col("supp").as("dst")))
  }

  /** Malformed broadcastRows values already reported. */
  private val warnedBroadcastRows =
    scala.collection.concurrent.TrieMap.empty[String, Unit]

  /** Superstep join-strategy choice from a MEASURED row count — the
    * sk07/sk12 stored-stats discipline applied to iterative loops.
    * Every graph round joins the persisted edge set with a per-round
    * |V|-bounded table (ranks / frontier / keep-set) that comes out
    * of a localCheckpoint, whose stats are UNKNOWN to the planner —
    * so the edge side was shuffle-sorted every round even when the
    * round table held a few thousand rows (measured r15-opt, gr01 at
    * sf0.1: 0.8 s/round, almost all fixed exchange/sort machinery).
    * The loop owner knows the row count (it is the node count, or a
    * subset); broadcast the round table while it fits, fall back to
    * the shuffle join past the cap. The cap is conf'able
    * (`spark.graft.superstep.broadcastRows`, default 2M rows — note a
    * built HashedRelation of 2M (long, long) UnsafeRows costs on the
    * order of ~100 MB with hash-map overhead, not "tens of MB": still
    * fine for one broadcast on a bench-sized executor, but size the
    * cap to executor memory in production); at 100 TB a rank table
    * outgrows it immediately and the loop keeps the bucketed-edges +
    * shuffled-ranks shape the scaladocs describe, so the choice stays
    * honest at any scale. */
  private[graft] def maybeBroadcast(df: DataFrame, rows: Long): DataFrame = {
    val cap = df.sparkSession.conf
      .getOption("spark.graft.superstep.broadcastRows")
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption.orElse {
        // a malformed conf value must not throw from inside a query
        // builder — name the key once per value, fall back to the
        // default
        if (warnedBroadcastRows.putIfAbsent(v, ()).isEmpty)
          System.err.println("[graft] ignoring malformed " +
            s"spark.graft.superstep.broadcastRows='$v' (expected a long)")
        None
      }).getOrElse(2000000L)
    if (rows <= cap) broadcast(df) else df
  }

  /** gr01 — PageRank over the supplier↔customer trade graph, 3
    * supersteps of r(v) ← 0.15 + 0.85·Σ r(u)/outdeg(u) in exact
    * micro-point integers: contribution = (85 × (r div outdeg))
    * div 100, floor division both engines.
    *
    * Scale shape: the edge list is built ONCE (one orderkey join +
    * distinct) and persisted; every superstep then shuffles ONLY
    * (node, rank) pairs through an edges⋈ranks join on src and a
    * dst-keyed sum — partial-aggregated map-side, so the per-round
    * network cost is O(edges) with combiner compression, constant in
    * the round count. At 100 TB the edge list would be bucketed by
    * src so the join side never re-shuffles; the rank table is the
    * only thing that moves. localCheckpoint truncates the per-round
    * lineage exactly like the d06 label-propagation loop. */
  def pagerank(s: SparkSession, dir: String): DataFrame = {
    val e = edges(s, dir).persist()
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val withDeg = e.join(outdeg, "src").persist()
    val nodes = e.select(col("src").as("node")).distinct().persist()
    // one measured count drives every round's join strategy: ranks
    // and contrib are both |V|-bounded (maybeBroadcast note above)
    val nNodes = nodes.count()
    var ranks = nodes.select(col("node"), lit(1000000L).as("r"))
    // the chain is LINEAR (each round's ranks/contrib is consumed
    // exactly once), so with a FIXED 3-round unroll the whole loop
    // executes as ONE job over the cached graph — the old per-round
    // localCheckpoint materialized a |V|-row snapshot 3× for lineage
    // truncation no 3-deep plan needs (that discipline matters for
    // d06's data-dependent O(log n) loop, which keeps it)
    for (_ <- 1 to PrRounds) {
      val contrib = withDeg
        .join(maybeBroadcast(ranks, nNodes), col("src") === col("node"))
        .select(col("dst"),
          expr("85 * (r div outdeg) div 100").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("in_rank"))
      ranks = nodes
        .join(maybeBroadcast(contrib, nNodes),
          col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(PrBase) + coalesce(col("in_rank"), lit(0L))).as("r"))
    }
    // single end-of-loop materialization; the returned frame no longer
    // references the cached graph — release it so a long suite doesn't
    // accumulate
    CacheScope.materializeAndRelease(ranks, e, withDeg, nodes)
      .orderBy("node").select(col("node"), col("r").as("rank_micro"))
  }

  val pagerankSql: String = {
    def round(prev: String, out: String): String = s"""
    $out AS (
      SELECT n.node,
        $PrBase + COALESCE(c.in_rank, 0) AS r
      FROM nodes n LEFT JOIN (
        SELECT e.dst, CAST(sum(85 * (p.r // e.outdeg) // 100)
          AS BIGINT) AS in_rank
        FROM degedges e JOIN $prev p ON e.src = p.node
        GROUP BY e.dst) c ON n.node = c.dst)"""
    s"""
    WITH pairs AS (
      SELECT DISTINCT l.l_suppkey AS supp,
        o.o_custkey + $CustOffset AS cust
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    edges AS (
      SELECT supp AS src, cust AS dst FROM pairs
      UNION ALL
      SELECT cust AS src, supp AS dst FROM pairs),
    degedges AS (
      SELECT src, dst,
        count(*) OVER (PARTITION BY src) AS outdeg
      FROM edges),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
    ${round("r0", "r1")},
    ${round("r1", "r2")},
    ${round("r2", "r3")}
    SELECT node, r AS rank_micro FROM r3 ORDER BY node"""
  }

  /** gr02 — connected components over a SPARSIFIED trade graph,
    * reusing d06's large-star/small-star machinery (O(log diameter)
    * rounds, round-count spec'd there) on organically-derived edges
    * instead of d07's planted chains. The full trade graph is one
    * giant component (every supplier trades with overlapping
    * customers — a vacuous closure), so edges are deterministically
    * sparsified to the (31·supp + cust) ≡ 0 (mod 11) residue slice,
    * which splits the graph into ~11 multi-hop components both
    * engines must agree on node by node. The DuckDB oracle is a
    * recursive-CTE transitive closure taking min reachable label per
    * node — fine at oracle scale, quadratic-in-component-size in
    * general, which is exactly WHY the Spark side uses the
    * star-contraction algorithm instead. */
  def components(s: SparkSession, dir: String): DataFrame = {
    val pairs = Relational.table(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Relational.table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .filter((col("l_suppkey") * 31 + col("o_custkey")) % 11 === 0)
      .select(col("l_suppkey").as("supp"),
        (col("o_custkey") + CustOffset).as("cust"))
      .distinct()
    val e = pairs.select(col("supp").as("a"), col("cust").as("b"))
    Dedup.clusterPairs(e)
      .select(col("doc_id").as("node"), col("cluster_id"))
      .orderBy("node")
  }

  val componentsSql: String = s"""
    WITH RECURSIVE pairs AS (
      SELECT DISTINCT l.l_suppkey AS supp,
        o.o_custkey + $CustOffset AS cust
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE (l.l_suppkey * 31 + o.o_custkey) % 11 = 0),
    edges AS (
      SELECT supp AS src, cust AS dst FROM pairs
      UNION ALL
      SELECT cust AS src, supp AS dst FROM pairs),
    reach(node, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, r.label
      FROM edges e JOIN reach r ON e.src = r.node)
    SELECT node, CAST(min(label) AS BIGINT) AS cluster_id
    FROM reach
    GROUP BY node
    ORDER BY node"""

  /** gr03 — triangle counting on the part co-purchase graph (parts
    * appearing in the same order, capped to each order's 4 lowest part
    * keys so per-order fanout is a constant ≤ 6 pairs). Triangles are
    * the clustering primitive behind community detection and
    * recommendation diversity scoring.
    *
    * Scale shape (round-8 rework): degree-ordered orientation (each
    * undirected edge directed from its (degree, id)-smaller endpoint)
    * bounds every vertex's out-degree by O(√m); triangles are then
    * closed EDGE-ITERATOR style — the oriented out-neighborhoods are
    * collected once into sorted per-node arrays and each oriented edge
    * (u,v) intersects adj(u) ∩ adj(v) in-memory. The O(Σ outdeg²)
    * wedge candidates (≈400M rows at sf1, the round-6/7 `weak`) are
    * never materialized as shuffle rows: they become array-merge CPU
    * inside one codegen stage, and the only post-orientation shuffles
    * move O(m) rows — the adjacency collect plus two edge⋈adj joins
    * (GraphX's triangleCount uses the same collect-then-intersect
    * shape). Row volume after intersection is exactly 3 rows per
    * triangle (u and v take |W| via the pre-aggregated size, each
    * w ∈ W takes 1 via explode), then one final per-node sum. Every
    * count is an exact integer, so the DuckDB replica matches
    * hash-exactly; the oracle SQL keeps the equivalent wedge+EXISTS
    * formulation because DuckDB has no array intersection over
    * grouped adjacency — same semantics, engine-appropriate plans. */
  def triangles(s: SparkSession, dir: String): DataFrame =
    trianglesWithCap(s, dir, TriOrderCap)

  /** The per-order fanout cap is the gr03 cost knob: candidate wedge
    * volume grows ~cap² per order. Measured sensitivity on the
    * round-8 draw with the edge-iterator closing (tools/PerfAudit
    * gr03, cold single runs incl. ~9 s session/JIT fixed cost):
    * sf0.1 — cap 4: 13.9 s / 20,000 triangle-bearing nodes (every
    * part); cap 8: 16.0 s / 20,000. sf1 — cap 2: 20.6 s / 32,730;
    * cap 4: 25.4 s / 200,000; cap 8: 42.6 s / 200,000. Warm (second
    * run in a live session, tools/TriProbe): cap 4 is 5.0 s at sf0.1
    * and 16.0 s at sf1, with wedge volume measured exactly linear in
    * SF (21.5M → 215M in-array candidates — never shuffle rows).
    * Cap 4 keeps full node coverage; cap 2 drops 5/6 of the
    * triangle-bearing nodes for ~20% of the cost back; cap 8 doubles
    * the cost and adds no coverage — hence 4. (Pre-r8 wedge-join
    * numbers for the same knob: 50.9 s cap 4 / 118.2 s cap 8 at
    * sf1 — the rework is 2–2.8× on the knee and turned the 100×
    * story from materialized-row growth into linear CPU.) */
  private[graft] val TriOrderCap = 4

  private[graft] def trianglesWithCap(s: SparkSession, dir: String,
      cap: Int): DataFrame = {
    val (out, caches) = trianglesPlan(s, dir, cap)
    CacheScope.materializeAndRelease(out, caches: _*)
  }

  /** The gr03/gr04 co-purchase edge list (u < v part pairs from each
    * order's `cap` lowest part keys), built in ONE shuffle: per-order
    * collect_set(partkey) (partial-aggregated map-side) -> sort ->
    * keep the `cap` lowest, then emit the <=C(cap,2) unordered pairs
    * IN-ROW with a nested transform — replacing the r6 shape's
    * distinct + row_number window + self-join (three shuffles of the
    * full lineitem pair stream) with a single orderkey-keyed
    * aggregation, plus the final pair distinct. */
  private[graft] def coPurchaseEdges(s: SparkSession, dir: String,
      cap: Int,
      rowFilter: org.apache.spark.sql.Column = lit(true)): DataFrame =
    Relational.table(s, dir, "lineitem")
      .filter(rowFilter)
      .groupBy(col("l_orderkey"))
      .agg(slice(array_sort(collect_set(col("l_partkey"))), 1, cap)
        .as("ps"))
      .select(expr(
        """flatten(transform(ps, (u, i) ->
             transform(slice(ps, i + 2, size(ps)), v ->
               struct(u AS u, v AS v))))""").as("pairs"))
      .select(explode(col("pairs")).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .distinct()

  /** Un-materialized plan + its persisted inputs — the spec hook:
    * plan assertions must read the REAL plan, and
    * materializeAndRelease replaces the returned lineage with a
    * checkpoint scan. Callers own the returned caches. */
  private[graft] def trianglesPlan(s: SparkSession, dir: String,
      cap: Int): (DataFrame, Seq[DataFrame]) = {
    val edges = coPurchaseEdges(s, dir, cap).persist()
    val deg = edges.select(col("u").as("n"))
      .unionAll(edges.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("c"))
    val du = deg.select(col("n").as("u"), col("c").as("cu"))
    val dv = deg.select(col("n").as("v"), col("c").as("cv"))
    val orient = edges.join(du, "u").join(dv, "v")
      .select(
        when(struct(col("cu"), col("u")) < struct(col("cv"), col("v")),
          col("u")).otherwise(col("v")).as("s"),
        when(struct(col("cu"), col("u")) < struct(col("cv"), col("v")),
          col("v")).otherwise(col("u")).as("d"))
      .persist()
    // Edge-iterator closing: sorted oriented adjacency per node, one
    // in-memory intersection per oriented edge. Inner joins are
    // correct: an edge whose endpoint has no out-neighbors closes
    // nothing, and every triangle is counted exactly once at its
    // unique out-degree-2 apex (the (degree,id)-smallest corner).
    val adj = orient.groupBy(col("s").as("n"))
      .agg(sort_array(collect_list(col("d"))).as("nbrs"))
      .persist()
    // persisted: feeds THREE union branches below — without the cache
    // the expensive closing joins + array_intersect replay per branch
    // (exchange reuse only salvages the shuffles beneath the joins)
    val closed = orient
      .join(adj.select(col("n").as("s"), col("nbrs").as("adj_s")), "s")
      .join(adj.select(col("n").as("d"), col("nbrs").as("adj_d")), "d")
      .select(col("s"), col("d"),
        array_intersect(col("adj_s"), col("adj_d")).as("common"))
      .filter(size(col("common")) > 0)
      .persist()
    val out = closed.select(col("s").as("node"),
        size(col("common")).cast("long").as("t"))
      .unionAll(closed.select(col("d").as("node"),
        size(col("common")).cast("long").as("t")))
      .unionAll(closed.select(explode(col("common")).as("node"),
        lit(1L).as("t")))
      .groupBy("node").agg(sum(col("t")).as("n_triangles"))
      .orderBy("node")
    (out, Seq(edges, orient, adj, closed))
  }

  val trianglesSql: String = """
    WITH ranked AS (
      SELECT l_orderkey, l_partkey,
        row_number() OVER (PARTITION BY l_orderkey
                           ORDER BY l_partkey) AS rn
      FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)),
    capped AS (SELECT l_orderkey, l_partkey FROM ranked WHERE rn <= 4),
    edges AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM capped a JOIN capped b ON a.l_orderkey = b.l_orderkey
        AND a.l_partkey < b.l_partkey),
    deg AS (
      SELECT n, count(*) AS c FROM (
        SELECT u AS n FROM edges UNION ALL SELECT v FROM edges)
      GROUP BY n),
    orient AS (
      SELECT CASE WHEN (du.c, e.u) < (dv.c, e.v) THEN e.u ELSE e.v
               END AS s,
             CASE WHEN (du.c, e.u) < (dv.c, e.v) THEN e.v ELSE e.u
               END AS d
      FROM edges e JOIN deg du ON e.u = du.n JOIN deg dv ON e.v = dv.n),
    tri AS (
      SELECT e1.s AS a, e1.d AS b, e2.d AS c
      FROM orient e1 JOIN orient e2 ON e1.d = e2.s
      WHERE EXISTS (SELECT 1 FROM orient e3
                    WHERE e3.s = e1.s AND e3.d = e2.d))
    SELECT node, count(*) AS n_triangles
    FROM (SELECT a AS node FROM tri UNION ALL
          SELECT b FROM tri UNION ALL
          SELECT c FROM tri)
    GROUP BY node
    ORDER BY node"""

  /** gr04 — greedy dense-core extraction (Charikar-style peeling):
    * three rounds of "delete every node whose degree is below the
    * CURRENT average", on gr03's co-purchase graph. Each deletion
    * round can only raise the average degree, so the surviving
    * subgraph is a dense core — the community-mining primitive that
    * needs no k parameter (a fixed k-core threshold goes vacuous as
    * density grows with SF; the average adapts).
    *
    * The below-average test is cross-multiplied integer arithmetic —
    * `deg · |V| >= 2 · |E|` — so every round replays exactly in the
    * oracle's unrolled CTEs. Scale shape: per round ONE degree
    * aggregation (map-side combinable) + a broadcast of the 1-row
    * (|V|, Σdeg = 2|E|) stats + two semi-joins to restrict the edge
    * set; round count is a constant 3, not data-dependent.
    *
    * Memory shape (r15): the base edge set is the ONLY materialized
    * edge snapshot. Rounds peel by NODE keep-sets: K_i is computed
    * from degrees of the round-(i-1) subgraph, whose node set is a
    * subset of K_{i-1}, so K_i ⊆ K_{i-1} automatically and
    * `base semi-join K_i` IS the round-i subgraph. The pre-r15 shape
    * `localCheckpoint`ed every round's shrunken edge list and never
    * released the prior rounds' blocks — four edge snapshots held at
    * once, the measured 99× 8 g OOM; now the peak is one edge
    * snapshot plus |V|-sized node sets (each round's keep-set
    * checkpoint truncates the lineage exactly like the old per-round
    * edge checkpoint did, so no round replays a prior round's
    * aggregation). */
  def denseCore(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    // same one-shuffle edge build as gr03 (r8 rework). DISK_ONLY:
    // the snapshot is scanned sequentially once per round — parked
    // on disk it costs a ~1 GB/round local read at 99× but leaves
    // the ENTIRE unified pool to the degree hash-aggregations (32
    // concurrent tasks × multi-million-group maps), which is what
    // actually ran out at 8 g, not the heap
    val base = coPurchaseEdges(s, dir, 4).localCheckpoint(
      eager = true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
    var edges = base
    for (_ <- 1 to 3) {
      val deg = edges.select(col("u").as("n"))
        .unionAll(edges.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("c"))
      // 2·|E| == Σ degree, so ONE degree aggregation per round feeds
      // both stats — no second scan of the semi-joined edge set
      val stats = deg.agg(count(lit(1)).as("nv"),
        sum(col("c")).as("two_ne"))
      val keep = deg.crossJoin(broadcast(stats))
        .filter(col("c") * col("nv") >= col("two_ne"))
        .select("n").localCheckpoint()
      // the keep-set is |V|-bounded: broadcast it into both semi-joins
      // while it fits (measured count; maybeBroadcast note at the top
      // of the file) so the round never shuffles the base edge
      // snapshot — it is scanned once from its DISK_ONLY blocks
      val keepB = maybeBroadcast(keep, keep.count())
      edges = base
        .join(keepB.select(col("n").as("u")), Seq("u"), "left_semi")
        .join(keepB.select(col("n").as("v")), Seq("v"), "left_semi")
        .select("u", "v")
    }
    edges.select(col("u").as("n"))
      .unionAll(edges.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("core_degree"))
      .select(col("n").as("node"), col("core_degree"))
      .orderBy("node")
  }

  /** Every multiply-referenced CTE is MATERIALIZED: DuckDB otherwise
    * re-inlines a CTE at each reference, and with ~5 references per
    * round the 3-round unrolling re-evaluates the base self-join
    * O(5³) times. */
  val denseCoreSql: String = {
    def round(eIn: String, i: Int): String = s"""
    d$i AS MATERIALIZED (
      SELECT n, count(*) AS c FROM (
        SELECT u AS n FROM $eIn UNION ALL SELECT v FROM $eIn)
      GROUP BY n),
    s$i AS MATERIALIZED (
      SELECT (SELECT count(*) FROM d$i) AS nv,
             (SELECT count(*) FROM $eIn) AS ne),
    k$i AS MATERIALIZED (SELECT n FROM d$i, s$i WHERE c * nv >= ne * 2),
    e$i AS MATERIALIZED (
      SELECT u, v FROM $eIn
      WHERE u IN (SELECT n FROM k$i) AND v IN (SELECT n FROM k$i))"""
    s"""
    WITH ranked AS (
      SELECT l_orderkey, l_partkey,
        row_number() OVER (PARTITION BY l_orderkey
                           ORDER BY l_partkey) AS rn
      FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)),
    capped AS (SELECT l_orderkey, l_partkey FROM ranked WHERE rn <= 4),
    e0 AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM capped a JOIN capped b ON a.l_orderkey = b.l_orderkey
        AND a.l_partkey < b.l_partkey),
    ${round("e0", 1)},
    ${round("e1", 2)},
    ${round("e2", 3)}
    SELECT n AS node, count(*) AS core_degree FROM (
      SELECT u AS n FROM e3 UNION ALL SELECT v FROM e3)
    GROUP BY n
    ORDER BY node"""
  }

  // ------------------------------------------------ gr05 link prediction
  /** gr05 — common-neighbor link prediction on the supplier→customer
    * trade graph: customer pairs that share suppliers, scored by the
    * shared-supplier count and an exact parts-per-million Jaccard over
    * the capped neighbor lists (the two classical link-prediction
    * baselines; Liben-Nowell & Kleinberg 2003). `jaccard_ppm` is pure
    * integer arithmetic — `cn·10⁶ div (d₁+d₂−cn)` with floor division
    * in both engines — so the oracle matches hash-exactly; ranking by
    * it equals ranking by real Jaccard.
    *
    * Scale shape: per-supplier customer lists are CAPPED to the 5
    * lowest custkeys (row_number window — the same constant-fanout
    * trick as gr03's per-order cap), so the wedge self-join emits at
    * most C(5,2)=10 candidate pairs per supplier: candidate volume is
    * LINEAR in suppliers, never quadratic in customers, and the
    * hottest supplier cannot skew a join partition. Pair counting is
    * one map-side-combinable aggregate; degrees join back over the
    * same capped lists (computed once, persisted); the final top-k is
    * TakeOrderedAndProject — per-partition heaps, no global sort. */
  def linkPrediction(s: SparkSession, dir: String): DataFrame = {
    val (out, caches) = linkPredictionPlan(s, dir)
    CacheScope.materializeAndRelease(out, caches: _*)
  }

  /** Spec hook — see [[trianglesPlan]]. */
  private[graft] def linkPredictionPlan(s: SparkSession, dir: String)
      : (DataFrame, Seq[DataFrame]) = {
    import org.apache.spark.sql.expressions.Window
    val sc = Relational.table(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Relational.table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").as("supp"), col("o_custkey").as("cust"))
      .distinct()
    val capped = sc.withColumn("rn", row_number().over(
        Window.partitionBy("supp").orderBy("cust")))
      .filter(col("rn") <= 5).drop("rn").persist()
    val deg = capped.groupBy("cust").agg(count(lit(1)).as("d"))
    val pairs = capped.select(col("supp"), col("cust").as("c1"))
      .join(capped.select(col("supp"), col("cust").as("c2")), "supp")
      .filter(col("c1") < col("c2"))
      .groupBy("c1", "c2").agg(count(lit(1)).as("cn"))
    val out = pairs
      .join(deg.select(col("cust").as("c1"), col("d").as("d1")), "c1")
      .join(deg.select(col("cust").as("c2"), col("d").as("d2")), "c2")
      .withColumn("jaccard_ppm",
        expr("cn * 1000000 div (d1 + d2 - cn)"))
      .select("c1", "c2", "cn", "jaccard_ppm")
      .orderBy(col("cn").desc, col("jaccard_ppm").desc, col("c1"),
        col("c2"))
      .limit(20)
    (out, Seq(capped))
  }

  val linkPredictionSql: String = """
    WITH sc AS (
      SELECT DISTINCT l.l_suppkey AS supp, o.o_custkey AS cust
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    capped AS (
      SELECT supp, cust FROM (
        SELECT supp, cust,
          row_number() OVER (PARTITION BY supp ORDER BY cust) AS rn
        FROM sc) WHERE rn <= 5),
    deg AS (SELECT cust, count(*) AS d FROM capped GROUP BY cust),
    pairs AS (
      SELECT a.cust AS c1, b.cust AS c2, count(*) AS cn
      FROM capped a JOIN capped b
        ON a.supp = b.supp AND a.cust < b.cust
      GROUP BY 1, 2)
    SELECT p.c1, p.c2, p.cn,
      p.cn * 1000000 // (d1.d + d2.d - p.cn) AS jaccard_ppm
    FROM pairs p
    JOIN deg d1 ON p.c1 = d1.cust
    JOIN deg d2 ON p.c2 = d2.cust
    ORDER BY cn DESC, jaccard_ppm DESC, c1, c2
    LIMIT 20"""

  // -------------------------------------------------------------- gr06
  private val BfsRounds = 3

  /** gr06 — multi-source bounded BFS: exact hop distance (≤ 3) from
    * the seed suppliers (every 50th key) over gr02's SPARSIFIED trade
    * graph (the full graph is diameter-2 — every distance would be
    * trivially 0/1/2, leaving the deeper rounds untested; the mod-11
    * residue slice stretches real multi-hop paths).
    *
    * Scale shape: the classic FRONTIER optimization — each round joins
    * the edge list against only the nodes DISCOVERED LAST ROUND (not
    * the whole visited set), then anti-joins the candidates against
    * visited, so round k's cost is O(edges incident to frontier k),
    * and total work across rounds is O(edges reached) — the textbook
    * Pregel BFS. A naive "join edges with all known distances and
    * re-min" formulation re-touches every settled node every round,
    * which at 100 TB turns a 3-round walk into 3 full-graph shuffles.
    * localCheckpoint truncates per-round lineage exactly like gr01 /
    * d06. The DuckDB oracle is the min-unrolled formulation (provably
    * equivalent: r_k(v) = min hops within k), so the hash match
    * certifies the frontier decomposition. */
  def bfsHops(s: SparkSession, dir: String): DataFrame = {
    val pairs = Relational.table(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Relational.table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .filter((col("l_suppkey") * 31 + col("o_custkey")) % 11 === 0)
      .select(col("l_suppkey").as("supp"),
        (col("o_custkey") + CustOffset).as("cust"))
      .distinct()
    val e = pairs.select(col("supp").as("src"), col("cust").as("dst"))
      .union(pairs.select(col("cust").as("src"), col("supp").as("dst")))
      .persist()
    val seeds = Relational.table(s, dir, "supplier")
      .filter(col("s_suppkey") % 50 === 0)
      .select(col("s_suppkey").cast("long").as("node"),
        lit(0L).as("dist"))
    var dist = seeds.localCheckpoint()
    var frontier = seeds.select("node")
    for (k <- 1 to BfsRounds) {
      val cand = e.join(frontier, col("src") === col("node"))
        .select(col("dst").as("node")).distinct()
      val fresh = cand.join(dist, Seq("node"), "left_anti")
        .select(col("node"), lit(k.toLong).as("dist"))
        .localCheckpoint()
      dist = dist.unionAll(fresh).localCheckpoint()
      frontier = fresh.select("node")
    }
    e.unpersist(false) // dist is checkpointed; edge cache no longer needed
    dist.orderBy("node")
  }

  val bfsHopsSql: String = {
    def round(prev: String, out: String): String = s"""
    $out AS (
      SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
        SELECT node, dist FROM $prev
        UNION ALL
        SELECT e.dst AS node, p.dist + 1 AS dist
        FROM edges e JOIN $prev p ON e.src = p.node)
      GROUP BY node)"""
    s"""
    WITH pairs AS (
      SELECT DISTINCT l.l_suppkey AS supp,
        o.o_custkey + $CustOffset AS cust
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE (l.l_suppkey * 31 + o.o_custkey) % 11 = 0),
    edges AS (
      SELECT supp AS src, cust AS dst FROM pairs
      UNION ALL
      SELECT cust AS src, supp AS dst FROM pairs),
    d0 AS (
      SELECT CAST(s_suppkey AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist
      FROM supplier WHERE s_suppkey % 50 = 0),
    ${round("d0", "r1")},
    ${round("r1", "r2")},
    ${round("r2", "r3")}
    SELECT node, dist FROM r3 ORDER BY node"""
  }

  // -------------------------------------------------------------- gr07
  /** gr07 — personalized PageRank (random walk with restart): gr01's
    * superstep loop with the teleport mass CONCENTRATED on a seed set
    * (every 25th supplier) instead of spread uniformly — the
    * graph-proximity measure behind "related items" recommendation
    * and seed-expansion labeling (scores decay with distance from the
    * seeds, so high-rank non-seed nodes are the seeds' graph
    * neighborhood). Same exact micro-point integer arithmetic, same
    * one-join-one-agg superstep; only the base term is conditional,
    * so the DuckDB unroll replays bit-exactly.
    *
    * Scale shape: identical to gr01 — per-round network cost is
    * O(edges) with map-side combine, rounds constant. Restart mass on
    * a HANDFUL of seeds also means rank concentrates sparsely; at
    * 100 TB the rank table a PPR iteration moves is far smaller than
    * uniform PageRank's (zero-rank nodes drop out of the join). */
  def personalizedPagerank(s: SparkSession, dir: String): DataFrame = {
    val e = edges(s, dir).persist()
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val withDeg = e.join(outdeg, "src").persist()
    val nodes = e.select(col("src").as("node")).distinct().persist()
    val nNodes = nodes.count() // drives the superstep join strategy
    val isSeed = col("node") % 25 === 0 && col("node") < CustOffset
    var ranks = nodes
      .select(col("node"),
        when(isSeed, lit(1000000L)).otherwise(lit(0L)).as("r"))
    // linear fixed-round chain → one job + one end materialization
    // (the gr01 note)
    for (_ <- 1 to PrRounds) {
      val contrib = withDeg
        .join(maybeBroadcast(ranks, nNodes), col("src") === col("node"))
        .filter(col("r") > 0)
        .select(col("dst"),
          expr("85 * (r div outdeg) div 100").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("in_rank"))
      ranks = nodes
        .join(maybeBroadcast(contrib, nNodes),
          col("node") === col("dst"), "left")
        .select(col("node"),
          (when(isSeed, lit(PrBase)).otherwise(lit(0L)) +
            coalesce(col("in_rank"), lit(0L))).as("r"))
    }
    CacheScope.materializeAndRelease(ranks, e, withDeg, nodes)
      .filter(col("r") > 0)
      .orderBy("node").select(col("node"), col("r").as("rank_micro"))
  }

  val personalizedPagerankSql: String = {
    def round(prev: String, out: String): String = s"""
    $out AS (
      SELECT n.node,
        CASE WHEN n.node % 25 = 0 AND n.node < $CustOffset
          THEN $PrBase ELSE 0 END + COALESCE(c.in_rank, 0) AS r
      FROM nodes n LEFT JOIN (
        SELECT e.dst, CAST(sum(85 * (p.r // e.outdeg) // 100)
          AS BIGINT) AS in_rank
        FROM degedges e JOIN $prev p ON e.src = p.node AND p.r > 0
        GROUP BY e.dst) c ON n.node = c.dst)"""
    s"""
    WITH pairs AS (
      SELECT DISTINCT l.l_suppkey AS supp,
        o.o_custkey + $CustOffset AS cust
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    edges AS (
      SELECT supp AS src, cust AS dst FROM pairs
      UNION ALL
      SELECT cust AS src, supp AS dst FROM pairs),
    degedges AS (
      SELECT src, dst,
        count(*) OVER (PARTITION BY src) AS outdeg
      FROM edges),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    r0 AS (
      SELECT node,
        CAST(CASE WHEN node % 25 = 0 AND node < $CustOffset
          THEN 1000000 ELSE 0 END AS BIGINT) AS r
      FROM nodes),
    ${round("r0", "r1")},
    ${round("r1", "r2")},
    ${round("r2", "r3")}
    SELECT node, r AS rank_micro FROM r3
    WHERE r > 0
    ORDER BY node"""
  }

  // -------------------------------------------------------------- gr08
  /** gr08 — weighted shortest paths by bounded min-plus relaxation
    * (distributed Bellman-Ford, 3 rounds): edge cost is inverse trade
    * strength — 10⁶ div (#distinct orders linking the pair) — so the
    * "distance" is a relationship-weakness metric and short paths
    * follow strong commercial ties. Unlike gr06's unweighted BFS, a
    * weighted round can IMPROVE an already-settled node (a longer
    * hop-path may be cheaper), so every round relaxes the FULL
    * distance table through the edge list — min-plus semiring
    * matrix-vector product, the thing frontier BFS cannot do. The
    * oracle unrolls the same three relaxations.
    *
    * Scale shape: each round is one edges⋈dist join + one dst-keyed
    * min agg — map-side partial min compresses before the shuffle;
    * cost O(edges)/round. Bounded rounds = bounded cost, the
    * standard k-hop tradeoff for trillion-edge graphs (exact
    * distances within k hops, not global convergence). */
  def weightedPaths(s: SparkSession, dir: String): DataFrame = {
    val pairs = Relational.table(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Relational.table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_suppkey").as("supp"),
        (col("o_custkey") + CustOffset).as("cust"))
      .agg(count_distinct(col("o_orderkey")).as("n_ord"))
      .withColumn("w", expr("1000000 div n_ord"))
    val e = pairs.select(col("supp").as("src"), col("cust").as("dst"),
        col("w"))
      .union(pairs.select(col("cust").as("src"), col("supp").as("dst"),
        col("w")))
      .persist()
    val seeds = Relational.table(s, dir, "supplier")
      .filter(col("s_suppkey") % 50 === 0)
      .select(col("s_suppkey").cast("long").as("node"),
        lit(0L).as("dist"))
    var dist = seeds.localCheckpoint()
    for (_ <- 1 to BfsRounds) {
      val relaxed = e.join(dist, col("src") === col("node"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
      dist = dist.unionAll(relaxed)
        .groupBy("node").agg(min(col("dist")).as("dist"))
        .localCheckpoint()
    }
    e.unpersist(false) // dist is checkpointed; edge cache no longer needed
    dist.orderBy("node")
  }

  val weightedPathsSql: String = {
    def round(prev: String, out: String): String = s"""
    $out AS (
      SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
        SELECT node, dist FROM $prev
        UNION ALL
        SELECT e.dst AS node, p.dist + e.w AS dist
        FROM edges e JOIN $prev p ON e.src = p.node)
      GROUP BY node)"""
    s"""
    WITH pairs AS (
      SELECT l.l_suppkey AS supp, o.o_custkey + $CustOffset AS cust,
        1000000 // count(DISTINCT o.o_orderkey) AS w
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2),
    edges AS (
      SELECT supp AS src, cust AS dst, w FROM pairs
      UNION ALL
      SELECT cust AS src, supp AS dst, w FROM pairs),
    d0 AS (
      SELECT CAST(s_suppkey AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist
      FROM supplier WHERE s_suppkey % 50 = 0),
    ${round("d0", "r1")},
    ${round("r1", "r2")},
    ${round("r2", "r3")}
    SELECT node, dist FROM r3 ORDER BY node"""
  }

  // -------------------------------------------------------------- gr09
  /** gr09 — k-hop neighborhood features (the graph-feature
    * extraction step of entity-ML pipelines: per supplier, distinct
    * trading partners at 1 hop and distinct PEER SUPPLIERS at 2 hops
    * — "how connected is this entity, and how crowded is its
    * neighborhood"). Uses gr02's sparsified graph so 2-hop
    * neighborhoods are genuinely varied (the full trade graph is
    * near-complete at 2 hops — every feature would saturate).
    *
    * Scale shape: hop 1 is one (supp → distinct cust) agg; hop 2 is
    * one cust-keyed self-join of the SAME edge slice + a distinct-agg
    * — never an adjacency-matrix power; both shuffles ride the edge
    * keys with map-side combine. Features are exact counts, so the
    * relational oracle replays them directly. */
  def khopFeatures(s: SparkSession, dir: String): DataFrame = {
    val pairs = Relational.table(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Relational.table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .filter((col("l_suppkey") * 31 + col("o_custkey")) % 11 === 0)
      .select(col("l_suppkey").as("supp"), col("o_custkey").as("cust"))
      .distinct().persist()
    val hop1 = pairs.groupBy("supp")
      .agg(count_distinct(col("cust")).as("n_partners"))
    val peers = pairs.select(col("supp").as("a"), col("cust"))
      .join(pairs.select(col("supp").as("b"), col("cust")), "cust")
      .filter(col("a") =!= col("b"))
      .groupBy(col("a").as("supp"))
      .agg(count_distinct(col("b")).as("n_peers"))
    val out = hop1.join(peers, Seq("supp"), "left")
      .select(col("supp"), col("n_partners"),
        coalesce(col("n_peers"), lit(0L)).as("n_peers"))
      .orderBy("supp")
    CacheScope.materializeAndRelease(out, pairs)
  }

  val khopFeaturesSql: String = """
    WITH pairs AS (
      SELECT DISTINCT l.l_suppkey AS supp, o.o_custkey AS cust
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE (l.l_suppkey * 31 + o.o_custkey) % 11 = 0),
    hop1 AS (
      SELECT supp, CAST(count(DISTINCT cust) AS BIGINT) AS n_partners
      FROM pairs GROUP BY supp),
    peers AS (
      SELECT a.supp AS supp, CAST(count(DISTINCT b.supp) AS BIGINT)
        AS n_peers
      FROM pairs a JOIN pairs b
        ON a.cust = b.cust AND a.supp <> b.supp
      GROUP BY a.supp)
    SELECT h.supp, h.n_partners,
      COALESCE(p.n_peers, 0) AS n_peers
    FROM hop1 h LEFT JOIN peers p ON h.supp = p.supp
    ORDER BY h.supp"""

  // -------------------------------------------------------------- gr10
  /** Truss threshold: surviving edges need ≥ TrussK−2 = 2 supporting
    * triangles per peel round. */
  private val TrussK = 4
  private val TrussRounds = 2

  /** gr10 — bounded k-truss decomposition (Cohen 2008: the
    * edge-analog of gr04's dense core — an edge survives iff ≥ k−2
    * triangles support it, re-evaluated as weaker edges fall away).
    * Trusses are the community-detection primitive that tolerates
    * the noisy pendant edges a k-core keeps. Like gr04 the round
    * count is a CONSTANT 2, not convergence-driven, so the DuckDB
    * oracle replays the identical rounds; Round8Spec asserts the
    * monotone-shrink law. The reported `support` is the support
    * measured in the LAST peel round's closure — i.e. on the edge set
    * entering that round, pre-final-filter — consistent with the
    * constant-round oracle replay. It is NOT re-measured inside the
    * final surviving set (a converged k-truss would guarantee that
    * stronger post-filter invariant; a bounded 2-round peel does not).
    *
    * Built entirely from gr03's r8 machinery: each round is ONE
    * support pass — degree orientation, adjacency collect,
    * `array_intersect` closing (wedges never materialize as rows),
    * then 3 edge-hits per triangle aggregated per undirected edge —
    * and one semi-join-shaped filter. The graph is the gr02-style
    * sparsified slice (orders with orderkey ≡ 0 mod 3) so the
    * 2-round demo prices at ~2/3 of one gr03, not 2×. */
  def ktruss(s: SparkSession, dir: String): DataFrame = {
    var edges = coPurchaseEdges(s, dir, TriOrderCap,
      col("l_orderkey") % 3 === 0).localCheckpoint()
    var support: DataFrame = null
    for (_ <- 1 to TrussRounds) {
      support = edgeSupport(edges) // materialized, caches released
      edges = support.filter(col("sup") >= TrussK - 2)
        .select("u", "v").localCheckpoint()
    }
    support.filter(col("sup") >= TrussK - 2)
      .select(col("u"), col("v"), col("sup").as("support"))
      .orderBy("u", "v")
  }

  /** Per-undirected-edge triangle support of the CURRENT edge set:
    * gr03's orientation + adjacency-intersection closing, then each
    * triangle credits its 3 edges (one combinable aggregation).
    * Returns an eagerly-materialized frame: `orient` feeds three
    * consumers (both closing-join sides via adj, plus the join
    * spine itself), so it is persisted for the pass and released as
    * soon as the support aggregate lands. */
  private def edgeSupport(edges: DataFrame): DataFrame = {
    val deg = edges.select(col("u").as("n"))
      .unionAll(edges.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("c"))
    val du = deg.select(col("n").as("u"), col("c").as("cu"))
    val dv = deg.select(col("n").as("v"), col("c").as("cv"))
    val orient = edges.join(du, "u").join(dv, "v")
      .select(
        when(struct(col("cu"), col("u")) < struct(col("cv"), col("v")),
          col("u")).otherwise(col("v")).as("s"),
        when(struct(col("cu"), col("u")) < struct(col("cv"), col("v")),
          col("v")).otherwise(col("u")).as("d"))
      .persist()
    val adj = orient.groupBy(col("s").as("n"))
      .agg(sort_array(collect_list(col("d"))).as("nbrs"))
      .persist()
    val tri = orient
      .join(adj.select(col("n").as("s"), col("nbrs").as("adj_s")), "s")
      .join(adj.select(col("n").as("d"), col("nbrs").as("adj_d")), "d")
      .select(col("s"), col("d"),
        explode(array_intersect(col("adj_s"), col("adj_d"))).as("w"))
    val support = tri.select(explode(array(
        struct(least(col("s"), col("d")).as("u"),
          greatest(col("s"), col("d")).as("v")),
        struct(least(col("s"), col("w")).as("u"),
          greatest(col("s"), col("w")).as("v")),
        struct(least(col("d"), col("w")).as("u"),
          greatest(col("d"), col("w")).as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("sup"))
    CacheScope.materializeAndRelease(support, orient, adj)
  }

  /** The oracle unrolls the same 2 rounds; every multiply-referenced
    * CTE is MATERIALIZED (the gr04 lesson — DuckDB re-inlines). The
    * closing uses gr03's wedge+EXISTS form per round. */
  val ktrussSql: String = {
    def round(eIn: String, i: Int): String = s"""
    d$i AS MATERIALIZED (
      SELECT n, count(*) AS c FROM (
        SELECT u AS n FROM $eIn UNION ALL SELECT v FROM $eIn)
      GROUP BY n),
    o$i AS MATERIALIZED (
      SELECT CASE WHEN (du.c, e.u) < (dv.c, e.v) THEN e.u ELSE e.v
               END AS s,
             CASE WHEN (du.c, e.u) < (dv.c, e.v) THEN e.v ELSE e.u
               END AS d
      FROM $eIn e JOIN d$i du ON e.u = du.n JOIN d$i dv ON e.v = dv.n),
    t$i AS MATERIALIZED (
      SELECT e1.s AS a, e1.d AS b, e2.d AS c
      FROM o$i e1 JOIN o$i e2 ON e1.d = e2.s
      WHERE EXISTS (SELECT 1 FROM o$i e3
                    WHERE e3.s = e1.s AND e3.d = e2.d)),
    s$i AS MATERIALIZED (
      SELECT u, v, count(*) AS sup FROM (
        SELECT least(a, b) AS u, greatest(a, b) AS v FROM t$i
        UNION ALL
        SELECT least(a, c), greatest(a, c) FROM t$i
        UNION ALL
        SELECT least(b, c), greatest(b, c) FROM t$i)
      GROUP BY u, v),
    e$i AS MATERIALIZED (
      SELECT u, v, sup FROM s$i WHERE sup >= ${TrussK - 2})"""
    s"""
    WITH ranked AS (
      SELECT l_orderkey, l_partkey,
        row_number() OVER (PARTITION BY l_orderkey
                           ORDER BY l_partkey) AS rn
      FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            WHERE l_orderkey % 3 = 0)),
    e0 AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM (SELECT * FROM ranked WHERE rn <= $TriOrderCap) a
      JOIN (SELECT * FROM ranked WHERE rn <= $TriOrderCap) b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    ${round("e0", 1)},
    ${round("e1", 2)}
    SELECT u, v, CAST(sup AS BIGINT) AS support
    FROM e2
    ORDER BY u, v"""
  }

  // --------------------------------------------- gr11 label propagation
  private val LpRounds = 3

  /** gr11 — community detection by synchronous label propagation over
    * the supplier↔customer trade graph: every node starts as its own
    * label; each superstep relabels a node to its neighbors' PLURALITY
    * label (ties → smallest label — the determinism rule that makes
    * LPA, normally run-order-dependent, bit-exactly replayable). Three
    * unrolled supersteps, like gr01: labels are node ids (integers),
    * the plurality count is an integer, so the full fixpoint prefix
    * replays in DuckDB.
    *
    * Scale shape: a superstep is ONE edges⋈labels join on src + ONE
    * (dst, label)-keyed count (map-side partial agg — per-edge traffic
    * compresses to per-(node,label)) + ONE per-node plurality argmax
    * expressed as max(struct(count, −label)) — an aggregation, NOT a
    * window sort, so no per-node candidate list is ever materialized
    * or sorted. Only (node, label) pairs move per round; the edge list
    * is built once and persisted (bucketed by src at 100 TB).
    * localCheckpoint truncates per-round lineage like gr01/d06. */
  /** Converged (node, community) labels, memoized per (application,
    * dir, cap) as a PARQUET path: gr11 emits them and gr12 audits
    * them — without the memo the suite runs the 3-superstep loop
    * twice on identical inputs. The artifact is NODE-sized and lives
    * on disk (the sk04/s24 stored-artifact discipline), not as a
    * localCheckpoint-backed frame: checkpoint blocks die with their
    * executor and never self-heal, so a memoized frame would poison
    * every later caller after a block loss, and pinned blocks would
    * accumulate per (dir, cap) for the application's lifetime.
    *
    * `prebuilt`: an already-materialized edge frame the caller owns
    * (gr12 passes its audit checkpoint), so a cold memo never builds
    * the join+distinct edge list twice in one query. */
  private def lpaLabels(s: SparkSession, dir: String, cap: Int,
      prebuilt: Option[DataFrame] = None): DataFrame = {
    val path = Artifacts.memo(s, s"gr11lab_c$cap", dir) { out =>
      val owned = prebuilt.isEmpty
      val e = prebuilt.getOrElse(edges(s, dir).persist())
      lpaOnEdges(e, LpRounds, cap)
        .write.mode("overwrite").parquet(out.getAbsolutePath)
      if (owned) e.unpersist(false)
    }
    s.read.parquet(path)
  }

  def labelPropagation(s: SparkSession, dir: String): DataFrame =
    lpaLabels(s, dir, lpaCap).orderBy("node")

  /** gr11/gr12's cost knob (the gr03 treatment): cap each node's
    * VOTING neighbors. Vacuous by default — the gate oracles replay
    * the uncapped fixpoint — and settable for scaled runs via
    * SPARK_GRAFT_LPA_CAP, where the trade graph's super-linear
    * densification (the r12-measured 4.2×/4.7× at 30× data) is traded
    * against vote completeness. Cap-sensitivity measurements live in
    * BASELINE.md next to gr03's. */
  private def lpaCap: Int = sys.env.get("SPARK_GRAFT_LPA_CAP")
    .map(_.trim.toInt).getOrElse(Int.MaxValue)

  /** Keep each dst's `cap` incoming neighbors, lowest (src degree,
    * src id) first — gr03's orientation rule: prefer LOW-degree
    * neighbors, which carry more community signal than hubs (a hub
    * reaches everyone; dropping its vote from saturated nodes barely
    * moves the plurality), and break ties by id so the capped edge
    * set — and with it the whole fixpoint — is deterministic. One
    * degree count + one per-dst top-cap pass, ONCE before the loop
    * (never per superstep); cost O(|E|) with a per-partition sort. */
  private[graft] def capNeighbors(e: DataFrame, cap: Int): DataFrame =
    if (cap == Int.MaxValue) e
    else {
      val deg = e.groupBy(col("src").as("degnode"))
        .agg(count(lit(1)).as("src_deg"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("dst").orderBy(col("src_deg"), col("src"))
      e.join(deg, col("src") === col("degnode"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= cap)
        .select(col("src"), col("dst"))
    }

  /** The LPA superstep loop on an arbitrary (src, dst) edge frame —
    * split out so the spec can pin the closed-form fixpoint on a
    * constructed graph. `cap` (default ∞ = vacuous) bounds each
    * node's voting in-neighbors via [[capNeighbors]]; label SEEDING
    * always reads the full frame, so a capped run still labels every
    * node. */
  private[graft] def lpaOnEdges(e: DataFrame, rounds: Int,
      cap: Int = Int.MaxValue): DataFrame = {
    // capped once, materialized once; the loop then joins the capped
    // frame every superstep (cap=∞ keeps the caller's persisted frame)
    val votes =
      if (cap == Int.MaxValue) e
      else capNeighbors(e, cap).localCheckpoint()
    // seed from BOTH endpoints so a non-symmetric edge frame cannot
    // silently drop sink-only nodes (identical on the symmetric trade
    // graph, where src and dst node sets coincide)
    var labels = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node"))).distinct()
      .select(col("node"), col("node").as("lab"))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      // one exchange per superstep: clustering by dst alone satisfies
      // BOTH downstream aggs ((dst, lab) counts and the per-dst
      // argmax — HashPartitioning(dst) ⊆ both clusterings), so the
      // per-(dst,lab) count and the plurality pick run exchange-free
      // on top of it. The labels join broadcasts at gate scale, but
      // the labels frame is NODE-sized — at 100× it exceeds any
      // broadcast threshold and Spark correctly degrades it to a
      // shuffle join on src/node; that fallback is the intended shape
      // (one extra exchange of the node-sized side, never the edges)
      val counts = votes.join(labels, col("src") === col("node"))
        .repartition(col("dst"))
        .groupBy(col("dst"), col("lab")).agg(count(lit(1)).as("c"))
      // plurality with min-label tie-break: max over (count, −label)
      val picked = counts.groupBy("dst")
        .agg(max(struct(col("c"), (-col("lab")).as("nl"))).as("m"))
        .select(col("dst"), (-col("m.nl")).as("newlab"))
      labels = labels
        .join(picked, col("node") === col("dst"), "left")
        .select(col("node"),
          coalesce(col("newlab"), col("lab")).as("lab"))
        .localCheckpoint()
    }
    labels.orderBy("node").select(col("node"), col("lab").as("community"))
  }

  /** The LPA WITH-clause body (edges + 3 unrolled rounds ending at
    * `r3(node, lab)`) — shared between gr11's oracle and gr12's. */
  private val lpaCtes: String = {
    def round(prev: String, out: String): String = s"""
    c_$out AS (
      SELECT e.dst AS node, p.lab AS lab, count(*) AS c
      FROM edges e JOIN $prev p ON e.src = p.node
      GROUP BY 1, 2),
    p_$out AS (
      SELECT node, lab FROM (
        SELECT node, lab, row_number() OVER (PARTITION BY node
          ORDER BY c DESC, lab) AS rn
        FROM c_$out)
      WHERE rn = 1),
    $out AS (
      SELECT q.node, COALESCE(p.lab, q.lab) AS lab
      FROM $prev q LEFT JOIN p_$out p ON q.node = p.node)"""
    s"""pairs AS (
      SELECT DISTINCT l.l_suppkey AS supp,
        o.o_custkey + $CustOffset AS cust
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    edges AS (
      SELECT supp AS src, cust AS dst FROM pairs
      UNION ALL
      SELECT cust AS src, supp AS dst FROM pairs),
    r0 AS (SELECT DISTINCT src AS node, src AS lab FROM edges),
    ${round("r0", "r1")},
    ${round("r1", "r2")},
    ${round("r2", "r3")}"""
  }

  val labelPropagationSql: String = s"""
    WITH $lpaCtes
    SELECT node, lab AS community FROM r3 ORDER BY node"""

  /** gr12 — modularity audit of gr11's communities, in EXACT integers
    * (the quality score a community-detection pass is judged by,
    * emitted per community so a bad partition is attributable). With
    * the DIRECTED edge list (both directions, so |edges| = 2m), the
    * per-community Newman modularity term e_c/m − (d_c/2m)² scales to
    * the integer q_contrib_scaled = 2m·E2_c − D_c², where E2_c =
    * directed intra-community edges and D_c = Σ out-degrees — total
    * modularity Q = Σ_c contrib / (2m)². All counts are integers, so
    * DuckDB replays the LPA fixpoint AND the audit bit-exactly
    * (int64 holds to ~sf100; beyond that the same integers route
    * through DECIMAL(38)).
    *
    * Scale shape: labels come from the gr11 loop (its cost profile);
    * the audit itself is two label lookups on the edge list (at 100 TB
    * the label table is node-sized — shuffle-join by node id, or
    * broadcast below ~10 GB) + one per-community count and one
    * per-community degree sum, both map-side partial-aggregated. */
  def modularity(s: SparkSession, dir: String): DataFrame = {
    // labels come from the per-(app, dir, cap) memo gr11 shares —
    // the suite must not run the 3-superstep loop twice; on a cold
    // memo the checkpointed audit edges feed the LPA build too, so
    // a standalone gr12 builds the edge list exactly once
    val e = edges(s, dir).localCheckpoint()
    modularityAudit(e, lpaLabels(s, dir, lpaCap, Some(e)))
  }

  /** The audit on an arbitrary edge frame — spec hook (closed-form
    * two-triangle fixture in Round12bSpec). `cap` bounds the LPA
    * loop's voting neighbors only; the modularity AUDIT always scans
    * the full edge list (one linear pass — Q is a property of the
    * real graph, whatever knob produced the labels). */
  private[graft] def modularityOnEdges(eIn: DataFrame,
      rounds: Int, cap: Int = Int.MaxValue): DataFrame = {
    // localCheckpoint, not persist: the RETURNED frame still scans the
    // edge list three times (m2/dc/e2), so an unpersist here would
    // re-derive the join+distinct edge build per scan — the gr01
    // release pattern only works when the returned frame no longer
    // references the cache. The checkpoint materializes edges once
    // and the audit scans read its blocks.
    val e = eIn.localCheckpoint()
    modularityAudit(e, lpaOnEdges(e, rounds, cap))
  }

  /** The exact-integer Newman audit over a materialized edge frame
    * and a given community labeling. */
  private def modularityAudit(e: DataFrame, labIn: DataFrame)
      : DataFrame = {
    val lab = labIn.select(col("node"), col("community"))
    val m2 = e.agg(count(lit(1)).as("m2"))
    val dc = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .join(lab.withColumnRenamed("node", "src"), Seq("src"))
      .groupBy("community").agg(sum(col("outdeg")).as("d_c"))
    val e2 = e
      .join(lab.select(col("node").as("src"),
        col("community").as("c_src")), Seq("src"))
      .join(lab.select(col("node").as("dst"),
        col("community").as("c_dst")), Seq("dst"))
      .filter(col("c_src") === col("c_dst"))
      .groupBy(col("c_src").as("community"))
      .agg(count(lit(1)).as("e2_c"))
    val out = dc.join(e2, Seq("community"), "left")
      .crossJoin(broadcast(m2))
      .select(col("community"),
        coalesce(col("e2_c"), lit(0L)).as("e2_c"), col("d_c"),
        (col("m2") * coalesce(col("e2_c"), lit(0L)) -
          col("d_c") * col("d_c")).as("q_contrib_scaled"))
      .orderBy("community")
    out
  }

  val modularitySql: String = s"""
    WITH $lpaCtes,
    m2 AS (SELECT count(*) AS m2 FROM edges),
    dc AS (
      SELECT r3.lab AS community, count(*) AS d_c
      FROM edges e JOIN r3 ON e.src = r3.node
      GROUP BY 1),
    e2 AS (
      SELECT a.lab AS community, count(*) AS e2_c
      FROM edges e
      JOIN r3 a ON e.src = a.node
      JOIN r3 b ON e.dst = b.node
      WHERE a.lab = b.lab
      GROUP BY 1)
    SELECT dc.community,
      CAST(COALESCE(e2.e2_c, 0) AS BIGINT) AS e2_c,
      CAST(dc.d_c AS BIGINT) AS d_c,
      CAST(m2.m2 * COALESCE(e2.e2_c, 0) - dc.d_c * dc.d_c AS BIGINT)
        AS q_contrib_scaled
    FROM dc LEFT JOIN e2 USING (community) CROSS JOIN m2
    ORDER BY dc.community"""

  val all: Seq[(String, (SparkSession, String) => DataFrame,
    Option[String])] =
    Seq(("gr01_pagerank", pagerank _, Some(pagerankSql)),
      ("gr02_components", components _, Some(componentsSql)),
      ("gr03_triangles", triangles _, Some(trianglesSql)),
      ("gr04_dense_core", denseCore _, Some(denseCoreSql)),
      ("gr05_link_prediction", linkPrediction _, Some(linkPredictionSql)),
      ("gr06_bfs_hops", bfsHops _, Some(bfsHopsSql)),
      ("gr07_personalized_pagerank", personalizedPagerank _,
        Some(personalizedPagerankSql)),
      ("gr08_weighted_paths", weightedPaths _,
        Some(weightedPathsSql)),
      ("gr09_khop_features", khopFeatures _,
        Some(khopFeaturesSql)),
      ("gr10_ktruss", ktruss _, Some(ktrussSql)),
      ("gr11_label_propagation", labelPropagation _,
        Some(labelPropagationSql)),
      ("gr12_modularity", modularity _, Some(modularitySql)))
}
