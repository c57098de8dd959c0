package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.types.BinaryType

/** The optimizer's statistics catalog — the driver-side registry the
  * [[CboReorder]] rule reads. Entries are keyed by a table's storage
  * path (the one identity a parquet scan carries in the logical plan)
  * and hold exactly the artifacts the engine's ANALYZE pass persists:
  * the exact row count, a KMV distinct-value sketch per join column,
  * and a GK rank histogram per predicate column. Population happens
  * FROM the stored ANALYZE parquet
  * ([[graft.queries.Sketches.analyzeForCbo]]) — the catalog is a
  * cache of the stored artifact, never a side computation, so the
  * planner's inputs are exactly what a production deployment would
  * read from its metastore. */
object CboCatalog {

  /** One analyzed table: exact count + per-column sketch states +
    * the file-listing fingerprint of the table AS ANALYZED. An empty
    * fingerprint disables the staleness check (not recommended —
    * stale statistics are the classic CBO failure mode; sk13 pins
    * the guard). */
  case class TableStats(
      table: String,
      n: Long,
      kmv: Map[String, Array[Long]],
      gk: Map[String, Array[Byte]],
      fingerprint: String = "")

  /** Listings performed since JVM start — the observable the sk12
    * audit and Round15Spec read to pin "one listing per table per
    * rule application" (the per-apply memo in [[CboReorder.apply]])
    * and "zero listings when the rule is off". */
  val fingerprintCalls = new java.util.concurrent.atomic.AtomicLong(0)

  /** Content fingerprint of a table directory — the commit marker the
    * staleness guard compares against the one stored at ANALYZE time.
    * Three cases, cheapest first:
    *  - a versioned table root (this engine's q45/q46 layout:
    *    `meta/` pointer + `deltas/v=N` log): the fingerprint is the
    *    meta-pointer listing plus the set of PUBLISHED delta version
    *    names — the table's actual commit id, O(#versions) not
    *    O(#files), and every commit/compaction changes it by
    *    construction;
    *  - a single parquet file: its (name, length, mtime, fileKey);
    *  - a plain directory: the RECURSIVE sorted listing of data files
    *    as (relative path, length, mtimeNanos, fileKey). Recursion
    *    matters — a hive-partitioned table keeps its data in
    *    partition subdirectories, so a top-level-only listing would
    *    be empty and the guard silently vacuous. The fileKey (inode)
    *    + nanosecond mtime close the classic alias: a same-size
    *    rewrite landing within one coarse mtime tick still changes
    *    the inode (any stage-and-rename writer, which is every
    *    committer this engine ships) or the ns timestamp.
    * Any append, rewrite, or compaction since ANALYZE changes the
    * fingerprint, which [[CboReorder]] treats as "stats unknown" —
    * the optimizer must never plan from numbers the table has
    * outgrown (correctness is never at stake, only plan quality, but
    * a confidently-wrong broadcast of a table that has since grown
    * 100× is exactly the production incident this guard exists for).
    * On a real metastore this is the table's snapshot/commit id; on a
    * filesystem these are the next best commit markers. */
  def fingerprintOf(path: String): String = {
    fingerprintCalls.incrementAndGet()
    val root = new java.io.File(path)
    def entryOf(f: java.io.File, rel: String): String = {
      val (mtime, key) =
        try {
          val at = java.nio.file.Files.readAttributes(f.toPath,
            classOf[java.nio.file.attribute.BasicFileAttributes])
          (at.lastModifiedTime().to(
            java.util.concurrent.TimeUnit.NANOSECONDS),
            Option(at.fileKey()).map(_.toString).getOrElse(""))
        } catch { case _: java.io.IOException =>
          (f.lastModified() * 1000000L, "")
        }
      s"$rel:${f.length()}:$mtime:$key"
    }
    val meta = new java.io.File(root, "meta")
    val deltas = new java.io.File(root, "deltas")
    val files: Array[String] =
      if (root.isFile) Array(entryOf(root, root.getName))
      else if (meta.isDirectory && deltas.isDirectory) {
        // versioned root: commit pointer + published version names
        val metaFiles = Option(meta.listFiles()).getOrElse(Array.empty)
          .filter(_.isFile).map(f => entryOf(f, s"meta/${f.getName}"))
        val published = Option(deltas.listFiles())
          .getOrElse(Array.empty)
          .filter(d => d.isDirectory &&
            new java.io.File(d, "_SUCCESS").exists())
          .map(d => s"deltas/${d.getName}")
        (metaFiles ++ published).sorted
      } else {
        val out = scala.collection.mutable.ArrayBuffer[String]()
        def walk(dir: java.io.File, prefix: String): Unit =
          Option(dir.listFiles()).getOrElse(Array.empty).foreach { f =>
            val name = f.getName
            if (!name.startsWith("_") && !name.startsWith(".")) {
              if (f.isFile) out += entryOf(f, prefix + name)
              else if (f.isDirectory) walk(f, s"$prefix$name/")
            }
          }
        walk(root, "")
        out.toArray.sorted
      }
    java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.arrayHash(files).toLong)
  }

  private val byPath = new ConcurrentHashMap[String, TableStats]()

  /** Scheme-insensitive path key: `file:/x/y` and `/x/y` are the
    * same table. */
  private[plans] def norm(path: String): String =
    (try {
      Option(new java.net.URI(path).getPath).getOrElse(path)
    } catch { case _: java.net.URISyntaxException => path })
      .stripSuffix("/")

  def register(path: String, st: TableStats): Unit = {
    byPath.put(norm(path), st); ()
  }

  def lookup(path: String): Option[TableStats] =
    Option(byPath.get(norm(path)))

  def clear(): Unit = byPath.clear()

  /** Session flag gating [[CboReorder]]; the rule is additionally
    * inert for any join whose legs are not all analyzed. */
  val EnabledKey = "spark.graft.cbo.enabled"
}

/** Stats-driven join order + strategy selection, applied INSIDE the
  * optimizer — the closing of the engine's CBO loop. sk05–sk11 built
  * and audited the decisions (selectivity from stored GK histograms,
  * join cardinality from stored KMV sketches, order from the smaller
  * estimated intermediate, broadcast-vs-shuffle from the row cap);
  * this rule makes the same decisions CHANGE the plan of a query the
  * user wrote with no hints, the way a real engine's statistics do.
  *
  * Scope (deliberately narrow, the shape the decision theory covers):
  * a left-deep pair of hint-free INNER equi-joins over three scans of
  * ANALYZED tables, each leg a Project/Filter stack over one parquet
  * relation. For the matched shape the rule
  *  1. estimates each leg's post-filter cardinality from the stored
  *     GK histogram (rank(hi) − rank(lo), the sk09 readout;
  *     unrecognized predicates contribute selectivity 1 — an
  *     overestimate can only make the rule more conservative),
  *  2. estimates both candidate first-join cardinalities with the
  *     sk05 KMV product form scaled by leg selectivities (sk10/sk11),
  *  3. rotates the join tree iff the alternative first join is
  *     strictly smaller, and
  *  4. pins every join's strategy via an explicit [[JoinHint]] —
  *     BROADCAST on the side the sk08 row cap chooses, SHUFFLE_MERGE
  *     otherwise — so the executed plan is the decided plan
  *     regardless of size-threshold configs.
  * A rewritten tree is wrapped in a Project restoring the original
  * output, and carries non-empty hints — which the match guard
  * rejects, so the rule is idempotent under the optimizer's
  * fixed-point driver. Joins with existing hints are the user's to
  * keep; the rule never overrides them.
  *
  * Cluster registration: `spark.sql.extensions=graft.GraftExtensions`
  * (injected as a pre-CBO rule — after operator optimization, in the
  * slot Spark reserves for exactly this); for an already-built
  * session, call [[CboReorder.install]].
  * sk12_cbo_applied is the gate: executed-plan equality with the
  * sk11-audited decision, with a rule-off run proving the rule is
  * load-bearing. */
object CboReorder extends Rule[LogicalPlan] with PredicateHelper {
  import CboCatalog._

  private def cap: Long = graft.queries.Sketches.BroadcastRowCap

  /** Idempotently activate the rule on a session built without
    * [[graft.GraftExtensions]] (tests, foreign notebooks). Harmless
    * when the extension slot already runs it: a decided tree carries
    * hints, which the rule's match guard rejects. */
  def install(spark: org.apache.spark.sql.SparkSession): Unit =
    synchronized {
      if (!spark.experimental.extraOptimizations.contains(this))
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+ this
    }

  /** One analyzed leg: its full subtree (Projects/Filters intact),
    * the catalog entry behind it, and the estimated post-filter row
    * count. */
  private case class Leg(plan: LogicalPlan, stats: TableStats,
      estRows: Double) {
    def sel: Double = if (stats.n == 0) 1.0 else estRows / stats.n
  }

  private def stripCast(e: Expression): Expression = e match {
    case c: Cast => stripCast(c.child)
    case other => other
  }

  private def litDouble(e: Expression): Option[Double] = e match {
    case Literal(v, _) => v match {
      case d: Double => Some(d)
      case f: Float => Some(f.toDouble)
      case i: Int => Some(i.toDouble)
      case l: Long => Some(l.toDouble)
      case s: Short => Some(s.toDouble)
      case b: Byte => Some(b.toDouble)
      case d: org.apache.spark.sql.types.Decimal => Some(d.toDouble)
      case _ => None
    }
    case _ => None
  }

  private def rankOf(state: Array[Byte], v: Double): Double =
    graft.expr.GkRank(Literal(state, BinaryType), Literal(v))
      .eval(null) match {
      case d: Double => d
      case _ => 0.0
    }

  /** Estimated fraction of rows a conjunction keeps, from the stored
    * GK histograms: recognized range predicates turn into CDF
    * readouts; anything else (IsNotNull, unknown shapes, columns
    * without a histogram) contributes 1.0. */
  private def selectivity(st: TableStats, conds: Seq[Expression])
      : Double = {
    val lo = scala.collection.mutable.Map[String, Double]()
    val hi = scala.collection.mutable.Map[String, Double]()
    def attrOf(e: Expression): Option[String] = stripCast(e) match {
      case a: Attribute => Some(a.name)
      case _ => None
    }
    def tighten(m: scala.collection.mutable.Map[String, Double],
        a: String, v: Double, takeMax: Boolean): Unit = {
      val cur = m.get(a)
      m(a) = cur match {
        case Some(c) => if (takeMax) math.max(c, v) else math.min(c, v)
        case None => v
      }
    }
    conds.foreach { c =>
      (c match {
        case GreaterThan(l, r) => Some((l, r, true))
        case GreaterThanOrEqual(l, r) => Some((l, r, true))
        case LessThan(l, r) => Some((l, r, false))
        case LessThanOrEqual(l, r) => Some((l, r, false))
        case _ => None
      }) match {
        case Some((l, r, isLower)) =>
          (attrOf(l), litDouble(r), attrOf(r), litDouble(l)) match {
            case (Some(a), Some(v), _, _) => // attr OP lit
              tighten(if (isLower) lo else hi, a, v, takeMax = isLower)
            case (_, _, Some(a), Some(v)) => // lit OP attr (flipped)
              tighten(if (isLower) hi else lo, a, v, takeMax = !isLower)
            case _ => ()
          }
        case None => ()
      }
    }
    (lo.keySet ++ hi.keySet).foldLeft(1.0) { (acc, a) =>
      st.gk.get(a) match {
        case Some(state) if st.n > 0 =>
          val rh = hi.get(a).map(rankOf(state, _))
            .getOrElse(st.n.toDouble)
          val rl = lo.get(a).map(rankOf(state, _)).getOrElse(0.0)
          acc * math.min(1.0, math.max(0.0, (rh - rl) / st.n))
        case _ => acc
      }
    }
  }

  /** Peel a leg down to its single analyzed parquet relation,
    * collecting Filter conjuncts on the way; None when the leg is
    * anything else (another join, an unanalyzed table, a non-file
    * source) — the rule then leaves the whole tree alone. `fp` is the
    * per-apply memoized fingerprint reader: a table referenced by
    * several legs (or several joins) of one plan is listed exactly
    * once per rule application, never once per leg. */
  private def legOf(p: LogicalPlan,
      fp: String => String): Option[Leg] = {
    @scala.annotation.tailrec
    def peel(cur: LogicalPlan, conds: Seq[Expression])
        : (LogicalPlan, Seq[Expression]) = cur match {
      case Project(_, child) => peel(child, conds)
      case Filter(cond, child) =>
        peel(child, conds ++ splitConjunctivePredicates(cond))
      case other => (other, conds)
    }
    val (base, conds) = peel(p, Seq.empty)
    base match {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.toSeq match {
            case Seq(single) =>
              lookup(single.toString)
                // staleness guard: a catalog entry whose fingerprint
                // no longer matches the table's current files is NOT
                // stats — the rule goes inert for this tree rather
                // than plan from numbers the table has outgrown
                // (sk13 pins fire → stale-skip → re-analyze → fire)
                .filter(st => st.fingerprint.isEmpty ||
                  st.fingerprint == fp(
                    CboCatalog.norm(single.toString)))
                .map(st => Leg(p, st, st.n * selectivity(st, conds)))
            case _ => None
          }
        case _ => None
      }
      case _ => None
    }
  }

  private def eqKeys(cond: Expression): Option[(Attribute, Attribute)] =
    cond match {
      case EqualTo(l, r) => (stripCast(l), stripCast(r)) match {
        case (a: Attribute, b: Attribute) => Some((a, b))
        case _ => None
      }
      case _ => None
    }

  /** The sk05 product-form join estimate between two analyzed legs,
    * scaled by both legs' filter selectivities (sk11's composition);
    * None when either join column lacks a stored KMV sketch. */
  private def estPair(a: Leg, ka: Attribute, b: Leg, kb: Attribute)
      : Option[Double] =
    for {
      skA <- a.stats.kmv.get(ka.name)
      skB <- b.stats.kmv.get(kb.name)
    } yield graft.queries.Sketches.estJoinFromStats(
      a.stats.n, skA, b.stats.n, skB) * a.sel * b.sel

  /** The sk08 cap rule as a [[JoinHint]]: broadcast the smaller side
    * when it clears the row cap, pin shuffle-merge otherwise (so the
    * decided strategy executes regardless of auto-broadcast
    * thresholds). Ties broadcast the left side, matching capRule. */
  private def pairHint(estL: Double, estR: Double): JoinHint = {
    val bc = HintInfo(strategy = Some(BROADCAST))
    val smj = HintInfo(strategy = Some(SHUFFLE_MERGE))
    if (math.min(estL, estR) <= cap) {
      if (estL <= estR) JoinHint(Some(bc), None)
      else JoinHint(None, Some(bc))
    } else JoinHint(Some(smj), None)
  }

  private def rewrite(j: Join, innerJoin: Join, rotatable: Boolean,
      outerRight: LogicalPlan, outerCond: Expression,
      fp: String => String): Option[LogicalPlan] =
    for {
      innerCond <- innerJoin.condition
      if innerJoin.joinType == Inner && innerJoin.hint == JoinHint.NONE
      (ia, ib) <- eqKeys(innerCond)
      (oa, ob) <- eqKeys(outerCond)
      legA <- legOf(innerJoin.left, fp)
      legB <- legOf(innerJoin.right, fp)
      legC <- legOf(outerRight, fp)
      // resolve which attribute of the outer condition lives in C and
      // which in the middle leg (A or B)
      (cKey, midKey) <- {
        val cOut = outerRight.outputSet
        if (cOut.contains(oa) && !cOut.contains(ob)) Some((oa, ob))
        else if (cOut.contains(ob) && !cOut.contains(oa)) Some((ob, oa))
        else None
      }
      // resolve each inner-condition attribute to its leg (the user
      // may have written either `a.k = b.k` or `b.k = a.k`)
      (kaA, kaB) <- {
        val aOut = innerJoin.left.outputSet
        val bOut = innerJoin.right.outputSet
        if (aOut.contains(ia) && bOut.contains(ib)) Some((ia, ib))
        else if (aOut.contains(ib) && bOut.contains(ia)) Some((ib, ia))
        else None
      }
      (midLeg, otherLeg) <- {
        if (innerJoin.left.outputSet.contains(midKey))
          Some((legA, legB))
        else if (innerJoin.right.outputSet.contains(midKey))
          Some((legB, legA))
        else None
      }
      estCurr <- estPair(legA, kaA, legB, kaB)
      estAlt <- estPair(midLeg, midKey, legC, cKey)
    } yield {
      if (estAlt < estCurr && rotatable) {
        // rotate: (mid ⋈ C) first, then the remaining leg
        val inner = Join(midLeg.plan, legC.plan, Inner, Some(outerCond),
          pairHint(midLeg.estRows, legC.estRows))
        val outer = Join(inner, otherLeg.plan, Inner, Some(innerCond),
          pairHint(estAlt, otherLeg.estRows))
        // restore the original output (the rotation dropped the
        // pruning mid-Project between the joins — `rotatable`
        // guarantees it carried no computed Alias, so every attribute
        // of j.output is produced by the rotated tree)
        Project(j.output, outer)
      } else {
        // keep the user's order; pin the decided strategies
        val inner = innerJoin.copy(
          hint = pairHint(legA.estRows, legB.estRows))
        val newLeft = j.left match {
          case p @ Project(_, _: Join) => p.copy(child = inner)
          case _ => inner
        }
        j.copy(left = newLeft,
          hint = pairHint(estCurr, legC.estRows))
      }
    }

  // ------------- N-table left-deep chain (sk14) -------------------

  /** One flattened left-deep inner chain: `legs` bottom-up (the
    * deepest left leg first), `conds(i)` the equi-condition that
    * joined `legs(i+1)` onto the chain. Only produced when every
    * join is hint-free INNER with a single equi-condition and every
    * mid-Project is pure attribute references (safe to drop — the
    * restoring Project re-prunes). */
  private def flattenChain(p: LogicalPlan)
      : Option[(Vector[LogicalPlan], Vector[Expression])] = p match {
    case Join(l, r, Inner, Some(cond), JoinHint.NONE) =>
      val under = l match {
        case ij @ Join(_, _, Inner, Some(_), JoinHint.NONE) => Some(ij)
        case Project(list, ij @ Join(_, _, Inner, Some(_),
            JoinHint.NONE))
          if list.forall(_.isInstanceOf[AttributeReference]) => Some(ij)
        case _ => None
      }
      under match {
        case Some(ij) => flattenChain(ij).map { case (legs, conds) =>
          (legs :+ r, conds :+ cond)
        }
        case None => Some((Vector(l, r), Vector(cond)))
      }
    case _ => None
  }

  /** Greedy stats-driven order for a left-deep chain of ≥3 inner
    * equi-joins (≥4 analyzed tables): start from the condition pair
    * with the smallest sk05 KMV estimate, then repeatedly attach the
    * connected leg with the smallest folded estimate
    * `estPair(inChain, next) × (estSoFar / estRows(inChain))` — the
    * cascaded product form sk11 audits pairwise, folded across the
    * chain. Strategies are pinned per join by the sk08 row cap, the
    * original output restored by one Project. Inert unless EVERY leg
    * is an analyzed, fingerprint-fresh scan — partial statistics
    * never reorder anything. The 2-join shape keeps the original
    * pair rewrite (byte-compatible with the sk12/sk13 oracles). */
  private def reorderChain(j: Join, fp: String => String)
      : Option[LogicalPlan] =
    for {
      (legPlans, conds) <- flattenChain(j)
      if legPlans.size >= 4
      legs <- {
        val ls = legPlans.map(p => legOf(p, fp))
        if (ls.forall(_.isDefined)) Some(ls.map(_.get)) else None
      }
      // each condition resolved to (legIdxA, keyA, legIdxB, keyB)
      edges <- {
        val es = conds.map { c =>
          eqKeys(c).flatMap { case (x, y) =>
            val ix = legPlans.indexWhere(_.outputSet.contains(x))
            val iy = legPlans.indexWhere(_.outputSet.contains(y))
            if (ix >= 0 && iy >= 0 && ix != iy)
              Some((c, ix, x, iy, y))
            else None
          }
        }
        if (es.forall(_.isDefined)) Some(es.map(_.get)) else None
      }
      plan <- greedyChain(j, legs, edges)
    } yield plan

  private def greedyChain(j: Join, legs: Vector[Leg],
      edges: Vector[(Expression, Int, Attribute, Int, Attribute)])
      : Option[LogicalPlan] = {
    // seed: the edge with the smallest pairwise estimate
    val seeded = edges.flatMap { case (c, ia, ka, ib, kb) =>
      estPair(legs(ia), ka, legs(ib), kb).map(e => (c, ia, ib, e))
    }
    if (seeded.size != edges.size) return None // a key lacks a sketch
    val (c0, i0, j0, est0) = seeded.minBy(_._4)
    var joined = Set(i0, j0)
    var tree: LogicalPlan = Join(legs(i0).plan, legs(j0).plan, Inner,
      Some(c0), pairHint(legs(i0).estRows, legs(j0).estRows))
    var estCur = est0
    var remaining = edges.filterNot(e => joined(e._2) && joined(e._4))
    while (joined.size < legs.size) {
      // candidate edges: one endpoint in the chain, one new
      val cands = remaining.flatMap { case (c, ia, ka, ib, kb) =>
        val inOut = if (joined(ia) && !joined(ib))
          Some((c, ia, ka, ib, kb))
        else if (joined(ib) && !joined(ia)) Some((c, ib, kb, ia, ka))
        else None
        inOut.flatMap { case (cc, iIn, kIn, iNew, kNew) =>
          estPair(legs(iIn), kIn, legs(iNew), kNew).map { pe =>
            val folded =
              if (legs(iIn).estRows > 0) pe * (estCur / legs(iIn).estRows)
              else pe
            (cc, iNew, folded)
          }
        }
      }
      if (cands.isEmpty) return None // disconnected / cross condition
      val (c, iNew, estNext) = cands.minBy(_._3)
      tree = Join(tree, legs(iNew).plan, Inner, Some(c),
        pairHint(estCur, legs(iNew).estRows))
      estCur = estNext
      joined += iNew
      remaining = remaining.filterNot(e => joined(e._2) && joined(e._4))
    }
    Some(Project(j.output, tree))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.getConfString(EnabledKey, "true").toBoolean) return plan
    // one directory listing per table per rule application, however
    // many legs/joins of this plan reference it (sk12's audit pins
    // the count); scoped to the apply call so a table mutated between
    // two optimizations is still re-read
    val fpMemo = scala.collection.mutable.HashMap[String, String]()
    val fp: String => String =
      path => fpMemo.getOrElseUpdate(path, fingerprintOf(path))
    plan.transform {
      case j @ Join(l, r, Inner, Some(outerCond), JoinHint.NONE) =>
        reorderChain(j, fp).getOrElse {
          (l match {
            case ij: Join => Some((ij, true))
            case Project(list, ij: Join) =>
              // a mid-Project of pure attribute references only
              // PRUNES — safe to drop under rotation (the restoring
              // Project re-prunes). One carrying a computed Alias
              // would leave j.output referencing an attribute the
              // rotated tree no longer produces (an unresolvable
              // plan), so such trees keep the user's join order and
              // only get strategy hints.
              Some((ij,
                list.forall(_.isInstanceOf[AttributeReference])))
            case _ => None
          }).flatMap { case (ij, rotatable) =>
            rewrite(j, ij, rotatable, r, outerCond, fp)
          }.getOrElse(j)
        }
      case j @ Join(l, r, LeftSemi | LeftAnti, Some(cond),
          JoinHint.NONE) =>
        // semi/anti legs (the q04/q05 shapes): the build side is the
        // RIGHT leg by construction, so the sk08 cap decides between
        // broadcasting it and pinning shuffle-merge. Both legs must
        // be analyzed and fresh — the estimate discipline is the same
        // as for inner joins.
        (for {
          _ <- eqKeys(cond)
          _ <- legOf(l, fp)
          legR <- legOf(r, fp)
        } yield {
          val strat =
            if (legR.estRows <= cap) BROADCAST else SHUFFLE_MERGE
          j.copy(hint = JoinHint(None,
            Some(HintInfo(strategy = Some(strat)))))
        }).getOrElse(j)
    }
  }
}
