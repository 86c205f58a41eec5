package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, Expression, ExprId, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graft.PlanBridge

/** Materialized-view auto-rewrite (the IVM serving loop closed
  * end-to-end): a query that recomputes a registered aggregate from
  * scratch is rewritten by the optimizer to probe the incrementally
  * maintained store instead — the 100 TB answer to repeated dashboard
  * aggregates over an append-heavy fact log. The engine already KEEPS
  * such stores fresh ([[graft.streaming.RollupMaintenance]] republishes
  * only changed (hour, type) partitions per micro-batch / delta
  * merge); this rule is what makes a plain user query benefit without
  * targeting the store explicitly.
  *
  * Matching is plan-shape equality, not SQL-text equality: a view is
  * registered with its FROM-SCRATCH DataFrame, whose optimized plan is
  * captured with every file-source leaf replaced by a schema-only
  * placeholder, then canonicalized (exprIds/aliases normalized). A
  * candidate subtree matches when its leaf-normalized canonical form
  * AND its file-source roots both equal the registered view's — so the
  * same aggregate over a DIFFERENT dataset dir never false-serves, and
  * any semantically different aggregate (extra filter, other grouping)
  * differs structurally and is left alone.
  *
  * Staleness gating: the rewrite fires only while the store is FRESH —
  * every source root's latest file mtime must be ≤ the store's
  * publish time (its manifest's mtime). An append to the source flips
  * the gate off (queries silently fall back to the from-scratch scan —
  * correctness never depends on the store);
  * the next maintenance cycle ([[graft.streaming.RollupMaintenance.mergeDelta]]
  * or the streaming maintainer) flips it back on. File mtimes are the
  * local-FS stand-in for a catalog high-watermark stamp; the check is
  * a driver-side directory listing, bounded by file count, done once
  * per optimization.
  *
  * Substitution keeps the matched node's output attribute ids (each
  * store column is aliased to the old exprId), so nothing above the
  * rewritten subtree re-resolves; if the store's columns cannot be
  * aligned by name and exact type, the rule declines rather than
  * casts — a wrong store layout must never silently serve.
  *
  * The rewrite's losslessness is hash-gated: `q_rollup_served` runs
  * the UNREWRITTEN from-scratch query code with this rule installed,
  * and its DuckDB oracle recomputes the aggregate from the raw events
  * — a store/rewrite mismatch fails the round gate.
  */
object MatViewRewriteRule extends Rule[LogicalPlan] {

  /** A registered serveable view: the leaf-normalized canonical shape
    * of its from-scratch plan, the file roots that plan reads, the
    * store directory, and how to read the store back in the
    * from-scratch output shape. `coarse` (when the view's plan is a
    * single filter/project/aggregate pyramid over one file scan)
    * additionally enables ROLL-UP serving — see [[CoarseView]]. */
  final case class ServedView(
      storeDir: String,
      sourceRoots: Set[String],
      shape: LogicalPlan,
      readStore: SparkSession => DataFrame,
      coarse: Option[CoarseView] = None)

  /** The roll-up (aggregate-coarsening) face of a registered view —
    * what makes `GROUP BY event_type` serve from an (hour, type)
    * store without the user targeting the store: a COARSER aggregate
    * over the same scan re-aggregates the view's stored partial
    * aggregates instead of the raw data, the classic SPJ-G
    * materialized-view rewrite restricted to the provably-lossless
    * class:
    *
    *   - the candidate's grouping exprs are a SUBSET of the view's
    *     (each must surface by name in the store);
    *   - every candidate aggregate is re-aggregable from a stored
    *     one: COUNT → SUM(stored count), SUM → SUM(stored sum),
    *     MIN → MIN, MAX → MAX — matched on the same UNDERLYING input
    *     expression over the scan, never by name;
    *   - the candidate's filter residue EQUALS the view's (set of
    *     conjuncts over scan columns). This is load-bearing: the
    *     hourly view's window expansion plants `isnotnull(ts)`, so
    *     its store is blind to null-ts rows — a coarse query without
    *     the same filter would be silently undercounted if served.
    *
    * All expressions are compared position-normalized against the
    * scan's column order and canonicalized, so exprId churn between
    * independently built queries can't defeat the match. */
  final case class CoarseView(
      scanSchema: Seq[(String, org.apache.spark.sql.types.DataType)],
      filtersNorm: Set[Expression],
      // normalized grouping expr -> store column name
      groupMap: Seq[(Expression, String)],
      // (agg function class, normalized inputs, distinct) -> store col
      aggMap: Seq[((Class[_], Seq[Expression]), String)])

  // Bounded + clearable through the shared registry so invariance
  // tests that BuildOnce.clearAll() between runs also drop served
  // views (a stale registration must not leak across test sessions).
  private val views = graft.ops.BuildOnce.memo[String, ServedView]()

  // register() optimizes the from-scratch frame to capture its shape;
  // this rule must not fire on that very optimization (it would
  // capture the store-read shape and then serve store reads to
  // themselves forever after).
  private val capturing = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  /** Register (or refresh) a serveable view. `fromScratch` is the
    * canonical dashboard query over the raw source; `readStore` must
    * return the SAME columns (names and types) as `fromScratch`. */
  def register(fromScratch: DataFrame, storeDir: String,
      readStore: SparkSession => DataFrame): Unit = {
    capturing.set(true)
    try {
      val opt = fromScratch.queryExecution.optimizedPlan
      val roots = sourceRoots(opt)
      require(roots.nonEmpty,
        "from-scratch view query reads no file source — nothing to gate freshness on")
      if (views.size >= graft.ops.BuildOnce.MemoMaxEntries &&
        !views.contains(storeDir)) views.clear()
      views.update(storeDir,
        ServedView(storeDir, roots, leafNormalized(opt), readStore,
          captureCoarse(opt)))
    } finally capturing.set(false)
  }

  /** Test hook: drop one registration. */
  def deregister(storeDir: String): Unit = views.remove(storeDir)

  /** Every file-source root path read by a plan. */
  private def sourceRoots(p: LogicalPlan): Set[String] = p.collect {
    case lr: LogicalRelation => lr.relation match {
      case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
      case _ => Seq.empty[String]
    }
  }.flatten.toSet

  /** Structural fingerprint: file leaves → schema-only placeholders,
    * then Catalyst canonicalization (normalizes exprIds/aliases). Two
    * independently built reads of the same parquet dir produce
    * different relation instances; the placeholder makes the shapes
    * comparable while [[sourceRoots]] separately pins WHICH files. */
  private def leafNormalized(p: LogicalPlan): LogicalPlan =
    p.transformUp {
      case lr: LogicalRelation => LocalRelation(lr.output)
    }.canonicalized

  // ---------------------------------------------------------------
  // Roll-up (coarsening) machinery
  // ---------------------------------------------------------------

  /** Decompose a Project/Filter pyramid over ONE file scan into
    * (scan, filter conjuncts inlined to scan attrs, inliner). Returns
    * None on any other node — the conservative boundary of the
    * rewrite: a shape we can't fully account for is never served. */
  private def decompose(p: LogicalPlan)
      : Option[(LogicalRelation, Seq[Expression], Expression => Expression)] = {
    var aliases = Map.empty[ExprId, Expression]
    var filters = Vector.empty[Expression]
    def inline(e: Expression): Expression = e.transformUp {
      case a: AttributeReference if aliases.contains(a.exprId) =>
        aliases(a.exprId)
    }
    def splitAnd(e: Expression): Seq[Expression] = e match {
      case And(l, r) => splitAnd(l) ++ splitAnd(r)
      case o => Seq(o)
    }
    def walk(q: LogicalPlan): Option[LogicalRelation] = q match {
      case Project(ps, c) =>
        walk(c).map { scan =>
          ps.foreach {
            case al: Alias => aliases += al.exprId -> inline(al.child)
            case _ => ()
          }
          scan
        }
      case Filter(cond, c) =>
        walk(c).map { scan => filters ++= splitAnd(inline(cond)); scan }
      case lr: LogicalRelation => Some(lr)
      case _ => None
    }
    walk(p).map(scan => (scan, filters, inline))
  }

  /** Position-normalize an expression against the scan's column order
    * (exprIds regenerate per query build; positions don't), then
    * canonicalize. Returns None when the expr reaches an attribute
    * outside the scan — such an expr can never be matched safely. */
  private def posNorm(e: Expression, scanOut: Seq[Attribute])
      : Option[Expression] = {
    var ok = true
    val n = e.transform {
      case a: AttributeReference =>
        val i = scanOut.indexWhere(_.exprId == a.exprId)
        if (i < 0) { ok = false; a }
        else AttributeReference(s"_c$i", a.dataType, a.nullable)(
          ExprId(i), Nil)
    }
    if (ok) Some(n.canonicalized) else None
  }

  /** Capture the roll-up face of a view plan: exactly one Aggregate
    * over a decomposable pyramid, groupings/aggregates that surface
    * by name in the view's final output. Anything else → None (the
    * exact-shape path still serves). */
  private def captureCoarse(viewPlan: LogicalPlan): Option[CoarseView] = {
    viewPlan.collect { case a: Aggregate => a } match {
      case Seq(agg) =>
        decompose(agg.child).flatMap { case (scan, filters, inline) =>
          val finalByExprId = viewPlan.output.map(a => a.exprId -> a.name).toMap
          val filtersNorm = filters.flatMap(posNorm(_, scan.output)).toSet
          if (filtersNorm.size != filters.size) None
          else {
            // grouping expr -> final output name, where the grouping's
            // aggregate-output attribute itself reaches the final output
            val groupMap = agg.aggregateExpressions.collect {
              case a: AttributeReference if finalByExprId.contains(a.exprId)
                  && agg.groupingExpressions.exists(_.semanticEquals(a)) =>
                posNorm(inline(a), scan.output)
                  .map(_ -> finalByExprId(a.exprId))
            }.flatten
            val aggMap = agg.aggregateExpressions.collect {
              case al @ Alias(ae: AggregateExpression, _)
                  if finalByExprId.contains(al.exprId) && !ae.isDistinct &&
                    ae.filter.isEmpty &&
                    reAggregable(ae.aggregateFunction.getClass) =>
                val ins = ae.aggregateFunction.children
                  .map(c => posNorm(inline(c), scan.output))
                if (ins.forall(_.isDefined))
                  Some(((ae.aggregateFunction.getClass: Class[_],
                    ins.flatten), finalByExprId(al.exprId)))
                else None
            }.flatten
            if (groupMap.isEmpty && aggMap.isEmpty) None
            else Some(CoarseView(
              scan.output.map(a => a.name -> a.dataType),
              filtersNorm, groupMap, aggMap))
          }
        }
      case _ => None
    }
  }

  private def reAggregable(c: Class[_]): Boolean =
    c == classOf[Count] || c == classOf[Sum] ||
      c == classOf[Min] || c == classOf[Max]

  /** Attempt the roll-up rewrite of a candidate Aggregate onto a
    * registered view's store. Every decline path returns None and the
    * candidate keeps its from-scratch plan. */
  private def tryCoarse(p: Aggregate): Option[LogicalPlan] = {
    val roots = sourceRoots(p)
    views.values.view.filter(v => v.coarse.isDefined &&
        v.sourceRoots == roots && isFresh(v))
      .flatMap { v => serveCoarse(p, v) }.headOption
  }

  private def serveCoarse(p: Aggregate, v: ServedView): Option[LogicalPlan] = {
    val cv = v.coarse.get
    decompose(p.child).flatMap { case (scan, filters, inline) =>
      val sameScan =
        scan.output.map(a => a.name -> a.dataType) == cv.scanSchema
      val filtersNorm = filters.flatMap(posNorm(_, scan.output)).toSet
      if (!sameScan || filtersNorm != cv.filtersNorm ||
          filtersNorm.size != filters.size) None
      else {
        val store = PlanBridge.analyzed(v.readStore(SparkSession.active))
        val byName = store.output.map(a => a.name -> a).toMap
        // every candidate grouping must map to a stored grouping col
        val groupCols: Option[Seq[Attribute]] =
          p.groupingExpressions.foldLeft(Option(Vector.empty[Attribute])) {
            (acc, g) => acc.flatMap { cols =>
              posNorm(inline(g), scan.output).flatMap { gn =>
                cv.groupMap.find(_._1 == gn).map(_._2)
                  .flatMap(byName.get)
                  .filter(_.dataType == g.dataType)
                  .map(cols :+ _)
              }
            }
          }
        // every output expr must be a grouping passthrough or a
        // re-aggregable function of a stored aggregate
        val aggExprs: Option[Seq[NamedExpression]] = groupCols.flatMap { _ =>
          p.aggregateExpressions.foldLeft(
              Option(Vector.empty[NamedExpression])) { (acc, ne) =>
            acc.flatMap { cols =>
              rewriteOutput(ne, cv, byName, scan, inline)
                .map(cols :+ _)
            }
          }
        }
        // aliases already carry the candidate's exprIds and the
        // candidate's own column ORDER (the fold preserves it), so
        // the bare Aggregate substitutes in place
        for (gs <- groupCols; as <- aggExprs)
          yield Aggregate(gs, as, store)
      }
    }
  }

  /** Rewrite one candidate output column onto the store: a grouping
    * passthrough keeps its store column; COUNT re-aggregates as
    * SUM(stored count); SUM/MIN/MAX re-aggregate with themselves.
    * Aliases keep the candidate's exprIds so nothing above
    * re-resolves. */
  private def rewriteOutput(ne: NamedExpression, cv: CoarseView,
      byName: Map[String, Attribute], scan: LogicalRelation,
      inline: Expression => Expression): Option[NamedExpression] = {
    def storeColFor(e: Expression): Option[Attribute] =
      posNorm(inline(e), scan.output)
        .flatMap(en => cv.groupMap.find(_._1 == en)).map(_._2)
        .flatMap(byName.get)
    ne match {
      case a: AttributeReference =>
        storeColFor(a).filter(_.dataType == a.dataType)
          .map(sc => Alias(sc, a.name)(exprId = a.exprId))
      case al @ Alias(ae: AggregateExpression, name)
          if !ae.isDistinct && ae.filter.isEmpty =>
        val ins = ae.aggregateFunction.children
          .map(c => posNorm(inline(c), scan.output))
        if (!ins.forall(_.isDefined)) None
        else {
          val key = (ae.aggregateFunction.getClass: Class[_], ins.flatten)
          cv.aggMap.find(_._1 == key).map(_._2).flatMap(byName.get)
            .flatMap { sc =>
              val reAgg = ae.aggregateFunction match {
                case _: Count => Sum(sc)
                case _: Sum => Sum(sc)
                case _: Min => Min(sc)
                case _: Max => Max(sc)
              }
              if (reAgg.dataType == al.dataType)
                Some(Alias(reAgg.toAggregateExpression(), name)(
                  exprId = al.exprId))
              else None
            }
        }
      case al @ Alias(child, name) =>
        storeColFor(child).filter(_.dataType == al.dataType)
          .map(sc => Alias(sc, name)(exprId = al.exprId))
      case _ => None
    }
  }

  private def toLocalFile(root: String): java.io.File =
    if (root.startsWith("file:"))
      new java.io.File(java.net.URI.create(root.replace(" ", "%20")))
    else new java.io.File(root)

  private def latestMtime(f: java.io.File): Long =
    if (f.isDirectory) {
      val kids = f.listFiles()
      if (kids == null || kids.isEmpty) f.lastModified()
      else kids.map(latestMtime).max
    } else f.lastModified()

  /** Fresh ⇔ the store has a published version and no source root
    * has a file newer than that publish. A [[graft.ops.MergeableStore]]
    * stamps its publish on the manifest; a view store outside the
    * kernel ([[graft.ops.JoinView]]) by its newest committed file. */
  private[plans] def isFresh(v: ServedView): Boolean = {
    val storeRoot = new java.io.File(v.storeDir)
    graft.ops.MergeableStore.publishedAt(v.storeDir)
      .orElse(Some(storeRoot).filter(graft.ops.Fs.hasCommittedParquet)
        .map(latestMtime))
      .exists(m => v.sourceRoots.forall(r => latestMtime(toLocalFile(r)) <= m))
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (capturing.get() || views.isEmpty) plan
    else plan.transformUp {
      // exact shape first; a bare Aggregate that misses it gets the
      // roll-up attempt (serve a COARSER aggregate by re-aggregating
      // the store) before keeping its from-scratch plan
      case p: Aggregate =>
        tryServe(p) match {
          case same if same eq p => tryCoarse(p).getOrElse(p)
          case served => served
        }
      case p @ Project(_, _: Aggregate) => tryServe(p)
      // the JOIN class (an incrementally-maintained ops/JoinView is
      // the store): exact-shape matching only — by the time this rule
      // runs, the main optimizer has pushed candidate-specific
      // filters/prunes INTO the join's scans, so any query that isn't
      // the registered view verbatim differs structurally and keeps
      // its from-scratch plan (the conservative boundary again)
      case p: Join => tryServe(p)
      case p @ Project(_, _: Join) => tryServe(p)
    }

  private def tryServe(p: LogicalPlan): LogicalPlan = {
    val roots = sourceRoots(p)
    views.values.find(v => v.sourceRoots == roots &&
        v.shape == leafNormalized(p) && isFresh(v))
      .flatMap(substitute(p, _)).getOrElse(p)
  }

  /** Store read projected onto the matched node's exact output
    * attributes (same exprIds — nothing above re-resolves). Declines
    * (None) on any name/type misalignment. */
  private def substitute(p: LogicalPlan, v: ServedView): Option[LogicalPlan] = {
    val store = PlanBridge.analyzed(v.readStore(SparkSession.active))
    val byName = store.output.map(a => a.name -> a).toMap
    p.output.foldLeft(Option(Vector.empty[NamedExpression])) { (acc, old) =>
      acc.flatMap { cols =>
        byName.get(old.name)
          .filter(_.dataType == old.dataType)
          .map(na => cols :+ Alias(na, old.name)(exprId = old.exprId))
      }
    }.map(Project(_, store))
  }

  /** Install on a session built without extensions (idempotent). */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(MatViewRewriteRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ MatViewRewriteRule
}
