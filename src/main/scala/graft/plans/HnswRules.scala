package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graft.GraftConf
import org.apache.spark.sql.types._

import graft.functions._
import graft.index.{IndexCatalog, IndexEntry}

/** Expression canonicalization — the reference's `CosineDistanceRule`
  * (reference src/hnsw/hnsw_optimize_expr.cpp:18-96): rewrites
  * `1.0 - array_cosine_similarity(a,b)` to `array_cosine_distance(a,b)` and
  * `-array_inner_product(a,b)` to `array_negative_inner_product(a,b)`.
  * Fires regardless of any index (the reference's does too,
  * test/sql/hnsw/hnsw_rewrite.test:11-22); it both simplifies plans and
  * normalizes the shape the index-scan rules match on. */
/** `PRAGMA disable_optimizer` (reference hnsw_rewrite.test:17): gates every
  * graft-injected optimizer rule off for the session, so plans keep their
  * declarative shape. Spark's own optimizer is not touched — the reference
  * pragma exists in its tests to show the EXTENSION rewrites' before/after,
  * which is exactly what this reproduces. */
object GraftOptimizerGate {
  val ConfKey: String = GraftConf.OptimizerEnabled.key
  def enabled(conf: org.apache.spark.sql.internal.SQLConf): Boolean =
    GraftConf.OptimizerEnabled.get(conf)
}

/** Spark's lateral decorrelation rejects a correlated reference sitting
  * DIRECTLY in a subquery's ORDER BY (CheckAnalysis
  * UNSUPPORTED_SUBQUERY_EXPRESSION_CATEGORY.CORRELATED_REFERENCE) while
  * accepting the same key as a projected alias — and the reference's
  * flagship lateral spelling is exactly the rejected form
  * (`... LATERAL (SELECT * FROM b ORDER BY array_distance(a.a_vec, b_vec)
  * LIMIT 1)`, reference test/sql/hnsw/hnsw_lateral_join.test:19). This
  * post-resolution rule pushes any OuterReference-bearing sort key into a
  * projection below the Sort and re-projects the original output above —
  * output-preserving, and only reachable inside subquery plans (an
  * OuterReference occurs nowhere else). Always on: it makes a rejected
  * statement analyzable, it never changes accepted semantics, so the
  * optimizer pragma must not disable it. */
object PushCorrelatedSortKeys extends Rule[LogicalPlan] {
  private def hasOuter(e: Expression): Boolean =
    e.exists(_.isInstanceOf[OuterReference])
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithSubqueries {
      case s @ Sort(orders, global, child, _)
          if child.resolved && orders.forall(_.resolved) &&
            orders.exists(o => hasOuter(o.child)) =>
        val aliased: Seq[(SortOrder, Option[Alias])] = orders.map { o =>
          if (hasOuter(o.child)) {
            val a = Alias(o.child, "__graft_corr_sortkey")()
            (o.copy(child = a.toAttribute), Some(a))
          } else (o, None)
        }
        val helpers = aliased.flatMap(_._2)
        Project(child.output,
          Sort(aliased.map(_._1), global, Project(child.output ++ helpers, child)))
    }
}

object CosineDistanceRewrite extends Rule[LogicalPlan] {
  // `1.0` in SQL text parses as DECIMAL(2,1) and reaches the Subtract as
  // cast(1.0 as double) — match any foldable double that EVALUATES to 1.0,
  // covering both the DataFrame lit(1.0) and the SQL literal spelling
  private object DoubleOne {
    def unapply(e: Expression): Boolean =
      e.dataType == DoubleType && e.foldable && e.eval() == 1.0
  }
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!GraftOptimizerGate.enabled(conf)) plan
    else plan.transformAllExpressions {
    case Subtract(DoubleOne(), ArrayCosineSimilarity(a, b), _) =>
      ArrayCosineDistance(a, b)
    case UnaryMinus(ArrayInnerProduct(a, b), _) =>
      ArrayNegativeInnerProduct(a, b)
  }
}

/** Shared matcher: a metric-distance expression between an attribute and a
  * constant float vector (either argument order — the reference swaps and
  * retries, src/hnsw/hnsw_optimize_scan.cpp:117-129). Returns the index
  * metric it serves: array_distance (l2) matches an l2sq index because their
  * orderings coincide (reference README.md:59). */
object DistancePattern {
  private def asVec(e: Expression): Option[Array[Float]] = e match {
    case Literal(ad: ArrayData, ArrayType(FloatType, _)) =>
      Some(ad.toFloatArray())
    case _ => None
  }
  private def split(l: Expression, r: Expression): Option[(AttributeReference, Array[Float])] =
    (l, r) match {
      case (a: AttributeReference, v) => asVec(v).map(a -> _)
      case (v, a: AttributeReference) => asVec(v).map(a -> _)
      case _ => None
    }
  def unapply(e: Expression): Option[(String, AttributeReference, Array[Float])] = e match {
    case ArrayDistanceSq(l, r) => split(l, r).map { case (a, v) => ("l2sq", a, v) }
    case ArrayDistance(l, r) => split(l, r).map { case (a, v) => ("l2sq", a, v) }
    case ArrayCosineDistance(l, r) => split(l, r).map { case (a, v) => ("cosine", a, v) }
    case ArrayNegativeInnerProduct(l, r) => split(l, r).map { case (a, v) => ("ip", a, v) }
    case _ => None
  }
}

/** Strips the wrappers Spark's `NormalizeFloatingNumbers` optimizer rule
  * injects around float-typed join/window keys —
  * `KnownFloatingPointNormalized`, `NormalizeNaNAndZero`, and the
  * element-wise `transform(arr, x -> normalize(x))` form over float arrays —
  * exposing the underlying attribute. Decorrelated LATERAL plans partition
  * their domain window by the NORMALIZED outer vector, so index rules must
  * see through these to recognize the partition key. */
object NormalizedKey {
  private def isIdentityNormLambda(f: LambdaFunction): Boolean = f match {
    case LambdaFunction(body, Seq(v: NamedLambdaVariable), _) =>
      strip(body) match {
        case nv: NamedLambdaVariable => nv.exprId == v.exprId
        case _ => false
      }
    case _ => false
  }
  def strip(e: Expression): Expression = e match {
    case KnownFloatingPointNormalized(c) => strip(c)
    case NormalizeNaNAndZero(c) => strip(c)
    case ArrayTransform(c, f: LambdaFunction) if isIdentityNormLambda(f) => strip(c)
    case other => other
  }
  def unapply(e: Expression): Option[AttributeReference] = strip(e) match {
    case ar: AttributeReference => Some(ar)
    case _ => None
  }
}

private[plans] object IndexRuleSupport {
  /** k bound shared by the reference's rewrites (STANDARD_VECTOR_SIZE,
    * reference src/hnsw/hnsw_optimize_topk.cpp:163). */
  val MaxK = 2048

  /** Unwrap a Project/Filter chain, substituting project aliases into
    * `expr` so it is phrased over the base relation's attributes.
    * Returns (resolved expr, first node below the chain). An
    * already-injected HnswIndexScan is such a node and matches no index,
    * which makes the surrounding fixed-point batch converge. */
  def resolveThroughChain(expr0: Expression, child: LogicalPlan): Option[(Expression, LogicalPlan)] = {
    var expr = expr0
    var node = child
    while (true) {
      node match {
        case Project(projList, c) =>
          val substs = projList.collect { case a: Alias => a.exprId -> a.child }.toMap
          expr = expr.transformUp {
            case ar: AttributeReference if substs.contains(ar.exprId) => substs(ar.exprId)
          }
          node = c
        case Filter(_, c) => node = c
        case other => return Some((expr, other))
      }
    }
    None
  }

  /** Walks a Project/Filter/Aggregate chain resolving alias indirections,
    * looking for a top-level `IsNotNull` conjunct on the attribute `vec`
    * resolves to. Conjuncts only: an IsNotNull under an Or/Not does not
    * guarantee non-NULLness (`x IS NOT NULL OR y > 0` keeps NULL x).
    * An Aggregate passes the guard through its grouping-key outputs (the
    * decorrelated-LATERAL domain aggregate is exactly this shape): a grouping
    * output is non-NULL iff its input was, so a Filter below still counts. */
  def chainHasNotNullGuard(plan: LogicalPlan, vec: AttributeReference): Boolean =
    chainHasGuard(plan, vec) {
      case (IsNotNull(ar: AttributeReference), tgt) => ar.exprId == tgt
      case _ => false
    }

  /** Symmetric walk for an IS NULL conjunct on `vec`'s lineage — the marker
    * the KNN-join rewrite's NULL-probe scan branch carries (possibly pushed
    * below a Project/Aggregate by the surrounding fixed-point batch). */
  def chainHasIsNullGuard(plan: LogicalPlan, vec: AttributeReference): Boolean =
    chainHasGuard(plan, vec) {
      case (IsNull(ar: AttributeReference), tgt) => ar.exprId == tgt
      case _ => false
    }

  private def chainHasGuard(plan: LogicalPlan, vec: AttributeReference)(
      matches: ((Expression, ExprId)) => Boolean): Boolean = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    var target = vec.exprId
    var node = plan
    while (true) {
      node match {
        case Project(projList, c) =>
          projList.find(_.exprId == target) match {
            case Some(a: Alias) => a.child match {
              case ar: AttributeReference => target = ar.exprId
              case _ => return false
            }
            case Some(_) => () // direct pass-through keeps the exprId
            case None => return false
          }
          node = c
        case agg: Aggregate =>
          agg.aggregateExpressions.find(_.exprId == target) match {
            case Some(a: Alias) => a.child match {
              case ar: AttributeReference => target = ar.exprId
              case _ => return false
            }
            case Some(_: AttributeReference) => () // grouping pass-through
            case _ => return false
          }
          node = agg.child
        case Filter(cond, c) =>
          val tgt = target
          if (conjuncts(cond).exists(e => matches((e, tgt)))) return true
          node = c
        // a tombstone anti-join passes its left side's rows and attributes
        case Join(l, _, LeftAnti, _, _) => node = l
        case _ => return false
      }
    }
    false
  }

  /** The parquet relation under a Project/Filter chain. */
  private def relationUnder(p: LogicalPlan): Option[LogicalRelation] = p match {
    case Project(_, c) => relationUnder(c)
    case Filter(_, c) => relationUnder(c)
    case r: LogicalRelation if r.relation.isInstanceOf[HadoopFsRelation] => Some(r)
    case _ => None
  }

  /** Is `p` registered table `table`, in the one view shape Graft builds
    * for it? Returns the table's serving relation: a parquet relation over
    * exactly the table's serving paths (which Graft keeps qualified, as a
    * relation's root paths are) — bare when the table has no
    * tombstones, else the left side of a LEFT ANTI JOIN whose right side
    * reads exactly its tombstone files. Projects and Filters the optimizer
    * pushed onto either side may sit in between. The Spark stand-in for
    * the reference's table-pointer check
    * (reference src/hnsw/hnsw_optimize_scan.cpp:90-94): DML changes the
    * paths, never the shape, so it never moves a query off the index. */
  def tableScan(p: LogicalPlan, table: String): Option[LogicalRelation] =
    graft.Graft.tableState(table).flatMap { case (serving, tombs) =>
      def reads(q: LogicalPlan, paths: List[String]): Option[LogicalRelation] =
        relationUnder(q).filter { r =>
          r.relation.asInstanceOf[HadoopFsRelation].location.rootPaths.map(_.toString).toSet ==
            paths.toSet
        }
      p match {
        case Join(l, r, LeftAnti, _, _) if tombs.nonEmpty => reads(r, tombs).flatMap(_ => reads(l, serving))
        case _ if tombs.isEmpty => reads(p, serving)
        case _ => None
      }
    }

  /** Find a registered index matching (metric, column) whose indexed table
    * `rel` is; returns it with the table's serving relation. */
  def findEntry(metric: String, colAttr: AttributeReference,
      rel: LogicalPlan): Option[(IndexEntry, LogicalRelation)] =
    if (!rel.outputSet.contains(colAttr)) None
    else IndexCatalog.list.iterator.filter(e => e.options.metric == metric && e.column == colAttr.name)
      .flatMap(e => tableScan(rel, e.table).map(e -> _)).nextOption()

  /** Wrap the serving relation `rel` inside `child` in an HnswIndexScan: a
    * filter node that keeps only the rows whose rowid is among the index's
    * k hits. Mirrors the reference's rewrite structure: the TopN/aggregate
    * above stays (it now runs over ≤ k rows), and any Filters in the chain
    * (and the tombstone anti-join) naturally apply *after* candidate
    * selection, i.e. the reference's filter pull-up semantics (reference
    * src/hnsw/hnsw_optimize_scan.cpp:161-187, which accepts possibly-short
    * results). */
  def injectCandidates(child: LogicalPlan, rel: LogicalRelation, entry: IndexEntry,
      queryVec: Array[Float], k: Int): Option[LogicalPlan] =
    rel.output.find(_.name == entry.rowidCol).map { rowidAttr =>
      val scan = HnswIndexScan(entry.name, queryVec, k, rowidAttr, rel)
      child.transformUp { case p if p eq rel => scan }
    }
}

/** TopN → index scan — the reference's `HNSWIndexScanOptimizer`
  * (reference src/hnsw/hnsw_optimize_scan.cpp:23-258). Matches
  * `ORDER BY <distance to const vector> ASC LIMIT k` over a
  * (projected/filtered) indexed relation and restricts the relation to the
  * index's k candidates with an HnswIndexScan filter node. The Sort+Limit
  * stay: over k rows they cost nothing, and they preserve output
  * order/columns exactly. */
object TopKToIndexScan extends Rule[LogicalPlan] {
  import IndexRuleSupport._

  /** SQL queries project the sort key away ABOVE the Sort
    * (`SELECT vec_id ... ORDER BY dist LIMIT k` optimizes to
    * Limit → Project → Sort); peel those Projects and rebuild them. */
  private def splitProjects(p: LogicalPlan): (Seq[Project], LogicalPlan) = {
    val chain = scala.collection.mutable.ArrayBuffer.empty[Project]
    var node = p
    while (node.isInstanceOf[Project]) {
      val pr = node.asInstanceOf[Project]
      chain += pr
      node = pr.child
    }
    (chain.toSeq, node)
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!GraftOptimizerGate.enabled(conf)) plan
    else plan.transformDown {
    case l @ GlobalLimit(IntegerLiteral(k), ll @ LocalLimit(_, inner))
        if k > 0 && k < MaxK =>
      val (projs, sortNode) = splitProjects(inner)
      val rewritten = sortNode match {
        case s @ Sort(Seq(so @ SortOrder(key, Ascending, _, _)), true, child, _) =>
          for {
            (resolved, rel) <- resolveThroughChain(key, child)
            (metric, colAttr, vec) <- DistancePattern.unapply(resolved)
            // NULL distances sort FIRST under Spark's default ASC ordering,
            // but the index never contains NULL vectors — rewrite only when
            // no NULL can reach the sort (NULLS LAST, non-nullable column,
            // or an IS NOT NULL guard below). DuckDB defaults to NULLS LAST,
            // which is why the reference needs no such check.
            if so.nullOrdering == NullsLast || !colAttr.nullable ||
              chainHasNotNullGuard(child, colAttr)
            (entry, scan) <- findEntry(metric, colAttr, rel)
            newChild <- injectCandidates(child, scan, entry, vec, k)
          } yield {
            val newSort = s.copy(child = newChild)
            val rebuilt = projs.reverse.foldLeft(newSort: LogicalPlan) {
              (acc, pr) => pr.copy(child = acc)
            }
            l.copy(child = ll.copy(child = rebuilt))
          }
        case _ => None
      }
      rewritten.getOrElse(l)
  }
}

/** `min_by(value, dist, k)` with no GROUP BY → aggregate over the index's k
  * candidates — the reference's `HNSWTopKOptimizer`
  * (reference src/hnsw/hnsw_optimize_topk.cpp:58-234). */
object MinByKToIndexScan extends Rule[LogicalPlan] {
  import IndexRuleSupport._
  /** The aggregate may sit bare (`SELECT min_by(v,d,k)`) or nested inside
    * scalar post-processing (`SELECT list_sum(flatten(min_by(v,d,k)))
    * BETWEEN a AND b`, reference hnsw_topk.test:20-24) — the rewrite only
    * swaps the aggregate's CHILD for the index's k candidates, so any
    * scalar wrapper above is unaffected. Exactly one aggregate function
    * must appear (a second one would also need the full table). */
  private def soleMinByK(e: Expression): Option[AggregateExpression] =
    e.collect { case ae: AggregateExpression => ae } match {
      case Seq(ae) if ae.aggregateFunction.isInstanceOf[MinByK] &&
        !ae.isDistinct => Some(ae)
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!GraftOptimizerGate.enabled(conf)) plan
    else plan.transformDown {
    case agg @ Aggregate(Nil, Seq(Alias(topExpr, _)), child, _)
        if soleMinByK(topExpr).isDefined =>
      val ae = soleMinByK(topExpr).get
      val mbk = ae.aggregateFunction.asInstanceOf[MinByK]
      val rewritten = for {
        k <- mbk.kExpr match {
          case IntegerLiteral(k) if k > 0 && k < MaxK && !mbk.descending => Some(k)
          case _ => None
        }
        (resolved, rel) <- resolveThroughChain(mbk.ordExpr, child)
        (metric, colAttr, vec) <- DistancePattern.unapply(resolved)
        (entry, scan) <- findEntry(metric, colAttr, rel)
        newChild <- injectCandidates(child, scan, entry, vec, k)
      } yield agg.copy(child = newChild)
      rewritten.getOrElse(agg)
  }
}

/** Windowed KNN-join pattern → index join — the reference's
  * `HNSWIndexJoinOptimizer` (reference src/hnsw/hnsw_optimize_join.cpp:323-715).
  * Spark's stable formulation of the lateral-KNN idiom (SURVEY.md §3.3) is
  *   Filter(rn <= k,
  *     Window(rn = row_number() OVER (PARTITION BY <outer cols>
  *                                    ORDER BY dist(outer.vec, inner.vec) ASC),
  *       Join(outer, inner, Cross/Inner, no condition)))
  * which this rule rewrites to HnswKnnCandidates(outer) ⋈rowid inner. The
  * rank attribute keeps the window alias's exprId, so projections above keep
  * resolving. Assumes outer partition keys identify outer rows (the
  * decorrelated-lateral contract the reference matches on).
  *
  * Spark's own decorrelation of `LATERAL (... ORDER BY dist LIMIT k)`
  * (RewriteLateralSubquery + DecorrelateInnerQuery) lands on this exact
  * shape with outer = Aggregate(domain of distinct outer vectors) and the
  * window partitioned by the NormalizeFloatingNumbers-wrapped vector — both
  * handled here (NormalizedKey, Aggregate-aware null guard), so the
  * reference's flagship lateral SQL (test/sql/hnsw/hnsw_lateral_join
  * .test:19-27) is index-accelerated.
  *
  * That rewrite leaves the decorrelation's domain join around it: the
  * outer table O joined back, null-safe on the vector, to candidates over
  * `Aggregate(distinct O.vec)`. A second step then removes the domain, as
  * the reference's rewrite does by replacing the deduplicated outer side
  * with the outer table itself (src/hnsw/hnsw_optimize_join.cpp:587-673):
  * the inner join of O with that branch becomes candidates directly over
  * `Filter(IsNotNull(vec), O)`, each aggregate alias re-bound to the outer
  * column it grouped, so the plan streams O's partitions into the index
  * with no shuffle and no join-back — the plan `Graft.knnJoin` builds. A
  * duplicate probe vector is searched once per outer row; HNSW search is
  * deterministic per (graph, query), so it gets the rows the join-back
  * copied. The NULL-probe scan branch keeps its domain form and is joined
  * back only to `Filter(IsNull(vec), O)`. A LEFT OUTER join-back, or a
  * domain that is not O's own rows, keeps the domain-join plan. */
object KnnJoinToIndexJoin extends Rule[LogicalPlan] with PredicateHelper {
  import IndexRuleSupport._

  /** Split a Project/Filter chain from its base relation. */
  private def stripChain(p: LogicalPlan): (Seq[LogicalPlan], LogicalPlan) = {
    val chain = scala.collection.mutable.ArrayBuffer.empty[LogicalPlan]
    var node = p
    var done = false
    while (!done) {
      node match {
        case pr: Project => chain += pr; node = pr.child
        case fl: Filter => chain += fl; node = fl.child
        case _ => done = true
      }
    }
    (chain.toSeq, node)
  }

  private def asLimit(cond: Expression, rnId: ExprId): Option[Int] = cond match {
    case LessThanOrEqual(ar: AttributeReference, IntegerLiteral(k)) if ar.exprId == rnId => Some(k)
    case LessThan(ar: AttributeReference, IntegerLiteral(k)) if ar.exprId == rnId => Some(k - 1)
    case _ => None
  }

  /** Walk the chain below the Window down to a condition-less cross/inner
    * Join, resolving `dist` through Project aliases and collecting the
    * Project/Filter nodes (top-down) so they can be rebuilt above the index
    * join. WindowGroupLimit nodes (inserted by Spark 3.5+'s rank-filter
    * optimization) are stripped — the index join subsumes them. */
  private def findJoin(dist0: Expression, child: LogicalPlan)
      : Option[(Expression, Seq[LogicalPlan], Join)] = {
    var dist = dist0
    var node = child
    val chain = scala.collection.mutable.ArrayBuffer.empty[LogicalPlan]
    while (true) {
      node match {
        case p @ Project(projList, c) =>
          val substs = projList.collect { case a: Alias => a.exprId -> a.child }.toMap
          dist = dist.transformUp {
            case ar: AttributeReference if substs.contains(ar.exprId) => substs(ar.exprId)
          }
          chain += p; node = c
        case fl @ Filter(_, c) => chain += fl; node = c
        case wgl: WindowGroupLimit => node = wgl.child // drop: subsumed by index join
        case j @ Join(_, _, jt, None, _) if jt.sql == "CROSS" || jt.sql == "INNER" =>
          return Some((dist, chain.toSeq, j))
        case _ => return None
      }
    }
    None
  }

  /** The second decorrelation shape Spark emits when the lateral subquery
    * also PROJECTS outer columns (`SELECT *, a_id AS id_dup … ORDER BY
    * dist LIMIT k`, reference hnsw_lateral_join.test:19): the row_number
    * window carries NO order spec and relies on a GLOBAL Sort below it for
    * ranking order. Walk down to that Sort, take its ascending key as the
    * distance, and continue to the domain join — the rank the index join
    * produces is exactly the per-partition distance rank the sort-below
    * encoded. */
  private def findSortThenJoin(child: LogicalPlan)
      : Option[(SortOrder, Expression, Seq[LogicalPlan], Join)] = {
    var node = child
    val chain = scala.collection.mutable.ArrayBuffer.empty[LogicalPlan]
    while (true) {
      node match {
        case p: Project => chain += p; node = p.child
        case fl: Filter => chain += fl; node = fl.child
        case wgl: WindowGroupLimit => node = wgl.child
        case Sort(Seq(so @ SortOrder(key, Ascending, _, _)), true, c, _) =>
          return findJoin(key, c).map { case (d, ch2, j) =>
            (so, d, chain.toSeq ++ ch2, j)
          }
        case _ => return None
      }
    }
    None
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!GraftOptimizerGate.enabled(conf)) plan
    else plan.transformDown {
    case j @ Join(_, _, Inner, Some(_), _) =>
      collapseDomainJoin(j).getOrElse(j)
    case f @ Filter(cond,
        w @ Window(Seq(alias @ Alias(WindowExpression(_: RowNumber, _), _)),
          partSpec, orderSpec, windowChild, _)) =>
      val rnAttr = alias.toAttribute
      val found: Option[(SortOrder, Expression, Seq[LogicalPlan], Join)] =
        orderSpec match {
          case Seq(so @ SortOrder(distKey, Ascending, _, _)) =>
            findJoin(distKey, windowChild).map { case (d, ch, j) => (so, d, ch, j) }
          case Nil => findSortThenJoin(windowChild)
          case _ => None
        }
      val rewritten = for {
        k <- asLimit(cond, rnAttr.exprId)
        if k > 0 && k < MaxK
        (so, dist, chain, join) <- found
        outer = join.left
        inner = join.right
        // partition keys may be wrapped in NormalizeFloatingNumbers wrappers
        // (decorrelated LATERAL partitions by the normalized outer vector)
        if partSpec.nonEmpty && partSpec.forall {
          case NormalizedKey(a) => outer.outputSet.contains(a)
          case _ => false
        }
        (metric, outerVec, innerVec) <- matchTwoSided(dist, outer, inner)
        // the NULL-probe split below marks its scan branch with an IS NULL
        // filter on the outer vector — never re-rewrite that branch (the
        // fixed-point batch would otherwise stack unions forever)
        if !isNullProbeBranch(outer, outerVec)
        // INNER-side NULL vectors give NULL distances, which rank FIRST
        // under Spark's default ASC ordering but can never come out of the
        // index — a silent result change. Only rewrite when no inner NULL
        // distance can outrank a real one: NULLS LAST ordering, or a
        // provably non-NULL inner vector. (Ranked-LAST inner NULLs may pad
        // a short partition in the scan form while the index returns fewer
        // rows — the reference's accepted short-result semantics.)
        if so.nullOrdering == NullsLast ||
          (!innerVec.nullable || hasNotNullGuard(inner, innerVec))
        // column pruning may have projected the rowid off the inner side:
        // match the *base* relation and rebuild the chain with rowid restored
        (innerChain, innerBase) = stripChain(inner)
        (entry, _) <- findEntry(metric, innerVec, innerBase)
        innerRowid <- innerBase.output.find(_.name == entry.rowidCol)
      } yield {
        // a NULL outer PROBE keeps its rows in the scan form (all its
        // distances are NULL — under NULLS LAST they still rank and the
        // limit emits them) but can never probe the index. Split: index
        // join over the non-NULL probes, the ORIGINAL windowed scan over
        // the IS NULL probes, unioned. The null branch scans only the
        // null-probe slice of the outer side — empty for the typical
        // corpus, and exactly the reference's observable behavior
        // (hnsw_lateral_join.test's a_has_null label differential).
        val needNullBranch = outerVec.nullable && !hasNotNullGuard(outer, outerVec)
        val candRowid = AttributeReference("__knn_rowid", LongType, nullable = false)()
        val rankOut = rnAttr // same exprId: downstream references keep resolving
        val candsOuter =
          if (needNullBranch) Filter(IsNotNull(outerVec), outer) else outer
        val cands = HnswKnnCandidates(entry.name, k, outerVec, candRowid, rankOut,
          candsOuter)
        val newInner = innerChain.reverse.foldLeft(innerBase: LogicalPlan) {
          case (acc, Project(pl, _)) =>
            Project(if (pl.exists(_.exprId == innerRowid.exprId)) pl else pl :+ innerRowid, acc)
          case (acc, Filter(c, _)) => Filter(c, acc)
          case (acc, _) => acc
        }
        val joined = Join(cands, newInner, org.apache.spark.sql.catalyst.plans.Inner,
          Some(EqualTo(candRowid, innerRowid)), JoinHint.NONE)
        // rebuild the Project/Filter chain bottom-up, passing the rank through
        val rebuilt = chain.reverse.foldLeft(joined: LogicalPlan) {
          case (acc, Project(projList, _)) => Project(projList :+ rankOut, acc)
          case (acc, Filter(c, _)) => Filter(c, acc)
          case (acc, _) => acc
        }
        // Window emitted childOutput :+ rn; the Filter(rn<=k) is subsumed
        val indexSide = Project(f.output, rebuilt)
        if (!needNullBranch) indexSide
        else {
          val scanSide = f.transformUp {
            case j: Join if j eq join =>
              // broadcast the NULL-probe slice (normally EMPTY): AQE
              // materializes the build side first, sees the empty
              // relation, and collapses the whole branch — the inner
              // table is never scanned unless NULL probes actually exist.
              // Without the hint Spark may pick the INNER side to
              // broadcast, paying a full materialization for a branch
              // that exists only for semantic completeness.
              j.copy(left = Filter(IsNull(outerVec), outer),
                hint = JoinHint(Some(HintInfo(Some(BROADCAST))), None))
          }
          Project(f.output,
            Union(Seq(indexSide, Project(f.output, scanSide))))
        }
      }
      rewritten.getOrElse(f)
  }

  /** The domain join around a rewritten LATERAL, collapsed (see the object
    * doc): `Join(Inner, O, branch [∪ nullBranch], keys)` where `branch`
    * reaches HnswKnnCandidates over the domain `Aggregate` of O's keys. */
  private def collapseDomainJoin(j: Join): Option[LogicalPlan] = {
    val outer = j.left
    val (branch, nullBranch) = j.right match {
      case Union(Seq(b, nb), false, false) => (b, Some(nb))
      case other => (other, None)
    }
    for {
      path <- candidatesPath(branch)
      cands = path.last.asInstanceOf[HnswKnnCandidates]
      domain <- Some(cands.child).collect { case agg: Aggregate => agg }
      keys <- domainKeys(domain, outer)
      outerVec <- keys.collectFirst { case (a, o) if a.exprId == cands.vecAttr.exprId => o }
      if coversOuter(domain.child, outer, keys.map(_._2), outerVec)
      if joinsOnKeys(j.condition.get, keys)
      if nullBranch.forall(isNullProbeSide(_, outerVec))
    } yield {
      // the branch above the candidates reads O's columns for the domain
      // aliases and passes O's columns up; the aliases are re-bound on top
      val toOuter = AttributeMap(keys)
      val streamCands = cands.copy(vecAttr = outerVec, child = Filter(IsNotNull(outerVec), outer))
      val streamed = path.init.foldRight(streamCands: LogicalPlan) { (node, acc) =>
        node.withNewChildren(acc +: node.children.tail).transformExpressions {
          case a: Attribute if toOuter.contains(a) => toOuter(a)
        } match {
          case Project(pl, c) =>
            Project(pl ++ outer.output.filterNot(o => pl.exists(_.exprId == o.exprId)), c)
          case other => other
        }
      }
      val streaming = Project(j.output.map { a =>
        toOuter.get(a).map(o => Alias(o, a.name)(exprId = a.exprId)).getOrElse(a)
      }, streamed)
      nullBranch match {
        case None => streaming
        case Some(nb) =>
          // the null branch's columns stand where the union's did; the
          // NULL-probe slice (normally empty) is broadcast, as inside the
          // branch, so the join-back never shuffles O
          val toNb = AttributeMap(j.right.output.zip(nb.output))
          val cond = j.condition.get.transform { case a: Attribute => toNb.getOrElse(a, a) }
          Union(streaming, Join(Filter(IsNull(outerVec), outer), nb, j.joinType, Some(cond),
            JoinHint(Some(HintInfo(Some(BROADCAST))), None)))
      }
    }
  }

  /** Nodes from `p` down to the HnswKnnCandidates feeding it, through
    * Projects, Filters and the rowid fetch (candidates on its left side). */
  private def candidatesPath(p: LogicalPlan): Option[List[LogicalPlan]] = p match {
    case c: HnswKnnCandidates => Some(List(c))
    case Project(_, c) => candidatesPath(c).map(p :: _)
    case Filter(_, c) => candidatesPath(c).map(p :: _)
    case Join(l, _, Inner, _, _) => candidatesPath(l).map(p :: _)
    case _ => None
  }

  /** A domain aggregate `Aggregate([o1, …], [o1 AS a1, …])` over outer
    * attributes: the (alias, outer attribute) pairs. */
  private def domainKeys(agg: Aggregate, outer: LogicalPlan): Option[Seq[(Attribute, Attribute)]] = {
    val keys = agg.aggregateExpressions.collect {
      case a @ Alias(o: AttributeReference, _) if outer.outputSet.contains(o) =>
        (a.toAttribute, o: Attribute)
    }
    val grouped = AttributeSet(agg.groupingExpressions.collect { case o: AttributeReference => o })
    if (keys.nonEmpty && keys.size == agg.aggregateExpressions.size &&
      agg.groupingExpressions.size == keys.size && grouped == AttributeSet(keys.map(_._2))) Some(keys)
    else None
  }

  private def substitute(e: Expression, m: Map[ExprId, Expression]): Expression =
    e.transformUp { case a: AttributeReference if m.contains(a.exprId) => m(a.exprId) }

  /** Base relation under a Project/Filter chain, with the chain's filter
    * conjuncts and its aliases phrased over the base's attributes. */
  private def peel(p: LogicalPlan): (LogicalPlan, Seq[Expression], Map[ExprId, Expression]) =
    p match {
      case Project(pl, c) =>
        val (base, conds, m) = peel(c)
        (base, conds, m ++ pl.collect { case a: Alias => a.exprId -> substitute(a.child, m) })
      case Filter(cond, c) =>
        val (base, conds, m) = peel(c)
        (base, conds ++ splitConjunctivePredicates(substitute(cond, m)), m)
      case other => (other, Nil, Map.empty)
    }

  /** Does the domain hold every key of O's rows with a non-NULL `vec`? Yes
    * when it reads O's base relation, its keys mean what O's do, and each
    * of its filters but the `vec IS NOT NULL` guard is one O applies too. */
  private def coversOuter(domain: LogicalPlan, outer: LogicalPlan, keys: Seq[Attribute],
      vec: Attribute): Boolean = {
    val (dBase, dConds, dMap) = peel(domain)
    val (oBase, oConds, oMap) = peel(outer)
    val baseVec = substitute(vec, oMap)
    dBase.sameResult(oBase) &&
      keys.forall(k => substitute(k, dMap).semanticEquals(substitute(k, oMap))) &&
      dConds.forall {
        case IsNotNull(e) if e.semanticEquals(baseVec) => true
        case c => oConds.exists(_.semanticEquals(c))
      }
  }

  /** Is `cond` exactly the null-safe equality of each outer key with its
    * domain alias: `<=>`, or the coalesce/isnull pair NormalizeFloatingNumbers
    * turns it into? */
  private def joinsOnKeys(cond: Expression, keys: Seq[(Attribute, Attribute)]): Boolean = {
    def pair(l: Expression, r: Expression): Option[Int] = (l, r) match {
      case (NormalizedKey(x), NormalizedKey(y)) =>
        val ids = Set(x.exprId, y.exprId)
        Some(keys.indexWhere { case (a, o) => ids == Set(a.exprId, o.exprId) }).filter(_ >= 0)
      case _ => None
    }
    val kinds = splitConjunctivePredicates(cond).map {
      case EqualNullSafe(l, r) => pair(l, r).map(_ -> "<=>")
      case EqualTo(Coalesce(Seq(l, _)), Coalesce(Seq(r, _))) => pair(l, r).map(_ -> "coalesce")
      case EqualTo(IsNull(l), IsNull(r)) => pair(l, r).map(_ -> "isnull")
      case _ => None
    }
    kinds.forall(_.isDefined) && {
      val byKey = kinds.flatten.groupBy(_._1).map { case (i, ks) => i -> ks.map(_._2).sorted }
      keys.indices.forall(i => byKey.get(i).exists(ks =>
        ks == Seq("<=>") || ks == Seq("coalesce", "isnull")))
    }
  }

  /** Is `p` the NULL-probe scan branch: a plan with no index candidates
    * whose domain aggregate keeps only the NULL outer vector? */
  private def isNullProbeSide(p: LogicalPlan, vec: Attribute): Boolean =
    !p.exists(_.isInstanceOf[HnswKnnCandidates]) && p.exists {
      case agg: Aggregate => agg.aggregateExpressions.exists {
        case a @ Alias(o: Attribute, _) if o.exprId == vec.exprId =>
          chainHasIsNullGuard(agg, a.toAttribute.asInstanceOf[AttributeReference])
        case _ => false
      }
      case _ => false
    }

  /** Does the outer chain filter the vector to be non-NULL? */
  private def hasNotNullGuard(outer: LogicalPlan, vec: AttributeReference): Boolean =
    chainHasNotNullGuard(outer, vec)

  /** Is `outer` the IS NULL scan branch this rule itself produced? The
    * surrounding fixed-point batch may have pushed the marker filter below
    * a Project/Aggregate, so this walks the vec's lineage like the
    * not-null guard does. */
  private def isNullProbeBranch(outer: LogicalPlan, vec: AttributeReference): Boolean =
    chainHasIsNullGuard(outer, vec)

  /** Distance over (outer attr, inner attr), either order. */
  private def matchTwoSided(e: Expression, outer: LogicalPlan, inner: LogicalPlan)
      : Option[(String, AttributeReference, AttributeReference)] = {
    def sides(l: Expression, r: Expression): Option[(AttributeReference, AttributeReference)] =
      (l, r) match {
        case (a: AttributeReference, b: AttributeReference) =>
          if (outer.outputSet.contains(a) && inner.outputSet.contains(b)) Some((a, b))
          else if (outer.outputSet.contains(b) && inner.outputSet.contains(a)) Some((b, a))
          else None
        case _ => None
      }
    e match {
      case ArrayDistanceSq(l, r) => sides(l, r).map { case (o, i) => ("l2sq", o, i) }
      case ArrayDistance(l, r) => sides(l, r).map { case (o, i) => ("l2sq", o, i) }
      case ArrayCosineDistance(l, r) => sides(l, r).map { case (o, i) => ("cosine", o, i) }
      case ArrayNegativeInnerProduct(l, r) => sides(l, r).map { case (o, i) => ("ip", o, i) }
      case _ => None
    }
  }
}
