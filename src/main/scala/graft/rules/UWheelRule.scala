package graft.rules

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.expr.{Canon, Extract}
import graft.index.{FamilyWheel, IndexedWheel, SketchFacts, SketchFamily, SketchWheel, TableIndex, WheelFamily, WheelRegistry}
import graft.wheel.{HawWheel, RangeAgg, WheelAggregator}

/** Plan-time rewrite of temporal aggregation queries against wheel-indexed
  * tables — the Spark-native re-expression of the reference's
  * `UWheelOptimizer` rule (`/root/reference/datafusion-uwheel/src/lib.rs:246-649`).
  *
  * Rewrites implemented (reference arm in parens):
  *  - COUNT(*) over a time range → constant row (R1, `lib.rs:599-604`)
  *  - single SUM/AVG/MIN/MAX over a time range, optionally with a keyed
  *    residual predicate matched against the wheel registry → constant row
  *    (R2, `lib.rs:307-328`)
  *  - GROUP BY date_trunc(second|minute|hour|day|week) + any mix of
  *    COUNT/SUM/AVG/MIN/MAX → materialized rows (R3, `lib.rs:333-501`)
  *  - multiple aggregates, no GROUP BY → constant row (R4, `lib.rs:503-552`)
  *  - landmark aggregate, no WHERE → constant row (R5, `lib.rs:554-577`)
  *  - zero-count time range → empty relation (R6, `lib.rs:606-618`)
  *  - min/max contradiction over a range → empty relation (R7, `lib.rs:621-649`)
  *
  * Deliberate differences from the reference:
  *  - Rewrites are *exactness-gated*: the reference truncates sub-second
  *    bounds to wheel granularity and silently returns slightly-wrong answers
  *    for unaligned predicates (`expr.rs:219-222`); we only rewrite
  *    aggregates when the extracted range is provably identical to the
  *    predicate, and use conservative outward rounding for emptiness pruning
  *    (which is always sound).
  *  - Result expressions may be arbitrary scalar compositions over the
  *    aggregates (e.g. `CAST(SUM(CAST(x AS DECIMAL)) AS DOUBLE) / COUNT(*)`):
  *    aggregate sub-expressions are replaced by wheel-computed literals and
  *    the rest is constant-folded, so the rule survives CollapseProject and
  *    PullOutGroupingExpressions.
  *  - NULL discipline: AVG/MIN/MAX/SUM rewrites require the wheel to have
  *    seen no NULL values; unbounded-time rewrites require a NULL-free time
  *    column. SQL aggregates over an empty range come back NULL (count 0).
  *  - The replacement [[LocalRelation]] reuses the original plan's output
  *    attributes (same exprIds) — the schema graft of `lib.rs:872-881`.
  */
object UWheelRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!graft.Graft.rewritesEnabled || WheelRegistry.isEmpty || plan.isStreaming) return plan
    // Cheap pre-check (round-7 verdict): every rewrite arm bottoms out in
    // unwrap() resolving a LEAF to a registered index, so a plan containing
    // no such leaf cannot be rewritten — skip the Aggregate/Filter traversal
    // (and all its per-node classify/extract work) with one O(plan) probe
    // that does only hash-map membership tests. The full lookup (fingerprint
    // staleness, sameResult) still gates the actual rewrite inside unwrap.
    if (!touchesIndexedLeaf(plan)) return plan
    val stats = graft.Graft.rewriteStats
    val rewritten = plan.transformDown {
      // an ArithmeticException (multi-range sum overflow in RangeAgg.merge,
      // addExact on pathological mixed-sign data) must degrade to the scan,
      // never abort the query from inside the optimizer
      case agg: Aggregate =>
        try tryAggRewrite(agg).orElse(tryDimJoinRewrite(agg)) match {
          case Some(r) => stats.agg.incrementAndGet(); r
          case None => agg
        }
        catch { case _: ArithmeticException | _: DeclineRewrite => agg }
      case f: Filter =>
        try tryPrune(f) match {
          case Some(r) => stats.prune.incrementAndGet(); r
          case None => f
        }
        catch { case _: ArithmeticException | _: DeclineRewrite => f }
      // heavy-hitter shape: ORDER BY count DESC LIMIT n over GROUP BY key
      // (matched ABOVE the Aggregate — transformDown visits the limit
      // first, so on decline the Aggregate still gets the other arms)
      case gl: GlobalLimit =>
        try tryTopKRewrite(gl) match {
          case Some(r) => stats.topk.incrementAndGet(); r
          case None => gl
        }
        catch { case _: ArithmeticException | _: DeclineRewrite => gl }
    }
    if (rewritten.fastEquals(plan)) plan
    else { stats.plans.incrementAndGet(); cleanupLocal(rewritten) }
  }

  /** True iff some leaf of the plan COULD resolve to a registered index:
    * file scans by registry path key, in-memory leaves by registered ExprId
    * presence. Deliberately over-approximate (no fingerprint or sameResult
    * checks) — a false positive only costs the normal per-node matching,
    * while a false negative would silently disable rewrites. */
  private[rules] def touchesIndexedLeaf(plan: LogicalPlan): Boolean = plan.exists {
    case lr: LogicalRelation =>
      lr.relation match {
        case fs: HadoopFsRelation =>
          // all roots AND the canonical root-set key: a multi-root
          // relation registered under any non-head root — or as a root-SET
          // index — must still probe positive. A false negative here
          // silently disables rewrites (the over-approximation contract
          // above), while a false positive only costs matching
          WheelRegistry.mayMatchRoots(fs.location.rootPaths.map(_.toString))
        case _ => false
      }
    case leaf if leaf.children.isEmpty =>
      leaf.output.exists(a => WheelRegistry.mayMatchExprId(a.exprId.id))
    case _ => false
  }

  /** Post-rewrite cleanup: our rule runs after Spark's main optimizer
    * batches, so Project/Limit/Sort nodes sitting on the materialized
    * [[LocalRelation]] would each cost a full exchange/sort stage at run
    * time for a handful of rows. Fold them at plan time: Catalyst's own
    * ConvertToLocalRelation collapses Project/Filter/Limit, and the Sort arm
    * here pre-sorts the local rows (sound: downstream operators never assume
    * an ordering they didn't establish themselves). */
  private def cleanupLocal(plan: LogicalPlan): LogicalPlan = {
    val c2l = org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
    // Catalyst's own PropagateEmptyRelation batch already ran, so an empty
    // relation we emit would otherwise leave joins/aggregates (and their
    // scans of the other side) standing; re-running it collapses them.
    val per = org.apache.spark.sql.catalyst.optimizer.PropagateEmptyRelation
    val folded = per(c2l(plan)).transformDown {
      case Sort(order, true, lr: LocalRelation, _)
          if order.nonEmpty && order.forall(_.deterministic) =>
        val ordering = RowOrdering.create(
          order.map(BindReferences.bindReference(_, lr.output)), Nil)
        LocalRelation(lr.output, lr.data.sorted(ordering), lr.isStreaming)
    }
    c2l(folded)
  }

  // ---------------------------------------------------------------- unwrap

  private final case class Unwrapped(
      table: TableIndex,
      conjuncts: Seq[Expression],
      aliases: Map[ExprId, Expression])

  /** Peels Project/Filter/SubqueryAlias down to a wheel-indexed relation,
    * collecting filter conjuncts and alias definitions on the way. The alias
    * map makes the matcher robust to column pruning and
    * PullOutGroupingExpressions. */
  private def unwrap(plan: LogicalPlan): Option[Unwrapped] = {
    val aliases = mutable.Map.empty[ExprId, Expression]
    val conjuncts = Vector.newBuilder[Expression]

    @scala.annotation.tailrec
    def walk(p: LogicalPlan): Option[TableIndex] = p match {
      case Project(projList, child) =>
        if (projList.forall {
              case a: Alias if a.child.deterministic => aliases(a.exprId) = a.child; true
              case _: AttributeReference => true
              case _ => false
            }) walk(child)
        else None
      case Filter(cond, child) =>
        conjuncts ++= Canon.splitConjuncts(cond)
        walk(child)
      case s: SubqueryAlias => walk(s.child)
      case lr: LogicalRelation =>
        lr.relation match {
          case fs: HadoopFsRelation =>
            // Canonical root-SET key first (round-14 verdict task 4: a
            // multi-directory relation keyed on headOption alone never
            // served) — for single-root relations this IS the old key —
            // then per-member-root fallback for indexes registered under
            // just one member root. The fallback EXCLUDES fingerprint-0
            // indexes (stream snapshots / in-memory publishes): those
            // cover only their own root and pass the staleness gate below
            // unconditionally, so serving a multi-root relation from one
            // would silently drop every other root's rows (review
            // finding); fingerprinted member-root indexes decline soundly
            // at the gate over the combined listing, the pre-round-15
            // behavior.
            val roots = fs.location.rootPaths.map(_.toString)
            WheelRegistry.lookupQualified(roots)
              .orElse(if (roots.lengthCompare(1) > 0)
                roots.view.flatMap(r => WheelRegistry.lookupQualified(Seq(r)))
                  .filter(_.fingerprint != 0L).headOption
              else None)
              // Staleness gate: only rewrite when the table's current file
              // listing still matches the one the index was built from.
              .filter(t => t.fingerprint == 0L ||
                t.fingerprint == graft.index.UWheelIndex.fingerprintOf(fs.location))
          case _ => None
        }
      // in-memory (DataFrame-built) index: leaf must carry the registered
      // ExprIds AND be semantically identical to the registered plan —
      // Catalyst folds filters into local data before this rule runs, so a
      // same-ids leaf can be a row subset of the indexed table (matching it
      // by ids alone would answer from the wrong row set)
      case leaf if leaf.children.isEmpty =>
        WheelRegistry.lookupLeaf(leaf)
      case _ => None
    }

    walk(plan).map { t =>
      val am = aliases.toMap
      Unwrapped(t, conjuncts.result().map(resolve(_, am)), am)
    }
  }

  /** Inlines alias definitions (bounded fixpoint). */
  private def resolve(e: Expression, aliases: Map[ExprId, Expression]): Expression = {
    var cur = e
    var i = 0
    while (i < 8) {
      val next = cur.transformUp {
        case a: AttributeReference if aliases.contains(a.exprId) => aliases(a.exprId)
      }
      if (next.fastEquals(cur)) return cur
      cur = next
      i += 1
    }
    cur
  }

  // ----------------------------------------------------- aggregate rewrite

  /** Which wheel answers one Need: a fused numeric wheel, or a typed
    * wheel (whose answer doesn't come from a [[RangeAgg]]). */
  private sealed trait Src { def numeric: Option[IndexedWheel] }
  private final case class NumSrc(w: IndexedWheel) extends Src {
    def numeric: Option[IndexedWheel] = Some(w)
  }
  /** A [[SketchWheel]] of slot span `span`: `over` answers the need over a
    * set of disjoint ranges ([[SketchKind]]). */
  private final case class SketchSrc(span: Long, over: Seq[(Long, Long)] => Any) extends Src {
    def numeric: Option[IndexedWheel] = None
  }
  /** Exact COUNT(DISTINCT key): answered from the COMPLETE per-value keyed
    * wheel set (one `k = v` wheel per live value) anchored by the unfiltered
    * wheel — the same plan-time counting proof as the multi-column GROUP BY
    * arm (sum of per-value counts must equal the unfiltered count) certifies
    * no value and no NULL-keyed row escaped the enumeration, so the count of
    * values with a nonzero range count IS the exact distinct count.
    * `numeric` exposes the anchor so the grouped arm's shared
    * bucket-enumeration and identical-keyset checks cover it. */
  private final case class DistinctSetSrc(base: IndexedWheel,
      perValue: Seq[IndexedWheel]) extends Src {
    def numeric: Option[IndexedWheel] = Some(base)
  }
  /** Residual `key IN (v₁…vₖ)` answered by the UNION of per-value keyed
    * wheels: a row has exactly one key value, so the per-value row sets are
    * disjoint and merging their [[RangeAgg]]s is additive-exact — the keyed
    * analogue of the multi-range OR union. Plan-time dim-join folding
    * (round-7 verdict task 5) lowers a small-dim equi-join to exactly this
    * residual. 0-grouping arm only (`numeric` = None keeps it out of the
    * grouped arms' shared-enumeration machinery, which declines it). */
  private final case class UnionSrc(ws: Seq[IndexedWheel]) extends Src {
    def numeric: Option[IndexedWheel] = None
  }

  /** What one AggregateExpression needs from the index.
    * `hllP` is only meaningful for kind == "hll" (register precision the
    * query's aggregate was invoked with — must match the wheel's). */
  private final case class Need(column: Option[String], kind: String,
                                decScale: Option[Int], hllP: Int = 0,
                                /** Result scale for "avgdec" (the aggregate's
                                  * own DecimalType scale, column scale + 4
                                  * under Spark's bounding rules). */
                                resScale: Int = 0,
                                /** The "hdrq" quantile argument (q ∈ [0,1]);
                                  * `hllP` doubles as its resolution `s`. */
                                qArg: Double = 0.0,
                                /** The "moment" stat name (var_samp …);
                                  * `decScale` carries its fixed-point scale. */
                                stat: String = "",
                                /** For "moment" under an explicit
                                  * Cast(col AS DECIMAL(p, s)): the target
                                  * precision p — the wheel's absMax must
                                  * prove the cast can never overflow (ANSI
                                  * would throw mid-scan). None for a bare
                                  * column reference. */
                                castP: Option[Int] = None,
                                /** "comoment" second column + its scale and
                                  * cast-precision gates. */
                                column2: Option[String] = None,
                                decScale2: Option[Int] = None,
                                castP2: Option[Int] = None,
                                /** Per-NEED residual key parts from the
                                  * aggregate's own predicate — a FILTER
                                  * (WHERE p) clause or a CASE WHEN p THEN x
                                  * [ELSE NULL] child. Merged with the
                                  * query's WHERE residual, this routes the
                                  * need to the KEYED wheel built with the
                                  * combined canonical key ("clicks and
                                  * views in one dashboard row"). */
                                ownParts: Seq[String] = Nil,
                                /** The "cms" target value and depth
                                  * (`hllP` doubles as its logW). */
                                cmsTarget: Long = 0L,
                                cmsD: Int = 0) {
    /** The column(s) the need measures: x then y for a co-moment pair. */
    def columns: List[String] = column.toList ++ column2
    def value(ra: RangeAgg): Any = kind match {
      case "count" | "countcol" => ra.count
      case "sum"    => ra.sum.map(Double.box).orNull
      case "sumdec" => ra.sumDecimal.map(Decimal(_)).orNull
      case "avg"    => ra.avg.map(Double.box).orNull
      case "min"    => ra.minOpt.map(Double.box).orNull
      case "max"    => ra.maxOpt.map(Double.box).orNull
      // decimal-typed MIN/MAX: the wheel stores extrema as doubles; the
      // valuesExactAtScale gate proved every value's double image converts
      // back to the original decimal exactly, so this reconstruction (the
      // same shortest-representation conversion Spark's double→decimal
      // cast performs) is the true column value
      case "mindec" => ra.minOpt.map(decOf).orNull
      case "maxdec" => ra.maxOpt.map(decOf).orNull
      // AVG over a decimal column: exact scaled sum ÷ count at the result
      // scale, HALF_UP — digit-identical to Spark's decimal Average
      // (single-rounding equivalence holds: an exact quotient can only sit
      // on a result-scale half-boundary when the division is exact there)
      case "avgdec" => ra.sumDecimal.map(sd => Decimal(
        sd.divide(java.math.BigDecimal.valueOf(ra.count), resScale,
          java.math.RoundingMode.HALF_UP))).orNull
    }
    private def decOf(d: Double): Decimal =
      Decimal(BigDecimal(java.math.BigDecimal.valueOf(d))
        .setScale(decScale.get, scala.math.BigDecimal.RoundingMode.HALF_UP))
  }

  private def classify(ae: AggregateExpression): Option[Need] = {
    // FILTER (WHERE p): a deterministic predicate becomes per-need key
    // parts, routing the need to the KEYED wheel whose canonical key is
    // the WHERE residual merged with p (srcFor computes the merge). A
    // non-deterministic predicate — or FILTER on a distinct aggregate,
    // whose per-value wheel sets have no (value × p) members — declines.
    val filterParts: Seq[String] = ae.filter match {
      case None => Nil
      case Some(p) if p.deterministic => Canon.canonParts(Canon.splitConjuncts(p))
      case _ => return None
    }
    if (ae.filter.isDefined && ae.isDistinct) return None
    classifyFn(ae).map(n => n.copy(ownParts = n.ownParts ++ filterParts))
  }

  /** Canonical key of a derived-EXPRESSION measure — the query-side twin of
    * the build's `UWheelIndex.exprKeyOf` registration key: a deterministic,
    * aggregate-free, non-trivial scalar composition over the table's
    * columns (`l_extendedprice * (1 - l_discount)`). [[Canon.canonExpr]]
    * strips qualifiers/ExprIds and folds foldable subtrees, so the
    * optimized query child and the build-side analyzed expression agree.
    * Bare attributes return None (they route through the named-column
    * arms); so do foldable constants (no rows to index). */
  private def exprMeasureKey(e: Expression): Option[String] = e match {
    case _: AttributeReference => None
    case _ if !e.deterministic || e.references.isEmpty => None
    case _ if e.exists(_.isInstanceOf[AggregateExpression]) => None
    case _ => Some(Canon.canonExpr(e))
  }

  /** `CASE WHEN p THEN x [ELSE NULL]` inside an aggregate ≡ the aggregate
    * over x FILTER (WHERE p) — every SQL aggregate skips NULLs, and the
    * absent/NULL else branch makes non-matching rows NULL. Returns the
    * unwrapped child and p's canonical key parts. An ELSE with any other
    * value (e.g. 0) changes zero-match semantics and stays unmatched. */
  private def caseFilterOf(e: Expression): (Expression, Seq[String]) = e match {
    case CaseWhen(Seq((p, branch)), elseOpt)
        if p.deterministic && elseOpt.forall {
          case Literal(null, _) => true
          case _ => false
        } =>
      (branch, Canon.canonParts(Canon.splitConjuncts(p)))
    case other => (other, Nil)
  }

  private def classifyFn(ae: AggregateExpression): Option[Need] = {
    if (ae.isDistinct) return ae.aggregateFunction match {
      // exact COUNT(DISTINCT key): served by the complete per-value keyed
      // wheel set under a counting proof (srcFor "cntdist"). Any other
      // distinct aggregate declines. Single-distinct aggregates reach the
      // rule un-expanded at both injection points: the operator-optimization
      // batch runs before RewriteDistinctAggregates, and that rule leaves
      // single-group distincts for physical planning.
      case Count(Seq(a: AttributeReference)) =>
        Some(Need(Some(a.name), "cntdist", None))
      case _ => None
    }
    ae.aggregateFunction match {
      case Count(Seq(Literal(v, _))) if v != null => Some(Need(None, "count", None))
      case Count(Nil) => Some(Need(None, "count", None))
      // COUNT(col): equals COUNT(*) when the wheel proved col NULL-free
      // (wheelFor gates on valueAllNonNull for column-bearing needs).
      case Count(Seq(a: AttributeReference))
          if a.dataType == DoubleType || a.dataType.isInstanceOf[DecimalType] =>
        Some(Need(Some(a.name), "countcol", None))
      // COUNT(CASE WHEN p THEN lit END): rows matching p — the keyed count
      case Count(Seq(cw: CaseWhen)) =>
        caseFilterOf(cw) match {
          case (Literal(v, _), parts) if v != null && parts.nonEmpty =>
            Some(Need(None, "count", None, ownParts = parts))
          case (a: AttributeReference, parts)
              if parts.nonEmpty &&
                (a.dataType == DoubleType || a.dataType.isInstanceOf[DecimalType]) =>
            Some(Need(Some(a.name), "countcol", None, ownParts = parts))
          case _ => None
        }
      // COUNT(<expr>) over a derived-expression wheel: countcol's
      // valueAllNonNull gate proves the expression never evaluated to NULL,
      // making it COUNT(*)
      case Count(Seq(e))
          if e.dataType == DoubleType || e.dataType.isInstanceOf[DecimalType] =>
        exprMeasureKey(e).map(k => Need(Some(k), "countcol", None))
      // DecimalType measure columns (real TPC-H dumps store quantities and
      // prices as DECIMAL): the wheel is built AT THE COLUMN'S OWN SCALE and
      // sums the decimal directly, so SUM needs no exactness gate at all —
      // the scaled-long slot sums ARE the column's exact arithmetic
      // (generalizing the reference's accept-all-numerics guard,
      // `lib.rs:1161-1176`, which lowers everything to f64). AVG over
      // decimal divides the exact scaled sum by the count at the result
      // scale (s+4) with HALF_UP — digit-identical to Spark's decimal
      // Average (probed and spec-asserted vs the unrewritten plan).
      case s: Sum =>
        val (ch, parts) = caseFilterOf(s.child)
        (ch match {
          case a: AttributeReference if a.dataType == DoubleType =>
            Some(Need(Some(a.name), "sum", None))
          case a: AttributeReference if a.dataType.isInstanceOf[DecimalType] =>
            Some(Need(Some(a.name), "sumdec",
              Some(a.dataType.asInstanceOf[DecimalType].scale)))
          case Cast(a: AttributeReference, dt: DecimalType, _, _) if a.dataType == DoubleType =>
            Some(Need(Some(a.name), "sumdec", Some(dt.scale)))
          // derived-expression measures ("revenue"): route by canonical key
          // to a wheel built with UWheelBuilder.withExprWheel. The decimal-
          // cast form matches the wheel's HALF_UP arithmetic by
          // construction; the plain double form is exactness-gated like any
          // double-column sum (wheelFor's valuesExactAtScale filter).
          case Cast(e, dt: DecimalType, _, _) if e.dataType == DoubleType =>
            exprMeasureKey(e).map(k => Need(Some(k), "sumdec", Some(dt.scale)))
          case e if e.dataType == DoubleType =>
            exprMeasureKey(e).map(k => Need(Some(k), "sum", None))
          case e if e.dataType.isInstanceOf[DecimalType] =>
            exprMeasureKey(e).map(k => Need(Some(k), "sumdec",
              Some(e.dataType.asInstanceOf[DecimalType].scale)))
          case _ => None
        }).map(_.copy(ownParts = parts))
      case av: Average =>
        val (ch, parts) = caseFilterOf(av.child)
        (ch match {
          case a: AttributeReference if a.dataType == DoubleType =>
            Some(Need(Some(a.name), "avg", None))
          case a: AttributeReference if a.dataType.isInstanceOf[DecimalType] =>
            ae.dataType match {
              case rt: DecimalType =>
                Some(Need(Some(a.name), "avgdec",
                  Some(a.dataType.asInstanceOf[DecimalType].scale), resScale = rt.scale))
              case _ => None
            }
          // derived-expression AVG: the decimal-cast form divides the exact
          // scaled sum at the result scale; the plain double form is
          // exactness-gated like a double column
          case Cast(e, dt: DecimalType, _, _) if e.dataType == DoubleType =>
            ae.dataType match {
              case rt: DecimalType =>
                exprMeasureKey(e).map(k =>
                  Need(Some(k), "avgdec", Some(dt.scale), resScale = rt.scale))
              case _ => None
            }
          case e if e.dataType == DoubleType =>
            exprMeasureKey(e).map(k => Need(Some(k), "avg", None))
          case _ => None
        }).map(_.copy(ownParts = parts))
      case Min(ch0) =>
        val (ch, parts) = caseFilterOf(ch0)
        (ch match {
          case a: AttributeReference if a.dataType == DoubleType =>
            Some(Need(Some(a.name), "min", None))
          case a: AttributeReference if a.dataType.isInstanceOf[DecimalType] =>
            Some(Need(Some(a.name), "mindec",
              Some(a.dataType.asInstanceOf[DecimalType].scale)))
          case e if e.dataType == DoubleType =>
            exprMeasureKey(e).map(k => Need(Some(k), "min", None))
          // DecimalType-valued derived expression (min(dec_price * dec_qty)):
          // routes to its expr wheel at the expression's own scale, served
          // through the same valuesExactAtScale double-image gate as a
          // decimal column (round-9 advice: the Sum/Avg arms accepted these
          // while Min/Max silently declined)
          case e if e.dataType.isInstanceOf[DecimalType] =>
            exprMeasureKey(e).map(k => Need(Some(k), "mindec",
              Some(e.dataType.asInstanceOf[DecimalType].scale)))
          case _ => None
        }).map(_.copy(ownParts = parts))
      case Max(ch0) =>
        val (ch, parts) = caseFilterOf(ch0)
        (ch match {
          case a: AttributeReference if a.dataType == DoubleType =>
            Some(Need(Some(a.name), "max", None))
          case a: AttributeReference if a.dataType.isInstanceOf[DecimalType] =>
            Some(Need(Some(a.name), "maxdec",
              Some(a.dataType.asInstanceOf[DecimalType].scale)))
          case e if e.dataType == DoubleType =>
            exprMeasureKey(e).map(k => Need(Some(k), "max", None))
          // see the Min arm: decimal-valued derived expressions route to
          // their expr wheel through the maxdec gate
          case e if e.dataType.isInstanceOf[DecimalType] =>
            exprMeasureKey(e).map(k => Need(Some(k), "maxdec",
              Some(e.dataType.asInstanceOf[DecimalType].scale)))
          case _ => None
        }).map(_.copy(ownParts = parts))
      // hll_distinct(col): answered from an HLL sketch wheel with the same
      // precision. Integral columns are exact through long widening — the
      // wheel build's cast-to-long produces the same values, so both sides
      // hash identically (bare attribute or an explicit exact long cast).
      case h: graft.functions.HllDistinctAgg if !h.returnRegisters =>
        val integral = Seq(ByteType, ShortType, IntegerType, LongType)
        h.child match {
          case a: AttributeReference if integral.contains(a.dataType) =>
            Some(Need(Some(a.name), "hll", None, h.p))
          case Cast(a: AttributeReference, LongType, _, _)
              if integral.contains(a.dataType) =>
            Some(Need(Some(a.name), "hll", None, h.p))
          // derived-expression measure: routed by canonical key to a wheel
          // built with withDistinctWheel("<expr>") — integral image, so the
          // build's cast-to-long hashes the same values the aggregate does
          case e if integral.contains(e.dataType) =>
            exprMeasureKey(e).map(k => Need(Some(k), "hll", None, h.p))
          case _ => None
        }
      // hdr_quantile(col, q[, s]): answered from a quantile-sketch wheel
      // with the same resolution. The wheel buckets the column's DOUBLE
      // image (cast(col as double) in the build projection), which is
      // exactly the image the aggregate's own toDouble produces — so both
      // sides bucket identical doubles and content equality holds.
      case h: graft.functions.HdrQuantileAgg if !h.returnBins =>
        val numeric = Seq(DoubleType, org.apache.spark.sql.types.FloatType,
          ByteType, ShortType, IntegerType, LongType)
        h.child match {
          case a: AttributeReference
              if numeric.contains(a.dataType) || a.dataType.isInstanceOf[DecimalType] =>
            Some(Need(Some(a.name), "hdrq", None, h.s, qArg = h.q))
          case Cast(a: AttributeReference, DoubleType, _, _)
              if numeric.contains(a.dataType) || a.dataType.isInstanceOf[DecimalType] =>
            Some(Need(Some(a.name), "hdrq", None, h.s, qArg = h.q))
          // derived-expression measure: the wheel bucketed cast(expr as
          // double) — the same image the aggregate's toDouble produces
          case e if numeric.contains(e.dataType) || e.dataType.isInstanceOf[DecimalType] =>
            exprMeasureKey(e).map(k => Need(Some(k), "hdrq", None, h.s, qArg = h.q))
          case _ => None
        }
      // cms_freq(key, target): answered from a Count-Min frequency-sketch
      // wheel with the same (logW, d) counter matrix. Integral keys are
      // exact through long widening — the wheel build's cast-to-long
      // produces the same values, so both sides hash identically.
      case c: graft.functions.CmsFreqAgg if !c.returnSketch =>
        val integral = Seq(ByteType, ShortType, IntegerType, LongType)
        c.child match {
          case a: AttributeReference if integral.contains(a.dataType) =>
            Some(Need(Some(a.name), "cms", None, c.logW,
              cmsTarget = c.target, cmsD = c.d))
          case Cast(a: AttributeReference, LongType, _, _)
              if integral.contains(a.dataType) =>
            Some(Need(Some(a.name), "cms", None, c.logW,
              cmsTarget = c.target, cmsD = c.d))
          // derived-expression key (`cms_freq(user_id % 50, 7)`)
          case e if integral.contains(e.dataType) =>
            exprMeasureKey(e).map(k => Need(Some(k), "cms", None, c.logW,
              cmsTarget = c.target, cmsD = c.d))
          case _ => None
        }
      // wheel_var_samp / wheel_var_pop / wheel_stddev_samp / wheel_stddev_pop:
      // answered from an exact-moment wheel at the SAME fixed-point scale.
      // A bare column reference (DECIMAL at its own scale, integral at 0)
      // matches directly; an explicit Cast(col AS DECIMAL(p, s)) matches a
      // scale-s wheel — both sides round identically (HALF_UP at s), and
      // the recorded precision gates the ANSI overflow proof in srcFor.
      case m: graft.functions.MomentStatsAgg =>
        momentChild(m.child).map { case (c, s, p) =>
          Need(Some(c), "moment", Some(s), stat = m.stat, castP = p)
        }
      // wheel_covar_samp / wheel_covar_pop / wheel_corr: the co-moment
      // wheel over the column PAIR, same child forms and gates per side
      case cm: graft.functions.CoMomentStatsAgg =>
        for {
          (cx, sx, px) <- momentChild(cm.left)
          (cy, sy, py) <- momentChild(cm.right)
        } yield Need(Some(cx), "comoment", Some(sx), stat = cm.stat, castP = px,
          column2 = Some(cy), decScale2 = Some(sy), castP2 = py)
      case _ => None
    }
  }

  /** A moment-family child form: bare DECIMAL attr (its own scale), bare
    * integral attr (scale 0), or an explicit Cast to DECIMAL(p, s) —
    * returns (column, fixed-point scale, cast precision if explicit). */
  private def momentChild(e: Expression): Option[(String, Int, Option[Int])] = {
    val integral = Seq(ByteType, ShortType, IntegerType, LongType)
    e match {
      case a: AttributeReference if a.dataType.isInstanceOf[DecimalType] =>
        Some((a.name, a.dataType.asInstanceOf[DecimalType].scale, None))
      case a: AttributeReference if integral.contains(a.dataType) =>
        Some((a.name, 0, None))
      case Cast(a: AttributeReference, dt: DecimalType, _, _)
          if a.dataType == DoubleType || integral.contains(a.dataType) ||
            a.dataType.isInstanceOf[DecimalType] =>
        Some((a.name, dt.scale, Some(dt.precision)))
      // derived-expression measure under an explicit decimal cast — the
      // wheel's fixed-point probe ran over the same expression, so the
      // scale/castP gates compose identically (`wheel_var_samp(cast(
      // price * (1 - disc) as decimal(18, 2)))`)
      case Cast(e, dt: DecimalType, _, _)
          if e.dataType == DoubleType || integral.contains(e.dataType) ||
            e.dataType.isInstanceOf[DecimalType] =>
        exprMeasureKey(e).map(k => (k, dt.scale, Some(dt.precision)))
      case _ => None
    }
  }

  /** How a need reads a [[SketchWheel]] of one family, keyed by
    * [[Need.kind]]: which wheels can serve it — the query's aggregate
    * parameters must equal the wheel's (different parameters mean different
    * partials, so a different answer than running the query would give),
    * and the family's decline gates must hold — and how the merged partial
    * lowers to the answer, with the arithmetic the SQL aggregate uses. A
    * range set reads each range's partial and combines them once: the
    * ranges are disjoint, so register max, bin, counter and moment
    * addition are exact. Zero ranges lower the identity (0 distinct, 0
    * occurrences, NULL for a quantile or a moment statistic), matching the
    * SQL aggregate over empty input. */
  private final class SketchKind[P, Out, A <: WheelAggregator[_, P, Out]](
      family: SketchFamily[P, Out, A])(
      accepts: (Need, SketchWheel[P, Out, A]) => Boolean)(
      lower: (Need, A, P) => Any) {
    private def src(n: Need, w: Option[SketchWheel[P, Out, A]], spanOk: Long => Boolean): Option[Src] =
      w.filter(w => spanOk(w.scope.slotSpan)).map { w =>
        SketchSrc(w.scope.slotSpan, bs => {
          val parts = bs.map { case (s, e) => w.wheel.combineRange(s, e) }
          lower(n, w.agg, if (parts.isEmpty) w.agg.identity else parts.reduce(w.agg.combine))
        })
      }
    /** The wheel over the need's columns under residual key `key`. */
    def lookup(t: TableIndex, n: Need, key: String, spanOk: Long => Boolean): Option[Src] =
      src(n, t.wheel(family, n.columns, key).filter(accepts(n, _)), spanOk)
    /** The per-value wheel over the need's columns keyed `col = v`. */
    def forValue(t: TableIndex, n: Need, col: String, v: Literal, spanOk: Long => Boolean): Option[Src] =
      src(n, t.all(family).find(w => w.columns == n.columns && accepts(n, w) &&
        w.scope.filter.keyEq.exists(ke => ke._1 == col && ke._2 == v)), spanOk)
  }

  private val sketchKinds: Map[String, SketchKind[_, _, _]] = {
    import WheelFamily._
    def boxed(d: Option[Double]): Any = d.map(Double.box).orNull
    Map(
      "hll" -> new SketchKind(Hll)((n, w) => w.agg.p == n.hllP)((_, a, p) => Long.box(a.lower(p))),
      "hdrq" -> new SketchKind(Hdr)((n, w) => w.agg.s == n.hllP)(
        (n, a, p) => boxed(a.quantileOf(p, n.qArg))),
      "cms" -> new SketchKind(Cms)((n, w) => w.agg.logW == n.hllP && w.agg.d == n.cmsD)(
        (n, a, p) => Long.box(a.freqOf(p, n.cmsTarget))),
      "moment" -> new SketchKind(Moment)((n, w) => momentsOk(n, List(w.agg.scale), w.facts))(
        (n, a, p) => boxed(a.statOf(p, n.stat))),
      "comoment" -> new SketchKind(CoMoment)(
        (n, w) => momentsOk(n, List(w.agg.scaleX, w.agg.scaleY), w.facts))(
        (n, a, p) => boxed(a.statOf(p, n.stat))))
  }

  /** Moment-family serving gates: the wheel must cover every row the scan
    * would aggregate with the exact value the aggregate would see —
    * castFail ≠ 0 means rows escaped the fixed-point probe (or would make
    * the scan throw under ANSI); each column's scale must equal the
    * query's; an explicit Cast(… AS DECIMAL(p, s)) additionally needs the
    * absMax proof that the cast can never overflow (margin 1.0 absorbs the
    * double image's ulp; p − s ≥ 19 digits always hold |v| < 10^18, the
    * castFail probe). */
  private def momentsOk(n: Need, scales: List[Int], f: SketchFacts): Boolean =
    f.castFail == 0L &&
      List(n.decScale, n.decScale2).take(scales.length) == scales.map(Some(_)) &&
      List(n.castP, n.castP2).zip(scales.zip(f.absMax)).forall { case (cp, (s, m)) =>
        cp.forall(p => p - s >= 19 || m < math.pow(10d, p - s) - 1.0)
      }

  private def isTime(e: Expression, timeCol: String): Boolean =
    Extract.isTime(e, timeCol)

  private val LoSentinel = Long.MinValue / 4
  private val HiSentinel = Long.MaxValue / 4


  /** The per-value equality wheel set on `col`: every wheel keyed `col = v`
    * plus the distinct key values. BOTH completeness-proof arms — the exact
    * COUNT(DISTINCT) source and the two-column GROUP BY arm — enumerate
    * through here, so a change to the enumeration (dedup, routing) reaches
    * both proofs; soundness rests on the answer-time counting proof over
    * exactly this set. */
  private def keyedWheelSet(table: TableIndex, col: String)
      : (Seq[IndexedWheel], Seq[Literal]) = {
    val keyed = table.allWheels.filter(_.scope.filter.keyEq.exists(_._1 == col))
    (keyed, keyed.flatMap(_.scope.filter.keyEq).map(_._2).distinct)
  }

  /** Plan-time dim-join folding (round-7 verdict task 5): a group-less
    * aggregate over an INNER equi-join whose dim side is a SMALL
    * plan-time-known relation (a [[LocalRelation]] — a VALUES list, or a
    * dimension Catalyst already constant-folded) lowers to the same
    * aggregate over `factKey IN (dim keys)`, which the per-value
    * keyed-wheel union ([[UnionSrc]]) answers. Gates:
    *  - single bare-attribute equi-condition, INNER join;
    *  - aggregates reference only fact-side columns (the fold drops dim);
    *  - ≤ 64 dim rows, DISTINCT non-NULL atomic keys (a duplicate key
    *    would multiply its matched fact rows — decline rather than scale);
    *    NULL dim keys never equi-join and are dropped;
    *  - the fold is only a CANDIDATE: it stands when [[tryAggRewrite]]
    *    proves the folded aggregate wheel-answerable, else the original
    *    join plan is left untouched (never a plan regression).
    * Non-LocalRelation dim sides (scans, streams, non-deterministic
    * sources) decline — their rows are not knowable at plan time. */
  private def tryDimJoinRewrite(agg: Aggregate): Option[LogicalPlan] = {
    if (agg.groupingExpressions.nonEmpty) return None
    if (agg.aggregateExpressions.exists(!_.deterministic)) return None
    @scala.annotation.tailrec
    def stripProjects(p: LogicalPlan): LogicalPlan = p match {
      case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        stripProjects(child)
      case other => other
    }
    stripProjects(agg.child) match {
      case Join(l, r, org.apache.spark.sql.catalyst.plans.Inner,
          Some(EqualTo(x: AttributeReference, y: AttributeReference)), _) =>
        val sides = (l, r) match {
          case (lr: LocalRelation, f) => Some((lr, f))
          case (f, lr: LocalRelation) => Some((lr, f))
          case _                      => None
        }
        sides.flatMap { case (dim, fact) =>
          val (dimKey, factKey) =
            if (dim.output.exists(_.exprId == x.exprId) && fact.outputSet.contains(y))
              (x, y)
            else if (dim.output.exists(_.exprId == y.exprId) && fact.outputSet.contains(x))
              (y, x)
            else return None
          if (dim.data.length > 64) return None
          dimKey.dataType match { // only scalar keys: complex types never have per-value wheels
            case _: org.apache.spark.sql.types.ArrayType |
                 _: org.apache.spark.sql.types.MapType |
                 _: org.apache.spark.sql.types.StructType => return None
            case _ =>
          }
          if (agg.aggregateExpressions.exists(_.references.exists(dim.outputSet.contains)))
            return None
          val idx = dim.output.indexWhere(_.exprId == dimKey.exprId)
          val vals = dim.data.map(_.get(idx, dimKey.dataType)).filter(_ != null)
          if (vals.isEmpty || vals.distinct.length != vals.length) return None
          val folded = Aggregate(Nil, agg.aggregateExpressions,
            Filter(In(factKey, vals.map(v => Literal(v, dimKey.dataType))), fact))
          tryAggRewrite(folded)
        }
      case _ => None
    }
  }

  private def tryAggRewrite(agg: Aggregate): Option[LogicalPlan] = {
    if (agg.groupingExpressions.length > 2) return None
    if (agg.aggregateExpressions.exists(!_.deterministic)) return None
    // sliding window(ts, len, slide): strip the analyzer's Expand and treat
    // as a bucket arm whose member span is the full window length
    val sliding = slidingWindowOf(agg)
    val uw = unwrap(sliding.map(_._1).getOrElse(agg.child)).getOrElse(return None)
    val table = uw.table
    // Sub-second `window(ts, …)` group-bys — and scalar range aggregates
    // whose WHERE bounds are sub-second but whole-ms (retry below) —
    // switch the WHOLE rewrite into the MILLISECOND domain: predicate
    // extraction rounds to ms ticks instead of seconds, sources resolve
    // from the table's ms bottom-level wheels (HawWheel ticks = epoch ms,
    // UWheelBuilder.withMillisWheels), and the window arm divides µs by
    // 1000 instead of 1e6. Shapes with no ms twin — hll sketches,
    // per-value keyed wheels (exact distinct, IN-unions),
    // residual-filtered wheels — decline inside the arms/sources below.
    // Sub-MILLISECOND strides/bounds still decline: the ms level is the
    // bottom.
    val msWindow: Boolean = {
      def subsec(stride: Long, off: Long, member: Long): Boolean =
        (stride % 1000000L != 0 || off % 1000000L != 0 || member % 1000000L != 0) &&
          stride % 1000L == 0 && off % 1000L == 0 && member % 1000L == 0
      sliding match {
        case Some((_, t0, strideUs, offUs, lenUs)) =>
          isTime(t0, table.timeColumn) && subsec(strideUs, offUs, lenUs)
        case None => agg.groupingExpressions match {
          case Seq(g0) => resolve(g0, uw.aliases) match {
            case WindowStruct(t, slideUs, offUs, 0L, lenUs) if slideUs == lenUs =>
              isTime(t, table.timeColumn) && subsec(slideUs, offUs, slideUs)
            case _ => false
          }
          case _ => false
        }
      }
    }
    // Multi-range extraction: a pure-time OR / IN conjunct becomes a set of
    // disjoint ranges; per-range wheel answers merge additively. An EMPTY
    // set is a plan-time proof of contradiction — every aggregate sees zero
    // rows. Ranges are in the rewrite's TICK domain (seconds by default,
    // ms in msMode).
    val normalized = normalizeZoneCalendar(uw.conjuncts, table)
    def extractAt(tick: Long) = Extract.splitTimeRangeSet(
      normalized, table.timeColumn, zoneSpecOf(table), tick)
    var usPerTick = if (msWindow) 1000L else 1000000L
    var (ranges, residualRaw) = extractAt(usPerTick)
    var msMode = msWindow
    // scalar (ungrouped) aggregates over bounds that are inexact at second
    // granularity but exact at ms: serve them from the ms wheels — e.g.
    // `WHERE ts >= '…00.250' AND ts < '…05.750'`, which the reference
    // silently truncates to wheel slots (expr.rs:219-222) and the
    // second-domain gate here would hand back to the scan
    if (!msMode && agg.groupingExpressions.isEmpty &&
        ranges.exists(!_.exact) && table.anyMsWheel.isDefined) {
      val (r2, res2) = extractAt(1000L)
      if (r2.forall(_.exact)) {
        ranges = r2; residualRaw = res2; msMode = true; usPerTick = 1000L
      }
    }
    if (ranges.exists(!_.exact)) return None
    if (ranges.exists(!_.isBounded) && !table.tsAllNonNull) return None
    val residual = Extract.dropImpliedNotNull(residualRaw)
    val residualParts = Canon.canonParts(residual)
    val filterKey = Canon.joinParts(residualParts)
    /** Effective wheel-routing key for one need: the WHERE residual merged
      * with the need's own FILTER/CASE predicate parts (canonical,
      * deduplicated, sorted — the same form the build side registers). */
    def keyFor(n: Need): String =
      if (n.ownParts.isEmpty) filterKey
      else Canon.joinParts(residualParts ++ n.ownParts)
    val bounds: Seq[(Long, Long)] = ranges.map(r =>
      (r.startSec.getOrElse(LoSentinel), r.endSec.getOrElse(HiSentinel)))

    def coverageOk(w: IndexedWheel): Boolean = w.scope.coverage match {
      case None => true
      case Some((cs, ce)) =>
        ranges.forall(r => r.startSec.exists(_ >= cs) && r.endSec.exists(_ <= ce))
    }

    // Coarsened wheels (slotSpan > 1) only answer span-aligned ranges
    // exactly; unbounded sides are clamped to the (aligned) wheel extent.
    // Alignment goes through HawWheel.alignDown so the rule can never
    // disagree with the wheel's own slotting convention.
    /** Span-alignment gate, ONE definition for every wheel family, read
      * from the wheel's [[graft.index.WheelScope]]. A span-coarsened build
      * produced span-aligned slots, so a bound that is not slot-aligned
      * would silently include/exclude whole slots of content — decline
      * instead. */
    def spanAligned(span: Long): Boolean =
      span == 1L || ranges.forall(r =>
        r.startSec.forall(s => HawWheel.alignDown(s, span) == s) &&
        r.endSec.forall(e => HawWheel.alignDown(e, span) == e))
    def spanOk(w: FamilyWheel): Boolean = spanAligned(w.scope.slotSpan)

    /** Merged aggregate over the (disjoint) range set on one wheel. */
    def rangeAggOf(hw: HawWheel): RangeAgg =
      if (bounds.isEmpty)
        RangeAgg(0L, 0L, Double.PositiveInfinity, Double.NegativeInfinity, hw.scale)
      else bounds.map { case (s, e) => hw.range(s, e) }.reduce(_.merge(_))

    // msMode source lookup: ms wheels are unfiltered by construction, so a
    // residual filter key has no ms twin and declines here.
    def msBase(col: Option[String]): Option[IndexedWheel] =
      if (filterKey.nonEmpty) None
      else col match {
        case None => table.anyMsWheel
        case c    => table.msWheel(c)
      }

    def wheelFor(n: Need): Option[IndexedWheel] = {
      // ms wheels are unfiltered by construction: a per-need predicate has
      // no ms twin
      if (msMode && n.ownParts.nonEmpty) return None
      val key = keyFor(n)
      (n.column match {
      case None => if (msMode) msBase(None) else table.anyForFilter(key)
      case Some(c) =>
        (if (msMode) msBase(Some(c)) else table.get(Some(c), key)).filter(qualityOk(n, _))
      }).filter(coverageOk).filter(spanOk)
    }

    /** Whether numeric wheel `w` answers column-bearing need `n` exactly.
      * Plain SUM/AVG over doubles are only exact when every value is
      * representable at the wheel's decimal scale (the scaled sum would
      * otherwise be a rounded answer); the explicit sum-over-decimal-cast
      * form — and SUM over a decimal column, whose wheel summed the decimal
      * itself — matches the wheel's arithmetic by construction and needs no
      * gate. Decimal MIN/MAX ("mindec"/"maxdec") flip the gate's direction:
      * for a decimal-built wheel, valuesExactAtScale records that every
      * value's DOUBLE image round-trips back to the original decimal
      * exactly — required because the wheel stores extrema as doubles.
      * MIN/MAX read only NaN-free wheels: the wheel's range reads do not
      * order NaN above everything as Spark does. */
    def qualityOk(n: Need, w: IndexedWheel): Boolean =
      w.facts.valueAllNonNull &&
        n.decScale.forall(_ == w.wheel.scale) &&
        (n.kind == "sumdec" || n.kind == "avgdec" || n.kind == "min" ||
          n.kind == "max" || n.kind == "countcol" || w.facts.valuesExactAtScale) &&
        ((n.kind != "min" && n.kind != "max") || w.facts.valuesNaNFree)

    def srcFor(n: Need): Option[Src] = n.kind match {
      // The typed families: a residual predicate routes to the KEYED wheel
      // built with the same canonical filter key (partials that saw only
      // matching rows), gated on span alignment like the numeric wheels.
      // The ms domain has no typed wheels — second-domain partials read
      // with ms bounds would be garbage, so the gate is structural.
      case k if sketchKinds.contains(k) =>
        if (msMode) None else sketchKinds(k).lookup(table, n, keyFor(n), spanAligned)
      // exact COUNT(DISTINCT k): the complete per-value `k = v` wheel set.
      // A residual filter declines — per-value wheels are keyed on the
      // value equality alone, so a residual would need per-(value ×
      // residual) wheels nobody builds. Completeness is not assumed: the
      // answer-time counting proof rejects any range (or bucket) whose
      // per-value counts don't sum to the unfiltered count, which is
      // exactly the condition under which a NULL key or an uncovered value
      // would make the enumeration-based count wrong.
      case "cntdist" =>
        if (filterKey.nonEmpty || msMode) None // per-value wheels are second-domain
        else for {
          c <- n.column
          (keyed, values) = keyedWheelSet(table, c)
          if values.nonEmpty
          pv = values.flatMap(v => numericForValue(Need(None, "count", None), keyed, v))
          if pv.length == values.length
          base <- table.anyForFilter("").filter(coverageOk).filter(spanOk)
        } yield DistinctSetSrc(base, pv)
      case _ => wheelFor(n).map(NumSrc).orElse(unionWheelsFor(n).map(UnionSrc))
    }

    // Residual decomposition for UnionSrc: a SINGLE conjunct of the form
    // `key IN (lits)` / `key = l1 OR key = l2 …` over one column. NULL
    // literals are dropped — a NULL element never contributes rows (the
    // membership test yields NULL, filtered) — and values are deduped
    // (IN is set membership).
    lazy val residualInVals: Option[(String, Seq[Literal])] = residual match {
      case Seq(one) =>
        def orEqs(e: Expression): Option[Seq[(String, Literal)]] = e match {
          case Or(l, r) => for { a <- orEqs(l); b <- orEqs(r) } yield a ++ b
          case EqualTo(a: AttributeReference, l: Literal) => Some(Seq((a.name, l)))
          case EqualTo(l: Literal, a: AttributeReference) => Some(Seq((a.name, l)))
          case _ => None
        }
        (one match {
          case In(a: AttributeReference, vs)
              if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
            Some((a.name, vs.map(_.asInstanceOf[Literal])))
          case InSet(a: AttributeReference, hs) if hs.nonEmpty =>
            Some((a.name, hs.toSeq.map(v => Literal(v, a.dataType))))
          case o: Or =>
            orEqs(o).flatMap { eqs =>
              val cols = eqs.map(_._1).distinct
              if (cols.length == 1) Some((cols.head, eqs.map(_._2))) else None
            }
          case _ => None
        }).map { case (c, ls) => (c, ls.filter(_.value != null)) }
          .filter(_._2.nonEmpty)
      case _ => None
    }

    /** One per-value keyed wheel per distinct IN value — ALL values must
      * have one (a missing value could hold rows no wheel sees), and every
      * wheel must pass the same value-quality/coverage/span gates as
      * [[wheelFor]]. Bounded at 64 values (oversized lists decline). */
    def unionWheelsFor(n: Need): Option[Seq[IndexedWheel]] =
      if (msMode || n.ownParts.nonEmpty) None // per-value keyed wheels are second-domain, residual-only
      else residualInVals.flatMap { case (col, lits) =>
        val dedup = lits.map(l => (l.dataType, l.value)).distinct
        if (dedup.isEmpty || dedup.size > 64) None
        else {
          val (keyed, _) = keyedWheelSet(table, col)
          val ws = dedup.flatMap { case (dt, v) =>
            keyed.find(_.scope.filter.keyEq.exists { case (c, kl) =>
              c == col && kl.dataType == dt && kl.value == v
            })
          }
          if (ws.length != dedup.size) None
          else {
            val ok = ws.forall { w =>
              (n.column match {
                case None => true // any per-value wheel's count is the rows with key = v
                case Some(c) => w.valueColumn.contains(c) && qualityOk(n, w)
              }) && coverageOk(w) && spanOk(w)
            }
            if (ok) Some(ws) else None
          }
        }
      }

    /** The wheel serving need `n` over the rows whose key column equals `v`,
      * from that column's per-value equality wheel set `keyed` — one lookup
      * for both per-value GROUP BY arms, whose counting proofs certify the
      * per-value partition is complete. A numeric need reads a `key = v`
      * wheel of its measure (any one for COUNT(*)); a typed family's need
      * reads its per-value KEYED wheel, whose partials saw only that
      * group's rows ("distinct purchasers per event type", "p99 per event
      * type"). */
    def numericForValue(n: Need, keyed: Seq[IndexedWheel], v: Literal): Option[IndexedWheel] = {
      val cands = keyed.filter(_.scope.filter.keyEq.exists(_._2 == v))
        .filter(coverageOk).filter(spanOk)
      n.column match {
        case None    => cands.headOption
        case Some(c) => cands.filter(_.valueColumn.contains(c)).find(qualityOk(n, _))
      }
    }
    def srcForValue(n: Need, key: String, keyed: Seq[IndexedWheel], v: Literal): Option[Src] =
      sketchKinds.get(n.kind) match {
        case Some(k) => k.forValue(table, n, key, v, spanAligned)
        case None    => numericForValue(n, keyed, v).map(NumSrc)
      }

    // Collect and classify every aggregate sub-expression in the output.
    val resolvedOutputs: Seq[Expression] = agg.aggregateExpressions.map {
      case a: Alias => resolve(a.child, uw.aliases)
      case other    => resolve(other, uw.aliases)
    }
    // Stage 1: classify every aggregate (shape only — shared by all arms).
    val needList = mutable.LinkedHashMap.empty[Expression, Need]
    var classified = true
    resolvedOutputs.foreach(_.foreach {
      case ae: AggregateExpression if classified && !needList.contains(ae.canonicalized) =>
        classify(ae) match {
          case Some(n) => needList(ae.canonicalized) = n
          case None    => classified = false
        }
      case _ => ()
    })
    if (!classified) return None

    // Stage 2: resolve each need against the residual-matched wheel set —
    // what the 0- and 1-column grouping arms answer from (the multi-column
    // arm routes per key value instead, so it skips this resolution).
    lazy val needs: Option[mutable.LinkedHashMap[Expression, (Need, Src)]] = {
      val m = mutable.LinkedHashMap.empty[Expression, (Need, Src)]
      val ok = needList.forall { case (k, n) =>
        srcFor(n) match {
          case Some(s) => m(k) = (n, s); true
          case None    => false
        }
      }
      if (ok) Some(m) else None
    }

    // Row building is COMPILE-ONCE: the aggregate/group-key substitution
    // and validity analysis run one time per rewrite (aggregates and group
    // keys become BoundReferences into a value row), and each bucket then
    // pays one interpreted eval of the tiny substituted trees — not a
    // transformDown + semanticEquals walk per output per row, which at
    // 46k window buckets × 4 outputs was ~40% of the rewrite's plan time
    // (round-9 verdict's uw_window_subsec finding).
    final class CompiledRows(val aggKeys: IndexedSeq[Expression],
                             nKeys: Int, outs: Array[Expression]) {
      /** `values` = agg slots in `aggKeys` order ++ group-key values. */
      def rowRaw(values: Array[Any]): Option[InternalRow] = {
        val input = new GenericInternalRow(values)
        val vals = new Array[Any](outs.length)
        var k = 0
        while (k < outs.length) {
          try vals(k) = outs(k).eval(input)
          catch { case scala.util.control.NonFatal(_) => return None }
          k += 1
        }
        Some(new GenericInternalRow(vals))
      }
      def row(aggValues: Map[Expression, (Any, DataType)],
              groupKeys: Seq[(Expression, Literal)]): Option[InternalRow] = {
        val arr = new Array[Any](aggKeys.length + nKeys)
        var i = 0
        while (i < aggKeys.length) {
          aggValues.get(aggKeys(i)) match {
            case Some((v, _)) => arr(i) = v
            case None         => return None
          }
          i += 1
        }
        var j = 0
        while (j < nKeys) {
          arr(aggKeys.length + j) = groupKeys(j)._2.value
          j += 1
        }
        rowRaw(arr)
      }
    }
    def compileRowsFrom(aggKeyDts: IndexedSeq[(Expression, DataType)],
                        keyExprDts: IndexedSeq[(Expression, DataType)]): Option[CompiledRows] = {
      val aggKeys = aggKeyDts.map(_._1)
      val slotOf = aggKeys.zipWithIndex.toMap
      val keyExprs = keyExprDts.map(_._1)
      var ok = true
      val outs = resolvedOutputs.map { resolved =>
        resolved.transformDown {
          case ae: AggregateExpression =>
            slotOf.get(ae.canonicalized) match {
              case Some(i) => BoundReference(i, aggKeyDts(i)._2, nullable = true)
              case None    => ok = false; ae
            }
          case e if keyExprs.exists(_.semanticEquals(e)) =>
            val j = keyExprs.indexWhere(_.semanticEquals(e))
            BoundReference(aggKeys.length + j, keyExprDts(j)._2, nullable = true)
        }
      }
      if (!ok || outs.exists(o => o.references.nonEmpty ||
          o.exists(_.isInstanceOf[AggregateExpression]))) None
      else Some(new CompiledRows(aggKeys, keyExprs.length, outs.toArray))
    }
    // Some(None) = compiled and found invalid (decline every row);
    // None = not compiled yet. One shape per rewrite arm by construction
    // (each query runs exactly one arm's row loop).
    var compiledRows: Option[Option[CompiledRows]] = None
    def buildRow(aggValues: Map[Expression, (Any, DataType)],
                 groupKeys: Seq[(Expression, Literal)]): Option[InternalRow] = {
      if (compiledRows.isEmpty)
        compiledRows = Some(compileRowsFrom(
          aggValues.keys.toIndexedSeq.map(k => (k, aggValues(k)._2)),
          groupKeys.toIndexedSeq.map { case (e, l) => (e, l.dataType) }))
      compiledRows.get.flatMap(_.row(aggValues, groupKeys))
    }

    /** `GROUP BY key` (no time bucket) over a time range — the everyday
      * "top event types last week" dashboard shape — answered from the
      * COMPLETE per-value equality wheel set: one result row per key value
      * whose wheel counts rows in the range, aggregates read per value,
      * under the same plan-time counting proof as the multi-column arm
      * (per-value range counts must sum to the unfiltered count, so NULL
      * keys and uncovered values decline rather than mis-answer).
      * `hll_distinct` routes to the per-value KEYED distinct wheels
      * ("distinct purchasers per event type"). A `k IN (…)` residual ON
      * THE GROUP KEY restricts the enumeration instead of declining (the
      * residual itself proves coverage — see inRestrict below); other
      * residuals, msMode, and COUNT(DISTINCT key)-grouped-by-key
      * decline. */
    def keyedOnlyGroupBy(keyAttr: AttributeReference): Option[LogicalPlan] = {
      if (msMode) return None
      // per-need predicates would need (value × p) wheels nobody builds
      if (needList.values.exists(_.ownParts.nonEmpty)) return None
      if (needList.values.exists(_.kind == "cntdist")) return None
      // `k IN (v₁…vₖ)` residual ON THE GROUP KEY: each output group is one
      // IN value and its rows are exactly that value's rows, so the
      // per-value wheels cover the residual BY CONSTRUCTION and the
      // completeness counting proof is unnecessary (it would also wrongly
      // fail — values outside the IN list exist). Every IN value must
      // still have a wheel (a missing one could hold unseen rows). Any
      // other residual declines as before.
      val inRestrict: Option[Seq[(DataType, Any)]] =
        if (filterKey.isEmpty) None
        else residualInVals match {
          case Some((c, lits)) if c == keyAttr.name =>
            Some(lits.map(l => (l.dataType, l.value)).distinct)
          case _ => return None
        }
      val (keyed, allValues) = keyedWheelSet(table, keyAttr.name)
      val values0: Seq[Literal] = allValues.filter(_.dataType == keyAttr.dataType)
      val values: Seq[Literal] = inRestrict match {
        case None => values0
        case Some(keys) =>
          val found = keys.flatMap { case (dt, v) =>
            values0.find(l => l.dataType == dt && l.value == v)
          }
          if (found.length != keys.length) return None
          found
      }
      if (values.isEmpty) return None
      val perValue: Map[(Expression, Literal), Src] =
        (for { (k, n) <- needList.toSeq; v <- values } yield
          (k, v) -> srcForValue(n, keyAttr.name, keyed, v).getOrElse(return None)).toMap
      val countNeed = Need(None, "count", None)
      val perValueCount: Map[Literal, Long] = values.map(v =>
        v -> rangeAggOf(numericForValue(countNeed, keyed, v).getOrElse(return None).wheel).count).toMap
      // counting proof over the whole range set, anchored on the
      // unfiltered wheel: the per-value partition must be complete.
      // IN-restricted groupings skip it — the residual itself proves the
      // groups' row coverage (each group IS one covered value's rows).
      if (inRestrict.isEmpty) {
        val baseW = table.anyForFilter("").filter(coverageOk).filter(spanOk)
          .getOrElse(return None)
        if (perValueCount.values.sum != rangeAggOf(baseW.wheel).count) return None
      }
      val rows = values.sortBy(_.toString).flatMap { v =>
        if (perValueCount(v) == 0L) None
        else {
          val aggValues = needList.map { case (k, n) =>
            val value = perValue((k, v)) match {
              case NumSrc(w)          => n.value(rangeAggOf(w.wheel))
              case SketchSrc(_, over) => over(bounds)
              case _                  => return None
            }
            k -> (value, dataTypeOf(k))
          }.toMap
          Some(buildRow(aggValues, Seq((keyAttr, v))).getOrElse(return None))
        }
      }
      Some(LocalRelation(agg.output, rows))
    }

    agg.groupingExpressions match {
      case Nil =>
        val nds = needs.getOrElse(return None)
        val aggValues = nds.map { case (k, (n, src)) =>
          val v = src match {
            case NumSrc(w) => n.value(rangeAggOf(w.wheel))
            // disjoint per-value row sets: additive merge is exact
            case UnionSrc(ws) => n.value(ws.map(w => rangeAggOf(w.wheel)).reduce(_.merge(_)))
            case SketchSrc(_, over) => over(bounds)
            case DistinctSetSrc(base, pv) =>
              // counting proof over the whole range set, then the exact
              // distinct count is the number of values present in it
              val counts = pv.map(w => rangeAggOf(w.wheel).count)
              if (counts.sum != rangeAggOf(base.wheel).count) return None
              Long.box(counts.count(_ > 0L))
          }
          k -> (v, dataTypeOf(k))
        }.toMap
        buildRow(aggValues, Nil).map(r => LocalRelation(agg.output, Seq(r)))

      case Seq(ge0) =>
        // bare non-time attribute grouping → the per-value keyed-only arm
        // (time-bucket arms can never match it; sliding is window-shaped)
        resolve(ge0, uw.aliases) match {
          case ka: AttributeReference
              if sliding.isEmpty && ka.name != table.timeColumn =>
            return keyedOnlyGroupBy(ka)
          case _ => ()
        }
        val nds = needs.getOrElse(return None)
        val ge = resolve(ge0, uw.aliases)
        val arm = (sliding match {
          case Some((_, t0, strideUs, offUs, lenUs)) =>
            // the windowed expression must BE the indexed time column —
            // the same gate the tumbling arm carries (review finding: a
            // window over a different timestamp column would be answered
            // from wheels keyed on the indexed one)
            if (!isTime(t0, table.timeColumn)) None
            else windowBucketArm(ge.dataType, strideUs, offUs, lenUs, lenUs, usPerTick)
          case None if msMode => ge match {
            // sub-second TUMBLING window: served straight from the ms arm
            // (timeBucketArm is second-domain by construction and would
            // decline; msMode already verified this exact shape)
            case WindowStruct(t, slideUs, offUs, 0L, lenUs)
                if isTime(t, table.timeColumn) && slideUs == lenUs =>
              windowBucketArm(ge.dataType, slideUs, offUs, slideUs, lenUs, usPerTick)
            case _ => None
          }
          case None => timeBucketArm(ge, table)
        }).getOrElse(return None)
        val (groupFn, keyLit, bucketSpan) = (arm.groupFn, arm.keyLit, arm.fineSpan)
        // Bucket map per wheel over the (disjoint) range set: a bucket
        // straddling two ranges (OR of two windows of one day, day buckets)
        // merges its per-range partials additively. Memoized and SHARED by
        // the single-wheel path and the IN-union path below, so the two can
        // never diverge in how buckets merge.
        // Buckets enumerate SORTED (groupFn's contract); per-range parts
        // merge by linear k-way key-merge rather than an immutable-Map
        // fold — at 46k window buckets the per-entry Map.updated fold was
        // a measurable slice of the rewrite's plan time. Map views are
        // derived lazily, only for needs served by a DIFFERENT HawWheel
        // than the enumerating one (keyed/multi-wheel queries).
        val bucketSeqCache = mutable.HashMap.empty[HawWheel, IndexedSeq[(Long, RangeAgg)]]
        // A single groupFn part can itself repeat a key in adjacent
        // positions: the piecewise DST arms emit a spring-forward day once
        // per fixed-offset piece. Normalize each part to sorted-unique
        // (adjacent merge; full sort first if an out-of-order pair ever
        // appears) before the cross-part merge.
        def normalized(part: IndexedSeq[(Long, RangeAgg)]): IndexedSeq[(Long, RangeAgg)] = {
          val sortedPart =
            if (part.indices.drop(1).exists(i => part(i)._1 < part(i - 1)._1))
              part.sortBy(_._1)
            else part
          if (!sortedPart.indices.drop(1).exists(i => sortedPart(i)._1 == sortedPart(i - 1)._1))
            sortedPart
          else {
            val out = Vector.newBuilder[(Long, RangeAgg)]
            var last: (Long, RangeAgg) = null
            sortedPart.foreach { p =>
              if (last != null && last._1 == p._1) last = (last._1, last._2.merge(p._2))
              else { if (last != null) out += last; last = p }
            }
            if (last != null) out += last
            out.result()
          }
        }
        def groupsSeqOf(hw: HawWheel): IndexedSeq[(Long, RangeAgg)] =
          bucketSeqCache.getOrElseUpdate(hw, {
            guardPlanSize(hw, bounds, bucketSpan) // decline BEFORE any row
            val parts = bounds.sortBy(_._1)
              .map { case (s, e) => normalized(groupFn(hw, s, e)) }
              .filter(_.nonEmpty)
            if (parts.isEmpty) Vector.empty
            else if (parts.length == 1) parts.head
            else parts.reduce { (a, b) =>
              // two sorted unique-key runs → one, equal keys merged (a
              // sliding bucket can straddle two disjoint query ranges)
              val out = Vector.newBuilder[(Long, RangeAgg)]
              var i = 0; var j = 0
              while (i < a.length || j < b.length) {
                if (j >= b.length || (i < a.length && a(i)._1 < b(j)._1)) {
                  out += a(i); i += 1
                } else if (i >= a.length || b(j)._1 < a(i)._1) {
                  out += b(j); j += 1
                } else {
                  out += ((a(i)._1, a(i)._2.merge(b(j)._2))); i += 1; j += 1
                }
              }
              out.result()
            }
          })
        val bucketCache = mutable.HashMap.empty[HawWheel, Map[Long, RangeAgg]]
        def groupsOf(hw: HawWheel): Map[Long, RangeAgg] =
          bucketCache.getOrElseUpdate(hw, groupsSeqOf(hw).toMap)

        // `key IN (v₁…vₖ)` residuals over TIME BUCKETS: each need reads the
        // union of its per-value equality wheels, and a bucket's aggregate
        // merges the per-value partials additively (a row has exactly one
        // key value, so the per-value row sets are disjoint — the grouped
        // twin of the 0-grouping UnionSrc). Buckets enumerate from a
        // residual-matched wheel when one exists, else from the union's own
        // merged bucket map (the per-value wheels partition exactly the
        // residual's rows). Sketch/moment needs never reach here (their
        // srcFor lookups have no IN-keyed wheels, so `needs` already
        // declined), and union needs carry no ownParts (unionWheelsFor
        // refuses per-need predicates).
        def unionGrouped(): Option[LogicalPlan] = {
          if (!nds.values.forall(s =>
            s._2.isInstanceOf[NumSrc] || s._2.isInstanceOf[UnionSrc])) return None
          val uSpans = nds.values.flatMap {
            case (_, NumSrc(w))    => Seq(w.scope.slotSpan)
            case (_, UnionSrc(ws)) => ws.map(_.scope.slotSpan)
            case _                 => Nil
          }.toSet
          if (uSpans.exists(sp => bucketSpan % sp != 0)) return None
          def mapOf(src: Src): Map[Long, RangeAgg] = src match {
            case NumSrc(w) => groupsOf(w.wheel)
            case UnionSrc(ws) =>
              // the union's merged map can reach |ws| × each wheel's own
              // bucket bound, and |ws| is the QUERY's IN-list length — so
              // the per-wheel guard alone admits IN-length × the budget
              // onto the planner thread (review finding, the sibling of
              // the keyed arm's product bound). Divide the budget by the
              // union size BEFORE any per-wheel map materializes.
              ws.foreach(w =>
                guardPlanSize(w.wheel, bounds, bucketSpan, ws.size.toLong))
              ws.map(w => groupsOf(w.wheel)).reduce { (a, b) =>
                b.foldLeft(a) { case (m, (k, ra)) =>
                  m.updated(k, m.get(k).map(_.merge(ra)).getOrElse(ra))
                }
              }
            case _ => Map.empty // unreachable (gated above)
          }
          val needMaps: Seq[(Expression, Need, Src, Map[Long, RangeAgg])] =
            nds.toSeq.map { case (k, (n, s)) => (k, n, s, mapOf(s)) }
          val enumMap: Map[Long, RangeAgg] =
            needMaps.collectFirst {
              case (_, n, _: NumSrc, m) if n.ownParts.isEmpty => m
            }.orElse(table.anyForFilter(filterKey)
              .filter(coverageOk).filter(spanOk)
              .filter(w => bucketSpan % w.scope.slotSpan == 0)
              .map(w => groupsOf(w.wheel)))
            .orElse(needMaps.collectFirst { case (_, _, _: UnionSrc, m) => m })
            .getOrElse(return None)
          val enumKeys = enumMap.keySet
          // identical-keyset discipline of the single-wheel path: full-
          // residual sources must cover exactly the enumerated buckets;
          // FILTER-keyed NumSrc wheels (row subsets) must be contained
          val bad = needMaps.exists { case (_, n, s, m) =>
            if (s.isInstanceOf[NumSrc] && n.ownParts.nonEmpty)
              !m.keySet.subsetOf(enumKeys)
            else m.keySet != enumKeys
          }
          if (bad) return None
          val rows = enumKeys.toSeq.sorted.map { gs =>
            val aggValues = needMaps.map { case (k, n, s, m) =>
              val ra = m.getOrElse(gs,
                if (s.isInstanceOf[NumSrc] && n.ownParts.nonEmpty)
                  RangeAgg(0L, 0L, Double.PositiveInfinity, Double.NegativeInfinity,
                    s.asInstanceOf[NumSrc].w.wheel.scale)
                else return None)
              k -> (n.value(ra), dataTypeOf(k))
            }.toMap
            buildRow(aggValues, Seq((ge, keyLit(gs)))).getOrElse(return None)
          }
          Some(LocalRelation(agg.output, rows))
        }
        if (nds.values.exists(_._2.isInstanceOf[UnionSrc])) return unionGrouped()

        // sketch reads (hll registers / quantile bins) clip per bucket:
        // either a single wheel-domain end (hllEndOf) or the piecewise
        // arms' per-key interval enumeration (hllReads); with neither,
        // decline
        val needHll = nds.values.exists(_._2.isInstanceOf[SketchSrc])
        if (needHll && arm.hllEndOf.isEmpty && arm.hllReads.isEmpty)
          return None
        val bucketEndOf = arm.hllEndOf.getOrElse((gs: Long) => gs)
        // Need at least one NUMERIC wheel to enumerate the groups (HLL
        // wheels can't: they skip NULL-value rows, so their active seconds
        // may under-enumerate the groups COUNT(*) would produce).
        // enumerate buckets from a RESIDUAL-ONLY wheel: a FILTER-keyed
        // wheel covers a row subset and would under-enumerate the groups
        val enumWheel: IndexedWheel =
          nds.values.collectFirst { case (n, NumSrc(w)) if n.ownParts.isEmpty => w }
            .orElse((if (msMode) msBase(None) else table.anyForFilter(filterKey))
              .filter(coverageOk).filter(spanOk))
            .getOrElse(return None)
        // coarsened wheels can only serve buckets their slots tile exactly
        // (incl. coarsened HLL wheels — bucket boundaries must be
        // span-aligned for their register slots too)
        val slotSpans = nds.values.flatMap {
          case (_, NumSrc(w)) => Seq(w.scope.slotSpan)
          case (_, SketchSrc(span, _)) => Seq(span)
          case (_, DistinctSetSrc(b, pv)) => (b +: pv).map(_.scope.slotSpan)
          case (_, UnionSrc(_)) => return None // served by unionGrouped above
        }.toSet + enumWheel.scope.slotSpan
        if (slotSpans.exists(sp => bucketSpan % sp != 0)) return None
        // Per-wheel group maps, enumWheel included once (it may also back a
        // need — one enumeration, not two). All wheels must cover the
        // identical key set (same rows seen at build time); wheels built at
        // different times over changed data could have equal sizes but
        // different keys, so compare the sets and skip the rewrite on any
        // mismatch rather than failing the query inside the optimizer.
        // enumWheel's buckets stay the memoized SORTED sequence (no Map, no
        // re-sort); Map views are built only for needs served by a
        // DIFFERENT HawWheel (keyed/multi-wheel queries) — the common
        // single-wheel window group-by allocates no per-bucket map entries
        // at all.
        val groups = groupsSeqOf(enumWheel.wheel)
        val otherWheels: Set[HawWheel] =
          nds.values.flatMap(_._2.numeric).map(_.wheel).toSet - enumWheel.wheel
        val wheelGroups: Map[HawWheel, Map[Long, RangeAgg]] =
          otherWheels.map { (hw: HawWheel) => hw -> groupsOf(hw) }.toMap
        lazy val groupKeys = groups.map(_._1).toSet
        // residual-only wheels must cover the IDENTICAL key set (same rows
        // at build time); a per-need FILTER wheel covers a row SUBSET, so
        // its buckets must be contained — absent buckets read as the
        // aggregate over zero rows below
        val subsetWheels: Set[HawWheel] = nds.values.collect {
          case (n, NumSrc(w)) if n.ownParts.nonEmpty => w.wheel
        }.toSet
        val strictBad = wheelGroups.exists { case (hw, m) =>
          if (subsetWheels(hw)) !m.keySet.subsetOf(groupKeys) else m.keySet != groupKeys
        }
        if (strictBad) return None
        // piecewise arms: per-key register intervals enumerated from the
        // same wheel + bounds as the groups (same walk, so the key sets
        // coincide); an HLL wheel's active seconds are a subset of the
        // enum wheel's (it skips NULL-value rows), so interval gaps hold
        // only identity. Built AFTER the decline gates above — a declined
        // rewrite must not pay the walk twice.
        val hllReadMap: Map[Long, Seq[(Long, Long)]] =
          if (needHll && arm.hllEndOf.isEmpty)
            bounds.flatMap { case (s, e) => arm.hllReads.get(enumWheel.wheel, s, e) }
              .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
          else Map.empty
        // exact-distinct needs: per-value bucket counts + the counting proof
        // anchored on the unfiltered wheel's buckets (its key set already
        // passed the identical-keyset check above, via Src.numeric)
        val distinctCounts: Map[Expression, Seq[Map[Long, Long]]] =
          nds.toSeq.collect { case (k, (_, DistinctSetSrc(base, pv))) =>
            val pvGroups = pv.map(w =>
              groupsOf(w.wheel).view.mapValues(_.count).toMap)
            if (pvGroups.exists(!_.keySet.subsetOf(groupKeys))) return None
            val baseGroups = groupsOf(base.wheel)
            val complete = groupKeys.forall { b =>
              pvGroups.map(_.getOrElse(b, 0L)).sum == baseGroups(b).count
            }
            if (!complete) return None
            k -> pvGroups
          }.toMap
        // Per-need value READERS, hoisted out of the bucket loop: the
        // src-shape dispatch, map handles, and zero-aggregates resolve
        // once; each bucket then pays one closure call per need. A need on
        // the enumerating wheel itself (the common single-wheel case)
        // reads the enumerated aggregate directly — no lookup.
        if (groups.isEmpty) return Some(LocalRelation(agg.output, Nil))
        val readers: IndexedSeq[(Expression, (Long, Long, RangeAgg) => Any, DataType)] =
          nds.toIndexedSeq.map { case (k, (n, src)) =>
            val rd: (Long, Long, RangeAgg) => Any = src match {
              case NumSrc(w) if w.wheel eq enumWheel.wheel =>
                (_, _, ra) => n.value(ra)
              case NumSrc(w) =>
                val m = wheelGroups(w.wheel)
                if (n.ownParts.nonEmpty) {
                  // FILTER-keyed wheels: a bucket with no matching rows is
                  // the aggregate over zero rows, not a decline
                  val zero = RangeAgg(0L, 0L, Double.PositiveInfinity,
                    Double.NegativeInfinity, w.wheel.scale)
                  (gs, _, _) => n.value(m.getOrElse(gs, zero))
                } else
                  // identical-keyset proof above makes m(gs) total; a miss
                  // would throw NoSuchElement → caught by the loop's guard
                  (gs, _, _) => n.value(m(gs))
              // per-bucket typed read: the bucket clipped against every
              // range of the union — disjoint clips, so the partials' merge
              // is exactly the aggregate over the bucket's qualifying rows
              case SketchSrc(_, over) =>
                if (arm.hllEndOf.isDefined)
                  (gs, gEnd, _) => over(bounds.map { case (s, e) => (math.max(s, gs), math.min(e, gEnd)) })
                else (gs, _, _) => over(hllReadMap.getOrElse(gs, Nil))
              case DistinctSetSrc(_, _) =>
                val pvCounts = distinctCounts(k)
                (gs, _, _) => Long.box(pvCounts.count(_.getOrElse(gs, 0L) > 0L))
              case UnionSrc(_) => return None // served by unionGrouped above
            }
            (k, rd, dataTypeOf(k))
          }
        val compiled = compileRowsFrom(
          readers.map(r => (r._1, r._3)),
          IndexedSeq((ge, keyLit(groups.head._1).dataType))).getOrElse(return None)
        val nAgg = readers.length
        val rows = try groups.map { case (gs, ra) =>
          val gEnd = bucketEndOf(gs)
          val arr = new Array[Any](nAgg + 1)
          var i = 0
          while (i < nAgg) { arr(i) = readers(i)._2(gs, gEnd, ra); i += 1 }
          arr(nAgg) = keyLit(gs).value
          compiled.rowRaw(arr).getOrElse(return None)
        } catch { case scala.util.control.NonFatal(_) => return None }
        Some(LocalRelation(agg.output, rows))

      // GROUP BY time-bucket + key column: answered from a COMPLETE set of
      // per-value equality wheels (one `k = v` wheel per key value, built by
      // withKeyedWheel; hll_distinct routes to per-value KEYED distinct
      // wheels the same way). Soundness is a plan-time counting proof, not
      // an assumption: for EVERY bucket, the per-value counts must sum to
      // the unfiltered count — rows with a NULL key or a value no wheel
      // covers break the equation and the rewrite declines. Same
      // single-column restriction as the reference otherwise
      // (`lib.rs:260-281`). A residual filter still declines: the useful
      // residual-on-the-key-column shape (`WHERE k = v GROUP BY bucket, k`)
      // is just the single-column arm with a constant column, and other
      // residuals would need per-(value × residual) wheels nobody builds.
      case Seq(g1raw, g2raw) =>
        if (filterKey.nonEmpty) return None // residuals don't compose with per-value routing
        if (needList.values.exists(_.ownParts.nonEmpty)) return None // (value × p) wheels don't exist
        // COUNT(DISTINCT) per (bucket, value) group would need per-(value ×
        // value) wheels; within its own key's group the count is trivially
        // 0/1 but never worth a rewrite — decline
        if (needList.values.exists(_.kind == "cntdist")) return None
        val g1 = resolve(g1raw, uw.aliases)
        val g2 = resolve(g2raw, uw.aliases)
        def orient(t: Expression, k: Expression) = (timeBucketArm(t, table), k) match {
          case (Some(a), ka: AttributeReference) if ka.name != table.timeColumn =>
            Some((a, t, ka))
          case _ => None
        }
        val (arm, timeGe, keyAttr) =
          orient(g1, g2).orElse(orient(g2, g1)).getOrElse(return None)
        val (groupFn, keyLit, bucketSpan) = (arm.groupFn, arm.keyLit, arm.fineSpan)
        // sketch needs clip per bucket via hllEndOf or hllReads (1-column arm)
        val needHll2 = needList.values.exists(n => sketchKinds.contains(n.kind))
        if (needHll2 && arm.hllEndOf.isEmpty && arm.hllReads.isEmpty)
          return None
        val bucketEndOf = arm.hllEndOf.getOrElse((gs: Long) => gs)
        val (keyed, allValues) = keyedWheelSet(table, keyAttr.name)
        val values: Seq[Literal] = allValues.filter(_.dataType == keyAttr.dataType)
        if (values.isEmpty) return None

        val perValue: Map[(Expression, Literal), Src] =
          (for { (k, n) <- needList.toSeq; v <- values } yield
            (k, v) -> srcForValue(n, keyAttr.name, keyed, v).getOrElse(return None)).toMap

        // unfiltered wheel: enumerates ALL buckets and anchors the proof
        val baseW = table.anyForFilter("").filter(coverageOk).filter(spanOk)
          .getOrElse(return None)
        val spans2 = perValue.values.map {
          case NumSrc(w) => w.scope.slotSpan
          case SketchSrc(span, _) => span
          case _: DistinctSetSrc | _: UnionSrc => return None // declined above
        }.toSet + baseW.scope.slotSpan
        if (spans2.exists(sp => bucketSpan % sp != 0)) return None
        def groupsOf2(hw: HawWheel): Map[Long, RangeAgg] = {
          // decline BEFORE any row: this arm's output is bucket × value
          guardPlanSize(hw, bounds, bucketSpan, values.size.toLong)
          bounds.foldLeft(Map.empty[Long, RangeAgg]) { case (acc, (s, e)) =>
            groupFn(hw, s, e).foldLeft(acc) { case (m, (k, ra)) =>
              m.updated(k, m.get(k).map(_.merge(ra)).getOrElse(ra))
            }
          }
        }
        val cache = mutable.HashMap.empty[HawWheel, Map[Long, RangeAgg]]
        def groupsCached(hw: HawWheel): Map[Long, RangeAgg] =
          cache.getOrElseUpdate(hw, groupsOf2(hw))
        val allBuckets = groupsCached(baseW.wheel)
        val valueCount: Map[Literal, Map[Long, RangeAgg]] = values.map { v =>
          v -> groupsCached(
            numericForValue(Need(None, "count", None), keyed, v).getOrElse(return None).wheel)
        }.toMap
        // the counting proof, both directions: per-value buckets are a
        // subset of the enumeration, and every bucket's count decomposes
        // exactly across the values
        if (valueCount.values.exists(m => !m.keySet.subsetOf(allBuckets.keySet)))
          return None
        val complete = allBuckets.forall { case (b, ra) =>
          valueCount.values.map(_.get(b).map(_.count).getOrElse(0L)).sum == ra.count
        }
        if (!complete) return None
        // piecewise register intervals, enumerated from the base wheel
        // (whose bucket set anchors the counting proof above)
        val hllReadMap2: Map[Long, Seq[(Long, Long)]] =
          if (needHll2 && arm.hllEndOf.isEmpty)
            bounds.flatMap { case (s, e) => arm.hllReads.get(baseW.wheel, s, e) }
              .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
          else Map.empty

        val rows = allBuckets.keys.toSeq.sorted.flatMap { b =>
          val bEnd = bucketEndOf(b)
          values.sortBy(_.toString).flatMap { v =>
            if (valueCount(v).get(b).forall(_.count == 0L)) None
            else {
              val aggValues = needList.map { case (k, n) =>
                val value = perValue((k, v)) match {
                  case NumSrc(w) =>
                    n.value(groupsCached(w.wheel).getOrElse(b, return None))
                  case SketchSrc(_, over) =>
                    if (arm.hllEndOf.isDefined)
                      over(bounds.map { case (s, e) => (math.max(s, b), math.min(e, bEnd)) })
                    else over(hllReadMap2.getOrElse(b, Nil))
                  case _ => return None // declined above
                }
                k -> (value, dataTypeOf(k))
              }.toMap
              Some(buildRow(aggValues, Seq((timeGe, keyLit(b)), (keyAttr, v)))
                .getOrElse(return None))
            }
          }
        }
        Some(LocalRelation(agg.output, rows))

      case _ => None
    }
  }

  private def dataTypeOf(canonicalAe: Expression): DataType = canonicalAe.dataType

  /** A recognized time-bucketing grouping expression's wheel reading plan.
    * @param groupFn   per-bucket aggregates over an instant range
    * @param keyLit    group key -> the grouping expression's output literal
    * @param fineSpan  the slot granularity bucket edges need — coarsened
    *                  wheels must satisfy slotSpan | fineSpan (1 for the
    *                  piecewise DST path: transition edges are unaligned)
    * @param hllEndOf  groupFn-emitted bucket handle -> exclusive bucket
    *                  end IN THE WHEEL'S OWN DOMAIN (instant seconds for
    *                  instant columns, wall seconds for NTZ — reads clip
    *                  against wheel slots, so a true instant here for an
    *                  NTZ wheel would be off by the zone offset); None
    *                  when buckets are not single wheel-domain ranges
    *                  (piecewise zone paths)
    * @param hllReads  piecewise substitute for hllEndOf: enumerates, per
    *                  query range, (final key, wheel-domain interval)
    *                  contributions — a bucket's register read is the
    *                  merge over its (disjoint) intervals. When BOTH are
    *                  None, hll_distinct needs decline */
  private final case class BucketArm(
      groupFn: (HawWheel, Long, Long) => IndexedSeq[(Long, RangeAgg)],
      keyLit: Long => Literal,
      fineSpan: Long,
      hllEndOf: Option[Long => Long],
      hllReads: Option[(HawWheel, Long, Long) => IndexedSeq[(Long, (Long, Long))]] = None)

  /** Thrown from inside a piecewise group read when the zone's transition
    * list is pathological or a key evaluation fails — caught at the rule's
    * entry points, degrading to the scan (never wrong, never aborting). */
  private final class DeclineRewrite extends RuntimeException
      with scala.util.control.NoStackTrace

  /** Shared plan-size pre-guard for EVERY bucket-serving arm (window,
    * date_trunc fixed-span/shifted, calendar, to_date, keyed grouped,
    * sketch grouped): before materializing a single LocalRelation row,
    * bound the bucket count by the cheap O(ranges) estimate
    * `min(grid positions at the arm's fine span, active bottom-level
    * slots)` summed over the disjoint range set, and decline to the
    * distributed scan past [[graft.Graft.planSizeBudget]]. Both terms are
    * true upper bounds: buckets are disjoint and each non-empty bucket
    * contains ≥ 1 active slot (activeSlots term), and there are at most
    * `span/fineSpan + 2` grid positions per covered span (grid term; the
    * fine span divides every arm's bucket span, so this only over-counts,
    * never under). The window arms keep their own tighter internal guards
    * (sliding covers multiply reads); this guard is the outer ceiling the
    * plain `GROUP BY date_trunc('second', ts)` arms were missing — a
    * multi-year dense corpus is ~1e8 active seconds, which must never be
    * built as a LocalRelation on the planner thread. */
  private def guardPlanSize(hw: HawWheel, bounds: Seq[(Long, Long)],
      fineSpan: Long, rowsPerBucket: Long = 1L): Unit = {
    // the keyed grouped arm emits one row per (bucket × key value), so its
    // guard must bound the PRODUCT — a per-wheel bucket bound alone would
    // admit values× the budget onto the planner thread (review finding).
    // Divide the budget instead of multiplying the estimate: no overflow.
    val budget = graft.Graft.planSizeBudget / math.max(rowsPerBucket, 1L)
    var est = 0L
    bounds.foreach { case (s, e) =>
      val lo = math.max(s, hw.startSec)
      val hi = math.min(e, hw.endSec)
      if (lo < hi) {
        val grid = (hi - lo) / math.max(fineSpan, 1L) + 2L
        est += math.min(grid, hw.activeSlots(lo, hi).toLong)
        if (est > budget) throw new DeclineRewrite
      }
    }
  }

  /** Matches the analyzer's TimeWindowing lowering of `window(ts, len,
    * slide, start)`: `named_struct('start', ptc(lastStart − k·slide, L→TS),
    * 'end', start + len)` where `lastStart = ptc(ts, TS→L) −
    * floorMod(ptc(ts) − off, slide)` (the floor-mod spelled as the
    * CASE WHEN the analyzer emits; `− off` / `− 0` terms may already be
    * constant-folded). Returns (time expr, slideUs, offUs, k·slideUs,
    * lenUs). The lowering is pure epoch-microsecond arithmetic — zone-free
    * by construction — so no session-zone gate applies. */
  private[rules] object WindowStruct {
    private def stripK(e: Expression): Expression = e match {
      case KnownNullable(x) => stripK(x)
      case KnownNotNull(x)  => stripK(x)
      case _                => e
    }
    private def longLit(e: Expression): Option[Long] = e match {
      case Literal(v: Long, LongType)                         => Some(v)
      case Cast(Literal(v: Int, IntegerType), LongType, _, _) => Some(v.toLong)
      case _                                                  => None
    }
    private def ptcToLong(e: Expression): Option[Expression] = e match {
      case PreciseTimestampConversion(t, TimestampType | TimestampNTZType, LongType) =>
        Some(t)
      case _ => None
    }
    private def ptcToTs(e: Expression): Option[Expression] = stripK(e) match {
      case PreciseTimestampConversion(x, LongType, TimestampType | TimestampNTZType) =>
        Some(x)
      case _ => None
    }
    /** floorMod(ptc(ts) − off, slide) → (ts, slide, off). */
    private def floorModOf(e: Expression): Option[(Expression, Long, Long)] = e match {
      case CaseWhen(Seq((LessThan(m1, z), Add(m2, s2, _))), Some(m3))
          if longLit(z).contains(0L) && m1.semanticEquals(m3) && m2.semanticEquals(m3) =>
        m3 match {
          case Remainder(base, sL, _) =>
            for {
              s   <- longLit(sL)
              s2v <- longLit(s2)
              if s == s2v && s > 0
              r <- base match {
                case Subtract(b, oL, _) =>
                  longLit(oL).flatMap(o => ptcToLong(b).map((_, s, o)))
                case b => ptcToLong(b).map((_, s, 0L))
              }
            } yield r
          case _ => None
        }
      case _ => None
    }
    /** lastStart [− c] → (ts, slide, off, c). */
    private def startOf(e: Expression): Option[(Expression, Long, Long, Long)] = e match {
      case Subtract(l, r, _) =>
        floorModOf(r) match {
          case Some((t2, s, o)) =>
            ptcToLong(l).filter(_.semanticEquals(t2)).map(t => (t, s, o, 0L))
          case None =>
            longLit(r).flatMap(c =>
              startOf(l).map { case (t, s, o, c0) => (t, s, o, c0 + c) })
        }
      case _ => None
    }
    def unapply(ge: Expression): Option[(Expression, Long, Long, Long, Long)] = ge match {
      case CreateNamedStruct(Seq(Literal(n1, StringType), sRaw, Literal(n2, StringType), eRaw))
          if n1 != null && n1.toString == "start" &&
            n2 != null && n2.toString == "end" =>
        for {
          si           <- ptcToTs(sRaw)
          ei           <- ptcToTs(eRaw)
          (t, s, o, c) <- startOf(si)
          l <- ei match {
            case Add(x, lL, _) if x.semanticEquals(si) => longLit(lL)
            case _                                     => None
          }
          if l > 0
        } yield (t, s, o, c, l)
      case _ => None
    }
  }

  /** Bucket arm for `window(ts, …)` group-bys: buckets every `strideUs`
    * seconds (aligned to `offUs`), each read over `[b, b+memberUs)` —
    * tumbling when member == stride, sliding (overlapping reads, one per
    * Expand-emitted copy) when member = n·stride. The struct key is
    * `(b, b+lenUs)`. Reads are O(1) prefix/directory lookups per bucket,
    * so a sliding window costs one range read per bucket regardless of
    * the overlap factor — the wheel's signature win over the scan, which
    * pays an Expand row-multiplication of the whole input. */
  private def windowBucketArm(dt: DataType, strideUs: Long, offUs: Long,
      memberUs: Long, lenUs: Long,
      /** µs per wheel tick: 1e6 for the second-domain wheels, 1000 when the
        * caller is in msMode and every read goes to a MILLISECOND
        * bottom-level wheel ([[graft.index.UWheelBuilder.withMillisWheels]]).
        * Bounds and bucket handles below are then epoch ms throughout; only
        * `keyLit` converts back to the struct's µs fields. */
      usPerTick: Long = 1000000L): Option[BucketArm] = {
    if (strideUs <= 0 || memberUs <= 0 || lenUs <= 0) return None
    // Parameters finer than the wheel's tick decline: seconds are the
    // default bottom level (like the reference's — `datafusion-uwheel/src/
    // lib.rs` builds per-second); tables built withMillisWheels serve
    // whole-ms parameters through usPerTick = 1000, and sub-MILLISECOND
    // strides still decline to the scan (the ms level is the bottom —
    // µs slots would cost a slot per row at any realistic event rate).
    if (strideUs % usPerTick != 0 || offUs % usPerTick != 0 ||
        memberUs % usPerTick != 0) return None
    val ss = strideUs / usPerTick
    val ms = memberUs / usPerTick
    val os = Math.floorMod(offUs / usPerTick, ss)
    val fn = (hw: HawWheel, qs: Long, qe: Long) => {
      // enumerate buckets whose member range intersects the wheel-clamped
      // query range; clip each read to the QUERY bounds (disjoint per
      // range-set member, so the grouped arm's additive merge stays exact)
      val lo = math.max(qs, hw.startSec)
      val hi = math.min(qe, hw.endSec)
      if (lo >= hi) Vector.empty[(Long, RangeAgg)]
      else if (ms % ss == 0) {
        // exact-cover grid (every window() tumbling/sliding lowering):
        // sparse bucketized read — O(active slots + non-empty buckets),
        // empty grid positions never enumerated. Pre-guard the
        // LocalRelation size by the cheap upper bound min(grid positions,
        // covers-per-slot × active slots) BEFORE materializing anything.
        val est = math.min((hi - lo) / ss + ms / ss + 1,
          (ms / ss) * hw.activeSlots(qs, qe).toLong)
        if (est > graft.Graft.planSizeBudget) throw new DeclineRewrite // plan-size guard
        hw.bucketize(qs, qe, ss, os, ms)
      } else {
        // gap/hopping windows (member not a multiple of the stride — e.g.
        // window(ts, '1 min', '5 min')): per-position sweep with clipped
        // range reads. Epoch-floor alignment, NOT HawWheel.alignDown: the
        // wheel's week span is Monday-anchored while window() strides
        // anchor to the epoch (1970-01-01), so a '7 days' stride must not
        // inherit it.
        var b = Math.floorDiv(lo - ms + 1 - os, ss) * ss + os
        while (b + ms <= lo) b += ss
        // Cost guard, not just a memory guard: the sweep visits every
        // aligned grid position (~0.05 µs each, driver-side, single
        // thread), while the scan side of a GAP window pays no Expand —
        // it is a plain filtered aggregate over the rows. Decline when
        // the grid dwarfs the data: positions beyond 256k + 16×rows
        // cannot beat the scan they replace (measured: 5.2M positions ≈
        // 0.2-0.6 s of plan time vs a 0.25 s scan of 100k rows).
        val positions = (hi - b) / ss + 1
        if (positions > 262144L + 16L * hw.countRange(qs, qe)) throw new DeclineRewrite
        if (positions > graft.Graft.planSizeBudget) throw new DeclineRewrite // plan-size guard
        val out = Vector.newBuilder[(Long, RangeAgg)]
        while (b < hi) {
          val s0 = math.max(b, qs)
          val e0 = math.min(b + ms, qe)
          if (e0 > s0) {
            val ra = hw.range(s0, e0) // returns the empty agg on count 0
            if (ra.count > 0L) out += ((b, ra))
          }
          b += ss
        }
        out.result()
      }
    }
    val keyLit = (b: Long) => Literal(
      new GenericInternalRow(Array[Any](b * usPerTick, b * usPerTick + lenUs)), dt)
    // fine span from the epoch-anchored levels only: the WEEK level is
    // Monday-anchored, so its slots never tile epoch-anchored windows.
    // The MEMBER length divides too: a non-exact cover (ms not a multiple
    // of the stride) puts bucket END edges at b+ms, and a coarsened wheel
    // whose slots straddle that edge would attribute the whole slot to the
    // bucket (review finding — counts silently doubled across buckets).
    val fineSpan = Seq(HawWheel.DAY, 3600L, 60L, 1L)
      .find(sp => ss % sp == 0 && os % sp == 0 && ms % sp == 0).get
    Some(BucketArm(fn, keyLit, fineSpan, Some((b: Long) => b + ms)))
  }

  /** Recognizes the analyzer's SLIDING window lowering: Aggregate grouping
    * on an Expand-produced window-struct attribute, every projection
    * emitting the same struct shifted by k·slide. Returns the plan below
    * the Expand (pass-through Filters re-attached, so unwrap collects
    * their conjuncts) plus (slideUs, offUs, lenUs). Only the exact-cover
    * case (len = n·slide — the analyzer emits no trimming filter) is
    * accepted; anything else stays on the scan. */
  private def slidingWindowOf(agg: Aggregate)
      : Option[(LogicalPlan, Expression, Long, Long, Long)] = {
    val gAttr = agg.groupingExpressions match {
      case Seq(a: AttributeReference) => a
      case _                          => return None
    }
    var cur = agg.child
    val conds = Vector.newBuilder[Expression]
    var cont = true
    while (cont) cur match {
      case Filter(c, ch) => conds ++= Canon.splitConjuncts(c); cur = ch
      case Project(pl, ch) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        cur = ch
      case _ => cont = false
    }
    cur match {
      case ex: Expand if ex.output.exists(_.exprId == gAttr.exprId) &&
          ex.projections.nonEmpty =>
        val pos = ex.output.indexWhere(_.exprId == gAttr.exprId)
        val parsed = ex.projections.map(p =>
          if (pos < p.length) WindowStruct.unapply(p(pos)) else None)
        if (parsed.exists(_.isEmpty)) return None
        val ps = parsed.map(_.get)
        val (t0, s0, o0, _, l0) = ps.head
        if (!ps.forall { case (t, s, o, _, l) =>
              t.semanticEquals(t0) && s == s0 && o == o0 && l == l0 }) return None
        val n = ps.length
        if (ps.map(_._4).sorted != (0 until n).map(_.toLong * s0)) return None
        // non-window outputs must be uniform pass-through attributes (same
        // exprIds as the child): every expanded copy then carries identical
        // values, so per-group aggregates equal aggregates over the
        // underlying rows of the bucket's member range
        for (j <- ex.output.indices if j != pos) {
          val e0 = ex.projections.head(j)
          if (!e0.isInstanceOf[AttributeReference]) return None
          if (!ex.projections.forall(p => j < p.length && p(j).semanticEquals(e0)))
            return None
        }
        // When len is not an exact multiple of slide the analyzer emits
        // ceil(len/slide) copies plus a trimming filter `ts >= window.start
        // AND ts < window.end`; with it, bucket membership is exactly
        // [start, start + len) — the same member span the arm reads — so
        // the trim conjuncts are CONSUMED here. Exact cover needs no trim.
        def isTrimLo(c: Expression) = c match {
          case GreaterThanOrEqual(t, GetStructField(a: AttributeReference, 0, _))
              if a.exprId == gAttr.exprId && t.semanticEquals(t0) => true
          case LessThanOrEqual(GetStructField(a: AttributeReference, 0, _), t)
              if a.exprId == gAttr.exprId && t.semanticEquals(t0) => true
          case _ => false
        }
        def isTrimHi(c: Expression) = c match {
          case LessThan(t, GetStructField(a: AttributeReference, 1, _))
              if a.exprId == gAttr.exprId && t.semanticEquals(t0) => true
          case GreaterThan(GetStructField(a: AttributeReference, 1, _), t)
              if a.exprId == gAttr.exprId && t.semanticEquals(t0) => true
          case _ => false
        }
        // inferred isnotnull(window[.start|.end]) constraints are implied:
        // the struct (and both fields) is null exactly when ts is null, and
        // null-ts rows are excluded by the wheel and the trim alike
        def isWindowNotNull(c: Expression) = c match {
          case IsNotNull(a: AttributeReference) => a.exprId == gAttr.exprId
          case IsNotNull(GetStructField(a: AttributeReference, _, _)) =>
            a.exprId == gAttr.exprId
          case _ => false
        }
        val cs0 = conds.result()
        val (trimCs, cs) = cs0.partition(c =>
          isTrimLo(c) || isTrimHi(c) || isWindowNotNull(c))
        val covered =
          if (l0 == n.toLong * s0) true
          else (n.toLong - 1) * s0 < l0 && l0 < n.toLong * s0 &&
            trimCs.exists(isTrimLo) && trimCs.exists(isTrimHi)
        if (!covered) return None
        // remaining filters must not touch the window struct; they
        // reference pass-through columns only, so they commute below it
        if (cs.exists(_.references.exists(_.exprId == gAttr.exprId))) return None
        val child = if (cs.isEmpty) ex.child else Filter(cs.reduce(And(_, _)), ex.child)
        Some((child, t0, s0, o0, l0))
      case _ => None
    }
  }

  /** Recognizes a time-bucketing grouping expression and returns its wheel
    * reading plan. Fixed-span levels add the span for the HLL bucket end,
    * calendar buckets add months. */
  private def timeBucketArm(ge: Expression, table: TableIndex): Option[BucketArm] =
    Some(ge match {
      case TruncTimestamp(Literal(fmt: UTF8String, StringType), t, tzId)
          if isTime(t, table.timeColumn) =>
        val unit = fmt.toString.toLowerCase
        // Wheel slots are fixed UTC/epoch-aligned spans, but Spark
        // truncates minute/hour/day/week/month/year TIMESTAMP values in
        // the session time zone. 'second' is timezone-invariant, NTZ
        // columns truncate on the wall clock (no zone involved) and UTC
        // matches the slots directly — those take offset 0. Any OTHER zone
        // composes exactly as a CONSTANT SHIFT of epoch-aligned slots
        // provided its rules have no transition (DST or historical) across
        // the indexed span: fixed-offset zones like Asia/Kolkata rewrite,
        // DST zones decline (falling through, never wrong).
        val ntz = t.dataType == TimestampNTZType
        val oOpt: Option[Long] =
          if (unit == "second" || ntz || tzId.exists(isUtcZone)) Some(0L)
          else tzId.flatMap(z => constantZoneOffset(z, table))
        oOpt match {
          case Some(o) =>
            val (fn, bspan, endOf): ((HawWheel, Long, Long) => IndexedSeq[(Long, RangeAgg)], Long, Long => Long) =
              HawWheel.levelIndexOf(unit) match {
                case Some(idx) =>
                  val span = HawWheel.Spans(idx)
                  val shift = Math.floorMod(o, span)
                  ((hw, s, e) => hw.groupByShifted(s, e, idx, shift),
                    fineSpanFor(span, shift), (gs: Long) => gs + span)
                case None =>
                  // month/quarter/year: calendar spans composed from day
                  // slots (the reference rejects these, lib.rs:357), at the
                  // zone's local month boundaries when shifted
                  val stride = HawWheel.monthStrideOf(unit).getOrElse(return None)
                  ((hw, s, e) => hw.groupByCalendar(s, e, stride, o),
                    fineSpanFor(HawWheel.DAY, Math.floorMod(o, HawWheel.DAY)),
                    (gs: Long) => java.time.LocalDate
                      .ofEpochDay(Math.floorDiv(gs + o, HawWheel.DAY))
                      .plusMonths(stride.toLong).toEpochDay * HawWheel.DAY - o)
              }
            BucketArm(fn, gs => Literal(gs * 1000000L, ge.dataType), bspan, Some(endOf))
          case None =>
            // DST / rule-varying zone: compose piecewise (see piecewiseArm)
            val base: (HawWheel, Long, Long, Long) => IndexedSeq[(Long, RangeAgg)] =
              HawWheel.levelIndexOf(unit) match {
                case Some(idx) =>
                  val span = HawWheel.Spans(idx)
                  (hw, ps, pe, o) => hw.groupByShifted(ps, pe, idx, Math.floorMod(o, span))
                case None =>
                  val stride = HawWheel.monthStrideOf(unit).getOrElse(return None)
                  (hw, ps, pe, o) => hw.groupByCalendar(ps, pe, stride, o)
              }
            piecewiseArm(tzId.getOrElse(return None), ge, t, table, base)
              .getOrElse(return None)
        }
      // GROUP BY date_trunc(unit, ntzCol) under a NON-UTC session: the
      // analyzer wraps the NTZ column in CAST(… AS TIMESTAMP) carrying the
      // session zone (so the first arm's isTime gate — which requires a
      // UTC cast — rejects it). The wheel indexes WALL seconds for NTZ
      // columns, and the composed key trunc_Z(cast_Z(w)) is a
      // non-decreasing step function of the wall clock, so it composes as
      // wall-aligned blocks (offset 0 — the wheel's native domain) split
      // at each zone transition's wall images, one O(1) read per piece
      // (see [[ntzPiecewiseArm]]).
      case TruncTimestamp(Literal(fmt: UTF8String, StringType),
          Cast(nt, TimestampType, Some(ctz), _), _)
          if nt.dataType == TimestampNTZType && isTime(nt, table.timeColumn) &&
            !isUtcZone(ctz) =>
        val unit = fmt.toString.toLowerCase
        // shared wall-block dispatch (offset 0 — the wheel's native NTZ
        // domain): block enumerator, exclusive block end, edge granularity
        val (base, bEnd, fspan): ((HawWheel, Long, Long) => IndexedSeq[(Long, RangeAgg)], Long => Long, Long) =
          HawWheel.levelIndexOf(unit) match {
            case Some(idx) =>
              val span = HawWheel.Spans(idx)
              ((hw, ps, pe) => hw.groupByShifted(ps, pe, idx, 0L),
                (gs: Long) => gs + span, span)
            case None =>
              val stride = HawWheel.monthStrideOf(unit).getOrElse(return None)
              ((hw, ps, pe) => hw.groupByCalendar(ps, pe, stride),
                (gs: Long) => plusMonthsSec(gs, stride), HawWheel.DAY)
          }
        ntzWallConstantOffset(ctz, unit, table) match {
          // No transition across [coarsest reachable bucket start, span
          // end] (a UNIT-scaled window, so DST zones qualify whenever the
          // data sits between transitions — unlike the instant arms'
          // year-margin gate, NTZ needs constancy only where bucket starts
          // and data actually live): cast_Z is the pure shift w − o, so
          // every bucket is one WALL block (edges epoch-aligned regardless
          // of o, unlike the instant column's shifted-slot arm) and its
          // value is blockStart − o. Keys are instants again, so hll
          // register reads clip to wall blocks and coarsened wheels serve
          // span-aligned blocks — both of which the transition-crossing
          // piecewise path below must decline.
          case Some(o) =>
            BucketArm(base, gs => Literal((gs - o) * 1000000L, ge.dataType),
              fspan, Some(bEnd))
          case None =>
            ntzPiecewiseArm(ctz, ge, nt, table, base, bEnd).getOrElse(return None)
        }
      // GROUP BY to_date(ts) / CAST(ts AS DATE): day buckets with a
      // DateType key; date truncation of TIMESTAMP follows the session
      // zone — NTZ casts are wall-clock (offset 0), UTC matches slots
      // directly, and a constant-offset zone composes as shifted day
      // buckets keyed by the LOCAL day, like the date_trunc arm above.
      case Cast(t, DateType, tzId, _) if isTime(t, table.timeColumn) =>
        val oOpt: Option[Long] =
          if (t.dataType == TimestampNTZType || tzId.exists(isUtcZone)) Some(0L)
          else tzId.flatMap(z => constantZoneOffset(z, table))
        oOpt match {
          case Some(o) =>
            val shift = Math.floorMod(o, HawWheel.DAY)
            BucketArm(
              (hw: HawWheel, s: Long, e: Long) => hw.groupByShifted(s, e, 3, shift),
              (gs: Long) => Literal(Math.floorDiv(gs + o, HawWheel.DAY).toInt, DateType),
              fineSpanFor(HawWheel.DAY, shift),
              Some((gs: Long) => gs + HawWheel.DAY))
          case None =>
            piecewiseArm(tzId.getOrElse(return None), ge, t, table,
              (hw, ps, pe, o) =>
                hw.groupByShifted(ps, pe, 3, Math.floorMod(o, HawWheel.DAY)))
              .getOrElse(return None)
        }
      // GROUP BY a DateType time column directly: day buckets, DATE keys.
      // Purely calendar arithmetic on epoch days — no session zone
      // involved, so no UTC gate.
      case a: AttributeReference
          if a.name == table.timeColumn && a.dataType == DateType =>
        BucketArm(
          (hw: HawWheel, s: Long, e: Long) => hw.groupBy(s, e, 3),
          (gs: Long) => Literal((gs / HawWheel.DAY).toInt, DateType), HawWheel.DAY,
          Some((gs: Long) => gs + HawWheel.DAY))
      // GROUP BY year(ts): 12-month calendar buckets keyed by the year
      // NUMBER (IntegerType) — the only single-field extraction that is
      // contiguous in time (month/day-of-year recur). The year is read off
      // the LOCAL date, so the same constant-offset composition as
      // to_date/date_trunc applies (DATE columns and UTC take offset 0).
      case Year(t) =>
        val oOpt: Option[Long] = t match {
          case a: AttributeReference
              if a.name == table.timeColumn && a.dataType == DateType => Some(0L)
          case Cast(inner, DateType, tzId, _) if isTime(inner, table.timeColumn) =>
            if (inner.dataType == TimestampNTZType || tzId.exists(isUtcZone)) Some(0L)
            else tzId.flatMap(z => constantZoneOffset(z, table))
          case _ => return None
        }
        oOpt match {
          case Some(o) =>
            BucketArm(
              (hw: HawWheel, s: Long, e: Long) => hw.groupByCalendar(s, e, 12, o),
              (gs: Long) => Literal(
                java.time.LocalDate.ofEpochDay(Math.floorDiv(gs + o, HawWheel.DAY)).getYear,
                IntegerType),
              fineSpanFor(HawWheel.DAY, Math.floorMod(o, HawWheel.DAY)),
              Some((gs: Long) => java.time.LocalDate
                .ofEpochDay(Math.floorDiv(gs + o, HawWheel.DAY))
                .plusMonths(12L).toEpochDay * HawWheel.DAY - o))
          case None =>
            val (tz, inner) = t match {
              case Cast(in, DateType, tzId, _) => (tzId.getOrElse(return None), in)
              case _ => return None
            }
            piecewiseArm(tz, ge, inner, table,
              (hw, ps, pe, o) => hw.groupByCalendar(ps, pe, 12, o))
              .getOrElse(return None)
        }
      // GROUP BY trunc(dateCol, 'week'|'month'|'quarter'|'year'): DATE in,
      // DATE out, zone-free (TruncDate never consults the session zone).
      case TruncDate(t: AttributeReference, Literal(fmt: UTF8String, StringType))
          if t.name == table.timeColumn && t.dataType == DateType =>
        val unit = fmt.toString.toLowerCase
        val (fn, bspan, endOf): ((HawWheel, Long, Long) => IndexedSeq[(Long, RangeAgg)], Long, Long => Long) =
          if (HawWheel.levelIndexOf(unit).contains(4)) {
            ((hw, s, e) => hw.groupBy(s, e, 4), HawWheel.WEEK,
              (gs: Long) => gs + HawWheel.WEEK)
          } else {
            val stride = HawWheel.monthStrideOf(unit).getOrElse(return None)
            ((hw, s, e) => hw.groupByCalendar(s, e, stride), HawWheel.DAY,
              (gs: Long) => plusMonthsSec(gs, stride))
          }
        BucketArm(fn, gs => Literal((gs / HawWheel.DAY).toInt, DateType), bspan, Some(endOf))
      // GROUP BY window(ts, len [, slide, start]) — the analyzer lowers the
      // tumbling form (slide == len) to a named_struct projection; each row
      // belongs to the single bucket [lastStart, lastStart + slide), keyed
      // by the struct (start, start + len). Pure epoch arithmetic: no
      // session-zone gate. (The sliding form arrives through an Expand and
      // is handled by slidingWindowOf, not here; k·slide shifts — c != 0 —
      // only occur in Expand projections, so require c == 0.)
      // slideUs == lenUs is asserted EXPLICITLY (round-7 advice): today
      // Spark's TimeWindowing only emits this bare-Project lowering for
      // tumbling windows, but that is an undocumented invariant — if a
      // future version projected a len < slide window, reading each bucket
      // over the slide span would silently include out-of-window rows.
      case WindowStruct(t, slideUs, offUs, 0L, lenUs)
          if isTime(t, table.timeColumn) && slideUs == lenUs =>
        windowBucketArm(ge.dataType, slideUs, offUs, slideUs, lenUs)
          .getOrElse(return None)
      case _ => return None
    })

  /** The rule-varying (DST) zone composition: split the queried instant
    * range at the zone's rule transitions into constant-offset pieces, run
    * `base` (the existing shifted/calendar grouper) per piece with that
    * piece's offset, and key every piece-bucket by EVALUATING the original
    * grouping expression at an instant inside it. Catalyst's own eval
    * supplies the zone semantics — offset retention through fall-back
    * overlaps (`ZonedDateTime.truncatedTo`), gap-shifted midnights
    * (`LocalDate.atStartOfDay(zone)`) — so the rewritten keys are the
    * values the scan would produce, bit-for-bit, and a bucket straddling a
    * transition merges across pieces exactly when Spark gives its instants
    * one common value (the arms merge duplicate keys additively; the
    * piece-clipped instant sets are disjoint). Soundness of the
    * constant-value claim: within one piece the offset is constant, so
    * instants of one local bucket share a truncated LOCAL time, and every
    * Spark truncation path maps (local, currentOffset) deterministically.
    * Coarsened wheels decline (fineSpan 1: transition edges are not
    * slot-aligned); hll_distinct is served through [[BucketArm.hllReads]] —
    * the same piece walk emits each block's (evaluated key, instant
    * interval) so register merges clip per bucket without instant keys. */
  private def piecewiseArm(tz: String, ge: Expression, timeExpr: Expression,
      table: TableIndex,
      base: (HawWheel, Long, Long, Long) => IndexedSeq[(Long, RangeAgg)])
      : Option[BucketArm] = {
    val rules =
      try java.time.ZoneId.of(tz).getRules catch { case _: Throwable => return None }
    if (timeExpr.dataType != TimestampType) return None
    val keyLit: Long => Literal = ge.dataType match {
      case TimestampType            => k => Literal(k, TimestampType)
      case DateType                 => k => Literal(k.toInt, DateType)
      case IntegerType              => k => Literal(k.toInt, IntegerType)
      case _                        => return None
    }
    def evalKey(repSec: Long): Long = {
      // Substitute the TIMESTAMP-typed time subexpression the arm matched
      // (not the leaf attribute: the time column may be DERIVED, e.g.
      // `timestamp_micros(rawNanos div 1000)`, whose leaf is a raw Long in
      // a different unit) and constant-fold the grouping expression.
      val sub = ge.transform {
        case e if e.semanticEquals(timeExpr) =>
          Literal(repSec * 1000000L, TimestampType)
      }
      Try(sub.eval(InternalRow.empty)).getOrElse(throw new DeclineRewrite) match {
        case l: Long => l
        case i: Int  => i.toLong
        case _       => throw new DeclineRewrite
      }
    }
    // ONE piece walk feeds both the aggregate grouping and the hll
    // register intervals. `base` does not expose block ends, so each
    // block's interval extends to the NEXT block's start (or the piece
    // end) — the uncovered stretch has no active slots on this wheel (it
    // would otherwise be a block), and an HLL wheel's active seconds are a
    // subset of the enum wheel's, so the extension merges only identity.
    def walk(hw: HawWheel, s: Long, e: Long): Vector[(Long, RangeAgg, Long, Long)] = {
      val lo = math.max(s, hw.startSec)
      val hi = math.min(e, hw.endSec)
      if (lo >= hi) Vector.empty
      else {
        val out = Vector.newBuilder[(Long, RangeAgg, Long, Long)]
        var cur = lo
        var n = 0
        while (cur < hi) {
          if (n > 512) throw new DeclineRewrite // pathological transition list
          val off = rules.getOffset(java.time.Instant.ofEpochSecond(cur))
            .getTotalSeconds.toLong
          val t = rules.nextTransition(java.time.Instant.ofEpochSecond(cur))
          val pe =
            if (t == null) hi
            else math.min(hi, math.max(cur + 1, t.getInstant.getEpochSecond))
          val blocks = base(hw, cur, pe, off)
          for (j <- blocks.indices) {
            val (gs, ra) = blocks(j)
            val s0 = math.max(gs, cur)
            val e0 = if (j + 1 < blocks.length) math.min(blocks(j + 1)._1, pe) else pe
            out += ((evalKey(s0), ra, s0, e0))
          }
          cur = pe
          n += 1
        }
        out.result()
      }
    }
    val fn = (hw: HawWheel, s: Long, e: Long) =>
      walk(hw, s, e).map { case (k, ra, _, _) => (k, ra) }
    val reads = (hw: HawWheel, s: Long, e: Long) =>
      walk(hw, s, e).map { case (k, _, s0, e0) => (k, (s0, e0)) }
    Some(BucketArm(fn, keyLit, 1L, None, Some(reads)))
  }

  /** Catalyst-eval of a composed expression over the time column at one
    * wheel-domain second (wall for NTZ columns, instant for TIMESTAMP):
    * substitutes a literal of `dt` for the time subexpression and
    * constant-folds, so gap-shift, earlier-offset, and offset-retention
    * conventions are bit-identical to the scan. Shared by
    * [[ntzPiecewiseArm]] and [[normalizeZoneCalendar]]; any eval failure
    * declines the rewrite. */
  private def evalKeyAt(ge: Expression, timeExpr: Expression, sec: Long,
      dt: DataType): Long = {
    val sub = ge.transform {
      case e if e.semanticEquals(timeExpr) => Literal(sec * 1000000L, dt)
    }
    Try(sub.eval(InternalRow.empty)).getOrElse(throw new DeclineRewrite) match {
      case l: Long => l
      case _       => throw new DeclineRewrite
    }
  }
  private def evalNtzKey(ge: Expression, ntzExpr: Expression, wallSec: Long): Long =
    evalKeyAt(ge, ntzExpr, wallSec, TimestampNTZType)

  /** Transition INSTANTS of the zone within (lo, hi) — the cut points for
    * instant-domain wheels, between which the offset is constant. */
  private def transitionInstantCuts(rules: java.time.zone.ZoneRules,
      lo: Long, hi: Long): Vector[Long] = {
    val cuts = scala.collection.mutable.TreeSet.empty[Long]
    var t = rules.nextTransition(java.time.Instant.ofEpochSecond(lo))
    var guard = 0
    while (t != null && t.getInstant.getEpochSecond < hi) {
      if (guard > 512) throw new DeclineRewrite
      val ts = t.getInstant.getEpochSecond
      if (ts > lo && ts < hi) cuts += ts
      t = rules.nextTransition(t.getInstant)
      guard += 1
    }
    cuts.toVector
  }

  /** Wall images (T + offsetBefore, T + offsetAfter) of every zone
    * transition near [lo, hi), clipped to its interior — the wall-axis cut
    * points BETWEEN which the NTZ->TIMESTAMP cast's instant image is one
    * constant-offset stretch (a gap's skipped wall interval maps forward
    * onto the same instants as the wall interval after it, so the image is
    * NOT globally monotone — every consumer must work per piece). */
  private def transitionWallCuts(rules: java.time.zone.ZoneRules,
      lo: Long, hi: Long): Vector[Long] = {
    val cuts = scala.collection.mutable.TreeSet.empty[Long]
    var t = rules.nextTransition(
      java.time.Instant.ofEpochSecond(lo - 2 * HawWheel.DAY))
    var guard = 0
    while (t != null && t.getInstant.getEpochSecond < hi + 2 * HawWheel.DAY) {
      if (guard > 512) throw new DeclineRewrite // pathological transition list
      val ts = t.getInstant.getEpochSecond
      val a = ts + t.getOffsetBefore.getTotalSeconds
      val b = ts + t.getOffsetAfter.getTotalSeconds
      if (a > lo && a < hi) cuts += a
      if (b > lo && b < hi) cuts += b
      t = rules.nextTransition(t.getInstant)
      guard += 1
    }
    cuts.toVector
  }

  /** The NTZ-column sibling of [[piecewiseArm]]: composes
    * `trunc_Z(CAST(ntzCol AS TIMESTAMP))` group-bys for ANY session zone Z
    * from wall-second wheel slots.
    *
    * Soundness. Write K(w) = trunc_Z(cast_Z(w)) for a wall second w.
    * cast_Z resolves spring-forward gaps by shifting forward and fall-back
    * overlaps to the earlier offset (java.time `ZonedDateTime.of`, which
    * Catalyst delegates to), so BETWEEN the wall images of a transition
    * (T + offsetBefore, T + offsetAfter) the instant image is a
    * constant-offset stretch, on which every Spark truncation path —
    * offset-retaining sub-day `truncatedTo`, local-date `atStartOfDay`
    * for day and coarser — is non-decreasing in w. Therefore, on any piece
    * cut at those images (and at bucket-block boundaries), K is monotone,
    * and EVALUATING K at both piece ends (Catalyst's own eval via
    * [[evalNtzKey]]) proves it constant when they agree; any disagreement
    * declines to the scan, so exactness never rests on the transition
    * algebra above. (K is NOT globally monotone: a gap's skipped wall
    * interval truncates into post-gap buckets, dipping back at the gap
    * end — which per-piece constancy handles and a global view must not
    * assume.) Blocks are enumerated at offset 0 — for NTZ the wheel's
    * slot domain IS the wall clock — and pieces sharing an evaluated key
    * merge additively downstream, exactly as in [[piecewiseArm]]. */
  private def ntzPiecewiseArm(tz: String, ge: Expression, ntzExpr: Expression,
      table: TableIndex,
      base: (HawWheel, Long, Long) => IndexedSeq[(Long, RangeAgg)],
      blockEnd: Long => Long): Option[BucketArm] = {
    val rules =
      try java.time.ZoneId.of(tz).getRules catch { case _: Throwable => return None }
    if (ntzExpr.dataType != TimestampNTZType) return None
    val keyLit: Long => Literal = ge.dataType match {
      case TimestampType => k => Literal(k, TimestampType)
      case _             => return None
    }
    // ONE piece walk feeds both the aggregate grouping and the hll
    // register intervals (emitting key, agg, and the block-piece's wall
    // interval together), so the two can never drift apart
    def walk(hw: HawWheel, s: Long, e: Long): Vector[(Long, RangeAgg, Long, Long)] = {
      val lo = math.max(s, hw.startSec)
      val hi = math.min(e, hw.endSec)
      if (lo >= hi) Vector.empty
      else {
        val bounds = Vector(lo) ++ transitionWallCuts(rules, lo, hi) :+ hi
        val out = Vector.newBuilder[(Long, RangeAgg, Long, Long)]
        for (i <- 0 until bounds.length - 1) {
          val (ps, pe) = (bounds(i), bounds(i + 1))
          out ++= base(hw, ps, pe).map { case (gs, ra) =>
            val s0 = math.max(gs, ps)
            val e0 = math.min(blockEnd(gs), pe)
            val k = evalNtzKey(ge, ntzExpr, s0)
            if (e0 - 1 > s0 && evalNtzKey(ge, ntzExpr, e0 - 1) != k)
              throw new DeclineRewrite
            (k, ra, s0, e0)
          }
        }
        out.result()
      }
    }
    val fn = (hw: HawWheel, s: Long, e: Long) =>
      walk(hw, s, e).map { case (k, ra, _, _) => (k, ra) }
    val reads = (hw: HawWheel, s: Long, e: Long) =>
      walk(hw, s, e).map { case (k, _, s0, e0) => (k, (s0, e0)) }
    Some(BucketArm(fn, keyLit, 1L, None, Some(reads)))
  }

  /** WHERE-side per-piece preimage normalization for session-zone calendar
    * predicates the plain extraction cannot compose:
    *
    *  - NTZ columns under ANY non-UTC session:
    *    `trunc_Z(CAST(ntz AS TIMESTAMP)) OP instant-literal` (companion of
    *    [[ntzPiecewiseArm]]). K(w) = trunc_Z(cast_Z(w)) is monotone only
    *    WITHIN each piece cut at a transition's wall images
    *    ([[transitionWallCuts]]): a spring-forward gap's skipped wall
    *    interval maps forward onto the same instants as the wall interval
    *    after it, so for sub-day units K dips back at the gap end and a
    *    predicate's row set can be a UNION of wall intervals (review
    *    finding — a global binary search returned one interval and
    *    silently mis-answered around gaps).
    *  - TIMESTAMP (instant) columns under a RULE-VARYING (DST) zone:
    *    sub-day `date_trunc('minute'|'hour', ts) INEQUALITY literal`,
    *    which the offset-retaining values kept residual before. K(t) is
    *    monotone within each constant-offset stretch cut at the
    *    transition instants ([[transitionInstantCuts]]); equalities keep
    *    the existing specialized resolution (`subDayTruncEqRangeUs`), and
    *    fixed-offset zones keep the cheaper closed-form arms.
    *
    * The preimage is built per piece — monotone there, so a bisection with
    * Catalyst's own eval ([[evalKeyAt]]) finds each piece's qualifying
    * sub-interval — and emitted as one range conjunct pair on the raw time
    * expression, or an OR of pairs when pieces disagree, which the
    * multi-range extraction unions additively.
    *
    * Gates: the truncation unit must parse to second..year
    * ([[Extract.truncUnitOf]]) so K is constant per wheel-domain second —
    * finer units (millisecond/microsecond) would misclassify sub-second
    * rows against whole-second probes and decline instead. Replacements
    * are equivalent ON TABLE ROWS (every row lies inside the wheel span; a
    * NULL ts fails both forms), the contract both callers — aggregate
    * rewrite and emptiness pruning over this table's scan — need.
    * Conjuncts that don't match, or whose key eval fails, pass through
    * untouched. */
  private def normalizeZoneCalendar(conjuncts: Seq[Expression],
      table: TableIndex): Seq[Expression] = {
    val hw = table.countWheel.map(_.wheel).getOrElse(return conjuncts)
    if (hw.numSecs == 0) return conjuncts

    /** One normalizable calendar view: comparisons emit on `target` with
      * `litDt` literals; `cuts` are the wheel-domain piece boundaries. */
    final case class View(target: Expression, litDt: DataType,
        rules: java.time.zone.ZoneRules, wallCuts: Boolean, eqOk: Boolean)

    def viewOf(x: Expression): Option[View] = x match {
      case TruncTimestamp(Literal(fmt: UTF8String, StringType),
          Cast(nt, TimestampType, Some(ctz), _), _)
          if Extract.truncUnitOf(fmt.toString).isDefined &&
            nt.dataType == TimestampNTZType &&
            isTime(nt, table.timeColumn) && !isUtcZone(ctz) =>
        Try(java.time.ZoneId.of(ctz).getRules).toOption
          .map(View(nt, TimestampNTZType, _, wallCuts = true, eqOk = true))
      // instant column, rule-varying zone, sub-day unit: inequalities only
      // (equality already resolves per piece in Extract, and fixed-offset
      // zones have closed-form arms there)
      case TruncTimestamp(Literal(fmt: UTF8String, StringType), t, Some(tz))
          if Extract.truncUnitOf(fmt.toString).exists(u => u == "minute" || u == "hour") &&
            t.dataType == TimestampType && isTime(t, table.timeColumn) &&
            !isUtcZone(tz) && constantZoneOffset(tz, table).isEmpty =>
        Try(java.time.ZoneId.of(tz).getRules).toOption
          .map(View(t, TimestampType, _, wallCuts = false, eqOk = false))
      case _ => None
    }
    def instLit(e: Expression): Option[Long] = e match {
      case Literal(v: Long, TimestampType) => Some(v)
      case _ if e.foldable && e.dataType == TimestampType =>
        Try(e.eval(InternalRow.empty)).toOption.flatMap(v =>
          Option(v).map(_.asInstanceOf[Long]))
      case _ => None
    }

    // the cut list depends only on (rules, domain, span) — computed once
    // per view kind, not per comparison conjunct
    val cutsCache = mutable.Map.empty[(Boolean, java.time.zone.ZoneRules), Vector[Long]]

    /** The qualifying wall/instant intervals for `x <kind> lits` and their
      * range-conjunct emission; throws DeclineRewrite on eval failure. */
    def preimages(x: Expression, v: View, kind: String, lits: Seq[Long]): Seq[Expression] = {
      def k(s: Long): Long = evalKeyAt(x, v.target, s, v.litDt)
      def secLit(sec: Long) = Literal(sec * 1000000L, v.litDt)
      val lo = hw.startSec
      val hi = hw.endSec
      val cuts = cutsCache.getOrElseUpdate((v.wallCuts, v.rules),
        if (v.wallCuts) transitionWallCuts(v.rules, lo, hi)
        else transitionInstantCuts(v.rules, lo, hi))
      val bounds = lo +: cuts :+ hi
      // least wheel-domain second in [ps, pe) satisfying a pred that is
      // monotone WITHIN the piece, else pe
      def firstIn(ps: Long, pe: Long, pred: Long => Boolean): Long =
        if (pred(ps)) ps
        else if (!pred(pe - 1)) pe
        else {
          var a = ps
          var b = pe - 1
          while (b - a > 1) {
            val m = a + (b - a) / 2
            if (pred(m)) b = m else a = m
          }
          b
        }
      def merged(raw: Vector[(Long, Long)]): Vector[(Long, Long)] =
        raw.foldLeft(Vector.empty[(Long, Long)]) {
          case (acc :+ ((s0, e0)), (s1, e1)) if e0 == s1 => acc :+ ((s0, e1))
          case (acc, iv)                                 => acc :+ iv
        }
      def pieces = (0 until bounds.length - 1).iterator
        .map(i => (bounds(i), bounds(i + 1)))
      // qualifying sub-interval per piece: the pred-true SUFFIX (positive)
      // or its complement prefix (negative)
      def intervalsOf(pred: Long => Boolean, positive: Boolean): Vector[(Long, Long)] =
        merged(pieces.flatMap { case (ps, pe) =>
          val f = firstIn(ps, pe, pred)
          if (positive) { if (f < pe) Some((f, pe)) else None }
          else { if (f > ps) Some((ps, f)) else None }
        }.toVector)
      def eqIntervals(lUs: Long): Vector[(Long, Long)] =
        merged(pieces.flatMap { case (ps, pe) =>
          val f = firstIn(ps, pe, k(_) >= lUs)
          val g = firstIn(ps, pe, k(_) > lUs)
          if (f < g) Some((f, g)) else None
        }.toVector)
      val intervals: Vector[(Long, Long)] = kind match {
        case "ge" => intervalsOf(k(_) >= lits.head, positive = true)
        case "gt" => intervalsOf(k(_) > lits.head, positive = true)
        case "lt" => intervalsOf(k(_) >= lits.head, positive = false)
        case "le" => intervalsOf(k(_) > lits.head, positive = false)
        case "eq" => eqIntervals(lits.head)
        // IN: union of per-element equality preimages (disjoint across
        // distinct literals — K is single-valued — so a sort + adjacency
        // merge is the union)
        case "in" => merged(lits.distinct.toVector.flatMap(eqIntervals).sortBy(_._1))
      }
      def rng(iv: (Long, Long)): Expression =
        And(GreaterThanOrEqual(v.target, secLit(iv._1)),
            LessThan(v.target, secLit(iv._2)))
      intervals match {
        // no qualifying rows: an empty range (merging can never widen it)
        case Vector() => Seq(GreaterThanOrEqual(v.target, secLit(hi)),
                             LessThan(v.target, secLit(hi)))
        case Vector((s0, e0)) => Seq(GreaterThanOrEqual(v.target, secLit(s0)),
                                     LessThan(v.target, secLit(e0)))
        case many => Seq(many.map(rng).reduce(Or(_, _)))
      }
    }

    def tryCmp(x: Expression, l: Expression, kind: String): Option[Seq[Expression]] =
      for {
        v <- viewOf(x)
        if v.eqOk || kind != "eq"
        lUs <- instLit(l)
        r <- Try(preimages(x, v, kind, Seq(lUs))).toOption
      } yield r

    def tryIn(x: Expression, lits: Seq[Long]): Option[Seq[Expression]] =
      for {
        v <- viewOf(x)
        if v.eqOk
        r <- Try(preimages(x, v, "in", lits)).toOption
      } yield r

    conjuncts.flatMap { c =>
      val mapped = c match {
        // <=> with a non-null instant literal matches exactly the = rows
        case EqualTo(a, b)       => tryCmp(a, b, "eq").orElse(tryCmp(b, a, "eq"))
        case EqualNullSafe(a, b) => tryCmp(a, b, "eq").orElse(tryCmp(b, a, "eq"))
        case GreaterThanOrEqual(a, b) => tryCmp(a, b, "ge").orElse(tryCmp(b, a, "le"))
        case GreaterThan(a, b)        => tryCmp(a, b, "gt").orElse(tryCmp(b, a, "lt"))
        case LessThan(a, b)           => tryCmp(a, b, "lt").orElse(tryCmp(b, a, "gt"))
        case LessThanOrEqual(a, b)    => tryCmp(a, b, "le").orElse(tryCmp(b, a, "ge"))
        // IN lists (and the optimizer's InSet form): union of equality
        // preimages. A NULL member declines (instLit is None), which is
        // safe — the conjunct just stays residual.
        // capped at 64 members like the sibling union paths: each member
        // costs per-piece bisection evals, and an unbounded list would let
        // one query stall the optimizer
        case In(x, elems) if elems.nonEmpty && elems.length <= 64 =>
          val lits = elems.map(instLit)
          if (lits.forall(_.isDefined)) tryIn(x, lits.flatten) else None
        case InSet(x, hset)
            if x.dataType == TimestampType && hset.nonEmpty && hset.size <= 64 &&
              hset.forall(_.isInstanceOf[Long]) =>
          tryIn(x, hset.toSeq.map(_.asInstanceOf[Long]))
        case _ => None
      }
      mapped.getOrElse(Seq(c))
    }
  }

  /** Exclusive end of a calendar bucket: `months` months after its start.
    * Bucket starts are UTC month boundaries (day-aligned), so the LocalDate
    * round-trip is exact. */
  private def plusMonthsSec(sec: Long, months: Int): Long =
    java.time.LocalDate.ofEpochDay(Math.floorDiv(sec, HawWheel.DAY))
      .plusMonths(months.toLong)
      .atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond

  /** The coarsest wheel level span that nests inside `shift`-shifted
    * buckets of `span` (divides both) — the slot granularity shifted
    * buckets actually read, and therefore the alignment coarsened wheels
    * must satisfy (the grouped arm gates slotSpan | this). */
  private def fineSpanFor(span: Long, shift: Long): Long =
    HawWheel.Spans.reverse.find(sp => span % sp == 0 && shift % sp == 0).get

  /** Zone resolution for [[Extract]]'s calendar-view arms: a constant
    * offset when provable across the indexed span (fixed-offset zones —
    * every view composes), else the raw zone rules (DST zones — only
    * date-path views compose, resolving each local boundary per
    * [[Extract.boundaryInstantUs]]). */
  private def zoneSpecOf(table: TableIndex)(z: String): Option[Extract.ZoneSpec] =
    constantZoneOffset(z, table).map(Extract.FixedZone)
      .orElse(Try(java.time.ZoneId.of(z).getRules).toOption.map(Extract.RuleZone))

  /** The zone's UTC offset in seconds IF its rules are constant over the
    * window every NTZ wall bucket of `unit` can touch: from the coarsest
    * bucket start reachable from the span's first data second (its
    * unit-floor — one hour back for 'hour', up to a year back for 'year')
    * through the span end, padded a day each side (wall↔instant skew is
    * bounded by ±18 h of offset). Within that window cast_Z is the pure
    * shift w − o and every truncation path's value is blockStart − o; a
    * transition inside it returns None and the caller composes piecewise
    * instead. Unit-scaled on purpose: [[constantZoneOffset]]'s year margin
    * serves instant-side calendar arms and would disqualify every DST zone
    * outright, while January data under America/New_York is months from
    * either 2024 transition and composes as a constant shift. */
  private def ntzWallConstantOffset(tz: String, unit: String,
      table: TableIndex): Option[Long] =
    try {
      val rules = java.time.ZoneId.of(tz).getRules
      if (rules.isFixedOffset)
        return Some(rules.getOffset(java.time.Instant.EPOCH).getTotalSeconds.toLong)
      val hw = table.countWheel.map(_.wheel).getOrElse(return None)
      if (hw.numSecs == 0) return None
      val reach = HawWheel.levelIndexOf(unit) match {
        case Some(idx) => HawWheel.alignDown(hw.startSec, HawWheel.Spans(idx))
        case None =>
          val stride = HawWheel.monthStrideOf(unit).getOrElse(return None)
          val d = java.time.LocalDate.ofEpochDay(Math.floorDiv(hw.startSec, HawWheel.DAY))
          val m0 = ((d.getMonthValue - 1) / stride) * stride + 1
          java.time.LocalDate.of(d.getYear, m0, 1).toEpochDay * HawWheel.DAY
      }
      val lo = java.time.Instant.ofEpochSecond(reach - HawWheel.DAY)
      val hi = java.time.Instant.ofEpochSecond(hw.endSec + HawWheel.DAY)
      val off = rules.getOffset(lo)
      val next = rules.nextTransition(lo)
      if (rules.getOffset(hi) == off && (next == null || !next.getInstant.isBefore(hi)))
        Some(off.getTotalSeconds.toLong)
      else None
    } catch { case _: Throwable => None }

  /** The zone's UTC offset in seconds IF its rules are constant (no DST or
    * historical transition) across the table's indexed span plus a
    * one-year margin (covering every bucket boundary any calendar unit can
    * reach from a data instant); None when the offset varies — the caller
    * declines rather than truncating some rows with the wrong offset.
    * Fixed-offset zone ids short-circuit; region zones check their actual
    * transition history over the span, so Asia/Kolkata (constant +05:30
    * since 1945) qualifies for modern data while any DST zone does not. */
  private def constantZoneOffset(tz: String, table: TableIndex): Option[Long] =
    try {
      val rules = java.time.ZoneId.of(tz).getRules
      if (rules.isFixedOffset)
        Some(rules.getOffset(java.time.Instant.EPOCH).getTotalSeconds.toLong)
      else {
        val hw = table.countWheel.map(_.wheel).getOrElse(return None)
        val margin = 366L * HawWheel.DAY
        val lo = java.time.Instant.ofEpochSecond(hw.startSec - margin)
        val hi = java.time.Instant.ofEpochSecond(hw.endSec + margin)
        val off = rules.getOffset(lo)
        val next = rules.nextTransition(lo)
        if (rules.getOffset(hi) == off && (next == null || !next.getInstant.isBefore(hi)))
          Some(off.getTotalSeconds.toLong)
        else None
      }
    } catch { case _: Throwable => None }

  private def isUtcZone(tz: String): Boolean = Extract.isUtcZone(tz)

  // ----------------------------------------------------- emptiness pruning

  private def tryPrune(f: Filter): Option[LogicalPlan] = {
    val uw = unwrap(f).getOrElse(return None)
    val table = uw.table
    val (ranges, residual) = Extract.splitTimeRangeSet(
      normalizeZoneCalendar(uw.conjuncts, table), table.timeColumn,
      zoneSpecOf(table))
    // every disjunct contradicted the conjunctive bounds: empty by algebra,
    // no wheel consulted
    if (ranges.isEmpty) return Some(LocalRelation(f.output, Nil))
    if (!ranges.exists(_.isBounded)) return None
    val cw = table.countWheel.filter(_.scope.coverage.isEmpty).getOrElse(return None)
    // Coarsened wheels: widen to slot boundaries — a superset range, so
    // count==0 / min-max contradictions remain sound proofs of emptiness.
    def alignedBounds(r: graft.expr.SecRange, span: Long): (Long, Long) = {
      val s = r.startSec.getOrElse(LoSentinel)
      val e = r.endSec.getOrElse(HiSentinel)
      if (span == 1L) (s, e)
      else {
        val ea = HawWheel.alignDown(e, span)
        (HawWheel.alignDown(s, span), if (ea == e) e else ea + span)
      }
    }
    val allCountEmpty = ranges.forall { r =>
      val (cs, ce) = alignedBounds(r, cw.wheel.slotSpan)
      cw.wheel.countRange(cs, ce) == 0L
    }
    if (allCountEmpty) {
      return Some(LocalRelation(f.output, Nil))
    }
    // min/max contradiction must hold on EVERY range of the union (a range
    // the count already proves empty contributes no rows and passes)
    val provenEmpty = Extract.minMaxPreds(residual).exists { p =>
      table.minMaxWheel(p.column)
        .filter(_.scope.coverage.isEmpty)
        // a NaN row satisfies `col > k` under Spark's ordering but is
        // invisible to the wheel's range min/max — never prune NaN-bearing
        // wheels
        .filter(_.facts.valuesNaNFree)
        .exists { w =>
          ranges.forall { r =>
            val (ws, we) = alignedBounds(r, w.wheel.slotSpan)
            val ra = w.wheel.range(ws, we)
            ra.count == 0 || Extract.provesEmpty(p, ra.min, ra.max)
          }
        }
    }
    if (provenEmpty) Some(LocalRelation(f.output, Nil)) else None
  }

  // --------------------------------------------------- heavy-hitter top-k

  /** `SELECT key, count(*) AS c FROM t WHERE <time range> GROUP BY key
    * ORDER BY c DESC [, key ASC] LIMIT n` over a column with a temporal
    * heavy-hitter wheel ([[graft.index.TopKIndexedWheel]]): serves the
    * CERTIFIED exact top-n — keys AND counts — from the per-slot candidate
    * summaries when the range read's slack bound is zero, and declines (the
    * scan runs) otherwise, so the rewrite can never be wrong. This is the
    * high-cardinality complement of the per-value keyed GROUP BY arm:
    * low-cardinality keys (event_type) route through complete per-value
    * wheel sets; keys with too many values to enumerate wheels for
    * (user_id) route here. Ties at the cut come back (count desc, key asc)
    * — a valid answer under the `c DESC`-only sort and exactly the
    * required order when the query pins the key as tiebreaker.
    *
    * Residual predicates route to KEYED top-k wheels by canonical filter
    * key (`withKeyedTopKWheel("user_id", "event_type = 'purchase'")`
    * serves "top purchasers"); `key IS NOT NULL` conjuncts are the
    * NULL-group waiver rather than part of the routing key.
    *
    * Decline gates: a residual with no keyed wheel under its canonical
    * key; a NULL key seen at build
    * ([[graft.index.TopKIndexedWheel.keyNullCount]] — SQL has a NULL group
    * the summary cannot represent) unless the query filters them; inexact
    * or sub-second bounds; an unbounded range without the NULL-free time
    * proof; and the certificate itself — nonzero accumulated slack (some
    * compacted slot may have dropped a key that belongs in the answer). */
  private def tryTopKRewrite(gl: GlobalLimit): Option[LogicalPlan] = {
    val (n, order, below) = gl match {
      case GlobalLimit(IntegerLiteral(n0),
          LocalLimit(IntegerLiteral(n1), Sort(so, true, child, _)))
          if n0 == n1 && n0 >= 1 => (n0, so, child)
      case _ => return None
    }
    val agg = below match {
      case a: Aggregate => a
      case _            => return None
    }
    if (agg.groupingExpressions.length != 1) return None
    if (agg.aggregateExpressions.length != 2) return None
    val uw = unwrap(agg.child).getOrElse(return None)
    val table = uw.table
    val g = resolve(agg.groupingExpressions.head, uw.aliases) match {
      case a: AttributeReference => a
      case _                     => return None
    }
    if (g.dataType != LongType && g.dataType != IntegerType) return None
    if (table.allTopKWheels.forall(_.column != g.name)) return None

    // output shape: one side the grouping key, the other a plain COUNT —
    // count(*) / count(1) / count(key) (the last is per-group equal to
    // count(*) once the NULL-key gate below holds: group members carry the
    // group's own non-NULL key)
    def keyLike(ne: NamedExpression): Boolean = ne match {
      case a: AttributeReference => a.exprId == g.exprId ||
        a.semanticEquals(agg.groupingExpressions.head)
      case Alias(a: AttributeReference, _) => a.exprId == g.exprId
      case _ => false
    }
    def countLike(ne: NamedExpression): Boolean = ne match {
      case Alias(AggregateExpression(Count(args), _, false, None, _), _) =>
        args.nonEmpty && args.forall {
          case l: Literal            => l.value != null
          case a: AttributeReference => resolve(a, uw.aliases) match {
            case r: AttributeReference => r.exprId == g.exprId
            case _                     => false
          }
          case _ => false
        }
      case _ => false
    }
    val aes = agg.aggregateExpressions
    val (keyPos, cntPos) =
      if (keyLike(aes(0)) && countLike(aes(1))) (0, 1)
      else if (keyLike(aes(1)) && countLike(aes(0))) (1, 0)
      else return None

    // the sort must be (count desc) or (count desc, key asc) on the
    // aggregate's own outputs
    val keyId = aes(keyPos).exprId
    val cntId = aes(cntPos).exprId
    order match {
      case Seq(SortOrder(c: AttributeReference, Descending, _, _))
          if c.exprId == cntId => ()
      case Seq(SortOrder(c: AttributeReference, Descending, _, _),
               SortOrder(k: AttributeReference, Ascending, _, _))
          if c.exprId == cntId && k.exprId == keyId => ()
      case _ => return None
    }

    val (ranges, residualRaw) = Extract.splitTimeRangeSet(
      normalizeZoneCalendar(uw.conjuncts, table), table.timeColumn,
      zoneSpecOf(table))
    // every disjunct contradicted the bounds: zero rows, empty top-k
    if (ranges.isEmpty) return Some(LocalRelation(gl.output, Nil))
    if (ranges.exists(!_.exact)) return None
    if (ranges.exists(!_.isBounded) && !table.tsAllNonNull) return None
    val residual = Extract.dropImpliedNotNull(residualRaw)
    // `key IS NOT NULL` conjuncts are the NULL-group waiver, not part of
    // the wheel-routing key (the wheel never holds NULL keys anyway);
    // everything else must match a registered keyed wheel's canonical
    // filter — the same form the build side registers
    def isKeyNotNull(e: Expression): Boolean = e match {
      case IsNotNull(a: AttributeReference) => resolve(a, uw.aliases) match {
        case r: AttributeReference => r.exprId == g.exprId
        case _                     => false
      }
      case _ => false
    }
    val (nnParts, residualRest) = residual.partition(isKeyNotNull)
    val nullsFiltered = nnParts.nonEmpty
    val twFilterKey =
      if (residualRest.isEmpty) ""
      else Canon.joinParts(Canon.canonParts(residualRest))
    val tw = table.topKWheel(g.name, twFilterKey).getOrElse(return None)
    if (tw.keyNullCount != 0L && !nullsFiltered) return None

    // certified read: disjoint ranges combine additively; slack 0 proves
    // the merged summary is the EXACT full histogram of the range. A read
    // that overruns the fold's key budget comes back None — decline. The
    // CROSS-range fold enforces the same budget incrementally (round-11
    // advice): m disjunct ranges could otherwise accumulate up to
    // m × ReadKeyBudget keys on the planner thread, defeating the guard
    // each per-range read honors.
    var summary: graft.wheel.WheelAggregators.TopKSummary = null
    for (r <- ranges) {
      val part = tw.read(r.startSec.getOrElse(LoSentinel), r.endSec.getOrElse(HiSentinel))
        .getOrElse(return None)
      summary = if (summary == null) part else tw.agg.combine(summary, part)
      if (summary.keys.length > graft.index.TopKIndexedWheel.ReadKeyBudget) return None
    }
    val topq = tw.agg.topK(summary, n).getOrElse(return None)

    val rows: Seq[InternalRow] = topq.map { case (k, c) =>
      val vals = new Array[Any](2)
      vals(keyPos) = if (g.dataType == LongType) k else k.toInt
      vals(cntPos) = c
      new GenericInternalRow(vals): InternalRow
    }
    Some(LocalRelation(gl.output, rows))
  }
}
