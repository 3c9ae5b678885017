package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Complete, Count, HllSketchAgg, HllUnionAgg, HyperLogLogPlusPlus, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, Filter, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.types.{BinaryType, LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{GraftBatchScan, GraftCatalogOps, GraftCheck, GraftGenerated, GraftPolicies, GraftTable}

/**
 * AUTOMATIC MATERIALIZED-VIEW QUERY REWRITE (B234 — the Oracle QUERY REWRITE
 * / BigQuery smart-tuning / Snowflake mview-rewrite design): a user writes
 * the NATURAL aggregate over the base table,
 *
 *   SELECT k1, k2, count(*), sum(x) FROM big GROUP BY k1, k2
 *
 * and the optimizer transparently answers it from a registered incremental
 * materialized view (B198 `create_mview`) whenever one is PROVABLY FRESH —
 * the view's fold floor (the source generation its last refresh folded to,
 * read from its own txn ledger) equals the exact generation the query's scan
 * is bound to. At 100 TB this turns the dominant reporting aggregate from a
 * full fact-table scan into a key-count-sized view read, with zero query
 * changes and zero staleness risk: one source commit past the floor and the
 * rewrite simply stops firing until the next refresh.
 *
 * A rewrite fires only when it is provably the SAME computation:
 *   - the aggregate sits on a FULL scan of the source — or (r15) a
 *     PARTITION-PRUNED one, whose fully-handled partition filters are
 *     reconstructed from the pushed V2 shapes and carried as an ordinary
 *     residual the view replays (sound because the partition column must
 *     then be a view key: the predicate is decided wholly by per-group-
 *     constant values, so it selects WHOLE groups — the dashboard shape
 *     `GROUP BY k WHERE <partition pred>` over a time-partitioned fact now
 *     serves; `_file` pseudo-column pruning still always refuses) — either
 *     unfiltered or under Filters whose conjunction is a deterministic,
 *     subquery-free predicate over VIEW KEY columns — such a predicate is
 *     constant within each view group, so it selects WHOLE groups and
 *     replays exactly on the view's key columns (`GROUP BY k1 WHERE k2 = 5`
 *     from a (k1,k2) view filters the view then rolls up); any data-column
 *     predicate still refuses;
 *   - grouping is the view's declared key set (bare attributes, any order)
 *     — or a PROPER SUBSET of it, in which case the rewrite re-aggregates
 *     the view (ROLLUP: `GROUP BY k1` answered from a `(k1,k2)` view by
 *     summing the partials — exact because the view partitions the base
 *     rows) — and every aggregate expression is one the view maintains:
 *     `count(*)`/`count(1)` → `mv_count`, `sum(<declared sum col>)` →
 *     `mv_sum` (the self-maintainable abelian set), `min`/`max` of the
 *     declared column → `mv_min`/`mv_max` (maintained delete-aware by the
 *     fold: affected-group recompute when a delta deletes a potential
 *     extremum — see [[graft.sources.GraftCatalogOps.refreshMview]]), and
 *     `hll_sketch_estimate(hll_sketch_agg(<declared col>))` → the `mv_hll`
 *     DataSketches union column (insert folds union; non-NULL deletes
 *     recompute the group's sketch — no sketch subtracts; estimate-shape
 *     outputs only, exact under the coupon-mode promotion point, same 5%
 *     estimator bound past it — see HllOut; exact `COUNT(DISTINCT)` never
 *     rewrites);
 *   - eval-mode reconciliation: the fold's own sum() ran under the session's
 *     eval mode at fold time (stamped `mview.foldmode`, AND-combined across
 *     folds), so an ANSI-mode sum/avg serves only from an all-ANSI-folded
 *     view (a committed ANSI fold proves the stored sum exact, where a
 *     LEGACY fold may have silently wrapped a value ANSI would raise
 *     ARITHMETIC_OVERFLOW on); LEGACY queries serve from either fold mode
 *     (wrapping Long addition is associative, so legacy agrees with legacy
 *     bit-for-bit, and an ansi-folded value is the exact sum — equal to the
 *     legacy result whenever it was representable, and it was or the fold
 *     would have failed instead of committing); TRY never serves (NULL on
 *     overflow is not a value the view ever stores);
 *   - B233 policy REGIME matching (r14): views stamp the seed session's
 *     effective visibility regime (`mview.policy`, see
 *     [[graft.sources.GraftPolicies.regime]]), and a candidate serves only
 *     when the stamp equals THIS session's effective regime on the source —
 *     a policied base serves non-exempt sessions from a same-regime view
 *     (both paths aggregate the same policy-transformed rows; folds refuse
 *     regime changes, so a fresh view IS current-regime-consistent), an
 *     EXEMPT session (reads raw) refuses a filtered view and vice versa,
 *     and a stamp-less view over a policied source (pre-stamp vintage,
 *     unknowable seed regime) never serves;
 *   - the view lives in the same catalog and is FRESH (fold floor == the
 *     scan's bound generation — time-travel reads of older generations
 *     therefore never match a newer view).
 *
 * JOIN-AGGREGATE rewrite (the reporting shape Oracle/Snowflake also rewrite
 * through joins):
 *
 *   SELECT d.attr, count(*), sum(f.x)
 *   FROM fact f JOIN dim d ON f.fk = d.pk
 *   GROUP BY d.attr
 *
 * answers from a view keyed by a superset of {fk} by EAGER AGGREGATION
 * (Yan & Larson, "Eager aggregation and lazy aggregation", VLDB '95):
 * pre-aggregate the fact by its join + grouping keys, join the (tiny) view
 * to the dimension, re-aggregate the partials. This is UNCONDITIONALLY
 * exact for the abelian set — no uniqueness or referential declaration
 * needed: every fact row in one view group carries the same fk tuple and
 * the same fact-side grouping values, so it joins the SAME multiset of
 * dimension rows, and each joined (group, dim-row) pair contributes
 * mv_count/mv_sum exactly once where the original contributed its rows
 * one-by-one — duplicate dimension keys multiply both sides identically,
 * a filtered dimension drops both sides identically, and a NULL fk drops
 * both sides identically (equality never matches NULL). Qualification is
 * therefore only about the FACT side (full unfiltered-or-key-filtered scan
 * of the view's source, every fact-side join/group/filter column a view
 * key, aggregates over the declared sum column only) — the dimension
 * subtree rides into the rewritten plan VERBATIM, whatever it is. At
 * 100 TB this turns `100 TB fact ⋈ dim GROUP BY dim.attr` into
 * `key-count view ⋈ dim` — the fact scan and its shuffle vanish. (B231's
 * RELY declarations compose with this for free: when the query groups by
 * d.pk alone, RelyJoinEliminationRule substitutes pk→fk and drops the join
 * entirely, and the single-table rewrite then serves the remainder.)
 * Round 13 generalizes the join rewrite to the whole INNER-join TREE
 * (`fact ⋈ d1 ⋈ d2 … GROUP BY d1.a, d2.b`, the normalized star shape):
 * the view substitutes once for the fact leaf, every dim subtree rides
 * verbatim, and fact-free path conjuncts (snowflake `d1.x = d2.y`) ride
 * when deterministic and subquery-free — the per-group proof is unchanged.
 * Round 15 extends the tree to LEFT/RIGHT OUTER joins whose PRESERVED side
 * holds the fact (`fact LEFT JOIN dim` — the lossless reporting join): an
 * unmatched view row is a preserved row riding with its partials intact,
 * contributing exactly what its group's rows each null-extended once would
 * have; the fact-on-null-extended-side orientation never qualifies (an
 * unmatched dim row would null-extend mv_count where the original counted
 * a real row). Exact count(DISTINCT <view key>) also serves (r15): the
 * view's key tuples enumerate the base's distinct combos, so the rewrite
 * re-counts distinct over view rows — fact-side distincts read the view
 * key column, dim-side distincts ride verbatim, both multiplicity-blind.
 *
 * GENERATED-KEY rewrite (B189 ∘ B234): a grouping EXPRESSION matching a
 * declared generation rule of the source (`GROUP BY month(ts)` over
 * `generate.ts_month = month(ts)`) groups exactly like the generated column
 * itself — the write invariant pins `col <=> expr` per row — so a view
 * keyed on the generated column serves it, emitting the stored key value AS
 * the expression's output. Matching is canonical after normalizing the
 * declaration the way the optimizer normalized the query (same ANSI
 * coercion, time zones resolved, literal casts folded); an expression that
 * differs from every declaration refuses. The optimizer's pulled-out
 * `_groupingexpression` Project is inlined back one level so expression
 * keys are visible to the classifier at all.
 *
 * One serving core, four shape front ends (the Goldstein & Larson layout,
 * "Optimizing Queries Using Materialized Views", SIGMOD 2001): the
 * single-table (`rewrite`), join (`attemptJoin`), grouping-sets
 * (`rewriteExpand`) and multi-distinct (`rewriteMultiDistinct`) paths keep
 * only their structural code and share one pipeline — `sourceOf` qualifies
 * the base scan, `classify` + `partialsOf` check the outputs against what a
 * view maintains, `serve` picks a fresh view, scans it and replays the key
 * filter, and `reAggregate` folds the partials.
 *
 * The replacement preserves the Aggregate's exact output (names, exprIds,
 * types) via an aliasing Project over a manually-built scan of the view, so
 * parent operators never notice. Registered like the other graft rules —
 * extensions-injected or runtime-attached — and handles both relation
 * vintages.
 */
case class MviewRewriteRule(session: SparkSession) extends Rule[LogicalPlan]
    with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case a @ Aggregate(ges, aes, child, _) =>
      val (g2, a2, c2) = inlineGroupingProject(ges, aes, child)
      rewrite(g2, a2, c2)
        .orElse(rewriteJoin(g2, a2, c2))
        .orElse(rewriteExpand(g2, a2, c2))
        .orElse(rewriteMultiDistinct(g2, a2, c2))
        .getOrElse(a)
  }

  /** The optimizer's PullOutGroupingExpressions materializes complex
    * grouping keys as `_groupingexpression` aliases in a Project below the
    * Aggregate (so `GROUP BY month(ts)` reaches this rule as `GROUP BY
    * _groupingexpression#N`). Inline ONE such level back — substituting each
    * alias's child expression into the grouping keys and outputs — so
    * expression keys are visible to the classifier and the scan below is
    * visible to baseOf. Pure-compute Projects only (every entry a bare
    * attribute or a deterministic alias); anything else leaves the plan
    * untouched for the ordinary paths. */
  private def inlineGroupingProject(ges: Seq[Expression],
      aes: Seq[NamedExpression], child: LogicalPlan)
      : (Seq[Expression], Seq[NamedExpression], LogicalPlan) =
    child match {
      case Project(plist, inner)
          if plist.exists(_.isInstanceOf[Alias]) &&
            plist.forall {
              case _: AttributeReference => true
              case al: Alias => al.child.deterministic
              case _ => false
            } =>
        val amap: Map[ExprId, Expression] = plist.collect {
          case al: Alias => al.exprId -> al.child
        }.toMap
        def inline(e: Expression): Expression = e.transformUp {
          case ar: AttributeReference if amap.contains(ar.exprId) =>
            amap(ar.exprId)
        }
        val g2 = ges.map(inline)
        val a2 = aes.map {
          case ar: AttributeReference if amap.contains(ar.exprId) =>
            Alias(amap(ar.exprId), ar.name)(exprId = ar.exprId)
          case ne => inline(ne).asInstanceOf[NamedExpression]
        }
        (g2, a2, inner)
      case _ => (ges, aes, child)
    }

  // ---------------------------------------------------------------- shapes

  /** How a classified grouping key re-emits after the rewrite: ViaView reads
    * the view's key column of that (lowercased) name — a bare source column
    * or a B189 generated column whose declared rule the grouping EXPRESSION
    * matched; Verbatim passes the original output through untouched (a
    * dim-side key in the join rewrite — the dim subtree still produces it). */
  private sealed trait KeyEmit
  private case class ViaView(name: String) extends KeyEmit
  private case object Verbatim extends KeyEmit

  /** One Aggregate output, classified. KeyOut keeps the ORIGINAL output
    * expression so its name and exprId survive the rewrite: `k AS foo` must
    * re-emit `foo` under the alias's exprId or parent references to it stop
    * resolving. */
  private sealed trait Out
  private case class KeyOut(emit: KeyEmit, orig: NamedExpression)
      extends Out
  /** A foldable output (`lit(x) AS c`, folded into the Aggregate's outputs):
    * one value on every row of either plan, so every path re-emits it. */
  private case class ConstOut(al: Alias) extends Out
  /** An aggregate output: re-emitted under its alias's name and exprId. */
  private sealed trait AggOut extends Out { def al: Alias }
  /** An aggregate served from a view partial of one source column `col` —
    * the view's declared sum column. */
  private sealed trait PartialOut extends AggOut { def col: AttributeReference }
  private case class CountOut(al: Alias) extends AggOut
  // count(<declared sum col>) = the view's mv_nncount (count skips NULLs —
  // exactly what the fold maintains for AVG's denominator). Eval-mode-free:
  // counting never wraps.
  private case class NNCountOut(al: Alias, col: AttributeReference)
      extends PartialOut
  private case class SumOut(al: Alias, col: AttributeReference, ansi: Boolean)
      extends PartialOut
  private case class AvgOut(al: Alias, col: AttributeReference, ansi: Boolean)
      extends PartialOut
  // MIN/MAX carry no overflow-bearing arithmetic, so no eval-mode leg; the
  // view maintains them delete-aware (affected-group recompute on folds
  // whose delta could strip an extremum) and stores them UNCAST, so serving
  // them preserves the query's output type exactly (type gate below).
  private case class MinOut(al: Alias, col: AttributeReference)
      extends PartialOut
  private case class MaxOut(al: Alias, col: AttributeReference)
      extends PartialOut
  // hll_sketch_estimate(hll_sketch_agg(<declared sum col>)) — the Spark 3.5
  // sketchable-distinct shape, served from the view's mv_hll union column
  // (exact match reads the stored sketch; rollup/join re-aggregates with
  // hll_union_agg — multiplicity-blind like min/max, a duplicate dim key
  // unions a sketch with itself). ONLY the estimate shape classifies: a raw
  // sketch BINARY output never serves (DataSketches serialization is
  // insertion-order-dependent, so bitwise equality is not a property even
  // of the un-rewritten query). The ESTIMATE is exact — equal on both paths
  // — while every sketch is in coupon mode (distinct count under the lgK=12
  // promotion point, HllDeterminismSpec); past it both paths carry the same
  // 5% DataSketches bound but may differ within it (the un-rewritten
  // query's own estimate is already partition-layout-dependent there — HIP
  // vs composite estimator — so bitwise stability past the promotion point
  // is not a contract Spark offers either). Exact COUNT(DISTINCT x) never
  // classifies (isDistinct aggregates fall through to the refusal).
  private case class HllOut(al: Alias, col: AttributeReference, lgK: Int)
      extends PartialOut
  // count(DISTINCT k) where k is a bare column (r15): serveable when k is a
  // VIEW KEY — the view's key tuples enumerate exactly the (group, k) combos
  // present in the base (one view row per base group), so the distinct
  // non-null k values within any coarser group are the distinct non-null k
  // values among the view's rows. Exact, not sketched: the re-aggregation
  // runs count(DISTINCT <view key col>) over view rows (|view| ≪ |base| is
  // the whole win), or collapses to a null test when k is itself a grouping
  // key (constant per group → 0 or 1). key-ness is gated per path: the
  // single-table/join paths require k ∈ view keys (dim-side distincts in the
  // join path ride verbatim); the Expand path refuses (a key position's
  // expanded copies are structurally nulled — counting them is a different
  // computation). DISTINCT is multiplicity-blind, so the join rewrite's
  // duplicate-dim-key multiplication cannot skew it. Other DISTINCT
  // aggregates (sum/avg DISTINCT) still fall through to the refusal.
  private case class DistinctCountOut(al: Alias, col: AttributeReference)
      extends AggOut

  /** Every output must be a key (bare, aliased, or a whole grouping
    * EXPRESSION re-emitted under an alias), a foldable constant,
    * count(*)/count(1), or a sum/avg/min/max over a bare column; anything
    * else disqualifies the aggregate. `keyFor` resolves an output expression
    * to its grouping key's emission (canonical equality — for bare attributes
    * that is exprId identity, for expression keys the canonical shape). */
  private def classify(aes: Seq[NamedExpression],
      keyFor: Expression => Option[KeyEmit]): Option[Seq[Out]] =
    Some(aes.map {
      case ar: AttributeReference if keyFor(ar).isDefined =>
        KeyOut(keyFor(ar).get, ar)
      case al @ Alias(e, _) if keyFor(e).isDefined =>
        KeyOut(keyFor(e).get, al)
      case al @ Alias(e, _) if e.foldable => ConstOut(al)
      case al @ Alias(AggregateExpression(Count(cs), Complete, false, None, _), _)
          if cs.forall(c => c.foldable && c.eval() != null) => CountOut(al)
      case al @ Alias(AggregateExpression(Count(Seq(ca: AttributeReference)),
          Complete, false, None, _), _) => NNCountOut(al, ca)
      // Exact count(DISTINCT <bare column>) — a SINGLE distinct group by
      // construction here: RewriteDistinctAggregates already lowered any
      // multi-distinct-group aggregate to its Expand form before this rule
      // runs, so whatever still carries isDistinct shares one child set and
      // the rewritten Aggregate stays one-distinct-group (physical planning
      // handles it without re-lowering).
      case al @ Alias(AggregateExpression(Count(Seq(ca: AttributeReference)),
          Complete, true, None, _), _) => DistinctCountOut(al, ca)
      // TRY-mode aggregates (try_sum/try_avg) answer NULL on overflow where
      // the view holds a concrete value — never the same computation, refuse
      // unconditionally. LEGACY and ANSI are accepted here and reconciled
      // against the view's FOLD MODE during candidate verification (see the
      // class doc's eval-mode clause).
      case al @ Alias(AggregateExpression(sm @ Sum(sa: AttributeReference, _),
          Complete, false, None, _), _)
          if sm.evalContext.evalMode != EvalMode.TRY =>
        SumOut(al, sa, sm.evalContext.evalMode == EvalMode.ANSI)
      // AVG derives exactly: avg(x) = sum(x) / count(x) — count of
      // NON-NULL x, which is the view's mv_nncount column (mv_count counts
      // all rows and diverges the moment a group holds a NULL). Both are
      // exact longs, and Spark's own Average-of-long evaluates
      // sum.toDouble / count.toDouble — the replacement reproduces that
      // expression bit-for-bit. A view predating the mv_nncount column
      // refuses the AVG rewrite (schema probe below).
      case al @ Alias(AggregateExpression(av @ Average(sa: AttributeReference, _),
          Complete, false, None, _), _)
          if av.evalMode != EvalMode.TRY &&
            Set[org.apache.spark.sql.types.DataType](LongType,
              org.apache.spark.sql.types.IntegerType,
              org.apache.spark.sql.types.ShortType)(sa.dataType) =>
        AvgOut(al, sa, av.evalMode == EvalMode.ANSI)
      case al @ Alias(AggregateExpression(Min(sa: AttributeReference),
          Complete, false, None, _), _) => MinOut(al, sa)
      case al @ Alias(AggregateExpression(Max(sa: AttributeReference),
          Complete, false, None, _), _) => MaxOut(al, sa)
      case al @ Alias(HllSketchEstimate(AggregateExpression(
          hs @ HllSketchAgg(sa: AttributeReference, _, _, _),
          Complete, false, None, _)), _) => HllOut(al, sa, hs.lgConfigK)
      // approx_count_distinct is HyperLogLogPlusPlus — a DIFFERENT sketch
      // family than the view's DataSketches mv_hll column (incompatible
      // register layouts and estimators; no cross-family union exists), so
      // it can never serve and silently never matched. Make the refusal
      // explicit on the B193 diagnostics surface, naming the spelling that
      // DOES serve — this is the most likely user spelling of "sketched
      // distinct over my fact table", and "why didn't my view serve" must
      // answer it.
      case Alias(AggregateExpression(
          h: HyperLogLogPlusPlus, _, _, _, _), _) =>
        MviewDiagnostics.note(m => logInfo(m),
          s"approx_count_distinct(${h.child.sql}) is a HyperLogLogPlusPlus " +
            "sketch — a different family than the view's DataSketches " +
            "mv_hll column, so no materialized view can serve it; spell " +
            s"the query hll_sketch_estimate(hll_sketch_agg(${h.child.sql})) " +
            "to serve the sketched distinct count from a view")
        return None
      case _ => return None
    })

  /** The base graft table + its bound scan's full-table proof + at most one
    * residual Filter, if `child` is a full scan under attribute-only
    * Projects and at most one Filter. The Filter is returned to the caller,
    * which only accepts it when its condition is a deterministic predicate
    * over VIEW KEY columns — such a predicate is constant within each view
    * group (group key values equal row values), so it selects WHOLE groups
    * and commutes with the view substitution exactly. */
  private def baseOf(child: LogicalPlan)
      : Option[(DataSourceV2Relation, GraftTable, Option[Expression])] =
    child match {
      case r: DataSourceV2Relation =>
        r.table match { case t: GraftTable => Some((r, t, None)); case _ => None }
      case s: DataSourceV2ScanRelation =>
        (s.relation.table, s.scan) match {
          // The scan must be SEMANTICALLY full — or pruned only through
          // channels the rewrite can account for:
          //   - full entry list: trivially full (a nonempty partition-filter
          //     channel that pruned NOTHING is a data no-op — every entry's
          //     partition values pass, so every row passes);
          //   - pruned entries, no partition/`_file` channel: every pruned
          //     entry fell to a pushed DATA filter — those stay residual
          //     (Spark re-checks them above the scan, and the caller
          //     validates the residual covers every pushed column with a
          //     key-only predicate the view replays), so their entry pruning
          //     is pure IO skip;
          //   - pruned entries WITH a partition-filter channel (r15): a
          //     fully-handled partition filter drops rows NO residual
          //     re-states, but its selection is exact and per-partition-value
          //     — reconstruct the predicate from the pushed V2 filters and
          //     carry it as a residual the caller replays on the VIEW. The
          //     shapes are the ones isPartitionFilter admits (equality / IN /
          //     null tests on a bare partition column), each group-constant
          //     when the partition column is a view key — exactly the
          //     existing key-only-filter argument applied to the pruning
          //     channel, which is what lets `GROUP BY k WHERE <partition
          //     pred>` over a time-partitioned fact serve from a view.
          //   - `_file` pseudo-column pruning always refuses: a file-identity
          //     predicate selects physical subsets no view column replays.
          case (t: GraftTable, sc: GraftBatchScan)
              if sc.entries.size == t.manifest.entries.size ||
                (sc.partFilters.isEmpty && sc.fileFilters.isEmpty) =>
            Some((s.relation, t, None))
          case (t: GraftTable, sc: GraftBatchScan) if sc.fileFilters.isEmpty =>
            partitionResidual(sc.partFilters, s.relation.output)
              .map(e => (s.relation, t, Some(e)))
          case _ => None
        }
      case Project(es, inner) if es.forall(_.isInstanceOf[AttributeReference]) =>
        baseOf(inner)
      case Filter(cond, inner) =>
        // STACKED Filters merge by conjunction — semantically one Filter,
        // and rewritten plans routinely stack them (RELY join elimination
        // adds `fk IS NOT NULL` below a constraint-inferred twin the main
        // optimizer already ran CombineFilters past). Each conjunct is
        // validated key-only by the caller exactly as a single Filter's
        // condition would be.
        baseOf(inner).map {
          case (r, t, prev) =>
            (r, t, Some(prev.map(And(_, cond)).getOrElse(cond)))
        }
      case _ => None
    }

  /** Reconstruct a fully-handled partition-filter channel as a Catalyst
    * predicate over the RELATION's output (the scan's own output may have
    * pruned the partition column away — it was fully handled, nothing above
    * reads it; the caller replays the predicate on the VIEW's key columns by
    * name, so these attributes never execute). Each V2 shape converts to the
    * exact Catalyst expression whose pushdown translation produced it, so
    * the replay selects the same rows the entry pruning did — exact, because
    * a partition column is constant per entry and the admitted shapes are
    * decided wholly by that value. Any unconvertible shape refuses the
    * rewrite (None), never approximates. */
  private def partitionResidual(pf: Array[org.apache.spark.sql.sources.Filter],
      relOut: Seq[Attribute]): Option[Expression] = {
    import org.apache.spark.sql.{sources => v2f}
    def attr(n: String): Option[Attribute] =
      relOut.find(_.name.equalsIgnoreCase(n))
    def lit(a: Attribute, v: Any): Option[Expression] =
      try Some(Literal.create(v, a.dataType))
      catch { case _: Exception => None }
    def conv(f: v2f.Filter): Option[Expression] = f match {
      case v2f.EqualTo(c, v) =>
        for { a <- attr(c); l <- lit(a, v) } yield EqualTo(a, l)
      case v2f.EqualNullSafe(c, v) =>
        for { a <- attr(c); l <- lit(a, v) } yield EqualNullSafe(a, l)
      case v2f.In(c, vs) if vs.nonEmpty => attr(c).flatMap { a =>
        // nonEmpty guard: a Catalyst In with an empty value list is
        // malformed — an empty pushed IN (nothing survives the prune)
        // refuses rather than reconstructing an unevaluable predicate.
        val ls = vs.toSeq.map(v => lit(a, v))
        if (ls.forall(_.isDefined)) Some(In(a, ls.map(_.get))) else None
      }
      case v2f.IsNull(c) => attr(c).map(IsNull)
      case v2f.IsNotNull(c) => attr(c).map(IsNotNull)
      case _ => None
    }
    if (pf.isEmpty) return None
    val parts = pf.toSeq.map(conv)
    if (parts.forall(_.isDefined)) Some(parts.map(_.get).reduce(And)) else None
  }

  /** Residual-Filter validation part 1 (view-independent): deterministic,
    * subquery-free. Part 2 (references ⊆ the candidate view's keys) happens
    * during candidate selection. Returns the filter's lowercased column set,
    * or None when the filter disqualifies. */
  private def filterColsOf(baseFilter: Option[Expression]): Option[Set[String]] = {
    baseFilter.foreach { c =>
      if (!c.deterministic) return None
      if (c.exists(_.isInstanceOf[PlanExpression[_]])) return None
    }
    Some(baseFilter.map(_.references.map(_.name.toLowerCase).toSet)
      .getOrElse(Set.empty))
  }

  /** A pushed data filter mirrors a residual conjunct for graft scans; any
    * pushed column outside the validated residual set disqualifies. */
  private def pushedCovered(subtree: LogicalPlan,
      filterCols: Set[String]): Boolean =
    subtree.collectFirst { case s: DataSourceV2ScanRelation => s }.forall {
      _.scan match {
        case sc: GraftBatchScan =>
          sc.dataFilters.forall(_.references.forall(r =>
            filterCols.contains(r.toLowerCase)))
        case _ => true
      }
    }

  /** A qualified view source: the base graft relation and table under a
    * subtree, its residual filter with that filter's column set, and THIS
    * session's effective B233 read regime on the table. */
  private case class Source(rel: DataSourceV2Relation, table: GraftTable,
      filter: Option[Expression], filterCols: Set[String], regime: String,
      policed: Boolean)

  /** Source qualification, shared by every rewrite path: a full (or
    * accountably pruned) scan of a graft table under at most a residual
    * filter that is deterministic and subquery-free, with every pushed data
    * filter covered by it. B233 regime matching (r14): a policied base is
    * serveable — by a view whose stamped seed regime equals THIS session's
    * effective read regime (both paths then aggregate the same
    * policy-transformed rows; see GraftPolicies.regime). Enforced per
    * candidate in pickVerified. */
  private def sourceOf(sub: LogicalPlan): Option[Source] = {
    val (rel, table, filter) = baseOf(sub).getOrElse(return None)
    val filterCols = filterColsOf(filter).getOrElse(return None)
    if (!pushedCovered(sub, filterCols)) return None
    Some(Source(rel, table, filter, filterCols,
      GraftPolicies.regime(table.manifest.props, session),
      GraftPolicies.declared(table.manifest.props)))
  }

  /** What the classified outputs need of a view's partials. */
  private case class Partials(col: Option[String], exactFold: Boolean)

  /** The needed-partials check, shared by every rewrite path: the one source
    * column the partials read (a view maintains partials of ONE declared
    * column, so two distinct inputs refuse), and whether any ANSI-mode
    * sum/avg demands an EXACT stored sum — serveable only from a view whose
    * every fold ran under ANSI (mview.foldmode stamp). `source` names the
    * source column a partial's input attribute reads, or refuses it (None). */
  private def partialsOf(outs: Seq[Out],
      source: AttributeReference => Option[String] = a => Some(a.name))
      : Option[Partials] = {
    val cols = outs.collect {
      case p: PartialOut => source(p.col).getOrElse(return None)
    }.distinct
    if (cols.size > 1) None
    else Some(Partials(cols.headOption, outs.exists {
      case SumOut(_, _, ansi) => ansi
      case AvgOut(_, _, ansi) => ansi
      case _ => false
    }))
  }

  // ------------------------------------------------- candidate verification

  /** Walk `candidates` (already preference-ordered) and return the first
    * that VERIFIES: declaration facts re-checked against the reloaded table
    * (the cached declaration can be stale across a cross-process
    * drop/recreate inside the TTL — a view recreated with different keys
    * would otherwise serve PARTIAL rows as final groups), a committed write
    * exists (V2 CTAS registers the target BEFORE running the seed query, and
    * the pre-seeded fold floor would make the empty shell look fresh — the
    * rule would rewrite the view's own seed aggregate into a read of its
    * empty self), the fold mode serves the query's eval mode, and the fold
    * floor equals the scan's bound generation.
    *
    * Near-misses (stale view, legacy-folded view under an ANSI query) are
    * BUFFERED, not emitted inline: the walk may pass over a stale exact-key
    * view and then serve the query from a coarser rollup view — logging
    * "skipped" mid-walk when the rewrite ultimately FIRES would mislead the
    * diagnostics-ring consumer. Flushed only when NO candidate verifies. */
  private def pickVerified(tc: TableCatalog,
      candidates: Seq[(Identifier, Set[String])], srcName: String,
      src: Source, outs: Seq[Out], partials: Partials)
      : Option[(Identifier, GraftTable, Set[String])] = {
    val staleNotes = scala.collection.mutable.ListBuffer.empty[String]
    def verified(id: Identifier, keys: Set[String])
        : Option[(Identifier, GraftTable, Set[String])] =
      try {
        tc.loadTable(id) match {
          case v: GraftTable
              if v.manifest.props.get("mview.source").contains(srcName) &&
                v.manifest.props.get("mview.keys").exists(
                  _.split(',').map(_.trim.toLowerCase).toSet == keys) &&
                v.manifest.props.get("mview.sum").exists(vs =>
                  partials.col.forall(_.equalsIgnoreCase(vs))) &&
                v.manifest.gen >= 1 =>
            // Schema probe per candidate: an old-schema view (no mv_nncount
            // / mv_min / mv_max, or drifted mv types) cannot serve THESE
            // outputs — note it and keep walking; another candidate may.
            if (!maintains(outs, v.schema())) {
              staleNotes +=
                s"view ${id.name()} matches this aggregate's keys but its " +
                  "schema predates (or mismatches) a maintained column the " +
                  "query needs (mv_nncount / mv_min / mv_max) — recreate " +
                  "the view to serve it"
              return None
            }
            // B233 regime gate: the view's stored aggregates reflect the
            // visibility regime STAMPED at its seed (mview.policy); serving
            // is sound exactly when this session reads the source under the
            // SAME effective regime — a policied base serves a non-exempt
            // session from a same-policy-stamped view, an EXEMPT session
            // (reads raw) refuses a filtered view and vice versa. A view
            // with no stamp on a POLICIED source was seeded under an
            // unknowable regime (pre-stamp vintage) — never serve it.
            val viewRegime = v.manifest.props.get("mview.policy")
              .getOrElse(if (src.policed) "<unknown>" else "none")
            if (viewRegime != src.regime) {
              staleNotes +=
                s"view ${id.name()} matches this aggregate but materializes " +
                  s"the policy regime [$viewRegime] while this session reads " +
                  s"the source under [${src.regime}] — run CALL " +
                  s"graft.system.recompute_mview(name => '${id.name()}') " +
                  "under the current regime to re-stamp it"
              return None
            }
            // Sketch parameter gate: the view's mv_hll sketches were ALL
            // built at the stamped lgK (seed, folds, recomputes use the same
            // engine constant); a query sketching at a different precision
            // is a different estimator — refuse, never approximate across
            // precisions.
            val lgkMismatch = outs.collectFirst {
              case h: HllOut if !v.manifest.props.get("mview.hll_lgk")
                .flatMap(_.toIntOption).contains(h.lgK) => h.lgK
            }
            if (lgkMismatch.isDefined) {
              staleNotes +=
                s"view ${id.name()} matches this aggregate but its sketches " +
                  s"were built at lgK=${v.manifest.props.getOrElse(
                    "mview.hll_lgk", "<unstamped>")} while the query sketches " +
                  s"at lgK=${lgkMismatch.get} — a different estimator " +
                  "precision cannot serve"
              return None
            }
            // ANSI query over a legacy-folded view: the stored sum may be a
            // wrapped value the un-rewritten query would have raised on.
            if (partials.exactFold &&
                !v.manifest.props.get("mview.foldmode").contains("ansi")) {
              // The remedy must be one that actually restores the stamp:
              // incremental refreshes only ever AND-weaken the fold mode (a
              // legacy-wrapped stored sum is undetectable later), so the
              // only sound upgrades are a FULL recompute under ANSI
              // (recompute_mview re-stamps because it replaces every stored
              // value) or drop+recreate.
              staleNotes +=
                s"view ${id.name()} matches this aggregate but was folded " +
                  "under LEGACY arithmetic while the query runs ANSI sum/avg " +
                  "— incremental refreshes cannot restore the stamp; run " +
                  s"CALL graft.system.recompute_mview(name => '${id.name()}') " +
                  "under spark.sql.ansi.enabled=true (or drop and recreate " +
                  "the view under ANSI) to serve ANSI-mode queries"
              return None
            }
            // FRESH: folded exactly to the generation this scan reads. The
            // stale case is THE near-miss a user can fix without touching
            // the query — name the refresh call that resumes serving.
            val floor = GraftCatalogOps.mviewFoldFloor(v.manifest)
            val boundGen = src.table.manifest.gen
            if (floor == boundGen) Some((id, v, keys))
            else {
              staleNotes +=
                s"view ${id.name()} matches this aggregate but is STALE " +
                  s"(folded to source generation $floor, the scan reads " +
                  s"$boundGen) — " +
                  s"CALL graft.system.refresh_mview(name => '${id.name()}') " +
                  "to resume serving it"
              None
            }
          case _ => None
        }
      } catch { case _: Exception => None }
    val picked = candidates.iterator
      .flatMap { case (id, keys) => verified(id, keys) }.nextOption()
    if (picked.isEmpty)
      staleNotes.foreach(n => MviewDiagnostics.note(m => logInfo(m), n))
    picked
  }

  // ---------------------------------------------------------- plan building

  /** A hand-built, column-pruned scan of the view (this rule may run after
    * the engine's own scan-planning batch, so a raw relation would never get
    * planned), plus a name→attribute resolver over its output. */
  private def buildViewScan(vTable: GraftTable, vIdent: Identifier,
      catalog: Option[org.apache.spark.sql.connector.catalog.CatalogPlugin],
      wanted: Set[String])
      : (DataSourceV2ScanRelation, String => AttributeReference) = {
    val vRel = DataSourceV2Relation.create(vTable, catalog, Some(vIdent))
    val needed = StructType(
      vTable.schema().fields.filter(f => wanted.contains(f.name.toLowerCase)))
    val sb = vTable.newScanBuilder(CaseInsensitiveStringMap.empty())
    sb match {
      case p: org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns =>
        p.pruneColumns(needed)
      case _ =>
    }
    val scan = sb.build()
    val vOut = vRel.output.filter(a2 => needed.fieldNames.contains(a2.name))
    val vScan = DataSourceV2ScanRelation(vRel, scan, vOut)
    (vScan, name => vOut.find(_.name.equalsIgnoreCase(name)).get)
  }

  /** The mv_* columns the classified outputs need from the view. */
  private def mvWanted(outs: Seq[Out]): Set[String] =
    (if (outs.exists(_.isInstanceOf[CountOut])) Set("mv_count") else Set.empty[String]) ++
      (if (outs.exists(o => o.isInstanceOf[AvgOut] || o.isInstanceOf[NNCountOut]))
        Set("mv_nncount") else Set.empty[String]) ++
      (if (outs.exists(o => o.isInstanceOf[SumOut] || o.isInstanceOf[AvgOut]))
        Set("mv_sum") else Set.empty[String]) ++
      (if (outs.exists(_.isInstanceOf[MinOut])) Set("mv_min") else Set.empty[String]) ++
      (if (outs.exists(_.isInstanceOf[MaxOut])) Set("mv_max") else Set.empty[String]) ++
      (if (outs.exists(_.isInstanceOf[HllOut])) Set("mv_hll") else Set.empty[String])

  /** Does this view's SCHEMA maintain every classified output? Presence and
    * type in one probe: a view created before a maintained column existed
    * cannot serve the outputs that read it (AVG needs mv_nncount, MIN/MAX
    * need mv_min/mv_max), and only the LONG-typed mv columns re-aggregate to
    * the SAME result type the original aggregate produced (a decimal would
    * widen its precision a second time), while min/max must carry EXACTLY
    * the queried column's own type (they serve back uncast). Checked per
    * candidate INSIDE the verification walk, so an old-schema exact view is
    * passed over for a newer-schema rollup view instead of aborting the
    * rewrite. */
  private def maintains(outs: Seq[Out], schema: StructType): Boolean = {
    def dt(c: String) = schema.fields
      .find(_.name.equalsIgnoreCase(c)).map(_.dataType)
    (!outs.exists(_.isInstanceOf[CountOut]) ||
      dt("mv_count").contains(LongType)) &&
      (!outs.exists(o => o.isInstanceOf[AvgOut] || o.isInstanceOf[NNCountOut]) ||
        dt("mv_nncount").contains(LongType)) &&
      (!outs.exists(o => o.isInstanceOf[SumOut] || o.isInstanceOf[AvgOut]) ||
        dt("mv_sum").contains(LongType)) &&
      outs.forall {
        case MinOut(_, c) => dt("mv_min").contains(c.dataType)
        case MaxOut(_, c) => dt("mv_max").contains(c.dataType)
        case _: HllOut => dt("mv_hll").contains(BinaryType)
        case _ => true
      }
  }

  /** avg = the two exact longs divided the way Average-of-long itself does.
    * LEGACY divide: Average hardcodes failOnError=false in its own
    * evaluateExpression, so an all-NULL group (mv_nncount = 0) must answer
    * NULL here too — the conf-derived ANSI Divide would turn a succeeding
    * query into a DIVIDE_BY_ZERO failure post-rewrite. */
  private def avgOf(sum: Expression, nncount: Expression): Expression = {
    import org.apache.spark.sql.types.DoubleType
    Divide(Cast(sum, DoubleType), Cast(nncount, DoubleType),
      NumericEvalContext(EvalMode.LEGACY,
        org.apache.spark.sql.internal.SQLConf.get.decimalOperationsAllowPrecisionLoss))
  }

  private def reSum(a: AttributeReference): Expression =
    AggregateExpression(Sum(a), Complete, isDistinct = false)

  /** The partial re-aggregation algebra, shared by every path that folds
    * view rows (rollup, grouping sets, the multi-distinct inner aggregate,
    * join): exact because the view partitions the base rows — each base row
    * contributes to exactly one (finer) view group, so folding the partials
    * over coarser groups reproduces the coarser aggregate. `col` resolves a
    * view column name to the attribute the fold reads. (Type gates ran per
    * candidate in the verification walk.) */
  private def reAggregate(o: Out, col: String => AttributeReference)
      : NamedExpression = o match {
    case KeyOut(ViaView(n), orig) =>
      Alias(col(n), orig.name)(exprId = orig.exprId)
    case KeyOut(Verbatim, orig) => orig
    case ConstOut(al) => al
    case a: AggOut => Alias(a match {
      // count(*) = SUM(mv_count), coalesced to the non-null 0 of an empty
      // input (count's output is non-nullable); count(x) = SUM(mv_nncount)
      // likewise.
      case _: CountOut => Coalesce(Seq(reSum(col("mv_count")), Literal(0L)))
      case _: NNCountOut =>
        Coalesce(Seq(reSum(col("mv_nncount")), Literal(0L)))
      // sum(x) = SUM(mv_sum): null iff every partial is null, exactly sum's
      // semantics; avg divides the two exact longs the way Average-of-long
      // itself does.
      case _: SumOut => reSum(col("mv_sum"))
      case _: AvgOut => avgOf(reSum(col("mv_sum")), reSum(col("mv_nncount")))
      // min-of-mins / max-of-maxes: exact under any regrouping, and
      // multiplicity-blind, so a duplicate dim key repeating a view group in
      // the join rewrite changes nothing.
      case _: MinOut =>
        AggregateExpression(Min(col("mv_min")), Complete, isDistinct = false)
      case _: MaxOut =>
        AggregateExpression(Max(col("mv_max")), Complete, isDistinct = false)
      // union-of-sketches: the fine groups partition the base rows, so the
      // union's register/coupon state equals the coarse sketch's; unions are
      // multiplicity-blind too (a duplicate dim key unions a group's sketch
      // with itself — a no-op).
      case _: HllOut => HllSketchEstimate(AggregateExpression(
        new HllUnionAgg(col("mv_hll")), Complete, isDistinct = false))
      // count(DISTINCT k) over the view's rows: the view key domain
      // enumerates exactly the (group, k) combos present in the base — one
      // view row per base group — so distinct non-null k per coarser group
      // is identical on both paths. Exact, and |view| ≪ |base|.
      case DistinctCountOut(_, c) => AggregateExpression(
        Count(Seq(col(c.name))), Complete, isDistinct = true)
    }, a.al.name)(exprId = a.al.exprId)
  }

  /** A picked view, scanned: its key set, its rows with the source's
    * residual filter replayed on them, and a name → view attribute resolver. */
  private case class Served(keys: Set[String], input: LogicalPlan,
      attr: String => AttributeReference)

  /** The view-serving core's catalog half, shared by every rewrite path:
    * the first FRESH view of the source whose key set contains `keys` and the
    * filter's columns and whose declared sum column is the one the partials
    * read, scanned for those keys plus the mv_* columns `outs` read.
    *
    * View DECLARATIONS come from a short-TTL cache
    * (MviewRewriteRule.candidateViews): enumerating + loading every table in
    * the namespace per qualifying aggregate would make PLANNING O(catalog
    * size). Freshness is NEVER cached — each candidate's manifest is
    * re-loaded and its fold floor compared against this scan's bound
    * generation, so a stale cache can only delay noticing a NEW view
    * (rewrite silently off for up to the TTL — plans stay correct), never
    * serve a stale one. */
  private def serve(src: Source, keys: Set[String], outs: Seq[Out],
      partials: Partials): Option[Served] = {
    val tc = src.rel.catalog.getOrElse(return None) match {
      case t: TableCatalog => t
      case _ => return None
    }
    val srcIdent = src.rel.identifier.getOrElse(return None)
    val required = keys ++ src.filterCols
    // Candidates: any view whose key set CONTAINS the required keys. Fewest
    // keys first: an exact match (no re-aggregation) is the smallest such
    // set, and among rollup candidates the coarsest view has the fewest
    // rows to re-aggregate or join. Declarations filter first (cached, no
    // IO); loadTable + manifest-read freshness verification is LAZY in
    // preference order, so the common exact-match case pays exactly one
    // verification however many views the namespace holds.
    val candidates = MviewRewriteRule.candidateViews(tc, srcIdent.namespace())
      .filter { case (_, source, vKeys, sum) =>
        source == srcIdent.name() && required.subsetOf(vKeys) &&
          partials.col.forall(_.equalsIgnoreCase(sum))
      }
      .sortBy(_._3.size).map(d => (d._1, d._3))
    val (vIdent, vTable, vKeys) = pickVerified(tc, candidates,
      srcIdent.name(), src, outs, partials).getOrElse(return None)
    val (vScan, vAttr) =
      buildViewScan(vTable, vIdent, src.rel.catalog, required ++ mvWanted(outs))
    // Key-only filters commute with the view substitution: replay them on
    // the VIEW's key columns (every reference is a view key by the candidate
    // gate above).
    val input = src.filter match {
      case Some(c) => Filter(c.transform {
        case ar: AttributeReference => vAttr(ar.name)
      }, vScan)
      case None => vScan
    }
    Some(Served(vKeys, input, vAttr))
  }

  // ------------------------------------------------- single-table rewrite

  private def rewrite(ges: Seq[Expression],
      aes: Seq[NamedExpression], child: LogicalPlan): Option[LogicalPlan] = {
    val src = sourceOf(child).getOrElse(return None)

    // Grouping keys → view key names. A bare attribute maps to its own
    // column; a grouping EXPRESSION maps through the source's B189
    // generated-column declarations ([[genKeyOf]]) — `GROUP BY month(ts)`
    // over a source declaring `generate.ts_month = month(ts)` groups exactly
    // like `GROUP BY ts_month` (the write invariant pins col <=> expr per
    // row), so a view keyed on ts_month serves it and re-emits the view's
    // stored key value AS the expression's output. An expression matching NO
    // declaration refuses — there is no view column that provably carries it.
    lazy val genKey = genKeyOf(src.table)
    val keyMap: Seq[(Expression, String)] = ges.map {
      case ar: AttributeReference => (ar, ar.name.toLowerCase)
      case e => genKey(e) match {
        case Some(c) => (e, c.toLowerCase)
        case None => return None
      }
    }
    val keyFor: Expression => Option[KeyEmit] = e =>
      keyMap.find(_._1.canonicalized == e.canonicalized)
        .map(km => ViaView(km._2))
    val outs = classify(aes, keyFor).getOrElse(return None)
    val partials = partialsOf(outs).getOrElse(return None)
    // count(DISTINCT k): k must be a VIEW KEY (its distinct values are then
    // exactly the view's key domain) — required of every candidate,
    // alongside the grouping and filter columns. Not a sum column: the
    // re-aggregation reads the key column itself, no mv_* partial involved.
    val distinctCols = outs.collect {
      case DistinctCountOut(_, c) => c.name.toLowerCase
    }.toSet
    val keyNames = keyMap.map(_._2).toSet
    // An exact key match serves as a plain projection; a PROPER superset
    // serves via ROLLUP — re-aggregating the view's finer groups is provably
    // exact for the abelian set the view maintains (count(*) =
    // SUM(mv_count), sum(x) = SUM(mv_sum), avg derives from both) because
    // every base row lands in exactly one view group.
    val v = serve(src, keyNames ++ distinctCols, outs, partials)
      .getOrElse(return None)

    if (v.keys == keyNames) {
      // Exact key match: the view IS the aggregate — preserve the
      // Aggregate's exact output (names + exprIds) with a projection.
      val projList: Seq[NamedExpression] = outs.map {
        case KeyOut(ViaView(n), orig) =>
          Alias(v.attr(n), orig.name)(exprId = orig.exprId)
        case KeyOut(Verbatim, orig) => orig // unreachable: single-table keys are ViaView
        case ConstOut(al) => al
        case CountOut(al) => Alias(v.attr("mv_count"), al.name)(exprId = al.exprId)
        case NNCountOut(al, _) =>
          Alias(v.attr("mv_nncount"), al.name)(exprId = al.exprId)
        case SumOut(al, _, _) => Alias(v.attr("mv_sum"), al.name)(exprId = al.exprId)
        case AvgOut(al, _, _) =>
          Alias(avgOf(v.attr("mv_sum"), v.attr("mv_nncount")),
            al.name)(exprId = al.exprId)
        case MinOut(al, _) => Alias(v.attr("mv_min"), al.name)(exprId = al.exprId)
        case MaxOut(al, _) => Alias(v.attr("mv_max"), al.name)(exprId = al.exprId)
        case HllOut(al, _, _) =>
          Alias(HllSketchEstimate(v.attr("mv_hll")), al.name)(exprId = al.exprId)
        // distinctCols ⊆ view keys == grouping keys here, so k is constant
        // per group: its distinct non-null count is 1 unless the group IS
        // the NULL-key group (count(DISTINCT) skips nulls).
        case DistinctCountOut(al, c) =>
          Alias(If(IsNull(v.attr(c.name)), Literal(0L), Literal(1L)),
            al.name)(exprId = al.exprId)
      }
      Some(Project(projList, v.input))
    } else {
      // ROLLUP (query keys ⊂ view keys): re-aggregate the view's finer
      // groups.
      Some(Aggregate(keyMap.map(km => v.attr(km._2)),
        outs.map(reAggregate(_, v.attr)), v.input))
    }
  }

  /** Resolve a grouping EXPRESSION to the source's B189 generated column
    * whose declared rule it matches: the declaration is parsed + resolved
    * against the source schema (the same ANSI coercion a session query
    * gets), REBOUND onto the expression's own attribute references by name,
    * and compared canonically. No match (or a declaration referencing a
    * column the expression never touches) → None — the classic refusal when
    * the query's expression differs from the declaration. */
  private def genKeyOf(baseTable: GraftTable): Expression => Option[String] = {
    val decls = GraftGenerated.declared(baseTable.manifest.props)
    if (decls.isEmpty) { _ => None }
    else { e =>
      if (!e.deterministic) None
      else decls.collectFirst { case (c, sql) if {
        try {
          val resolved = GraftCheck.resolve(sql, baseTable.schema(),
            bind = false, requireBoolean = false)
          val byName = e.references
            .map(a => a.name.toLowerCase -> (a: Expression)).toMap
          var allBound = true
          val rebound = resolved.transformUp {
            case ar: AttributeReference =>
              byName.getOrElse(ar.name.toLowerCase, { allBound = false; ar })
          }
          // The query-side expression arrives POST-OPTIMIZER (this rule runs
          // in extraOptimizations): coercion casts of literals are folded
          // and time zones resolved. Normalize the declaration identically
          // before the canonical compare, or `id % 12` would never match its
          // own declaration (Cast(12 AS BIGINT) vs the folded 12L).
          import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          val wrapped: LogicalPlan = Project(Seq(Alias(rebound, "e")()),
            LocalRelation(e.references.toSeq))
          val normalized =
            org.apache.spark.sql.catalyst.optimizer.ConstantFolding(
              org.apache.spark.sql.catalyst.analysis.ResolveTimeZone(wrapped))
          val declExpr = normalized.asInstanceOf[Project].projectList.head match {
            case Alias(ch, _) => ch
            case o => o
          }
          // Calendar rules are one-function-per-zone: the stored key values
          // were enforced under the zone PINNED at declaration (generate.tz
          // stamp), while this compare normalized both sides under the QUERY
          // session's zone — a match is only evidence when those zones
          // coincide. No pin (legacy declaration, writes under unknown
          // zones) → refuse: serving month(ts) grouped in another zone's
          // calendar is silently wrong groups.
          val zoneOk = !GraftGenerated.zoneDependent(declExpr) ||
            baseTable.manifest.props.get(GraftGenerated.TzPrefix + c)
              .exists(z => GraftGenerated.sameZone(z,
                org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))
          allBound && zoneOk && declExpr.canonicalized == e.canonicalized
        } catch { case _: Exception => false }
      } => c }
    }
  }

  // --------------------------------------------- grouping-sets rewrite

  /** ROLLUP / CUBE / GROUPING SETS over the view (B5 ∘ B234): the optimizer
    * lowers them to `Aggregate(keys+gid, aes, Expand(projections, out,
    * scan))` — each projection row replays the input under one grouping
    * set, nulling the keys that set drops, with a literal `spark_grouping_id`
    * disambiguating structural NULLs from natural ones. The rewrite keeps
    * the Expand STRUCTURE (same output key/gid attributes, so the Aggregate
    * above rides verbatim) and substitutes the view underneath: key
    * positions re-point to the view's key columns, passthrough agg-input
    * positions are replaced by the mv_* partial columns, and every
    * aggregate re-aggregates partials exactly as the ROLLUP path does.
    * Exact per grouping set: the view partitions the base rows, and each
    * view group contributes to exactly one group of each set — the same
    * union-of-view-groups argument as the subset-key rollup, applied per
    * projection row. At 100 TB this turns the dashboard CUBE — the most
    * scan-hungry reporting shape there is (every row replayed once PER
    * grouping set) — into |view| × sets tiny rows.
    *
    * Position classification is structural and total: a position whose
    * exprs are one scan attribute everywhere AND whose Expand output keeps
    * that attribute's exprId is a PASSTHROUGH (agg input); one mixing a
    * single scan attribute with NULL literals under a fresh output attr is
    * a KEY (must be a view key); all-literal positions are the gid. Any
    * other shape (expression-valued rows — e.g. rollup over `month(ts)`)
    * refuses. Outputs may be any deterministic expression over the
    * grouping attributes (`grouping(k)`/`grouping_id()` lower to bit
    * arithmetic on gid) — those ride VERBATIM because the rewritten Expand
    * re-emits the exact same key/gid attributes. */
  private def rewriteExpand(ges: Seq[Expression],
      aes: Seq[NamedExpression], child: LogicalPlan): Option[LogicalPlan] = {
    val ex = child match { case e: Expand => e; case _ => return None }
    // ROLLUP over a grouping EXPRESSION (`ROLLUP(month(ts))`): the
    // pulled-out `_groupingexpression` Project sits BELOW the Expand. Peel
    // one pure-compute level, keeping an exprId → expression map so KEY
    // positions whose underlying attribute is an alias can resolve through
    // the source's B189 generation rules (the monthly-cube shape).
    val (exChild, aliasMap) = ex.child match {
      case Project(plist, pin)
          if plist.exists(_.isInstanceOf[Alias]) && plist.forall {
            case _: AttributeReference => true
            case al: Alias => al.child.deterministic
            case _ => false
          } =>
        (pin, plist.collect { case al: Alias => al.exprId -> al.child }.toMap)
      case c => (c, Map.empty[ExprId, Expression])
    }
    val src = sourceOf(exChild).getOrElse(return None)

    sealed trait Pos
    case class PassThrough(attr: AttributeReference) extends Pos
    case class KeyPos(underlying: AttributeReference) extends Pos
    case object GidPos extends Pos
    val nProj = ex.projections.length
    if (nProj == 0) return None
    val poses: Seq[Pos] = ex.output.indices.map { i =>
      val exprs = ex.projections.map(_(i))
      val attrs = exprs.collect { case ar: AttributeReference => ar }
      val nulls = exprs.count { case Literal(v, _) => v == null; case _ => false }
      val nonNullLits = exprs.count {
        case Literal(v, _) => v != null
        case _ => false
      }
      val distinctAttrs = attrs.map(_.exprId).distinct
      if (attrs.length == nProj && distinctAttrs.length == 1 &&
          ex.output(i).exprId == attrs.head.exprId)
        PassThrough(attrs.head)
      else if (distinctAttrs.length == 1 && attrs.length + nulls == nProj)
        KeyPos(attrs.head)
      else if (nonNullLits == nProj) GidPos
      else return None
    }
    // An alias-valued PASSTHROUGH is an aggregate over an EXPRESSION — no
    // view column carries it.
    if (poses.exists {
      case PassThrough(a) => aliasMap.contains(a.exprId)
      case _ => false
    }) return None
    // The view key each KEY position reads: a bare scan column's own name,
    // or — for an aliased grouping expression — the B189 generated column
    // whose declared rule it matches (genKeyOf: canonical compare after the
    // optimizer's own normalization, timezone pin enforced).
    lazy val genKey = genKeyOf(src.table)
    val keyName: Map[ExprId, String] = poses.collect { case KeyPos(u) =>
      val n = aliasMap.get(u.exprId) match {
        case Some(e) => genKey(e).getOrElse(return None).toLowerCase
        case None => u.name.toLowerCase
      }
      u.exprId -> n
    }.toMap
    // Grouping must be exactly over the Expand's key/gid output attributes.
    val gesOk = ges.forall {
      case ar: AttributeReference => ex.output.indices.exists(i =>
        ex.output(i).exprId == ar.exprId &&
          (poses(i).isInstanceOf[KeyPos] || poses(i) == GidPos))
      case _ => false
    }
    if (!gesOk) return None
    val gesAttrIds = ges.collect { case ar: AttributeReference => ar.exprId }.toSet

    // Outputs: keys/gid (and any deterministic expression over them) ride
    // verbatim — the rewritten Expand re-emits the same attributes.
    val keyFor: Expression => Option[KeyEmit] = e =>
      if (e.deterministic && e.references.nonEmpty &&
          e.references.forall(a => gesAttrIds.contains(a.exprId)) &&
          !e.exists(_.isInstanceOf[PlanExpression[_]]))
        Some(Verbatim)
      else None
    val outs = classify(aes, keyFor).getOrElse(return None)
    // count(DISTINCT …) under grouping sets refuses: the aggregate's input
    // attribute here is an EXPAND output whose per-projection copies are
    // structurally nulled for the sets that drop it — counting distinct over
    // those copies is a per-set computation no single view column replays.
    if (outs.exists(_.isInstanceOf[DistinctCountOut])) return None
    // Aggregate inputs must be PASSTHROUGH scan columns (a key-position
    // input would aggregate the EXPANDED — structurally nulled — values,
    // which no view column carries).
    val passIds = ex.output.indices.collect {
      case i if poses(i).isInstanceOf[PassThrough] => ex.output(i).exprId
    }.toSet
    val partials = partialsOf(outs,
      a => if (passIds.contains(a.exprId)) Some(a.name) else None)
      .getOrElse(return None)
    val v = serve(src, keyName.values.toSet, outs, partials)
      .getOrElse(return None)

    // Rebuild the Expand over the view: key/gid output attrs VERBATIM (the
    // Aggregate's grouping references them), passthrough positions dropped,
    // the needed mv_* columns appended as plain passthroughs of the view
    // scan's own attributes.
    val keepIdx = ex.output.indices.filterNot(i => poses(i).isInstanceOf[PassThrough])
    val mvCols = mvWanted(outs).toSeq.sorted.map(v.attr)
    val newOutput: Seq[Attribute] = keepIdx.map(ex.output) ++ mvCols
    val newProjections: Seq[Seq[Expression]] = ex.projections.map { row =>
      keepIdx.map { i =>
        poses(i) match {
          case KeyPos(u) => row(i) match {
            case Literal(lv, dt) if lv == null => Literal(null, dt)
            case _ => v.attr(keyName(u.exprId))
          }
          case GidPos => row(i)
          case _: PassThrough => row(i) // unreachable (filtered out)
        }
      } ++ mvCols
    }
    val newExpand = Expand(newProjections, newOutput, v.input)

    // Re-aggregate partials per expanded group — each view group appears
    // exactly once per projection row, so the folds are the ROLLUP path's.
    Some(Aggregate(ges, outs.map(reAggregate(_, v.attr)), newExpand))
  }

  // --------------------------------------- multi-distinct-lowering rewrite

  /** MULTI-DISTINCT-GROUP aggregates served from the view (r15). A query
    * mixing distinct aggregates over DIFFERENT columns —
    *
    *   SELECT k1, count(DISTINCT k2), count(DISTINCT k3), sum(x)
    *   FROM big GROUP BY k1
    *
    * — reaches this rule already LOWERED by RewriteDistinctAggregates into
    *
    *   Aggregate(gesO, [keys, count(d_i) FILTER (gid = g_i),
    *                    first(partial) FILTER (gid = g_reg) …],
    *     Aggregate([keys, d_1.., gid], [passthroughs, partial aggs],
    *       Expand([regular row: keys, nulls, g_reg, agg children],
    *              [distinct row i: keys, group-i cols, g_i, nulls], scan)))
    *
    * The serving argument makes the OUTER aggregate reusable VERBATIM: the
    * rewrite keeps the Expand structure and every output attribute id,
    * substitutes the view underneath, and patches only what flows through —
    *   - distinct rows re-point their key columns at the VIEW's key columns:
    *     after the inner (keys, d_i, gid) grouping, the gid = g_i slice is
    *     one row per distinct (keys, group-i values) combo present in the
    *     input, and the view's key tuples enumerate exactly the combos
    *     present in the base — identical row sets, so any outer aggregate
    *     FILTERed to that gid and referencing only that row's columns
    *     (count, even multi-argument count) is untouched by the swap;
    *   - the regular row carries the mv_* partial columns (nulled in the
    *     distinct rows, exactly as the original nulled the agg children),
    *     and the inner partial functions fold them: sum → SUM(mv_sum),
    *     count(*) → SUM(mv_count), count(col) → SUM(mv_nncount), min/max →
    *     MIN(mv_min)/MAX(mv_max), avg → the exact-longs division — the
    *     same algebra as the rollup path, so the gid = g_reg slice carries
    *     the same partial VALUES the base computed;
    *   - inner slices under OTHER gids differ only in columns the outer
    *     provably never reads: every outer aggregate must carry a
    *     FILTER (gid = <literal>) pinning it to one projection row, and its
    *     references must stay inside that row's live columns — checked
    *     structurally, anything else refuses.
    * Soundness needs every distinct column AND every grouping column to be a
    * view key; regular partials follow the single-table rules (declared sum
    * column, TRY refuses, ANSI demands an ANSI-folded view). Sketch partials
    * (hll_sketch_agg) refuse here: the partial rides the inner aggregate as
    * a raw sketch BINARY, which is not value-stable across paths. */
  private def rewriteMultiDistinct(ges: Seq[Expression],
      aes: Seq[NamedExpression], child: LogicalPlan): Option[LogicalPlan] = {
    val inner = child match {
      case a: Aggregate => a
      case _ => return None
    }
    val ex = inner.child match { case e: Expand => e; case _ => return None }
    val nProj = ex.projections.length
    if (nProj < 2) return None
    val src = sourceOf(ex.child).getOrElse(return None)

    val gesIIds: Set[ExprId] = inner.groupingExpressions.map {
      case ar: AttributeReference => ar.exprId
      case _ => return None
    }.toSet

    // Position classification over the Expand (structural and total).
    sealed trait P
    case class Pass(scanAttr: AttributeReference) extends P
    case class Dist(scanAttr: AttributeReference, rows: Set[Int]) extends P
    case class RegChild(scanAttr: AttributeReference) extends P
    case object GidP extends P
    val poses: Seq[P] = ex.output.indices.map { i =>
      val exprs = ex.projections.map(_(i))
      val attrRows = exprs.zipWithIndex.collect {
        case (ar: AttributeReference, r) => (ar, r)
      }
      val nulls = exprs.count { case Literal(v, _) => v == null; case _ => false }
      val nonNullLits = exprs.count {
        case Literal(v, _) => v != null; case _ => false
      }
      val distinctIds = attrRows.map(_._1.exprId).distinct
      val inGesI = gesIIds.contains(ex.output(i).exprId)
      if (attrRows.length == nProj && distinctIds.length == 1 &&
          ex.output(i).exprId == attrRows.head._1.exprId && inGesI)
        Pass(attrRows.head._1)
      // A distinct column SHARED by several distinct groups (count(DISTINCT
      // b) + count(DISTINCT a, b)) is live in one row PER group — any
      // number of rows classifies, nulls everywhere else.
      else if (attrRows.nonEmpty && distinctIds.length == 1 &&
          attrRows.length + nulls == nProj && inGesI)
        Dist(attrRows.head._1, attrRows.map(_._2).toSet)
      else if (attrRows.length == 1 && attrRows.length + nulls == nProj)
        RegChild(attrRows.head._1)
      else if (nonNullLits == nProj && inGesI &&
          exprs.forall {
            case Literal(_: Int, _) | Literal(_: Long, _) => true
            case _ => false
          })
        GidP
      else return None
    }
    val gidIdxs = ex.output.indices.filter(i => poses(i) == GidP)
    if (gidIdxs.size != 1) return None
    val gidIdx = gidIdxs.head
    val gidAttr = ex.output(gidIdx)
    // The gid literal of each projection row; rows must be distinguishable.
    val gidOfRow: Seq[Any] = ex.projections.map(_(gidIdx) match {
      case Literal(v, _) => v
      case _ => return None
    })
    if (gidOfRow.distinct.size != nProj) return None
    // gesI must be exactly {pass} ∪ {dist} ∪ {gid} — nothing hidden.
    val passIdx = ex.output.indices.filter(i => poses(i).isInstanceOf[Pass])
    val distIdx = ex.output.indices.filter(i => poses(i).isInstanceOf[Dist])
    val regIdx = ex.output.indices.filter(i => poses(i).isInstanceOf[RegChild])
    if (gesIIds != (passIdx ++ distIdx :+ gidIdx).map(ex.output(_).exprId).toSet)
      return None
    // The REGULAR row: all RegChild attrs live in one row, no Dist attr in it.
    val regularRow: Option[Int] = {
      val rows = regIdx.map(i => poses(i) match {
        case RegChild(_) =>
          ex.projections.indices.find(r =>
            ex.projections(r)(i).isInstanceOf[AttributeReference]).get
        case _ => return None
      }).distinct
      if (rows.size > 1) return None
      if (rows.isEmpty) None
      else {
        val r0 = rows.head
        if (distIdx.exists(i => poses(i) match {
          case Dist(_, drs) => drs.contains(r0); case _ => false
        })) return None
        Some(r0)
      }
    }

    // Inner aggregate list: grouping attributes pass through bare, and every
    // other output classifies like a single-table aggregate over RegChild
    // columns, each input read as the scan column its RegChild carries.
    // Sketch partials refuse (see above) — before classify, whose
    // approx_count_distinct note advises a respelling this path refuses too —
    // and so do distincts and renamed keys (shapes the lowering never makes).
    val regScanOf: Map[ExprId, AttributeReference] = regIdx.map { i =>
      ex.output(i).exprId -> (poses(i) match {
        case RegChild(sa) => sa
        case _ => return None
      })
    }.toMap
    if (inner.aggregateExpressions.exists(_.exists {
      case _: HyperLogLogPlusPlus | _: HllSketchAgg => true
      case _ => false
    })) return None
    val outs = classify(inner.aggregateExpressions, {
      case ar: AttributeReference if gesIIds.contains(ar.exprId) =>
        Some(Verbatim)
      case _ => None
    }).getOrElse(return None)
    if (outs.exists {
      case _: DistinctCountOut | KeyOut(_, _: Alias) => true
      case _ => false
    }) return None
    val partials = partialsOf(outs, a => regScanOf.get(a.exprId).map(_.name))
      .getOrElse(return None)
    val partialIds = outs.collect { case a: AggOut => a.al.exprId }.toSet
    if (partialIds.nonEmpty && regularRow.isEmpty) return None

    // OUTER verification: grouping over pass attrs only; every aggregate
    // pinned by FILTER (gid = <literal>) to one projection row, reading only
    // that row's live columns (the verbatim-ride soundness condition).
    val passIds = passIdx.map(ex.output(_).exprId).toSet
    if (!ges.forall {
      case ar: AttributeReference => passIds.contains(ar.exprId)
      case _ => false
    }) return None
    val distIdsOfRow: Map[Any, Set[ExprId]] = gidOfRow.zipWithIndex.map {
      case (g, r) =>
        g -> distIdx.filter(i => poses(i) match {
          case Dist(_, drs) => drs.contains(r); case _ => false
        }).map(ex.output(_).exprId).toSet
    }.toMap
    def gidFilterOf(f: Expression): Option[Any] = f match {
      case EqualTo(a: AttributeReference, Literal(g, _))
          if a.exprId == gidAttr.exprId => Some(g)
      case EqualTo(Literal(g, _), a: AttributeReference)
          if a.exprId == gidAttr.exprId => Some(g)
      case _ => None
    }
    val outerOk = aes.forall { ne =>
      if (!ne.deterministic || ne.exists(_.isInstanceOf[PlanExpression[_]]))
        false
      else {
        var ok = true
        val stripped = ne.transform {
          case ae @ AggregateExpression(fn, mode, isDistinct, filterOpt, _) =>
            val fine = mode == Complete && !isDistinct &&
              filterOpt.flatMap(gidFilterOf).exists { g =>
                val refs = fn.references.map(_.exprId).toSet
                if (regularRow.exists(r => gidOfRow(r) == g))
                  refs.subsetOf(partialIds)
                else distIdsOfRow.get(g).exists(d =>
                  refs.nonEmpty && refs.subsetOf(d))
              }
            if (!fine) ok = false
            Literal(null, ae.dataType) // placeholder for the residual check
        }
        // Outside the aggregates, only grouping attrs (and literals) may
        // remain — the rewritten inner re-emits exactly those.
        ok && stripped.references.forall(a => passIds.contains(a.exprId))
      }
    }
    if (!outerOk) return None

    // Candidate view: every grouping, distinct, and filter column a key;
    // the regular partials over the declared sum column.
    val passCols = passIdx.map(i => poses(i) match {
      case Pass(sa) => sa.name.toLowerCase; case _ => return None
    }).toSet
    val distCols = distIdx.map(i => poses(i) match {
      case Dist(sa, _) => sa.name.toLowerCase; case _ => return None
    }).toSet
    val v = serve(src, passCols ++ distCols, outs, partials)
      .getOrElse(return None)

    // Rebuild the Expand: pass/dist/gid output attrs VERBATIM (the inner
    // grouping and the outer's filters/refs resolve against them), RegChild
    // positions dropped, fresh nullable mv_* attrs appended — live in the
    // regular row, NULL elsewhere (mirroring how the original nulled the
    // agg children outside their row).
    val keepIdx = ex.output.indices.filterNot(i => poses(i).isInstanceOf[RegChild])
    val mvNames = mvWanted(outs).toSeq.sorted
    val mvOut: Seq[AttributeReference] =
      mvNames.map(n => AttributeReference(n, v.attr(n).dataType)())
    val mvAttrOf: Map[String, AttributeReference] = mvNames.zip(mvOut).toMap
    val newOutput: Seq[Attribute] = keepIdx.map(ex.output) ++ mvOut
    val newProjections: Seq[Seq[Expression]] =
      ex.projections.indices.map { r =>
        keepIdx.map { i =>
          poses(i) match {
            case Pass(sa) => v.attr(sa.name)
            case Dist(sa, drs) =>
              if (drs.contains(r)) v.attr(sa.name)
              else Literal(null, ex.output(i).dataType)
            case GidP => ex.projections(r)(gidIdx)
            case RegChild(_) => ex.projections(r)(i) // unreachable (dropped)
          }
        } ++ mvNames.map { n =>
          if (regularRow.contains(r)) v.attr(n)
          else Literal(null, mvAttrOf(n).dataType)
        }
      }
    val newExpand = Expand(newProjections, newOutput, v.input)

    // Rebuild the inner aggregate: passthroughs verbatim, each partial's
    // function swapped for its mv_* fold under the SAME alias/exprId.
    val newInner = Aggregate(inner.groupingExpressions,
      outs.map(reAggregate(_, mvAttrOf)), newExpand)
    // The outer aggregate rides verbatim — same grouping, same outputs, same
    // exprIds; only its input changed, and only in slices it never reads.
    Some(Aggregate(ges, aes, newInner))
  }

  // ------------------------------------------------- join-aggregate rewrite

  /** `Aggregate(…, fact ⋈ dim1 ⋈ dim2 ⋈ …)` answered by eager aggregation
    * (see the class doc): substitute the view ONCE for the fact leaf of an
    * INNER-join tree, keep every dimension subtree verbatim, re-aggregate
    * the partials above the (now tiny) join tree. The single-join shape is
    * the one-dim special case; the dominant dashboard shape at scale is
    * `fact ⋈ d1 ⋈ d2 GROUP BY d1.a, d2.b` (normalized star queries), and
    * the proof is IDENTICAL per group: every fact row in one view group
    * carries the same values on every view key, so it joins the same
    * multiset of dim-attribute tuples through the WHOLE dim structure —
    * substituting the group's partial contributes mv_count/mv_sum exactly
    * once per joined tuple where the original contributed its rows
    * one-by-one. */
  private def rewriteJoin(ges: Seq[Expression], aes: Seq[NamedExpression],
      child: LogicalPlan): Option[LogicalPlan] = {
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case Project(es, inner) if es.forall(_.isInstanceOf[AttributeReference]) =>
        strip(inner)
      case other => other
    }
    // Fact candidates: every subtree reachable from the top through INNER
    // joins (condition present), the PRESERVED side of LEFT/RIGHT OUTER
    // joins (r15), and bare-attribute Projects that baseOf accepts as a full
    // graft-table scan. Usually exactly one — a dim leaf that happens to be
    // a graft table simply finds no qualifying view in the candidate walk
    // and the next candidate is tried. The outer-join legs admit only the
    // fact-preserved orientation: a fact on the NULL-EXTENDED side (dim
    // LEFT JOIN fact) would null-extend the substituted view row's mv_count
    // for every unmatched dim row, where the original counted each such row
    // as 1 — never sound, so those subtrees are simply not offered.
    // LEFT SEMI / LEFT ANTI (r15) — the optimizer's lowering of EXISTS /
    // NOT EXISTS predicates: output is the LEFT side only, no duplication
    // at all, so the per-group proof is the simplest of the family — a view
    // group's rows all pass or fail the (deterministic, view-keys ×
    // dim-attrs) condition together, and the semi/anti join keeps or drops
    // the group's partial exactly as it kept or dropped each of its rows.
    def factCands(p: LogicalPlan): Seq[LogicalPlan] = strip(p) match {
      case Join(l, r, Inner, Some(_), _) => factCands(l) ++ factCands(r)
      case Join(l, _, LeftOuter | LeftSemi | LeftAnti, Some(_), _) =>
        factCands(l)
      case Join(_, r, RightOuter, Some(_), _) => factCands(r)
      case _ => if (baseOf(p).isDefined) Seq(p) else Seq.empty
    }
    strip(child) match {
      case top @ Join(_, _,
          Inner | LeftOuter | RightOuter | LeftSemi | LeftAnti,
          Some(_), _) =>
        factCands(top).iterator
          .flatMap(f => attemptJoin(ges, aes, top, f)).nextOption()
      case _ => None
    }
  }

  private def attemptJoin(ges: Seq[Expression], aes: Seq[NamedExpression],
      top: Join, fact: LogicalPlan): Option[LogicalPlan] = {
    // FACT side: the view's source, full scan, at most one key-only Filter —
    // the same proof obligations as the single-table rewrite, because the
    // view substitutes for exactly this subtree.
    // Regimes match on the FACT substitution only: the dim subtrees ride
    // verbatim, policied or not.
    val src = sourceOf(fact).getOrElse(return None)

    val factOut = fact.outputSet
    // Grouping keys: a fact-side bare attribute must be a view key (ViaView);
    // a fact-side EXPRESSION must match a declared generation rule (B189 —
    // the single-table genkey proof carries over verbatim: the generated
    // column carries the expression's value per row, so view groups ARE the
    // expression's groups through the join too); anything not touching the
    // fact rides verbatim (a dim attr, or a deterministic dim-side
    // expression — identical on both plans). Mixed fact+dim expressions
    // refuse: no single stored column carries them.
    lazy val genKey = genKeyOf(src.table)
    val keyMap: Seq[(Expression, KeyEmit)] = ges.map {
      case ar: AttributeReference =>
        (ar, if (factOut.contains(ar)) ViaView(ar.name.toLowerCase) else Verbatim)
      case e if e.references.nonEmpty && e.references.forall(factOut.contains) =>
        genKey(e) match {
          case Some(c) => (e, ViaView(c.toLowerCase))
          case None => return None
        }
      case e if e.deterministic && !e.references.exists(factOut.contains) =>
        (e, Verbatim)
      case _ => return None
    }
    // The joins on the path root→fact (every join the fact's rows flow
    // through; factCands guaranteed them Inner with a condition). Join
    // conditions INSIDE a dim subtree are not collected — the dim subtree
    // rides verbatim whatever it computes, exactly like a single dim table.
    def containsFact(p: LogicalPlan): Boolean =
      (p eq fact) || p.children.exists(containsFact)
    // OUTER joins on the path carry the fact on their PRESERVED side only
    // (factCands offered no other orientation). Their conditions validate
    // and rename exactly like inner-join conditions — the per-group proof
    // extends: every row of a view group evaluates the (deterministic,
    // view-keys + dim-attrs) condition identically, so the whole group
    // matches a dim row or null-extends TOGETHER; an unmatched view row is a
    // PRESERVED row carrying its mv_* partials intact (never null-extended),
    // contributing count/sum/min/max/hll exactly as its n base rows each
    // null-extended once would have. A fact-only conjunct in an outer ON
    // clause (which null-extends rather than filters) is group-constant for
    // the same reason — the group null-extends together.
    def pathConds(p: LogicalPlan): Seq[Expression] = p match {
      case _ if p eq fact => Seq.empty
      case Join(l, r, Inner, Some(c), _) =>
        c +: (if (containsFact(l)) pathConds(l) else pathConds(r))
      case Join(l, _, LeftOuter | LeftSemi | LeftAnti, Some(c), _)
          if containsFact(l) =>
        c +: pathConds(l)
      case Join(_, r, RightOuter, Some(c), _) if containsFact(r) =>
        c +: pathConds(r)
      case Project(_, inner) => pathConds(inner)
      case _ => Seq.empty
    }
    // Path-join conjuncts: EVERY conjunct must be deterministic and
    // subquery-free, and a conjunct touching the fact may reference only
    // FACT VIEW-KEY columns on the fact side (they become required view
    // keys) — but its SHAPE is free: equality, a coercion cast around the
    // key, a range/theta predicate, anything. Soundness is the same
    // group-constancy argument as the key-only Filter: view-key columns are
    // constant within a view group, so any deterministic function of (view
    // keys, dim attrs) evaluates identically for every row of the group —
    // the join keeps/drops the group's partial exactly as it kept/dropped
    // each of its rows. Fact-free conjuncts (snowflake d1⋈d2) ride verbatim
    // under the same determinism gate.
    val conjuncts = pathConds(top).flatMap(splitConjunctivePredicates)
    val factJoinKeys: Seq[AttributeReference] = conjuncts.flatMap { c =>
      if (!c.deterministic || c.exists(_.isInstanceOf[PlanExpression[_]]))
        return None
      c.references.filter(factOut.contains).toSeq.map {
        case ar: AttributeReference => ar
      }
    }
    if (factJoinKeys.isEmpty) return None
    val keyFor: Expression => Option[KeyEmit] = e =>
      keyMap.find(_._1.canonicalized == e.canonicalized).map(_._2)
    val outs = classify(aes, keyFor).getOrElse(return None)
    // Sum/avg/min/max inputs must be FACT columns: a dimension-column
    // aggregate needs per-join-row values the view does not carry.
    val partials = partialsOf(outs,
      a => if (factOut.contains(a)) Some(a.name) else None)
      .getOrElse(return None)
    // count(DISTINCT …) splits by side: a FACT-side distinct column must be
    // a view key (its per-group value set survives the substitution — the
    // view row carries the same key values every row of its group did); a
    // DIM-side distinct rides verbatim (the dim subtree still produces the
    // column, and the joined SET of dim values per result group is identical
    // on both plans — only multiplicities differ, which DISTINCT erases).
    val factDistinctCols = outs.collect {
      case DistinctCountOut(_, c) if factOut.contains(c) => c.name.toLowerCase
    }.toSet

    // Every fact-side column the plan still needs must be a view key: the
    // join keys (group identity), the fact grouping keys, and the replayed
    // filter columns (serve adds those).
    val v = serve(src, factJoinKeys.map(_.name.toLowerCase).toSet ++
      keyMap.collect { case (_, ViaView(n)) => n } ++ factDistinctCols,
      outs, partials).getOrElse(return None)

    // Re-join the view (its key-only fact filter replayed) to the UNTOUCHED
    // dimension subtrees on the same (renamed) keys: rebuild only the path
    // joins, renaming fact attrs in their conditions; bare pruning Projects
    // on the path are dropped (removing a pruning Project only widens the
    // join output — the Aggregate above projects anyway, and the fact data
    // columns such Projects carried are served by mv_* now).
    def rebuild(p: LogicalPlan): LogicalPlan =
      if (p eq fact) v.input
      else if (!containsFact(p)) p // dim subtree rides verbatim
      else p match {
        case Project(_, inner) => rebuild(inner)
        // Join type rides verbatim: the path admits Inner plus the
        // fact-preserved outer orientations, and preserving LeftOuter /
        // RightOuter keeps the null-extension semantics the per-group proof
        // relies on (pathConds validated every conjunct already).
        case Join(l, r, jt, cond, hint) =>
          Join(rebuild(l), rebuild(r), jt, cond.map(_.transform {
            case ar: AttributeReference if factOut.contains(ar) =>
              v.attr(ar.name)
          }), hint)
        case other => other
      }
    val newJoin = rebuild(top)

    // Re-aggregate the partials: dim keys verbatim, fact keys renamed to the
    // view's columns, partials folded exactly as the ROLLUP path does.
    // DISTINCT is multiplicity-blind: fact-side over the (renamed) view key,
    // dim-side verbatim — see the factDistinctCols note above.
    val aggList: Seq[NamedExpression] = outs.map {
      case DistinctCountOut(al, c) if !factOut.contains(c) => al
      case o => reAggregate(o, v.attr)
    }
    val newGes = keyMap.map {
      case (_, ViaView(n)) => v.attr(n)
      case (e, Verbatim) => e
    }
    Some(Aggregate(newGes, aggList, newJoin))
  }
}

object MviewRewriteRule {
  import org.apache.spark.sql.connector.catalog.Identifier

  /** (view ident, mview.source, lowercased key set, mview.sum) */
  private type Decl = (Identifier, String, Set[String], String)
  private final case class Cached(at: Long, decls: Seq[Decl])
  private val index = new java.util.concurrent.ConcurrentHashMap[String, Cached]()
  private val TtlNanos = 30L * 1000 * 1000 * 1000

  /** The namespace's materialized-view DECLARATIONS, cached for 30 s -- the
    * identity facts (source / keys / sum column) that never change after
    * CREATE. Freshness and existence are re-verified per use by the caller
    * (loadTable + fold-floor equality), so the cache bounds only how soon a
    * brand-new view starts serving, never correctness. */
  def candidateViews(tc: org.apache.spark.sql.connector.catalog.TableCatalog,
                     namespace: Array[String]): Seq[Decl] = {
    val key = tc.name() + " " + namespace.mkString(" ")
    val now = System.nanoTime()
    val hit = index.get(key)
    if (hit != null && now - hit.at < TtlNanos) return hit.decls
    val decls: Seq[Decl] =
      try {
        tc.listTables(namespace).toSeq.flatMap { id =>
          try {
            val props = tc.loadTable(id).properties()
            val src = props.get("mview.source")
            val keys = props.get("mview.keys")
            val sum = props.get("mview.sum")
            if (src == null || keys == null || sum == null) None
            else Some((id, src,
              keys.split(',').map(_.trim.toLowerCase).toSet, sum))
          } catch { case _: Exception => None }
        }
      } catch { case _: Exception => Seq.empty }
    index.put(key, Cached(now, decls))
    decls
  }

  /** Drop every cached namespace listing. Called by `create_mview` so a
    * just-created view starts serving immediately instead of after the TTL —
    * the cache bounds discovery of views created OUTSIDE this process only. */
  def invalidateCache(): Unit = index.clear()
}
