package graft.plans

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Cast, Expression, Literal, NamedExpression, PlanExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Average, Count, Max, Min, StddevSamp, Sum, VarianceSamp}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.ops.{MaterializedView, TxTable}

/** TRANSPARENT materialized-view query rewrite — the real lakehouse MV
  * value (a view nobody queries directly is just a cache): a grouped
  * aggregate over a base table whose CURRENT state a registered MV
  * already holds is answered from the MV's O(groups) rows instead of
  * the base scan. Two shapes route:
  *  - EXACT: the query groups by exactly the MV's group columns — the
  *    Aggregate becomes a Project over the stored view;
  *  - ROLLUP: the query groups by a PROPER SUBSET (the global
  *    aggregate included) — the Aggregate re-aggregates the MV's
  *    O(groups) rows from the maintained backing state: COUNT(*) =
  *    Σ n_rows, SUM = Σ sums, MIN/MAX = min/max of extrema, AVG =
  *    Σ sum / Σ cnt, VARIANCE/STDDEV from the combined
  *    (Σ sum, Σ sumsq, Σ cnt) moments, COUNT(DISTINCT c) re-counted
  *    from the view's hidden (group, value) pair table at O(live
  *    pairs) — still never the base scan.
  * Either shape additionally COMPENSATES a WHERE clause whose
  * predicates reference ONLY the MV's group columns: such a filter
  * selects whole groups, so it commutes with the aggregation and
  * re-applies verbatim over the MV's rows (`WHERE g2 = 'x' GROUP BY
  * g1` routes; a predicate touching any non-group base column, a
  * non-deterministic one, or a subquery keeps the base plan).
  *
  * Conservatism ladder (cheapest test first; ANY doubt keeps the base
  * plan — correctness never depends on the rewrite firing, it can only
  * skip an optimization; measured at under a millisecond of detection
  * on non-matching plans — SCALE.md, "Round-17: MV query-rewrite
  * probe"):
  *  1. registry non-empty and the Aggregate's child — seen through the
  *     attribute-only Project column pruning inserts — is a parquet
  *     scan whose location roots sit under a registered base dir;
  *  2. the grouping is a subset of the MV's group columns and every
  *     aggregate output maps onto maintained state — DISTINCT
  *     aggregates, COUNT(col), expressions, and anything unmapped
  *     refuse;
  *  3. FRESHNESS last (it costs a log probe): the scan's file set
  *     equals the base snapshot at the MV's applied watermark, so a
  *     stale MV or a time-travel read keeps its base plan.
  * On a match the replacement is built with the DataFrame API over the
  * STORED view table (every derived column physically materialized by
  * the refresh; backing sums/counts/sumsq ride along for the rollup
  * math) and re-aliased under the ORIGINAL exprIds.
  *
  * Float caveat, shared with Spark itself: a rolled-up AVG/VARIANCE
  * over double columns combines partial moments in a different order
  * than the direct plan, so results can differ in final ulps — the
  * same non-determinism partial aggregation already has across
  * partitionings. COUNT/SUM-of-integer/MIN/MAX rollups are exact.
  *
  * Scale shape: the win is O(base) → O(groups) on every routed query —
  * unbounded at 100 TB — for a per-query detection cost of one string
  * compare on non-candidates and one bounded log probe on candidates.
  *
  * Registration: `CREATE MATERIALIZED VIEW` and `REFRESH MATERIALIZED
  * VIEW` register on the session automatically; [[MvRegistry.register]]
  * re-arms a view created elsewhere from its persisted definition
  * properties. Kill switch: `spark.graft.mv.rewrite=false`.
  */
object MvRegistry {

  /** One registered view: where it lives, what it covers. */
  final case class Entry(mvDir: String, baseDir: String,
      groupCols: Seq[String], sumCols: Set[String], minCols: Set[String],
      maxCols: Set[String], avgCols: Set[String], stdCols: Set[String],
      varCols: Set[String], dcntCols: Set[String])

  // session -> (mvDir -> entry); weak keys so a dropped session's
  // registrations do not outlive it
  private val bySession =
    new java.util.WeakHashMap[SparkSession, Map[String, Entry]]()

  def register(spark: SparkSession, mvDir: String): Unit = {
    val t = TxTable(spark, mvDir)
    def csv(k: String): Seq[String] = t.property(k).toSeq
      .flatMap(_.split(",")).filter(_.nonEmpty)
    t.property("txtable.mv.base").foreach { baseDir =>
      val e = Entry(mvDir, baseDir, csv("txtable.mv.groupBy"),
        csv("txtable.mv.sums").toSet, csv("txtable.mv.mins").toSet,
        csv("txtable.mv.maxs").toSet, csv("txtable.mv.avgs").toSet,
        csv("txtable.mv.stds").toSet, csv("txtable.mv.vars").toSet,
        csv("txtable.mv.dcnts").toSet)
      bySession.synchronized {
        val cur = Option(bySession.get(spark)).getOrElse(Map.empty)
        bySession.put(spark, cur + (mvDir -> e))
        ()
      }
    }
  }

  def unregister(spark: SparkSession, mvDir: String): Unit =
    bySession.synchronized {
      Option(bySession.get(spark)).foreach { cur =>
        bySession.put(spark, cur - mvDir)
        ()
      }
    }

  private[plans] def entries(spark: SparkSession): Seq[Entry] =
    bySession.synchronized {
      Option(bySession.get(spark)).map(_.values.toSeq).getOrElse(Nil)
    }

  // baseDir -> (applied version, that snapshot's file set): the
  // freshness gate's expensive half. A TxTable version's file set is
  // IMMUTABLE, so an entry never invalidates — it is SUPERSEDED when
  // a refresh moves the applied version (one entry per base dir, so
  // memory stays O(registered bases)). Without this, every candidate
  // query pays a full log replay + file listing of the base at the
  // applied version; with it, steady-state detection on a fresh view
  // is the snapshot-probe plus one set compare.
  private val validCache =
    new java.util.WeakHashMap[SparkSession,
      Map[String, (Long, Set[String])]]()

  private[plans] def validFilesAt(spark: SparkSession, baseDir: String,
      applied: Long)(compute: => Set[String]): Set[String] =
    validCache.synchronized {
      val cur = Option(validCache.get(spark)).getOrElse(Map.empty)
      cur.get(baseDir) match {
        case Some((v, fs)) if v == applied => fs
        case _ =>
          val fs = compute
          validCache.put(spark, cur + (baseDir -> ((applied, fs))))
          fs
      }
    }
}

final class MvRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {

  import MvRegistry.Entry

  private def enabled: Boolean =
    spark.conf.get("spark.graft.mv.rewrite", "true") == "true"

  /** The scan's file set when the plan is a parquet relation (under
    * attribute-only Projects and Filter nodes, any interleaving)
    * rooted under `baseDir`, plus the filter conditions collected on
    * the way down — [[replace]] decides whether they compensate. */
  private def baseScanFiles(p: LogicalPlan, baseDir: String)
      : Option[(Set[String], Seq[Expression])] = p match {
    case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      baseScanFiles(child, baseDir)
    case Filter(cond, child) =>
      baseScanFiles(child, baseDir).map { case (fs, cs) => (fs, cond +: cs) }
    case l: LogicalRelation => l.relation match {
      case h: HadoopFsRelation
          if h.location.rootPaths.nonEmpty &&
            h.location.rootPaths.forall(
              _.toString.stripPrefix("file:").startsWith(baseDir)) =>
        Some((h.location.inputFiles.map(_.stripPrefix("file:")).toSet, Nil))
      case _ => None
    }
    case _ => None
  }

  /** The maintained (kind, baseColumn) behind one AggregateExpression,
    * or None: ("count", ""), ("sum"|"min"|"max"|"avg"|"stddev"|"var"|
    * "dcnt", col). COUNT(DISTINCT c) maps when the view maintains c's
    * pair table; every other DISTINCT form and FILTER (WHERE …)
    * refuses. */
  private def mappedAgg(ae: AggregateExpression, m: Entry)
      : Option[(String, String)] = ae match {
    // COUNT(DISTINCT c): the one DISTINCT form the view maintains
    // (exactly, via its hidden pair-count aux table)
    case AggregateExpression(Count(Seq(c: AttributeReference)), _,
        true, None, _) if m.dcntCols.contains(c.name) =>
      Some(("dcnt", c.name))
    // COUNT(DISTINCT g) over one of the view's GROUP columns: the view
    // holds exactly the live group combinations, so a coarser grain
    // counts it straight off the view's rows — no aux table involved
    // (`SELECT g1, COUNT(DISTINCT g2) … GROUP BY g1`). Exact grain
    // stays refused: counting a column inside its own grouping is a
    // degenerate 0/1-per-group shape the base plan answers fine.
    case AggregateExpression(Count(Seq(c: AttributeReference)), _,
        true, None, _) if m.groupCols.contains(c.name) =>
      Some(("gdcnt", c.name))
    case AggregateExpression(f: AggregateFunction, _, false, None, _) =>
      f match {
        case c: Count if c.children.forall {
          case Literal(v, _) => v != null
          case _ => false
        } => Some(("count", ""))
        case Sum(c: AttributeReference, _)
            if m.sumCols.contains(c.name) => Some(("sum", c.name))
        case Min(c: AttributeReference)
            if m.minCols.contains(c.name) => Some(("min", c.name))
        case Max(c: AttributeReference)
            if m.maxCols.contains(c.name) => Some(("max", c.name))
        case Average(c: AttributeReference, _)
            if m.avgCols.contains(c.name) => Some(("avg", c.name))
        case StddevSamp(c: AttributeReference, _)
            if m.stdCols.contains(c.name) => Some(("stddev", c.name))
        case VarianceSamp(c: AttributeReference, _)
            if m.varCols.contains(c.name) => Some(("var", c.name))
        case _ => None
      }
    case _ => None
  }

  /** Every AggregateExpression in `e` mapped, or None if any refuses.
    * Output expressions are arbitrary TREES over aggregates and group
    * references (the optimizer collapses `round(avg(x), 6)` and
    * `sum(a)/count(*)` straight into the Aggregate), so the match
    * walks subtrees rather than requiring a bare Alias(agg). */
  private def mappedAggsIn(e: Expression, m: Entry)
      : Option[Seq[(AggregateExpression, (String, String))]] = {
    val aggs = e.collect { case ae: AggregateExpression => ae }
    val mapped = aggs.map(ae => mappedAgg(ae, m))
    if (mapped.forall(_.isDefined)) Some(aggs.zip(mapped.map(_.get)))
    else None
  }

  /** EXACT-match source column in the stored view. */
  private def exactName(kind: String, c: String): String = kind match {
    case "group"  => c
    case "count"  => MaterializedView.NRows
    case "sum"    => c + "_sum"
    case "min"    => c + "_min"
    case "max"    => c + "_max"
    case "avg"    => c + "_avg"
    case "stddev" => c + "_stddev"
    case "var"    => c + "_var"
    case "dcnt"   => c + "_dcnt"
  }

  /** ROLLUP column over the stored view's backing state — re-aggregate
    * the MV's rows for a coarser (or global) grouping. */
  private def rollupColumn(kind: String, c: String): Column = {
    // the combined sample variance from summed moments, the same
    // (Σx² − (Σx)²/n)/(n−1) device MaterializedView.withDerived uses
    def variance: Column = {
      val n = sum(col(c + "_cnt"))
      val nd = n.cast("double")
      val s = sum(col(c + "_sum")).cast("double")
      when(n > 1L,
        greatest((sum(col(c + "_sumsq")) - s * s / nd) / (nd - 1.0),
          lit(0.0)))
    }
    kind match {
      case "count"  => coalesce(sum(col(MaterializedView.NRows)), lit(0L))
      case "gdcnt"  => countDistinct(col(c))
      case "sum"    => sum(col(c + "_sum"))
      case "min"    => min(col(c + "_min"))
      case "max"    => max(col(c + "_max"))
      case "avg"    =>
        when(sum(col(c + "_cnt")) > 0L,
          sum(col(c + "_sum")) / sum(col(c + "_cnt")))
      case "var"    => variance
      case "stddev" => sqrt(variance)
    }
  }

  /** Freshness gate + the stored view frame (every derived column is
    * physically materialized by the refresh; hidden backing columns
    * ride along for the rollup math). None on any doubt or failure —
    * a deleted MV dir, a log fault — refusing the rewrite, never the
    * query. */
  private def freshMv(m: Entry, scan: Set[String])
      : Option[(DataFrame, Long)] =
    try {
      val base = TxTable(spark, m.baseDir)
      val applied = MaterializedView(spark, base, m.mvDir,
        m.groupCols, m.sumCols.toSeq, m.minCols.toSeq, m.maxCols.toSeq,
        m.avgCols.toSeq).appliedVersion
      if (applied < 0) None
      else {
        val valid = MvRegistry.validFilesAt(spark, m.baseDir, applied)(
          base.readAt(applied).inputFiles
            .map(_.stripPrefix("file:")).toSet)
        if (scan != valid) None
        else Some((TxTable(spark, m.mvDir).read(), applied))
      }
    } catch { case NonFatal(_) => None }

  /** The live (group…, value) pairs behind `COUNT(DISTINCT c)` — the
    * view's hidden aux table — gated on its OWN watermark (the txn
    * marker every aux fold swaps atomically) matching the view's (the
    * refresh commits them in order, so a mismatch means a torn or
    * foreign state: refuse). */
  private def auxPairs(m: Entry, c: String, applied: Long)
      : Option[DataFrame] =
    try {
      val aux = TxTable(spark, m.mvDir + "/_dcnt_" + c)
      if (!aux.txnVersion(MaterializedView.AuxTxnApp).contains(applied))
        None
      else Some(aux.read())
    } catch { case NonFatal(_) => None }

  private def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed

  /** The replacement plan for a matched (entry, aggregate), or None.
    * Output expressions are rebuilt by SUBSTITUTION: each mapped
    * AggregateExpression subtree is replaced by its source attribute
    * (exact grain: the stored column; rollup: the re-aggregated tmp
    * column), group references rebind to the replacement plan's
    * attributes, and the SURROUNDING expression tree — the
    * `round(…)`/arithmetic the optimizer collapsed into the Aggregate —
    * survives verbatim above it. */
  /** A WHERE predicate compensates iff it selects WHOLE groups —
    * deterministic, subquery-free, touching only the MV's group
    * columns — in which case it commutes with the aggregation and
    * re-applies verbatim over the MV's rows. Anything else refuses. */
  private def compensable(filters: Seq[Expression], m: Entry): Boolean =
    filters.forall { c =>
      c.deterministic &&
        !c.exists(_.isInstanceOf[PlanExpression[_]]) &&
        c.references.forall(a => m.groupCols.contains(a.name))
    }

  /** The stored view with the query's WHERE re-applied: each filter's
    * attributes rebind BY NAME to the view plan (group columns keep
    * their base names in the stored state). None when a referenced
    * name is somehow absent — refuse, never guess. */
  private def applyFilters(mvDf: DataFrame, filters: Seq[Expression])
      : Option[DataFrame] =
    if (filters.isEmpty) Some(mvDf)
    else {
      val byName: Map[String, Attribute] =
        analyzed(mvDf).output.map(a => a.name -> a).toMap
      if (!filters.forall(_.references.forall(a => byName.contains(a.name))))
        None
      else Some(filters.foldLeft(mvDf) { (d, c) =>
        d.filter(org.apache.spark.sql.graft.ColumnShim.column(c.transform {
          case a: AttributeReference if byName.contains(a.name) =>
            byName(a.name)
        }))
      })
    }

  private def replace(m: Entry, agg: Aggregate,
      groupNames: Seq[String], scan: Set[String],
      filters: Seq[Expression]): Option[LogicalPlan] = {
    val perOutput = agg.aggregateExpressions.map(e => mappedAggsIn(e, m))
    if (!perOutput.forall(_.isDefined)) return None
    if (!compensable(filters, m)) return None
    // distinct (kind, col) pairs across every output
    val needed = perOutput.flatMap(_.get.map(_._2)).distinct
    val exactGrain = groupNames.toSet == m.groupCols.toSet
    // group-column COUNT(DISTINCT) only rolls UP (see mappedAgg) —
    // refused here before the freshness probe spends a log read
    if (exactGrain && needed.exists(_._1 == "gdcnt")) return None
    freshMv(m, scan).flatMap { case (mvDf0, applied) =>
      applyFilters(mvDf0, filters).flatMap { mvDf =>
      val exact = exactGrain
      def tmpName(kc: (String, String)): String =
        s"__mv_${kc._1}_${kc._2}"
      // COUNT(DISTINCT) does not roll up from per-group counts — a
      // coarser grain re-counts from the view's hidden pair table
      // (O(live pairs), never the base), so it splits off here
      val (dcntNeeded, stateNeeded) =
        needed.partition(kc => !exact && kc._1 == "dcnt")
      /** Null-safe left join of one aux-derived coarser-grain distinct
        * count onto the rolled-up frame; groups with no non-null
        * values read 0 (SQL COUNT DISTINCT). */
      def joinDcnt(f: DataFrame, kc: (String, String))
          : Option[DataFrame] =
        auxPairs(m, kc._2, applied).flatMap(applyFilters(_, filters))
          .map { aux =>
            val dc0 = aux.groupBy(groupNames.map(col): _*)
              .agg(countDistinct(col(kc._2)).as(tmpName(kc)))
            if (groupNames.isEmpty) f.crossJoin(dc0)
            else {
              val dc = groupNames.foldLeft(dc0)((x, g) =>
                x.withColumnRenamed(g, g + "__mvg"))
              f.join(dc,
                  groupNames.map(g => col(g) <=> col(g + "__mvg"))
                    .reduce(_ && _), "left")
                .drop(groupNames.map(_ + "__mvg"): _*)
                .withColumn(tmpName(kc),
                  coalesce(col(tmpName(kc)), lit(0L)))
            }
          }
      val frame0: DataFrame =
        if (exact) mvDf
        else if (stateNeeded.isEmpty)
          // group-only outputs (SELECT g FROM base GROUP BY g) or a
          // dcnt-only rollup: the distinct group values the view
          // already holds (the dcnt joins land on top). An explicit
          // Aggregate, not .distinct() — this plan is injected AFTER
          // the optimizer pass that lowers Deduplicate, so a
          // Deduplicate node here would reach the planner unreplaced
          mvDf.groupBy(groupNames.map(col): _*)
            .agg(count(lit(1)).as("__mv_drop"))
        else
          // ROLLUP: re-aggregate the view's rows at the coarser grain,
          // one tmp column per distinct mapped aggregate
          mvDf.groupBy(groupNames.map(col): _*)
            .agg(rollupColumn(stateNeeded.head._1, stateNeeded.head._2)
              .as(tmpName(stateNeeded.head)),
              stateNeeded.tail.map(kc =>
                rollupColumn(kc._1, kc._2).as(tmpName(kc))): _*)
      val frameOpt = dcntNeeded.foldLeft(Option(frame0)) { (fOpt, kc) =>
        fOpt.flatMap(joinDcnt(_, kc))
      }
      frameOpt.flatMap { frame =>
      val plan = analyzed(frame)
      val byName: Map[String, Attribute] =
        plan.output.map(a => a.name -> a).toMap
      def srcFor(kc: (String, String)): Attribute =
        if (exact) byName(exactName(kc._1, kc._2)) else byName(tmpName(kc))
      val outputs = agg.output.zip(agg.aggregateExpressions)
        .zip(perOutput.map(_.get)).map { case ((o, e), mappedAggs) =>
          val bySubtree = mappedAggs.toMap
          val body = e match {
            case al: Alias => al.child
            case other     => other
          }
          // transformDOWN: the whole AggregateExpression subtree swaps
          // out before its children are visited — a group column used
          // INSIDE an aggregate (sum(g)) must not be rebound first,
          // which would change the subtree under the parent's feet
          val substituted = body.transformDown {
            case ae: AggregateExpression if bySubtree.contains(ae) =>
              val src = srcFor(bySubtree(ae))
              if (src.dataType == ae.dataType) src
              else Cast(src, ae.dataType)
            case a: AttributeReference if byName.contains(a.name) &&
                groupNames.contains(a.name) => byName(a.name)
          }
          // every reference must now come from the replacement plan —
          // anything left over (a non-group base column outside an
          // aggregate, an unrebound ref) refuses the whole rewrite
          (o, substituted)
        }
      val unbound = outputs.exists { case (_, s) =>
        !s.references.subsetOf(plan.outputSet) ||
          s.exists(_.isInstanceOf[AggregateExpression])
      }
      if (unbound) None
      else Some(Project(
        outputs.map { case (o, s) =>
          val e: Expression =
            if (s.dataType == o.dataType) s else Cast(s, o.dataType)
          Alias(e, o.name)(exprId = o.exprId)
        }, plan))
      }
      }
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val mvs = MvRegistry.entries(spark)
    if (mvs.isEmpty || !enabled) plan
    else plan transform {
      case agg @ Aggregate(groupExprs, _, child, _) =>
        val groupNames0 = groupExprs.map {
          case a: AttributeReference => Some(a.name)
          case _ => None
        }
        val rewritten =
          if (!groupNames0.forall(_.isDefined)) None
          else {
            val groupNames = groupNames0.flatten
            if (groupNames.distinct.size != groupNames.size) None
            else mvs.view.flatMap { m =>
              if (!groupNames.toSet.subsetOf(m.groupCols.toSet)) None
              else baseScanFiles(child, m.baseDir).flatMap {
                case (scan, filters) =>
                  replace(m, agg, groupNames, scan, filters)
              }
            }.headOption
          }
        rewritten.getOrElse(agg)
    }
  }
}
