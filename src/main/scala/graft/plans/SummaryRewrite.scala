package graft.plans

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, max, min, sum}

import graft.Tables

/** A materialized summary: `summaryPath` holds the per-dims mergeable
  * partial (cnt, sum, min, max over `valCol`) of the table at
  * `basePath` — the layout `streaming/IncrementalAgg` maintains. Keeping
  * it current with the base is the caller's contract, exactly as with
  * any materialized view. */
final case class SummarySpec(basePath: String, summaryPath: String,
    dims: Seq[String], valCol: String)

/** The AGGREGATE NAVIGATOR of classic OLAP engines, as a per-query
  * rewrite: an aggregate over the summary's base table whose grouping
  * keys are a subset of the summary's dims, and whose aggregates are
  * all DERIVABLE from the summary's mergeable partial, is rewritten to
  * aggregate the (many-orders-smaller) summary instead:
  *
  *   count(*)      → sum(cnt)        sum(v) → sum(sum)
  *   min(v)        → min(min)        max(v) → max(max)
  *
  * At 100 TB this turns a full-corpus scan + shuffle into a scan of a
  * |dims|-cardinality table — the whole reason summary tables are
  * maintained (`streaming/IncrementalAgg` keeps one current per
  * micro-batch; this rewrite makes dashboard aggregates actually USE it).
  *
  * [[rewrite]] takes the query and the one summary it may use, and
  * returns the rewritten query; nothing is registered and no optimizer
  * rule is installed, so the session is left as it was found.
  *
  * Scope (narrow on purpose, like [[AutoRangeJoin]] — a rewrite must
  * never fire where it could be wrong):
  *   - the aggregate's child is the base relation under only
  *     column-pruning Projects and DIM-ONLY deterministic Filters — a
  *     dim predicate selects whole summary rows, so it commutes with
  *     the pre-aggregation and is re-applied (rebased by name) on the
  *     summary scan; any predicate touching the value column stops the
  *     rewrite (it would have to see pre-aggregated rows);
  *   - every grouping key is a plain dim attribute; every aggregate is
  *     non-DISTINCT, unfiltered `count(*)` / `sum` / `min` / `max` of
  *     exactly the summarized value column — anything else (avg over a
  *     nullable column, median, count(col), distinct) disables the
  *     rewrite for the whole aggregate;
  *   - the rewritten plan's output is projected back onto the original
  *     output attribute ids, so downstream operators are untouched.
  *
  * Count nullability note: `count(*)` counts rows and `cnt` was built
  * as `count(*)` per batch, so `sum(cnt)` over the summary's (non-null,
  * positive) counts equals it exactly; `count(col)` (null-skipping) is
  * NOT derivable from this partial and is deliberately not matched.
  */
object SummaryRewrite {

  /** `df` with every derivable aggregate over `spec`'s base table
    * answered from the summary, or `df` itself when none is. The
    * rewrite reads `df`'s optimized plan, where filters sit next to the
    * scan and projections are pruned, and the result is re-planned as
    * a new DataFrame. */
  def rewrite(df: DataFrame, spec: SummarySpec): DataFrame = {
    val plan = df.queryExecution.optimizedPlan
    val rewritten = rewritePlan(df.sparkSession, spec, plan)
    if (rewritten eq plan) df
    else GraftSqlBridge.dataFrame(df.sparkSession, rewritten)
  }

  private def normalize(p: String): String = new Path(p).toUri.getPath

  /** Walk down pure column-pruning projections and DIM-ONLY filters to
    * the relation, collecting the filter conditions. A predicate that
    * references only dim columns commutes with the pre-aggregation
    * (it selects whole summary rows); anything touching the value
    * column — or nondeterministic — stops the unwrap, and the
    * aggregate is left alone. */
  private def unwrap(plan: LogicalPlan,
      dims: Seq[String]): Option[(Seq[Expression], LogicalPlan)] =
    plan match {
      case Project(ps, child) if ps.forall(_.isInstanceOf[AttributeReference]) =>
        unwrap(child, dims)
      case org.apache.spark.sql.catalyst.plans.logical.Filter(cond, child)
          if cond.deterministic &&
            cond.references.forall(a => dims.contains(a.name)) =>
        unwrap(child, dims).map { case (fs, rel) => (cond +: fs, rel) }
      case lr: LogicalRelation => Some((Nil, lr))
      case _ => None
    }

  private def pathOf(plan: LogicalPlan): Option[String] = plan match {
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation if fs.location.rootPaths.nonEmpty =>
        Some(fs.location.rootPaths.head.toString)
      case _ => None
    }
    case _ => None
  }

  /** The dim-only filters between the aggregate and the relation, if
    * that relation is `spec`'s base table. */
  private def baseFilters(spec: SummarySpec,
      plan: LogicalPlan): Option[Seq[Expression]] =
    unwrap(plan, spec.dims).collect {
      case (filters, rel)
          if pathOf(rel).exists(normalize(_) == normalize(spec.basePath)) =>
        filters
    }

  /** Rebase a base-relation predicate onto the summary by name: the
    * old attribute ids can't bind there, so they become unresolved
    * names for the summary Dataset's analyzer to re-resolve. */
  private def rebase(e: Expression): org.apache.spark.sql.Column =
    GraftSqlBridge.column(e.transform {
      case a: AttributeReference =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(a.name)
    })

  /** The summary-side expression deriving `fn`, or None if the
    * aggregate isn't derivable from the (cnt, sum, min, max) partial.
    *
    * Two equivalences the naive derivation misses (round-9 advice):
    *   - `count(*)` over an EMPTY input is 0, but `sum(cnt)` over an
    *     empty summary (base empty, or a dim filter matching no rows)
    *     is NULL — in the global-aggregate case that difference is
    *     observable, so count derives as `coalesce(sum(cnt), 0)`,
    *     which is also non-nullable like the original;
    *   - the derived column can WIDEN the type: sum over DECIMAL(p,s)
    *     yields DECIMAL(p+10,s) at base, so the summary's `sum` column
    *     already carries p+10 and `sum(sum)` carries p+20. Every
    *     derivation is cast back to `fn.dataType` — the cast reproduces
    *     the original query's own overflow surface (a value too wide
    *     for the original type could only arise where the original
    *     aggregate would itself have overflowed). */
  private def derive(fn: AggregateFunction,
      valCol: String): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    val d = fn match {
      case Count(Seq(Literal(1, _))) => Some(coalesce(sum(col("cnt")), lit(0L)))
      case Count(Nil)                => Some(coalesce(sum(col("cnt")), lit(0L)))
      case Sum(e: AttributeReference, _) if e.name == valCol =>
        Some(sum(col("sum")))
      case Min(e: AttributeReference) if e.name == valCol =>
        Some(min(col("min")))
      case Max(e: AttributeReference) if e.name == valCol =>
        Some(max(col("max")))
      case _ => None
    }
    d.map(_.cast(fn.dataType))
  }

  /** Per original output position: Left(dim name) for a grouping-attr
    * passthrough, Right(summary aggregate) for a derivable aggregate. */
  private type OutPart = scala.Either[String, org.apache.spark.sql.Column]

  private def rewritePlan(session: SparkSession, spec: SummarySpec,
      plan: LogicalPlan): LogicalPlan =
    plan transform {
      case agg: Aggregate if baseFilters(spec, agg.child).isDefined =>
        val dimFilters = baseFilters(spec, agg.child).get
        val groupAttrs = agg.groupingExpressions.collect {
          case a: AttributeReference => a
        }
        val groupOk = groupAttrs.size == agg.groupingExpressions.size &&
          groupAttrs.forall(a => spec.dims.contains(a.name))
        val parts: Seq[Option[OutPart]] = agg.aggregateExpressions.map {
          case a: AttributeReference
              if groupAttrs.exists(_.exprId == a.exprId) =>
            Some(scala.Left(a.name))
          case Alias(AggregateExpression(fn, Complete, false, None, _), _) =>
            derive(fn, spec.valCol).map(scala.Right(_))
          case _ => None
        }
        val aggParts = parts.zipWithIndex.collect {
          case (Some(scala.Right(c)), i) => c.as(s"__a$i")
        }
        if (!groupOk || parts.exists(_.isEmpty) || aggParts.isEmpty) agg
        else {
          val summary = dimFilters.foldLeft(
            Tables.read(session, spec.summaryPath))(
            (df, f) => df.where(rebase(f)))
          val grouped =
            if (groupAttrs.isEmpty)
              summary.agg(aggParts.head, aggParts.tail: _*)
            else summary
              .groupBy(groupAttrs.map(a => col(a.name)): _*)
              .agg(aggParts.head, aggParts.tail: _*)
          // original output order; the Project below grafts names/ids
          val ordered = grouped.select(parts.zipWithIndex.map {
            case (Some(scala.Left(dim)), _) => col(dim)
            case (_, i)               => col(s"__a$i")
          }: _*)
          val rewritten = ordered.queryExecution.analyzed
          // graft the original output ids so downstream refs still bind
          Project(agg.output.zip(rewritten.output).map { case (o, n) =>
            Alias(n, o.name)(exprId = o.exprId, qualifier = o.qualifier)
          }, rewritten)
        }
    }
}
