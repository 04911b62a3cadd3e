package graft.plans

import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete}
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec

/** Shuffle-first ("complete mode") aggregation for high-cardinality
  * group-bys.
  *
  * Spark always plans partial-then-final hash aggregation. When the
  * number of groups approaches the number of rows (GROUP BY UserID, URL,
  * SearchPhrase ... on a web-analytics table), the partial step reduces
  * almost nothing yet builds a near-full hash map per map task — for a
  * 10 M-row table with 1 M groups the partial maps hold ~8 M entries in
  * aggregate and the shuffle still carries ~8 M rows. The reference
  * engine's distributed plan for this shape is shuffle-by-key then one
  * aggregation pass (daisy: `src/Interpreters/Aggregator.cpp` two-level
  * merge; its per-shard "WithMergeableState" stage is skipped for
  * single-stage local plans).
  *
  * This strategy plans the same thing on Spark: exchange on the grouping
  * key, then a single Complete-mode HashAggregateExec. Each reduce task
  * owns its key range, so the map holds groups/numPartitions entries and
  * every input row is hashed exactly once. At 100 TB the trade is
  * identical — shuffle rows (uncombined) vs per-mapper map build; for
  * near-unique keys the former is strictly cheaper. Low-cardinality
  * group-bys should keep partial aggregation (massive combine ratio), so
  * the decision is driven by [[TableStats]] NDV statistics: the strategy
  * fires when the estimated group count (product of per-key NDVs, capped
  * at the table row count; non-attribute grouping expressions contribute
  * a conservative factor 1, unanalyzed attributes veto) clears
  * 0.5 % of the rows — the ANALYZE-driven analogue of the reference
  * Aggregator's runtime two-level conversion. Without [[TableStats]]
  * for the grouping keys it never fires.
  *
  * Falls through (Nil) for distinct/filtered aggregates, aggregates with
  * no grouping keys, and buffer types HashAggregateExec can't hold in
  * UnsafeRow — Spark's built-in strategy then plans those as usual.
  */
object SkipPartialAgg extends SparkStrategy {

  /** Stats verdict: estimated groups >= 0.5 % of rows, with every grouping
    * attribute analyzed FOR THE RELATION THIS AGGREGATE SCANS (stats are
    * leaf-scoped — another table's same-named column never fires here;
    * multi-relation children veto) AND resolved BY ATTRIBUTE IDENTITY
    * (exprId, not name — a column renamed to an analyzed name is a
    * different attribute, misses, and vetoes). Non-attribute expressions
    * (minute(ts), regexp_extract(url), literals) can only LOWER the true
    * group count versus their inputs, so they multiply by 1; an
    * aggregate whose keys are all such expressions never fires. */
  private def statsSayHighCard(
      groupingExprs: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression],
      child: LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Literal}
    val leaf = TableStats.leafOf(child).getOrElse(return false)
    var product = 1.0
    var rows = 0L
    var sawAttr = false
    groupingExprs.foreach { ne =>
      val e = ne match {
        case a: Alias => a.child
        case other => other
      }
      e match {
        case ar: AttributeReference =>
          TableStats.ndv(leaf, ar.exprId) match {
            case Some((n, r)) =>
              sawAttr = true
              product = math.min(product * math.max(n, 1L), 1e18)
              rows = math.max(rows, r)
            case None => return false // unanalyzed attribute: veto
          }
        case _: Literal => // contributes a single value
        case _ => // derived expression: conservative factor 1
      }
    }
    sawAttr && rows > 0 && math.min(product, rows.toDouble) >= 0.005 * rows
  }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalAggregation(groupingExprs, aggExprs, resultExprs, child)
        if statsSayHighCard(groupingExprs, child) &&
          groupingExprs.nonEmpty && aggExprs.nonEmpty &&
          aggExprs.forall(ae => !ae.isDistinct && ae.filter.isEmpty) &&
          Aggregate.supportsHashAggregate(
            aggExprs.flatMap(_.aggregateFunction.aggBufferAttributes),
            groupingExprs) =>
      val complete = aggExprs.map(_.copy(mode = Complete))
      HashAggregateExec(
        requiredChildDistributionExpressions =
          Some(groupingExprs.map(_.toAttribute)),
        isStreaming = false,
        numShufflePartitions = None,
        groupingExpressions = groupingExprs,
        aggregateExpressions = complete,
        aggregateAttributes = complete.map(_.resultAttribute),
        initialInputBufferOffset = 0,
        resultExpressions = resultExprs,
        child = planLater(child)) :: Nil
    case _ => Nil
  }
}
