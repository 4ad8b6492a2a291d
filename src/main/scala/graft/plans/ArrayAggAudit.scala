package graft.plans

import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Collect, CollectSet}
import org.apache.spark.sql.catalyst.plans.logical._

/** Round-13 verdict item 3: the WindowKeyAudit standing-gate posture
  * applied to unbounded per-group arrays.
  *
  * The hazard: `collect_list` / `collect_set` materializes an ENTIRE
  * group as one in-memory array inside one task. When the grouping keys
  * are all FIXED-domain (low-card / calendar / band columns — the group
  * COUNT does not grow with the data) and the aggregate's input is
  * data-sized, every array is a data-proportional slice of the corpus:
  * fine at sf0.1, a single-row OOM at 100 TB. This is the same class as
  * the hot-partition window — the window audit can't see it because the
  * collection hides inside an Aggregate, not a Window.
  *
  * Classification, mirroring WindowKeyAudit §5.1 classes:
  *  - a collecting Aggregate with ANY grouping key outside
  *    lowCardNames ∪ domainNames (a doc_id, an order key, an md5
  *    bucket…) is per-entity: the group count scales with the data and
  *    each array is one entity's slice, bounded by per-key multiplicity
  *    (per-order baskets ≤ 7, per-doc tokens ≤ doc length — the same
  *    documented multiplicity caveat as high-card window partitions) →
  *    safe;
  *  - all-fixed-domain keys (or a GLOBAL collect) whose input frontier
  *    is Bounded / DomainAgg / BandedAgg (a limit, a domain grid, a
  *    band table) → the array is domain-sized → safe;
  *  - all-fixed-domain keys (or global) over a DataSized frontier → a
  *    FINDING unless in [[justified]].
  *
  * Residual documented blind spot: `collect_list(...).over(window)` —
  * unbounded-frame window collection under a low-card partition is
  * already flagged by WindowKeyAudit (the partition itself is the
  * hazard); bounded RANGE frames collect ≤ frame rows.
  */
object ArrayAggAudit {

  import WindowKeyAudit.{domainNames, lowCardNames}

  /** Queries allowed a fixed-domain-keyed collect over a data-sized
    * frontier, with the rationale. Keep SHORT — every entry is a debt. */
  val justified: Map[String, String] = Map.empty

  private def collects(e: org.apache.spark.sql.catalyst.expressions.Expression): Seq[AggregateExpression] =
    e.collect {
      case ae: AggregateExpression if ae.aggregateFunction.isInstanceOf[Collect[_]] => ae
    }

  /** A `collect_set` of a FIXED-domain column is bounded by that
    * column's value domain however many rows feed it (`collect_set(
    * l_linestatus)` holds ≤ 3 elements at any SF) — only collect_LIST
    * (duplicates kept) or a set of a data-domain column scales with
    * the input. */
  private def setOfFixedDomain(ae: AggregateExpression): Boolean =
    ae.aggregateFunction.isInstanceOf[CollectSet] &&
      ae.aggregateFunction.references.forall(r =>
        lowCardNames.contains(r.name) || domainNames.contains(r.name))

  /** Violations in one query's OPTIMIZED plan. */
  def findings(name: String, plan: LogicalPlan): Seq[String] =
    plan.collect {
      case a: Aggregate if a.aggregateExpressions.flatMap(collects)
          .exists(ae => !setOfFixedDomain(ae)) =>
        val keys = a.groupingExpressions.flatMap(_.references).map(_.name).distinct
        val fixedDomain =
          keys.forall(n => lowCardNames.contains(n) || domainNames.contains(n))
        if (fixedDomain && !justified.contains(name)) {
          // the broadcast classifier understands limits, k-key filter
          // slices, bounded-side joins and domain aggregates — exactly
          // the shapes that bound a collected group's input
          if (BroadcastSizeAudit.classify(a.child) == BroadcastSizeAudit.DataSized)
            Seq(s"$name: collect_list/collect_set grouped by " +
              s"[${if (keys.isEmpty) "GLOBAL" else keys.mkString(", ")}] over a " +
              "data-sized input — each array is a data-proportional corpus " +
              "slice in one task; pre-aggregate to a domain/band table first, " +
              "bound the group with a rank predicate, or justify in " +
              "ArrayAggAudit.justified")
          else Nil
        } else Nil
    }.flatten
}
