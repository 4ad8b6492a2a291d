package graft.operators

import graft.functions.ExactSum
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental maintenance of a persisted aggregate table — the
  * materialized-view pattern every rolling pipeline converges on: keep a
  * per-key state table of MERGEABLE aggregates (count, sum, min, max),
  * and fold each day's delta in with one key-join instead of re-scanning
  * the full history. The 100 TB math is the whole point: a 2-year
  * backfill rescan reads ~700 days of raw logs; maintenance reads ONE
  * day plus a state table that is bounded by |keys|, not by history.
  *
  * Contracts that make the merge correct:
  *  - every aggregate carried in state must be mergeable (count/sum:
  *    add; min/max: least/greatest). avg is DERIVED (sum/count) at read
  *    time, never stored — stored averages don't merge;
  *  - sums are DECIMAL so state is replay-stable: folding days in any
  *    order, or re-running a day's merge after a crash-restore, yields
  *    bit-identical state (double sums would drift with fold order);
  *  - the state side should be written bucketBy(key) (BucketOps) so the
  *    daily merge join is Exchange-free on the big side — the same
  *    layout contract IncrementalDedupOps places on its signature index.
  *
  * Reference scope: the reference pipelines re-run aggregations from
  * scratch per invocation (etl/src/main/scala/dev/mauch/spark/etl —
  * stateless transforms); the state-fold layer is ours.
  */
object MaintOps {

  /** Aggregate `delta` down to one mergeable state row per key:
    * (keys…, cnt, sum_v DECIMAL(38,6), min_v, max_v) over `valCol`. */
  def aggState(delta: DataFrame, keys: Seq[String], valCol: String): DataFrame =
    delta.groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("cnt"),
        ExactSum(col(valCol), 6).as("sum_v"),
        min(col(valCol)).as("min_v"),
        max(col(valCol)).as("max_v"))

  /** Fold a delta's state into the existing state: full-outer key join,
    * component-wise merge. Either side may hold keys the other lacks.
    * One shuffle on the delta side only if the state table is bucketed
    * on the keys; never a scan of prior raw data.
    */
  def mergeState(state: DataFrame, deltaState: DataFrame, keys: Seq[String]): DataFrame = {
    val a = state.select(
      keys.map(col) ++ Seq(col("cnt").as("a_cnt"), col("sum_v").as("a_sum"),
        col("min_v").as("a_min"), col("max_v").as("a_max")): _*)
    val b = deltaState.select(
      keys.map(col) ++ Seq(col("cnt").as("b_cnt"), col("sum_v").as("b_sum"),
        col("min_v").as("b_min"), col("max_v").as("b_max")): _*)
    a.join(b, keys, "full_outer")
      .select(
        keys.map(col) ++ Seq(
          (coalesce(col("a_cnt"), lit(0L)) + coalesce(col("b_cnt"), lit(0L))).as("cnt"),
          (coalesce(col("a_sum"), lit(0).cast("decimal(38,6)"))
            + coalesce(col("b_sum"), lit(0).cast("decimal(38,6)")))
            .cast("decimal(38,6)").as("sum_v"),
          least(col("a_min"), col("b_min")).as("min_v"),
          greatest(col("a_max"), col("b_max")).as("max_v")): _*)
  }

  /** Read-time view over state: derived average (never stored). */
  def withDerived(state: DataFrame): DataFrame =
    state.withColumn("avg_v",
      (col("sum_v") / col("cnt")).cast("decimal(38,6)"))

  /** Incremental maintenance of an APPEND-ONLY JOIN view V = A ⋈ B
    * (inner, equi-keys): with ΔA, ΔB the day's appends and B' = B ∪ ΔB,
    *
    *   V' = V  ∪  (ΔA ⋈ B')  ∪  (A ⋈ ΔB)
    *
    * — the algebraic delta-join expansion (ΔA⋈ΔB lands inside ΔA⋈B').
    * The 100 TB point: the base-base join A⋈B is NEVER recomputed; the
    * persisted view is only SCANNED and unioned, and every delta join
    * has a delta-sized side that AQE broadcasts. Daily cost is
    * O(|Δ| + |view scan|) instead of O(|A⋈B| shuffle).
    *
    * Append-only contract: rows are never updated or deleted (deletes
    * need the CDC MERGE path, DiffOps.applyCdc). `view` must be the
    * previously-persisted A⋈B result with the same projected columns
    * this call produces.
    */
  def maintainJoinView(
      view: DataFrame,
      aOld: DataFrame, deltaA: DataFrame,
      bNew: DataFrame, deltaB: DataFrame,
      keys: Seq[String]): DataFrame =
    view
      .unionByName(deltaA.join(bNew, keys))
      .unionByName(aOld.join(deltaB, keys))
}
