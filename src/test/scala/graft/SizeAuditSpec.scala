package graft

import graft.plans.{ArrayAggAudit, BroadcastSizeAudit, WindowKeyAudit}
import org.apache.spark.sql.functions._

/** Round-13 verdict items 1-3 as STANDING gates beside WindowKeyAuditSpec:
  * every `SparkEntry.queries` plan (including eagerly-checkpointed
  * subtrees recorded through `Ckpt.recording`; the walk is shared with
  * WindowKeyAuditSpec through SparkSpec.planAudits) is walked for (a) explicit
  * `broadcast()` hints whose input is data-sized — the q41_hotkey_join
  * class (count>4 picked ~half of TPC-H orders; its fix is the bounded
  * top-K hot set) — and (b) `collect_list`/`collect_set` aggregations
  * whose group count is fixed-domain over a data-sized input (the
  * hot-partition window's Aggregate-shaped twin). */
class SizeAuditSpec extends SparkSpec {

  test("no query plans an unguarded data-sized broadcast()") {
    val out = SparkSpec.planAudits("broadcast-audit")
    assert(out.isEmpty, s"${out.size} data-sized broadcasts:\n${out.mkString("\n")}")
  }

  test("no query collects a data-proportional group into one array") {
    val out = SparkSpec.planAudits("arrayagg-audit")
    assert(out.isEmpty, s"${out.size} unbounded collects:\n${out.mkString("\n")}")
  }

  test("the broadcast detector fires on a raw-scan hint and stays quiet " +
    "on bounded / domain-agg / fixed-domain-table hints") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val nation = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    // the q41 pre-fix shape: a threshold filter admits a data-sized set
    val hot = ev.groupBy("user_id").agg(count(lit(1)).as("n")).filter(col("n") > 1)
    val bad = ev.join(broadcast(hot.select("user_id")), Seq("user_id"), "left_semi")
    assert(BroadcastSizeAudit.findings("synthetic_bad",
      bad.queryExecution.optimizedPlan).nonEmpty,
      "threshold-filtered data-sized broadcast must be flagged")
    // bounded top-k (the q41 fix), domain agg, and a fixed-domain table
    val topk = ev.groupBy("user_id").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("user_id")).limit(50).select("user_id")
    val goods = Seq(
      "topk" -> ev.join(broadcast(topk), Seq("user_id"), "left_semi"),
      "domain_agg" -> ev.join(
        broadcast(ev.groupBy("event_type").agg(count(lit(1)).as("cnt"))), Seq("event_type")),
      "fixed_table" -> ev.crossJoin(broadcast(nation.select(col("n_name")))),
      "scalar" -> ev.crossJoin(broadcast(ev.agg(count(lit(1)).as("total")))))
    goods.foreach { case (kind, df) =>
      val out = BroadcastSizeAudit.findings(s"synthetic_$kind",
        df.queryExecution.optimizedPlan)
      assert(out.isEmpty, s"$kind must not be flagged: ${out.mkString("; ")}")
    }
  }

  test("the collect detector fires on a fixed-domain-keyed collect over " +
    "a raw scan and stays quiet on per-entity / bounded / set-of-low-card") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val bad = ev.groupBy("event_type").agg(collect_list(col("event_id")).as("ids"))
    assert(ArrayAggAudit.findings("synthetic_bad",
      bad.queryExecution.optimizedPlan).nonEmpty,
      "low-card-keyed collect over a raw scan must be flagged")
    val goods = Seq(
      // per-entity group: count scales, each array is one key's slice
      "per_key" -> ev.groupBy("user_id").agg(collect_list(col("event_type")).as("ts")),
      // bounded input: a limit cuts the frontier
      "limited" -> ev.limit(100).groupBy("event_type")
        .agg(collect_list(col("event_id")).as("ids")),
      // collect_SET of a fixed-domain column is domain-bounded
      "set_of_lowcard" -> spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
        .groupBy("lang").agg(collect_set(col("source")).as("srcs")))
    goods.foreach { case (kind, df) =>
      val out = ArrayAggAudit.findings(s"synthetic_$kind",
        df.queryExecution.optimizedPlan)
      assert(out.isEmpty, s"$kind must not be flagged: ${out.mkString("; ")}")
    }
  }

  test("a hot window hidden inside an EAGER checkpoint is caught through " +
    "the Ckpt recording seam (round-13 blind spot, closed)") {
    import org.apache.spark.sql.expressions.Window
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val (hidden, recorded) = graft.operators.Ckpt.recording(spark, lazyPins = true) {
      graft.operators.Ckpt.eagerCkpt(
        ev.withColumn("rn", row_number().over(
          Window.partitionBy("event_type").orderBy(col("event_id")))))
    }
    // the checkpointed FINAL plan is a LogicalRDD — the window is gone
    assert(WindowKeyAudit.findings("synthetic_final",
      hidden.queryExecution.optimizedPlan).isEmpty,
      "sanity: the checkpoint hides the window from the final plan")
    // …but the seam recorded the pre-checkpoint subtree, which flags
    assert(recorded.nonEmpty, "eagerCkpt must record inside Ckpt.recording")
    val out = recorded.flatMap(p => WindowKeyAudit.findings("synthetic_ckpt", p))
    assert(out.nonEmpty, "the recorded pre-checkpoint plan must flag the hot window")
  }

  test("every justified exception names a real query") {
    val unknown = (BroadcastSizeAudit.justified.keySet ++ ArrayAggAudit.justified.keySet) --
      SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"justified entries without a query: $unknown")
  }
}
