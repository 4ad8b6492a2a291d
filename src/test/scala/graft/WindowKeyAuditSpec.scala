package graft

import graft.plans.WindowKeyAudit

/** SURVEY §5.1's window key-cardinality audit as a standing gate
  * (round-12 verdict item 4): every `SparkEntry.queries` plan is walked
  * with lazy checkpoints SKIPPED (PlanAudits' `Ckpt.recording` block —
  * the round-12 `events_dgim` hot window hid behind exactly such a
  * checkpoint), and any Window partitioned only by known low-card
  * columns over a data-sized input fails here, pre-commit, instead of
  * surfacing as a 100 TB straggler in a verdict. First run caught
  * `data_token_budget`'s raw per-lang cumulative window — a site the
  * hand-maintained §5.1 table had missed since round 9. */
class WindowKeyAuditSpec extends SparkSpec {

  test("no query plans a low-card RAW window (§5.1 hot-partition class)") {
    val out = SparkSpec.planAudits("window-audit")
    assert(out.isEmpty, s"${out.size} low-card RAW windows:\n${out.mkString("\n")}")
  }

  test("the detector fires on a small-modulo key over a raw scan " +
    "(the pmod(user_id, 2) shape, inline or aliased)") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    // inline: the analyzer extracts pmod into a _wN projection — the
    // audit must trace it; aliased: plain name-invisible low-card key
    val inline = raw.withColumn("rn",
      row_number().over(Window.partitionBy(pmod(col("user_id"), lit(2)))
        .orderBy(col("event_id"))))
    val aliased = raw.withColumn("par2", pmod(col("user_id"), lit(2)))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("par2")
          .orderBy(col("event_id"))))
    Seq("inline" -> inline, "aliased" -> aliased).foreach { case (kind, df) =>
      val out = graft.plans.WindowKeyAudit.findings(s"synthetic_$kind",
        df.queryExecution.optimizedPlan)
      assert(out.nonEmpty, s"$kind small-modulo hot window must be flagged")
    }
    // and a HIGH-card key over the same scan must NOT flag
    val good = raw.withColumn("rn",
      row_number().over(Window.partitionBy("user_id").orderBy(col("event_id"))))
    assert(graft.plans.WindowKeyAudit
      .findings("synthetic_good", good.queryExecution.optimizedPlan).isEmpty)
  }

  test("every justified exception names a real query") {
    val unknown = WindowKeyAudit.justified.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"justified entries without a query: $unknown")
  }

  test("the low-card / high-card name sets stay disjoint") {
    val overlap = WindowKeyAudit.lowCardNames intersect WindowKeyAudit.highCardNames
    assert(overlap.isEmpty, s"a column cannot be both: $overlap")
  }
}
