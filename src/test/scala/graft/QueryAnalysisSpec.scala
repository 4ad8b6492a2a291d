package graft

/** Schema-drift guard (round-6 verdict item 2): the driver regenerates
  * /root/testdata between rounds and has already changed a column's
  * physical type once (events.ts TIMESTAMP(NANOS)-as-INT64 → µs
  * TIMESTAMP, round 6), which silently broke 13 queries — they simply
  * vanished from CORRECTNESS instead of failing anywhere in the repo.
  * This spec analyzes EVERY declared query against the actual on-disk
  * testdata schema, so the next physical-type drift fails HERE with a
  * per-query message.
  *
  * `queryExecution.analyzed` resolves every column reference and
  * expression type against the real parquet footers without running a
  * job. A handful of query bodies do eager sf0.001 work at construction
  * time (pipeline_* / write_* / dedup_incremental*); their construction
  * throwing on a schema change is exactly the same drift signal.
  */
class QueryAnalysisSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("every declared query analyzes against the on-disk testdata schema") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).queryExecution.analyzed
        None
      } catch {
        case e: Throwable =>
          val msg = String.valueOf(e.getMessage).linesIterator.take(3).mkString(" | ")
          Some(s"$name: ${e.getClass.getSimpleName} $msg")
      }
    }
    assert(
      failures.isEmpty,
      s"${failures.size} queries fail analysis against $sfDir — " +
        s"likely the driver regenerated testdata with a new schema:\n${failures.mkString("\n")}")
  }

  test("every query has an oracle twin or is documented rows-only") {
    // the driver records a weaker rows-only check for queries absent from
    // oracleSql — keep that set explicit so a forgotten oracle is caught.
    // Empty since round 8: dedup_simhash's pair set is oracle-checked
    // against its own signature dump (recall-complete banding ⇒ the
    // output IS the quadratic hamming ≤ 3 truth).
    val rowsOnlyByDesign = Set.empty[String]
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- rowsOnlyByDesign
    assert(missing.isEmpty, s"queries without an oracle twin: ${missing.toSeq.sorted.mkString(", ")}")
    // the _aux_* keys are identity oracles for Verify's oracle-INPUT
    // dumps (round-10: they make the driver's scan of those dump dirs
    // compare green instead of erroring) — deliberately query-less
    val auxDumps = Set("_aux_simhash_sigs", "_aux_semantic_cells", "_aux_semantic_incr_cells",
      "_aux_ivfpq_drift_cells")
    val orphaned = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet -- auxDumps
    assert(orphaned.isEmpty, s"oracles without a query: ${orphaned.toSeq.sorted.mkString(", ")}")
  }

  test("the query union throws on a name declared twice") {
    val q: graft.queries.Inputs.Query = (s, _) => s.emptyDataFrame
    assert(SparkEntry.union(Seq("a" -> q), Seq("b" -> q)).keySet == Set("a", "b"))
    val e = intercept[IllegalStateException](SparkEntry.union(Seq("a" -> q, "b" -> q), Seq("b" -> q)))
    assert(e.getMessage.endsWith(": b"))
  }
}
