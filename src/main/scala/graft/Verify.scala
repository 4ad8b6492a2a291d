package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** DECIMAL-output tripwire (round-11 verdict item 2): paths of every
    * DecimalType leaf in a to-be-dumped schema. The driver hashes
    * CANONICAL value forms and DECIMAL canonicalizes differently
    * between a Spark parquet dump and a DuckDB result (rounds 1 and 11
    * both burned on this — SURVEY §4's rule is "emit DOUBLE"). The
    * local value-compare can't see the class, so any hit here is a
    * hard per-query failure, making the mistake impossible to commit. */
  def decimalCols(dt: org.apache.spark.sql.types.DataType, path: String): Seq[String] = dt match {
    case _: org.apache.spark.sql.types.DecimalType => Seq(path)
    case s: org.apache.spark.sql.types.StructType =>
      s.fields.toSeq.flatMap(f => decimalCols(f.dataType, s"$path.${f.name}"))
    case a: org.apache.spark.sql.types.ArrayType => decimalCols(a.elementType, s"$path[]")
    case m: org.apache.spark.sql.types.MapType =>
      decimalCols(m.keyType, s"$path.key") ++ decimalCols(m.valueType, s"$path.value")
    case _ => Nil
  }
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = args match {
      case Array(s, o)       => (s, o, None)
      case Array(s, o, sel)  => (s, o, Some(sel.split(',').map(_.trim).toSet))
    }
    val cpus = GraftSession.defaultCpus
    // µs timestamps in output parquet so the DuckDB compare sees the
    // exact values Spark computed (INT96 would round-trip through ns)
    val spark = GraftSession.local(cpus, "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // __GRAFT_OUT__ lets an oracle read auxiliary parquet that Verify
    // dumps next to the results (dedup_simhash's signature dump — the
    // DuckDB side can't replay XXH64, but it CAN compute the quadratic
    // hamming truth over the dumped signatures)
    val outAbs = new java.io.File(outDir).getAbsolutePath
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("__GRAFT_OUT__", outAbs))}" }
      .mkString("{", ",", "}")
    // written up-front so a partial run still yields a usable compare set
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // auxiliary dumps referenced by oracles (skipped under a selective
    // run that excludes their query)
    if (only.forall(_.contains("dedup_simhash"))) {
      try {
        graft.operators.DedupOps
          .simhashSignatures(spark.read.parquet(s"$sfDir/documents.parquet"), "text", "doc_id")
          .select(org.apache.spark.sql.functions.col("id"),
            org.apache.spark.sql.functions.col("sig"))
          .orderBy("id")
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/_aux_simhash_sigs")
        System.err.println("[verify] _aux_simhash_sigs dumped")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] _aux_simhash_sigs failed: ${e.getMessage}")
      }
    }
    // `unit` is dumped as its JSON string (round-9 verdict item 1): the
    // driver loads every dump dir into pandas and SORTS all columns —
    // a raw array column fails lexsort and reads as a red row. The
    // consuming oracles CAST it back to DOUBLE[] (Double.toString is
    // round-trip exact, so the cast loses nothing).
    if (only.forall(_.contains("dedup_semantic"))) {
      try {
        SparkEntry.semanticDedupCells(spark, sfDir)
          .withColumn("unit", org.apache.spark.sql.functions.to_json(
            org.apache.spark.sql.functions.col("unit")))
          .orderBy("id")
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/_aux_semantic_cells")
        System.err.println("[verify] _aux_semantic_cells dumped")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] _aux_semantic_cells failed: ${e.getMessage}")
      }
    }
    if (only.forall(_.contains("ann_ivfpq_drift"))) {
      try {
        SparkEntry.ivfPqDriftCellsDump(spark, sfDir)
          .orderBy("side", "id")
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/_aux_ivfpq_drift_cells")
        System.err.println("[verify] _aux_ivfpq_drift_cells dumped")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] _aux_ivfpq_drift_cells failed: ${e.getMessage}")
      }
    }
    if (only.forall(o => o.contains("dedup_semantic_incr") || o.contains("dedup_semantic_drift"))) {
      try {
        SparkEntry.semanticDedupIncrCells(spark, sfDir)
          .withColumn("unit", org.apache.spark.sql.functions.to_json(
            org.apache.spark.sql.functions.col("unit")))
          .orderBy("side", "id")
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/_aux_semantic_incr_cells")
        System.err.println("[verify] _aux_semantic_incr_cells dumped")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] _aux_semantic_incr_cells failed: ${e.getMessage}")
      }
    }
    // Queries run CONCURRENTLY on a bounded pool (round-8 verdict item
    // 1: the serial dump took ~19-25 min — mostly per-query fixed cost
    // and small stages underfilling the local[n] task slots, so modest
    // cross-query parallelism recovers most of it). Isolation: each
    // query gets its own `spark.newSession()` — separate temp-view
    // catalog and session conf over the shared SparkContext (catalog
    // TABLES are shared, but every index-building query uses a distinct
    // `graft_*` prefix, audited). Failures stay per-query; the TOTAL
    // line makes a partial/killed run visible to the driver's log.
    val par = sys.env.get("SPARK_GRAFT_VERIFY_PAR").map(_.toInt)
      .getOrElse(math.min(4, math.max(1, cpus / 2)))
    val todo = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val ok = new java.util.concurrent.atomic.AtomicInteger(0)
    val failed = new java.util.concurrent.atomic.AtomicInteger(0)
    val tAll = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
    val tasks = todo.map { case (name, fn) =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val t0 = System.nanoTime()
          try {
            val session = spark.newSession()
            val df = fn(session, sfDir)
            val decs = df.schema.fields.toSeq.flatMap(f => decimalCols(f.dataType, f.name))
            if (decs.nonEmpty)
              throw new IllegalStateException(
                s"DECIMAL output tripwire: columns [${decs.mkString(", ")}] — " +
                  "emit DOUBLE (SURVEY §4); the driver's canonical hash diverges on DECIMAL")
            df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
            ok.incrementAndGet()
            System.err.println(f"[verify] $name ok ${(System.nanoTime() - t0) / 1e9}%.1fs")
          } catch { case e: Throwable =>
            failed.incrementAndGet()
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
        }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    System.err.println(
      f"[verify] TOTAL ${todo.size} queries ${ok.get()} ok ${failed.get()} failed " +
        f"${(System.nanoTime() - tAll) / 1e9}%.1fs (par=$par)")
    spark.stop()
  }
}
