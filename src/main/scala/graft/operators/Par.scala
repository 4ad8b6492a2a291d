package graft.operators

import org.apache.spark.sql.DataFrame

/** Parallelism-starvation spread, shared by `queries.Inputs.TP` and the
  * operator library (r14): the testdata tables are ONE single-row-group
  * parquet file, so every scan is one task and all map-side work above
  * it — decimal-moment batteries, md5 expansions, percentile buffers —
  * runs serial. When (and only when) the input lacks file parallelism
  * (input files × 2 < default parallelism), repartition to the
  * session's core count; a production multi-file table takes the
  * no-shuffle path.
  *
  * Call it on the PROJECTED frame so the spread shuffle carries only
  * the needed columns. Value-safe wherever downstream results are
  * partition-independent (aggregates, keyed windows, joins).
  */
object Par {
  def spread(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.inputFiles.length * 2 < cores) df.repartition(cores) else df
  }

  /** Run two INDEPENDENT driver-side action chains concurrently (guide
    * §2.6: actions are only sequential because driver code calls them
    * sequentially). The composite index queries are driver-sequenced
    * chains of bounded jobs — an index build waiting on an unrelated
    * CC loop leaves the cluster idle; submitting both lets the second
    * chain's tasks back-fill the first's stragglers. `b` runs on a
    * fresh thread (Spark job-group/description properties are
    * inheritable), `a` on the caller's; exceptions from either
    * propagate after both finish. Use ONLY for chains with no data or
    * catalog dependency on each other — and never when either side
    * mutates a table the other reads (the writeBucketed swap contract).
    */
  def concurrently[A, B](a: => A, b: => B): (A, B) = {
    @volatile var bOut: Either[Throwable, B] = null
    val t = new Thread(() => {
      bOut = try Right(b) catch { case e: Throwable => Left(e) }
    }, "graft-par-concurrently")
    t.setDaemon(true)
    t.start()
    val aOut = try Right(a) catch { case e: Throwable => Left(e) }
    t.join()
    (aOut, bOut) match {
      case (Right(ra), Right(rb)) => (ra, rb)
      case (Left(ea), _)          => throw ea
      case (_, Left(eb))          => throw eb
    }
  }
}
