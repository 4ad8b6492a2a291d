package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketing helpers: pre-shuffle fact tables ONCE at write time so every
  * later equi-join / aggregation on the bucket key is shuffle-free.
  *
  * The 100 TB rationale: a fact table that is joined on the same key by
  * many downstream queries pays one write-time shuffle instead of one per
  * query. Two tables bucketed into the same bucket count on the same key
  * join with NO Exchange on either side (Spark picks SortMergeJoin over
  * co-located buckets); a groupBy on the bucket key likewise skips its
  * Exchange. Bucket count should target the per-task data a cluster
  * executor can sort in memory (e.g. 100 TB / 2048 buckets ≈ 50 GB — too
  * big; 16k buckets ≈ 6 GB — right order for 8-16 GB executors).
  *
  * Bucketed tables require the session catalog (`saveAsTable`): files are
  * laid out per bucket and the bucket spec lives in the table metadata.
  */
object BucketOps {

  /** Write `df` as a catalog table bucketed (and sorted) by `keys` into
    * `numBuckets` buckets. Sorting within buckets makes the later
    * SortMergeJoin skip its per-task sort too.
    *
    * The write first shuffles onto the bucket hash so each bucket is
    * written by exactly ONE task → one file per bucket. Without it a
    * bucketed write emits up to tasks×buckets files (100k tasks × 16k
    * buckets at 100 TB is a catastrophic small-file explosion, and every
    * reader pays the listing). The shuffle is the one-time write cost
    * bucketing exists to amortize.
    *
    * The rebuild is STAGED: data lands in `<table>__staging` first, and
    * only after that write succeeds is the old table dropped and the
    * staging table renamed into place — a failed rebuild leaves the
    * previous table intact instead of destroying an index with nothing
    * to replace it (the rename window is short; it is not a
    * transaction). The evaluation of `df` must not itself read `table`,
    * or stage-then-swap would deadlock on the catalog — read the old
    * generation into a checkpoint first if rewriting an index in place.
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      numBuckets: Int,
      keys: Seq[String],
      sortKeys: Seq[String] = Nil
  ): Unit = {
    val spark = df.sparkSession
    val staging = s"${table}__staging"
    dropTable(spark, staging)
    val w0 = df.repartition(numBuckets, keys.map(df(_)): _*)
      .write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
    val w = if (sortKeys.nonEmpty) w0.sortBy(sortKeys.head, sortKeys.tail: _*) else w0
    w.saveAsTable(staging)
    dropTable(spark, table)
    spark.sql(s"ALTER TABLE ${quoted(staging)} RENAME TO ${quoted(table)}")
  }

  /** Append to an existing bucketed table with a MATCHING bucket spec:
    * new files land inside each bucket (Spark unions a bucket's files
    * into one scan partition, so later joins on the bucket key still
    * plan with no Exchange; the per-bucket sorted-scan guarantee holds
    * per file, so a join may re-sort in place — no shuffle either way).
    * A mismatched spec is REJECTED up front (explicit catalog check, not
    * just Spark's own analysis error): mixing bucket counts in one table
    * would silently break the Exchange-free probe every later reader
    * relies on — the failure must be loud and immediate.
    */
  def appendBucketed(
      df: DataFrame,
      table: String,
      numBuckets: Int,
      keys: Seq[String],
      sortKeys: Seq[String] = Nil
  ): Unit = {
    val spark = df.sparkSession
    if (spark.catalog.tableExists(table)) {
      val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
      spark.sessionState.catalog.getTableMetadata(ident).bucketSpec.foreach { spec =>
        require(
          spec.numBuckets == numBuckets && spec.bucketColumnNames == keys,
          s"appendBucketed: bucket spec mismatch for $table — existing " +
            s"${spec.numBuckets} buckets on (${spec.bucketColumnNames.mkString(",")}), " +
            s"append requested $numBuckets on (${keys.mkString(",")}); a mixed spec " +
            "would silently lose the co-located layout")
      }
    }
    val w0 = df.repartition(numBuckets, keys.map(df(_)): _*)
      .write.mode(SaveMode.Append).format("parquet")
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
    val w = if (sortKeys.nonEmpty) w0.sortBy(sortKeys.head, sortKeys.tail: _*) else w0
    w.saveAsTable(table)
  }

  /** `db.tbl` → `` `db`.`tbl` `` — backticking the whole string would
    * turn a qualified name into one illegal identifier. */
  private def quoted(table: String): String =
    table.split('.').map(p => s"`$p`").mkString(".")

  /** Drop `table` AND clear whatever directory could block a rebuild:
    *  - the table's REAL location, resolved from the catalog while the
    *    metadata still exists (a qualified `db.tbl` lives at
    *    `<warehouse>/db.db/tbl`, and a custom LOCATION lives wherever it
    *    was declared — guessing `<warehouse>/<name>` deletes the wrong
    *    dir for both). Only deleted when under the warehouse: external
    *    custom-location data is the user's, not this helper's.
    *  - the DEFAULT managed location for the name, even when the
    *    catalog has no entry: the dir survives the JVM while an
    *    in-memory catalog entry does not, and saveAsTable refuses to
    *    reuse the location even in Overwrite mode
    *    (LOCATION_ALREADY_EXISTS).
    */
  def dropTable(spark: SparkSession, table: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val wh = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
    val whFs = wh.getFileSystem(conf)
    val whQual = whFs.makeQualified(wh).toString
    val resolved: Option[org.apache.hadoop.fs.Path] =
      if (spark.catalog.tableExists(table)) {
        val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
        Option(spark.sessionState.catalog.getTableMetadata(ident).location)
          .map(u => new org.apache.hadoop.fs.Path(u))
      } else None
    spark.sql(s"DROP TABLE IF EXISTS ${quoted(table)}")
    val parts = table.split('.').map(_.toLowerCase(java.util.Locale.ROOT))
    val default = parts match {
      case Array(db, t) if db != "default" =>
        new org.apache.hadoop.fs.Path(wh, s"$db.db/$t")
      case _ => new org.apache.hadoop.fs.Path(wh, parts.last)
    }
    val targets = (resolved.toSeq :+ default).distinct
      .filter(p => whFs.makeQualified(p).toString.startsWith(whQual))
    targets.foreach { loc =>
      val fs = loc.getFileSystem(conf)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
  }

  /** Join two same-bucketed catalog tables on their bucket key — with
    * matching bucket specs this plans with zero Exchange operators.
    */
  def bucketedJoin(
      spark: SparkSession,
      leftTable: String,
      rightTable: String,
      keys: Seq[String],
      joinType: String = "inner"
  ): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), keys, joinType)

  /** Number of Exchange (shuffle) operators in the executed plan — the
    * metric bucket-aware plans are graded on.
    */
  def countExchanges(df: DataFrame): Int =
    df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.size
}
