package graft

import graft.operators.{BucketOps, Ckpt, DedupOps, ExportOps, IncrementalDedupOps}
import org.apache.spark.sql.functions._

/** Failure-path contracts added in round 6 (advisor items): staged index
  * rebuilds, probe id-disjointness enforcement, and the permutation
  * input-materialization lever.
  */
class RobustnessSpec extends SparkSpec {
  import spark.implicits._

  test("writeBucketed: a failed rebuild keeps the previous table intact") {
    val v1 = (0L until 100L).map(i => (i, s"v1-$i")).toDF("k", "v")
    BucketOps.writeBucketed(v1, "rb_tbl", 4, Seq("k"), Seq("k"))
    assert(spark.table("rb_tbl").count() == 100)
    // a frame that fails mid-write: the staged rebuild must leave rb_tbl
    // serving the old generation, not dropped with nothing in its place
    val poison = (0L until 100L).toDF("k")
      .withColumn("v", when(col("k") < 50, concat(lit("v2-"), col("k")))
        .otherwise(raise_error(lit("synthetic write failure"))))
    intercept[Exception] {
      BucketOps.writeBucketed(poison, "rb_tbl", 4, Seq("k"), Seq("k"))
    }
    val survived = spark.table("rb_tbl")
    assert(survived.count() == 100, "old table must survive a failed rebuild")
    assert(survived.filter(col("v").startsWith("v1-")).count() == 100)
    // and a later successful rebuild still swaps cleanly
    val v2 = (0L until 60L).map(i => (i, s"v2-$i")).toDF("k", "v")
    BucketOps.writeBucketed(v2, "rb_tbl", 4, Seq("k"), Seq("k"))
    assert(spark.table("rb_tbl").count() == 60)
    BucketOps.dropTable(spark, "rb_tbl")
  }

  test("dropTable resolves a qualified db.tbl location instead of guessing <warehouse>/<name>") {
    spark.sql("CREATE DATABASE IF NOT EXISTS rbdb")
    try {
      val df = (0L until 10L).map(i => (i, s"x$i")).toDF("k", "v")
      BucketOps.writeBucketed(df, "rbdb.rb_q", 2, Seq("k"))
      assert(spark.table("rbdb.rb_q").count() == 10)
      // rebuild under the qualified name must not collide with the old dir
      BucketOps.writeBucketed(df, "rbdb.rb_q", 2, Seq("k"))
      assert(spark.table("rbdb.rb_q").count() == 10)
      BucketOps.dropTable(spark, "rbdb.rb_q")
      assert(!spark.catalog.tableExists("rbdb.rb_q"))
    } finally spark.sql("DROP DATABASE IF EXISTS rbdb CASCADE")
  }

  test("incremental probe rejects new-batch ids that already exist in the index") {
    val base = (0L until 50L).map(i => (i, s"alpha beta gamma tok$i delta")).toDF("doc_id", "text")
    def sh(df: org.apache.spark.sql.DataFrame) = DedupOps.shingleSets(df, "text", "doc_id", 2)
    val idx = IncrementalDedupOps.buildIndexOf(sh(base).transform(Ckpt.eagerCkpt), "rb_inc",
      numBuckets = 2, numBands = 4, rowsPerBand = 2)
    try {
      // id 7 is a "re-crawl": same id, changed text — must fail loudly
      val overlapping = Seq((7L, "completely different words now here"),
        (1000L, "alpha beta gamma tok1 delta")).toDF("doc_id", "text")
      val e = intercept[IllegalArgumentException] {
        IncrementalDedupOps.probeOf(sh(overlapping).transform(Ckpt.lazyCkpt), idx, threshold = 0.5,
          numBands = 4, rowsPerBand = 2).collect()
      }
      assert(e.getMessage.contains("already exist in index"))
      // disjoint batch passes the gate; opt-out restores the old behavior
      val disjoint = Seq((1000L, "alpha beta gamma tok1 delta")).toDF("doc_id", "text")
      assert(IncrementalDedupOps.probeOf(sh(disjoint).transform(Ckpt.lazyCkpt), idx, threshold = 0.5,
        numBands = 4, rowsPerBand = 2).count() > 0)
      assert(IncrementalDedupOps.probeOf(sh(overlapping).transform(Ckpt.lazyCkpt), idx, threshold = 0.5,
        numBands = 4, rowsPerBand = 2,
        enforceDisjointIds = false).count() >= 0)
    } finally {
      BucketOps.dropTable(spark, "rb_inc_bands")
      BucketOps.dropTable(spark, "rb_inc_sigs")
    }
  }

  test("data_entity_golden: a record with a null name still counts in n_records") {
    // a temp copy of sf0.001 customer with one name nulled; every record
    // (customer A plus the two dirty copies of k % 3 != 2) must land in
    // exactly one entity's member count
    val src = spark.read.parquet(s"${sys.props("user.home")}/testdata/sf0.001/customer.parquet")
    val victim = src.filter(col("c_custkey") % 3 === 0).agg(min("c_custkey")).head().getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft-entity-null").toString
    src.withColumn("c_name",
        when(col("c_custkey") === victim, lit(null).cast("string")).otherwise(col("c_name")))
      .write.parquet(s"$dir/customer.parquet")
    val records = src.count() + 2 * src.filter(col("c_custkey") % 3 =!= 2).count()
    val out = SparkEntry.queries("data_entity_golden")(spark, dir)
    assert(out.agg(sum("n_records")).head().getLong(0) == records)
    assert(out.filter(col("name").isNull).count() > 0, "the null-name record's entity is missing")
  }

  test("permutation materializeInput yields the same positions as the two-scan path") {
    val df = (0L until 200L).toDF("id")
    val plain = ExportOps.permutation(df, "id", seed = "11")
      .select("id", "pos").as[(Long, Long)].collect().toMap
    val pinned = ExportOps.permutation(df, "id", seed = "11", materializeInput = true)
      .select("id", "pos").as[(Long, Long)].collect().toMap
    assert(pinned == plain)
    // every position 1..n exactly once (offsets consistent across passes)
    assert(pinned.values.toSeq.sorted == (1L to 200L))
  }
}
