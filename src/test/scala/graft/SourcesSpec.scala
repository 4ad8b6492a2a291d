package graft

import graft.pipeline.Pipeline
import graft.sources.UnsupportedSourceInEnv

class SourcesSpec extends SparkSpec {

  private def tmp(name: String) = java.nio.file.Files.createTempDirectory(s"graft-$name").toString

  test("orc source/sink roundtrip via pipeline") {
    val dir = tmp("orc")
    val (w, _) = Pipeline.fromArgs(Seq(
      "--source", "values:///?header=a:int,b&values=1,x;2,y",
      "--sink", s"orc://$dir/t"))
    assert(w.run(spark))
    val (r, _) = Pipeline.fromArgs(Seq("--source", s"orc://$dir/t"))
    assert(r.resultView(spark, "source").orderBy("a").collect().map(_.getInt(0)).toSeq == Seq(1, 2))
  }

  test("jsonfile source/sink roundtrip via pipeline") {
    val dir = tmp("json")
    val (w, _) = Pipeline.fromArgs(Seq(
      "--source", "values:///?header=a:int,b&values=3,z",
      "--sink", s"jsonfile://$dir/t"))
    assert(w.run(spark))
    val (r, _) = Pipeline.fromArgs(Seq("--source", s"jsonfile://$dir/t"))
    val row = r.resultView(spark, "source").collect().head
    assert(row.getAs[Long]("a") == 3L && row.getAs[String]("b") == "z")
  }

  test("hive/table scheme reads and appends through the session catalog") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS graft_cat_t")
    // a previously killed JVM can leave the managed location behind
    val wh = new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:"), "graft_cat_t")
    if (wh.exists()) { def rm(f: java.io.File): Unit = { Option(f.listFiles).foreach(_.foreach(rm)); f.delete() }; rm(wh) }
    Seq((1, "a")).toDF("id", "v").write.saveAsTable("graft_cat_t")
    val (p, _) = Pipeline.fromArgs(Seq(
      "--source", "values:///?header=id:int,v&values=2,b",
      "--transform", "source+sink+identity:///",
      "--sink", "table:///graft_cat_t"))
    assert(p.run(spark))
    val (r, _) = Pipeline.fromArgs(Seq("--source", "table:///graft_cat_t"))
    assert(r.resultView(spark, "source").orderBy("id").collect().map(_.getInt(0)).toSeq == Seq(1, 2))
  }

  test("avro scheme degrades clearly without the spark-avro connector") {
    val dir = tmp("avro")
    val (p, _) = Pipeline.fromArgs(Seq("--source", s"avro://$dir/t"))
    // either the connector is present (fine) or we surface the clean error
    val ok =
      try { p.resultView(spark, "source"); true }
      catch {
        case _: UnsupportedSourceInEnv => true
        case e: Throwable => e.getMessage != null && e.getMessage.contains("PATH_NOT_FOUND")
      }
    assert(ok)
  }

  test("excel scheme raises UnsupportedSourceInEnv when the connector jar is absent") {
    assume(scala.util.Try(Class.forName("com.crealytics.spark.excel.DefaultSource")).isFailure,
      "the spark-excel connector is on this classpath")
    val (p, _) = Pipeline.fromArgs(Seq("--source", s"excel://${tmp("excel")}/t.xlsx"))
    val e = intercept[UnsupportedSourceInEnv](p.resultView(spark, "source"))
    assert(e.getMessage.contains("excel"))
  }

  test("malformed JSON: PERMISSIVE keeps rows with a corrupt-record column, FAILFAST throws") {
    val dir = java.nio.file.Files.createTempDirectory("graft-corrupt").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/data.json"),
      """{"id": 1, "v": "ok"}
        |{"id": oops not json
        |{"id": 3, "v": "fine"}
        |""".stripMargin)
    val schema = "id LONG, v STRING, _corrupt_record STRING"
    // Spark refuses to filter on the corrupt column straight off raw
    // files (SPARK-21610) — cache first, the documented workaround
    val permissive = spark.read.schema(schema)
      .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir).cache()
    try {
      val rows = permissive.collect()
      assert(rows.length == 3)
      assert(rows.count(r => !r.isNullAt(2)) == 1, "exactly one row is corrupt")
      assert(permissive.filter("_corrupt_record IS NULL").count() == 2)
    } finally permissive.unpersist()
    val failfast = spark.read.schema("id LONG, v STRING").option("mode", "FAILFAST").json(dir)
    intercept[org.apache.spark.SparkException] { failfast.collect() }
  }

  test("malformed CSV row: PERMISSIVE null-fills, DROPMALFORMED removes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-badcsv").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/data.csv"),
      "id,v\n1,alpha\nnot_a_number,beta\n3,gamma\n")
    val schema = "id LONG, v STRING"
    val permissive = spark.read.schema(schema).option("header", "true").csv(dir)
    assert(permissive.count() == 3 && permissive.filter("id IS NULL").count() == 1)
    val dropped = spark.read.schema(schema).option("header", "true")
      .option("mode", "DROPMALFORMED").csv(dir)
    assert(dropped.filter("id IS NOT NULL").count() == 2)
  }

  test("binary file scheme plans a binaryFile read") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bin")
    java.nio.file.Files.write(dir.resolve("x.bin"), Array[Byte](1, 2, 3))
    val (p, _) = Pipeline.fromArgs(Seq("--source", s"binary://$dir"))
    val row = p.resultView(spark, "source").select("length").collect().head
    assert(row.getLong(0) == 3L)
  }
}
