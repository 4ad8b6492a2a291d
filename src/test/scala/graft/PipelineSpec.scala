package graft

import graft.pipeline.{Pipeline, Uris}
import graft.sources.{Serde, SourceRegistry, UnsupportedSourceInEnv}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

class UrisSpec extends SparkSpec {
  test("scheme+name splitting matches reference CLI semantics") {
    val (name, uri) = Uris.sourceOrSinkUri("employees+kafka-stream://broker:9092/topic?serde=json", "source")
    assert(name == "employees")
    assert(uri.scheme == "kafka-stream")
    assert(uri.host.contains("broker") && uri.port == 9092)
    assert(uri.pathParts == Seq("topic"))
    assert(uri.queryParams == Map("serde" -> "json"))
  }

  test("default names and dash normalization") {
    val (n1, _) = Uris.sourceOrSinkUri("parquet:///tmp/x", "source")
    assert(n1 == "source")
    val (n2, _) = Uris.sourceOrSinkUri("my-df+console://x", "sink")
    assert(n2 == "my_df")
    val (in, out, u) = Uris.transformUri("a+b+sql:///SELECT%201")
    assert(in == "a" && out == "b" && u.scheme == "sql")
    val (in2, out2, _) = Uris.transformUri("only+identity:///")
    assert(in2 == "only" && out2 == "sink")
    val (in3, out3, _) = Uris.transformUri("identity:///")
    assert(in3 == "source" && out3 == "sink")
  }

  test("unknown scheme raises with the supported list") {
    val ex = intercept[IllegalArgumentException] {
      SourceRegistry.forUri(Uris.ParsedUri(java.net.URI.create("nope://x")))
    }
    assert(ex.getMessage.contains("nope"))
  }
}

class PipelineSpec extends SparkSpec {
  test("values source → sql transform → named view") {
    val (p, _) = Pipeline.fromArgs(Seq(
      "--source", "values:///?header=a:int,b&values=1,x;2,y;3,x",
      "--transform",
      "sql:///" + java.net.URLEncoder.encode("SELECT b, SUM(a) AS s FROM source GROUP BY b ORDER BY b", "UTF-8")))
    val rows = p.resultView(spark, "sink").collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("x", 4L), ("y", 2L)))
  }

  test("typed values header: int, long, double, boolean") {
    val (p, _) = Pipeline.fromArgs(Seq(
      "--source", "t+values:///?header=i:int,l:long,d:double,f:boolean,s&values=1,2,1.5,true,z"))
    val row = p.resultView(spark, "t").collect().head
    assert(row.getInt(0) == 1 && row.getLong(1) == 2L && row.getDouble(2) == 1.5 &&
      row.getBoolean(3) && row.getString(4) == "z")
  }

  test("implicit source→sink identity when no transforms (reference ETL.run)") {
    val (p, _) = Pipeline.fromArgs(Seq("--source", "values:///?header=a:int&values=7"))
    assert(p.resultView(spark, "sink").collect().map(_.getInt(0)).toSeq == Seq(7))
  }

  test("curation transformer schemes: dedup -> quality -> split -> chunk as URI steps") {
    val values = (1 to 30)
      .map(i => s"$i,common%20words%20here%20plus%20token$i").mkString(";")
    val (p, _) = Pipeline.fromArgs(Seq(
      "--source", s"d+values:///?header=id:int,text&values=$values",
      "--transform", "d+dd+dedup:///?method=exact&text=text&id=id",
      "--transform", "dd+q+quality:///?text=text",
      "--transform", "q+sp+split:///?id=id",
      "--transform", "sp+out+chunk:///?text=text&id=id&size=4&overlap=1"))
    val out = p.resultView(spark, "out")
    assert(out.columns.toSeq == Seq("id", "chunk_idx", "chunk_text", "n_tokens"))
    assert(out.count() > 30) // 5-token docs chunked at size 4 stride 3 → 2 chunks each
    // intermediate views registered and enriched
    val q = spark.table("q")
    assert(q.columns.contains("quality") && q.columns.contains("lang"))
    val sp = spark.table("sp")
    assert(sp.select("split").distinct().collect().map(_.getString(0)).toSet.subsetOf(Set("train", "val", "test")))
  }

  test("dedup:///?method=exact drops byte-identical duplicate rows") {
    val (p, _) = Pipeline.fromArgs(Seq(
      "--source", "values:///?header=id:int,text&values=1,same%20text;2,same%20text;3,other",
      "--transform", "dedup:///?method=exact&text=text&id=id"))
    val rows = p.resultView(spark, "sink").orderBy("id").collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 3))
  }

  test("dedup:///?method=winnow drops docs sharing a long passage, keeps min id") {
    // docs 1 and 2 share a 7-token run (≥ w+k−1 → guaranteed link);
    // doc 3 shares nothing. Cluster {1,2} keeps min id 1.
    val run = "one two three four five six seven"
    val rows = Seq(
      s"1,$run eight nine",
      s"2,zero $run",
      "3,alpha beta gamma delta epsilon zeta eta")
    val (p, _) = Pipeline.fromArgs(Seq(
      "--source", "values:///?header=id:int,text&values=" +
        rows.mkString(";").replace(" ", "%20"),
      "--transform", "dedup:///?method=winnow&text=text&id=id&shared=1"))
    val out = p.resultView(spark, "sink").orderBy("id").collect()
    assert(out.map(_.getInt(0)).toSeq == Seq(1, 3))
  }

  test("dedup:///?method=winnow&evidence=true reports the shared-passage evidence instead of dropping") {
    // same corpus as the drop test: the report must name pair (1,2)
    // with a span covering the 7-token shared run, and doc 3 nowhere
    val run = "one two three four five six seven"
    val rows = Seq(
      s"1,$run eight nine",
      s"2,zero $run",
      "3,alpha beta gamma delta epsilon zeta eta")
    val (p, _) = Pipeline.fromArgs(Seq(
      "--source", "values:///?header=id:int,text&values=" +
        rows.mkString(";").replace(" ", "%20"),
      "--transform", "dedup:///?method=winnow&text=text&id=id&shared=1&evidence=true"))
    val out = p.resultView(spark, "sink").collect()
    assert(out.length == 1, out.mkString(";"))
    val r = out(0)
    assert(r.getAs[Int]("a_id") == 1 && r.getAs[Int]("b_id") == 2)
    // the shared run is 7 tokens; winnowing selects ≥ 1 gram inside it
    // on a constant diagonal, so the evidence span is 4..7 tokens
    val span = r.getAs[Long]("span_tokens")
    assert(span >= 4L && span <= 7L, s"span=$span")
    // evidence composes with index= only as an error, never silently
    val (pBad, _) = Pipeline.fromArgs(Seq(
      "--source", "values:///?header=id:int,text&values=" +
        rows.mkString(";").replace(" ", "%20"),
      "--transform", "dedup:///?method=winnow&text=text&id=id&evidence=true&index=graft_r12_wevx"))
    val ex = intercept[IllegalArgumentException] { pBad.resultView(spark, "sink").collect() }
    assert(ex.getMessage.contains("evidence"))
  }

  test("report:///?kind=profile and kind=skew expose audit reports as pipeline steps") {
    val values = "1,en,alpha;2,en,beta;3,de,gamma;4,,delta"
    val (p, _) = Pipeline.fromArgs(Seq(
      "--source", s"values:///?header=id:int,lang,text&values=$values",
      "--transform", "report:///?kind=profile"))
    val prof = p.resultView(spark, "sink").collect()
      .map(r => r.getAs[String]("column") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("n_nulls"), r.getAs[Long]("n_distinct"))).toMap
    assert(prof("id") == ((4L, 0L, 4L)))
    // the values source parses an empty field as '' (not NULL) — the
    // profiler counts it as a distinct value, nulls stay 0
    assert(prof("lang") == ((4L, 0L, 3L)), prof.toString)
    // numeric min/max only for numeric columns
    val idRow = p.resultView(spark, "sink").filter(org.apache.spark.sql.functions.col("column") === "id").collect()(0)
    assert(idRow.getAs[Double]("min_num") == 1.0 && idRow.getAs[Double]("max_num") == 4.0)
    val langRow = p.resultView(spark, "sink").filter(org.apache.spark.sql.functions.col("column") === "lang").collect()(0)
    assert(langRow.isNullAt(langRow.fieldIndex("min_num")))
    // skew: key shares in ppm, heaviest first
    val (p2, _) = Pipeline.fromArgs(Seq(
      "--source", s"values:///?header=id:int,lang,text&values=$values",
      "--transform", "report:///?kind=skew&key=lang"))
    val skew = p2.resultView(spark, "sink").collect()
    assert(skew.head.getAs[Long]("n") == 2L && skew.head.getAs[Long]("share_ppm") == 500000L)
  }

  test("dedup:///?method=incremental probes and maintains a persisted index across runs") {
    def enc(s: String) = s.replace(" ", "%20")
    val t1 = "alpha beta gamma delta epsilon zeta eta theta"
    val t2 = "one two three four five six seven eight"
    val uniq = Seq(
      "red orange yellow green blue indigo violet",
      "cat dog bird fish horse goat sheep cow",
      "north south east west up down left right",
      "spark scala parquet shuffle codegen catalyst tungsten")
    val pfx = "graft_r9_pipedd"
    graft.operators.BucketOps.dropTable(spark, s"${pfx}_bands")
    graft.operators.BucketOps.dropTable(spark, s"${pfx}_sigs")
    // day 1: 27,28 duplicate 21,22 → within-batch keep-min, index built
    val day1 = Seq(21 -> t1, 22 -> t2) ++ uniq.zipWithIndex.map { case (t, i) => (23 + i) -> t } ++
      Seq(27 -> t1, 28 -> t2)
    val v1 = day1.map { case (i, t) => s"$i,${enc(t)}" }.mkString(";")
    val (p1, _) = Pipeline.fromArgs(Seq(
      "--source", s"values:///?header=id:int,text&values=$v1",
      "--transform", s"dedup:///?method=incremental&text=text&id=id&index=$pfx&threshold=0.8"))
    val kept1 = p1.resultView(spark, "sink").select("id").collect().map(_.getInt(0)).toSet
    assert(kept1 == Set(21, 22, 23, 24, 25, 26), s"day-1 bootstrap keep-min: $kept1")
    // day 2: 11 duplicates INDEXED doc 21 — base must win although
    // 11 < 21 (the cross-pair drop is side-aware, not id-ordered);
    // 13,14 duplicate each other within the batch → keep-min drops 14
    val day2 = Seq(
      11 -> t1,
      12 -> "totally fresh words appear now here today",
      13 -> "mango papaya guava lychee durian rambutan",
      14 -> "mango papaya guava lychee durian rambutan")
    val v2 = day2.map { case (i, t) => s"$i,${enc(t)}" }.mkString(";")
    val (p2, _) = Pipeline.fromArgs(Seq(
      "--source", s"values:///?header=id:int,text&values=$v2",
      "--transform", s"dedup:///?method=incremental&text=text&id=id&index=$pfx&threshold=0.8"))
    val kept2 = p2.resultView(spark, "sink").select("id").collect().map(_.getInt(0)).toSet
    assert(kept2 == Set(12, 13), s"day-2 incremental: $kept2")
    // the index folded in both days' survivors for tomorrow's run
    val indexed = spark.table(s"${pfx}_sigs").select("id").collect().map(_.getInt(0)).toSet
    assert(indexed == Set(21, 22, 23, 24, 25, 26, 12, 13), s"index ids: $indexed")
    // read-only probe: update=false must not grow the index
    val (p3, _) = Pipeline.fromArgs(Seq(
      "--source", "values:///?header=id:int,text&values=31,brand%20new%20unseen%20sentence%20entirely",
      "--transform", s"dedup:///?method=incremental&text=text&id=id&index=$pfx&update=false"))
    assert(p3.resultView(spark, "sink").count() == 1)
    assert(spark.table(s"${pfx}_sigs").count() == 8, "update=false must leave the index untouched")
  }

  test("dedup:///?method=winnow&index= maintains a persisted fingerprint index") {
    def enc(s: String) = s.replace(" ", "%20")
    val run = "one two three four five six seven eight nine"
    val pfx = "graft_r10_pipewin"
    graft.operators.BucketOps.dropTable(spark, s"${pfx}_fps")
    // day 1: 2 shares the run with 1 → keep-min drops 2; 3 unique
    val day1 = Seq(1 -> s"$run tail words here",
      2 -> s"lead in $run", 3 -> "alpha beta gamma delta epsilon zeta eta")
    val (p1, _) = Pipeline.fromArgs(Seq(
      "--source", "values:///?header=id:int,text&values=" +
        day1.map { case (i, t) => s"$i,${enc(t)}" }.mkString(";"),
      "--transform", s"dedup:///?method=winnow&text=text&id=id&shared=1&index=$pfx"))
    assert(p1.resultView(spark, "sink").collect().map(_.getInt(0)).toSet == Set(1, 3))
    // day 2: 11 embeds the INDEXED run (index wins though 11 < 1's id
    // ordering is irrelevant across the boundary); 12 fresh → kept +
    // folded in
    val day2 = Seq(11 -> s"closing $run again",
      12 -> "totally fresh words appear now here today")
    val (p2, _) = Pipeline.fromArgs(Seq(
      "--source", "values:///?header=id:int,text&values=" +
        day2.map { case (i, t) => s"$i,${enc(t)}" }.mkString(";"),
      "--transform", s"dedup:///?method=winnow&text=text&id=id&shared=1&index=$pfx"))
    assert(p2.resultView(spark, "sink").collect().map(_.getInt(0)).toSet == Set(12))
    // day 3: a dup of day-2 survivor 12 is caught; update=false frozen
    val n0 = spark.table(s"${pfx}_fps").count()
    val (p3, _) = Pipeline.fromArgs(Seq(
      "--source", "values:///?header=id:int,text&values=21," +
        enc("totally fresh words appear now here today extended"),
      "--transform", s"dedup:///?method=winnow&text=text&id=id&shared=1&index=$pfx&update=false"))
    assert(p3.resultView(spark, "sink").isEmpty)
    assert(spark.table(s"${pfx}_fps").count() == n0, "update=false must not grow the index")
  }

  test("dedup:///?method=winnow&index= fingerprints and method=incremental shingles a batch once; " +
    "CLI survivors equal dedup_winnow_incremental's") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, Md5}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val sf = s"${sys.props("user.home")}/testdata/sf0.001"
    // a session of its own: its listener sees only the executions this test starts
    val s = spark.newSession()
    // plan counts: the optimized-plan nodes that derive fingerprints (md5
    // of a gram) and shingle sets, summed over every SQL execution of one
    // CLI run (pins, probes, index writes, the result)
    val fingerprints, shingleSets = new java.util.concurrent.atomic.AtomicInteger(0)
    def nodes(qe: QueryExecution, marker: Expression => Boolean): Int =
      qe.optimizedPlan.collectWithSubqueries { case n if n.expressions.exists(_.exists(marker)) => n }.size
    s.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        fingerprints.addAndGet(nodes(qe, _.isInstanceOf[Md5]))
        shingleSets.addAndGet(nodes(qe, _.isInstanceOf[graft.functions.HashedShingles]))
      }
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    val counter = new RunOne.JobCounter(s.sparkContext)
    def run(split: String, dedup: String): (Set[Long], Int, Int) = {
      fingerprints.set(0)
      shingleSets.set(0)
      val (p, _) = Pipeline.fromArgs(Seq(
        "--source", s"parquet://$sf/documents.parquet",
        "--transform", "source+batch+sql:///" + java.net.URLEncoder.encode(
          s"SELECT doc_id, text FROM source WHERE $split", "UTF-8"),
        "--transform", s"batch+sink+dedup:///?$dedup"))
      // the barrier job of JobCounter.measure passes the listener bus after
      // every execution end of the run
      val (kept, _) = counter.measure(
        p.resultView(s, "sink").select("doc_id").collect().map(_.getLong(0)).toSet)
      (kept, fingerprints.get, shingleSets.get)
    }
    val winnow = "method=winnow&text=text&id=doc_id&index=graft_r16_pipewin_once"
    val minhash = "method=incremental&text=text&id=doc_id&index=graft_r16_pipemh_once"
    graft.operators.BucketOps.dropTable(s, "graft_r16_pipewin_once_fps")
    Seq("_bands", "_sigs").foreach(t => graft.operators.BucketOps.dropTable(s, s"graft_r16_pipemh_once$t"))
    val (_, wBoot, _) = run("mod(doc_id, 3) <> 0", winnow)
    val (cliSurvivors, wDelta, _) = run("mod(doc_id, 3) = 0", winnow)
    assert(wBoot == 1 && wDelta == 1, s"fingerprint derivations: bootstrap $wBoot, delta $wDelta")
    val (_, _, mBoot) = run("mod(doc_id, 3) <> 0", minhash)
    val (_, _, mDelta) = run("mod(doc_id, 3) = 0", minhash)
    assert(mBoot == 1 && mDelta == 1, s"shingle-set derivations: bootstrap $mBoot, delta $mDelta")
    val survived = SparkEntry.queries("dedup_winnow_incremental")(s, sf)
      .filter("verdict = 'survived'")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(cliSurvivors == survived,
      s"CLI-only ${cliSurvivors -- survived}, query-only ${survived -- cliSurvivors}")
  }

  // values:// carries only scalars, so the vector tests assemble the
  // embedding column with an inline sql:// step — itself an e2e check
  // that array columns flow through the URI pipeline.
  private def vecSql(dims: Seq[String]) =
    "sql:///" + java.net.URLEncoder.encode(
      s"SELECT id, array(${dims.mkString(", ")}) AS vec FROM source", "UTF-8")

  test("dedup:///?method=semantic prunes embedding near-dups through the URI step") {
    // three axes + a 0.05-perturbed near-copy of two of them
    // (cosine ≈ 0.99875 ≥ τ=0.99); id 3 has no dup
    val values = Seq(
      "1,1.0,0.0,0.0", "2,0.0,1.0,0.0", "3,0.0,0.0,1.0",
      "11,1.0,0.05,0.0", "12,0.05,1.0,0.0").mkString(";")
    val (p, _) = Pipeline.fromArgs(Seq(
      "--source", s"values:///?header=id:int,x:double,y:double,z:double&values=$values",
      "--transform", "source+v+" + vecSql(Seq("x", "y", "z")),
      "--transform", "v+out+dedup:///?method=semantic&id=id&vec=vec&cells=1&tau=0.99"))
    val kept = p.resultView(spark, "out").select("id").collect().map(_.getInt(0)).toSet
    assert(kept.size == 3, s"one of each dup pair + the unique: $kept")
    assert(kept.contains(3))
    assert(kept.intersect(Set(1, 11)).size == 1 && kept.intersect(Set(2, 12)).size == 1)
    // survivors keep their ORIGINAL columns (semi-join passthrough)
    assert(p.resultView(spark, "out").columns.toSeq == Seq("id", "vec"))
  }

  test("dedup:///?method=semantic&index= bootstraps and probes a persisted index") {
    val pfx = "graft_r10_pipesem"
    graft.operators.BucketOps.dropTable(spark, s"${pfx}_cells")
    graft.operators.BucketOps.dropTable(spark, s"${pfx}_centroids")
    val hdr = "header=id:int,x:double,y:double,z:double"
    // day 1: two axes, no dups — index bootstraps with both
    val (p1, _) = Pipeline.fromArgs(Seq(
      "--source", s"values:///?$hdr&values=1,1.0,0.0,0.0;2,0.0,1.0,0.0",
      "--transform", "source+v+" + vecSql(Seq("x", "y", "z")),
      "--transform", s"v+out+dedup:///?method=semantic&id=id&vec=vec&cells=1&tau=0.99&index=$pfx"))
    assert(p1.resultView(spark, "out").collect().map(_.getInt(0)).toSet == Set(1, 2))
    // day 2: 11 duplicates INDEXED 1 (dropped_index); 13 is fresh →
    // survives and (update=true default) folds into the index
    val (p2, _) = Pipeline.fromArgs(Seq(
      "--source", s"values:///?$hdr&values=11,1.0,0.05,0.0;13,0.0,0.0,1.0",
      "--transform", "source+v+" + vecSql(Seq("x", "y", "z")),
      "--transform", s"v+out+dedup:///?method=semantic&id=id&vec=vec&cells=1&tau=0.99&index=$pfx"))
    assert(p2.resultView(spark, "out").collect().map(_.getInt(0)).toSet == Set(13))
    val indexed = spark.table(s"${pfx}_cells").select("id").collect().map(_.getInt(0)).toSet
    assert(indexed == Set(1, 2, 13), s"index after day 2: $indexed")
    // day 3: a dup of day-2 survivor 13 is caught by the appended index
    val (p3, _) = Pipeline.fromArgs(Seq(
      "--source", s"values:///?$hdr&values=23,0.0,0.05,1.0",
      "--transform", "source+v+" + vecSql(Seq("x", "y", "z")),
      "--transform", s"v+out+dedup:///?method=semantic&id=id&vec=vec&cells=1&tau=0.99&index=$pfx&update=false"))
    assert(p3.resultView(spark, "out").isEmpty)
    assert(spark.table(s"${pfx}_cells").count() == 3, "update=false must not grow the index")
  }

  test("dedup semantic probe: URI tau/cells conflicting with the persisted index fail loudly") {
    val pfx = "graft_r12_pipesem_meta"
    Seq("_cells", "_centroids", "_meta").foreach(s =>
      graft.operators.BucketOps.dropTable(spark, s"$pfx$s"))
    val hdr = "header=id:int,x:double,y:double,z:double"
    val (p1, _) = Pipeline.fromArgs(Seq(
      "--source", s"values:///?$hdr&values=1,1.0,0.0,0.0;2,0.0,1.0,0.0",
      "--transform", "source+v+" + vecSql(Seq("x", "y", "z")),
      "--transform", s"v+out+dedup:///?method=semantic&id=id&vec=vec&cells=1&tau=0.99&index=$pfx"))
    assert(p1.resultView(spark, "out").collect().map(_.getInt(0)).toSet == Set(1, 2))
    // a later run with a CONFLICTING tau must error, never silently
    // prune at the wrong threshold (round-11 verdict item 3)
    val (pBad, _) = Pipeline.fromArgs(Seq(
      "--source", s"values:///?$hdr&values=11,1.0,0.05,0.0",
      "--transform", "source+v+" + vecSql(Seq("x", "y", "z")),
      "--transform", s"v+out+dedup:///?method=semantic&id=id&vec=vec&cells=1&tau=0.9&index=$pfx"))
    val ex = intercept[IllegalArgumentException] {
      pBad.resultView(spark, "out").collect()
    }
    assert(ex.getMessage.contains("tau"), s"message names the conflict: ${ex.getMessage}")
    // conflicting cells likewise
    val (pBad2, _) = Pipeline.fromArgs(Seq(
      "--source", s"values:///?$hdr&values=11,1.0,0.05,0.0",
      "--transform", "source+v+" + vecSql(Seq("x", "y", "z")),
      "--transform", s"v+out+dedup:///?method=semantic&id=id&vec=vec&cells=7&tau=0.99&index=$pfx"))
    val ex2 = intercept[IllegalArgumentException] {
      pBad2.resultView(spark, "out").collect()
    }
    assert(ex2.getMessage.contains("cells"), s"message names the conflict: ${ex2.getMessage}")
    // OMITTED params inherit the persisted geometry (safe, not an error)
    val (pOk, _) = Pipeline.fromArgs(Seq(
      "--source", s"values:///?$hdr&values=11,1.0,0.05,0.0;13,0.0,0.0,1.0",
      "--transform", "source+v+" + vecSql(Seq("x", "y", "z")),
      "--transform", s"v+out+dedup:///?method=semantic&id=id&vec=vec&index=$pfx&update=false"))
    assert(pOk.resultView(spark, "out").collect().map(_.getInt(0)).toSet == Set(13),
      "omitted tau/cells must probe at the index's persisted geometry")
  }

  test("ann:///<prefix> builds, probes, and appends a persisted IVF index as URI steps") {
    val pfx = "graft_r10_pipeann"
    graft.operators.BucketOps.dropTable(spark, s"${pfx}_cells")
    graft.operators.BucketOps.dropTable(spark, s"${pfx}_centroids")
    val hdr = "header=id:int,x:double,y:double&values="
    // corpus: two tight groups around e1 and e2 — first run bootstraps
    val corpus = "1,1.0,0.0;2,0.95,0.05;3,0.0,1.0;4,0.05,0.95"
    val (pb, _) = Pipeline.fromArgs(Seq(
      "--source", s"values:///?$hdr$corpus",
      "--transform", "source+v+" + vecSql(Seq("x", "y")),
      "--transform", s"v+out+ann:///$pfx?cells=2&buckets=2&id=id&vec=vec"))
    // build mode passes the corpus through unchanged
    assert(pb.resultView(spark, "out").count() == 4)
    assert(spark.table(s"${pfx}_centroids").count() == 2)
    // probe: the query near e1 must rank its tight neighbors first;
    // nprobe=2 probes every cell → exact top-k
    val (pq, _) = Pipeline.fromArgs(Seq(
      "--source", s"values:///?${hdr}100,1.0,0.02",
      "--transform", "source+v+" + vecSql(Seq("x", "y")),
      "--transform", s"v+out+ann:///$pfx?k=2&nprobe=2&id=id&vec=vec"))
    val top = pq.resultView(spark, "out").orderBy("rank").collect()
    assert(top.map(_.getAs[Int]("neighbor_id")).toSeq == Seq(1, 2), s"got ${top.toSeq}")
    assert(top.head.getAs[Int]("rank") == 1)
    // append a new generation, then probe finds it at rank 1
    val (pa, _) = Pipeline.fromArgs(Seq(
      "--source", s"values:///?${hdr}5,1.0,0.02",
      "--transform", "source+v+" + vecSql(Seq("x", "y")),
      "--transform", s"v+out+ann:///$pfx?mode=append&buckets=2&id=id&vec=vec"))
    assert(pa.resultView(spark, "out").count() == 1)
    val (pq2, _) = Pipeline.fromArgs(Seq(
      "--source", s"values:///?${hdr}100,1.0,0.02",
      "--transform", "source+v+" + vecSql(Seq("x", "y")),
      "--transform", s"v+out+ann:///$pfx?k=1&nprobe=2&id=id&vec=vec"))
    assert(pq2.resultView(spark, "out").head().getAs[Int]("neighbor_id") == 5)
  }

  test("ann:///<prefix>?mode=rerank runs MMR diversity re-ranking over the index pool") {
    val pfx = "graft_r11_pipemmr"
    graft.operators.BucketOps.dropTable(spark, s"${pfx}_cells")
    graft.operators.BucketOps.dropTable(spark, s"${pfx}_centroids")
    val hdr = "header=id:int,x:double,y:double&values="
    // 1 = e1; 2 = near-copy of 1; 3 = e2 (orthogonal); 4 = mix
    val corpus = "1,1.0,0.0;2,0.95,0.05;3,0.0,1.0;4,0.6,0.6"
    val (pb, _) = Pipeline.fromArgs(Seq(
      "--source", s"values:///?$hdr$corpus",
      "--transform", "source+v+" + vecSql(Seq("x", "y")),
      "--transform", s"v+out+ann:///$pfx?cells=1&buckets=2&id=id&vec=vec"))
    assert(pb.resultView(spark, "out").count() == 4)
    // rerank a query near e1: pool = all 4 (one cell), select 3 at
    // λ=0.3 — diversity defers the near-copy (2) out of the top-3
    val (pr, _) = Pipeline.fromArgs(Seq(
      "--source", s"values:///?${hdr}100,1.0,0.02",
      "--transform", "source+v+" + vecSql(Seq("x", "y")),
      "--transform", s"v+out+ann:///$pfx?mode=rerank&pool=4&k=3&lambda=0.3&nprobe=1&id=id&vec=vec"))
    val got = pr.resultView(spark, "out").orderBy("mmr_rank").collect()
    assert(got.map(_.getAs[Int]("mmr_rank")).toSeq == Seq(1, 2, 3))
    assert(got(0).getAs[Long]("neighbor_id") == 1L, "rank 1 = max relevance")
    assert(got.map(_.getAs[Long]("neighbor_id")).toSet == Set(1L, 3L, 4L),
      "the near-copy of 1 must be deferred by the diversity term")
    // relevance carries the probe's cosine; mmr_score ≤ relevance
    assert(got.forall(r => r.getAs[Double]("mmr_score") <= r.getAs[Double]("relevance") + 1e-12))
  }

  test("ann:///<prefix>?kind=pq builds, probes, and appends a persisted IVF-PQ index") {
    val pfx = "graft_r11_pipepq"
    for (s <- Seq("_cells", "_centroids", "_codebook"))
      graft.operators.BucketOps.dropTable(spark, s"$pfx$s")
    val hdr = "header=id:int,x:double,y:double&values="
    // 6 corpus rows in two tight groups (codebook needs ≥ codes rows)
    val corpus = "1,1.0,0.0;2,0.95,0.05;3,0.9,0.02;4,0.0,1.0;5,0.05,0.95;6,0.02,0.9"
    val (pb, _) = Pipeline.fromArgs(Seq(
      "--source", s"values:///?$hdr$corpus",
      "--transform", "source+v+" + vecSql(Seq("x", "y")),
      "--transform", s"v+out+ann:///$pfx?kind=pq&cells=2&buckets=2&subspaces=2&codes=4&id=id&vec=vec"))
    assert(pb.resultView(spark, "out").count() == 6) // build passes through
    assert(spark.table(s"${pfx}_codebook").count() == 1)
    assert(spark.table(s"${pfx}_cells").columns.contains("codes"))
    // probe: near-e1 query ranks the e1 group first (nprobe=2 = every cell)
    val (pq, _) = Pipeline.fromArgs(Seq(
      "--source", s"values:///?${hdr}100,1.0,0.01",
      "--transform", "source+v+" + vecSql(Seq("x", "y")),
      "--transform", s"v+out+ann:///$pfx?kind=pq&k=2&nprobe=2&ncandidates=6&id=id&vec=vec"))
    val top = pq.resultView(spark, "out").orderBy("rank").collect()
    assert(top.length == 2 && top.head.getAs[Int]("rank") == 1)
    assert(top.map(_.getAs[Int]("neighbor_id")).toSet.subsetOf(Set(1, 2, 3)),
      s"near-e1 query must rank the e1 group: ${top.toSeq}")
    // append under frozen geometry, then the new twin wins at rank 1
    val (pa, _) = Pipeline.fromArgs(Seq(
      "--source", s"values:///?${hdr}7,1.0,0.01",
      "--transform", "source+v+" + vecSql(Seq("x", "y")),
      "--transform", s"v+out+ann:///$pfx?kind=pq&mode=append&buckets=2&id=id&vec=vec"))
    assert(pa.resultView(spark, "out").count() == 1)
    val (pq2, _) = Pipeline.fromArgs(Seq(
      "--source", s"values:///?${hdr}100,1.0,0.01",
      "--transform", "source+v+" + vecSql(Seq("x", "y")),
      "--transform", s"v+out+ann:///$pfx?kind=pq&k=1&nprobe=2&ncandidates=7&id=id&vec=vec"))
    assert(pq2.resultView(spark, "out").head().getAs[Int]("neighbor_id") == 7)
  }

  test("cap:///?key=... keeps k rows per key through the URI step") {
    val values = (1 to 20).map(i => s"$i,k${i % 2},${i * 10}").mkString(";")
    val (p, _) = Pipeline.fromArgs(Seq(
      "--source", s"values:///?header=id:int,grp,score:int&values=$values",
      "--transform", "cap:///?key=grp&order=score:desc,id:asc&k=3"))
    val rows = p.resultView(spark, "sink").orderBy("grp", "id").collect()
    assert(rows.length == 6)
    assert(rows.map(_.getInt(2)).forall(_ >= 150)) // top-3 scores per parity group
  }

  test("cap order direction is case-insensitive; unknown directions are rejected") {
    val values = (1 to 6).map(i => s"$i,k,${i * 10}").mkString(";")
    // DESC uppercase must sort descending (used to silently fall through
    // to ascending and cap the WRONG rows)
    val (p, _) = Pipeline.fromArgs(Seq(
      "--source", s"values:///?header=id:int,grp,score:int&values=$values",
      "--transform", "cap:///?key=grp&order=score:DESC,id:asc&k=2"))
    val kept = p.resultView(spark, "sink").collect().map(_.getInt(2)).sorted.toSeq
    assert(kept == Seq(50, 60), s"DESC must keep the top scores, got $kept")
    val (bad, _) = Pipeline.fromArgs(Seq(
      "--source", s"values:///?header=id:int,grp,score:int&values=$values",
      "--transform", "cap:///?key=grp&order=score:dsc&k=2"))
    val e = intercept[IllegalArgumentException](bad.resultView(spark, "sink").collect())
    assert(e.getMessage.contains("asc"))
  }

  test("sample:/// methods select deterministic subsets through the URI step") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.{SelectionOps, SplitOps}
    // uniform ≡ the direct operator (the pre-round-11 default unchanged)
    val uVals = (1 to 32).map(i => s"$i,t$i").mkString(";")
    val (pu, _) = Pipeline.fromArgs(Seq(
      "--source", s"values:///?header=id:int,text&values=$uVals",
      "--transform", "sample:///?method=uniform&keep=4&id=id"))
    val gotU = pu.resultView(spark, "sink").select("id").collect().map(_.getInt(0)).toSet
    val uDf = (1 to 32).map(i => (i, s"t$i")).toDF("id", "text")
    val expU = SplitOps.deterministicSample(uDf, "id", 4)
      .select("id").collect().map(_.getInt(0)).toSet
    assert(gotU == expU && gotU.nonEmpty && gotU.size < 32)
    // stratified: en keeps 16/16, de keeps 0/16
    val sVals = (1 to 20).map(i => s"$i,${if (i % 2 == 0) "en" else "de"}").mkString(";")
    val (ps, _) = Pipeline.fromArgs(Seq(
      "--source", s"values:///?header=id:int,lang&values=$sVals",
      "--transform", "sample:///?method=stratified&id=id&by=lang&rates=en:16,de:0"))
    val gotS = ps.resultView(spark, "sink").collect()
    assert(gotS.length == 10 && gotS.forall(_.getString(1) == "en"))
    // budget: 10 tokens per stratum at 4 tokens/doc → 2 docs per stratum,
    // full rows survive (semi-join back), picks ≡ the direct operator
    val bRows = (1 to 12).map(i => (i, if (i <= 6) "en" else "de", 4))
    val bVals = bRows.map { case (i, l, t) => s"$i,$l,$t" }.mkString(";")
    val (pb2, _) = Pipeline.fromArgs(Seq(
      "--source", s"values:///?header=id:int,lang,n_tokens:int&values=$bVals",
      "--transform", "sample:///?method=budget&id=id&by=lang&tokens=n_tokens&budget=10&seed=s1"))
    val outB = pb2.resultView(spark, "sink")
    assert(outB.columns.toSeq == Seq("id", "lang", "n_tokens"))
    val gotB = outB.select("id").collect().map(_.getInt(0)).toSet
    val expB = SplitOps.tokenBudgetSample(bRows.toDF("id", "lang", "n_tokens"),
        "id", "lang", col("n_tokens"), 10L, "s1")
      .select("id").collect().map(_.getInt(0)).toSet
    assert(gotB == expB && gotB.size == 4)
    // kcenter: first pick = min id 1, farthest-by-cosine = the orthogonal 3
    val (pk, _) = Pipeline.fromArgs(Seq(
      "--source", "values:///?header=id:int,x:double,y:double&values=" +
        "1,1.0,0.0;2,0.9,0.1;3,0.0,1.0;4,0.1,0.9",
      "--transform", "source+v+" + vecSql(Seq("x", "y")),
      "--transform", "v+out+sample:///?method=kcenter&id=id&vec=vec&k=2"))
    val gotK = pk.resultView(spark, "out").select("id").collect().map(_.getInt(0)).toSet
    assert(gotK == Set(1, 3))
    // dsir: importance-resampled top-k toward the en slice ≡ direct call
    val dRows = Seq(
      (1, "en", "alpha beta gamma delta"),
      (2, "en", "alpha beta gamma delta"),
      (3, "de", "eins zwei drei vier"),
      (4, "de", "eins zwei drei vier"),
      (5, "de", "alpha beta gamma delta"))
    val dVals = dRows.map { case (i, l, t) => s"$i,$l,${t.replace(" ", "%20")}" }.mkString(";")
    val (pd, _) = Pipeline.fromArgs(Seq(
      "--source", s"values:///?header=id:int,lang,text&values=$dVals",
      "--transform", "sample:///?method=dsir&id=id&text=text&target=" +
        java.net.URLEncoder.encode("lang = 'en'", "UTF-8") + "&k=2&buckets=64&seed=t"))
    val gotD = pd.resultView(spark, "sink").select("id").collect().map(_.getInt(0)).toSet
    val expD = SelectionOps.dsirScores(dRows.toDF("id", "lang", "text"),
        "id", "text", col("lang") === "en", 64, "t")
      .orderBy(col("score").desc, col("id")).limit(2)
      .select("id").collect().map(_.getInt(0)).toSet
    assert(gotD == expD && gotD.size == 2)
    // unknown method fails loudly with the supported list
    val (px, _) = Pipeline.fromArgs(Seq(
      "--source", "values:///?header=id:int&values=1",
      "--transform", "sample:///?method=bogus"))
    val e = intercept[IllegalArgumentException] { px.resultView(spark, "sink") }
    assert(e.getMessage.contains("kcenter"))
  }

  test("csv sink+source roundtrip via text:// with tsv delimiter") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-test-csv").toString
    val (w, _) = Pipeline.fromArgs(Seq(
      "--source", "values:///?header=a:int,b&values=1,x;2,y",
      "--sink", s"text://$tmp/out.tsv"))
    assert(w.run(spark))
    val (r, _) = Pipeline.fromArgs(Seq("--source", s"text://$tmp/out.tsv"))
    val back = r.resultView(spark, "source").orderBy("a").collect()
    assert(back.map(x => (x.getInt(0), x.getString(1))).toSeq == Seq((1, "x"), (2, "y")))
  }

  test("diff transform via pipeline URI with filter") {
    val (p, _) = Pipeline.fromArgs(Seq(
      "--source", "left+values:///?header=id:int,v&values=1,a;2,b;3,c",
      "--source", "right+values:///?header=id:int,v&values=1,a;2,B;4,d",
      "--transform", "left+out+diff:///right?id=id&handleDifferences=filter"))
    val out = p.resultView(spark, "out").orderBy("id").collect()
    assert(out.map(r => (r.getInt(1), r.getString(0))).toSeq == Seq((2, "C"), (3, "D"), (4, "I")))
  }

  test("sql-file transform reads the file") {
    val f = java.nio.file.Files.createTempFile("graft-test", ".sql")
    java.nio.file.Files.writeString(f, "SELECT COUNT(*) AS n FROM source")
    val (p, _) = Pipeline.fromArgs(Seq(
      "--source", "values:///?header=a:int&values=1;2;3",
      "--transform", s"sql-file://$f"))
    assert(p.resultView(spark, "sink").collect().head.getLong(0) == 3L)
  }

  test("unavailable connectors degrade with UnsupportedSourceInEnv") {
    val (p, _) = Pipeline.fromArgs(Seq("--source", "solr:///collection"))
    intercept[UnsupportedSourceInEnv] { p.resultView(spark, "source") }
  }

  test("sink failure stops the sink chain and run returns false") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-test-sink").toString
    val (p, _) = Pipeline.fromArgs(Seq(
      "--source", "values:///?header=a:int&values=1",
      "--sink", "solr:///c",
      "--sink", s"text://$tmp/never.csv"))
    intercept[UnsupportedSourceInEnv] { p.run(spark) }
  }
}

class SerdeSpec extends SparkSpec {
  test("json serde roundtrip with schema") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    val schema = df.schema
    val serde = Serde(s"json:${java.net.URLEncoder.encode(schema.json, "UTF-8")}")
    val back = serde.deserialize(serde.serialize(df)).orderBy("id").collect()
    assert(back.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "a"), (2L, "b")))
  }

  test("json serde without schema infers from data (batch)") {
    import spark.implicits._
    val df = Seq((5L, "x")).toDF("id", "name")
    val serde = Serde("json")
    val back = serde.deserialize(serde.serialize(df)).collect().head
    assert(back.getAs[Long]("id") == 5L && back.getAs[String]("name") == "x")
  }

  test("none serde is identity; avro serde requires a schema spec") {
    import spark.implicits._
    val df = Seq(1).toDF("a")
    assert(Serde("none").serialize(df) eq df)
    intercept[IllegalArgumentException] { Serde("avro") }
  }
}
