package graft

import graft.operators.BucketOps
import org.apache.spark.sql.functions._

/** Plan-shape assertions: the properties that make queries survive a
  * 100× scale-up, locked in as CI checks so a refactor can't silently
  * reintroduce a shuffle, lose a pushed filter, or drop a broadcast.
  */
class PlanAuditSpec extends SparkSpec {
  // Conf-isolated session (r15): this suite flips session-global plan
  // confs (autoBroadcastJoinThreshold, adaptive.enabled) that would
  // otherwise leak into suites running in parallel — the round-14
  // VERDICT's QueryPlanBudgetSpec flake class.
  override lazy val spark: org.apache.spark.sql.SparkSession = SparkSpec.isolated()
  import spark.implicits._

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("bucketed tables join with zero shuffle exchanges") {
    val orders = (0L until 1000L).map(i => (i, i % 97, s"o$i")).toDF("o_id", "cust", "tag")
    val lines = (0L until 5000L).map(i => (i % 1000, i % 97, i * 2.0)).toDF("o_id", "cust", "amt")
    BucketOps.writeBucketed(orders, "b_orders", 8, Seq("o_id"), Seq("o_id"))
    BucketOps.writeBucketed(lines, "b_lines", 8, Seq("o_id"), Seq("o_id"))
    // force the co-located SortMergeJoin path (broadcast would hide it)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = BucketOps.bucketedJoin(spark, "b_orders", "b_lines", Seq("o_id"))
      assert(joined.count() == 5000)
      assert(BucketOps.countExchanges(joined) == 0,
        s"co-bucketed join must not shuffle:\n${executedPlan(joined)}")
      // aggregation on the bucket key also rides the bucketing
      val agg = spark.table("b_lines").groupBy("o_id").agg(sum("amt"))
      agg.collect()
      assert(BucketOps.countExchanges(agg) == 0,
        s"groupBy on bucket key must not shuffle:\n${executedPlan(agg)}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lines")
    }
  }

  test("mismatched bucket counts still avoid shuffling the larger side") {
    val a = (0L until 1000L).map(i => (i, s"a$i")).toDF("k", "va")
    val b = (0L until 1000L).map(i => (i, s"b$i")).toDF("k", "vb")
    BucketOps.writeBucketed(a, "b_a8", 8, Seq("k"), Seq("k"))
    BucketOps.writeBucketed(b, "b_b4", 4, Seq("k"), Seq("k"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.bucketing.coalesceBucketsInJoin.enabled", "true")
    try {
      val joined = BucketOps.bucketedJoin(spark, "b_a8", "b_b4", Seq("k"))
      assert(joined.count() == 1000)
      assert(BucketOps.countExchanges(joined) == 0,
        s"coalesced bucket join must not shuffle:\n${executedPlan(joined)}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS b_a8")
      spark.sql("DROP TABLE IF EXISTS b_b4")
    }
  }

  test("filters and column pruning reach the parquet scan") {
    val dir = java.nio.file.Files.createTempDirectory("plan-audit").toString
    (0L until 2000L).map(i => (i, i % 50, s"n$i", i * 1.5))
      .toDF("id", "grp", "name", "score")
      .write.mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir).filter(col("grp") === 7).select("id", "score", "grp")
    q.collect()
    val scan = q.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    val meta = scan.metadata
    assert(meta("PushedFilters").contains("EqualTo(grp,7)"), s"filter not pushed: $meta")
    val readSchema = scan.requiredSchema.fieldNames.toSet
    assert(readSchema == Set("id", "score", "grp"), s"columns not pruned: $readSchema")
  }

  test("broadcast hint survives to the physical join") {
    val big = (0L until 10000L).map(i => (i, i % 100)).toDF("id", "dim_id")
    val dim = (0L until 100L).map(i => (i, s"d$i")).toDF("dim_id", "name")
    val j = big.join(broadcast(dim), "dim_id")
    j.collect()
    val plan = executedPlan(j)
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
    assert(BucketOps.countExchanges(j) == 0, s"broadcast join must not shuffle the big side:\n$plan")
  }

  test("q55_join_hints: each strategy hint selects its physical join operator") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey"))
    val dim = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .filter(col("o_orderstatus") === "O").select(col("o_orderkey"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val b = executedPlan(li.join(broadcast(dim), col("l_orderkey") === col("o_orderkey")))
      assert(b.contains("BroadcastHashJoin"), s"broadcast hint ignored:\n$b")
      val sh = executedPlan(li.join(dim.hint("shuffle_hash"), col("l_orderkey") === col("o_orderkey")))
      assert(sh.contains("ShuffledHashJoin"), s"shuffle_hash hint ignored:\n$sh")
      val m = executedPlan(li.join(dim.hint("merge"), col("l_orderkey") === col("o_orderkey")))
      assert(m.contains("SortMergeJoin"), s"merge hint ignored:\n$m")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    val dir = java.nio.file.Files.createTempDirectory("bloom-audit").toString
    (0L until 200000L).map(i => (i, i % 1000, i * 1.0)).toDF("id", "k", "v")
      .write.mode("overwrite").parquet(s"$dir/fact")
    (0L until 1000L).map(i => (i, s"d$i")).toDF("k", "name")
      .write.mode("overwrite").parquet(s"$dir/dim")
    // force the SMJ + runtime-filter path at toy scale
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    try {
      val fact = spark.read.parquet(s"$dir/fact")
      val dim = spark.read.parquet(s"$dir/dim").filter(col("name") === "d7")
      val j = fact.join(dim, "k")
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("bloom"),
        s"expected a runtime bloom filter on the fact scan:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
    }
  }

  test("tfidf: a small df table still broadcasts — chosen by size estimate, not by hint") {
    val dir = java.nio.file.Files.createTempDirectory("tfidf-audit").toString
    (0L until 500L).map(i => (i, s"alpha beta w$i gamma")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    val q = graft.operators.CorpusOps.tfidfTopTerms(spark.read.parquet(dir), "doc_id", "text")
    q.collect()
    val plan = executedPlan(q)
    assert(plan.contains("BroadcastHashJoin"), s"small df join should auto-broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"no shuffle join expected at this size:\n$plan")
  }

  test("vocabulary: no count-distinct Expand is planned") {
    val docs = (0L until 200L).map(i => (i, s"alpha beta w${i % 20}")).toDF("doc_id", "text")
    val q = graft.operators.CorpusOps.vocabulary(docs, "doc_id", "text", 50)
    q.collect()
    val plan = executedPlan(q)
    assert(!plan.contains("Expand"), s"df must come from the two-level agg, not Expand:\n$plan")
  }

  test("removeBoilerplateSegments: two-level df agg, no Expand, no Window") {
    val docs = (0L until 200L).map(i => (i, Seq(s"seg a $i", "common one", s"seg b $i")))
      .toDF("id", "segs")
    val q = graft.operators.CorpusOps.removeBoilerplateSegments(docs, "id", "segs", maxDf = 10)
    q.collect()
    val plan = executedPlan(q)
    assert(!plan.contains("Expand"), s"segment df must be the two-level agg, not countDistinct Expand:\n$plan")
    assert(!plan.contains("Window"), s"boilerplate removal must not plan a window:\n$plan")
  }

  test("bm25TopK: global top-k plans as TakeOrderedAndProject, not a full sort") {
    val docs = (0L until 300L).map(i => (i, s"merge join w${i % 30} row value")).toDF("doc_id", "text")
    val q = graft.operators.CorpusOps.bm25TopK(docs, "doc_id", "text", Seq("merge", "join"), k = 5)
    q.collect()
    val plan = executedPlan(q)
    assert(plan.contains("TakeOrderedAndProject"),
      s"orderBy+limit must be the heap-based top-k operator:\n$plan")
  }

  test("duplicatedSpanStats: df via partial-aggregated groupBy + unhinted join (no hot-key window)") {
    val dir = java.nio.file.Files.createTempDirectory("spans-audit").toString
    (0L until 300L).map(i => (i, s"one two three four five six seven w$i")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    // AQE wraps stages so plan.collect can't see nodes — off for the shape
    // assertion; autoBroadcast off proves no broadcast HINT forces the df
    // table onto the driver (AQE may still choose broadcast at runtime,
    // which is exactly the desired small-input behavior)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val q = graft.operators.CorpusOps.duplicatedSpanStats(spark.read.parquet(dir), "doc_id", "text", 3)
      q.collect()
      val plan = executedPlan(q)
      // the previous shape funneled every row of a hot shingle through one
      // reducer via count().over(Window.partitionBy(h)) — must be gone
      assert(!plan.contains("Window"),
        s"per-shingle df must not use a window over h (hot-key funnel):\n$plan")
      assert(!plan.contains("BroadcastHashJoin") && !plan.contains("BroadcastExchange"),
        s"the df table must not be broadcast-hinted (unbounded at scale):\n$plan")
      // partial aggregation must bound a hot shingle's shuffle contribution
      // to one row per map partition
      assert(plan.contains("partial_count") || plan.contains("Partial"),
        s"df groupBy must have map-side partial aggregation:\n$plan")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("tfidfTopTerms: unbounded df table carries no broadcast hint; capped variant does") {
    val docs = (0L until 200L).map(i => (i, s"alpha beta w$i w${i % 7}")).toDF("doc_id", "text")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val q = graft.operators.CorpusOps.tfidfTopTerms(docs, "doc_id", "text")
      q.collect()
      val plan = executedPlan(q)
      // with auto-broadcast disabled, only HINTED broadcasts survive: the
      // 1-row corpus count may broadcast, the token-keyed df join must not
      assert(!plan.contains("BroadcastHashJoin"),
        s"the unbounded df table must not be broadcast-hinted:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"df join must be a shuffle join AQE can skew-split:\n$plan")
      // Catalyst prunes the df branch to a distinct, so the two (doc,
      // token) subtrees differ and the tokenizer runs on both join
      // sides (no ReusedExchange — verified, not assumed). The
      // checkpointTerms lever materializes the term counts once: the
      // whole tokenize→explode pipeline must then appear ZERO times in
      // the executed plan (both consumers read the checkpoint).
      val qc2 = graft.operators.CorpusOps.tfidfTopTerms(docs, "doc_id", "text", checkpointTerms = true)
      qc2.collect()
      assert(!executedPlan(qc2).contains("Generate explode"),
        s"with checkpointTerms the tokenizer must not re-run:\n${executedPlan(qc2)}")
      // the bounded-by-construction variant SHOULD broadcast its ≤topV table
      val qc = graft.operators.CorpusOps.tfidfTopTermsCapped(docs, "doc_id", "text", topV = 50)
      qc.collect()
      assert(executedPlan(qc).contains("BroadcastHashJoin"),
        s"capped df table (≤topV rows) must broadcast:\n${executedPlan(qc)}")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("duplicatedSpanStats: materializeSignatures runs the shingle scan once") {
    val docs = (0L until 150L).map(i => (i, s"common boiler plate text w$i tail")).toDF("doc_id", "text")
    spark.conf.set("spark.sql.adaptive.enabled", "false") // AQE hides nodes from plan.collect
    try {
      // default shape: the (doc_id, h) explode feeds BOTH join sides
      val off = graft.operators.CorpusOps.duplicatedSpanStats(docs, "doc_id", "text", n = 3)
      off.collect()
      assert("Generate explode".r.findAllIn(executedPlan(off)).size == 2,
        s"unmaterialized shape tokenizes both sides:\n${executedPlan(off)}")
      // with the lever on, the whole tokenize→shingle pipeline must appear
      // ZERO times (both consumers read the lazy local checkpoint)
      val on = graft.operators.CorpusOps.duplicatedSpanStats(docs, "doc_id", "text", n = 3,
        materializeSignatures = true)
      val got = on.collect()
      assert(!executedPlan(on).contains("Generate explode"),
        s"with materializeSignatures the shingle scan must not re-run:\n${executedPlan(on)}")
      // same result either way
      val expected = off.orderBy("doc_id").collect().toSeq
      assert(on.orderBy("doc_id").collect().toSeq == expected)
      assert(got.nonEmpty)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("capPerKey: WindowGroupLimit prunes map-side, single shuffle") {
    val df = (0L until 1000L).map(i => (s"k${i % 5}", i)).toDF("k", "id")
    spark.conf.set("spark.sql.adaptive.enabled", "false") // AQE hides nodes from plan.collect
    try {
      val q = graft.operators.CorpusOps.capPerKey(df, "k", Seq(col("id").desc), k = 3)
      q.collect()
      val plan = executedPlan(q)
      assert(plan.contains("WindowGroupLimit"),
        s"row_number<=k must trigger the group-limit rewrite (map-side top-k heap):\n$plan")
      assert(plan.contains("Partial"),
        s"the group limit must run map-side BEFORE the shuffle:\n$plan")
      assert(BucketOps.countExchanges(q) == 1, s"top-k per key needs exactly 1 shuffle:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("zorderBy: range partitioning on the z-value with in-partition sort") {
    val df = (0 until 1024).map(i => (i % 32, i / 32)).toDF("x", "y")
    val q = graft.operators.WriteOps.zorderBy(df, "x", "y", numFiles = 4)
    q.collect()
    val plan = executedPlan(q)
    assert(plan.contains("rangepartitioning") || plan.contains("RangePartitioning"),
      s"z-order must range-partition on the z-value:\n$plan")
    assert(plan.contains("Sort"), s"z-order must sort within partitions:\n$plan")
  }

  test("join strategy hints reach the physical plan (merge / shuffle_hash)") {
    val a = (0L until 2000L).map(i => (i, i * 2)).toDF("k", "va")
    val b = (0L until 2000L).map(i => (i, i * 3)).toDF("k", "vb")
    val smj = a.hint("merge").join(b, "k")
    smj.collect()
    assert(executedPlan(smj).contains("SortMergeJoin"),
      s"merge hint must force SMJ:\n${executedPlan(smj)}")
    val shj = a.hint("shuffle_hash").join(b, "k")
    shj.collect()
    assert(executedPlan(shj).contains("ShuffledHashJoin"),
      s"shuffle_hash hint must force SHJ:\n${executedPlan(shj)}")
  }

  test("hive-style partitioned writes prune partitions at the scan") {
    val dir = java.nio.file.Files.createTempDirectory("part-audit").toString
    (0L until 2000L).map(i => (i, s"p${i % 8}", i * 1.0)).toDF("id", "part", "v")
      .write.partitionBy("part").mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir).filter(col("part") === "p3")
    assert(q.count() == 250)
    val scan = q.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.metadata("PartitionFilters").contains("p3"),
      s"partition filter must prune at the scan: ${scan.metadata}")
    // only the one matching directory is read
    assert(scan.inputRDDs().head.partitions.nonEmpty)
    val selected = scan.relation.location.listFiles(scan.partitionFilters, Nil)
    assert(selected.map(_.files.size).sum == new java.io.File(s"$dir/part=p3")
      .listFiles().count(_.getName.endsWith(".parquet")))
  }

  test("AQE splits a skewed sort-merge join partition at runtime") {
    val dir = java.nio.file.Files.createTempDirectory("skew-audit").toString
    // key 0 carries ~90% of the fact side
    (0L until 200000L).map(i => (if (i % 10 == 0) i % 50 else 0L, i))
      .toDF("k", "v").write.mode("overwrite").parquet(s"$dir/fact")
    (0L until 50L).map(i => (i, s"d$i")).toDF("k", "name")
      .write.mode("overwrite").parquet(s"$dir/dim")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "100KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "100KB")
    try {
      val j = spark.read.parquet(s"$dir/fact").join(spark.read.parquet(s"$dir/dim"), "k")
      assert(j.collect().length == 200000) // collect() runs j's own execution → AQE final plan
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("isSkew=true") || plan.contains("skew=true"),
        s"expected AQE to mark/split the skewed join partition:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionFactor")
      spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
      spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    }
  }

  test("minhash signature pass is shuffle-free (map-side sketching)") {
    val docs = (0L until 200L).map(i => (i, s"some text body number $i repeated words")).toDF("doc_id", "text")
    val sigs = graft.operators.DedupOps.minhashSignatures(docs, "text", "doc_id", shingleSize = 3, k = 64)
    sigs.collect()
    assert(BucketOps.countExchanges(sigs) == 0,
      s"signature computation must be pure scan->project:\n${executedPlan(sigs)}")
  }

  /** The `(id, sh)` frame of the incremental-index specs (2-shingles). */
  private def shingled(df: org.apache.spark.sql.DataFrame) =
    graft.operators.DedupOps.shingleSets(df, "text", "doc_id", 2)
  private def eager(df: org.apache.spark.sql.DataFrame) = df.transform(graft.operators.Ckpt.eagerCkpt)
  private def lazily(df: org.apache.spark.sql.DataFrame) = df.transform(graft.operators.Ckpt.lazyCkpt)

  test("incremental dedup probe: the persisted index side scans with no Exchange") {
    import graft.operators.IncrementalDedupOps
    // overlapping shingle content so the probe produces real pairs
    val base = (0L until 300L).map(i => (i * 2 + 1, s"alpha beta gamma delta tok${i % 40} epsilon zeta"))
      .toDF("doc_id", "text")
    val batch = (0L until 60L).map(i => (i * 2, s"alpha beta gamma delta tok${i % 40} epsilon zeta"))
      .toDF("doc_id", "text")
    spark.conf.set("spark.sql.adaptive.enabled", "false") // AQE hides nodes from plan.collect
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // bucket layout must carry the joins
    try {
      val idx = IncrementalDedupOps.buildIndexOf(eager(shingled(base)), "inc_audit",
        numBuckets = 4, numBands = 8, rowsPerBand = 2)
      val probed = IncrementalDedupOps.probeOf(lazily(shingled(batch)), idx, threshold = 0.8,
        numBands = 8, rowsPerBand = 2)
      assert(probed.count() > 0, "probe should find near-dup pairs in this corpus")
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      // the daily-job invariant: an index-table scan reaches its consuming
      // join with NO Exchange in between — only the small new-batch /
      // candidate side may move to meet the bucket layout. (An Exchange
      // ABOVE the join's output is fine; it repartitions join results,
      // not the index.)
      def leafPaths(p: SparkPlan, above: List[SparkPlan]): Seq[List[SparkPlan]] = {
        val here = p :: above // head = deepest node
        if (p.children.isEmpty) Seq(here) else p.children.flatMap(c => leafPaths(c, here))
      }
      val idxPaths = leafPaths(probed.queryExecution.executedPlan, Nil).filter(_.head match {
        case f: FileSourceScanExec => f.tableIdentifier.exists(_.table.startsWith("inc_audit"))
        case _ => false
      })
      idxPaths.foreach { path =>
        val toJoin = path.takeWhile(!_.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec])
        assert(!toJoin.exists(_.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]),
          s"index scan shuffled before its join:\n${toJoin.mkString("\n")}")
      }
      // not vacuous: both index tables are actually scanned in the plan
      val all = idxPaths.map(_.head.asInstanceOf[FileSourceScanExec].tableIdentifier.get.table)
      assert(all.count(_ == "inc_audit_bands") >= 1 && all.count(_ == "inc_audit_sigs") >= 1,
        s"expected scans of both index tables, saw: $all")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS inc_audit_bands")
      spark.sql("DROP TABLE IF EXISTS inc_audit_sigs")
    }
  }

  test("incremental dedup probe equals the one-shot batch pair set on the union corpus") {
    import graft.operators.{DedupOps, IncrementalDedupOps}
    val base = (0L until 80L).map(i => (i * 2 + 1, s"the quick brown fox w${i % 10} jumps over"))
      .toDF("doc_id", "text")
    val batch = (0L until 20L).map(i => (i * 2, s"the quick brown fox w${i % 10} jumps over"))
      .toDF("doc_id", "text")
    val idx = IncrementalDedupOps.buildIndexOf(eager(shingled(base)), "inc_eq",
      numBuckets = 2, numBands = 16, rowsPerBand = 2)
    try {
      val inc = IncrementalDedupOps.probeOf(lazily(shingled(batch)), idx, threshold = 0.7,
          numBands = 16, rowsPerBand = 2)
        .select("a_id", "b_id", "jaccard").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val full = DedupOps.minhashDupPairs(base.unionByName(batch), "text", "doc_id", threshold = 0.7,
          shingleSize = 2, numBands = 16, rowsPerBand = 2)
        .filter(col("a_id") % 2 === 0 || col("b_id") % 2 === 0)
        .select("a_id", "b_id", "jaccard").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(inc == full, s"incremental pair set must equal batch new×all pairs; inc-only=${inc -- full}, batch-only=${full -- inc}")
      assert(inc.nonEmpty)
    } finally {
      spark.sql("DROP TABLE IF EXISTS inc_eq_bands")
      spark.sql("DROP TABLE IF EXISTS inc_eq_sigs")
    }
  }

  test("appendToIndex: day-2 probe equals a fresh rebuild over base∪day1, still Exchange-free") {
    import graft.operators.IncrementalDedupOps
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("a_id", "b_id", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val base = (0L until 60L).map(i => (i * 3 + 1, s"the quick brown fox w${i % 10} jumps over"))
      .toDF("doc_id", "text")
    val day1 = (0L until 30L).map(i => (i * 3 + 2, s"the quick brown fox w${i % 10} jumps over"))
      .toDF("doc_id", "text")
    val day2 = (0L until 20L).map(i => (i * 3, s"the quick brown fox w${i % 10} jumps over"))
      .toDF("doc_id", "text")
    val idx = IncrementalDedupOps.buildIndexOf(eager(shingled(base)), "inc_app",
      numBuckets = 2, numBands = 16, rowsPerBand = 2)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      IncrementalDedupOps.appendToIndexOf(eager(shingled(day1)), idx,
        numBuckets = 2, numBands = 16, rowsPerBand = 2)
      val probed = IncrementalDedupOps.probeOf(lazily(shingled(day2)), idx, threshold = 0.7,
        numBands = 16, rowsPerBand = 2)
      val viaAppend = pairs(probed)
      // equality vs an index built from scratch over base∪day1
      val fresh = IncrementalDedupOps.buildIndexOf(eager(shingled(base.unionByName(day1))),
        "inc_app_fresh", numBuckets = 2, numBands = 16, rowsPerBand = 2)
      val viaFresh = pairs(IncrementalDedupOps.probeOf(lazily(shingled(day2)), fresh,
        threshold = 0.7, numBands = 16, rowsPerBand = 2))
      assert(viaAppend == viaFresh,
        s"append-only=${viaAppend -- viaFresh}, fresh-only=${viaFresh -- viaAppend}")
      assert(viaAppend.nonEmpty)
      // the appended (multi-file-per-bucket) index still reaches its joins
      // with no Exchange on the index side
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      def leafPaths(p: SparkPlan, above: List[SparkPlan]): Seq[List[SparkPlan]] = {
        val here = p :: above
        if (p.children.isEmpty) Seq(here) else p.children.flatMap(c => leafPaths(c, here))
      }
      val idxPaths = leafPaths(probed.queryExecution.executedPlan, Nil).filter(_.head match {
        case f: FileSourceScanExec => f.tableIdentifier.exists(_.table.startsWith("inc_app_"))
        case _ => false
      })
      assert(idxPaths.nonEmpty)
      idxPaths.foreach { path =>
        val toJoin = path.takeWhile(!_.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec])
        assert(!toJoin.exists(_.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]),
          s"appended index scan shuffled before its join:\n${toJoin.mkString("\n")}")
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      Seq("inc_app_bands", "inc_app_sigs", "inc_app_fresh_bands", "inc_app_fresh_sigs")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("TP spread-repartition is GATED on input parallelism (round-7 verdict item 4)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    def roundRobins(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.sparkPlan.collect { // pre-AQE: adaptive wrapping hides children
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => e
      }.size
    // single-file testdata: the gate fires — compute spreads across cores
    val single = SparkEntry.queries("text_tokens")(spark, "/root/testdata/sf0.001")
    assert(roundRobins(single) == 1,
      s"single-file input must keep the spread shuffle:\n${executedPlan(single)}")
    // multi-file copy of the same table: natural scan parallelism — a
    // production table must NOT inherit a raw-row shuffle
    val dir = java.nio.file.Files.createTempDirectory("tp_gate").toString
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .repartition(4).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val multi = SparkEntry.queries("text_tokens")(spark, dir)
    assert(roundRobins(multi) == 0,
      s"multi-file input must take the no-shuffle path:\n${executedPlan(multi)}")
    // and the result is identical either way (same rows, same values)
    val a = single.collect().map(_.toString).sorted
    val b = multi.collect().map(_.toString).sorted
    assert(a.sameElements(b), "gate must not change results")
  }
}
