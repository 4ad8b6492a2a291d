package graft

import graft.operators._
import graft.functions.{TextFunctions, VectorFunctions}
import org.apache.spark.sql.functions._

class DiffOpsSpec extends SparkSpec {
  import spark.implicits._

  test("diff classifies N/C/I/D on id columns") {
    val left = Seq((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)).toDF("id", "v", "w")
    val right = Seq((1, "a", 10.0), (2, "B", 20.0), (4, "d", 40.0)).toDF("id", "v", "w")
    val d = DiffOps.diff(left, right, Seq("id")).orderBy("id").collect()
    assert(d.map(r => (r.getInt(1), r.getString(0))).toSeq ==
      Seq((1, "N"), (2, "C"), (3, "D"), (4, "I")))
    // left_/right_ value columns present
    val cols = DiffOps.diff(left, right, Seq("id")).columns.toSeq
    assert(cols == Seq("diff", "id", "left_v", "right_v", "left_w", "right_w"))
  }

  test("ignored columns are carried but not compared") {
    val left = Seq((1, "a", 1.0)).toDF("id", "v", "ts")
    val right = Seq((1, "a", 2.0)).toDF("id", "v", "ts")
    val d = DiffOps.diff(left, right, Seq("id"), ignoreColumns = Seq("ts")).collect().head
    assert(d.getString(0) == "N")
  }

  test("null-safe comparison: null == null is unchanged") {
    val left = Seq((1, Option.empty[String]), (2, Some("x"))).toDF("id", "v")
    val right = Seq((1, Option.empty[String]), (2, Option.empty[String])).toDF("id", "v")
    val d = DiffOps.diff(left, right, Seq("id")).orderBy("id").collect()
    assert(d.map(_.getString(0)).toSeq == Seq("N", "C"))
  }

  test("failOnDifferences throws when rows differ") {
    val left = Seq((1, "a")).toDF("id", "v")
    val right = Seq((1, "b")).toDF("id", "v")
    intercept[RuntimeException] {
      DiffOps.failOnDifferences(DiffOps.diff(left, right, Seq("id")))
    }
  }
}

class FlattenOpsSpec extends SparkSpec {
  import spark.implicits._

  test("flatten produces underscore-joined leaf columns") {
    val df = Seq((1, ("x", (2.5, true)))).toDF("id", "s")
      .select(col("id"), col("s._1").as("a"), struct(col("s._1").as("a"), struct(col("s._2._1").as("d"), col("s._2._2").as("b")).as("n")).as("st"))
    val flat = FlattenOps.flatten(df.select(col("id"), col("st")))
    assert(flat.columns.toSeq == Seq("id", "st_a", "st_n_d", "st_n_b"))
  }

  test("flattenExplode explodes arrays of structs and flattens them") {
    val df = spark.sql(
      "SELECT 1 AS id, array(named_struct('a', 1, 'b', named_struct('c', 'x')), named_struct('a', 2, 'b', named_struct('c', 'y'))) AS arr")
    val out = FlattenOps.flattenExplode(df).orderBy("arr_a")
    assert(out.columns.toSeq == Seq("id", "arr_a", "arr_b_c"))
    assert(out.collect().map(r => (r.getInt(1), r.getString(2))).toSeq == Seq((1, "x"), (2, "y")))
  }

  test("flattenExplode explodes primitive arrays in place") {
    val df = spark.sql("SELECT 7 AS id, array(1, 2, 3) AS xs")
    val out = FlattenOps.flattenExplode(df)
    assert(out.columns.toSeq == Seq("id", "xs"))
    assert(out.collect().map(_.getInt(1)).sorted.toSeq == Seq(1, 2, 3))
  }
}

class MergeOpsSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.DiffOps

  test("merge applies updates, inserts, deletes; NULL updates override") {
    val base = Seq((1L, Some("a"), 10.0), (2L, Some("b"), 20.0), (3L, Some("c"), 30.0))
      .toDF("id", "tag", "v")
    val updates = Seq(
      (2L, None: Option[String], 21.0, false), // update with NULL tag → must override, not coalesce
      (3L, Some("x"), 0.0, true),              // delete key 3
      (4L, Some("d"), 40.0, false)             // insert key 4
    ).toDF("id", "tag", "v", "del")
    val out = DiffOps.merge(base, updates, Seq("id"), deleteCol = Some("del"))
      .orderBy("id")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getDouble(2))).toSeq
    assert(out == Seq(
      (1L, Some("a"), 10.0),
      (2L, None, 21.0),
      (4L, Some("d"), 40.0)))
  }
}

class DedupOpsSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = {
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs far away home"),
      (2L, "completely different content about spark dataframes and shuffles in clusters"),
      (3L, "the quick brown fox jumps over the lazy dog and runs far away house"), // near-dup of 1
      (4L, "yet another unrelated document mentioning minhash banding and lsh buckets"),
      (5L, "the quick brown fox jumps over the lazy dog and runs far away home") // exact dup of 1
    )
    base.toDF("doc_id", "text")
  }

  test("exact dedup keeps min id with counts") {
    val d = DedupOps.exact(corpus, "text", "doc_id").orderBy("keep_id").collect()
    assert(d.map(r => (r.getLong(1), r.getLong(2))).toSeq == Seq((1L, 2L), (2L, 1L), (3L, 1L), (4L, 1L)))
    val kept = DedupOps.exactKeepFirst(corpus, "text", "doc_id").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 2L, 3L, 4L))
  }

  test("minhash LSH finds exact and near duplicates, not unrelated docs") {
    val pairs = DedupOps.minhashDupPairs(corpus, "text", "doc_id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 5L)), "exact dup must be found")
    assert(pairs.contains((1L, 3L)) || pairs.contains((3L, 5L)), "near dup should be found")
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L), "unrelated doc must not pair")
  }

  test("simhash finds exact dup with hamming 0") {
    val pairs = DedupOps.simhashDupPairs(corpus, "text", "doc_id", maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs.get((1L, 5L)).contains(0))
    assert(!pairs.keySet.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("blocked jaccard pairs returns exact similarity") {
    val pairs = DedupOps.blockedJaccardPairs(
      corpus, "text", "doc_id",
      blockCols = Seq(element_at(TextFunctions.tokens(col("text")), 1)),
      threshold = 0.5
    ).collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 5L)) == 1.0)
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) < 1.0 && pairs((1L, 3L)) > 0.5)
  }

  test("oversized buckets take the overflow path: no pair is dropped") {
    // all 200 docs share every band → one bucket of 200 ≫ cap of 64; the
    // distributed overflow join must still emit the full C(200,2) pair set
    // (round-2 advisor: the old cap silently dropped oversized buckets,
    // making the output a strict subset of the quadratic oracle)
    val many = (0L until 200L).map(i => (i, "identical text repeated here exactly the same tokens forever")).toDF("doc_id", "text")
    val cands = DedupOps.minhashCandidates(many, "text", "doc_id", maxBucketSize = 64)
    assert(cands.count() == 200L * 199 / 2)
    // and the small-bucket path still dedups with the overflow path's output
    val verified = DedupOps.minhashDupPairs(many, "text", "doc_id", threshold = 0.9)
    assert(verified.count() == 200L * 199 / 2)
  }

  test("exactDupPairs enumerates identical-content pairs across hash buckets") {
    val df = Seq(
      (1L, "same doc"), (2L, "same doc"), (3L, "same doc"),
      (4L, "other"), (5L, "  SAME   doc "), (6L, "unique text")
    ).toDF("doc_id", "text")
    val pairs = DedupOps.exactDupPairs(df, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // {1,2,3,5} are identical after normalization → C(4,2)=6 pairs
    assert(pairs == Set((1L, 2L), (1L, 3L), (1L, 5L), (2L, 3L), (2L, 5L), (3L, 5L)))
    // oversized-bucket path: 100 identical docs with cap 8 → full pair set
    val many = (0L until 100L).map(i => (i, "dup")).toDF("doc_id", "text")
    assert(DedupOps.exactDupPairs(many, "text", "doc_id", maxBucketSize = 8).count() == 100L * 99 / 2)
  }
}

class SimilarityOpsSpec extends SparkSpec {
  import spark.implicits._

  test("cosine/dot/norm basics") {
    val df = Seq((Array(1.0f, 0.0f), Array(0.0f, 1.0f))).toDF("a", "b")
    val r = df.select(
      VectorFunctions.cosine(col("a"), col("b")).as("c_orth"),
      VectorFunctions.cosine(col("a"), col("a")).as("c_self"),
      VectorFunctions.dot(col("a"), col("b")).as("d"),
      VectorFunctions.norm(col("a")).as("n")).collect().head
    assert(math.abs(r.getDouble(0)) < 1e-12)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
    assert(r.getDouble(2) == 0.0 && r.getDouble(3) == 1.0)
  }

  test("quantize8/dequantize8 roundtrip within half a quantization step") {
    val df = Seq(
      Array(0.0, 1.0, 0.5, 0.25),
      Array(-3.0, 3.0, 0.1, 2.9),
      Array(7.0, 7.0, 7.0, 7.0) // constant vector → codes 0, exact recon
    ).map(Tuple1(_)).toDF("vec")
    val out = df.select(
      VectorFunctions.quantize8(col("vec")).as("q"),
      array_max(zip_with(col("vec"),
        VectorFunctions.dequantize8(VectorFunctions.quantize8(col("vec"))),
        (a, b) => abs(a - b))).as("err")).collect()
    out.foreach { r =>
      val q = r.getStruct(0)
      val (lo, hi) = (q.getDouble(0), q.getDouble(1))
      val step = if (hi == lo) 0.0 else (hi - lo) / 255.0
      assert(r.getDouble(1) <= step / 2 + 1e-12, s"err ${r.getDouble(1)} > half-step $step")
      assert(q.getSeq[Int](2).forall(c => c >= 0 && c <= 255))
    }
    val const = out(2)
    assert(const.getDouble(1) == 0.0 && const.getStruct(0).getSeq[Int](2).forall(_ == 0))
  }

  test("bruteForceTopK ranks by cosine with deterministic tie-break") {
    val vecs = Seq(
      (0L, Array(1.0, 0.0)),
      (1L, Array(0.9, 0.1)),
      (2L, Array(0.0, 1.0)),
      (3L, Array(1.0, 0.05))
    ).toDF("vec_id", "vec")
    val top = SimilarityOps.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0), "vec_id", "vec", k = 2)
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(top.toSeq == Seq((1, 3L), (2, 1L))) // 3 closer than 1; 2 orthogonal
  }

  test("lsh finds planted duplicates (identical sign pattern)") {
    val base = (0L until 50L).map(i => (i, Array.tabulate(16)(d => math.sin(i * 31 + d * 7)))).toDF("vec_id", "vec")
    val withDup = base.unionByName(
      base.filter(col("vec_id") === 7).select(lit(999L).as("vec_id"), col("vec")))
    val res = SimilarityOps.lshTopK(withDup, withDup.filter(col("vec_id") === 999L), "vec_id", "vec", k = 3)
      .collect()
    assert(res.nonEmpty && res.head.getLong(2) == 7L && math.abs(res.head.getDouble(3) - 1.0) < 1e-9,
      s"dup must be found as nearest; got ${res.mkString(",")}")
  }

  test("ivf recall vs brute force on a clustered corpus") {
    // 3 well-separated direction clusters with jitter: IVF cells align
    // with clusters, so probing nearest cells recovers true neighbors
    val centers = Seq(Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0), Array(0.0, 0.0, 1.0, 0.0))
    val corpus = (0L until 90L).map { i =>
      val c = centers((i % 3).toInt)
      (i, c.zipWithIndex.map { case (x, d) => x + 0.05 * math.sin(i * 13 + d * 5) })
    }.toDF("vec_id", "vec")
    val queries = corpus.filter(col("vec_id") < 6)
    val bf = SimilarityOps.bruteForceTopK(corpus, queries, "vec_id", "vec", k = 4)
      .select("query_id", "neighbor_id")
    val ivf = SimilarityOps.ivfTopK(corpus, queries, "vec_id", "vec", k = 4, nCells = 3, nProbe = 1, iters = 3)
      .select("query_id", "neighbor_id")
    val hits = bf.join(ivf, Seq("query_id", "neighbor_id"), "left_semi").count()
    assert(hits >= 20, s"recall ${hits / 24.0} below 0.83 on separable clusters") // 24 = 6 queries × k
  }

  test("ivf assignCell is a pure projection (no shuffle in the corpus scan)") {
    val vecs = (0L until 20L).map(i => (i, Array(math.cos(i * 0.7), math.sin(i * 0.7)))).toDF("vec_id", "vec")
    val cents = SimilarityOps.trainCentroids(vecs, "vec_id", "vec", nCells = 4, iters = 1)
    assert(cents.length == 4 && cents.forall(c => math.abs(math.sqrt(c.map(x => x * x).sum) - 1.0) < 1e-9))
    val assigned = vecs.withColumn("cell", SimilarityOps.assignCell(col("vec"), cents))
    // projection-only plan: no Exchange below the scan
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"cell assignment must not shuffle:\n$plan")
    val cells = assigned.select("cell").distinct().collect().map(_.getInt(0)).toSet
    assert(cells.subsetOf((0 until 4).toSet))
  }

  test("embeddingDupPairs finds scaled copies within blocks") {
    val vecs = Seq(
      (1L, 0, Array(1.0, 2.0, 3.0)),
      (2L, 0, Array(2.0, 4.0, 6.0)),  // scaled copy of 1 → cosine 1
      (3L, 0, Array(-3.0, 1.0, 0.5)),
      (4L, 1, Array(1.0, 2.0, 3.0))   // same direction but different block
    ).toDF("vec_id", "label", "vec")
    val pairs = SimilarityOps.embeddingDupPairs(vecs, "vec_id", "vec", col("label"), 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }
}

class JoinOpsSpec extends SparkSpec {
  import spark.implicits._

  test("asofBackward picks latest right row ≤ left time per key") {
    val left = Seq(("k1", 10L, "e1"), ("k1", 20L, "e2"), ("k2", 5L, "e3")).toDF("k", "t", "tag")
    val right = Seq(("k1", 8L, 100.0), ("k1", 15L, 200.0), ("k1", 25L, 300.0), ("k3", 1L, 999.0))
      .toDF("k", "rt", "price")
    val out = JoinOps.asofBackward(left, right, Seq("k"), "t", "rt", Map("price" -> "asof_price"))
      .orderBy("k", "t").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1), Option(r.get(3)).map(_.asInstanceOf[Double]))).toSeq ==
      Seq(("k1", 10L, Some(100.0)), ("k1", 20L, Some(200.0)), ("k2", 5L, None)))
  }

  test("asofBackward includes right rows at exactly the left time (≤)") {
    val left = Seq(("k", 10L, "x")).toDF("k", "t", "tag")
    val right = Seq(("k", 10L, 1.0)).toDF("k", "rt", "v")
    val out = JoinOps.asofBackward(left, right, Seq("k"), "t", "rt", Map("v" -> "av")).collect().head
    assert(out.getAs[Double]("av") == 1.0)
  }

  test("asofForward picks earliest right row ≥ left time per key") {
    val left = Seq(("k1", 10L, "e1"), ("k1", 20L, "e2"), ("k2", 5L, "e3")).toDF("k", "t", "tag")
    val right = Seq(("k1", 8L, 100.0), ("k1", 15L, 200.0), ("k1", 25L, 300.0), ("k2", 1L, 999.0))
      .toDF("k", "rt", "price")
    val out = JoinOps.asofForward(left, right, Seq("k"), "t", "rt", Map("price" -> "asof_price"))
      .orderBy("k", "t").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1), Option(r.get(3)).map(_.asInstanceOf[Double]))).toSeq ==
      Seq(("k1", 10L, Some(200.0)), ("k1", 20L, Some(300.0)), ("k2", 5L, None)))
  }

  test("asof tolerance nulls matches beyond the window (pandas merge_asof)") {
    val left = Seq(("k", 10L, "a"), ("k", 100L, "b")).toDF("k", "t", "tag")
    val right = Seq(("k", 8L, 1.0)).toDF("k", "rt", "v")
    val out = JoinOps.asofJoin(left, right, Seq("k"), "t", "rt", Map("v" -> "av"),
      forward = false, tolerance = Some(5L))
      .orderBy("t").collect()
    assert(Option(out(0).get(3)).contains(1.0), "within tolerance → matched")
    assert(out(1).get(3) == null, "92 > 5 → nulled out")
  }

  test("asof NTZ tolerance is wall-clock: unchanged across session timezones and DST gaps") {
    import org.apache.spark.sql.types.TimestampNTZType
    def ntz(s: String) = java.time.LocalDateTime.parse(s)
    // 01:30 → 03:30 on the US 2024 spring-forward date: wall-clock
    // distance 7200s, but only 3600s of real time elapse in
    // America/New_York — an epoch-routed conversion would flip the match
    val left = Seq(("k", ntz("2024-03-10T03:30:00"), "x")).toDF("k", "t", "tag")
      .withColumn("t", col("t").cast(TimestampNTZType))
    val right = Seq(("k", ntz("2024-03-10T01:30:00"), 1.0)).toDF("k", "rt", "v")
      .withColumn("rt", col("rt").cast(TimestampNTZType))
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      for (tz <- Seq("UTC", "America/New_York")) {
        spark.conf.set("spark.sql.session.timeZone", tz)
        val out = JoinOps.asofJoin(left, right, Seq("k"), "t", "rt", Map("v" -> "av"),
          forward = false, tolerance = Some(7000L)).collect().head
        assert(out.getAs[Any]("av") == null,
          s"tz=$tz: wall-clock distance 7200s > 7000s must stay unmatched")
        val in = JoinOps.asofJoin(left, right, Seq("k"), "t", "rt", Map("v" -> "av"),
          forward = false, tolerance = Some(7200L)).collect().head
        assert(in.getAs[Double]("av") == 1.0, s"tz=$tz: 7200s ≤ 7200s must match")
      }
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("asof tolerance rejects mixed NTZ/instant time columns") {
    import org.apache.spark.sql.types.TimestampNTZType
    val left = Seq(("k", java.time.LocalDateTime.parse("2024-01-01T00:00:00"), "x"))
      .toDF("k", "t", "tag").withColumn("t", col("t").cast(TimestampNTZType))
    val right = Seq(("k", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0)).toDF("k", "rt", "v")
    val e = intercept[IllegalArgumentException](
      JoinOps.asofJoin(left, right, Seq("k"), "t", "rt", Map("v" -> "av"),
        forward = false, tolerance = Some(10L)))
    assert(e.getMessage.contains("TIMESTAMP_NTZ"))
  }

  test("rangeJoin matches point-in-interval with bucketization") {
    val points = Seq(("a", 5L), ("a", 15L), ("b", 5L)).toDF("k", "p")
    val intervals = Seq(("a", 0L, 10L, "i1"), ("a", 10L, 20L, "i2")).toDF("k", "s", "e", "tag")
    val out = JoinOps.rangeJoin(points, intervals, Seq("k"), "p", "s", "e", bucketWidth = 10L)
      .select("p", "tag").orderBy("p").collect()
    assert(out.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((5L, "i1"), (15L, "i2")))
  }

  test("rangeJoin is exact at epoch-microsecond magnitudes (integer bucketing)") {
    // at ~1.7e15 a double-division bucket can round across the edge and
    // drop a boundary match; `div` bucketing must keep these exact
    val b = 75600000000L                  // 21h bucket
    val t0 = 1704067200000000L           // 2024-01-01T00:00:00Z in µs
    val edge = (t0 / b + 1) * b          // first bucket boundary after t0
    val points = Seq(edge - 1, edge, edge + 1).map(Tuple1(_)).toDF("p")
    val intervals = Seq((edge - 10L, edge + 10L, "win")).toDF("s", "e", "tag")
    val out = JoinOps.rangeJoin(points, intervals, Nil, "p", "s", "e", bucketWidth = b)
      .select("p").collect().map(_.getLong(0)).sorted
    assert(out.toSeq == Seq(edge - 1, edge, edge + 1), s"boundary points lost: ${out.mkString(",")}")
  }
}

class SplitOpsSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.SplitOps

  test("split is deterministic, exhaustive, and roughly proportioned") {
    val df = spark.range(2000).toDF("id")
    val a = SplitOps.withSplit(df, "id").groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = SplitOps.withSplit(df, "id").groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b, "split must be stable across runs")
    assert(a.keySet == Set("train", "val", "test") && a.values.sum == 2000)
    assert(a("train") > 1300 && a("train") < 1700, s"train ~75%: $a") // 12/16 ± slack
    // no shuffle: assignment is a pure projection
    val plan = SplitOps.withSplit(df, "id").queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"split must not shuffle:\n$plan")
  }

  test("stratifiedSample applies per-stratum rates deterministically") {
    val df = spark.range(4000).toDF("id")
      .withColumn("stratum", org.apache.spark.sql.functions.expr("CASE id % 4 WHEN 0 THEN 'a' WHEN 1 THEN 'b' ELSE 'c' END"))
    val out = SplitOps.stratifiedSample(df, "id", "stratum", Map("a" -> 16, "b" -> 2), defaultBuckets = 0)
    val counts = out.groupBy("stratum").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("a") == 1000, "rate 16/16 keeps the whole stratum")
    assert(counts.getOrElse("c", 0L) == 0, "default 0 drops unlisted strata")
    assert(counts("b") > 60 && counts("b") < 200, s"2/16 of 1000 ± slack: ${counts("b")}")
    val again = SplitOps.stratifiedSample(df, "id", "stratum", Map("a" -> 16, "b" -> 2))
      .groupBy("stratum").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == again)
  }

  test("deterministicSample is a stable subset with no shuffle") {
    val df = spark.range(2000).toDF("id")
    val s1 = SplitOps.deterministicSample(df, "id", 2).collect().map(_.getLong(0)).toSet
    val s2 = SplitOps.deterministicSample(df, "id", 2).collect().map(_.getLong(0)).toSet
    assert(s1 == s2, "sample must be stable across runs")
    assert(s1.size > 150 && s1.size < 350, s"2/16 of 2000 ± slack: ${s1.size}")
    val s4 = SplitOps.deterministicSample(df, "id", 4).collect().map(_.getLong(0)).toSet
    assert(s1.subsetOf(s4), "larger keep-rate must contain the smaller sample")
    val plan = SplitOps.deterministicSample(df, "id", 2).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"sampling must not shuffle:\n$plan")
  }
}

class DecontamOpsSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.DecontamOps

  test("docs sharing an n-gram with the benchmark are flagged with hit counts") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),  // contains the bench 3-gram twice-distinct? once
      (2L, "totally unrelated words here now"),
      (3L, "x y alpha beta gamma z"),          // shares "alpha beta gamma"
      (4L, "beta gamma delta words words")     // shares "beta gamma delta"
    ).toDF("doc_id", "text")
    val bench = Seq("alpha beta gamma delta").toDF("text") // 3-grams: {alpha beta gamma, beta gamma delta}
    val hits = DecontamOps.contaminationHits(docs, "text", "doc_id", bench, "text", n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits == Map(1L -> 2L, 3L -> 1L, 4L -> 1L))
    val clean = DecontamOps.decontaminated(docs, "text", "doc_id", bench, "text", n = 3)
      .collect().map(_.getLong(0)).toSet
    assert(clean == Set(2L))
  }

  test("contaminationReport aggregates per eval item with distinct doc and gram counts") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),   // shares both bench-10 3-grams
      (2L, "totally unrelated words here now"),
      (3L, "x y alpha beta gamma z"),           // shares one with bench 10
      (4L, "p q r mango nectar orange")         // shares one with bench 20
    ).toDF("doc_id", "text")
    val bench = Seq((10L, "alpha beta gamma delta"), (20L, "mango nectar orange"), (30L, "nothing matches this"))
      .toDF("bid", "text")
    val rep = DecontamOps.contaminationReport(docs, "text", "doc_id", bench, "text", "bid", n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // bench 10: docs {1,3}, grams {alpha beta gamma, beta gamma delta};
    // bench 20: doc {4}, gram {mango nectar orange}; bench 30: no row
    assert(rep == Set((10L, 2L, 2L), (20L, 1L, 1L)))
  }

  test("tokenBudgetSample admits a stable prefix per stratum within the budget") {
    import graft.operators.SplitOps
    val df = (0L until 40L).map(i => (i, if (i % 2 == 0) "en" else "fr", "w ".repeat(10).trim))
      .toDF("doc_id", "lang", "text")
    val out = SplitOps.tokenBudgetSample(df, "doc_id", "lang",
      tokens = org.apache.spark.sql.functions.lit(10L), budget = 55L, seed = "s")
    val got = out.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // 10 tokens/doc, budget 55 → exactly 5 docs per stratum, cum ≤ 50
    val byLang = got.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byLang == Map("en" -> 5, "fr" -> 5))
    assert(got.map(_._3).max == 50L)
    // replay-stable
    val again = SplitOps.tokenBudgetSample(df, "doc_id", "lang",
      tokens = org.apache.spark.sql.functions.lit(10L), budget = 55L, seed = "s")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
    // a different seed admits a different prefix
    val other = SplitOps.tokenBudgetSample(df, "doc_id", "lang",
      tokens = org.apache.spark.sql.functions.lit(10L), budget = 55L, seed = "t")
      .collect().map(_.getLong(0)).toSet
    assert(other != got.map(_._1).toSet)
  }

  test("benchmark side broadcasts (no corpus shuffle before the hit agg)") {
    val docs = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val bench = Seq("a b c").toDF("text")
    val plan = DecontamOps.contaminationHits(docs, "text", "doc_id", bench, "text", n = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"bench side must broadcast:\n$plan")
  }
}

class GraphOpsSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.GraphOps

  test("connected components: min-id labels, chains and isolated pairs") {
    // components: {1,2,3,4} via chain, {7,9}, {10,11,12} via triangle
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (9L, 7L), (10L, 11L), (11L, 12L), (10L, 12L))
      .toDF("a_id", "b_id")
    val cc = GraphOps.connectedComponents(edges, "a_id", "b_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 7L -> 7L, 9L -> 7L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("dupClusters groups members under the min-id keeper") {
    val edges = Seq((1L, 5L), (5L, 9L), (2L, 4L)).toDF("a_id", "b_id")
    val out = GraphOps.dupClusters(edges, "a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2))).toSet
    assert(out == Set((1L, Seq(1L, 5L, 9L), 3L), (2L, Seq(2L, 4L), 2L)))
  }

  test("applyPairDedup keeps one doc per cluster (min id) and all singletons") {
    import graft.operators.DedupOps
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 9L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    // overlapping pairs 1-5, 5-9 form ONE cluster {1,5,9}: naive drop-b
    // of every pair would drop 5 and 9 AND leave 1 — correct here, but
    // chain 2-4 plus 4-2 ordering and singleton 3 pin the general rule
    val pairs = Seq((1L, 5L), (5L, 9L), (2L, 4L)).toDF("a_id", "b_id")
    val kept = DedupOps.applyPairDedup(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L))
  }

  test("applyPairDedupPreferring keeps the highest-score member, ties to min id") {
    import graft.operators.DedupOps
    val docs = Seq((1L, 2.0), (5L, 9.0), (9L, 9.0), (2L, 1.0), (4L, 3.0), (7L, 0.0))
      .toDF("doc_id", "q")
    val pairs = Seq((1L, 5L), (5L, 9L), (2L, 4L)).toDF("a_id", "b_id")
    val kept = DedupOps.applyPairDedupPreferring(docs, "doc_id", pairs, score = col("q"))
      .select("doc_id").as[Long].collect().toSet
    // cluster {1,5,9}: 5 and 9 tie at q=9 → keep 5; cluster {2,4}: keep 4; singleton 7 stays
    assert(kept == Set(5L, 4L, 7L))
  }

  test("100-node path converges within the O(log diameter) pointer-jump bound") {
    // a path graph is the worst case for plain min-propagation (needs
    // diameter≈99 rounds); hook+jump closes a label deficit of 2^(r+1)-2
    // after r rounds, so 99 edges need ceil(log2(101))-1 = 6 rounds plus
    // one to observe convergence — maxIter=8 proves the jump step works
    // (plain propagation would return partially-merged labels here)
    val edges = (0L until 99L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val cc = GraphOps.connectedComponents(edges, "a_id", "b_id", maxIter = 8)
      .collect().map(r => r.getLong(1)).toSet
    assert(cc == Set(0L))
  }
}

class SessionOpsSpec extends SparkSpec {
  import spark.implicits._

  test("gap sessionization splits on gaps > threshold") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(m: Long) = new java.sql.Timestamp(base.getTime + m * 60000)
    val df = Seq(
      (1L, ts(0)), (1L, ts(10)), (1L, ts(50)), // gap 40min > 30min → new session
      (2L, ts(0))
    ).toDF("user_id", "ts")
    val out = SessionOps.sessionize(df, "user_id", "ts", gapSeconds = 1800)
      .orderBy("user_id", "session_idx").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 1L, 2L), (1L, 2L, 1L), (2L, 1L, 1L)))
  }
}

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("token counts: whitespace and BPE-ish") {
    val df = Seq("Hello,  world! 42 foo").toDF("text")
    val r = df.select(
      TextFunctions.tokenCount(col("text")).as("ws"),
      TextFunctions.bpeTokenCount(col("text")).as("bpe")).collect().head
    assert(r.getInt(0) == 4)
    // hello , world ! 4 2 foo → 7
    assert(r.getInt(1) == 7)
  }

  test("shingles of short and long docs") {
    val df = Seq("a b", "a b c d e").toDF("text")
    val r = df.select(TextFunctions.shingles(col("text"), 3).as("s")).collect()
    assert(r(0).getSeq[String](0) == Seq("a b"))
    assert(r(1).getSeq[String](0) == Seq("a b c", "b c d", "c d e"))
  }

  test("langId picks the language with most marker overlap") {
    val df = Seq(
      "the cat and the dog of it",
      "der hund und die katze ist nicht da",
      "el gato y el perro es una cosa",
      "xyzzy qwerty").toDF("text")
    val langs = df.select(TextFunctions.langId(col("text"))).collect().map(_.getString(0)).toSeq
    assert(langs == Seq("en", "de", "es", "und"))
  }

  test("fingerprint is whitespace/case-normalized") {
    val df = Seq(("A  b\tC", "a b c")).toDF("t1", "t2")
    val r = df.select(
      TextFunctions.fingerprint(col("t1")) === TextFunctions.fingerprint(col("t2"))).collect().head
    assert(r.getBoolean(0))
  }

  test("repetition ratio flags looping text, zero for short/unique docs") {
    val df = Seq(
      "buy now buy now buy now buy now", // 2-grams heavily repeated
      "one two three four five six",     // all 2-grams unique
      "a b").toDF("text")                // too short → 0
    val r = df.select(TextFunctions.repetitionRatio(col("text"), 2)).collect().map(_.getDouble(0))
    assert(r(0) > 0.5, s"looping text must score high, got ${r(0)}")
    assert(r(1) == 0.0 && r(2) == 0.0)
  }

  test("chunkTokens windows with overlap; short docs yield one chunk") {
    val df = Seq(
      "a b c d e f g h i j", // 10 tokens, size 4 overlap 1 → starts 0,3,6,9
      "a b").toDF("text")
    val r = df.select(TextFunctions.chunkTokens(TextFunctions.tokens(col("text")), 4, 1).as("c"))
      .collect()
    val long = r(0).getSeq[org.apache.spark.sql.Row](0)
    assert(long.map(_.getString(1)) == Seq("a b c d", "d e f g", "g h i j"))
    assert(long.map(_.getLong(2)) == Seq(4L, 4L, 4L))
    val short = r(1).getSeq[org.apache.spark.sql.Row](0)
    assert(short.map(_.getString(1)) == Seq("a b") && short.head.getLong(0) == 0L)
  }

  test("empty/whitespace docs: zero tokens, one empty chunk, zero ratios") {
    // pins the empty-doc convention the DuckDB oracles mirror with the
    // CASE WHEN len(norm)=0 THEN [] guard (round-2 advisor finding)
    val df = Seq("", "   \t  ").toDF("text")
    val r = df.select(
      TextFunctions.tokenCount(col("text")).as("n"),
      TextFunctions.chunkTokens(TextFunctions.tokens(col("text")), 32, 8).as("c"),
      TextFunctions.repetitionRatio(col("text"), 2).as("rep"),
      TextFunctions.qualityScore(col("text")).as("q")).collect()
    r.foreach { row =>
      assert(row.getInt(0) == 0)
      val chunks = row.getSeq[org.apache.spark.sql.Row](1)
      assert(chunks.size == 1 && chunks.head.getString(1) == "" && chunks.head.getLong(2) == 0L)
      assert(row.getDouble(2) == 0.0)
      assert(row.getDouble(3) == 0.3) // only the punct-free term contributes
    }
  }

  test("pii scrub replaces emails, urls and long digit runs; counts match") {
    val df = Seq("mail a.b+c@foo-bar.org or visit https://x.io/p?q=1 acct 1234567890 done").toDF("text")
    val r = df.select(
      TextFunctions.scrubPii(col("text")).as("s"),
      TextFunctions.piiCounts(col("text")).as("c")).collect().head
    assert(r.getString(0) == "mail <EMAIL> or visit <URL> acct <NUM> done")
    val c = r.getStruct(1)
    assert(c.getLong(0) == 1 && c.getLong(1) == 1 && c.getLong(2) == 1)
  }

  test("quality score is in [0,1] and favors stopword-rich text") {
    val df = Seq(
      "the cat and the dog of it was that in is it a to", // stopword-rich
      "%%% ^^^ &&& *** ((( )))").toDF("text")
    val scores = df.select(TextFunctions.qualityScore(col("text"))).collect().map(_.getDouble(0))
    assert(scores.forall(s => s >= 0.0 && s <= 1.0))
    assert(scores(0) > scores(1))
  }
}

class MultimodalOpsSpec extends SparkSpec {
  import spark.implicits._

  test("partition-local decode emits deterministic fake metadata") {
    val df = Seq(("doc1", "hello world")).toDF("id", "text")
      .select(col("id"), encode(col("text"), "UTF-8").as("bin"))
    val out = MultimodalOps.decodePartitionLocal(df, "bin").collect().head
    val meta = out.getStruct(out.fieldIndex("media_meta"))
    assert(meta.getString(0) == "application/x-fake")
    assert(meta.getInt(1) == 11 % 640 + 1 && meta.getInt(2) == 11 % 480 + 1)
  }

  test("expression fake decode matches the partition-local kernel") {
    val df = Seq(("a", "some bytes here")).toDF("id", "text")
      .select(col("id"), encode(col("text"), "UTF-8").as("bin"))
    val a = MultimodalOps.fakeDecodeMeta(df, "bin").select("media_meta.width", "media_meta.n_frames").collect().head
    val b = MultimodalOps.decodePartitionLocal(df, "bin").select("media_meta.width", "media_meta.n_frames").collect().head
    assert(a == b)
  }

  test("resize and frame sampling rewrite the plan metadata") {
    val df = Seq(("a", "0123456789")).toDF("id", "text")
      .select(col("id"), encode(col("text"), "UTF-8").as("bin"))
    val decoded = MultimodalOps.fakeDecodeMeta(df, "bin")
    val resized = MultimodalOps.resizeMeta(decoded, 224, 224).select("media_meta.width").collect().head
    assert(resized.getInt(0) == 224)
    val sampled = MultimodalOps.frameSamplePlan(decoded, stride = 2).select("sampled_frames").collect().head
    assert(sampled.getSeq[Int](0) == Seq(0, 2, 4, 6, 8, 10))
  }
}

class SkewOpsSpec extends SparkSpec {
  import spark.implicits._

  test("saltedAgg equals plain agg on skewed keys") {
    val df = (Seq.fill(500)(("hot", 1.0)) ++ Seq(("cold", 2.0), ("cold", 3.0))).toDF("k", "v")
    val out = SkewOps.saltedAgg(df, Seq("k"), 8,
      partialAggs = Seq(org.apache.spark.sql.functions.sum("v").as("s"),
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n")),
      finalAggs = Seq(org.apache.spark.sql.functions.sum("s").as("s"),
        org.apache.spark.sql.functions.sum("n").as("n")))
      .orderBy("k").collect()
    assert(out.map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq ==
      Seq(("cold", 5.0, 2L), ("hot", 500.0, 500L)))
  }

  test("saltedJoin equals plain join") {
    val fact = (Seq.fill(200)(("hot", 1)) ++ Seq(("cold", 2))).toDF("k", "x")
    val dim = Seq(("hot", "H"), ("cold", "C"), ("unused", "U")).toDF("k", "label")
    val salted = SkewOps.saltedJoin(fact, dim, "k", 8)
    val plain = fact.join(dim, Seq("k"))
    assert(salted.count() == plain.count())
    assert(salted.groupBy("label").count().collect().map(r => (r.getString(0), r.getLong(1))).toMap ==
      Map("H" -> 200L, "C" -> 1L))
  }
}

class DotProductExprSpec extends SparkSpec {
  import spark.implicits._

  test("native dot product matches HOF computation bit-for-bit") {
    val df = Seq((Array(1.1, -2.2, 3.3), Array(0.5, 4.0, -1.25))).toDF("a", "b")
    val hof = df.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0), (acc, x) => acc + x))
      .collect().head.getDouble(0)
    val native = df.select(VectorFunctions.dot(col("a"), col("b"))).collect().head.getDouble(0)
    assert(native == hof)
    assert(native == 1.1 * 0.5 + -2.2 * 4.0 + 3.3 * -1.25)
  }

  test("graft_dot registers as a SQL function via SparkSessionExtensions") {
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions {})
    // direct registry injection on the live session for the test
    val (id, info, builder) = GraftExtensions.functions.find(_._1.funcName == "graft_dot").get
    spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    val r = spark.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").collect().head
    assert(r.getDouble(0) == 11.0)
  }

  test("all graft_* sketch functions register and evaluate from SQL") {
    GraftExtensions.functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
    val row = spark.sql(
      """SELECT
        | size(graft_hashed_shingles(array('a','b','c','d'), 2)) AS n_sh,
        | graft_simhash(array('a','b','c')) AS sh,
        | size(graft_minhash_sig(graft_hashed_shingles(array('a','b','c','d'), 2), 16)) AS k,
        | graft_hyperplane_bucket(array(1.0d, -2.0d), 8, 0) AS hb
        |""".stripMargin).collect().head
    assert(row.getInt(0) == 3)  // 3 distinct 2-shingles of 4 tokens
    assert(row.getInt(2) == 16) // k minhash lanes
    // values themselves are pinned by the operator specs; here we pin
    // that SQL-path evaluation works and is deterministic
    val again = spark.sql("SELECT graft_simhash(array('a','b','c'))").collect().head.getLong(0)
    assert(again == row.getLong(1))
  }

  test("null and length-mismatch semantics") {
    val df = spark.sql("SELECT CAST(NULL AS ARRAY<DOUBLE>) AS a, array(1.0d) AS b, array(1.0d, 2.0d) AS c")
    assert(df.select(VectorFunctions.dot(col("a"), col("b"))).collect().head.isNullAt(0))
    assert(df.select(VectorFunctions.dot(col("b"), col("c"))).collect().head.getDouble(0) == 1.0)
  }
}
