package graft

import graft.operators.{ClusterOps, CorpusOps, DedupOps, IncrementalDedupOps}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class Round11OpsSpec extends SparkSpec {
  import spark.implicits._

  test("silhouetteReport: tight well-separated clusters score near 1, " +
    "mixed points score low, and the report matches a brute-force replay") {
    // 3 deterministic centroid seeds (smallest ids 0,1,2) + members
    // tightly packed around each; one point equidistant from two cells
    def v(c: Int, eps: Double) = Seq.tabulate(4)(j => (if (j == c) 10.0 else 0.0) + eps)
    val rows =
      Seq((0L, v(0, 0.0)), (1L, v(1, 0.0)), (2L, v(2, 0.0))) ++
        (3 to 8).map(i => (i.toLong, v(i % 3, 0.01 * (i - 2)))) :+
        (9L, Seq(5.0, 5.0, 0.0, 0.0)) // between cells 0 and 1 → s ≈ 0
    val df = rows.toDF("vec_id", "embedding")
    val got = ClusterOps.silhouetteReport(df, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    assert(got.map(_._1) == List(0L, 1L, 2L))
    assert(got.map(_._2).sum == rows.size)
    // brute-force replay with plain scala doubles (same rounding chain)
    val cents = rows.sortBy(_._1).take(3).map { case (id, cv) => (id, cv) }
    def d2(a: Seq[Double], b: Seq[Double]) =
      BigDecimal(a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + (x - y) * (x - y) })
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val sByCell = rows.map { case (_, vv) =>
      val ds = cents.map { case (cid, cv) => (d2(vv, cv), cid) }.sorted
      val (own, cid) = ds.head
      val other = ds.tail.map(_._1).min
      val s = if (math.max(own, other) == 0) 0.0
      else BigDecimal((other - own) / math.max(own, other))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (cid, s)
    }.groupBy(_._1).map { case (c, ss) =>
      // mirror the engine chain: exact decimal sum → double → double
      // division by n → round 6
      val mean = BigDecimal(
        ss.map(x => BigDecimal(x._2.toString)).sum.toDouble / ss.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (c, ss.size.toLong, mean)
    }.toList.sortBy(_._1)
    assert(got == sByCell)
    // the mixed point drags cell 0 or 1 below the tight cells' mean
    val means = got.map(x => x._1 -> x._3).toMap
    assert(means(2L) > 0.99)
    assert(means.values.forall(m => m >= -1.0 && m <= 1.0))
  }

  test("c4Report: each rule fires on its designed document and any_rule ORs them") {
    val docs = Seq(
      (1L, "Clean text with enough words. It has sentences. Three in fact."), // passes all
      (2L, "no terminal punctuation here at all. really. truly. end"),        // ends_terminal
      (3L, "One sentence only but plenty of words to pass the count."),       // min_sentences
      (4L, "Too short. Ok. Fine."),                                           // min_words (3<5? tokens: too,short,ok,fine = 4)
      (5L, "Lorem ipsum dolor sit amet. Second sentence here. Third one now."), // lorem_ipsum
      (6L, "Code sample { return x; } appears. More text. And more."),        // curly_brace
      (7L, "Read our cookie policy before browsing. Thanks a lot. Bye now.")  // policy_phrase
    ).toDF("doc_id", "text")
    val got = CorpusOps.c4Report(docs, "text")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.keySet == Set("ends_terminal", "min_sentences", "min_words",
      "lorem_ipsum", "curly_brace", "policy_phrase", "any_rule"))
    assert(got.values.forall(_._1 == 7L))
    assert(got("ends_terminal")._2 == 1L)
    assert(got("min_sentences")._2 == 1L)
    assert(got("min_words")._2 == 1L)
    assert(got("lorem_ipsum")._2 == 1L)
    assert(got("curly_brace")._2 == 1L)
    assert(got("policy_phrase")._2 == 1L)
    assert(got("any_rule")._2 == 6L)
  }

  test("bbitMinhashEval: identical docs agree on every bit (est = 1), " +
    "est stays within the binomial envelope of exact jaccard") {
    val run = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, run), (2L, run),                                  // jaccard 1.0
      (3L, run + " extra tail tokens here"), // high-overlap partner of 1/2
      (4L, (100 to 130).map(i => s"z$i").mkString(" "))      // unrelated
    ).toDF("doc_id", "text")
    val got = DedupOps.bbitMinhashEval(docs, "text", "doc_id")
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(got.contains((1L, 2L)), "identical pair must surface")
    val (agree12, est12, exact12, err12) = got((1L, 2L))
    assert(agree12 == 32L && est12 == 1.0 && exact12 == 1.0 && err12 == 0.0)
    // every reported pair: est within ±0.35 of exact (m=32 binomial
    // 4σ ≈ 0.35 at J≈0.8 — a deterministic dataset, so this is a fixed
    // assertion, not a flaky statistical one)
    got.values.foreach { case (_, est, exact, err) =>
      assert(err >= 0.0 && err <= 1.0)
      assert(math.abs(est - exact) <= 0.35, s"est=$est exact=$exact")
    }
    // unrelated doc 4 never pairs (below threshold)
    assert(!got.keySet.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("probeIvfPq against the persisted index equals the in-query " +
    "ivfPqRerankTopK; append folds a new generation under frozen geometry") {
    import graft.operators.{SimilarityOps, VectorIndexOps}
    // 64 vectors in 4 loose directions, dim 16 (divides into 4 subspaces)
    val r = new scala.util.Random(11)
    val dim = 16
    def mk(i: Int) = {
      val base = Array.tabulate(dim)(j => if (j % 4 == i % 4) 1.0 else 0.1)
      (i.toLong, base.map(x => x + 0.2 * r.nextGaussian()).toSeq)
    }
    val corpus = (0 until 64).map(mk).toDF("id", "vec")
    val queries = (0 until 6).map(mk).toDF("id", "vec") // same seeds 0-5
    val params = (8, 4, 4, 16) // nCells, nProbe, subspaces, codes
    val idx = VectorIndexOps.buildIvfPqIndex(corpus, "id", "vec",
      "graft_r11_ivfpq", nCells = 8, numBuckets = 2, subspaces = 4, codes = 16)
    val got = VectorIndexOps.probeIvfPq(spark, queries, "id", "vec", idx,
      k = 5, nProbe = 4, nCandidates = 24)
    val want = SimilarityOps.ivfPqRerankTopK(corpus, queries, "id", "vec",
      k = 5, nCells = 8, nProbe = 4, nCandidates = 24, subspaces = 4,
      codes = 16, iters = 4)
    assert(got.except(want).isEmpty && want.except(got).isEmpty,
      s"persisted probe must equal the in-query operator (params $params)")
    // geometry is reconstructed from the tables, never per-run params
    val reopened = VectorIndexOps.ivfPqIndexOf(spark, "graft_r11_ivfpq")
    assert(reopened == idx)
    // append: a scaled copy of QUERY 0 (identical unit vector → round-6
    // cosine exactly 1.0) must land under the frozen geometry and rank
    // first when query 0 probes again
    val twin = Seq((500L, queries.filter(col("id") === 0L)
      .head().getSeq[Double](1).map(_ * 1.001))).toDF("id", "vec")
    VectorIndexOps.appendToIvfPqIndex(twin, "id", "vec", idx, numBuckets = 2)
    assert(spark.table(idx.cellsTable).count() == 65)
    val probed = VectorIndexOps.probeIvfPq(spark,
      queries.filter(col("id") === 0L), "id", "vec", idx,
      k = 1, nProbe = 4, nCandidates = 24)
    assert(probed.head().getAs[Long]("neighbor_id") == 500L,
      "the appended near-copy must rank first for its twin query")
  }

  test("fimTransform: parts are non-empty, reassemble to the original " +
    "tokens, and cut points are deterministic across runs") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four"),
      (3L, "too short now"), // 3 < minTokens=4 → excluded
      (4L, "a b c d e f g h i j k l m n o p")
    ).toDF("doc_id", "text")
    val out = CorpusOps.fimTransform(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 4L))
    out.foreach { case (id, n, p, m, fim) =>
      assert(p >= 1 && m >= 1 && n - p - m >= 1, s"doc $id parts must be non-empty")
      // reassemble: PRE + MID + SUF in document order == original tokens
      val pre = fim.substring("<PRE> ".length, fim.indexOf(" <SUF> "))
      val suf = fim.substring(fim.indexOf(" <SUF> ") + " <SUF> ".length, fim.indexOf(" <MID> "))
      val mid = fim.substring(fim.indexOf(" <MID> ") + " <MID> ".length)
      val orig = docs.filter(col("doc_id") === id).head().getString(1)
        .toLowerCase.trim.split("\\s+").mkString(" ")
      assert(s"$pre $mid $suf" == orig, s"doc $id must reassemble")
      assert(pre.split(" ").length == p && mid.split(" ").length == m)
    }
    // determinism: a second run emits identical rows
    val again = CorpusOps.fimTransform(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(out.toSeq == again.toSeq)
  }

  test("spanCorrupt: sentinels splice back to the original tokens, short " +
    "blocks pass through, masking is deterministic") {
    val longDoc = (1 to 40).map(i => s"w$i").mkString(" ") // 2 full blocks
    val shortDoc = "just five little tokens here"          // 5 < 8 → unmasked
    val docs = Seq((1L, longDoc), (2L, shortDoc)).toDF("doc_id", "text")
    val got = CorpusOps.spanCorrupt(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getString(4)))
    val (id1, n1, t1, corr1, tgt1) = got(0)
    assert(id1 == 1L && n1 == 40L && t1 == 8L) // 2 blocks × (sentinel + 3 masked)
    // splice: replace each <X_b> in corrupted with its target span
    val spans = tgt1.split("<X_\\d+> ").filter(_.nonEmpty).map(_.trim)
    var rebuilt = corr1
    "<X_(\\d+)>".r.findAllMatchIn(corr1).map(_.group(1).toInt).toList.zip(spans)
      .foreach { case (b, span) => rebuilt = rebuilt.replace(s"<X_$b>", span) }
    assert(rebuilt == longDoc.toLowerCase, s"splice must rebuild: $rebuilt")
    val (_, n2, t2, corr2, tgt2) = got(1)
    assert(n2 == 5L && t2 == 0L && tgt2 == "" && corr2 == shortDoc)
    // determinism
    val again = CorpusOps.spanCorrupt(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(3), r.getString(4)))
    assert(again.toSeq == got.map(g => (g._1, g._4, g._5)).toSeq)
  }

  test("epochPlan: integer-exact targets and epoch ratios; oversampled " +
    "flags sources the budget would repeat") {
    val docs = Seq(
      (1L, "web", 100), (2L, "web", 100), (3L, "web", 100), // 300 tokens
      (4L, "code", 10), (5L, "code", 10),                   // 20 tokens
      (6L, "other", 999)                                    // unlisted → dropped
    ).toDF("id", "src", "n_tok")
    val got = graft.operators.SelectionOps.epochPlan(docs, "src", col("n_tok"),
        Map("web" -> 600000L, "code" -> 400000L), totalBudget = 100L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6))).toList
    // web: target = 600000*100 div 1e6 = 60 of 300 available → 200000 ppm
    // code: target = 40 of 20 available → 2000000 ppm → oversampled
    assert(got == List(
      ("code", 400000L, 2L, 20L, 40L, 2000000L, true),
      ("web", 600000L, 3L, 300L, 60L, 200000L, false)))
  }

  test("distinctNReport: hand-checked totals and distinct ratios per slice") {
    val docs = Seq(
      (1L, "en", "a b a b"),   // uni: 4 total, 2 distinct; bi: "a b","b a","a b" → 3 total 2 distinct
      (2L, "en", "c c"),       // uni: 2 total 1 distinct; bi: "c c" → 1 total 1 distinct
      (3L, "de", "x y z")      // uni: 3/3; bi: "x y","y z" → 2/2
    ).toDF("doc_id", "lang", "text")
    val got = CorpusOps.distinctNReport(docs, "text", "lang")
      .collect().map(r => ((r.getString(0), r.getInt(1)), (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got(("en", 1)) == ((6L, 3L, 500000L)))
    assert(got(("en", 2)) == ((4L, 3L, 750000L)))
    assert(got(("de", 1)) == ((3L, 3L, 1000000L)))
    assert(got(("de", 2)) == ((2L, 2L, 1000000L)))
  }

  test("knBigramTopK: components and probability match a hand replay; " +
    "p_kn interpolates toward frequent continuations") {
    // corpus: "a b" ×3, "a c" ×1, "d b" ×1  (as separate docs)
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a b"), (4L, "a c"), (5L, "d b"))
      .toDF("doc_id", "text")
    val got = CorpusOps.knBigramTopK(docs, "text", topK = 10)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getDouble(7)))).toMap
    // bigram types: (a,b) c=3, (a,c) c=1, (d,b) c=1 → n_types=3
    // c(a·)=4, N1+(a·)=2; c(d·)=1, N1+(d·)=1; N1+(·b)=2, N1+(·c)=1
    val (np, nlt, nltypes, nrt, nt, p) = got(("a", "b"))
    assert((np, nlt, nltypes, nrt, nt) == ((3L, 4L, 2L, 2L, 3L)))
    val expected = BigDecimal((3 - 0.75) / 4 + 0.75 * 2 / 4 * (2.0 / 3))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(p == expected)
    // the frequent continuation (·b) outranks (·c) through the backoff term
    assert(got(("a", "b"))._6 > got(("a", "c"))._6)
    assert(got(("d", "b"))._6 > 0.0)
  }

  test("streamingHeavyHitters: MG guarantees hold across micro-batches " +
    "and shard maps merge with the batch rule") {
    import graft.streaming.StreamOps
    import graft.streaming.StreamOps.TokenRow
    // shard 0: 'hot' is 40% of 100 rows (count 40 > 100/(k+1) at k=4);
    // tail tokens t0..t59 once each. shard 1: 'warm' 30 of 60.
    val s0 = (0 until 40).map(_ => TokenRow(0L, "hot")) ++
      (0 until 60).map(i => TokenRow(0L, s"t$i"))
    val s1 = (0 until 30).map(_ => TokenRow(1L, "warm")) ++
      (0 until 30).map(i => TokenRow(1L, s"u$i"))
    val all = new scala.util.Random(3).shuffle(s0 ++ s1)
    val (b1, b2) = all.splitAt(all.size / 2)
    implicit val sqlCtx = spark.sqlContext
    // the v2 arbitrary-state API needs the RocksDB state store
    val prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val in = MemoryStream[TokenRow]
    val q = StreamOps.streamingHeavyHitters(in.toDS(), k = 4).writeStream
      .format("memory").queryName("r11_mg").outputMode("append").start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally {
      q.stop()
      if (prev.isEmpty) spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      else spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    }
    // last emission per shard = the row with the highest running n_rows
    // (maps are not orderable in a struct max — pick driver-side)
    val byShard = spark.table("r11_mg").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getMap[String, Long](2).toMap))
      .groupBy(_._1).map { case (s, rs) =>
        val last = rs.maxBy(_._2); s -> ((last._2, last._3))
      }
    val (n0, m0) = byShard(0L)
    assert(n0 == 100L)
    assert(m0.contains("hot"), s"hot (40 > n/(k+1)=20) must survive: $m0")
    assert(m0("hot") <= 40L && 40L - m0("hot") <= n0 / 5,
      s"MG undercount bound violated: ${m0("hot")}")
    val (n1, m1) = byShard(1L)
    assert(n1 == 60L && m1.contains("warm") && m1("warm") <= 30L && 30L - m1("warm") <= n1 / 5)
    // shard maps merge with the batch rule (count-sum, keep top-k over cut)
    val merged = (m0.keySet ++ m1.keySet).map(t => t -> (m0.getOrElse(t, 0L) + m1.getOrElse(t, 0L)))
    assert(merged.toMap.get("hot").exists(_ >= m0("hot")))
  }

  test("winnowIndexDedupSink: stream-maintained index and survivors equal " +
    "the batch incremental chain; replayed batch ids are no-ops") {
    val run = "alpha beta gamma delta epsilon zeta eta" // 7 tokens ≥ w+k−1
    def mk(id: Long, tail: String) = (id, s"$run $tail")
    def uniq(id: Long) =
      (id, (0 to 7).map(j => s"u${id}x$j").mkString(" "))
    // day 0 base: docs 1-4 unique, doc 5 carries the shared run
    val day0 = (Seq(uniq(1L), uniq(2L), uniq(3L), uniq(4L), mk(5L, "tail five")))
      .toDF("id", "text")
    // delta 1: 10 is a shared-run dup of indexed 5 (must drop),
    //          11/12 share a NEW run with each other (one survives), 13 unique
    val newRun = "one two three four five six seven"
    val delta1 = Seq((10L, s"$run tail ten"),
      (11L, s"$newRun a b"), (12L, s"c $newRun"), uniq(13L))
    // delta 2: 20 dups delta-1 SURVIVOR 11 (index must have been
    // maintained), 21 unique
    val delta2 = Seq((20L, s"$newRun x y"), uniq(21L))

    def fps(df: org.apache.spark.sql.DataFrame) = DedupOps.winnowHashes(df, "text", "id", k = 4, w = 4)
    def buildBase(prefix: String) = {
      IncrementalDedupOps.buildWinnowIndexOf(fps(day0), s"${prefix}_fps", numBuckets = 2)
      s"${prefix}_fps"
    }

    // --- truth: the batch chain over the same deltas
    val truthTbl = buildBase("graft_r11_winnow_truth")
    def batchStep(rows: Seq[(Long, String)]): Seq[Long] = {
      val df = rows.toDF("id", "text")
      val dropIdx = IncrementalDedupOps
        .probeWinnowIndexOf(fps(df).transform(graft.operators.Ckpt.lazyCkpt), truthTbl, minShared = 1)
        .select(col("batch_id").as("__drop_id")).distinct()
      val clean = df.join(dropIdx, df("id") === col("__drop_id"), "left_anti")
      val pairs = DedupOps.winnowDupPairs(clean, "text", "id", 4, 4, 1)
        .select(col("a_id"), col("b_id"))
      val kept = DedupOps.applyPairDedup(clean, "id", pairs).localCheckpoint()
      IncrementalDedupOps.appendToWinnowIndexOf(fps(kept), truthTbl, 2)
      kept.select("id").collect().map(_.getLong(0)).toSeq.sorted
    }
    val truth1 = batchStep(delta1)
    val truth2 = batchStep(delta2)

    // --- live: the streaming sink over the same deltas
    val liveTbl = buildBase("graft_r11_winnow_live")
    val outDir = java.nio.file.Files.createTempDirectory("graft-r11-winnow-out").toString
    val commitDir = java.nio.file.Files.createTempDirectory("graft-r11-winnow-commits").toString
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("id", "text").writeStream
      .foreachBatch(IncrementalDedupOps.winnowIndexDedupSink(
        liveTbl, "text", "id", numBuckets = 2, outDir = outDir,
        commitDir = commitDir, minShared = 1))
      .start()
    try {
      in.addData(delta1: _*); q.processAllAvailable()
      in.addData(delta2: _*); q.processAllAvailable()
    } finally q.stop()

    val out = spark.read.parquet(outDir)
    val live1 = out.filter(col("__batch_id") === 0)
      .select("id").collect().map(_.getLong(0)).toSeq.sorted
    val live2 = out.filter(col("__batch_id") === 1)
      .select("id").collect().map(_.getLong(0)).toSeq.sorted
    assert(live1 == truth1, s"batch-0 survivors: stream=$live1 batch=$truth1")
    assert(live2 == truth2, s"batch-1 survivors: stream=$live2 batch=$truth2")
    assert(truth1 == Seq(11L, 13L) || truth1 == Seq(12L, 13L)) // 10 dropped vs index
    assert(!truth2.contains(20L), "delta-2 dup of a delta-1 survivor must drop")
    // index parity: stream-maintained fingerprints ≡ batch chain
    val a = spark.table(liveTbl).select("fp_hash", "id")
    val b = spark.table(truthTbl).select("fp_hash", "id")
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
    // replay immunity: re-delivering batch 0 changes nothing
    val before = spark.table(liveTbl).count()
    IncrementalDedupOps.winnowIndexDedupSink(liveTbl, "text", "id", 2,
      outDir, commitDir, minShared = 1)(delta1.toDF("id", "text"), 0L)
    assert(spark.table(liveTbl).count() == before, "replayed batch must be a no-op")
  }
}
