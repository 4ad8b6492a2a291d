package graft

import graft.operators.{CorpusOps, SimilarityOps}
import org.apache.spark.sql.functions._

/** Round-10 operator specs. */
class Round10OpsSpec extends SparkSpec {
  import spark.implicits._

  test("semanticDedup oversized-cell guard: sub-banded pairs ≡ the unguarded join") {
    // the k-means-collapse shape the guard exists for: nCells = 1 puts
    // EVERY vector on one join key. 30 random vectors + a shift-perturbed
    // near-copy of each (cosine ≈0.9988) — some but not all rows prune.
    val r = new scala.util.Random(11)
    val dim = 8
    val base = (0 until 30).map(i => (i.toLong, Seq.tabulate(dim)(_ => r.nextGaussian())))
    val copies = base.map { case (id, v) =>
      (id + 1000, v.zipWithIndex.map { case (x, j) => x + 0.05 * v((j + 1) % dim) })
    }
    val df = (base ++ copies).toDF("id", "vec").repartition(3)
    def survivors(cellCap: Int = 4096, cellSplits: Int = 16) =
      SimilarityOps.semanticDedup(df, "id", "vec", nCells = 1, tau = 0.99,
        cellCap = cellCap, cellSplits = cellSplits)
        .collect().map(_.getLong(0)).sorted.toSeq
    // default cap (4096): 60 rows stay under it → the plain-self-join path
    val unguarded = survivors()
    assert(unguarded.nonEmpty && unguarded.size < 60, "some but not all rows must prune")
    // force the 60-row cell over an 8-row cap → the sub-banded overflow
    // path (xxhash64-chunk grid join) must yield the IDENTICAL survivors
    assert(survivors(cellCap = 8, cellSplits = 4) == unguarded)
  }

  test("rebuildSemDedupIndex: retrain catches the cross-cell dup the frozen geometry missed") {
    import graft.operators.{BucketOps, VectorIndexOps}
    val pfx = "graft_r10_semrebuild"
    BucketOps.dropTable(spark, s"${pfx}_cells")
    BucketOps.dropTable(spark, s"${pfx}_centroids")
    // a STALE index: ids 1 and 2 are near-dups (cos ≈ 0.9988) that the
    // bootstrap geometry placed in DIFFERENT cells — the cross-cell miss
    // drift aggravates; id 3 is orthogonal to both
    val v1 = Seq(1.0, 0.0, 0.0, 0.0)
    val n2 = math.sqrt(1.0 + 0.05 * 0.05)
    val v2 = Seq(1.0 / n2, 0.05 / n2, 0.0, 0.0)
    val v3 = Seq(0.0, 0.0, 1.0, 0.0)
    val cells = Seq((1L, 0, 1.0, v1), (2L, 1, 0.9, v2), (3L, 1, 0.8, v3))
      .toDF("id", "cell", "cent_sim", "unit")
    BucketOps.writeBucketed(cells, s"${pfx}_cells", 2, Seq("cell"), Seq("cell"))
    Seq((0, v1), (1, v3)).toDF("cell", "centroid")
      .write.format("parquet").saveAsTable(s"${pfx}_centroids")
    val idx = VectorIndexOps.SemDedupIndex(s"${pfx}_cells", s"${pfx}_centroids", 2, 0.99)
    // the stale geometry cannot see the 1-2 pair: both survive a probe-
    // free world — rebuild at nCells=1 co-locates and prunes one of them
    val rebuilt = VectorIndexOps.rebuildSemDedupIndex(spark, idx, nCells = 1, numBuckets = 2)
    val kept = spark.table(rebuilt.cellsTable).select("id").collect().map(_.getLong(0)).toSet
    assert(kept.size == 2 && kept.contains(3L) && kept.intersect(Set(1L, 2L)).size == 1,
      s"rebuild must collapse the cross-cell dup: kept $kept")
    // the rebuilt generation serves probes: a near-copy of survivor 3
    // lands in its cell and is dropped against the index
    val probe = Seq((9L, Seq(0.0, 0.05, 1.0, 0.0))).toDF("id", "v")
    val fate = VectorIndexOps
      .probeSemDedupIndex(probe, "id", "v", rebuilt, update = false, numBuckets = 2)
      .head()
    assert(fate.getAs[String]("verdict") == "dropped_index")
  }

  test("scrubWinnowedSpans: interior of a shared run scrubbed, ≤ w−1 edge tokens survive") {
    // doc 1 owns the 12-token run; doc 2 embeds it between unique
    // framing tokens. k = w = 4 ⇒ the run's interior tiles completely:
    // at least 12 − 2·3 = 6 tokens scrubbed, never more than the run.
    val run = (1 to 12).map(i => s"r$i").mkString(" ")
    val docs = Seq(
      (1L, s"$run own tail words"),
      (2L, s"lead in tokens $run closing pair"),
      (3L, "fully unrelated vocabulary nothing shared at all here"))
      .toDF("doc_id", "text").repartition(2)
    val out = CorpusOps.scrubWinnowedSpans(docs, "doc_id", "text", k = 4, w = 4)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_removed") == 0L, "the owner keeps its copy")
    assert(out(3L).getAs[Long]("n_removed") == 0L, "unshared docs untouched")
    val removed2 = out(2L).getAs[Long]("n_removed")
    assert(removed2 >= 6L && removed2 <= 12L,
      s"interior coverage with ≤ w−1 slack per edge: removed $removed2")
    // no framing token is ever scrubbed (extents stay inside the run)
    val scrubbed2 = out(2L).getAs[String]("scrubbed")
    Seq("lead", "in", "tokens", "closing", "pair").foreach(t =>
      assert(scrubbed2.split(" ").contains(t), s"framing token '$t' must survive"))
  }

  test("cross-modal pair verdicts: exact copy = both; length-shifting edit = text_only") {
    import graft.operators.{DedupOps, MultimodalOps}
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega " +
      "one two three four five six seven eight nine ten eleven twelve"
    val docs = Seq(
      (1L, base),
      (2L, base), // byte-identical → dup in both modalities
      // one token swapped for one of a DIFFERENT length: 3-gram jaccard
      // stays ≥ 0.8 (3 of ~34 shingles change) but every phash sample
      // after the edit shifts position → hamming blows past 8
      (3L, base.replace("omicron", "extraordinarily-long-replacement-token")))
      .toDF("doc_id", "text")
    val textPairs = DedupOps.minhashDupPairs(docs, "text", "doc_id", threshold = 0.8,
        shingleSize = 3, numBands = 16, rowsPerBand = 3)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mediaPairs = MultimodalOps.phashDupPairs(docs, "doc_id", "text", maxHamming = 8)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(textPairs.contains((1L, 2L)) && mediaPairs.contains((1L, 2L)), "exact copy: both")
    assert(textPairs.contains((1L, 3L)), "token swap keeps jaccard high")
    assert(!mediaPairs.contains((1L, 3L)), "length shift moves every later sample")
  }

  test("gopherReport: each rule fires on its designed failure, any_rule is the union") {
    val twenty = (1 to 20).map(i => s"word$i").mkString(" ")
    val docs = Seq(
      // 24 distinct 1-7 char words incl. two stopwords → passes all
      (1L, "the quick brown fox jumps over a lazy dog while seven other " +
        "animals watch from nearby hills during sunny spring days without any worry"),
      (2L, "short doc"),                              // word_count + stopwords + top-share
      (3L, s"$twenty extraordinarily"),               // max_word_len (15 > 7) + no stopwords
      (4L, ("dup " * 30).trim + " the a end filler")  // top_token_share (30·5 > 34)
    ).toDF("doc_id", "text")
    val r = CorpusOps.gopherReport(docs, "text")
      .collect().map(x => x.getString(0) -> x.getLong(2)).toMap
    assert(r("word_count") == 1L, s"doc 2 only: $r")
    assert(r("max_word_len") == 1L, s"doc 3 only: $r")
    assert(r("stopwords_min2") == 2L, s"docs 2 and 3: $r")
    assert(r("top_token_share") == 2L, s"docs 2 and 4: $r")
    assert(r("mean_word_len") == 0L, s"none: $r")
    assert(r("any_rule") == 3L, s"docs 2, 3, 4: $r")
  }

  test("kCenterGreedy: farthest-first order, nonincreasing radius, min-id start") {
    val vecs = Seq(
      (10L, Seq(1.0, 0.0)),                    // e1 — min id, the seed
      (20L, Seq(0.0, 1.0)),                    // orthogonal: farthest from e1
      (30L, Seq(math.sqrt(0.5), math.sqrt(0.5))), // the midpoint
      (40L, Seq(0.99, 0.1))                    // hugs e1 — picked last
    ).toDF("id", "v").repartition(2)
    val rows = SimilarityOps.kCenterGreedy(vecs, "id", "v", k = 4)
      .orderBy("step").collect()
    assert(rows.map(_.getLong(1)).toSeq == Seq(10L, 20L, 30L, 40L))
    assert(rows.head.getDouble(2) == 0.0)
    val radii = rows.tail.map(_.getDouble(2))
    assert(radii.zip(radii.tail).forall { case (a, b) => a >= b },
      s"radius must be nonincreasing: ${radii.toSeq}")
    assert(math.abs(radii(0) - 1.0) < 1e-9) // e2 ⊥ e1
  }

  test("driver-side BPE trainer ≡ the unrolled distributed rounds, merge for merge") {
    // overlap-heavy corpus: repeated runs force the greedy left-to-right
    // application corner ("aaaa" + (a,a) → [aa][aa]) and tf-weighted ties
    val docs = Seq(
      (1L, "the cat sat on the mat with the catapult"),
      (2L, "aaaa aaa banana bandana the theme there"),
      (3L, "low lower lowest newer newest widest wide"),
      (4L, "the the the cat cat mat aaaa theme")
    ).toDF("doc_id", "text").repartition(2)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy("step")
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    val distributed = rows(CorpusOps.bpeTrain(docs, "text", steps = 12))
    val driverSide = rows(CorpusOps.bpeTrainDriverSide(docs, "text", steps = 12))
    assert(driverSide == distributed)
    assert(distributed.size == 12)
    // the maxVocab guard fails loud, not silently-truncated
    val e = intercept[IllegalArgumentException](
      CorpusOps.bpeTrainDriverSide(docs, "text", steps = 2, maxVocab = 3))
    assert(e.getMessage.contains("maxVocab"))
  }
}
