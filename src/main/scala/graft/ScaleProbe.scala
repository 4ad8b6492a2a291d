package graft

import graft.operators.{Ckpt, CorpusOps, DriftOps, MaintOps, SimilarityOps, SkewOps, StatsOps}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale probe: run the shuffle-bearing operator cores over the
  * `synth://` DSv2 source at increasing row counts and report per-row
  * throughput. The claim under test is the §5 posture — each operator is
  * one/two hash-partitioned shuffles with map-side reduction, so per-row
  * cost must stay FLAT across a 10× scale-up (no super-linear term from
  * self-joins, windows over whole tables, or driver collects). Zero-I/O
  * input isolates operator cost from storage.
  *
  * Usage: `tools/runjava.sh graft.ScaleProbe [only=p1,p2] [rowsA rowsB ...]`
  */
object ScaleProbe {
  def main(rawArgs: Array[String]): Unit = {
    val (onlyArgs, args) = rawArgs.partition(_.startsWith("only="))
    val only: Option[Set[String]] = onlyArgs.headOption.map(_.stripPrefix("only=").split(",").toSet)
    val cpus = GraftSession.defaultCpus
    // TypedImperativeAggregate partials (q-digest/CMS/MG sketches) fall
    // back to SORT-based aggregation once >128 groups live in a task's
    // hash map — a full row sort that dwarfs the sketch fold. Raising
    // the threshold keeps the object-hash path for slice counts any
    // real per-day/per-shard sketch build sees.
    val spark = GraftSession.local(cpus, "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "4096")

    val scales = if (args.nonEmpty) args.map(_.toLong).toSeq else Seq(2000000L, 20000000L)

    def synth(rows: Long): DataFrame =
      spark.read.format("graft.sources.v2.SyntheticTableProvider")
        .option("rows", rows).option("partitions", cpus * 4).load()

    def time(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime(); val n = f; ((System.nanoTime() - t0) / 1e9, n)
    }

    // Payload-heavy shuffles (64-double unit vectors, exploded coverage
    // rows) need the PRODUCTION partitioning posture — shuffle partitions
    // proportional to bytes — or a fixed-count local run measures sort
    // spill, not operator shape. AQE coalesces the small scale back down,
    // so flatness claims stay honest.
    def withScaledPartitions[A](rows: Long)(f: => A): A = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions",
        math.max(cpus, (rows / 250000L).toInt).toString)
      try f finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }

    // deterministic synthetic documents: 24 pseudo-words drawn from a
    // 5000-word vocabulary by id arithmetic — text-pipeline probes get
    // realistic shingle mass with zero I/O
    def synthDocs(rows: Long): DataFrame =
      synth(rows).select(col("id"), concat_ws(" ",
        transform(sequence(lit(1), lit(24)),
          i => concat(lit("w"), pmod(col("id") * i, lit(5000)).cast("string")))).as("text"))

    // deterministic synthetic embeddings: 64 floats from id arithmetic
    def synthVecs(rows: Long): DataFrame =
      synth(rows).select(col("id"),
        transform(sequence(lit(1), lit(64)),
          i => (pmod(col("id") * i, lit(1000)).cast("double") / 500.0 - 1.0)).as("vec"))

    // 90%-boilerplate corpus: 9 of 10 docs share a fixed 16-word prefix, so
    // its 8-gram shingles each occur in 0.9·rows documents — the hot-key
    // stress dedup_spans' df computation must stay flat under
    def synthHotDocs(rows: Long): DataFrame = {
      val boiler = (1 to 16).map(i => s"b$i").mkString(" ")
      val tail = concat_ws(" ",
        transform(sequence(lit(1), lit(8)),
          i => concat(lit("u"), (col("id") * 8 + i).cast("string"))))
      synth(rows).select(col("id"),
        when(pmod(col("id"), lit(10)) < 9, concat(lit(boiler + " "), tail))
          .otherwise(tail).as("text"))
    }

    // near-unique token stream: distinct-token count ≈ row count (typo/id
    // long tail) — the regime where a broadcast-hinted df table OOMs
    def synthWideVocabDocs(rows: Long): DataFrame =
      synth(rows).select(col("id"), concat_ws(" ",
        transform(sequence(lit(1), lit(12)),
          i => concat(lit("w"), pmod(col("id") * i, lit(rows)).cast("string")))).as("text"))

    // 50% byte-identical rows (one duplicated heavy hitter) — the workload
    // where row-hash salting alone collapses back to one salt bucket
    def synthDupRows(rows: Long): DataFrame =
      synth(rows).select(
        when(pmod(col("id"), lit(2)) === 0, lit(42L)).otherwise(pmod(col("id"), lit(1000))).as("bucket"),
        when(pmod(col("id"), lit(2)) === 0, lit(0.0)).otherwise(col("value")).as("value"))

    val allProbes: Seq[(String, Long => Long)] = Seq(
      "hyperplane_buckets" -> { rows =>
        // map-side LSH bucket assignment (native expression) + tiny agg —
        // the corpus-side shape of vector dedup/ANN indexing
        synthVecs(rows)
          .select(graft.functions.VectorFunctions.hyperplaneBucket(col("vec"), nBits = 12, seed = 0).as("b"))
          .groupBy("b").count().count()
      },
      "minhash_signatures" -> { rows =>
        graft.operators.DedupOps
          .minhashSignatures(synthDocs(rows), "text", "id", shingleSize = 3, k = 32).count()
      },
      "dup_span_stats" -> { rows =>
        CorpusOps.duplicatedSpanStats(synthDocs(rows), "id", "text", n = 8).count()
      },
      "line_dedup_hot" -> { rows =>
        // 90%-boilerplate corpus through segment-granular boilerplate
        // removal: the shared prefix makes a handful of segments carry
        // df≈0.9·rows — they must die in the two-level partial-agged df
        // groupBy and an anti join, never a per-segment hot window
        val segs = synthHotDocs(rows)
          .select(col("id"), graft.functions.TextFunctions.tokens(col("text")).as("tk"))
          .select(col("id"),
            graft.functions.TextFunctions.segmentsFromTokens(col("tk"), 3).as("segs"))
        CorpusOps.removeBoilerplateSegments(segs, "id", "segs", maxDf = 20).count()
      },
      "bm25_topk" -> { rows =>
        // retrieval over the synthetic vocabulary: cost must track the
        // token scan (query-term filter collapses the joined side long
        // before the per-doc aggregation)
        CorpusOps.bm25TopK(synthDocs(rows), "id", "text",
          Seq("w1", "w2", "w3"), k = 50).count()
      },
      "exact_sum" -> { rows =>
        // q1's aggregate shape: exact decimal sums of doubles into few
        // groups — per-row cost is ExactSum's long fast path, so it must
        // stay flat (collected, so the sums are not pruned away)
        synth(rows).groupBy("bucket")
          .agg(graft.queries.Inputs.dsum(col("value"), 2).as("s2"),
            graft.queries.Inputs.dsum(col("value") * 1.07, 6).as("s6"))
          .collect().length.toLong
      },
      "dup_span_stats_hot" -> { rows =>
        // 90% of docs share one boilerplate prefix: per-row throughput must
        // stay near the uniform dup_span_stats case (the count-window shape
        // this replaced funneled 0.9·rows through ONE reducer here)
        CorpusOps.duplicatedSpanStats(synthHotDocs(rows), "id", "text", n = 8).count()
      },
      "containment_hot" -> { rows =>
        // 90%-boilerplate corpus through containment blocking: the hot
        // shingles must die in the partial-agged df filter, never a
        // one-reducer window (the round-4 de-skew fix)
        graft.operators.DedupOps.containmentPairs(synthHotDocs(rows), "text", "id",
          threshold = 0.9, shingleSize = 3, maxDf = 20).count()
      },
      "tfidf_wide_vocab" -> { rows =>
        // distinct-token count ≈ rows: the df table CANNOT be broadcast;
        // flat throughput here certifies the unhinted shuffle-join path
        CorpusOps.tfidfTopTerms(synthWideVocabDocs(rows), "id", "text").count()
      },
      "exact_dedup_groupby" -> { rows =>
        synth(rows).groupBy("tag").agg(min("id").as("keep")).count()
      },
      "cap_per_key_topk" -> { rows =>
        CorpusOps.capPerKey(synth(rows).select("id", "bucket", "value"),
          "bucket", Seq(col("value").desc, col("id").asc), k = 10).count()
      },
      "salted_agg" -> { rows =>
        SkewOps.saltedAgg(synth(rows).select("bucket", "value"), Seq("bucket"), 32,
          Seq(sum("value").as("ps"), count(lit(1)).as("pn")),
          Seq(sum("ps").as("sv"), sum("pn").as("n"))).count()
      },
      "salted_agg_dup50" -> { rows =>
        // 50% byte-identical rows, row-hash salt only: the duplicated heavy
        // hitter collapses to ONE salt bucket — the baseline the
        // discriminator variant below is measured against
        SkewOps.saltedAgg(synthDupRows(rows), Seq("bucket"), 32,
          Seq(sum("value").as("ps"), count(lit(1)).as("pn")),
          Seq(sum("ps").as("sv"), sum("pn").as("n"))).count()
      },
      "salted_agg_dup50_disc" -> { rows =>
        // same workload + spark_partition_id() discriminator: identical
        // rows from different input partitions spread across salt buckets
        SkewOps.saltedAgg(synthDupRows(rows), Seq("bucket"), 32,
          Seq(sum("value").as("ps"), count(lit(1)).as("pn")),
          Seq(sum("ps").as("sv"), sum("pn").as("n")),
          discriminator = Some(spark_partition_id())).count()
      },
      "curation_pipeline" -> { rows =>
        // composed end-to-end shape: funnel-filter → exact dedup →
        // duplicated-span stats → per-stratum cap, chained as one plan
        val docs = synthDocs(rows).withColumn("stratum", pmod(col("id"), lit(50)))
        val kept = docs.filter(length(col("text")) > 40)
        val wDedup = org.apache.spark.sql.expressions.Window.partitionBy("__h").orderBy("id")
        val deduped = kept
          .withColumn("__h", xxhash64(col("text")))
          .withColumn("__rn", row_number().over(wDedup))
          .filter(col("__rn") === 1).drop("__h", "__rn")
        val spans = CorpusOps.duplicatedSpanStats(deduped, "id", "text", n = 8)
        val lowDup = deduped.join(spans.filter(col("dup_fraction") < 0.5).select("doc_id"),
          deduped("id") === col("doc_id"))
        CorpusOps.capPerKey(lowDup.select("id", "stratum", "text"),
          "stratum", Seq(col("id").asc), k = 100000).count()
      },
      "exact_stats_moments" -> { rows =>
        StatsOps.exactStats(synth(rows).select(col("bucket"), col("value"),
          (col("value") * 0.5).as("v2")), Seq("bucket"), col("value"), col("v2")).count()
      },
      "incremental_probe" -> { rows =>
        // daily-delta shape at ratio 1:20 — index build once per probe
        // call (the dominant cost is honest: signature + bucketed
        // write), then the delta probed Exchange-free. Two scale rules a
        // deployment would also apply: bucket count grows with the
        // corpus (one file per bucket ⇒ buckets ARE the write
        // parallelism), and the corpus has BOUNDED duplicate classes —
        // filler vocabulary ∝ rows so distinct seeds are dissimilar,
        // each batch doc matches O(1) base docs, and the true pair count
        // is linear in the batch. (A small fixed vocabulary makes every
        // doc a 0.9-jaccard near-dup of rows/vocab others — quadratic
        // pair output BY CONSTRUCTION, measuring the corpus, not the
        // operator; found the hard way at 5000 words.)
        def textOf(seed: Column) = concat_ws(" ",
          ((0 until 23).map(j => concat(lit("w"), pmod(seed * (j + 7) + j, lit(rows)))) :+
            concat(lit("u"), seed)): _*)
        val base = synth(rows).select(col("id"), textOf(col("id")).as("text"))
        val batch = synth(rows / 20).select(
          (col("id") + 3000000000L).as("id"),
          when(pmod(col("id"), lit(2)) === 0, textOf(pmod(col("id") * 37, lit(rows))))
            .otherwise(textOf(col("id") + 2000000000L)).as("text"))
        val nBuckets = math.max(8, (rows / 125000).toInt)
        val I = graft.operators.IncrementalDedupOps
        val sh = graft.operators.DedupOps.shingleSets(_: DataFrame, "text", "id", 3)
        val idx = I.buildIndexOf(sh(base).transform(Ckpt.eagerCkpt),
          "probe_inc_idx", numBuckets = nBuckets, numBands = 8, rowsPerBand = 4)
        I.probeOf(sh(batch).transform(Ckpt.lazyCkpt), idx,
          threshold = 0.9, numBands = 8, rowsPerBand = 4).count()
      },
      "shuffle_permutation" -> { rows =>
        // seeded global permutation position assignment: bucket-parallel
        // ranks + broadcast offsets — flat throughput certifies there is
        // no global-window single-partition funnel in the position path
        graft.operators.ExportOps.permutation(synth(rows).select("id"), "id", seed = "probe").count()
      },
      "cc_clusters" -> { rows =>
        // chained dup pairs in size-8 clusters (the realistic near-dup
        // component shape): per-round cost of hook+jump+convergence-check;
        // the round-5 change reads convergence off the round's checkpoint
        // blocks instead of a next×labels shuffle join
        val edges = synth(rows)
          .filter(pmod(col("id"), lit(8)) =!= 7)
          .select(col("id").as("a"), (col("id") + 1).as("b"))
        graft.operators.GraphOps.connectedComponents(edges, "a", "b").count()
      },
      "token_drift" -> { rows =>
        // two-slice drift through the single-scan conditional agg: flat
        // throughput certifies the corpus is scanned once and no
        // full-outer token join crept back in
        val sliced = synthDocs(rows).withColumn("slice",
          when(pmod(col("id"), lit(2)) === 0, lit("ref")).otherwise(lit("cur")))
        DriftOps.tokenDrift(sliced, "text", "slice", "ref", "cur", topK = 50).count()
      },
      "corpus_signatures" -> { rows =>
        // mergeable per-slice minhash, 10 slices × k=64: the k-way
        // explode runs on the DEDUPLICATED (slice, token) frame, so
        // md5 mass tracks vocabulary (bounded), not the corpus
        val sliced = synthDocs(rows).withColumn("slice", pmod(col("id"), lit(10)).cast("string"))
        DriftOps.corpusSignatures(sliced, "text", "slice", k = 64).count()
      },
      "random_projection" -> { rows =>
        // zero-shuffle literal-sign projection 64→8: cost must track the
        // pure per-row multiply-fold (no hashing in the row path)
        SimilarityOps.randomProjection(synthVecs(rows), "id", "vec",
          dim = 64, outDims = 8, seed = "p").count()
      },
      "agg_maint_merge" -> { rows =>
        // daily maintenance shape: state(rows) ⊕ delta(rows/20) — cost
        // tracks the two agg scans + one key join, never raw history
        val st = MaintOps.aggState(synth(rows).select("bucket", "value"), Seq("bucket"), "value")
        val delta = MaintOps.aggState(synth(rows / 20).select("bucket", "value"), Seq("bucket"), "value")
        MaintOps.mergeState(st, delta, Seq("bucket")).count()
      },
      "interval_overlap" -> { rows =>
        // bucketized interval×interval join, spans ≈ bucket width so
        // replication stays O(1): per-row cost must track the explode +
        // one hash join, never a cross product or a dedup pass
        val l = synth(rows).select(col("id").as("lid"),
          (col("id") * 1000L).as("ls"), (col("id") * 1000L + 800L).as("le"))
        val r = synth(rows / 10).select(col("id").as("rid"),
          (col("id") * 10000L).as("rs"), (col("id") * 10000L + 5000L).as("re"))
        graft.operators.JoinOps
          .intervalOverlapJoin(l, r, Nil, "ls", "le", "rs", "re", bucketWidth = 1000L).count()
      },
      "rolling_zscore" -> { rows =>
        // decimal window moments over 1000 keys: one keyed sort, both
        // moment windows ride it — flat per-row cost certifies no
        // second shuffle crept in
        StatsOps.rollingZScore(
          synth(rows).select(col("bucket").as("k"), col("id"), col("value")),
          "k", Seq("id"), "value", window = 20, minN = 10, zThresh = 3.0).count()
      },
      "oov_rate" -> { rows =>
        // per-doc OOV against a top-1000 vocab: terms pre-agged once,
        // membership rides a broadcast — cost tracks the token scan
        CorpusOps.oovRate(synthDocs(rows), "id", "text", topV = 1000).count()
      },
      "prefix_filter" -> { rows =>
        // AllPairs prefix-filter join on a corpus with BOUNDED duplicate
        // classes (adjacent ids share a seed ⇒ linear true-pair count,
        // vocabulary ∝ rows ⇒ bounded shingle df): per-row cost must
        // track the df agg + prefix re-collect, never a pair blow-up
        def textOf(seed: Column) = concat_ws(" ",
          (0 until 16).map(j => concat(lit("w"), pmod(seed * (j + 5) + j, lit(rows)))): _*)
        val docs = synth(rows).select(col("id"),
          concat_ws(" ", textOf(expr("id div 2")),
            when(pmod(col("id"), lit(2)) === 0, lit("even")).otherwise(lit("odd"))).as("text"))
        graft.operators.DedupOps.prefixFilterJaccardPairs(docs, "text", "id",
          threshold = 0.8, shingleSize = 3).count()
      },
      "tf_cosine" -> { rows =>
        // the dedup_tf_cosine core (round-13 verdict item 7: the other
        // standing top cost beside prefix_filter) on the same corpus
        // recipe — id-div-2 twins ⇒ linear true-pair count, vocabulary
        // ∝ rows ⇒ bounded rare-shingle df: per-row cost must track the
        // df agg + two keyed posting joins, never a candidate blow-up
        def textOf(seed: Column) = concat_ws(" ",
          (0 until 16).map(j => concat(lit("w"), pmod(seed * (j + 5) + j, lit(rows)))): _*)
        val docs = synth(rows).select(col("id"),
          concat_ws(" ", textOf(expr("id div 2")),
            when(pmod(col("id"), lit(2)) === 0, lit("even")).otherwise(lit("odd"))).as("text"))
        // posting-table shuffles are payload-heavy (token×doc rows):
        // production-posture partition counts, or the 20M point measures
        // one task's hash-agg ceiling instead of the operator shape
        withScaledPartitions(rows) {
          graft.operators.DedupOps.tfCosinePairs(docs, "text", "id",
            maxDf = 20, shingleSize = 3, threshold = 0.9).count()
        }
      },
      "triangle_census" -> { rows =>
        // bounded-degree triangle chain on a rows/4-node line graph
        // (edges v→v+1, v→v+2 ⇒ ~rows/4 triangles, max degree 4): cost
        // must track the edge scan + wedge join, with no hot-vertex
        // fanout by construction. Node count is rows/4 (not rows) so the
        // probe's three materialized frames (edges/oriented/wedges) fit
        // this single 16g JVM at the 20M top scale — at rows-sized node
        // counts the 20M point measured GC-thrash, not the algorithm.
        val v = graft.operators.RankOps.idiv(col("id"), 4)
        val e1 = synth(rows).select(v.as("x"), (v + 1L).as("y"))
        val e2 = synth(rows).select(v.as("x"), (v + 2L).as("y"))
        graft.operators.GraphOps.triangleStats(e1.unionAll(e2), "x", "y")
          .head().getAs[Long]("n_triangles")
      },
      "misra_gries" -> { rows =>
        // zipf-ish key stream (key j freq ∝ 1/j) through the k=256 MG
        // sketch: map-side fold + 1-row merge — per-row cost must be flat
        // (the sketch never shuffles the key domain)
        synth(rows)
          .select(concat(lit("k"), expr(s"$rows div (pmod(id, $rows) + 1)")).as("tok"))
          .agg(graft.functions.SketchAggregates.misraGries(col("tok"), 256).as("mg"))
          .select(size(map_keys(col("mg"))).cast("long").as("n")).head().getAs[Long]("n")
      },
      "ngram_novelty" -> { rows =>
        // min-owner window on the shingle hash: the one shuffle is the
        // shingle repartition; no gram×gram join may appear
        import org.apache.spark.sql.expressions.Window
        synthDocs(rows)
          .select(col("id"),
            explode(array_distinct(
              graft.functions.TextFunctions.shingles(col("text"), 3))).as("g"))
          .withColumn("first_doc", min("id").over(Window.partitionBy("g")))
          .groupBy("id")
          .agg(count(lit(1)).as("n"),
            sum(when(col("first_doc") === col("id"), 1L).otherwise(0L)).as("nn"))
          .count()
      },
      "qdigest_sketch" -> { rows =>
        // per-slice q-digest rows merged to corpus quantiles: map-side
        // sketch fold, slice-count merge — the key domain (distinct
        // values) never shuffles, so per-row cost must be flat
        import graft.functions.QuantileSketch._
        synth(rows)
          // 32 slices = the daily-sketch-rows realism point; a dense
          // sketch per (task x slice) partial is the memory cost driver,
          // so slice cardinality per task stays modest by design
          .select(pmod(col("id"), lit(32)).as("slice"),
            pmod(col("id") * 2654435761L, lit(1000000L)).as("v"))
          .groupBy("slice").agg(qdigest(col("v"), 20, 512).as("sk"))
          .agg(qdigestMerge(col("sk"), 20, 512).as("sk"))
          .select(qdigestQuantile(col("sk"), 0.5, 20).as("q"))
          .head().getAs[Long]("q")
      },
      "cms_sketch" -> { rows =>
        // per-slice CMS rows merged element-wise: the 4×2048 counter
        // array is the only state that moves
        import graft.functions.CountMinSketch._
        synth(rows)
          .select(pmod(col("id"), lit(32)).as("slice"),
            pmod(col("id") * 31L, lit(rows)).as("k"))
          .groupBy("slice").agg(cms(col("k"), 4, 2048).as("sk"))
          .agg(cmsMerge(col("sk"), 4, 2048).as("sk"))
          .select(cmsEstimate(col("sk"), lit(7L), 4, 2048).as("e"))
          .head().getAs[Long]("e")
      },
      "fk_audit_stacked" -> { rows =>
        // the fk-audit core: stacked (edge,key) pairs from one scan,
        // key-domain groupBy, left join against a parent key set with
        // 10% orphans — cost tracks the key domain, not fact rows
        val child = synth(rows).select(
          inline(array(
            struct(lit("e1").as("fk"), pmod(col("id"), lit(rows / 10 + 1)).as("k")),
            struct(lit("e2").as("fk"), pmod(col("id") * 7, lit(1000L)).as("k")))))
        val parents = synth(rows / 10 + 1).select(lit("e1").as("fk"), col("id").as("k"))
          .filter(pmod(col("k"), lit(10)) =!= 0)
          .unionAll(synth(1000L).select(lit("e2").as("fk"), col("id").as("k")))
          .withColumn("hit", lit(1))
        child.groupBy("fk", "k").agg(count(lit(1)).as("c"))
          .join(parents, Seq("fk", "k"), "left")
          .groupBy("fk")
          .agg(sum("c").as("n_rows"),
            coalesce(sum(when(col("hit").isNull, col("c"))), lit(0L)).as("n_orphans"))
          .count()
      },
      "ks_drift" -> { rows =>
        // exact KS over 64 slices × 1000-value domain: one row shuffle
        // into (slice,v) counts, then value-domain-grid windows only
        DriftOps.ksDistance(
          synth(rows).select(pmod(col("id"), lit(64)).cast("string").as("src"),
            pmod(col("id") * 13L, lit(1000L)).as("v")),
          "src", "v").count()
      },
      "pq_assign" -> { rows =>
        // PQ code assignment via the NATIVE codegen kernel (PqKernel) —
        // pure map-side; per-row cost must be flat and ~100x the
        // interpreted-HOF form this replaced
        val J = 8; val C = 16; val K = 8
        val cb = (for (j <- 0 until J; c <- 0 until C; kk <- 0 until K)
          yield ((j * 37 + c * 11 + kk) % 2001 - 1000) / 1000.0).toArray
        synthVecs(rows)
          .select(graft.functions.PqFunctions.pqCodes(col("vec"), cb, J, C).as("codes"))
          .select(expr("aggregate(codes, 0L, (a, x) -> a + x)").as("codesum"))
          .groupBy("codesum").count().count()
      },
      "bootstrap_resample" -> { rows =>
        // x16 in-row multiplicity expand + ONE groupBy(b): the one-pass
        // resampling shape; cost must track rows x B, no per-resample scan
        synth(rows)
          .select(col("id"), col("value"),
            explode(sequence(lit(1), lit(16))).as("b"))
          .withColumn("m", pmod(col("id") * col("b") * 2654435761L, lit(4L)))
          .groupBy("b")
          .agg(sum(col("m") * col("value")).as("s"), sum("m").as("n"))
          .count()
      },
      "auc_exact" -> { rows =>
        // Mann-Whitney AUC over a 2000-point score domain, 8 groups: the
        // only row-sized shuffle is the (group,score) count agg
        StatsOps.aucExact(
          synth(rows).select(pmod(col("id"), lit(8)).cast("string").as("g"),
            pmod(col("id") * 17L, lit(2000L)).as("s"),
            (pmod(col("id"), lit(3)) === 0).as("lab")),
          "g", "s", "lab").count()
      },
      "bfs_layers" -> { rows =>
        // frontier-layer BFS over rows/8 disjoint 8-node chains, seeded
        // at chain heads: 7 rounds, each a frontier×edges join + min-agg
        // + anti-join — per-row cost must stay flat (work per round is
        // one frontier layer, never the settled set re-traversed)
        val edges = synth(rows).filter(pmod(col("id"), lit(8)) =!= 7)
          .select(col("id").as("a"), (col("id") + 1).as("b"))
        val seeds = synth(rows).filter(pmod(col("id"), lit(8)) === 0)
          .select(col("id"))
        graft.operators.GraphOps.bfsDistances(edges, seeds, "a", "b", maxIter = 9).count()
      },
      "sssp_relax" -> { rows =>
        // bounded-hop Bellman-Ford over the same chain family with
        // integer weights: fixed 7 relax rounds of join + min-agg; cost
        // tracks edges×rounds with no convergence scans
        val edges = synth(rows).filter(pmod(col("id"), lit(8)) =!= 7)
          .select(col("id").as("a"), (col("id") + 1).as("b"),
            (pmod(col("id"), lit(5)) + 1).as("w"))
        val seeds = synth(rows).filter(pmod(col("id"), lit(8)) === 0)
          .select(col("id"))
        graft.operators.GraphOps.boundedShortestPaths(edges, seeds, "a", "b", "w", maxHops = 7)
          .count()
      },
      "quantile_norm_domain" -> { rows =>
        // cross-source quantile normalization shape: per-(source,value)
        // and global value-domain frames (32×1000 / 1000 rows) carry the
        // windows; the row-sized work is two hash aggs + one broadcast
        // join back — per-row cost flat
        import org.apache.spark.sql.expressions.Window
        val docs = synth(rows).select(col("bucket").as("source"),
          pmod(col("id") * 31L, lit(1000L)).as("v"))
        val srcDom = docs.groupBy("source", "v").agg(count(lit(1)).as("cnt"))
        val ws = Window.partitionBy("source").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, -1)
        val srcRank = srcDom
          .withColumn("rank_min", coalesce(sum("cnt").over(ws), lit(0L)) + 1)
          .withColumn("n_s", sum("cnt").over(Window.partitionBy("source")))
        val glob = docs.groupBy("v").agg(count(lit(1)).as("gcnt"))
          .withColumn("cum_before",
            coalesce(sum("gcnt").over(Window.orderBy("v")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select(col("v").as("gv"), col("cum_before"))
        val target = srcRank.join(broadcast(glob),
          srcRank("rank_min") > glob("cum_before"))
          .groupBy("source", "v").agg(count(lit(1)).as("k"))
        docs.join(broadcast(target), Seq("source", "v")).count()
      },
      "tcloseness_grid" -> { rows =>
        // privacy-audit shape: row-sized cell/class aggs, then all work
        // on the class×segment grid (1024×10) — per-row cost must track
        // the two hash aggs only
        val cust = synth(rows).select(pmod(col("id"), lit(1024L)).as("cls"),
          col("tag").as("seg"))
        val cls = cust.groupBy("cls").agg(count(lit(1)).as("n_c"))
        val cell = cust.groupBy("cls", "seg").agg(count(lit(1)).as("n_cs"))
        cls.join(cell, "cls").groupBy("cls")
          .agg(sum("n_cs").as("chk")).count()
      },
      "fd_stack" -> { rows =>
        // FD-audit shape: 4-way in-row stack explode + (fd,key) agg with
        // distinct — cost tracks 4×rows through ONE scan, no re-reads
        val den = synth(rows)
        val stacked = den.select(explode(array(
          struct(lit("a").as("fd"), col("id").cast("string").as("k"), col("tag").as("v")),
          struct(lit("b").as("fd"), col("bucket").cast("string").as("k"), col("tag").as("v")),
          struct(lit("c").as("fd"), col("tag").as("k"), col("tag").as("v")),
          struct(lit("d").as("fd"), col("bucket").cast("string").as("k"),
            col("id").cast("string").as("v")))).as("p"))
          .select(col("p.fd").as("fd"), col("p.k").as("k"), col("p.v").as("v"))
        stacked.groupBy("fd", "k").agg(countDistinct("v").as("nd"))
          .groupBy("fd").agg(sum(when(col("nd") > 1, 1L).otherwise(0L)).as("viol"))
          .count()
      },
      "banded_global_rank" -> { rows =>
        // the round-8 global-rank core (RankOps.bandedRankCum): rank +
        // running sum over the FULL row set ordered (v desc, id asc) via
        // two-level banding (bounded-domain v + id div 4096 sub-band).
        // Per-row cost must stay flat — the shape it replaces
        // (Window.orderBy with no partition) funnels every row through
        // ONE sort task (see contrast_rank_1part for its number; the
        // banded/1-part gap widens with rows and with executor count).
        val df = synth(rows).select(col("id"),
            pmod(col("id") * 31L, lit(1000L)).as("v"),
            pmod(col("id"), lit(997L)).as("x"))
          // sub-band width × v-domain ⇒ ~1024-row bands and a rows/1024
          // band table: the sub granularity must be chosen relative to
          // the leading band column's domain (1000 here), or the band
          // table itself grows toward row count
          .withColumn("sub", graft.operators.RankOps.idiv(col("id"), 1L << 20))
        graft.operators.RankOps.bandedRankCum(df,
          bandCols = Seq("v", "sub"),
          bandSort = Seq(col("v").desc, col("sub").asc),
          rowSort = Seq(col("id").asc),
          cumCols = Seq("x"))
          // aggregate OVER the rank columns: a bare count() would let
          // column pruning delete the windows being measured
          .agg(sum(col("rank") + col("cum_before_x"))).head().getLong(0)
      },
      "contrast_rank_1part" -> { rows =>
        // CONTRAST, not a regression gate (excluded from the worst-
        // retention line): the pre-round-8 single-partition global rank
        // over the same input. All rows sort in one task — throughput is
        // capped by one core however many executors exist; documented so
        // the banded core's flatness is meaningful.
        import org.apache.spark.sql.expressions.Window
        val df = synth(rows).select(col("id"),
          pmod(col("id") * 31L, lit(1000L)).as("v"),
          pmod(col("id"), lit(997L)).as("x"))
        val w = Window.orderBy(col("v").desc, col("id").asc)
        df.withColumn("rank", row_number().over(w).cast("long"))
          .withColumn("cum", sum("x").over(w.rowsBetween(Window.unboundedPreceding, -1)))
          .agg(sum(col("rank") + col("cum"))).head().getLong(0)
      },
      "session_window_native" -> { rows =>
        // built-in session_window aggregation: user-keyed session agg
        // over synthetic event times — the native SessionWindowing path
        // must scale with rows (one shuffle + in-partition session sort)
        synth(rows)
          .select(pmod(col("id"), lit(65536L)).as("user_id"),
            timestamp_micros(col("id") * 1000000L + pmod(col("id") * 7L, lit(900L)) * 1000000L).as("ts"))
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
          .agg(count(lit(1)).as("n"))
          .groupBy().count().count()
      },
      "semantic_prune" -> { rows =>
        // SemDeDup's shuffle-bearing core (pruneCells) at CONSTANT cell
        // width (25): one shuffle on cell, pair work = rows × width →
        // flat per row (25 × 20M = 500M native 64-dim dots at the top
        // scale — width bounds the budget, flatness is the claim). The
        // full operator adds nCells dots/row for assignment; with the
        // paper's nCells ≈ √n sizing total work is O(n^1.5) BY DESIGN —
        // this pins the machinery that could silently regress to
        // all-pairs.
        withScaledPartitions(rows) {
          val cells = synthVecs(rows).select(
            col("id"),
            (col("id") / lit(25L)).cast("long").as("cell"),
            round(pmod(col("id") * 7L, lit(1000L)).cast("double") / 1000.0, 6).as("cent_sim"),
            graft.functions.VectorFunctions.unitNormalize(col("vec")).as("unit"))
          SimilarityOps.pruneCells(cells, tau = 0.99).groupBy().count().head().getLong(0)
        }
      },
      "ivfpq_index" -> { rows =>
        // persisted IVF-PQ end-to-end at corpus = rows/10: ONE corpus
        // pass (unit + assign + residual-code projection over plan
        // literals) + the bucketed coded write, then a 64-query probe
        // whose ADC stage scans only the codes column of nProbe/nCells
        // of the index before the candidate-sized exact rerank. Build
        // cost per corpus row must stay flat; the probe is
        // corpus-fraction-bounded by construction (the claim is that
        // NOTHING in the path regresses to a full-precision corpus
        // scan at query time).
        withScaledPartitions(rows / 10) {
          val corpus = synthVecs(rows / 10)
          val idx = graft.operators.VectorIndexOps.buildIvfPqIndex(
            corpus, "id", "vec", "probe_ivfpq_idx", nCells = 64,
            numBuckets = math.max(8, (rows / 1250000L).toInt),
            subspaces = 16, codes = 16)
          val queries = corpus.filter(col("id") < 64)
          graft.operators.VectorIndexOps.probeIvfPq(spark, queries, "id", "vec",
            idx, k = 10, nProbe = 4, nCandidates = 256).count()
        }
      },
      "linkage_blocked" -> { rows =>
        // Fellegi–Sunter candidate scoring at constant block width (8):
        // one equi-join on the blocking key, comparators are map-side
        // integer/levenshtein predicates over rows × width pairs
        val side = synth(rows).select(col("id"),
          (col("id") / lit(8L)).cast("long").as("blk"),
          concat(lit("n"), pmod(col("id"), lit(9973L)).cast("string")).as("nm"),
          pmod(col("id") * 31L, lit(25L)).as("nat"),
          pmod(col("id") * 7L, lit(100000L)).as("cents"))
        val a = side.select(col("id").as("a_id"), col("blk"), col("nm").as("a_nm"),
          col("nat").as("a_nat"), col("cents").as("a_cents"))
        val b = side.select(col("id").as("b_id"), col("blk"), col("nm").as("b_nm"),
          col("nat").as("b_nat"), col("cents").as("b_cents"))
        graft.operators.LinkageOps.fellegiSunter(a, b, "blk", _ => Seq(
            graft.operators.LinkageOps.FieldRule("name",
              levenshtein(col("a_nm"), col("b_nm")) <= 1, 994L, -564L),
            graft.operators.LinkageOps.FieldRule("nation",
              col("a_nat") === col("b_nat"), 457L, -426L),
            graft.operators.LinkageOps.FieldRule("acct",
              abs(col("a_cents") - col("b_cents")) <= 100, 649L, -330L)),
            matchBp = 800L, possibleBp = 0L)
          .filter(col("decision") === "match")
          .groupBy().count().head().getLong(0)
      },
      "span_scrub_hot" -> { rows =>
        // exact-substring scrub with a 10%-boilerplate slice: the shared
        // 8-gram spans still have df ≈ 0.1·rows (a brutal hot key for the
        // min-id ownership agg), while coverage explode stays ~0.7·rows
        // (at 90% boiler the COVERAGE table itself is ~65·rows — a
        // corpus that is mostly one duplicated span, not a probe of the
        // scrub machinery). Partitions scale with rows: the anti-join
        // sorts the positions table, which is ~17 rows per doc.
        val boiler = (1 to 16).map(i => s"b$i").mkString(" ")
        val tail10 = concat_ws(" ",
          transform(sequence(lit(1), lit(8)),
            i => concat(lit("u"), (col("id") * 8 + i).cast("string"))))
        val docs = synth(rows).select(col("id"),
          when(pmod(col("id"), lit(10)) === 0, concat(lit(boiler + " "), tail10))
            .otherwise(tail10).as("text"))
        withScaledPartitions(rows) {
          CorpusOps.scrubDuplicatedSpans(docs, "id", "text", n = 8)
            .agg(sum(length(col("scrubbed"))), sum(col("n_removed"))).head()
        }
        rows
      },
      "kmv_slices" -> { rows =>
        // mergeable per-slice KMV distinct sketches: map-side k-min fold,
        // k longs per (partition, slice) — the overlap-estimation shape
        synth(rows)
          .groupBy(pmod(col("id"), lit(512L)).as("slice"))
          .agg(graft.functions.SketchAggregates.kmvSketch(col("value"), 256).as("sk"))
          .groupBy().count().head().getLong(0)
      },
      "winnow_fingerprints" -> { rows =>
        // winnowing selection core: positioned gram hash (md5 exactly
        // once per gram — posexplode rows, never a re-inlinable HOF) +
        // per-doc w-row min windows → one shuffle on the doc id; the
        // downstream hash-bucket pair-gen shares the guarded
        // allBucketPairs machinery probed elsewhere. 10% of docs share
        // a planted 7-token run so selected-hash duplicate mass is real.
        val run = (1 to 7).map(i => s"r$i").mkString(" ")
        val tail16 = concat_ws(" ",
          transform(sequence(lit(1), lit(16)),
            i => concat(lit("u"), (col("id") * 16 + i).cast("string"))))
        val docs = synth(rows).select(col("id"),
          when(pmod(col("id"), lit(10)) === 0, concat(lit(run + " "), tail16))
            .otherwise(tail16).as("text"))
        withScaledPartitions(rows) {
          graft.operators.DedupOps.winnowFingerprints(docs, "text", "id", k = 4, w = 4)
            .groupBy().count().head().getLong(0)
        }
      },
      "winnow_index_probe" -> { rows =>
        // the row-339 daily-delta shape: fingerprint the base ONCE into
        // the bucketed (fp_hash, id) catalog, probe a 1:20 delta with
        // the index side Exchange-free. Duplicate classes are BOUNDED
        // (the incremental_probe lesson): every 10th base doc embeds a
        // 7-token run keyed by its id-div-200 group (≤ 20 docs per
        // class), and half the delta probes one class each — so true
        // index hits are linear in the delta, and the probe measures
        // the operator, not a quadratic corpus. A corpus-wide
        // boilerplate fingerprint would make the TRUE pair set itself
        // quadratic — no pair-emitting operator can beat its own
        // output size; cap classes upstream (row 76's domain cap) if
        // the corpus has one.
        def runOf(g: Column) = concat_ws(" ",
          transform(sequence(lit(1), lit(7)),
            j => concat(lit("r"), g.cast("string"), lit("x"), j.cast("string"))))
        // per-side unique filler: the batch tail MUST derive from the
        // OFFSET id (the incremental_probe +2e9 disjoint-seed
        // convention) — a shared pre-offset seed would give every delta
        // doc a 16-token run matching its base twin, turning every row
        // into a true index hit instead of only the designed half
        def tail16(idExpr: Column) = concat_ws(" ",
          transform(sequence(lit(1), lit(16)),
            i => concat(lit("u"), (idExpr * 16 + i).cast("string"))))
        val nGroups = math.max(1L, rows / 200)
        val base = synth(rows).select(col("id"),
          when(pmod(col("id"), lit(10)) === 0,
            concat(runOf(expr("id div 200")), lit(" "), tail16(col("id"))))
            .otherwise(tail16(col("id"))).as("text"))
        val batchTail = tail16(col("id") + 3000000000L)
        val batch = synth(rows / 20).select(
          (col("id") + 3000000000L).as("id"),
          when(pmod(col("id"), lit(2)) === 0,
            concat(runOf(pmod(col("id") * 7, lit(nGroups))), lit(" "), batchTail))
            .otherwise(batchTail).as("text"))
        val nBuckets = math.max(8, (rows / 125000).toInt)
        val fps = graft.operators.DedupOps.winnowHashes(_: DataFrame, "text", "id", 4, 4)
        val tbl = "probe_winc_idx_fps"
        graft.operators.IncrementalDedupOps.buildWinnowIndexOf(fps(base), tbl, numBuckets = nBuckets)
        graft.operators.IncrementalDedupOps.probeWinnowIndexOf(
          fps(batch).transform(Ckpt.lazyCkpt), tbl, minShared = 1).count()
      },
      "dsir_fit_score" -> { rows =>
        // DSIR fit+score: two exploded-gram partial aggs (bucket counts,
        // per-doc weights) + a broadcast lr join — per-row cost must
        // stay flat; target slice is 10% of docs
        val text = concat_ws(" ",
          transform(sequence(lit(1), lit(12)),
            i => concat(lit("w"), pmod(col("id") * 7 + i, lit(5000L)).cast("string"))))
        val docs = synth(rows).select(col("id"), text.as("text"))
        withScaledPartitions(rows) {
          graft.operators.SelectionOps.dsirScores(docs, "id", "text",
              isTarget = pmod(col("id"), lit(10L)) === 0, buckets = 1024, seed = "sp")
            .groupBy().count().head().getLong(0)
        }
      },
      "dgim_closed_form" -> { rows =>
        // the events_dgim core: per-key recency ranking (ONE sort per
        // key — the only rows-sized work) + the log-sized closed-form
        // digit grid joined back for bucket timestamps. Per-row cost
        // must stay flat: the grid is 40×2 rows per key regardless of
        // n, so everything after the rank window is key-count-sized.
        import org.apache.spark.sql.expressions.Window
        val keys = 512L
        val ev = synth(rows).select(pmod(col("id"), lit(keys)).as("k"),
          (col("id") * 1000L).as("ts_us"), col("id").as("event_id"))
        val w = Window.partitionBy("k").orderBy(col("ts_us").desc, col("event_id").desc)
        val ones = ev.withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("k")))
          .withColumn("mx", max("ts_us").over(Window.partitionBy("k")))
          .transform(Ckpt.lazyCkpt)
        val grid = ones.select(col("k"), col("n"), col("mx")).distinct()
          .select(col("k"), col("n"), col("mx"),
            explode(sequence(lit(0), lit(39))).as("i"))
          .withColumn("p2", expr("shiftleft(1L, i)"))
          .withColumn("r", expr("(n + 1) div p2 - 1"))
          .filter(col("r") >= 1)
          .select(col("*"), explode(sequence(lit(1), lit(2))).as("t"))
          .filter(col("t") <= lit(2) - pmod(col("r"), lit(2)))
          .withColumn("np", col("n") - col("r") * col("p2") + (col("t") - 1) * col("p2") + 1)
        withScaledPartitions(rows) {
          grid.join(ones.select(col("k"), col("rn").as("np"), col("ts_us").as("bts")),
              Seq("k", "np"))
            .groupBy().count().head().getLong(0)
        }
      },
      "probe_fit_moments" -> { rows =>
        // closed-form probe training: one map-side-combined moment agg
        // + one broadcast eval agg — both single global aggregates, so
        // per-row cost must be flat and the reduce side constant-size
        val feats = synth(rows).select(col("id"),
          pmod(col("id") * 13L, lit(200L)).as("x1"),
          pmod(col("id") * 7L, lit(12L)).as("x2"),
          (pmod(col("id"), lit(3L)) === 0).as("flag"))
        graft.operators.StatsOps.linearProbeFit(feats,
            col("x1"), col("x2"), when(col("flag"), 1L).otherwise(0L))
          .head().getLong(0)
      },
      "phash_signatures" -> { rows =>
        // aHash signature core: native single-pass 126-sample kernel +
        // two partial-agg groupBys on the id (mean, bit fold) — per-row
        // cost must stay flat; payloads ~150 chars
        val text = concat_ws(" ",
          transform(sequence(lit(1), lit(20)),
            i => concat(lit("w"), pmod(col("id") * 13 + i, lit(9973L)).cast("string"))))
        val docs = synth(rows).select(col("id"), text.as("payload"))
        withScaledPartitions(rows) {
          graft.operators.MultimodalOps.aHashSignatures(docs, "id", "payload")
            .groupBy().count().head().getLong(0)
        }
      },
      "bpe_round" -> { rows =>
        // one BPE training round's cost core over a corpus-scan-derived
        // vocab: tokenize → (word, tf) agg → pair expansion + pair agg.
        // The vocab is rows-bounded here (worst case: every word
        // distinct), so flat per-row cost proves a round is linear in
        // the vocab — the loop multiplies by a CONSTANT step count.
        val text = concat_ws(" ",
          transform(sequence(lit(1), lit(8)),
            i => concat(lit("tok"), pmod(col("id") * 31 + i * 7, lit(50000L)).cast("string"))))
        val docs = synth(rows).select(col("id"), text.as("text"))
        withScaledPartitions(rows) {
          graft.operators.CorpusOps.bpeTrain(docs, "text", steps = 1)
            .groupBy().count().head().getLong(0)
        }
      },
      "acceptance_two_stage" -> { rows =>
        // the data_acceptance_sampling core after the round-12 verdict
        // item-1 rewrite: both draws are rank PREDICATES over capPerKey
        // (map-side partial WindowGroupLimit heaps truncate every task
        // to ≤ k rows per source BEFORE the exchange), and stage 2
        // excludes stage 1 by a broadcast anti-join of ≤ 20·|sources|
        // ids — so per-row cost stays flat however big the shard. The
        // pre-rewrite form ranked as a COLUMN (no group limit) and
        // full-sorted every shard twice to inspect 60 docs.
        val docs = synth(rows).select(col("id"),
          pmod(col("id"), lit(16L)).cast("string").as("source"),
          (pmod(col("id") * 31L, lit(100L)) < 5L).cast("int").as("bad"),
          conv(substring(md5(concat(lit("a1:"), col("id").cast("string"))), 1, 8), 16, 10)
            .cast("long").as("h1"),
          conv(substring(md5(concat(lit("a2:"), col("id").cast("string"))), 1, 8), 16, 10)
            .cast("long").as("h2"))
        withScaledPartitions(rows) {
          val s1 = CorpusOps.capPerKey(docs, "source",
            Seq(col("h1").asc, col("id").asc), 20)
          val s2 = CorpusOps.capPerKey(
            docs.join(broadcast(s1.select("id")), Seq("id"), "left_anti"),
            "source", Seq(col("h2").asc, col("id").asc), 40)
          s1.groupBy("source")
            .agg(count(lit(1)).as("n1"), sum("bad").as("k1"))
            .join(s2.groupBy("source")
              .agg(count(lit(1)).as("n2"), sum("bad").as("k2")), Seq("source"), "left")
            .count()
        }
      },
      "dp_release" -> { rows =>
        // DP aggregate release: one clipped groupBy agg + seeded-noise
        // projection — nothing here may grow super-linearly
        graft.operators.PrivacyOps.dpRelease(
            synth(rows).select(pmod(col("id"), lit(512L)).as("segment"),
              pmod(col("id") * 31L, lit(100000L)).as("v")),
            Seq("segment"), "v", clip = 50000L, epsCount = 0.5, epsSum = 0.5,
            releaseId = "probe")
          .groupBy().count().head().getLong(0)
      })

    val probes = only.fold(allProbes)(names => allProbes.filter(p => names.contains(p._1)))

    // JVM/codegen warmup at small scale
    probes.foreach { case (_, f) => f(100000L) }

    println(f"${"operator"}%-22s ${scales.map(s => f"${s / 1000000}%dM rows/s").mkString("  ")}")
    val lines = probes.map { case (name, f) =>
      val rates = scales.map { s =>
        val (sec, _) = time(f(s))
        s / sec / 1e6 // M rows/sec
      }
      val ratio = rates.last / rates.head
      println(f"$name%-22s ${rates.map(r => f"$r%8.3f M/s").mkString("  ")}  (10x ratio ${ratio}%.2f)")
      (name, rates, ratio)
    }
    // contrast_ probes exist to DOCUMENT a bad shape's number — they are
    // expected to lose throughput and must not masquerade as a regression
    val gated = lines.filterNot(_._1.startsWith("contrast_"))
    val worst = gated.minBy(_._3)
    println(f"[scaleprobe] worst per-row throughput retention across ${scales.last / scales.head}x: " +
      f"${worst._1} ${worst._3 * 100}%.0f%%")
    spark.stop()
  }
}
