package graft.pipeline

import graft.operators.{DiffOps, FlattenOps}
import graft.sources.SourceRegistry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}

/** A declared ETL pipeline: named sources → named transforms → named sinks.
  *
  * Execution contract matches the reference CLI
  * (/root/reference/etl/src/main/scala/dev/mauch/spark/dfio/ETL.scala:100-130):
  *   - each source reads and registers a temp view under its name
  *     (default "source");
  *   - with no transforms, an implicit `source→sink` identity runs;
  *   - each transform reads view `in`, registers result as view `out`
  *     (defaults "source"/"sink");
  *   - sinks run in order and stop at the first failure; run() returns
  *     whether all sinks succeeded.
  *
  * Everything stays a lazy DataFrame plan until a sink materializes it, so
  * Catalyst sees the whole pipeline (pushdown through SQL transforms etc.).
  */
final case class Pipeline(
    sources: Seq[(String, SparkSession => DataFrame)],
    transforms: Seq[(String, String, DataFrame => DataFrame)],
    sinks: Seq[(String, DataFrame => Boolean)]
) {
  def run(spark: SparkSession): Boolean = {
    register(spark)
    val ok = sinks.takeWhile { case (name, wr) => wr(spark.table(name)) }
    ok.length == sinks.length
  }

  /** Convenience for tests/queries: run sources+transforms, return view. */
  def resultView(spark: SparkSession, view: String): DataFrame = {
    register(spark)
    spark.table(view)
  }

  /** Registers every source view, then every transform's output view. */
  private def register(spark: SparkSession): Unit = {
    sources.foreach { case (name, rd) => rd(spark).createOrReplaceTempView(name) }
    val effective =
      if (transforms.isEmpty) Seq(("source", "sink", identity[DataFrame] _))
      else transforms
    effective.foreach { case (in, out, fn) =>
      fn(spark.table(in)).createOrReplaceTempView(out)
    }
  }
}

object Pipeline {

  /** Transformer registry: scheme → DataFrame => DataFrame. The SQL
    * transformer registers its input as view `input` (reference
    * TransformerParser.scala:22-34) in addition to the named views.
    */
  def transformerFor(uri: Uris.ParsedUri): DataFrame => DataFrame = uri.scheme match {
    case "identity" => identity[DataFrame]
    case "sql" =>
      df => {
        val sql = Uris.decode(uri.path.stripPrefix("/"))
        df.createOrReplaceTempView("input")
        df.sparkSession.sql(sql)
      }
    case "sql_file" | "sql-file" =>
      df => {
        val sql = {
          val src = scala.io.Source.fromFile(uri.path)
          try src.mkString
          finally src.close()
        }
        df.createOrReplaceTempView("input")
        df.sparkSession.sql(sql)
      }
    case "flatten"                              => FlattenOps.flatten
    case "flatten_explode" | "flatten-explode"  => FlattenOps.flattenExplode
    case "diff" =>
      df => {
        val params = uri.queryParams
        val ids = params.get("id").map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Seq.empty)
        val ignore = params.get("ignore").map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Seq.empty)
        val rightView = uri.relPath
        require(rightView.nonEmpty, "diff: right table view path is empty")
        val right = df.sparkSession.table(rightView)
        val diffed = DiffOps.diff(df, right, ids, ignore)
        params.get("handleDifferences").map(_.toLowerCase) match {
          case Some("filter") => DiffOps.onlyDifferences(diffed)
          case Some("fail")   => DiffOps.failOnDifferences(diffed)
          case _              => diffed
        }
      }
    // ---- curation transformer schemes (beyond the reference surface):
    // the library operators exposed as URI pipeline steps, so a CLI user
    // can run a full training-data curation pass with no Scala at all.
    case "dedup" =>
      df => {
        val p = uri.queryParams
        val text = p.getOrElse("text", "text")
        val id = p.getOrElse("id", "id")
        p.getOrElse("method", "exact").toLowerCase match {
          case "exact" =>
            graft.operators.DedupOps.exactKeepFirst(df, text, id)
          case "minhash" =>
            val thr = p.getOrElse("threshold", "0.8").toDouble
            val drops = graft.operators.DedupOps.minhashDropIds(df, text, id, thr)
            df.join(drops, df(id) === drops("drop_id"), "left_anti")
          case "incremental" =>
            // the production daily-delta shape: probe this batch against
            // a PERSISTED minhash index of everything kept so far (the
            // base corpus is never re-signatured — IncrementalDedupOps),
            // drop batch rows that near-dup an indexed doc (base always
            // wins) or a smaller-id batch doc (the minhashDropIds
            // keep-min convention), then fold the survivors into the
            // index for tomorrow's run (update=false probes read-only).
            // First run bootstraps: within-batch dedup + index build.
            graft.operators.IncrementalDedupOps.minhashIndexDedup(df, text, id,
              prefix = p.getOrElse("index", "graft_dedup_index"),
              numBuckets = p.getOrElse("buckets", "8").toInt,
              threshold = p.getOrElse("threshold", "0.8").toDouble,
              shingleSize = p.getOrElse("shingle", "3").toInt,
              numBands = p.getOrElse("bands", "8").toInt,
              rowsPerBand = p.getOrElse("rows", "4").toInt,
              update = p.getOrElse("update", "true").toBoolean)
          case "winnow" =>
            // shared-PASSAGE dedup (winnowing fingerprints, SURVEY row
            // 309): cluster docs sharing ≥ `shared` selected gram hashes
            // (a ≥ w+k−1-token shared run ALWAYS links — the MOSS
            // guarantee) and keep each cluster's min id — the
            // plagiarism/license-boilerplate cut whole-doc similarity
            // dedup can't express. With `index=<prefix>` (row 339) the
            // incremental posture applies: first run bootstraps the
            // persisted fingerprint index; later runs drop batch docs
            // sharing ≥ `shared` selected hashes with an indexed doc
            // (index wins), self-dedup the remainder, and (update=true)
            // fold survivors' fingerprints in.
            val k = p.getOrElse("k", "4").toInt
            val w = p.getOrElse("w", "4").toInt
            val minShared = p.getOrElse("shared", "2").toInt
            // `evidence=true` (SURVEY row 343 surfaced to the CLI,
            // round-11 verdict item 10): the step's OUTPUT becomes the
            // human-review report — winnow-linked pairs with their best
            // shared-diagonal extent — instead of the survivors, so the
            // review step sits in the same pipeline surface as the drop
            if (p.getOrElse("evidence", "false").toBoolean) {
              require(p.get("index").isEmpty,
                "dedup winnow: evidence=true reports on the batch itself; drop index=")
              graft.operators.DedupOps
                .winnowSharedSpanEvidence(df, text, id, k, w, minShared)
                .orderBy("a_id", "b_id")
            } else p.get("index") match {
              case None =>
                val pairs = graft.operators.DedupOps
                  .winnowDupPairs(df, text, id, k, w, minShared)
                  .select(F.col("a_id"), F.col("b_id"))
                graft.operators.DedupOps.applyPairDedup(df, id, pairs)
              case Some(prefix) =>
                graft.operators.IncrementalDedupOps.winnowIndexDedup(df, text, id, s"${prefix}_fps",
                  p.getOrElse("buckets", "8").toInt, minShared, k, w,
                  update = p.getOrElse("update", "true").toBoolean)
            }
          case "semantic" =>
            // SemDeDup over an embedding column (SURVEY rows 303/308 as a
            // URI step): batch mode prunes within spherical-k-means cells;
            // with `index=<prefix>` the minhash-incremental posture applies
            // to embeddings — first run bootstraps the persisted survivor
            // index, later runs probe it under the frozen centroids and
            // (update=true) fold survivors in. Output = the input rows
            // that survive (semi-join on id — the embedding column passes
            // through untouched, whatever its float/double element type).
            val vecC = p.getOrElse("vec", "vec")
            val tau = p.getOrElse("tau", "0.99").toDouble
            val nCells = p.getOrElse("cells", "16").toInt
            val V = graft.operators.VectorIndexOps
            val spark = df.sparkSession
            val vecs = df.select(F.col(id).as("__v_id"),
              graft.functions.VectorFunctions.asDouble(F.col(vecC)).as("__v_vec"))
            val keep = p.get("index") match {
              case None =>
                graft.operators.SimilarityOps
                  .semanticDedup(vecs, "__v_id", "__v_vec", nCells, tau)
                  .select(F.col("id").as("__keep_id"))
              case Some(prefix) =>
                val buckets = p.getOrElse("buckets", "8").toInt
                val update = p.getOrElse("update", "true").toBoolean
                if (!spark.catalog.tableExists(s"${prefix}_cells")) {
                  val idx = V.buildSemDedupIndex(vecs, "__v_id", "__v_vec",
                    prefix, nCells, buckets, tau)
                  spark.table(idx.cellsTable).select(F.col("id").as("__keep_id"))
                } else {
                  // the probe's geometry comes from the PERSISTED index,
                  // never per-run defaults (a run omitting tau must not
                  // silently prune at 0.99 against a τ=0.9 bootstrap);
                  // explicit URI params must agree or fail loudly
                  val idx = V.semDedupIndexOf(spark, prefix)
                  p.get("tau").foreach(t => require(t.toDouble == idx.tau,
                    s"dedup semantic: URI tau=$t conflicts with index '$prefix' built at tau=${idx.tau}"))
                  p.get("cells").foreach(c => require(c.toInt == idx.nCells,
                    s"dedup semantic: URI cells=$c conflicts with index '$prefix' built at cells=${idx.nCells}"))
                  V.probeSemDedupIndex(vecs, "__v_id", "__v_vec", idx, update, buckets)
                    .filter(F.col("verdict") === "survived")
                    .select(F.col("id").as("__keep_id"))
                }
            }
            df.join(keep, df(id) === F.col("__keep_id"), "left_semi")
          case other =>
            throw new IllegalArgumentException(
              s"dedup method '$other' not in: exact, minhash, winnow, incremental, semantic")
        }
      }
    case "ann" =>
      df => {
        // Persisted-IVF ANN as a URI step (SURVEY row 180's index surfaced
        // to the CLI): `ann:///<prefix>?mode=build|append|probe`. Build
        // trains centroids from the input rows and lands the bucketed
        // cells+centroids catalog tables (input passes through unchanged —
        // the indexed corpus IS the view); append folds a new generation
        // in under the frozen centroids; probe treats the input as the
        // QUERY batch and returns (query_id, rank, neighbor_id, cosine).
        // Default mode: probe when the index exists, else build — the
        // dedup-incremental bootstrap convention.
        val p = uri.queryParams
        val prefix = uri.relPath
        require(prefix.nonEmpty, "ann: index table prefix path is empty")
        val id = p.getOrElse("id", "id")
        val vecC = p.getOrElse("vec", "vec")
        val V = graft.operators.VectorIndexOps
        val spark = df.sparkSession
        val vecs = df.select(F.col(id).as("__v_id"),
          graft.functions.VectorFunctions.asDouble(F.col(vecC)).as("__v_vec"))
        val exists = spark.catalog.tableExists(s"${prefix}_cells")
        def indexOf: V.IvfIndex = {
          require(exists, s"ann: no persisted index at '$prefix'")
          V.IvfIndex(s"${prefix}_cells", s"${prefix}_centroids",
            spark.table(s"${prefix}_centroids").count().toInt)
        }
        val mode = p.getOrElse("mode", if (exists) "probe" else "build").toLowerCase
        // kind=pq routes to the persisted IVF-PQ layout (SURVEY row 293's
        // query-side operator as catalog tables): extra codebook table,
        // ADC-pruned probe with full-precision rerank on candidates only
        if (p.get("kind").map(_.toLowerCase).contains("pq")) mode match {
          case "build" =>
            V.buildIvfPqIndex(vecs, "__v_id", "__v_vec", prefix,
              p.getOrElse("cells", "16").toInt, p.getOrElse("buckets", "8").toInt,
              p.getOrElse("subspaces", "16").toInt, p.getOrElse("codes", "16").toInt)
            df
          case "append" =>
            V.appendToIvfPqIndex(vecs, "__v_id", "__v_vec",
              V.ivfPqIndexOf(spark, prefix), p.getOrElse("buckets", "8").toInt)
            df
          case "probe" =>
            V.probeIvfPq(spark, vecs, "__v_id", "__v_vec",
              V.ivfPqIndexOf(spark, prefix),
              p.getOrElse("k", "5").toInt, p.getOrElse("nprobe", "2").toInt,
              p.getOrElse("ncandidates", "64").toInt,
              p.getOrElse("excludeSelf", "true").toBoolean)
          case other =>
            throw new IllegalArgumentException(
              s"ann mode '$other' not in: build, append, probe")
        } else mode match {
          case "build" =>
            V.buildIvfIndex(vecs, "__v_id", "__v_vec", prefix,
              p.getOrElse("cells", "16").toInt, p.getOrElse("buckets", "8").toInt)
            df
          case "append" =>
            V.appendToIvfIndex(vecs, "__v_id", "__v_vec", indexOf,
              p.getOrElse("buckets", "8").toInt)
            df
          case "probe" =>
            V.probeIvf(spark, vecs, "__v_id", "__v_vec", indexOf,
              p.getOrElse("k", "5").toInt, p.getOrElse("nprobe", "2").toInt,
              p.getOrElse("excludeSelf", "true").toBoolean)
          case "rerank" =>
            // ANN pool → MMR diversity re-rank (the RAG retrieval
            // shape): probe the persisted index for a `pool`-sized
            // candidate set per query row, join the stored unit
            // vectors back, greedy-select `k` at `lambda` —
            // SimilarityOps.mmrFromPool over the index's own vectors.
            val pool = V.probeIvf(spark, vecs, "__v_id", "__v_vec", indexOf,
              p.getOrElse("pool", "16").toInt, p.getOrElse("nprobe", "2").toInt,
              p.getOrElse("excludeSelf", "true").toBoolean)
            val nvecs = spark.table(s"${prefix}_cells")
              .select(F.col("neighbor_id"), F.col("unit").as("nvec"))
            graft.operators.SimilarityOps.mmrFromPool(
              pool.join(nvecs, Seq("neighbor_id"))
                .select(F.col("query_id"), F.col("neighbor_id"),
                  F.col("cosine").as("rel"), F.col("nvec")),
              p.getOrElse("k", "5").toInt,
              p.getOrElse("lambda", "0.7").toDouble)
          case other =>
            throw new IllegalArgumentException(
              s"ann mode '$other' not in: build, append, probe, rerank")
        }
      }
    case "split" =>
      df => {
        val p = uri.queryParams
        graft.operators.SplitOps.withSplit(df, p.getOrElse("id", "id"),
          p.getOrElse("train", "12").toInt, p.getOrElse("val", "2").toInt)
      }
    case "sample" =>
      df => {
        // curation SELECTION as a URI step. Methods (default uniform —
        // the pre-round-11 contract unchanged):
        //   uniform:    ?keep=K            md5-bucket filter, K/16 kept
        //   stratified: ?by=C&rates=a:4,b:2[&default=D]  per-stratum 16ths
        //   mixture:    ?by=C&targets=a:0.5,b:0.25       target fractions
        //   budget:     ?by=C&tokens=COL&budget=N[&seed=S] per-stratum
        //               token budget in seeded md5 order (rows semi-join
        //               back so the full row survives)
        //   kcenter:    ?vec=V&k=K        greedy k-center exemplars
        //   dsir:       ?text=T&target=<url-encoded bool SQL>&k=K
        //               [&buckets=B&seed=S]  importance-resample top-k
        // Every method is a deterministic filter/semi-join — retry-stable,
        // no RNG — so a failed pipeline re-run selects the identical rows.
        val p = uri.queryParams
        val id = p.getOrElse("id", "id")
        val S = graft.operators.SplitOps
        def rateMap[T](spec: String, cast: String => T): Map[String, T] =
          spec.split(",").iterator.filter(_.nonEmpty).map { kv =>
            kv.split(":") match {
              case Array(s, v) => s -> cast(v)
              case _ => throw new IllegalArgumentException(s"sample: bad rate spec '$kv'")
            }
          }.toMap
        p.getOrElse("method", "uniform").toLowerCase match {
          case "uniform" =>
            S.deterministicSample(df, id, p.getOrElse("keep", "2").toInt)
          case "stratified" =>
            S.stratifiedSample(df, id, p("by"), rateMap(p("rates"), _.toInt),
              p.getOrElse("default", "0").toInt)
          case "mixture" =>
            S.mixtureSample(df, id, p("by"), rateMap(p("targets"), _.toDouble))
          case "budget" =>
            val admitted = S.tokenBudgetSample(df, id, p("by"),
                F.col(p.getOrElse("tokens", "n_tokens")),
                p("budget").toLong, p.getOrElse("seed", "budget"))
              .select(F.col(id).as("__keep_id"))
            df.join(admitted, df(id) === F.col("__keep_id"), "left_semi")
          case "kcenter" =>
            val vecs = df.select(F.col(id).as("__v_id"),
              graft.functions.VectorFunctions.asDouble(F.col(p.getOrElse("vec", "vec")))
                .as("__v_vec"))
            val centers = graft.operators.SimilarityOps
              .kCenterGreedy(vecs, "__v_id", "__v_vec", p.getOrElse("k", "8").toInt)
              .select(F.col("center_id").as("__keep_id"))
            df.join(centers, df(id) === F.col("__keep_id"), "left_semi")
          case "dsir" =>
            val top = graft.operators.SelectionOps
              .dsirScores(df, id, p.getOrElse("text", "text"),
                isTarget = F.expr(p("target")),
                buckets = p.getOrElse("buckets", "1024").toInt,
                seed = p.getOrElse("seed", "dsir"))
              .orderBy(F.col("score").desc, F.col("id"))
              .limit(p.getOrElse("k", "50").toInt)
              .select(F.col("id").as("__keep_id"))
            df.join(top, df(id) === F.col("__keep_id"), "left_semi")
          case other =>
            throw new IllegalArgumentException(
              s"sample method '$other' not in: uniform, stratified, mixture, budget, kcenter, dsir")
        }
      }
    case "decontam" =>
      df => {
        val p = uri.queryParams
        val benchView = uri.relPath
        require(benchView.nonEmpty, "decontam: benchmark view path is empty")
        graft.operators.DecontamOps.decontaminated(df,
          p.getOrElse("text", "text"), p.getOrElse("id", "id"),
          df.sparkSession.table(benchView), p.getOrElse("benchText", p.getOrElse("text", "text")),
          p.getOrElse("n", "8").toInt)
      }
    case "quality" =>
      df => {
        val p = uri.queryParams
        val text = p.getOrElse("text", "text")
        val scored = df
          .withColumn("quality", graft.functions.TextFunctions.qualityScore(F.col(text)))
          .withColumn("lang", graft.functions.TextFunctions.langId(F.col(text)))
        p.get("min").map(m => scored.filter(F.col("quality") >= m.toDouble)).getOrElse(scored)
      }
    case "cap" =>
      df => {
        val p = uri.queryParams
        val order = p.getOrElse("order", p.getOrElse("id", "id")).split(",").toSeq.map { spec =>
          spec.split(":") match {
            case Array(c, dir) => dir.toLowerCase match {
              case "desc" => F.col(c).desc
              case "asc"  => F.col(c).asc
              case other =>
                throw new IllegalArgumentException(s"cap: order direction '$other' not in: asc, desc")
            }
            case Array(c) => F.col(c).asc
            case _ => throw new IllegalArgumentException(s"cap: bad order spec '$spec'")
          }
        }
        graft.operators.CorpusOps.capPerKey(df, p("key"), order, p.getOrElse("k", "1000").toInt)
      }
    case "report" =>
      df => {
        // audit reports as pipeline steps (the winnow-evidence posture
        // generalized): the step's OUTPUT is the report over the input
        // view, so profiling sits in the same URI surface as the
        // transforms it audits. kinds: profile (generic column
        // profiler), skew (per-key heavy-hitter shares over `key=`).
        val p = uri.queryParams
        p.getOrElse("kind", "profile") match {
          case "profile" => graft.operators.StatsOps.profileAllColumns(df)
            .orderBy("column")
          case "skew" =>
            val key = p.getOrElse("key",
              throw new IllegalArgumentException("report kind=skew needs key=<column>"))
            val counts = df.groupBy(F.col(key).as("key"))
              .agg(F.count(F.lit(1)).cast("long").as("n"))
            val tot = counts.agg(F.sum("n").cast("long").as("total"))
            counts.crossJoin(F.broadcast(tot))
              .withColumn("share_ppm", F.expr("n * 1000000L div total"))
              .orderBy(F.col("n").desc, F.col("key"))
              .limit(p.getOrElse("k", "20").toInt)
          case other =>
            throw new IllegalArgumentException(s"report kind '$other' not in: profile, skew")
        }
      }
    case "chunk" =>
      df => {
        val p = uri.queryParams
        val text = p.getOrElse("text", "text")
        val id = p.getOrElse("id", "id")
        val tf = graft.functions.TextFunctions
        df.select(F.col(id),
            F.explode(tf.chunkTokens(tf.tokens(F.col(text)),
              p.getOrElse("size", "512").toInt, p.getOrElse("overlap", "64").toInt)).as("c"))
          .select(F.col(id), F.col("c.chunk_idx").as("chunk_idx"),
            F.col("c.chunk_text").as("chunk_text"), F.col("c.n_tokens").as("n_tokens"))
      }
    case other =>
      throw new IllegalArgumentException(
        s"transform scheme '$other' not in: identity, sql, sql-file, flatten, flatten-explode, " +
          "diff, dedup, ann, split, sample, decontam, quality, cap, chunk, report")
  }

  /** Parse reference-style CLI args:
    * `--source uri --transform uri --sink uri [--master m] [--app-name n]`.
    */
  def fromArgs(args: Seq[String]): (Pipeline, Map[String, String]) = {
    val opts = scala.collection.mutable.Map.empty[String, String]
    val sources = scala.collection.mutable.ArrayBuffer.empty[(String, SparkSession => DataFrame)]
    val transforms = scala.collection.mutable.ArrayBuffer.empty[(String, String, DataFrame => DataFrame)]
    val sinks = scala.collection.mutable.ArrayBuffer.empty[(String, DataFrame => Boolean)]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--source" =>
          val (name, uri) = Uris.sourceOrSinkUri(args(i + 1), "source")
          sources += name -> (spark => SourceRegistry.forUri(uri)(spark).read())
          i += 2
        case "--transform" =>
          val (in, out, uri) = Uris.transformUri(args(i + 1))
          transforms += ((in, out, transformerFor(uri)))
          i += 2
        case "--sink" =>
          val (name, uri) = Uris.sourceOrSinkUri(args(i + 1), "sink")
          sinks += name -> (df => SourceRegistry.forUri(uri)(df.sparkSession).write(df))
          i += 2
        case "--master" | "--app-name" | "--appName" =>
          opts += args(i).stripPrefix("--") -> args(i + 1)
          i += 2
        case other =>
          throw new IllegalArgumentException(s"unknown arg '$other'")
      }
    }
    (Pipeline(sources.toSeq, transforms.toSeq, sinks.toSeq), opts.toMap)
  }
}

/** CLI entry point compatible with the reference's `ETL` main. */
object EtlCli {
  def main(args: Array[String]): Unit = {
    val (pipeline, opts) = Pipeline.fromArgs(args.toIndexedSeq)
    val builder0 = SparkSession.builder().appName(opts.getOrElse("app-name", "graft-etl"))
    val builder1 = SourceRegistry.sparkConfigs.foldLeft(builder0) { case (b, (k, v)) => b.config(k, v) }
    // default to local[*] when neither --master nor spark-submit set one
    val master = opts.get("master")
      .orElse(sys.props.get("spark.master"))
      .orElse(sys.env.get("SPARK_MASTER"))
      .getOrElse("local[*]")
    // graft's native SQL functions (graft_dot, graft_minhash_sig, ...) and
    // the range-join bucketing rule are part of the CLI's sql:// surface
    val builder = builder1.master(master).withExtensions(new graft.GraftExtensions)
    val spark = builder.getOrCreate()
    val ok = pipeline.run(spark)
    println(if (ok) "Write successful" else "Writing to sink failed")
    if (!ok) sys.exit(1)
  }
}
