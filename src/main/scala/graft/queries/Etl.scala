package graft
package queries

import graft.functions.TextFunctions
import graft.operators._
import graft.pipeline.Pipeline
import graft.queries.Inputs._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ETL pipeline, write, flatten, diff, merge, maintenance and synth queries
  * (`pipeline_*`, `write_*`, `flatten_*`, `diff_*`, `merge_*`, `maint_*`, `synth_*`). */
object Etl {

  val queries: Seq[(String, Query)] = Seq(
    "write_metrics_check" -> ((s, d) => {
      // observe-metrics write (row 90): the metrics the WRITE JOB itself
      // reports (no second scan) must equal what the oracle computes from
      // the table — n_rows and a decimal-exact price sum
      val dir = java.nio.file.Files.createTempDirectory("graft-obs").toString
      val m = WriteOps.writeWithMetrics(
        T(s, d, "orders").select("o_orderkey", "o_totalprice"), dir,
        "n_rows" -> count(lit(1)),
        "sum_price" -> dsum(col("o_totalprice"), 2))
      import s.implicits._
      Seq((m("n_rows").asInstanceOf[Long], m("sum_price").asInstanceOf[Double]))
        .toDF("n_rows", "sum_price")
    }),
    "write_compact_check" -> ((s, d) => {
      // compaction write-layout invariant (row 79's second half): rewrite
      // to exactly 3 round-robin files, no rows lost, every file within
      // the maxRecordsPerFile cap — the small-file-problem remedy as a
      // driver-checkable row
      val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString
      WriteOps.compact(T(s, d, "orders").select("o_orderkey", "o_totalprice"),
        dir, numFiles = 3, maxRecordsPerFile = 1000000L)
      s.read.parquet(dir)
        .groupBy(input_file_name().as("f")).agg(count(lit(1)).as("n"))
        .agg(
          count(lit(1)).as("n_files"),
          sum("n").as("n_rows"),
          bool_and(col("n") <= 1000000L).as("within_cap"))
    }),
    "write_zorder_check" -> ((s, d) => {
      // driver-checkable z-order WRITE-LAYOUT invariant (the dedup_simhash
      // _check pattern — the write itself has no DuckDB twin, but its
      // data-skipping guarantee does): after zorderBy into 4 files, the
      // per-file z-ranges must be pairwise DISJOINT (that disjointness IS
      // the min/max pruning property readers skip files by) and no rows
      // may be lost. The oracle states n_files/disjointness as constants
      // and derives n_rows from the table.
      val dir = java.nio.file.Files.createTempDirectory("graft-zorder").toString
      val base = T(s, d, "part").select(
        pmod(col("p_partkey"), lit(256)).cast("int").as("za"),
        pmod(col("p_size"), lit(256)).cast("int").as("zb"))
      WriteOps.zorderBy(base, "za", "zb", numFiles = 4, bits = 8)
        .write.mode("overwrite").parquet(dir)
      val perFile = s.read.parquet(dir)
        .withColumn("z", WriteOps.interleaveBits(col("za"), col("zb"), 8))
        .groupBy(input_file_name().as("f"))
        .agg(min("z").as("zmin"), max("z").as("zmax"), count(lit(1)).as("n"))
      // pairwise-disjoint via a tiny self-join on the ONE-ROW-PER-FILE
      // frame (4 rows → broadcast NLJ) instead of a lead() over a global
      // Window, which emitted the "moving all data to a single partition"
      // warning into the driver-parsed log tail on every bench run
      val a = perFile.select(col("f").as("af"), col("zmin").as("amin"), col("zmax").as("amax"))
      val b = perFile.select(col("f").as("bf"), col("zmin").as("bmin"), col("zmax").as("bmax"))
      val overlaps = a.join(b,
          col("af") < col("bf") && col("amin") <= col("bmax") && col("bmin") <= col("amax"))
        .agg(count(lit(1)).as("n_overlap"))
      perFile.agg(count(lit(1)).as("n_files"), sum("n").as("n_rows"))
        .crossJoin(overlaps) // 1-row × 1-row scalar attach
        .select(col("n_files"), (col("n_overlap") === 0).as("ranges_disjoint"), col("n_rows"))
    }),
    "pipeline_sql" -> ((s, _) => {
      val (p, _) = Pipeline.fromArgs(Seq(
        "--source", "values:///?header=a:int,b&values=1,x;2,y;3,x",
        "--transform",
        "sql:///" + java.net.URLEncoder.encode(
          "SELECT b, CAST(SUM(a) AS BIGINT) AS sum_a FROM source GROUP BY b ORDER BY b", "UTF-8")))
      p.resultView(s, "sink")
    }),
    "pipeline_values" -> ((s, _) => {
      // unnamed source defaults to view "source"; the implicit identity
      // transform renames it to "sink" (reference ETL.run behavior)
      val (p, _) = Pipeline.fromArgs(Seq(
        "--source", "values:///?header=id:int,name,score:double&values=1,ada,9.5;2,bob,7.25"))
      p.resultView(s, "sink").orderBy("id")
    }),
    "pipeline_sql_file" -> ((s, d) => {
      val f = java.nio.file.Files.createTempFile("graft", ".sql")
      java.nio.file.Files.writeString(
        f, "SELECT l_returnflag, COUNT(*) AS n FROM source GROUP BY l_returnflag ORDER BY l_returnflag")
      val (p, _) = Pipeline.fromArgs(Seq(
        "--source", s"parquet://$d/lineitem.parquet",
        "--transform", s"sql-file://$f"))
      p.resultView(s, "sink")
    }),
    "pipeline_identity" -> ((s, d) => {
      val (p, _) = Pipeline.fromArgs(Seq(
        "--source", s"regions+parquet://$d/region.parquet",
        "--transform", "regions+renamed+identity:///"))
      p.resultView(s, "renamed").orderBy("r_regionkey")
    }),
    "pipeline_csv_roundtrip" -> ((s, d) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-csv").toString
      val (write, _) = Pipeline.fromArgs(Seq(
        "--source", s"parquet://$d/region.parquet",
        "--transform", "source+sink+identity:///",
        "--sink", s"text://$tmp/region.csv"))
      write.run(s)
      val (read, _) = Pipeline.fromArgs(Seq("--source", s"text://$tmp/region.csv"))
      read.resultView(s, "source").orderBy("r_regionkey")
    }),
    "flatten_struct" -> ((s, d) => {
      val nested = EV(s, d).select(
        col("event_id"),
        struct(col("event_type"), col("value"), struct(col("user_id")).as("u")).as("ev"))
      FlattenOps.flatten(nested).orderBy("event_id")
    }),
    "flatten_explode" -> ((s, d) => {
      val docs = T(s, d, "documents").select(TextFunctions.tokens(col("text")).as("token"))
      FlattenOps
        .flattenExplode(docs)
        .groupBy("token")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(20)
    }),
    "diff_tables" -> ((s, d) => {
      val left = T(s, d, "orders")
      val right = left
        .filter(col("o_orderkey") % 97 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 100 === 0, col("o_totalprice") + 10).otherwise(col("o_totalprice")))
        .withColumn("o_orderkey",
          when(col("o_orderkey") % 500 === 0, col("o_orderkey") + 1000000).otherwise(col("o_orderkey")))
      DiffOps
        .onlyDifferences(DiffOps.diff(left, right, Seq("o_orderkey")))
        .select("diff", "o_orderkey", "left_o_totalprice", "right_o_totalprice")
        .orderBy("o_orderkey", "diff")
    }),

    "merge_upsert" -> ((s, d) => {
      // CDC apply over orders: keys %100 get a price bump (update), keys
      // %97 are tombstoned (delete), keys %500 re-insert under +2000000
      // (insert); the merged snapshot is aggregated for a compact oracle
      val base = T(s, d, "orders")
      val mods = base
        .filter(col("o_orderkey") % 100 === 0 || col("o_orderkey") % 97 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 10)
        .withColumn("__delete", col("o_orderkey") % 97 === 0)
      val inserts = base.filter(col("o_orderkey") % 500 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 2000000)
        .withColumn("__delete", lit(false))
      DiffOps.merge(base, mods.unionByName(inserts), Seq("o_orderkey"), deleteCol = Some("__delete"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice"), 2).as("sum_price"))
        .orderBy("o_orderstatus")
    }),

    "pipeline_curation" -> ((s, d) => {
      // the engine's purpose in one verified flow: exact-dedup keep-first
      // → benchmark decontamination → quality filter → deterministic
      // split → chunk counting. Every stage is the already-oracled
      // operator; the composition itself is what this query pins.
      val docs = TP(s, d, "documents")
      val deduped = DedupOps.exactKeepFirst(docs, "text", "doc_id")
      val bench = docs.filter(col("doc_id") < 128).select(col("text"))
      val clean = DecontamOps.decontaminated(deduped, "text", "doc_id", bench, "text", n = 8)
      val scored = clean
        .transform(docNormTokens)
        .select(col("doc_id"), col("tk"),
          TextFunctions.qualityScoreFrom(
            size(col("tk")), length(col("norm")),
            TextFunctions.punctCountFromNorm(col("norm")),
            TextFunctions.tokenHitsFromTokens(col("tk"), TextFunctions.allStopwords)).as("q"))
        .filter(col("q") >= 0.5)
      scored
        .withColumn("split", SplitOps.assignSplit(col("doc_id")))
        .withColumn("n_chunks", size(TextFunctions.chunkTokens(col("tk"), 32, 8)).cast("long"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(col("tk")).cast("long")).as("n_tokens"),
          sum(col("n_chunks")).as("n_chunks"))
        .orderBy("split")
    }),

    "write_partition_overwrite_check" -> ((s, d) => {
      // idempotent daily-rerun invariant: write events partitioned by a
      // derived day, then dynamically overwrite ONE day with a corrected
      // subset — the other days' rows must survive byte-for-byte and the
      // replaced day must hold exactly the corrected batch
      val dir = java.nio.file.Files.createTempDirectory("graft-dynpart").toString
      val base = EV(s, d).filter(col("user_id") % 10 === 0)
        .select(col("event_id"), col("user_id"), pmod(col("event_id"), lit(5)).cast("int").as("day"))
      WriteOps.overwritePartitions(base, dir, Seq("day"))
      val corrected = base.filter(col("day") === 2 && col("user_id") % 3 === 0)
      WriteOps.overwritePartitions(corrected, dir, Seq("day"))
      s.read.parquet(dir)
        .agg(
          countDistinct(col("day")).as("n_parts"),
          sum(when(col("day") === 2, 1L).otherwise(0L)).as("rows_replaced"),
          sum(when(col("day") =!= 2, 1L).otherwise(0L)).as("rows_other"))
    }),

    "maint_join_view" -> ((s, d) => {
      // incremental JOIN-view maintenance: the persisted base view
      // (written to parquet here, standing in for yesterday's
      // materialization) is scanned and unioned with two delta joins —
      // V' = V ∪ (Δli ⋈ orders') ∪ (li_base ⋈ Δorders) — the base-base
      // join is never recomputed and both delta joins broadcast their
      // delta side. Oracle = the full join of the updated tables.
      val cols = Seq("l_orderkey", "l_linenumber", "o_custkey", "o_orderstatus")
      val li = T(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"))
      val ord = T(s, d, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"), col("o_orderstatus"))
      val (liBase, liDelta) = (li.filter(expr("l_orderkey % 5 != 0")),
        li.filter(expr("l_orderkey % 5 = 0")))
      val (ordBase, ordDelta) = (ord.filter(expr("l_orderkey % 7 != 0")),
        ord.filter(expr("l_orderkey % 7 = 0")))
      val dir = java.nio.file.Files.createTempDirectory("graft-jview").toString
      liBase.join(ordBase, Seq("l_orderkey"))
        .write.mode("overwrite").parquet(s"$dir/view0")
      val view0 = s.read.parquet(s"$dir/view0")
      MaintOps.maintainJoinView(view0, liBase, liDelta, ord, ordDelta,
          Seq("l_orderkey"))
        .select(cols.map(col): _*)
        .orderBy("l_orderkey", "l_linenumber")
    }),
    "pipeline_json_roundtrip" -> ((s, d) => {
      // JSON source + sink end-to-end under the DuckDB gate: prices ride
      // as DECIMAL(18,2) (JSON numbers render decimals exactly; raw
      // doubles would round-trip through shortest-repr text), read back
      // with an explicit schema, folded to one decimal-exact row
      val dir = java.nio.file.Files.createTempDirectory("graft-json").toString
      T(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice").cast("decimal(18,2)").as("price"))
        .write.mode("overwrite").json(s"$dir/out")
      s.read.schema("o_orderkey BIGINT, price DECIMAL(18,2)").json(s"$dir/out")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_orderkey")).cast("bigint").as("key_sum"),
          sum(col("price")).cast("decimal(38,2)").cast("double").as("price_sum"))
    }),
    "write_bin_packing" -> ((s, d) => {
      // write planning: pack per-key byte totals into target-sized output
      // bins with a greedy running-sum cut (bin = cum_before div target) —
      // the file-count planner a compaction job runs over the KEY-DOMAIN
      // aggregate before any data moves. Integer-exact; the running sum
      // is the two-level banding core (band = key div 4096), NOT a
      // key-domain single-partition window — the key domain grows with
      // the data, so the old shape was the scale bug this repo documents.
      val target = 512 * 1024L // 512 KiB per output bin
      val sizes = T(s, d, "lineitem")
        .groupBy(col("l_orderkey").as("key"))
        .agg(sum(lit(96) + length(col("l_returnflag"))).as("bytes")) // est row cost
        .withColumn("kb", RankOps.idiv(col("key"), 4096))
      RankOps.bandedRankCum(sizes,
          bandCols = Seq("kb"),
          bandSort = Seq(col("kb").asc),
          rowSort = Seq(col("key").asc),
          cumCols = Seq("bytes"))
        .withColumn("bin", RankOps.idiv(col("cum_before_bytes"), target).cast("int"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_keys"), sum("bytes").cast("bigint").as("bin_bytes"))
        .orderBy("bin")
    }),
    "pipeline_schema_evolution" -> ((s, d) => {
      // schema evolution across parquet generations: gen1 lacks the
      // price column, gen2 carries it; a mergeSchema read unions both
      // layouts (old rows null-fill the new column) — the
      // append-only-with-widening contract a long-lived 100 TB dataset
      // lives by. Plan: two file-source scans union, one 1-row agg.
      val dir = java.nio.file.Files.createTempDirectory("graft-evolve").toString
      val ord = T(s, d, "orders")
      ord.filter(expr("o_orderkey % 2 = 0"))
        .select(col("o_orderkey"), col("o_custkey"))
        .write.mode("overwrite").parquet(s"$dir/gen1")
      ord.filter(expr("o_orderkey % 2 = 1"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$dir/gen2")
      s.read.option("mergeSchema", "true").parquet(s"$dir/gen1", s"$dir/gen2")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("o_totalprice").isNull, 1L).otherwise(0L)).as("n_old_layout"),
          sum(when(col("o_totalprice").isNotNull, 1L).otherwise(0L)).as("n_new_layout"))
    }),
    "diff_column_stats" -> ((s, d) => {
      // CDC audit on top of the diff operator: per-column CHURN — for
      // every changed (C) row, which value columns actually differ,
      // stacked in-row and counted in one tiny agg alongside the
      // N/C/I/D row totals. The "what drifted between snapshots" report
      // a 100 TB refresh publishes next to its diff. One full-outer
      // diff join; everything after is column-count-sized.
      val left = T(s, d, "orders")
      val right = left
        .filter(col("o_orderkey") % 97 =!= 0) // deletions
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 5 === 0, col("o_totalprice") + 10)
            .otherwise(col("o_totalprice")))
        .withColumn("o_orderpriority",
          when(col("o_orderkey") % 11 === 0, lit("9-RECHECK"))
            .otherwise(col("o_orderpriority")))
      val diffed = DiffOps.diff(left, right, Seq("o_orderkey"))
        .transform(Ckpt.lazyCkpt) // row totals + column stack read it
      val cols = Seq("o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
        "o_orderpriority")
      val colStack = diffed.filter(col("diff") === "C")
        .select(explode(array(cols.map(c =>
          struct(lit(c).as("column_name"),
            (!(col(s"left_$c") <=> col(s"right_$c"))).as("chg"))): _*)).as("p"))
        .groupBy(col("p.column_name").as("column_name"))
        .agg(sum(when(col("p.chg"), 1L).otherwise(0L)).as("n_changed"))
      val totals = diffed.groupBy(col("diff").as("column_name"))
        .agg(count(lit(1)).as("n_changed")) // N/C/I/D row counts share the shape
      colStack.unionByName(totals).orderBy("column_name")
    }),
    "synth_agg_pushdown_check" -> ((s, d) => {
      // DSv2 AGGREGATE pushdown, driver-visible (round-7 verdict item 5):
      // a billion-row grouped COUNT/MIN/MAX answered closed-form at the
      // source (SyntheticAggScan), cross-checked against the generator's
      // arithmetic — invariants-as-data, since DuckDB can compute the
      // same expected constants from the generator parameters. plan_pushed
      // proves the scan really IS the pushed-agg shape (not a row scan
      // that happened to agree); bucket −1 is the empty-range ungrouped
      // row (count 0, min/max NULL — the round-7 advisor regression).
      import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
      val rows = 1000000000L
      def pushed(df: DataFrame): Boolean = {
        val scans = df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b }
        scans.nonEmpty && scans.forall(_.scan.isInstanceOf[graft.sources.v2.SyntheticAggScan])
      }
      val synth = s.read.format("graft.sources.v2.SyntheticTableProvider")
        .option("rows", rows.toString).option("partitions", "64").load()
      val g = synth.groupBy("bucket")
        .agg(count(lit(1)).as("n"), min("id").as("min_id"), max("id").as("max_id"))
      val grouped = g.select(col("bucket"),
        (col("n") === lit(rows / 32)).as("count_ok"),
        (col("min_id") === col("bucket").cast("long")).as("min_ok"),
        (col("max_id") === lit(rows - 32) + col("bucket").cast("long")).as("max_ok"))
        .withColumn("plan_pushed", lit(pushed(g)))
      val e = synth.filter(col("id") < 0)
        .agg(count(lit(1)).as("n"), min("id").as("lo"), max("id").as("hi"))
      val emptyRow = e.select(lit(-1).as("bucket"),
        (col("n") === 0L).as("count_ok"),
        col("lo").isNull.as("min_ok"), col("hi").isNull.as("max_ok"))
        .withColumn("plan_pushed", lit(pushed(e)))
      grouped.unionByName(emptyRow).orderBy("bucket")
    }),
    "write_zorder_skipping" -> ((s, d) => {
      // the PAYOFF side of z-order (round-8 verdict item 8b): the
      // write_zorder_check row proves the layout (disjoint per-file
      // z-ranges); this row proves what the layout BUYS — per-file
      // min/max stats prune files for point queries on EITHER
      // dimension, where a single-column-sorted layout can only prune
      // its own sort key and must touch EVERY file for queries on the
      // other column. "Touched" = the probe point falls inside the
      // file's (min,max) box on the filtered column(s) — exactly the
      // file-skipping decision a stats-based reader makes. Probes sit
      // mid-domain (zb ∈ [64,191]) so the sorted layout's full-range
      // zb boxes contain them with certainty at ≥25 rows/file.
      val base = T(s, d, "part").select(
        pmod(col("p_partkey"), lit(256)).cast("int").as("za"),
        pmod((col("p_retailprice").cast("decimal(18,2)") * 100).cast("long"), lit(256))
          .cast("int").as("zb"))
      val zdir = java.nio.file.Files.createTempDirectory("graft-zskip-z").toString
      val sdir = java.nio.file.Files.createTempDirectory("graft-zskip-s").toString
      WriteOps.zorderBy(base, "za", "zb", numFiles = 8, bits = 8)
        .write.mode("overwrite").parquet(zdir)
      base.repartitionByRange(8, col("za")).sortWithinPartitions("za")
        .write.mode("overwrite").parquet(sdir)
      def stats(dir: String) = s.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg(min("za").as("amin"), max("za").as("amax"),
          min("zb").as("bmin"), max("zb").as("bmax"), count(lit(1)).as("n"))
      val probes = s.range(1).select(explode(array(
        Seq((13, 100), (45, 137), (78, 91), (109, 180),
          (141, 66), (172, 155), (204, 120), (236, 77)).map { case (a, b) =>
          struct(lit(a).as("pa"), lit(b).as("pb"))
        }: _*)).as("p")).select(col("p.pa"), col("p.pb"))
      def touched(st: org.apache.spark.sql.DataFrame) = st.crossJoin(broadcast(probes))
        .agg(
          sum(when(col("pa").between(col("amin"), col("amax")) &&
            col("pb").between(col("bmin"), col("bmax")), 1L).otherwise(0L)).as("t_point"),
          sum(when(col("pb").between(col("bmin"), col("bmax")), 1L).otherwise(0L)).as("t_zb"),
          count(lit(1)).as("cells"))
      val z = touched(stats(zdir)).select(
        col("t_point").as("z_point"), col("t_zb").as("z_zb"), col("cells").as("z_cells"))
      val so = touched(stats(sdir)).select(
        col("t_point").as("s_point"), col("t_zb").as("s_zb"), col("cells").as("s_cells"))
      val nrows = s.read.parquet(zdir).agg(count(lit(1)).as("n_rows"))
      z.crossJoin(so).crossJoin(nrows).select(
        (col("z_cells") / 8).cast("long").as("n_files_z"),
        (col("s_cells") / 8).cast("long").as("n_files_sorted"),
        col("n_rows"),
        // z-order point queries touch ≤ half of the files
        (col("z_point") * 2 <= col("z_cells")).as("z_point_prunes"),
        // z-order prunes on the SECOND dimension alone too
        (col("z_zb") * 4 <= col("z_cells") * 3).as("z_zb_prunes"),
        // the single-sort layout cannot prune zb: every probe touches
        // every file
        (col("s_zb") === col("s_cells")).as("sorted_zb_touches_all"),
        (col("z_zb") < col("s_zb")).as("zorder_wins_second_dim"))
    })
  )
}
