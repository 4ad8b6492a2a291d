package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators: watermarked windowed aggregation,
  * streaming dedup, and stateful gap sessionization
  * (flatMapGroupsWithState). These are the streaming twins of the batch
  * operators in graft.operators — same semantics, incremental execution.
  *
  * The reference's streaming surface is `*-stream` URI schemes + watermark
  * + trigger-interval (/root/reference/core/.../DataFrameSource.scala:26-55,
  * delta/.../DeltaUriParser.scala:21-28); here they're first-class ops.
  */
object StreamOps {

  /** Tumbling-window count/sum aggregation with a watermark. */
  def windowedAgg(
      df: DataFrame,
      tsCol: String,
      valueCol: String,
      windowDuration: String,
      watermarkDelay: String,
      keyCols: Seq[String] = Seq.empty
  ): DataFrame = {
    val keyed = df.withWatermark(tsCol, watermarkDelay)
    keyed
      .groupBy((window(col(tsCol), windowDuration) +: keyCols.map(col)): _*)
      .agg(count(lit(1)).as("n_events"), sum(col(valueCol)).as("sum_value"))
      .select(
        (Seq(col("window.start").as("window_start"), col("window.end").as("window_end")) ++
          keyCols.map(col) ++ Seq(col("n_events"), col("sum_value"))): _*
      )
  }

  /** Streaming exact dedup on key columns within the watermark horizon. */
  def dedupWithinWatermark(df: DataFrame, tsCol: String, delay: String, keyCols: Seq[String]): DataFrame =
    df.withWatermark(tsCol, delay).dropDuplicatesWithinWatermark(keyCols.toArray)

  /** Stream-stream inner equi-join with a bounded time condition: right
    * rows match left rows whose timestamp is within [leftTs, leftTs +
    * maxDelay]. Both sides carry watermarks, so state for either side is
    * dropped once the watermark passes the join window — bounded state,
    * the only stream-stream join shape that survives unbounded inputs.
    * Column names must be disjoint apart from `keyCols`.
    */
  def streamStreamJoin(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      leftTsCol: String,
      rightTsCol: String,
      watermarkDelay: String,
      maxDelay: String,
      joinType: String = "inner"
  ): DataFrame = {
    val l = left.withWatermark(leftTsCol, watermarkDelay)
    // The right side's key columns are RENAMED before the join: when both
    // inputs descend from the same frame (the batch twin's one-scan
    // click/purchase split), l(c) === r(c) resolves both sides to the
    // SAME attribute — a trivially-true predicate Spark only rescues via
    // plan-id disambiguation, with a WARN per construction. Distinct
    // names make the equi-join unambiguous by construction (the
    // events_funnel_conv p_uid precedent, applied inside the operator so
    // every caller is safe).
    val r = keyCols.foldLeft(right.withWatermark(rightTsCol, watermarkDelay))(
      (df, c) => df.withColumnRenamed(c, s"__r_$c"))
    val keyCond = keyCols.map(c => l(c) === r(s"__r_$c")).reduce(_ && _)
    val timeCond =
      r(rightTsCol) >= l(leftTsCol) &&
        r(rightTsCol) <= l(leftTsCol) + expr(s"INTERVAL $maxDelay")
    // left_outer emits the null-padded left row once its join window is
    // fully past the watermark — the "click with no purchase" stream
    keyCols.foldLeft(l.join(r, keyCond && timeCond, joinType))(
      (df, c) => df.drop(s"__r_$c"))
  }

  final case class SessionEvent(key: Long, ts_us: Long)
  final case class SessionState(sessionIdx: Long, lastUs: Long, startUs: Long, nEvents: Long)
  final case class SessionOut(key: Long, session_idx: Long, n_events: Long, start_us: Long, end_us: Long)

  /** Stateful gap sessionization: emits a row whenever a session closes
    * (next event after the gap, or state timeout). Batch twin:
    * graft.operators.SessionOps.sessionize.
    */
  def sessionizeStream(
      events: Dataset[SessionEvent],
      gapSeconds: Long
  ): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = gapSeconds * 1000000L
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(),
        GroupStateTimeout.NoTimeout()
      ) { case (key, evts, state: GroupState[SessionState]) =>
        val sorted = evts.toSeq.sortBy(_.ts_us)
        var st = state.getOption.getOrElse(SessionState(0L, Long.MinValue, Long.MinValue, 0L))
        val closed = Seq.newBuilder[SessionOut]
        sorted.foreach { e =>
          if (st.nEvents == 0L || e.ts_us - st.lastUs > gapUs) {
            if (st.nEvents > 0L)
              closed += SessionOut(key, st.sessionIdx, st.nEvents, st.startUs, st.lastUs)
            st = SessionState(st.sessionIdx + 1, e.ts_us, e.ts_us, 1L)
          } else {
            st = st.copy(lastUs = e.ts_us, nEvents = st.nEvents + 1)
          }
        }
        state.update(st)
        closed.result().iterator
      }
  }

  final case class KeyedValue(key: Long, value: Double)
  final case class RunningStats(key: Long, n: Long, sum_value: Double)

  /** Per-key running aggregates on the arbitrary-state v2 API
    * (`transformWithState`, the Spark 4 successor of
    * mapGroupsWithState): ValueState survives across micro-batches and
    * each batch emits one row per touched key with its LIFETIME
    * count/sum — the "enrich events with lifetime stats" streaming
    * shape. State is one fixed-size tuple per key; production retention
    * is bounded with the TTL argument (NONE here so the spec is
    * deterministic).
    */
  class RunningStatsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, KeyedValue, RunningStats] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    @transient private var state: ValueState[(Long, Double)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[(Long, Double)](
        "agg", Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble), TTLConfig.NONE)
    override def handleInputRows(
        key: Long,
        rows: Iterator[KeyedValue],
        timerValues: TimerValues
    ): Iterator[RunningStats] = {
      var (n, s) = Option(state.get()).getOrElse((0L, 0.0))
      rows.foreach { r => n += 1; s += r.value }
      state.update((n, s))
      Iterator.single(RunningStats(key, n, s))
    }
  }

  /** Wire a keyed stream through [[RunningStatsProcessor]]. */
  def runningStats(events: Dataset[KeyedValue]): Dataset[RunningStats] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events
      .groupByKey(_.key)
      .transformWithState(new RunningStatsProcessor, TimeMode.None(), OutputMode.Append())
  }

  final case class SeqValue(key: Long, seq: Long, value: Double)
  final case class AnomalyFlag(key: Long, seq: Long, z: Double)

  /** Streaming twin of [[graft.operators.StatsOps.rollingZScore]]: the
    * trailing-`window` moments live as per-key ValueState (a bounded
    * most-recent-first ring of value cents — integer exact, ≤ window-1
    * longs per key), and the z closed form replays the batch operator's
    * decimal/double contract EXACTLY: s1 in cents and s2 in cent² are
    * the same integers the batch DECIMAL(38,2)/(38,4) window sums hold,
    * and the double expression is token-identical — so a row flagged by
    * the stream carries the bit-identical z the batch job would have
    * computed (StreamingSpec pins this across micro-batches).
    */
  class RollingZScoreProcessor(window: Int, minN: Int, zThresh: Double)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, SeqValue, AnomalyFlag] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    @transient private var ring: ValueState[List[Long]] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      ring = getHandle.getValueState[List[Long]]("ring", Encoders.kryo[List[Long]], TTLConfig.NONE)
    override def handleInputRows(
        key: Long,
        rows: Iterator[SeqValue],
        timerValues: TimerValues
    ): Iterator[AnomalyFlag] = {
      var prior = Option(ring.get()).getOrElse(Nil) // most-recent-first cents
      val out = List.newBuilder[AnomalyFlag]
      rows.foreach { r =>
        // the batch contract's DECIMAL(18,2) cast, as integer cents
        val cents = BigDecimal(r.value).setScale(2, BigDecimal.RoundingMode.HALF_UP)
          .underlying.unscaledValue.longValueExact
        val win = (cents :: prior).take(window)
        val n = win.size.toDouble
        val s1 = win.sum.toDouble / 100.0                  // Σ v, scale 2
        val s2 = win.map(c => c * c).sum.toDouble / 10000.0 // Σ v², scale 4
        val mean = s1 / n
        val variance = s2 / n - mean * mean
        val z = (cents.toDouble / 100.0 - mean) / math.sqrt(math.max(variance, 1e-12))
        if (win.size >= minN && math.abs(z) > zThresh) out += AnomalyFlag(key, r.seq, z)
        prior = (cents :: prior).take(window - 1)
      }
      ring.update(prior)
      out.result().iterator
    }
  }

  final case class CusumState(prefix: Long, minPrefix: Long)
  final case class CusumOut(key: Long, seq: Long, cusum: Long, alarm: Boolean)

  /** Streaming twin of the batch CUSUM closed form (events_cusum): per
    * key, the deviation prefix sum P and its running minimum are TWO
    * LONGS of state — S_t = P_t − min(0, minP_t). mu/slack are fixed
    * parameters here (the batch query derives them from the full series;
    * a live monitor pins them from yesterday's calibration), so the
    * output is bit-identical to the batch recursion replayed with the
    * same parameters REGARDLESS of micro-batch splits. Rows are applied
    * in seq order within each batch (sorted locally — per-key daily
    * frames are tiny); cross-batch order is the arrival contract.
    */
  class CusumProcessor(mu: Long, slack: Long, alarmMult: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, SeqValue, CusumOut] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    @transient private var st: ValueState[CusumState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[CusumState]("cusum", Encoders.kryo[CusumState], TTLConfig.NONE)
    override def handleInputRows(
        key: Long,
        rows: Iterator[SeqValue],
        timerValues: TimerValues
    ): Iterator[CusumOut] = {
      var s = Option(st.get()).getOrElse(CusumState(0L, 0L))
      val out = rows.toSeq.sortBy(_.seq).map { r =>
        // the batch contract's DECIMAL(18,2) cast, as integer cents
        val cents = BigDecimal(r.value).setScale(2, BigDecimal.RoundingMode.HALF_UP)
          .underlying.unscaledValue.longValueExact
        val p = s.prefix + (cents - mu - slack)
        s = CusumState(p, math.min(s.minPrefix, p))
        val cusum = p - math.min(0L, s.minPrefix)
        CusumOut(key, r.seq, cusum, cusum > slack * alarmMult)
      }
      st.update(s)
      out.iterator
    }
  }

  final case class PsiOut(key: Long, n_cur: Long, psi: Double, alarm: Boolean)

  /** Streaming twin of the batch PSI drift monitor ([[graft.operators
    * .DriftOps.psi]]): the BASELINE histogram is a fixed constructor
    * parameter (pinned from a calibration window — the CusumProcessor
    * mu/slack convention), the per-key CURRENT histogram is `bins`
    * longs of state, and each micro-batch emits the updated smoothed
    * PSI. Histogram folding is order-independent, so the emitted PSI
    * after the last batch is bit-identical to the batch computation
    * over the same rows REGARDLESS of micro-batch splits — and equals
    * DriftOps.psi's scalar when given the same baseline (identical
    * per-bin arithmetic: +1 smoothing, (p−q)·ln(p/q) rounded to 9
    * half-up, summed in ascending bin order; Math.log both sides).
    */
  class PsiProcessor(
      baseline: Array[Long], bins: Int, lo: Long, hi: Long, threshold: Double)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, SeqValue, PsiOut] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    require(baseline.length == bins && bins >= 2 && hi > lo,
      "streaming PSI: baseline length must equal bins; bins >= 2; hi > lo")
    @transient private var st: ValueState[Array[Long]] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[Array[Long]]("psiBins",
        Encoders.kryo[Array[Long]], TTLConfig.NONE)
    override def handleInputRows(
        key: Long,
        rows: Iterator[SeqValue],
        timerValues: TimerValues
    ): Iterator[PsiOut] = {
      val counts = Option(st.get()).getOrElse(Array.fill(bins)(0L))
      val width = (hi - lo + bins - 1) / bins
      rows.foreach { r =>
        val cents = BigDecimal(r.value).setScale(2, BigDecimal.RoundingMode.HALF_UP)
          .underlying.unscaledValue.longValueExact
        val b = math.min(math.max((cents - lo) / width, 0L), (bins - 1).toLong).toInt
        counts(b) += 1
      }
      st.update(counts)
      val nb = baseline.sum; val nc = counts.sum
      var acc = 0.0
      var i = 0
      while (i < bins) {
        val p = (baseline(i) + 1).toDouble / (nb + bins).toDouble
        val q = (counts(i) + 1).toDouble / (nc + bins).toDouble
        acc += java.math.BigDecimal.valueOf((p - q) * math.log(p / q))
          .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue
        i += 1
      }
      Iterator.single(PsiOut(key, nc, acc, acc > threshold))
    }
  }

  final case class TokenRow(shard: Long, tok: String)
  final case class HeavyHittersOut(shard: Long, n_rows: Long, items: Map[String, Long])

  /** STREAMING Misra-Gries heavy hitters (the mergeable
    * [[graft.functions.SketchAggregates.misraGries]] aggregate's
    * ≤ k-counter state as transformWithState): per shard key, the
    * candidate map updates with the classic decrement-all rule — the
    * identical per-row transition the batch TypedImperativeAggregate
    * applies, so the MG GUARANTEES carry over verbatim: every token
    * with true shard count > n_shard/(k+1) is present, and each
    * estimate undercounts by at most n_shard/(k+1). (Bit-equality with
    * a batch run is NOT the contract — MG's candidate set is
    * row-order-dependent in both engines equally; the spec pins the
    * guarantees and the shard-merge, which are order-free.) Shard maps
    * merge downstream with the batch aggregate's count-sum + cut rule
    * — the sketch stays mergeable across the stream/batch boundary.
    * State per shard is ≤ k entries; each micro-batch emits the
    * shard's refreshed candidates.
    */
  class MgProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TokenRow, HeavyHittersOut] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    require(k >= 1, "streaming MG needs k >= 1")
    @transient private var st: ValueState[(Long, Map[String, Long])] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Map[String, Long])]("mgState",
        Encoders.kryo[(Long, Map[String, Long])], TTLConfig.NONE)
    override def handleInputRows(
        key: Long,
        rows: Iterator[TokenRow],
        timerValues: TimerValues
    ): Iterator[HeavyHittersOut] = {
      val (n0, m0) = Option(st.get()).getOrElse((0L, Map.empty[String, Long]))
      val buf = scala.collection.mutable.HashMap.from(m0)
      var n = n0
      rows.foreach { r =>
        n += 1
        buf.get(r.tok) match {
          case Some(c) => buf(r.tok) = c + 1
          case None if buf.size < k => buf(r.tok) = 1L
          case None =>
            val dead = scala.collection.mutable.ArrayBuffer.empty[String]
            buf.foreach { case (t, c) => if (c == 1L) dead += t else buf(t) = c - 1 }
            dead.foreach(buf.remove)
        }
      }
      st.update((n, buf.toMap))
      Iterator.single(HeavyHittersOut(key, n, buf.toMap))
    }
  }

  /** Wire a sharded token stream through [[MgProcessor]]. */
  def streamingHeavyHitters(tokens: Dataset[TokenRow], k: Int): Dataset[HeavyHittersOut] = {
    import tokens.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    tokens
      .groupByKey(_.shard)
      .transformWithState(new MgProcessor(k), TimeMode.None(), OutputMode.Append())
  }

  /** Wire a keyed stream through [[PsiProcessor]]. */
  def streamingPsi(
      events: Dataset[SeqValue],
      baseline: Array[Long],
      bins: Int,
      lo: Long,
      hi: Long,
      threshold: Double = 0.2
  ): Dataset[PsiOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events
      .groupByKey(_.key)
      .transformWithState(new PsiProcessor(baseline, bins, lo, hi, threshold),
        TimeMode.None(), OutputMode.Append())
  }

  /** Wire a keyed stream through [[CusumProcessor]]. */
  def streamingCusum(
      events: Dataset[SeqValue],
      mu: Long,
      slack: Long,
      alarmMult: Long = 5L
  ): Dataset[CusumOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events
      .groupByKey(_.key)
      .transformWithState(new CusumProcessor(mu, slack, alarmMult),
        TimeMode.None(), OutputMode.Append())
  }

  /** Wire a keyed stream through [[RollingZScoreProcessor]]. */
  def streamingAnomalies(
      events: Dataset[SeqValue],
      window: Int,
      minN: Int,
      zThresh: Double
  ): Dataset[AnomalyFlag] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events
      .groupByKey(_.key)
      .transformWithState(new RollingZScoreProcessor(window, minN, zThresh),
        TimeMode.None(), OutputMode.Append())
  }

  /** Streaming near-duplicate dedup: drop documents whose MinHash
    * signature (map-side native expression — no state, no shuffle to
    * compute) collides with one already seen inside the watermark
    * horizon. Exact dups always collide; near-dups collide when all k
    * minima agree (tune k down for looser matching: k=16 at jaccard 0.9
    * collides with p ≈ 0.9^16 ≈ 0.19 per signature — this operator is
    * the streaming guard against duplicate floods, not a replacement for
    * the batch LSH pass, which still owns recall).
    *
    * State is bounded by the watermark: signatures older than the delay
    * are dropped (`dropDuplicatesWithinWatermark` semantics).
    */
  def dedupNearWithinWatermark(
      df: DataFrame,
      textCol: String,
      tsCol: String,
      delay: String,
      k: Int = 16
  ): DataFrame = {
    import graft.operators.DedupOps
    df.withColumn("__sig", DedupOps.minhashSigCol(DedupOps.hashedShingleSet(col(textCol), 3), k))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("__sig")
      .drop("__sig")
  }

  /** Streaming incremental dedup probe: a STREAM of new documents
    * checked against the PERSISTED MinHash index
    * (graft.operators.IncrementalDedupOps) as it arrives — the
    * stream-static shape: signature + band keys are a pure map-side
    * projection on each micro-batch, the band join and the verify join
    * read the static bucketed tables, and no streaming state is kept
    * (the index IS the state, maintained by the batch appendToIndex
    * job). Covers the new×base half of the daily probe; duplicates
    * WITHIN the stream are the job of `dedupNearWithinWatermark`
    * upstream. Emits (new_id, base_id, jaccard) — one row PER AGREEING
    * BAND (a pair matching 3 bands emits 3 identical rows): collapsing
    * them would need a streaming aggregation whose state never expires,
    * and the rows are idempotent for any dedup consumer; per-micro-batch
    * exact-once consumers dedup in foreachBatch, where it is a cheap
    * batch `dropDuplicates`.
    */
  def streamingIndexProbe(
      stream: DataFrame,
      textCol: String,
      idCol: String,
      bandsTable: String,
      sigsTable: String,
      threshold: Double,
      shingleSize: Int = 3,
      numBands: Int = 8,
      rowsPerBand: Int = 4
  ): DataFrame = {
    import graft.operators.DedupOps
    val spark = stream.sparkSession
    val newBands = DedupOps.withBandKeys(DedupOps.shingleSets(stream, textCol, idCol, shingleSize),
        numBands, rowsPerBand)
      .select(col("id").as("new_id"), col("sh").as("new_sh"), col("band_key"))
    val baseBands = spark.table(bandsTable).select(col("band_key"), col("id").as("base_id"))
    val baseSh = spark.table(sigsTable).select(col("id").as("base_id"), col("sh").as("base_sh"))
    newBands
      .join(baseBands, "band_key")
      .filter(col("new_id") =!= col("base_id"))
      .select("new_id", "new_sh", "base_id")
      .join(baseSh, "base_id")
      .withColumn("jaccard", DedupOps.jaccardSets(col("new_sh"), col("base_sh")))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("base_id"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Idempotent `foreachBatch` writer for non-transactional sinks.
    *
    * Structured Streaming replays the last uncommitted micro-batch after
    * a restart, so a naive foreachBatch double-writes. This wrapper keeps
    * a marker file per committed batch id: a replayed id is skipped
    * entirely. The marker is written AFTER `writeBatch` returns, so the
    * guarantee is exactly-once as long as `writeBatch` is atomic-or-
    * idempotent per batch (e.g. overwrite of a batch-keyed location —
    * see `exactlyOnceParquetSink`); otherwise at-least-once.
    */
  def idempotentForeachBatch(
      commitDir: String,
      writeBatch: (DataFrame, Long) => Unit
  ): (DataFrame, Long) => Unit = { (df, batchId) =>
    val hconf = df.sparkSession.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(commitDir)
    val fs = dir.getFileSystem(hconf)
    val marker = new org.apache.hadoop.fs.Path(dir, s"batch-$batchId")
    if (!fs.exists(marker)) {
      writeBatch(df, batchId)
      fs.mkdirs(dir)
      fs.create(marker, true).close()
    }
  }

  /** Exactly-once parquet sink via foreachBatch: each micro-batch
    * overwrites its own `__batch_id=<n>` partition (idempotent per batch)
    * and the commit marker suppresses replays. Pass the result to
    * `writeStream.foreachBatch(...)`.
    */
  def exactlyOnceParquetSink(outDir: String, commitDir: String): (DataFrame, Long) => Unit =
    idempotentForeachBatch(commitDir, writeBatchPartition(_, _, outDir))

  /** The batch write of [[exactlyOnceParquetSink]]: `df` overwrites the
    * `__batch_id=<batchId>` partition of `outDir` (dynamic-partition
    * overwrite), so re-running a batch id rewrites the same rows. */
  def writeBatchPartition(df: DataFrame, batchId: Long, outDir: String): Unit =
    df.withColumn("__batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__batch_id")
      .parquet(outDir)

  /** Streaming CDC apply — the streaming twin of [[graft.operators.DiffOps.merge]]:
    * maintain a MERGE'd snapshot table from a change stream. Each
    * microbatch (a) collapses within-batch changes to the LAST per key
    * by `orderCol` (CDC streams carry ordered change sequences — a key
    * updated twice in one batch must land on its final state), then
    * (b) full-outer-merges into the current snapshot (upsert + delete
    * semantics) and (c) publishes a new snapshot GENERATION directory,
    * flipping a pointer file only after the write succeeds
    * ([[graft.io.PointerFile.publish]]: a temp file renamed over the
    * pointer). Replayed batch ids are complete no-ops (the commit-log
    * discipline of [[idempotentForeachBatch]]), so a post-failure
    * re-delivery cannot double-apply — exactly-once table maintenance
    * over plain parquet. A batch cut after its flip but before its commit
    * marker replays against a pointer that already names its own
    * generation: that generation already holds the batch, so the replay
    * only re-publishes it (a merge would read and overwrite the same
    * directory).
    *
    * Single-writer contract: the streaming query serializes batches, so
    * the read-merge-publish cycle never races itself; a transactional
    * format (Delta/Iceberg) replaces the pointer flip in production,
    * everything else is unchanged. Old generations are retained (time
    * travel / debugging); compact or vacuum them out of band.
    */
  def cdcApplySink(
      snapshotDir: String,
      commitDir: String,
      keyCols: Seq[String],
      orderCol: String,
      deleteCol: Option[String] = None
  ): (DataFrame, Long) => Unit =
    idempotentForeachBatch(commitDir, { (batch, batchId) =>
      val spark = batch.sparkSession
      val hconf = spark.sparkContext.hadoopConfiguration
      val snapRoot = new org.apache.hadoop.fs.Path(snapshotDir)
      val ptr = new org.apache.hadoop.fs.Path(snapRoot, "_LATEST")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keyCols.map(col): _*)
        .orderBy(col(orderCol).desc)
      val latest = batch.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
      val snapCols = batch.columns.toSeq.filterNot(deleteCol.contains)
      val gen = new org.apache.hadoop.fs.Path(snapRoot, s"gen-$batchId")
      val cur = graft.io.PointerFile.read(ptr, hconf)
      if (!cur.exists(new org.apache.hadoop.fs.Path(_).getName == gen.getName)) {
        val base = cur match {
          case Some(c) => spark.read.parquet(c)
          case None =>
            spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
              org.apache.spark.sql.types.StructType(
                batch.schema.fields.filter(f => snapCols.contains(f.name))))
        }
        val merged = graft.operators.DiffOps.merge(base, latest, keyCols, deleteCol)
        merged.write.mode("overwrite").parquet(gen.toString)
      }
      graft.io.PointerFile.publish(ptr, gen.toString, hconf)
    })

  /** Streaming CDC apply into an embedded COMMIT-LOG table — the
    * kafka→delta pipeline composed end-to-end: a change stream
    * (typically `kafka://…?embedded=true`) maintains a
    * `delta://…?embedded=true` table with ONE atomic versioned commit
    * per micro-batch. Within-batch changes collapse to the last per
    * key (`orderCol` desc — a key changed twice in one batch lands on
    * its final state), merge via [[graft.operators.DiffOps.merge]]
    * into the table's CURRENT snapshot (upsert + delete), and land as
    * an OVERWRITE commit: atomic create-new, so a concurrent reader
    * never sees a half-applied batch, and `versionAsOf` exposes the
    * exact per-batch history for free. The batch-id commit log makes
    * redelivery a complete no-op BEFORE any staging I/O — exactly-once
    * from topic offset to table version. The merged plan READS the
    * table's current files while the write STAGES new ones;
    * EmbeddedCommitLog never deletes old generations at commit time,
    * so the read-while-write is safe (the staged-swap contract).
    */
  def cdcCommitLogSink(
      tableDir: String,
      commitDir: String,
      keyCols: Seq[String],
      orderCol: String,
      deleteCol: Option[String] = None
  ): (DataFrame, Long) => Unit =
    idempotentForeachBatch(commitDir, { (batch, batchId) =>
      val spark = batch.sparkSession
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keyCols.map(col): _*)
        .orderBy(col(orderCol).desc)
      val latest = batch.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
      val snapCols = batch.columns.toSeq.filterNot(deleteCol.contains)
      val hasTable = java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(tableDir, "_graft_log"))
      val base =
        if (hasTable) graft.sources.EmbeddedCommitLog.read(spark, tableDir, None)
        else spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
          org.apache.spark.sql.types.StructType(
            batch.schema.fields.filter(f => snapCols.contains(f.name))))
      val merged = graft.operators.DiffOps.merge(base, latest, keyCols, deleteCol)
      graft.sources.EmbeddedCommitLog.write(merged, tableDir, overwrite = true)
      ()
    })

  /** Read the current snapshot maintained by [[cdcApplySink]]. */
  def readSnapshot(spark: SparkSession, snapshotDir: String): DataFrame = {
    val ptr = new org.apache.hadoop.fs.Path(snapshotDir, "_LATEST")
    val cur = graft.io.PointerFile.read(ptr, spark.sparkContext.hadoopConfiguration)
      .getOrElse(throw new java.io.FileNotFoundException(s"no snapshot published under $snapshotDir"))
    spark.read.parquet(cur)
  }

  /** TEST-ONLY convenience: replay a batch DataFrame as a file-source
    * stream so streaming operators can be unit-tested without external
    * services. The temp-dir write happens on the driver path — never use
    * this as a production source (point readStream at the real storage).
    */
  def replayAsStream(spark: SparkSession, df: DataFrame, tsCol: String): DataFrame = {
    // file-based replay: write to a temp dir, read back with readStream
    val dir = java.nio.file.Files.createTempDirectory("graft-replay").toString
    df.write.mode("overwrite").parquet(dir)
    spark.readStream.schema(df.schema).parquet(dir)
  }

  final case class DayEvent(key: String, day: Long)
  final case class DecayOut(key: String, n_events: Long, decayed: Double)

  /** STREAMING exponentially-decayed trending counts — the incremental
    * twin of [[graft.operators.StatsOps.decayedTrend]]: state per key is
    * the plain integer (day → count) map (mergeable, order-free), and
    * the decayed score is computed only AT EMIT with the batch
    * operator's exact read formula — ascending-age fold of
    * n·0.5^age against the caller-supplied `asOfDay`. Because the
    * STATE is integers and the fold order is pinned, a micro-batched
    * stream emits the BIT-IDENTICAL double the batch query computes
    * over the same rows — the PSI monitor's stream≡batch contract,
    * applied to trending.
    */
  class DecayTrendProcessor(asOfDay: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, DayEvent, DecayOut] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    @transient private var st: ValueState[Map[Long, Long]] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[Map[Long, Long]]("decayDayCounts",
        Encoders.kryo[Map[Long, Long]], TTLConfig.NONE)
    override def handleInputRows(
        key: String,
        rows: Iterator[DayEvent],
        timerValues: TimerValues
    ): Iterator[DecayOut] = {
      val m = scala.collection.mutable.HashMap.from(
        Option(st.get()).getOrElse(Map.empty[Long, Long]))
      rows.foreach(r => m(r.day) = m.getOrElse(r.day, 0L) + 1L)
      st.update(m.toMap)
      // the batch read formula, token for token: ascending age, double
      // accumulate from 0.0, weight = 0.5^age (exact powers of two)
      var acc = 0.0
      m.toSeq.map { case (d, n) => ((asOfDay - d).toInt, n) }.sortBy(_._1)
        .foreach { case (age, n) => acc += n.toDouble * math.pow(0.5, age.toDouble) }
      Iterator.single(DecayOut(key, m.valuesIterator.sum, acc))
    }
  }

  /** Wire a keyed day-event stream through [[DecayTrendProcessor]]. */
  def streamingDecayedTrend(events: Dataset[DayEvent], asOfDay: Long): Dataset[DecayOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events
      .groupByKey(_.key)
      .transformWithState(new DecayTrendProcessor(asOfDay), TimeMode.None(), OutputMode.Append())
  }

  final case class DgimEvent(key: Long, tsUs: Long)
  final case class DgimOut(key: Long, nOnes: Long, nBuckets: Long, est: Long, oldestSz: Long)

  /** STREAMING DGIM (the incremental side of the batch `events_dgim`
    * query's closed-form state): per key, the classic O(log²N)
    * exponential-bucket list as transformWithState — each arriving
    * event prepends a size-1 bucket and cascade-merges (two OLDEST of
    * a size → one of 2·size keeping the NEWER timestamp, the Datar et
    * al. rule); buckets entirely older than the trailing window expire
    * from state. The batch query PROVES (property spec, n = 1..512)
    * that this cascade equals the closed-form digit decomposition, so
    * stream state ≡ batch state on the PRE-EXPIRY prefix (while no
    * bucket has yet aged out — the regime the spec tests). Once expiry
    * removes buckets, later cascade merges see a shorter list than the
    * closed form (which windows only at read time over full n), so the
    * two states legitimately diverge; DGIM's estimate bound holds for
    * both, which is the property that matters post-expiry. Per
    * micro-batch the processor
    * emits (n seen, included buckets, est = Σsz − oldest/2, oldest).
    * Intra-batch rows are folded in ascending-tsUs order; rows tied on
    * tsUs commute (an insert is the indistinguishable tuple (tsUs, 1),
    * so any order of equal elements walks the identical state sequence
    * — no event-id tiebreak is needed for determinism); cross-batch
    * order is the source's watermark contract, as with every DGIM
    * deploy. */
  class DgimProcessor(windowUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, DgimEvent, DgimOut] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    @transient private var st: ValueState[(Long, List[(Long, Long)])] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, List[(Long, Long)])]("dgimBuckets",
        Encoders.kryo[(Long, List[(Long, Long)])], TTLConfig.NONE)
    override def handleInputRows(
        key: Long,
        rows: Iterator[DgimEvent],
        timerValues: TimerValues
    ): Iterator[DgimOut] = {
      val (n0, bk0) = Option(st.get()).getOrElse((0L, List.empty[(Long, Long)]))
      var bk = bk0.toVector // newest-first (ts, size)
      var n = n0
      rows.toSeq.sortBy(_.tsUs).foreach { r =>
        n += 1
        bk = (r.tsUs, 1L) +: bk
        var sz = 1L
        var done = false
        while (!done) {
          val idx = bk.zipWithIndex.filter(_._1._2 == sz).map(_._2)
          if (idx.length >= 3) {
            val (a, b) = (idx(idx.length - 2), idx(idx.length - 1))
            val merged = (bk(a)._1, sz * 2) // newer of the two oldest
            bk = (bk.take(a) :+ merged) ++ bk.drop(b + 1)
            sz *= 2
          } else done = true
        }
      }
      val maxTs = bk.headOption.map(_._1).getOrElse(0L)
      val cutoff = maxTs - windowUs
      bk = bk.filter(_._1 >= cutoff) // DGIM expiry: gone buckets never return
      st.update((n, bk.toList))
      val sum = bk.map(_._2).sum
      val oldest = bk.lastOption.map(_._2).getOrElse(0L)
      Iterator.single(DgimOut(key, n, bk.length.toLong, sum - oldest / 2, oldest))
    }
  }

  /** Wire a keyed event stream through [[DgimProcessor]]. */
  def streamingDgim(events: Dataset[DgimEvent], windowUs: Long): Dataset[DgimOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events
      .groupByKey(_.key)
      .transformWithState(new DgimProcessor(windowUs), TimeMode.None(), OutputMode.Append())
  }
}
