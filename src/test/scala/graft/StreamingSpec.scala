package graft

import graft.streaming.StreamOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("stateful streaming sessionization closes sessions on gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamOps.SessionEvent]
    val out = StreamOps.sessionizeStream(input.toDS(), gapSeconds = 60)
    val q = out.writeStream.format("memory").queryName("sessions_out").outputMode("append").start()
    try {
      // two events 10s apart (one session), then one 120s later → closes it
      input.addData(StreamOps.SessionEvent(1L, 0L), StreamOps.SessionEvent(1L, 10000000L))
      q.processAllAvailable()
      input.addData(StreamOps.SessionEvent(1L, 130000000L))
      q.processAllAvailable()
      val rows = spark.table("sessions_out").collect()
      assert(rows.length == 1)
      val r = rows.head
      assert(r.getAs[Long]("key") == 1L && r.getAs[Long]("n_events") == 2L &&
        r.getAs[Long]("start_us") == 0L && r.getAs[Long]("end_us") == 10000000L)
    } finally q.stop()
  }

  test("transformWithState keeps per-key lifetime aggregates across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    // the v2 arbitrary-state API needs the RocksDB state store
    val prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[StreamOps.KeyedValue]
    val out = StreamOps.runningStats(input.toDS())
    val q = out.writeStream.format("memory").queryName("running_out").outputMode("append").start()
    try {
      input.addData(StreamOps.KeyedValue(1L, 2.0), StreamOps.KeyedValue(1L, 3.0), StreamOps.KeyedValue(2L, 5.0))
      q.processAllAvailable()
      input.addData(StreamOps.KeyedValue(1L, 10.0))
      q.processAllAvailable()
      val rows = spark.table("running_out").collect()
        .map(r => (r.getAs[Long]("key"), r.getAs[Long]("n"), r.getAs[Double]("sum_value"))).toSet
      // batch 1: key 1 → (2, 5.0), key 2 → (1, 5.0); batch 2 resumes key 1's
      // ValueState → (3, 15.0): the lifetime carries across micro-batches
      assert(rows == Set((1L, 2L, 5.0), (2L, 1L, 5.0), (1L, 3L, 15.0)))
    } finally {
      q.stop()
      if (prev.isEmpty) spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      else spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    }
  }

  test("streaming windowed aggregation with watermark emits closed windows") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val df = input.toDF().toDF("ts", "user_id", "value")
    val out = StreamOps.windowedAgg(df, "ts", "value", "10 minutes", "5 minutes")
    val q = out.writeStream.format("memory").queryName("win_out").outputMode("append").start()
    try {
      def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
      input.addData((ts(1), 1L, 1.0), (ts(2), 2L, 2.0))
      q.processAllAvailable()
      // advance watermark far enough to close the first window
      input.addData((ts(40), 3L, 3.0))
      q.processAllAvailable()
      input.addData((ts(55), 4L, 4.0))
      q.processAllAvailable()
      val rows = spark.table("win_out").collect()
      assert(rows.exists(r => r.getAs[Long]("n_events") == 2L && r.getAs[Double]("sum_value") == 3.0))
    } finally q.stop()
  }

  test("streaming dedup within watermark drops repeated keys") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val df = input.toDF().toDF("ts", "id")
    val out = StreamOps.dedupWithinWatermark(df, "ts", "10 minutes", Seq("id"))
    val q = out.writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val t1 = java.sql.Timestamp.valueOf("2024-01-01 00:01:00")
      input.addData((t0, 1L), (t1, 1L), (t0, 2L))
      q.processAllAvailable()
      val rows = spark.table("dedup_out").collect()
      assert(rows.map(_.getAs[Long]("id")).sorted.toSeq == Seq(1L, 2L))
    } finally q.stop()
  }

  test("stream-stream join matches within the time bound, bounded state") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(java.sql.Timestamp, Long)]
    val buys = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val l = clicks.toDF().toDF("click_ts", "user")
    val r = buys.toDF().toDF("buy_ts", "user", "amount")
    val joined = StreamOps.streamStreamJoin(
      l, r, Seq("user"), "click_ts", "buy_ts",
      watermarkDelay = "10 minutes", maxDelay = "5 minutes")
    val q = joined.writeStream.format("memory").queryName("ssj_out").outputMode("append").start()
    try {
      def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
      clicks.addData((ts(1), 1L), (ts(1), 2L))
      buys.addData((ts(3), 1L, 9.99), (ts(30), 2L, 5.0)) // user 2 buys too late (29 min > 5)
      q.processAllAvailable()
      val rows = spark.table("ssj_out").collect()
      assert(rows.length == 1 && rows.head.getAs[Long]("user") == 1L &&
        rows.head.getAs[Double]("amount") == 9.99,
        s"only user 1's in-window buy must join: ${rows.mkString(",")}")
    } finally q.stop()
  }

  test("streaming index probe: docs stream matches the persisted index statelessly across batches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Ckpt, DedupOps, IncrementalDedupOps}
    def sh(df: org.apache.spark.sql.DataFrame) = DedupOps.shingleSets(df, "text", "doc_id", 2)
    val base = (0L until 40L).map(i => (i * 2 + 1, s"shared prefix text w${i % 8} suffix tail"))
      .toDF("doc_id", "text")
    val idx = IncrementalDedupOps.buildIndexOf(sh(base).transform(Ckpt.eagerCkpt), "inc_stream",
      numBuckets = 2, numBands = 16, rowsPerBand = 2)
    val input = MemoryStream[(Long, String)]
    val probed = StreamOps.streamingIndexProbe(
      input.toDF().toDF("doc_id", "text"), "text", "doc_id",
      idx.bands, idx.sigs, threshold = 0.7, shingleSize = 2, numBands = 16, rowsPerBand = 2)
    assert(probed.isStreaming, "stream-static probe must stay a streaming plan")
    val q = probed.writeStream.format("memory").queryName("inc_probe_out").outputMode("append").start()
    try {
      // two micro-batches: matches must come from the static index alone
      input.addData((0L, "shared prefix text w0 suffix tail"))
      q.processAllAvailable()
      input.addData((2L, "shared prefix text w1 suffix tail"), (4L, "completely different content"))
      q.processAllAvailable()
      val rows = spark.table("inc_probe_out")
        .select("new_id", "base_id", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet // band-duplicate rows collapse
      val expected = IncrementalDedupOps.probeOf(
          sh(Seq((0L, "shared prefix text w0 suffix tail"), (2L, "shared prefix text w1 suffix tail"),
            (4L, "completely different content")).toDF("doc_id", "text")).transform(Ckpt.lazyCkpt),
          idx, threshold = 0.7, numBands = 16, rowsPerBand = 2)
        .filter(col("b_id") % 2 === 1 || col("a_id") % 2 === 1) // new×base half only
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .map { case (a, b, j) => if (a % 2 == 0) (a, b, j) else (b, a, j) }.toSet
      assert(rows == expected, s"stream-only=${rows -- expected}, batch-only=${expected -- rows}")
      assert(rows.nonEmpty)
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS inc_stream_bands")
      spark.sql("DROP TABLE IF EXISTS inc_stream_sigs")
    }
  }

  test("kafka-shaped stream: binary value -> json serde decode -> watermark window agg") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("user_id", LongType), StructField("value", DoubleType)))
    val input = MemoryStream[String]
    // the kafka wire shape: an opaque binary `value` column
    val wire = input.toDF().select(col("value").cast("binary").as("value"))
    val decoded = new graft.sources.JsonSerde(Some(schema)).deserialize(wire)
    assert(decoded.isStreaming, "schema-driven json serde must stay streaming-safe")
    val out = StreamOps.windowedAgg(decoded, "ts", "value", "10 minutes", "5 minutes")
    val q = out.writeStream.format("memory").queryName("kafka_out").outputMode("append").start()
    try {
      def rec(min: Int, uid: Long, v: Double) =
        f"""{"ts":"2024-01-01T00:$min%02d:00.000Z","user_id":$uid,"value":$v}"""
      input.addData(rec(1, 1L, 1.0), rec(2, 2L, 2.0))
      q.processAllAvailable()
      input.addData(rec(40, 3L, 3.0)) // advance watermark past the first window
      q.processAllAvailable()
      input.addData(rec(55, 4L, 4.0))
      q.processAllAvailable()
      val rows = spark.table("kafka_out").collect()
      assert(rows.exists(r => r.getAs[Long]("n_events") == 2L && r.getAs[Double]("sum_value") == 3.0),
        s"first window must close with both decoded events: ${rows.mkString(",")}")
    } finally q.stop()
  }

  test("streaming near-dup dedup drops repeated content within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val df = input.toDF().toDF("ts", "text")
    val out = StreamOps.dedupNearWithinWatermark(df, "text", "ts", "10 minutes")
    val q = out.writeStream.format("memory").queryName("neardup_out").outputMode("append").start()
    try {
      def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
      input.addData(
        (ts(1), "the quick brown fox jumps over the lazy dog"),
        (ts(2), "the quick brown fox jumps over the lazy dog"), // exact dup → dropped
        (ts(3), "a completely different document about spark"))
      q.processAllAvailable()
      val texts = spark.table("neardup_out").collect().map(_.getString(1))
      assert(texts.length == 2, s"exact dup must be dropped: ${texts.mkString("|")}")
      assert(texts.count(_.contains("quick brown fox")) == 1)
    } finally q.stop()
  }

  test("idempotent foreachBatch sink skips replayed batch ids (exactly-once)") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-eo-out").toString
    val commits = java.nio.file.Files.createTempDirectory("graft-eo-commits").toString
    val sink = StreamOps.exactlyOnceParquetSink(out, commits)
    val batch = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    sink(batch, 0L)
    sink(batch, 0L) // restart replay of the same micro-batch: must be a no-op
    sink(batch, 1L)
    val rows = spark.read.parquet(out)
    assert(rows.count() == 4, "batch 0 written once, batch 1 once")
    assert(rows.select("__batch_id").distinct().count() == 2)
    // end-to-end through a real streaming query
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    val q = input.toDF().writeStream
      .foreachBatch(StreamOps.exactlyOnceParquetSink(
        java.nio.file.Files.createTempDirectory("graft-eo-out2").toString,
        java.nio.file.Files.createTempDirectory("graft-eo-commits2").toString))
      .start()
    try { input.addData(1L, 2L, 3L); q.processAllAvailable() } finally q.stop()
  }

  test("stream-static join enriches a stream against a batch dimension") {
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("uid", "tier")
    val in = MemoryStream[(Long, Double)]
    val joined = in.toDF().toDF("uid", "amt")
      .join(org.apache.spark.sql.functions.broadcast(dim), Seq("uid"), "left")
    in.addData((1L, 5.0), (2L, 7.0), (9L, 1.0))
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(30000)
    val rows = spark.table("ss_join").orderBy("uid")
      .collect().map(r => (r.getLong(0), Option(r.getString(2)).getOrElse("none"))).toSeq
    assert(rows == Seq((1L, "gold"), (2L, "silver"), (9L, "none")))
  }

  test("file replay stream reads a batch frame as a stream") {
    val df = spark.range(5).toDF("id").withColumn("ts", current_timestamp())
    val stream = StreamOps.replayAsStream(spark, df, "ts")
    assert(stream.isStreaming)
    val q = stream.writeStream.format("memory").queryName("replay_out").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("replay_out").count() == 5)
    } finally q.stop()
  }

  test("streaming rolling z-score flags the SAME rows with the SAME z as the batch operator") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // key 1: flat baseline then a spike in the SECOND micro-batch (state
    // must carry the first batch's ring across); key 2: stays quiet
    val base = (1 to 9).map(i => StreamOps.SeqValue(1L, i.toLong, 10.0 + (i % 3)))
    val spike = Seq(StreamOps.SeqValue(1L, 10L, 250.0), StreamOps.SeqValue(2L, 11L, 10.0))
    val input = MemoryStream[StreamOps.SeqValue]
    val out = StreamOps.streamingAnomalies(input.toDS(), window = 20, minN = 10, zThresh = 2.0)
    val q = out.writeStream.format("memory").queryName("anomaly_out").outputMode("append").start()
    try {
      input.addData(base: _*)
      q.processAllAvailable()
      input.addData(spike: _*)
      q.processAllAvailable()
      val streamed = spark.table("anomaly_out")
        .as[StreamOps.AnomalyFlag].collect().toSeq.sortBy(f => (f.key, f.seq))
      val batch = graft.operators.StatsOps
        .rollingZScore((base ++ spike).toDF("user_id", "seq", "value"),
          "user_id", Seq("seq"), "value", window = 20, minN = 10, zThresh = 2.0)
        .select(col("user_id"), col("seq"), col("z"))
        .as[(Long, Long, Double)].collect().toSeq.sortBy(f => (f._1, f._2))
      assert(streamed.map(f => (f.key, f.seq, f.z)) == batch,
        s"stream=$streamed batch=$batch")
      assert(streamed.nonEmpty && streamed.head.seq == 10L)
    } finally {
      q.stop()
      if (prev.nonEmpty)
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    }
  }

  test("streaming CMS equals the batch sketch bit-for-bit after 2 micro-batches") {
    // count-min is ORDER-INDEPENDENT (element-wise counter adds), so the
    // streaming aggregation's incremental state after any micro-batch
    // split must equal the one-shot batch sketch exactly — the property
    // that lets a live frequency index be checkpointed and resumed
    // without drift
    import graft.functions.CountMinSketch._
    implicit val sqlCtx = spark.sqlContext
    val d = 2; val w = 64
    val batch1 = (1 to 40).map(i => (i % 7).toLong)
    val batch2 = (1 to 25).map(i => (i % 4).toLong)
    val input = MemoryStream[Long]
    val out = input.toDS().toDF("k").groupBy()
      .agg(cms(col("k"), d, w).as("sk"))
    val q = out.writeStream.format("memory").queryName("cms_out")
      .outputMode("complete").start()
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
      val streamed = spark.table("cms_out").as[Seq[Long]].head()
      val batch = (batch1 ++ batch2).toDF("k")
        .agg(cms(col("k"), d, w).as("sk")).as[Seq[Long]].head()
      assert(streamed == batch, "streaming CMS state must equal the batch sketch")
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join emits the null-padded row after the watermark closes it") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(java.sql.Timestamp, Long)]
    val buys = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val joined = StreamOps.streamStreamJoin(
      clicks.toDF().toDF("click_ts", "user"),
      buys.toDF().toDF("buy_ts", "user", "amount"),
      Seq("user"), "click_ts", "buy_ts",
      watermarkDelay = "10 minutes", maxDelay = "5 minutes", joinType = "left_outer")
    val q = joined.writeStream.format("memory").queryName("ssj_left_out")
      .outputMode("append").start()
    try {
      def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
      clicks.addData((ts(1), 1L), (ts(1), 2L))
      buys.addData((ts(3), 1L, 9.99)) // user 2 never buys
      q.processAllAvailable()
      // advance both watermarks far past user 2's join window
      clicks.addData((ts(59), 9L))
      buys.addData((ts(59), 8L, 1.0))
      q.processAllAvailable()
      val rows = spark.table("ssj_left_out").collect()
        .map(r => (r.getAs[Long]("user"), Option(r.getAs[Any]("amount")))).toSet
      assert(rows.contains((1L, Some(9.99))), s"matched row missing: $rows")
      assert(rows.contains((2L, None)),
        s"user 2's click must emit null-padded once the window closes: $rows")
    } finally q.stop()
  }

  test("native streaming session_window equals the batch session aggregation") {
    implicit val sqlCtx = spark.sqlContext
    // user 1: two sessions (10-min pair, then a 50-min-later singleton);
    // user 2: one singleton. The day-2 event only advances the watermark
    // so every day-1 session closes and emits in append mode — its own
    // session stays open and must NOT appear.
    val base = Seq(
      (1L, "2024-01-01 00:00:00"), (1L, "2024-01-01 00:10:00"),
      (1L, "2024-01-01 01:00:00"),
      (2L, "2024-01-01 00:05:00"))
    val close = Seq((9L, "2024-01-02 00:00:00"))
    def sessionAgg(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("ts", to_timestamp(col("t")))
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), unix_micros(col("sw.start")).as("start_us"), col("n"))
    val input = MemoryStream[(Long, String)]
    val q = sessionAgg(input.toDS().toDF("user_id", "t"))
      .writeStream.format("memory").queryName("sess_native_out").outputMode("append").start()
    try {
      input.addData(base: _*)
      q.processAllAvailable()
      input.addData(close: _*)
      q.processAllAvailable()
      val streamed = spark.table("sess_native_out")
        .as[(Long, Long, Long)].collect().toSet
      val batch = sessionAgg(base.toDF("user_id", "t"))
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed == batch, s"stream=$streamed batch=$batch")
      assert(streamed.size == 3 && !streamed.exists(_._1 == 9L))
    } finally q.stop()
  }

  test("streaming PSI equals the batch DriftOps.psi and is micro-batch-split invariant") {
    import graft.operators.DriftOps
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val bins = 5; val lo = 0L; val hi = 10000L // cents; width 2000
    // baseline calibration: 4 rows mid-bin in each of the 5 bins
    val baseVals = for (v <- Seq(5.0, 25.0, 45.0, 65.0, 85.0); _ <- 1 to 4) yield v
    val baseHist = Array(4L, 4L, 4L, 4L, 4L)
    // current: skewed into the top bin — drift the monitor must flag
    val curVals = Seq(81.0, 83.0, 85.0, 87.0, 5.0, 45.0, 89.0, 91.0)
    def runStream(batches: Seq[Seq[Double]]): StreamOps.PsiOut = {
      val input = MemoryStream[StreamOps.SeqValue]
      val name = s"psi_out_${batches.size}"
      val q = StreamOps.streamingPsi(input.toDS(), baseHist, bins, lo, hi, threshold = 0.2)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        var seq = 0L
        batches.foreach { b =>
          input.addData(b.map { v => seq += 1; StreamOps.SeqValue(1L, seq, v) }: _*)
          q.processAllAvailable()
        }
        spark.table(name).as[StreamOps.PsiOut].collect().maxBy(_.n_cur)
      } finally q.stop()
    }
    try {
      val split = runStream(Seq(curVals.take(3), curVals.drop(3)))
      val oneShot = runStream(Seq(curVals))
      assert(split.psi == oneShot.psi && split.n_cur == oneShot.n_cur,
        "histogram state is order/split independent")
      // batch twin over baseline ∪ current rows, identical arithmetic
      val rows = baseVals.map((_, true)) ++ curVals.map((_, false))
      val cents = (col("value").cast("decimal(18,2)") * 100).cast("bigint")
      val batchPsi = DriftOps.psi(rows.toDF("value", "is_base"), col("is_base"),
          cents, bins, lo, hi)
        .select("psi").head().getDouble(0)
      assert(split.psi == batchPsi, s"stream ${split.psi} != batch $batchPsi")
      assert(split.alarm, "the top-bin skew must trip the 0.2 threshold")
    } finally {
      if (prev.nonEmpty)
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    }
  }

  test("streaming CUSUM equals the batch closed form across a micro-batch split") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mu = 1000L; val slack = 50L // fixed calibration, integer cents
    // key 1: baseline days then a sustained level shift that must
    // accumulate ACROSS the micro-batch boundary; key 2 stays at mu
    val b1 = (1 to 6).map(i => StreamOps.SeqValue(1L, i.toLong, 10.0 + (i % 2)))
    val b2 = (7 to 12).map(i => StreamOps.SeqValue(1L, i.toLong, 18.0)) ++
      (1 to 4).map(i => StreamOps.SeqValue(2L, i.toLong, 10.0))
    val input = MemoryStream[StreamOps.SeqValue]
    val out = StreamOps.streamingCusum(input.toDS(), mu, slack)
    val q = out.writeStream.format("memory").queryName("cusum_out").outputMode("append").start()
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
      val streamed = spark.table("cusum_out")
        .as[StreamOps.CusumOut].collect().toSeq.sortBy(o => (o.key, o.seq))
      // batch closed form: S_t = P_t - min(0, running-min P) on the same
      // fixed (mu, slack) — the events_cusum window shape
      import org.apache.spark.sql.expressions.Window
      val wo = Window.partitionBy("key").orderBy("seq")
      val batch = (b1 ++ b2).toDF("key", "seq", "value")
        .withColumn("x", (col("value").cast("decimal(18,2)") * 100).cast("bigint"))
        .withColumn("p", sum(col("x") - lit(mu) - lit(slack)).over(wo))
        .withColumn("cusum", col("p") - least(lit(0L), min("p").over(wo)))
        .select(col("key"), col("seq"), col("cusum"), (col("cusum") > lit(slack * 5)).as("alarm"))
        .as[StreamOps.CusumOut].collect().toSeq.sortBy(o => (o.key, o.seq))
      assert(streamed == batch, s"stream=$streamed batch=$batch")
      assert(streamed.exists(_.alarm), "the sustained shift must trip the alarm")
      assert(streamed.filter(_.key == 2L).forall(!_.alarm))
    } finally {
      q.stop()
      if (prev.nonEmpty)
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    }
  }

  test("cdcApplySink maintains a merged snapshot exactly-once (upsert/delete/replay)") {
    implicit val sqlCtx = spark.sqlContext
    val snap = java.nio.file.Files.createTempDirectory("graft-cdc-snap").toString
    val commits = java.nio.file.Files.createTempDirectory("graft-cdc-log").toString
    val sink = StreamOps.cdcApplySink(snap, commits,
      keyCols = Seq("k"), orderCol = "seq", deleteCol = Some("deleted"))
    val input = MemoryStream[(Long, String, Long, Boolean)]
    val q = input.toDS().toDF("k", "v", "seq", "deleted")
      .writeStream.foreachBatch(sink).start()
    try {
      // batch 0: inserts; k1 changes twice in-batch — the LAST (seq 3) wins
      input.addData((1L, "v1-old", 1L, false), (2L, "v2", 2L, false), (1L, "v1", 3L, false))
      q.processAllAvailable()
      val s0 = StreamOps.readSnapshot(spark, snap)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(s0 == Map(1L -> "v1", 2L -> "v2"), s"snapshot after batch 0: $s0")
      // batch 1: update k2, DELETE k1, insert k3
      input.addData((2L, "v2b", 4L, false), (1L, "", 5L, true), (3L, "v3", 6L, false))
      q.processAllAvailable()
      val s1 = StreamOps.readSnapshot(spark, snap)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(s1 == Map(2L -> "v2b", 3L -> "v3"), s"snapshot after batch 1: $s1")
      // replayed batch id → complete no-op (the exactly-once claim):
      // re-deliver batch 1's data under its already-committed id
      val replay = Seq((2L, "POISON", 99L, false)).toDF("k", "v", "seq", "deleted")
      sink(replay, 1L)
      val s2 = StreamOps.readSnapshot(spark, snap)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(s2 == s1, "a replayed batch id must not re-apply")
      // snapshot ≡ the batch-applied merge chain over the same changes
      import graft.operators.DiffOps
      val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(
          Seq((1L, "x", 1L, false)).toDF("k", "v", "seq", "deleted")
            .schema.fields.filterNot(_.name == "deleted")))
      def latestOf(rows: Seq[(Long, String, Long, Boolean)]) = {
        val df = rows.toDF("k", "v", "seq", "deleted")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("k").orderBy(col("seq").desc)
        df.withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
          .filter(col("rn") === 1).drop("rn")
      }
      val b0 = DiffOps.merge(empty,
        latestOf(Seq((1L, "v1-old", 1L, false), (2L, "v2", 2L, false), (1L, "v1", 3L, false))),
        Seq("k"), Some("deleted"))
      val b1 = DiffOps.merge(b0,
        latestOf(Seq((2L, "v2b", 4L, false), (1L, "", 5L, true), (3L, "v3", 6L, false))),
        Seq("k"), Some("deleted"))
      val want = b1.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(s1 == want, "stream-maintained snapshot must equal the batch merge chain")
    } finally q.stop()
  }

  test("streaming decayed trend equals the batch StatsOps.decayedTrend " +
    "bit-exactly and is micro-batch-split invariant") {
    import graft.operators.StatsOps
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // key a: day 10 ×2, 11 ×4, 12 ×1; key b: day 12 ×3 (asOf = 12)
    val rows = Seq.fill(2)(("a", 10L)) ++ Seq.fill(4)(("a", 11L)) ++
      Seq(("a", 12L)) ++ Seq.fill(3)(("b", 12L))
    val asOf = rows.map(_._2).max
    def runStream(batches: Seq[Seq[(String, Long)]]): Map[String, (Long, Double)] = {
      val input = MemoryStream[StreamOps.DayEvent]
      val name = s"decay_out_${batches.size}"
      val q = StreamOps.streamingDecayedTrend(input.toDS(), asOf)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        batches.foreach { b =>
          input.addData(b.map { case (k, d) => StreamOps.DayEvent(k, d) }: _*)
          q.processAllAvailable()
        }
        // latest emit per key carries the full accumulated state
        spark.table(name).as[StreamOps.DecayOut].collect()
          .groupBy(_.key).map { case (k, os) =>
            val last = os.maxBy(_.n_events)
            k -> (last.n_events, last.decayed)
          }
      } finally q.stop()
    }
    try {
      val split = runStream(Seq(rows.take(4), rows.drop(4)))
      val oneShot = runStream(Seq(rows))
      assert(split == oneShot, "integer day-count state is split-invariant")
      // batch twin over the same rows as ts_us
      val day = 86400000000L
      val batch = StatsOps.decayedTrend(
          rows.zipWithIndex.map { case ((k, d), i) => (k, d * day + i) }
            .toDF("k", "ts_us"), "k", "ts_us")
        .collect().map(r => r.getString(0) ->
          (r.getAs[Long]("n_events"), r.getAs[Double]("decayed"))).toMap
      assert(split == batch, s"stream $split != batch $batch")
      assert(split("a")._2 == 3.5 && split("b")._2 == 3.0)
    } finally {
      if (prev.nonEmpty)
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    }
  }

  test("streaming DGIM: incremental cascade state equals the closed-form digits across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[StreamOps.DgimEvent]
    val winUs = 1000000L * 3600 // huge: nothing expires in this test
    val out = StreamOps.streamingDgim(input.toDS(), winUs)
    val q = out.writeStream.format("memory").queryName("dgim_out").outputMode("append").start()
    try {
      // 25 events for key 1 split across two micro-batches (ts ascending)
      input.addData((1L to 13L).map(i => StreamOps.DgimEvent(1L, i * 1000L)): _*)
      q.processAllAvailable()
      input.addData((14L to 25L).map(i => StreamOps.DgimEvent(1L, i * 1000L)): _*)
      q.processAllAvailable()
      val last = spark.table("dgim_out").collect()
        .map(r => (r.getAs[Long]("nOnes"), r.getAs[Long]("nBuckets"),
          r.getAs[Long]("est"), r.getAs[Long]("oldestSz")))
        .maxBy(_._1)
      // closed form at n = 25 (the batch query's identity): buckets =
      // digits of 25 in the {1,2} base-2 system — r_i = 26/2^i − 1:
      // d_0 = 1, d_1 = 2, d_2 = 1, d_3 = 2 → sizes 1,2,2,4,8,8 (n=25 ✓);
      // nothing expires, so est = 25 − 8/2 = 21, oldest = 8, 6 buckets
      assert(last == ((25L, 6L, 21L, 8L)), s"got $last")
    } finally {
      q.stop()
      if (prev.isEmpty) spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      else spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    }
  }

  test("dropDuplicatesWithinWatermark dedups late twins and expires state past the watermark") {
    // the built-in bounded-state streaming dedup (Spark 3.5+) — the
    // native conformance twin of the mapGroupsWithState/minhash dedup
    // rows: duplicates of a key arriving WITHIN the watermark horizon
    // are dropped even when their event times differ (the exactly-once
    // ingest idempotence contract); state is evictable, unlike plain
    // dropDuplicates on a stream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    val out = input.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("k")
    val q = out.writeStream.format("memory").queryName("ddww_out").outputMode("append").start()
    try {
      input.addData((ts(0), 1L), (ts(1), 1L), (ts(2), 2L))
      q.processAllAvailable()
      // a same-key twin 3 minutes later (different event time) is STILL
      // a duplicate within the horizon
      input.addData((ts(3), 1L))
      q.processAllAvailable()
      val got = spark.table("ddww_out").collect().map(_.getAs[Long]("k")).sorted.toSeq
      assert(got == Seq(1L, 2L), s"one row per key within the horizon: $got")
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains a backlog exactly once and stops on its own") {
    // the batch-backfill-through-the-streaming-graph contract: process
    // everything available, commit, terminate — the nightly-catchup
    // mode every incremental pipeline needs beside continuous triggers
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamOps.KeyedValue]
    input.addData((1 to 10).map(i => StreamOps.KeyedValue(i.toLong % 3, i.toDouble)): _*)
    val out = input.toDF().groupBy("key").agg(count(lit(1)).as("n"), sum("value").as("s"))
    val q = out.writeStream.format("memory").queryName("avnow_out")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(60000), "AvailableNow must terminate by itself")
    val got = spark.table("avnow_out").collect()
      .map(r => r.getAs[Long]("key") -> (r.getAs[Long]("n"), r.getAs[Double]("s"))).toMap
    assert(got == Map(0L -> ((3L, 18.0)), 1L -> ((4L, 22.0)), 2L -> ((3L, 15.0))), got.toString)
  }
}
