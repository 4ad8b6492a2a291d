package graft

import graft.operators.{Ckpt, Par}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** The checkpoint seams: the metered eager pin that iterative loops use
  * for their convergence count, and the scope of `Ckpt.recording`. */
class CkptSpec extends SparkSpec {

  private def checkpointed(df: DataFrame): Boolean =
    df.queryExecution.analyzed.exists(_.isInstanceOf[LogicalRDD])

  test("eagerCkptMetered: the meter equals count() and each call runs exactly one job") {
    val s = spark.newSession()
    val counter = new RunOne.JobCounter(s.sparkContext)
    try {
      // the loop shape: each round meters the frame it pins
      var frame = s.range(0, 1000, 1, 4).toDF("id").filter(col("id") % 3 =!= 0)
      for (round <- 1 to 3) {
        val ((pinned, meter), tally) = counter.measure {
          Ckpt.eagerCkptMetered(frame, count(lit(1)).as("n"), sum(col("id")).as("s"))
        }
        assert(tally.jobs.get == 1, s"round $round: ${tally.jobs.get} jobs, one expected")
        assert(meter.getAs[Long]("n") == frame.count(), s"round $round: meter != count()")
        assert(meter.getAs[Long]("s") == frame.agg(sum(col("id"))).head().getLong(0))
        assert(checkpointed(pinned))
        frame = pinned.filter(col("id") % 5 =!= round)
      }
    } finally s.sparkContext.removeSparkListener(counter)
  }

  test("Ckpt.recording covers one session, includes pins built on Par.concurrently " +
    "threads, and skips lazy pins only when asked") {
    val s = spark.newSession()
    val other = spark.newSession()
    val base = s.range(0, 100, 1, 2).toDF("id")
    val ((lazyOnS, lazyOnOther), pins) = Ckpt.recording(s, lazyPins = false) {
      Par.concurrently(
        Ckpt.eagerCkpt(base.filter(col("id") > 10)),
        Ckpt.eagerCkpt(base.filter(col("id") < 5)))
      Ckpt.eagerCkpt(other.range(5).toDF("id"))
      (Ckpt.lazyCkpt(base.filter(col("id") > 50)), Ckpt.lazyCkpt(other.range(7).toDF("id")))
    }
    assert(pins.size == 2, s"both threads' pins on the recorded session, none of the other: $pins")
    assert(!checkpointed(lazyOnS), "lazyPins = false skips lazy pins on the recorded session")
    assert(checkpointed(lazyOnOther), "another session's lazy pins are untouched")
    assert(checkpointed(Ckpt.lazyCkpt(base)), "lazy pins checkpoint again after the block")
    val (_, kept) = Ckpt.recording(s, lazyPins = true) {
      assert(checkpointed(Ckpt.lazyCkpt(base)), "lazyPins = true keeps lazy pins")
    }
    assert(kept.isEmpty)
  }
}
