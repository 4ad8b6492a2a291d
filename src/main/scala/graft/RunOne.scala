package graft

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import graft.operators.{BucketOps, Ckpt}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerStageSubmitted, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Dev tool: run SparkEntry queries one at a time through the `noop` sink.
  * Per query it prints one line — wall time, the exact job and stage
  * counts ([[JobCounter]]), JVM GC and CPU time, and the planned Exchange
  * count with AQE off ([[exchanges]], the number QueryPlanBudgetSpec pins)
  * — then one line per stage whose tasks ran more than 300 ms in total
  * (a 1-task stage with high CPU is the single-file-scan / expression-
  * blowup signature that found the dedup_semantic and data_linkage fixes).
  *
  * Usage: `tools/runjava.sh graft.RunOne <q,…|all> [sfDir]`
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = GraftSession.local()
    val counter = new JobCounter(spark.sparkContext)
    val names = if (args.isEmpty || args(0) == "all") SparkEntry.queries.keys.toSeq.sorted else args(0).split(",").toSeq
    def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    def cpuMs: Long =
      ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
        .getProcessCpuTime / 1000000
    names.foreach { name =>
      val (gc0, cpu0) = (gcMs, cpuMs)
      val t0 = System.nanoTime()
      try {
        val (_, tally) = counter.measure {
          SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
        }
        val line = f"[runone] $name%-24s noop ${(System.nanoTime() - t0) / 1e9}%.1fs " +
          f"jobs=${tally.jobs.get}%d stages=${tally.stages.size}%d " +
          f"gc=${(gcMs - gc0) / 1000.0}%.1fs cpu=${(cpuMs - cpu0) / 1000.0}%.1fs"
        println(s"$line exchanges=${exchanges(spark, name, sfDir)}")
        tally.stages.asScala.toSeq.sortBy(_.stageId).filter(_.taskMetrics.executorRunTime > 300).foreach { si =>
          val m = si.taskMetrics
          println(f"[stage ${si.stageId}%3d] tasks=${si.numTasks}%3d run=${m.executorRunTime / 1000.0}%8.1fs " +
            f"cpu=${m.executorCpuTime / 1e9}%8.1fs recs=${m.inputMetrics.recordsRead}%9d " +
            f"sread=${m.shuffleReadMetrics.recordsRead}%9d ${si.name.take(50)}")
        }
      } catch {
        case e: Throwable =>
          println(f"[runone] $name%-24s FAILED ${(System.nanoTime() - t0) / 1e9}%.1fs ${e.getMessage.take(200)}")
      }
    }
    spark.stop()
  }

  /** The Exchange count query `name` plans with AQE off (AQE hides
    * exchanges inside query stages), built on a private session of
    * `spark`. It includes the exchanges inside the query's eager pins: a
    * pin truncates the final plan to a LogicalRDD, so each pin's recorded
    * pre-checkpoint subtree is planned and counted on its own. */
  def exchanges(spark: SparkSession, name: String, sfDir: String): Int = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val (df, pins) = Ckpt.recording(s, lazyPins = true)(SparkEntry.queries(name)(s, sfDir))
    BucketOps.countExchanges(df) + pins.map { p =>
      s.sessionState.executePlan(p).executedPlan.collect { case e: ShuffleExchangeExec => e }.size
    }.sum
  }

  /** The jobs and completed stages of one [[JobCounter.measure]] block. */
  final class Tally {
    val jobs = new AtomicInteger(0)
    val stages = new ConcurrentLinkedQueue[StageInfo]()
  }

  /** Exact job and stage tallies of blocks of driver code on `sc`, also
    * while other code runs jobs on the same context. A block's jobs carry
    * a fresh job tag, which threads it starts inherit. When the block
    * returns, a one-task barrier job with its own tag runs, and the tally
    * is read once this listener has seen that job start: every event of
    * the block was posted before it, so none is still in flight on the
    * listener bus. */
  final class JobCounter(sc: SparkContext) extends SparkListener {
    private val ids = new AtomicLong(0)
    private val open = new ConcurrentHashMap[String, Tally]()
    private val barriers = new ConcurrentHashMap[String, CountDownLatch]()
    private val stageOwner = new ConcurrentHashMap[Int, Tally]()
    sc.addSparkListener(this)

    private def tags(p: java.util.Properties): Seq[String] =
      Option(p).flatMap(p => Option(p.getProperty("spark.job.tags"))).toSeq.flatMap(_.split(','))

    override def onJobStart(e: SparkListenerJobStart): Unit = tags(e.properties).foreach { t =>
      Option(barriers.get(t)).foreach(_.countDown())
      Option(open.get(t)).foreach(_.jobs.incrementAndGet())
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      tags(e.properties).flatMap(t => Option(open.get(t))).headOption
        .foreach(stageOwner.put(e.stageInfo.stageId, _))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageOwner.remove(e.stageInfo.stageId)).foreach(_.stages.add(e.stageInfo))

    def measure[A](body: => A): (A, Tally) = {
      val tag = s"graft-job-counter-${ids.incrementAndGet()}"
      val barrier = s"$tag-barrier"
      val tally = new Tally
      val seen = new CountDownLatch(1)
      open.put(tag, tally)
      barriers.put(barrier, seen)
      try {
        sc.addJobTag(tag)
        val out = try body finally sc.removeJobTag(tag)
        sc.addJobTag(barrier)
        try sc.parallelize(Seq(0), 1).count() finally sc.removeJobTag(barrier)
        if (!seen.await(60, TimeUnit.SECONDS))
          throw new IllegalStateException(s"JobCounter: listener bus did not deliver $barrier within 60 s")
        (out, tally)
      } finally {
        open.remove(tag)
        barriers.remove(barrier)
      }
    }
  }
}
