package graft.plans

import graft.{GraftSession, SparkEntry}
import graft.operators.Ckpt
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** One walk over every `SparkEntry` query for the three standing plan
  * audits ([[WindowKeyAudit]], [[BroadcastSizeAudit]], [[ArrayAggAudit]]).
  * Each query is built once, on its own session, with lazy checkpoints
  * skipped and every eager pin's pre-checkpoint plan recorded
  * (`Ckpt.recording`); each audit's `findings` runs over the final
  * optimized plan and over every recorded pin subtree.
  *
  * The private session also sets `spark.graft.bandedRank.broadcastMaxBands=0`:
  * RankOps.maybeBroadcast's banded-offset hints are size-certified at call
  * time, and BroadcastSizeAudit covers unguarded hints only. The conf only
  * drops that hint, so the window and collect audits see the same Window and
  * Aggregate nodes either way.
  *
  * Usage: `tools/runjava.sh graft.plans.PlanAudits [sfDir] 2>&1 | grep WARN`
  * lists every WARN logged while a query is built (each query's build is
  * announced by a `### building <q>` WARN line); the findings print last,
  * and a non-empty set exits 1.
  */
object PlanAudits {

  /** Audit name → its findings over one query's plan. */
  val audits: Seq[(String, (String, LogicalPlan) => Seq[String])] = Seq(
    "window-audit" -> WindowKeyAudit.findings,
    "broadcast-audit" -> BroadcastSizeAudit.findings,
    "arrayagg-audit" -> ArrayAggAudit.findings)

  /** Audit name → findings over every query. A query that fails to build
    * or optimize is a finding of every audit. `onQuery` is called with each
    * query's name before it is built. */
  def walk(spark: SparkSession, sfDir: String,
      onQuery: String => Unit = _ => ()): Map[String, Seq[String]] = {
    val found: Seq[(String, String)] = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (n, fn) =>
      onQuery(n)
      val s = spark.newSession()
      s.conf.set("spark.graft.bandedRank.broadcastMaxBands", "0")
      try {
        val (plan, pins) = Ckpt.recording(s, lazyPins = false) {
          fn(s, sfDir).queryExecution.optimizedPlan
        }
        for {
          (audit, findings) <- audits
          f <- findings(n, plan) ++ pins.flatMap(p => findings(s"$n [ckpt subtree]", p))
        } yield audit -> f
      } catch {
        case e: Throwable =>
          val msg = s"$n: audit could not build/optimize — ${e.getClass.getSimpleName} " +
            String.valueOf(e.getMessage).linesIterator.take(1).mkString
          audits.map { case (audit, _) => audit -> msg }
      }
    }
    audits.map { case (audit, _) => audit -> found.collect { case (`audit`, f) => f } }.toMap
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(s"${sys.props("user.home")}/testdata/sf0.001")
    val spark = GraftSession.local()
    val log = org.slf4j.LoggerFactory.getLogger("graft.plans.PlanAudits")
    val out = walk(spark, sfDir, n => log.warn(s"### building $n"))
    audits.foreach { case (audit, _) =>
      out(audit).foreach(f => println(s"[$audit] $f"))
      println(s"[$audit] ${out(audit).size} findings")
    }
    spark.stop()
    if (out.values.exists(_.nonEmpty)) sys.exit(1)
  }
}
