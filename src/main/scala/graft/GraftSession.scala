package graft

import org.apache.spark.sql.SparkSession

/** The one local-session builder of graft's dev and audit mains and of the
  * test suite: master `local[cpus]`, one shuffle partition per core, UTC
  * session time zone (every oracle reads naive timestamps as UTC), UI off,
  * log level WARN. `confs` are set after these, so they may override them.
  *
  * `Bench` and `EtlCli` keep their own builders: the bench's session is part
  * of its output contract, and the CLI leaves the time zone to the user.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` if set, else every core the JVM sees. */
  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  def local(confs: (String, String)*): SparkSession = local(defaultCpus, confs: _*)

  def local(cpus: Int, confs: (String, String)*): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = confs.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
