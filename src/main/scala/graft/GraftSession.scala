package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built: `local[cores]` with shuffle
  * partitions equal to `cores`, UTC session time, no UI, WARN logging and
  * `spark.sql.extensions = graft.functions.GraftExtensions` (the `graft_*`
  * functions and the optimizer rules that fuse their composed forms), then
  * the caller's `conf` overrides in order. Every session of the mains, the
  * demo and the suites therefore plans with the same functions and rules; a
  * session built elsewhere fails on a `graft_*` call with
  * `UNRESOLVED_ROUTINE`. The reference derives its parallelism from the
  * core count once, in the same way (Environment.scala:106-117).
  */
object GraftSession {

  /** Task slots: `SPARK_GRAFT_CPUS` if set, else the JVM's processor count. */
  private def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(conf: (String, String)*): SparkSession = local(cores, conf: _*)

  def local(cores: Int, conf: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
