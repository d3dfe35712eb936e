package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is built. Bench, Verify, ScaleUp,
  * Probe and the test suite all run under this config, so a number a
  * probe reports was taken under the same session as the bench it
  * explains.
  */
object Sessions {

  /** `local[cpus]` with one shuffle partition per core, UTC session
    * time, graft's SQL extensions, no UI and WARN logging.
    */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Core count for a main: `SPARK_GRAFT_CPUS`, else the main's default. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.trim.toInt)
}
