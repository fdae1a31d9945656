package graft

import org.apache.spark.sql.SparkSession

/** The one way this repo builds a session (mains and the test suites
  * alike): `local[cpus]` with one shuffle partition per core, the
  * [[GraftExtensions]] functions, UTC, AQE on and the UI off.
  *
  * The core count is always the caller's: mains pass [[envCpus]],
  * the suites pin their own so the test partitioning does not follow
  * the machine. */
object Sessions {

  /** `SPARK_GRAFT_CPUS`, default 4 — the mains' core count. */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
