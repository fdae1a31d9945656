package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt forks one test JVM).
  * Four cores, pinned: SPARK_GRAFT_CPUS must not change how the
  * suites partition. */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local(4)
  val sf0001 = "/root/testdata/sf0.001"
  /** The sf0.01 fixture, next to sf0.001 — the plan-shape laws' scale. */
  val sf001 = s"${new java.io.File(sf0001).getParent}/sf0.01"
}
