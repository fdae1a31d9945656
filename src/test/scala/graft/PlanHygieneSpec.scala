package graft

import org.scalatest.funsuite.AnyFunSuite

/** Global plan hygiene: every registry query must plan without an
  * unpartitioned CartesianProduct (broadcast nested-loop for the
  * deliberately-broadcast query-vector joins is fine), and must plan at
  * all (analysis errors surface here, before the driver's gate). */
class PlanHygieneSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Queries whose partition-less window is bounded by construction —
    * the only acceptable reason for the single-partition window shape.
    * Empty since round 15: q87 (the last member) now ranks its 10-row
    * top-k frame via the q199 broadcast-triangle recipe. */
  private val boundedGlobalWindowOk = Set.empty[String]

  test("no registry query plans a CartesianProduct; all queries plan") {
    val offenders = SparkEntry.registry.flatMap { q =>
      val exec = q.run(spark, TestSpark.sf0001).queryExecution.executedPlan
      val cartesian = exec.toString.contains("CartesianProduct")
      val badWindow =
        !boundedGlobalWindowOk.contains(q.name) &&
          PlanWalk.partitionlessWindows(exec).nonEmpty
      if (cartesian) Some(q.name -> "CartesianProduct")
      else if (badWindow) Some(q.name -> "partition-less window")
      else None
    }
    assert(offenders.isEmpty, s"plan hygiene offenders: $offenders")
  }

  test("registry contract: unique names, oracle keys resolve, count") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size == names.size,
      s"duplicate names: ${names.diff(names.distinct)}")
    // every oracle belongs to a registered query (a typo'd key would
    // silently drop its correctness check at the driver)
    val dangling = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(dangling.isEmpty, s"oracle keys without queries: $dangling")
    // the declared §2.8 inventory size lives in ONE place
    // (SparkEntry.declaredCount, kept in sync with SURVEY.md §2.8) so a
    // new query updates docs+spec together or fails here
    assert(names.size == SparkEntry.declaredCount,
      s"registry has ${names.size} queries, declaredCount says " +
        s"${SparkEntry.declaredCount} — update SparkEntry.declaredCount " +
        "and SURVEY.md §2.8 together")
  }
}
