package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tools.ScaleRun

/** The scale table runs end to end: every leg at every multiplier up to
  * 10× prints its line at sf0.001, so an operator API drift breaks here
  * instead of in the next hand-run evidence pass. */
class ScaleRunSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("leg names are unique and multipliers ascend") {
    val legs = ScaleRun.legs(new ScaleRun.Growth(spark, TestSpark.sf0001))
    assert(legs.map(_.name).distinct.size == legs.size)
    legs.foreach(l => assert(l.mults.nonEmpty && l.mults == l.mults.sorted.distinct, l.name))
  }

  test("every leg prints one line per multiplier up to 10x at sf0.001") {
    val expected = ScaleRun.legs(new ScaleRun.Growth(spark, TestSpark.sf0001))
      .flatMap(l => l.mults.filter(_ <= 10).map(l.name -> _))
    val out = new java.io.ByteArrayOutputStream()
    val t0 = System.nanoTime()
    val results = Console.withOut(out) {
      ScaleRun.run(spark, TestSpark.sf0001, 10)
    }
    val lines = out.toString("UTF-8").linesIterator.filter(_.startsWith("[scale] ")).toSeq
    // each run's wall time and the table's, for the test log
    lines.foreach(println)
    println(f"ScaleRun.run wall ${(System.nanoTime() - t0) / 1e9}%.1f s")
    assert(results.map(r => r.name -> r.mult) == expected)
    assert(lines.size == expected.size)
    expected.zip(lines).foreach { case ((name, m), line) =>
      assert(line.startsWith(s"[scale] $name ") && line.contains(s" ${m}x "), line)
    }
    // the conf a leg sets is restored once it finishes
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(!spark.conf.getAll.contains("spark.sql.adaptive.forceOptimizeSkewedJoin"))
  }
}
