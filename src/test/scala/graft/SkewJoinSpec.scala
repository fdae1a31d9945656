package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** SkewJoin contract: salting must change the SHUFFLE DISTRIBUTION and
  * nothing else — the joined multiset is exactly the plain inner
  * join's, including duplicate keys on either side. (The wall-clock A/B
  * against plain SMJ and AQE's skew split is the skew_join_* legs of
  * tools/ScaleRun.) */
class SkewJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("saltedInnerJoin preserves row multiplicity exactly (dup keys both sides)") {
    import spark.implicits._
    // left: 900 rows of hot key 1, plus singleton keys; duplicate left
    // rows too (same (k, v) twice) so multiplicity > 1 is exercised
    val left = ((1 to 1000).map(i =>
      (if (i % 10 != 0) 1L else i.toLong, i % 7)) ++
      Seq((1L, 0), (1L, 0))).toDF("k", "v")
    // right: TWO rows for the hot key (fan-out), one for some others,
    // one key absent from left
    val right = Seq((1L, "a"), (1L, "b"), (10L, "x"), (20L, "y"),
      (12345L, "never")).toDF("k2", "w")
    val plain = left.join(right, col("k") === col("k2"))
      .groupBy(col("k"), col("v"), col("w")).agg(count(lit(1)).as("n"))
    val salted = operators.SkewJoin.saltedInnerJoin(left, "k", right, "k2", 8)
      .groupBy(col("k"), col("v"), col("w")).agg(count(lit(1)).as("n"))
    assert(plain.exceptAll(salted).count() == 0 &&
      salted.exceptAll(plain).count() == 0,
      "salted join multiset differs from plain inner join")
    // the salt really is part of the join key (both sides), so the hot
    // key's rows hash to `factor` distinct reducers instead of one
    val planStr = operators.SkewJoin
      .saltedInnerJoin(left, "k", right, "k2", 8)
      .queryExecution.executedPlan.toString
    assert(planStr.contains("__salt"), "salt column absent from the plan")
  }

  test("saltedInnerJoin factor=1 degenerates to the plain join") {
    import spark.implicits._
    val left = Seq((1L, "p"), (2L, "q")).toDF("k", "v")
    val right = Seq((1L, "a"), (2L, "b")).toDF("k2", "w")
    val out = operators.SkewJoin.saltedInnerJoin(left, "k", right, "k2", 1)
    assert(out.count() == 2)
  }
}
