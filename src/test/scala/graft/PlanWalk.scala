package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Plan walks shared by the plan-shape suites. */
object PlanWalk {

  /** The partition-less Window / WindowGroupLimit nodes of `plan`. An
    * empty partitionSpec requires AllTuples — the single-partition
    * shape that moves the whole frame to one task (and logs "No
    * Partition Defined for Window operation").
    *
    * AQE-aware: AdaptiveSparkPlanExec reports NO children (its inner
    * plan is a field, not a child), so a naive `plan.collect` is
    * vacuously empty under AQE — the walk unwraps it explicitly. */
  def partitionlessWindows(plan: SparkPlan): Seq[String] = {
    val here = plan match {
      case w: WindowExec if w.partitionSpec.isEmpty => Seq(w.nodeName)
      case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
        Seq(w.nodeName)
      case _ => Nil
    }
    val kids = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case o => o.children
    }
    here ++ kids.flatMap(partitionlessWindows)
  }
}
