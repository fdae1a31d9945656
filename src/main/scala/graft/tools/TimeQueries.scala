package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import graft.{Sessions, SparkEntry}

/** Focused timing harness: min-of-3 wall time for the named registry
  * queries (all of them when no args), on SPARK_GRAFT_SF_DIR. The
  * per-query iteration loop (rather than Bench's interleaved full
  * passes) is deliberate — this tool answers "did MY change to THIS
  * query help", where back-to-back samples under one machine state are
  * the fairest A/B; Bench remains the cross-round instrument.
  *
  * Each sample also shows its codegen footprint: the generated classes
  * compiled and their compile time. A sample that compiles classes paid
  * a codegen-cache miss (the first sample of a session always does). */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.envCpus)
    val wanted =
      if (args.isEmpty) SparkEntry.queries.keys.toSeq.sorted else args.toSeq
    wanted.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(s"[time] unknown query: $name")
        case Some(fn) =>
          val samples = (1 to 3).map { _ =>
            // local mode: driver and executor compile into the same
            // JVM-wide counters; compileTime is in ns
            val (cls0, ns0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
              CodeGenerator.compileTime)
            val t0 = System.nanoTime()
            fn(spark, sfDir).queryExecution.toRdd.count(): Unit
            spark.catalog.clearCache()
            ((System.nanoTime() - t0) / 1e9,
              CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cls0,
              (CodeGenerator.compileTime - ns0) / 1000000L)
          }
          val shown = samples.map { case (t, cls, ms) => f"$t%.2f[$cls cls $ms ms]" }
          println(f"[time] $name min=${samples.map(_._1).min}%.3f samples=${shown.mkString(",")}")
      }
    }
    spark.stop()
  }
}
