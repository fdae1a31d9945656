package graft.tools

import graft.{Sessions, SparkEntry}

/** Focused timing harness: min-of-3 wall time for the named registry
  * queries (all of them when no args), on SPARK_GRAFT_SF_DIR. The
  * per-query iteration loop (rather than Bench's interleaved full
  * passes) is deliberate — this tool answers "did MY change to THIS
  * query help", where back-to-back samples under one machine state are
  * the fairest A/B; Bench remains the cross-round instrument. */
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
          val ts = (1 to 3).map { _ =>
            val t0 = System.nanoTime()
            fn(spark, sfDir).queryExecution.toRdd.count(): Unit
            spark.catalog.clearCache()
            (System.nanoTime() - t0) / 1e9
          }
          println(f"[time] $name min=${ts.min}%.3f samples=${ts.map(t => f"$t%.2f").mkString(",")}")
      }
    }
    spark.stop()
  }
}
