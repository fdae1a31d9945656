package graft.tools

import graft.{Sessions, SparkEntry}

/** Plan-evidence dumper: writes `.explain("formatted")` for the named
  * registry queries (all when no args) to `plans/<tag>/<name>_<suffix>.txt`.
  * Usage: runMain graft.tools.DumpPlans <tag> <suffix> [query...]
  * e.g. `runMain graft.tools.DumpPlans r16 before q233_gains_table`.
  * The dump is the PRE-execution plan (AdaptiveSparkPlan initial) — the
  * shape evidence (Exchange count, join strategy, PushedFilters,
  * ReadSchema) the optimization log cites. */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val tag = args.headOption.getOrElse("r16")
    val suffix = args.drop(1).headOption.getOrElse("before")
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.envCpus)
    val dir = java.nio.file.Paths.get("plans", tag)
    java.nio.file.Files.createDirectories(dir)
    val wanted =
      if (names.isEmpty) SparkEntry.queries.keys.toSeq.sorted else names
    wanted.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(s"[plans] unknown query: $name")
        case Some(fn) =>
          try {
            val txt = fn(spark, sfDir).queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.writeString(
              dir.resolve(s"${name}_$suffix.txt"), txt)
            println(s"[plans] wrote $name")
          } catch { case e: Throwable =>
            println(s"[plans] FAILED $name: ${e.getMessage}")
          }
          spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
