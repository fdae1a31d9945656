package graft.operators

import java.util.UUID
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Materialization barrier for multi-use intermediates (sketches,
  * signature tables) that feed self-joins: writes the DataFrame once to
  * a staging parquet directory and reads it back.
  *
  * Why not `persist()`: a cached block inside a query closure either
  * leaks into the caller's session (persist-without-unpersist) or, if
  * unpersisted before the caller materializes the result, silently
  * recomputes the subplan per join side. Staging to parquet gives the
  * same evaluate-once guarantee with no session cache state — and it is
  * the pattern that actually survives 100 TB, where a sketch table is
  * staged to shared storage rather than pinned in executor memory.
  *
  * The staging root must be visible to every executor. It defaults to
  * `<spark.sql.warehouse.dir>/_graft_stage` — shared storage on a real
  * cluster, a local directory in local mode — and is overridable with
  * the session conf `graft.stage.dir` (e.g. an HDFS/S3 scratch path).
  * Each staged frame gets one fresh unique directory directly under the
  * root, so concurrent queries and concurrent JVMs never collide.
  *
  * Lifetime: whoever stages a frame releases it ([[release]]) once
  * nothing reads it; a frame handed back to a caller (a query result, a
  * session artifact) is not released. [[iterate]] applies the rule to a
  * fixpoint loop. Every directory still registered is deleted through
  * the Hadoop FileSystem API on JVM shutdown.
  */
object Stage {

  private val jvmId = UUID.randomUUID().toString.take(8)
  private val counter = new AtomicLong()
  /** Live staged directories, qualified as a file scan reports them. */
  private val staged = mutable.Set.empty[String]
  private val bucketedTables = mutable.Set.empty[(SparkSession, String)]
  @volatile private var hookInstalled = false

  private def stagingRoot(spark: SparkSession): String =
    spark.conf.getOption("graft.stage.dir").getOrElse {
      spark.conf.get("spark.sql.warehouse.dir") + "/_graft_stage"
    }

  private def qualified(spark: SparkSession, dir: String): Path = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p)
  }

  private def installHook(spark: SparkSession): Unit =
    synchronized {
    if (!hookInstalled) {
      hookInstalled = true
      val hadoopConf = spark.sparkContext.hadoopConfiguration
      // Hadoop's hook manager, ABOVE FileSystem.SHUTDOWN_HOOK_PRIORITY
      // (10): a plain JVM hook runs in arbitrary order relative to the
      // FileSystem-cache close, so deletes could hit a closed FS and
      // staged dirs would silently accumulate on shared storage
      org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
        new Runnable {
          override def run(): Unit = {
            bucketedTables.synchronized(bucketedTables.toSeq).foreach {
              case (spark, name) =>
                // best-effort: on a shared metastore the entry must go;
                // locally the in-memory catalog dies with the JVM anyway
                try spark.sql(s"DROP TABLE IF EXISTS $name"): Unit
                catch { case _: Throwable => () }
            }
            staged.synchronized(staged.toSeq).foreach { p =>
              try {
                val path = new Path(p)
                path.getFileSystem(hadoopConf).delete(path, true): Unit
              } catch { case e: Throwable =>
                // a failed delete leaves bytes on shared storage — say so
                // (stderr: logging frameworks may already be torn down
                // inside a shutdown hook)
                System.err.println(
                  s"[graft.Stage] failed to delete staged dir $p: $e")
              }
            }
          }
        }, 50)
    }
  }

  /** Write `df` once and return a scan over the staged bytes. Spark
    * round-trips its Catalyst schema (including ML vector UDTs) through
    * the parquet footer metadata, so the staged frame is
    * schema-identical to the input. */
  def materialize(df: DataFrame, hint: String = "stage"): DataFrame = {
    val path = allocDir(df.sparkSession, hint)
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path)
  }

  /** Allocate a fresh managed directory under the staging root WITHOUT
    * writing it — for sinks that land bytes through their own writer
    * (e.g. the q149 Z-order layout); [[dropDir]] deletes it early. */
  def allocDir(spark: SparkSession, hint: String): String = {
    val path =
      s"${stagingRoot(spark)}/$hint-$jvmId-${counter.incrementAndGet()}"
    register(spark, path)
    path
  }

  private def register(spark: SparkSession, path: String): Unit = {
    installHook(spark)
    staged.synchronized(staged += qualified(spark, path).toString): Unit
  }

  /** Like [[materialize]], but stages through a BUCKETED table
    * (`bucketBy(buckets, key)` + `sortBy(key)`, external data under the
    * staging root): every subsequent equi-join or aggregation on `key`
    * reads the staged side with NO Exchange (and, sorted, no Sort under
    * SortMergeJoin) — the layout an iterative operator reuses across
    * rounds when its big side must not reshuffle per iteration. This is
    * the plain-parquet [[materialize]]'s cluster-scale sibling: parquet
    * staging loses the partitioning on read; a bucketed table keeps it.
    *
    * Catalog hygiene: the table name is JVM-unique; [[release]] and the
    * shutdown hook both drop the catalog entry (the hook best-effort —
    * the session may already be stopped) and delete the staged bytes.
    */
  def materializeBucketed(df: DataFrame, hint: String, key: String,
      buckets: Int): DataFrame = {
    val spark = df.sparkSession
    val name =
      s"graft_${hint.replace('-', '_')}_${jvmId}_${counter.incrementAndGet()}"
    val path = s"${stagingRoot(spark)}/$name"
    register(spark, path)
    bucketedTables.synchronized(bucketedTables += ((spark, name))): Unit
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .option("path", path)
      .saveAsTable(name)
    spark.table(name)
  }

  /** Delete and unregister the ONE staged directory `df` scans (a frame
    * from [[materialize]] or [[materializeBucketed]], or a plan over one),
    * dropping a bucketed table's catalog entry too; the caller asserts
    * nothing live still reads it. Any other frame (a fixture read, a
    * local relation, two stages, a released one) is refused with an
    * IllegalArgumentException, deleting nothing. Delete failures are
    * logged, never thrown: cleanup must not fail finished work. */
  def release(df: DataFrame): Unit = {
    val spark = df.sparkSession
    val leaves = df.queryExecution.analyzed.collectLeaves()
    val scanned = leaves.flatMap {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
        case r => Seq(r.toString)
      }
      case leaf => Seq(leaf.nodeName)
    }.distinct
    val dir = scanned match {
      case Seq(d) if staged.synchronized(staged.remove(d)) => d
      case _ => throw new IllegalArgumentException(
        s"Stage.release: the frame scans ${scanned.mkString(", ")}, " +
          "not exactly one live staged directory")
    }
    leaves.collect { case l: LogicalRelation => l.catalogTable }.flatten
      .map(_.identifier.table).distinct.foreach { name =>
        if (bucketedTables.synchronized(bucketedTables.remove((spark, name))))
          try spark.sql(s"DROP TABLE IF EXISTS $name"): Unit
          catch { case e: Throwable =>
            System.err.println(s"[graft.Stage] failed to drop table $name: $e")
          }
      }
    delete(spark, dir)
  }

  /** [[release]] for a directory handed out by [[allocDir]] — same
    * unregister-and-delete, no DataFrame needed (the caller landed
    * bytes through its own writer, e.g. shard compaction scratch). */
  def dropDir(spark: SparkSession, path: String): Unit = {
    val dir = qualified(spark, path).toString
    staged.synchronized(staged -= dir): Unit
    delete(spark, dir)
  }

  private def delete(spark: SparkSession, dir: String): Unit =
    try {
      val p = new Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true): Unit
    } catch { case e: Throwable =>
      System.err.println(s"[graft.Stage] failed to delete staged dir $dir: $e")
    }

  /** Outcome of [[iterate]]: the final state, the rounds run, and
    * whether `done` fired (false = stopped at `maxRounds`). */
  final case class Fixpoint(state: DataFrame, rounds: Int, converged: Boolean)

  /** The staged-round loop of the single-state iterative operators.
    * Round r stages `step(state, r)` as `<hint><r>` and asks
    * `done(previous, next)`; then the previous round is released, so at
    * most two rounds are live. `init` is never staged or released (it
    * stays with the caller); the final state is the caller's. The loop
    * stops when `done` fires or after `maxRounds`; what a non-converged
    * run means (fail, warn, or a fixed round count) is the caller's
    * call. `step` and `done` may share per-round state through their
    * closures, e.g. an `Observation` that rides the round's write. */
  def iterate(init: DataFrame, hint: String, maxRounds: Int)(
      step: (DataFrame, Int) => DataFrame)(
      done: (DataFrame, DataFrame) => Boolean): Fixpoint = {
    var state = init
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      rounds += 1
      val next = materialize(step(state, rounds), s"$hint$rounds")
      converged = done(state, next)
      if (state ne init) release(state)
      state = next
    }
    Fixpoint(state, rounds, converged)
  }
}
