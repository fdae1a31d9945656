package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.operators.Validation
import graft.pipeline.WinePipeline
import graft.sinks.Sinks
import graft.sources.Staged

/** The benchmark's JVM side: one workload, one process, closed loop with a
  * single client. `perfbench/run.py` generates the inputs, starts this
  * main, checks what it reports and prints the metrics.
  *
  * Arguments are `key=value`:
  *  - `workload`: `wine_etl`, or a registry workload whose `ops` are
  *    registry query names (comma-separated)
  *  - `data`: generated inputs; `run`: per-run scratch root
  *  - `orders`: one line per pass, the op indices in that pass's order
  *  - `seconds`: timed-loop length; passes start until it has elapsed
  *  - `setups`: how many times the session is built and warmed
  *  - `trace`: 1 alternates untraced and traced passes and writes spans
  *  - `out`, `spans`: the result and span files this main writes
  */
object Main {

  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds on the monotonic clock. */
  def now(): Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    new Harness(a).run()
  }
}

final class Harness(a: Map[String, String]) {
  import Main.now

  private val workload = a("workload")
  private val wine = workload == "wine_etl"
  private val data = a("data")
  private val runDir = a("run")
  private val seconds = a("seconds").toDouble
  private val setups = a("setups").toInt
  private val trace = a("trace") == "1"
  private val ops: IndexedSeq[String] =
    if (wine) IndexedSeq("wine_pipeline") else a("ops").split(',').toIndexedSeq
  private val orders: Iterator[IndexedSeq[String]] =
    Files.readAllLines(Paths.get(a("orders"))).asScala.iterator
      .map(_.split(',').toIndexedSeq.map(i => ops(i.toInt)))
  private val registry = SparkEntry.queries
  private val cpus = Runtime.getRuntime.availableProcessors
  private val stageRoot = Paths.get(s"$runDir/stage")
  private val stagingDir = s"$runDir/staging"
  private val jdbcUrl = s"jdbc:derby:$runDir/derby/wine;create=true"

  private val ids = new AtomicLong()
  /** Job spans take id JobSpanBase + Spark's job id, clear of `ids`. */
  private val JobSpanBase = 1000000000L
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val recorder = new Recorder
  private var spark: SparkSession = _

  /** One op of one pass. `phases` holds each phase's span in call order. */
  final case class Rec(pass: Int, name: String, wall: Double,
      phases: Seq[(String, Double, Double)], rows: Long,
      check: Map[String, Long], error: Option[String])

  final case class PassRec(pass: Int, kind: String, wall: Double,
      canary: Option[Double], layer: Map[String, Double])

  private val recs = mutable.ArrayBuffer.empty[Rec]
  private val passes = mutable.ArrayBuffer.empty[PassRec]

  private def session(): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
    .config("spark.local.dir", s"$runDir/tmp")
    .config("graft.stage.dir", stageRoot.toString)
    .getOrCreate()

  def run(): Unit = {
    if (wine) graft.sinks.DerbyWarehouse.register()
    val setupS = (0 until setups).map { k =>
      val t0 = now()
      spark = session()
      spark.sparkContext.setLogLevel("WARN")
      runPass(-1 - k, traced = false, dump = k == 0 && !wine)
      val s = (now() - t0) / 1e3
      if (k < setups - 1) spark.stop()
      s
    }
    val t0 = now()
    var pass = 0
    // whole passes only; a traced run needs at least two of each kind,
    // in the order untraced, traced, traced, untraced so that warm-up
    // drift during the run weighs on both kinds alike
    while ((now() - t0) / 1e3 < seconds || (trace && pass < 4) || pass < 2) {
      val traced = trace && (pass % 4 == 1 || pass % 4 == 2)
      val canary = if (trace) Some(canaryOnce()) else None
      if (traced) spark.sparkContext.addSparkListener(recorder)
      val before = if (trace) stageListing() else Map.empty[String, Long]
      val (wall, span) = runPass(pass, traced)
      val layer = if (!traced) Map.empty[String, Double] else {
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(recorder)
        val l = passLayer(pass, span, wall, before)
        recorder.clear()
        l
      }
      passes += PassRec(pass, if (traced) "traced" else "untraced", wall,
        canary, layer)
      pass += 1
    }
    val heapLive = liveHeapMb()
    if (!wine) writeOracleSql()
    spark.stop()
    if (wine) shutdownDerby()
    writeResult(setupS, heapLive)
  }

  // --- one pass ------------------------------------------------------------

  /** One pass over the ops in the next order. With `dump`, each query's
    * result is written out for the digest check instead of counted. */
  private def runPass(pass: Int, traced: Boolean,
      dump: Boolean = false): (Double, Span) = {
    val order = orders.next()
    val passId = ids.incrementAndGet()
    val t0 = now()
    order.foreach { name =>
      val r = if (wine) winePipeline(pass, passId, traced)
        else query(pass, name, passId, traced, dump)
      recs += r
    }
    val t1 = now()
    val span = Span(passId, 0, "pass", s"pass$pass", t0, t1)
    if (traced) spans += span
    ((t1 - t0) / 1e3, span)
  }

  /** Runs `body` as one phase of op `opId`, tagging its Spark jobs. */
  private def phase[T](opId: Long, name: String, traced: Boolean,
      acc: mutable.ArrayBuffer[(String, Double, Double)])(body: => T): T = {
    val sc = spark.sparkContext
    if (traced) {
      sc.setLocalProperty(Recorder.OpProp, opId.toString)
      sc.setLocalProperty(Recorder.PhaseProp, name)
    }
    val t0 = now()
    try body
    finally {
      acc += ((name, t0, now()))
      if (traced) {
        sc.setLocalProperty(Recorder.OpProp, null)
        sc.setLocalProperty(Recorder.PhaseProp, null)
      }
    }
  }

  private def op(pass: Int, name: String, passId: Long, traced: Boolean)(
      body: (Long, mutable.ArrayBuffer[(String, Double, Double)]) =>
        (Long, Map[String, Long])): Rec = {
    val opId = ids.incrementAndGet()
    val acc = mutable.ArrayBuffer.empty[(String, Double, Double)]
    val t0 = now()
    val (rows, check, error) =
      try { val (r, c) = body(opId, acc); (r, c, None) }
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e")
        (-1L, Map.empty[String, Long], Some(String.valueOf(e.getMessage)))
      }
    val t1 = now()
    if (traced) {
      spans += Span(opId, passId, "op", name, t0, t1)
      acc.foreach { case (ph, s, e) =>
        spans += Span(ids.incrementAndGet(), opId, "phase", ph, s, e)
      }
    }
    Rec(pass, name, (t1 - t0) / 1e3, acc.toSeq, rows, check, error)
  }

  private def query(pass: Int, name: String, passId: Long,
      traced: Boolean, dump: Boolean): Rec = {
    val fn = registry(name)
    val r = op(pass, name, passId, traced) { (opId, acc) =>
      val df = phase(opId, "construct", traced, acc)(fn(spark, data))
      phase(opId, "plan", traced, acc)(df.queryExecution.executedPlan)
      val rows = phase(opId, "exec", traced, acc) {
        if (!dump) df.queryExecution.toRdd.count()
        else {
          val path = s"$runDir/out/$name"
          df.coalesce(1).write.parquet(path)
          spark.read.parquet(path).count()
        }
      }
      (rows, Map.empty)
    }
    // as graft.Bench does: no cached sketch outlives its query
    spark.catalog.clearCache()
    r
  }

  /** The paper's pipeline, stage by stage as `WinePipeline.run` chains it,
    * loading into embedded Derby with overwrite. `extract` first stages
    * the input file, which `cleanup` deletes again. */
  private def winePipeline(pass: Int, passId: Long, traced: Boolean): Rec = {
    op(pass, "wine_pipeline", passId, traced) { (opId, acc) =>
      def ph[T](n: String)(b: => T): T = phase(opId, n, traced, acc)(b)
      val raw = ph("extract") {
        Files.createDirectories(Paths.get(stagingDir))
        Files.copy(Paths.get(s"$data/wine.json"),
          Paths.get(s"$stagingDir/wine.json"),
          StandardCopyOption.REPLACE_EXISTING)
        WinePipeline.extract(spark, s"$stagingDir/wine.json")
      }
      val transformed: DataFrame = ph("transform") {
        WinePipeline.transform(raw).cache()
      }
      try {
        val report = ph("validate") {
          Validation.validate(transformed, WinePipeline.checks).collect()
        }
        val rows = ph("load") {
          Sinks.jdbcWrite(transformed, jdbcUrl, "wine_data",
            WinePipeline.warehouseColumnTypes, "overwrite")
          transformed.count()
        }
        ph("cleanup")(Staged.cleanup(spark, stagingDir))
        val check = report.map(r => r.getString(0) -> r.getLong(1)).toMap ++
          Map("__n_rows" -> report.head.getLong(2), "__derby_rows" -> derbyCount())
        (rows, check)
      } finally transformed.unpersist()
    }
  }

  private def derbyCount(): Long = {
    val c = java.sql.DriverManager.getConnection(jdbcUrl)
    try {
      val rs = c.createStatement().executeQuery("SELECT COUNT(*) FROM wine_data")
      rs.next(); rs.getLong(1)
    } finally c.close()
  }

  private def shutdownDerby(): Unit =
    try java.sql.DriverManager.getConnection("jdbc:derby:;shutdown=true"): Unit
    catch { case _: java.sql.SQLException => () } // how Derby reports success

  /** graft.Bench's frozen drift canary: a lineitem scan+aggregate. */
  private def canaryOnce(): Double = {
    import org.apache.spark.sql.functions.{avg, count, lit, sum}
    val t0 = now()
    spark.read.parquet(s"$data/lineitem.parquet")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity"), avg("l_extendedprice"), count(lit(1)))
      .queryExecution.toRdd.count(): Unit
    spark.catalog.clearCache()
    (now() - t0) / 1e3
  }

  // --- per-layer totals of one traced pass ----------------------------------

  /** Bytes under each staged directory of the operators' staging root. */
  private def stageListing(): Map[String, Long] =
    if (!Files.isDirectory(stageRoot)) Map.empty
    else Files.list(stageRoot).iterator().asScala.map { d =>
      val w = Files.walk(d)
      try d.getFileName.toString -> w.iterator().asScala
        .filter(Files.isRegularFile(_)).map(Files.size(_)).sum
      finally w.close()
    }.toMap

  private def passLayer(pass: Int, passSpan: Span, wall: Double,
      before: Map[String, Long]): Map[String, Double] = {
    val mine = recs.filter(_.pass == pass)
    def phaseS(n: String): Double = mine.flatMap(_.phases)
      .collect { case (`n`, s, e) => (e - s) / 1e3 }.sum
    val covered = mine.flatMap(_.phases).map { case (_, s, e) => (e - s) / 1e3 }.sum
    val execPhases = if (wine) Set("extract", "transform", "validate", "load",
      "cleanup") else Set("exec")
    val jobs = recorder.jobs.toSeq
    val stages = recorder.stages.toSeq
    val execJobs = jobs.filter(j => execPhases(j.phase)).map(_.id).toSet
    val execStages = stages.filter(s => execJobs(s.job))
    val ex = execStages.map(_.totals).foldLeft(StageTotals.zero)(_ + _)
    val all = stages.map(_.totals).foldLeft(StageTotals.zero)(_ + _)
    val loadJobs = jobs.filter(_.phase == "load").map(_.id).toSet
    val sunk = stages.filter(s => loadJobs(s.job)).map(_.totals)
      .foldLeft(StageTotals.zero)(_ + _)
    val execWall = if (wine) covered else phaseS("exec")
    val after = stageListing()
    val fresh = after.keySet -- before.keySet
    // spans: Spark jobs under their phase, stages under their job
    val phaseSpan = spans.filter(s => s.kind == "phase" && s.start >= passSpan.start)
      .map(s => (s.parent, s.name) -> s.id).toMap
    jobs.foreach { j =>
      spans += Span(JobSpanBase + j.id,
        phaseSpan.getOrElse((j.op, j.phase), passSpan.id),
        "job", s"job${j.id}", j.start, j.end)
    }
    stages.foreach { s =>
      val t = s.totals
      spans += Span(ids.incrementAndGet(), JobSpanBase + s.job, "stage",
        s"stage${s.id}.${s.attempt}", s.start, s.end, Map(
          "tasks" -> t.tasks.toDouble, "task_s" -> t.taskS, "cpu_s" -> t.cpuS,
          "shuffle_read_bytes" -> t.shuffleRead.toDouble,
          "shuffle_write_bytes" -> t.shuffleWrite.toDouble))
    }
    Map(
      "queries.construct_s" -> phaseS("construct"),
      "queries.construct_jobs" -> jobs.count(_.phase == "construct").toDouble,
      "operators.stage_dirs" -> fresh.size.toDouble,
      "operators.stage_bytes" -> fresh.toSeq.map(after).sum.toDouble,
      "operators.stage_bytes_live" -> after.values.sum.toDouble,
      "catalyst.plan_s" -> phaseS("plan"),
      "execution.wall_s" -> execWall,
      "execution.jobs" -> execJobs.size.toDouble,
      "execution.stages" -> execStages.size.toDouble,
      "execution.tasks" -> ex.tasks.toDouble,
      "execution.tasks_per_stage" ->
        (if (execStages.isEmpty) 0.0 else ex.tasks.toDouble / execStages.size),
      "execution.task_s" -> ex.taskS,
      "execution.task_cpu_s" -> ex.cpuS,
      "execution.eff_cores" -> (if (execWall > 0) ex.taskS / execWall else 0.0),
      "execution.shuffle_read_bytes" -> ex.shuffleRead.toDouble,
      "execution.shuffle_write_bytes" -> ex.shuffleWrite.toDouble,
      "execution.spill_bytes" -> ex.spill.toDouble,
      "execution.gc_s" -> all.gcS,
      "pipeline.extract_s" -> phaseS("extract"),
      "pipeline.transform_s" -> phaseS("transform"),
      "pipeline.validate_s" -> phaseS("validate"),
      "pipeline.load_s" -> phaseS("load"),
      "pipeline.cleanup_s" -> phaseS("cleanup"),
      "sinks.rows_written" -> sunk.outRows.toDouble,
      "sinks.rows_per_s" -> (if (phaseS("load") > 0)
        sunk.outRows / phaseS("load") else 0.0),
      "trace.coverage" -> covered / wall)
  }

  // --- result ---------------------------------------------------------------

  /** The oracle SQL of this workload's queries, for the digest check. */
  private def writeOracleSql(): Unit = {
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => ops.contains(k) }
    Files.createDirectories(Paths.get(s"$runDir/out"))
    Files.writeString(Paths.get(s"$runDir/out/oracle_sql.json"), Json(oracle))
  }

  /** The heap still in use after a full collection, taken once after the
    * timed loop: what the program retains between operations. Only once,
    * because on a 4-vCPU VM a full collection between passes slowed the
    * next wine pipeline pass by about 15%. */
  private def liveHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  private def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def writeResult(setupS: Seq[Double], heapLive: Double): Unit = {
    val out = Map(
      "workload" -> workload,
      "cpus" -> cpus,
      "setup_s" -> setupS,
      "rss_peak_mb" -> rssPeakMb(),
      "heap_live_mb" -> heapLive,
      "ops" -> recs.map(r => Map(
        "pass" -> r.pass, "name" -> r.name, "wall" -> r.wall, "rows" -> r.rows,
        "error" -> r.error, "check" -> r.check,
        "phases" -> r.phases.map { case (n, s, e) => n -> (e - s) / 1e3 }.toMap)),
      "passes" -> passes.map(p => Map("pass" -> p.pass, "kind" -> p.kind,
        "wall" -> p.wall, "canary" -> p.canary, "layer" -> p.layer)))
    Files.writeString(Paths.get(a("out")), Json(out))
    if (trace) {
      val passSpans = spans.filter(_.kind == "pass")
      spans += Span(0, -1, "workload", workload,
        passSpans.map(_.start).min, passSpans.map(_.end).max)
      val lines = spans.map(s => Json(Map("id" -> s.id, "parent" -> s.parent,
        "kind" -> s.kind, "name" -> s.name, "start_ms" -> s.start,
        "end_ms" -> s.end) ++ s.attrs))
      Files.write(Paths.get(a("spans")), lines.asJava)
    }
  }
}

/** Minimal JSON writer for the result and span files. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n @ (_: Int | _: Long | _: Boolean) => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
