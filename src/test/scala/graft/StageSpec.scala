package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import graft.operators.Stage
import graft.queries.{GraphOps, Mining}

/** The staging seam's lifetime rule: a staged frame releases itself,
  * a foreign frame is refused untouched, and every iterative operator
  * leaves behind only the directories its result scans — no superseded
  * round survives the call. Each test stages under its own temporary
  * `graft.stage.dir`, restored afterwards. */
class StageSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }

  private def withStageRoot[A](body: File => A): A = {
    val root = java.nio.file.Files.createTempDirectory("stage-spec").toFile
    val prev = spark.conf.getOption("graft.stage.dir")
    spark.conf.set("graft.stage.dir", root.getAbsolutePath)
    try body(root)
    finally {
      prev match {
        case Some(p) => spark.conf.set("graft.stage.dir", p)
        case None => spark.conf.unset("graft.stage.dir")
      }
      deleteTree(root)
    }
  }

  /** Staged directories currently under the root. */
  private def live(root: File): Set[String] =
    Option(root.listFiles()).toSeq.flatten.filter(_.isDirectory)
      .map(_.getName).toSet

  /** Names of the directories a frame's file scans read. */
  private def scanned(df: DataFrame): Set[String] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case l: LogicalRelation => l.relation
    }.collect { case h: HadoopFsRelation => h.location.rootPaths }
      .flatten.map(_.getName).toSet

  test("release deletes and unregisters the staged directory") {
    withStageRoot { root =>
      val df = Stage.materialize(Seq((1L, "a"), (2L, "b")).toDF("id", "s"),
        "spec-plain")
      assert(live(root) == scanned(df) && live(root).size == 1)
      // a plan over the staged frame names the same single directory
      Stage.release(df.filter(col("id") > 1L).select(col("s")))
      assert(live(root).isEmpty)
      // unregistered: a second release is refused
      intercept[IllegalArgumentException](Stage.release(df))
    }
  }

  test("release refuses a fixture read and leaves its files in place") {
    withStageRoot { root =>
      val path = s"${TestSpark.sf0001}/documents.parquet"
      // the fixture table is a single file or a directory of parts
      def files = {
        val f = new File(path)
        Option(f.listFiles()).toSeq.flatten.map(p => p.getName -> p.length)
          .toSet + (f.getName -> f.length)
      }
      val before = files
      val fixture = spark.read.parquet(path)
      intercept[IllegalArgumentException](Stage.release(fixture))
      assert(files == before && fixture.count() > 0)
      // two staged frames at once are not ONE directory either
      val a = Stage.materialize(Seq(1L).toDF("id"), "spec-a")
      val b = Stage.materialize(Seq(1L).toDF("id"), "spec-b")
      intercept[IllegalArgumentException](Stage.release(a.join(b, "id")))
      // nor is a local relation
      intercept[IllegalArgumentException](Stage.release(Seq(1L).toDF("id")))
      assert(live(root).size == 2)
      Seq(a, b).foreach(Stage.release)
      assert(live(root).isEmpty)
    }
  }

  test("release of a bucketed frame drops its catalog entry too") {
    withStageRoot { root =>
      def tables = spark.catalog.listTables().collect()
        .map(_.name).filter(_.startsWith("graft_spec_bucketed")).toSet
      val df = Stage.materializeBucketed(
        (1L to 20L).map(i => (i, i % 3)).toDF("k", "v"),
        "spec-bucketed", "k", 4)
      assert(tables.size == 1 && live(root).size == 1)
      Stage.release(df)
      assert(tables.isEmpty && live(root).isEmpty)
    }
  }

  test("iterate keeps init, releases superseded rounds, reports convergence") {
    withStageRoot { root =>
      val init = Stage.materialize(Seq(0L).toDF("v"), "spec-init")
      val initDir = live(root)
      val step = (s: DataFrame, _: Int) => s.select((col("v") + 1L).as("v"))
      val atThree = (_: DataFrame, n: DataFrame) =>
        n.as[Long].head() >= 3L
      val fx = Stage.iterate(init, "spec-r", 10)(step)(atThree)
      assert(fx.rounds == 3 && fx.converged)
      assert(fx.state.as[Long].head() == 3L)
      // only init (the caller's) and the final round remain
      assert(live(root) == initDir ++ scanned(fx.state))
      Stage.release(fx.state)
      val capped = Stage.iterate(init, "spec-c", 2)(step)(atThree)
      assert(capped.rounds == 2 && !capped.converged)
      assert(capped.state.as[Long].head() == 2L)
      assert(live(root) == initDir ++ scanned(capped.state))
      assert(init.as[Long].head() == 0L)
    }
  }

  test("iterative operators leave only the directories their result scans") {
    // a 7-chain of two-item baskets plus a K4 — enough rounds for every
    // loop to stage and supersede several states
    val chain = (1L to 6L).map(i => (i, i)) ++ (1L to 6L).map(i => (i, i + 1))
    val k4 = Seq(11L, 12L, 13L, 14L).map((100L, _))
    val baskets = (chain ++ k4).toDF("ok", "part")
    val base = "alpha beta gamma delta epsilon zz"
    val records = Seq(
      (1L, "s1", base, base.length.toLong),
      (2L, "s1", base.replace("beta", "byxa"), base.length.toLong),
      (3L, "s1", base.replace("beta", "byxa").replace("gamma", "gayya"),
        base.length.toLong),
      (4L, "s1", "omega psi chi phi upsilon tau xyz", 33L)
    ).toDF("doc_id", "source", "text", "n_chars")
    val docs = (0 until 12).map { i =>
      (i.toLong, (2 * i until 2 * i + 8).map(t => s"tok$t").mkString(" "),
        "s1")
    }.toDF("doc_id", "text", "source")
    val ops: Seq[(String, () => DataFrame)] = Seq(
      "kCore" -> (() => GraphOps.kCore(baskets, k = 3, rounds = 4)),
      "labelProp" -> (() => GraphOps.labelProp(baskets)),
      "weightedPaths" -> (() => GraphOps.weightedPaths(baskets)),
      "bfsHops" -> (() => GraphOps.bfsHops(baskets)),
      "DedupCluster.clusters" -> (() => graft.ext.DedupCluster.clusters(docs)),
      "Mining.entityResolve" -> (() => Mining.entityResolve(records, maxDist = 3)))
    ops.foreach { case (name, run) =>
      withStageRoot { root =>
        val out = run()
        assert(live(root).nonEmpty && live(root) == scanned(out),
          s"$name left ${live(root)}, its result scans ${scanned(out)}")
        assert(out.count() > 0, s"$name result unreadable")
      }
    }
  }
}
