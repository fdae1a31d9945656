package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions: a session built with the extensions gets the native
  * functions in plain SQL without per-query registration. */
class ExtensionsSpec extends AnyFunSuite {

  /** Runs `body` on a FRESH session from `build` (sharing the one
    * SparkContext). getOrCreate() returns any already-active session and
    * IGNORES the builder's extensions — clear the active/default slots
    * so a new session is built, then restore the shared session for the
    * other suites (never stop it: the SparkContext is shared). */
  private def withFreshSession(build: => SparkSession)(
      body: SparkSession => Unit): Unit = {
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try body(build)
    finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  private def vecDot(s: SparkSession): Double = s.sql(
    "SELECT vec_dot_f(array(cast(1.0 as float), cast(2.0 as float)), " +
      "array(cast(3.0 as float), cast(4.0 as float))) AS d").head().getDouble(0)

  test("Sessions.local: UTC, one shuffle partition per core, SQL extensions") {
    // the shared context comes from the factory, so it carries
    // spark.sql.extensions for every later session built on it
    TestSpark.spark
    withFreshSession(Sessions.local(3)) { s =>
      assert(s ne TestSpark.spark)
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(s.conf.get("spark.sql.shuffle.partitions") == "3")
      assert(vecDot(s) == 11.0)
    }
  }

  test("withExtensions exposes vec_dot_f and simhash64 in SQL") {
    withFreshSession(SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()) { s =>
      assert(vecDot(s) == 11.0)
      val sh = s.sql(
        "SELECT simhash64(array('alpha', 'beta')) AS h").head().getLong(0)
      assert(sh != 0L)
    }
  }

  /** `src` with comments blanked (newlines kept, so offsets map to the
    * same lines) and string literals left in place. */
  private def stripComments(src: String): String = {
    val out = new StringBuilder
    val n = src.length
    def blank(from: Int, to: Int): Unit =
      (from until to).foreach(k => out += (if (src(k) == '\n') '\n' else ' '))
    var i = 0
    while (i < n) {
      if (src.startsWith("//", i)) {
        val end = { val e = src.indexOf('\n', i); if (e < 0) n else e }
        blank(i, end); i = end
      } else if (src.startsWith("/*", i)) {
        var j = i + 2
        var depth = 1
        while (j < n && depth > 0) {
          if (src.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (src.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        blank(i, j); i = j
      } else if (src.startsWith("\"\"\"", i)) {
        var j = { val e = src.indexOf("\"\"\"", i + 3); if (e < 0) n else e + 3 }
        while (j < n && src(j) == '"') j += 1
        out ++= src.substring(i, j); i = j
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < n && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        j = math.min(j + 1, n)
        out ++= src.substring(i, j); i = j
      } else if (src(i) == '\'' && i + 2 < n &&
          (src(i + 2) == '\'' || src(i + 1) == '\\')) {
        // a char literal such as '"' must not open a string
        val close = src.indexOf('\'', if (src(i + 1) == '\\') i + 3 else i + 2)
        val j = if (close < 0) n else close + 1
        out ++= src.substring(i, j); i = j
      } else { out += src(i); i += 1 }
    }
    out.toString
  }

  test("source scan: native functions are built and registered only in " +
      "graft/functions and GraftExtensions") {
    // the oracle-pinned vector arithmetic (vec_dot_f, the full-vector
    // squared-L2 fold) lives in VectorFunctions, q30's md5 slot fold in
    // the MinHashMd5 kernel, and native functions are registered
    // through GraftExtensions' one table; comments and the DuckDB
    // oracle SQL (Some(\"\"\"...\"\"\")) are not scanned
    val rules = Seq(
      "builds vec_dot_f" -> "vec_dot_f".r,
      "inlines the squared-L2 fold" ->
        """\(CAST\(v AS DOUBLE\) - (CAST\(m AS DOUBLE\)|m)\)\s*\*""".r,
      "inlines the md5 slot fold" ->
        """(?i)md5\(\s*concat\(\s*CAST\(\s*\w+\s+AS\s+STRING\s*\)\s*,\s*'\|'""".r,
      "registers a native function" -> ("""\bregister(VecDot|SimHash|""" +
        """SimHashMd5|MinHash)\b|\b(VectorFunctions|TextFunctions|""" +
        """GraftExtensions)\s*\.\s*register\w*|""" +
        """createOrReplaceTempFunction|injectFunction""").r)
    val oracleSql = "Some\\(\\s*s?\"\"\"[\\s\\S]*?\"\"\"".r
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"no sources at ${root.getAbsolutePath}")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val scanned = walk(root).filterNot { f =>
      val p = f.getPath.replace('\\', '/')
      p.contains("/graft/functions/") || p.endsWith("/GraftExtensions.scala")
    }
    assert(scanned.size > 50)
    val hits = scanned.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val text = try src.mkString finally src.close()
      val code = oracleSql.replaceAllIn(stripComments(text),
        m => m.matched.map(c => if (c == '\n') '\n' else ' '))
      rules.flatMap { case (what, re) =>
        re.findAllMatchIn(code).map { m =>
          val line = code.substring(0, m.start).count(_ == '\n') + 1
          s"${f.getPath}:$line $what"
        }
      }
    }
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
