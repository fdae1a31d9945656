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
}
