package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{MinHashK, MinHashMd5, SimHash64, SimHashMd5, VecDotFloat}

/** Session extensions: registers the engine's native expressions
  * ([[GraftExtensions.functions]]) for every session created with
  *
  * {{{
  * spark.sql.extensions=graft.GraftExtensions
  * // or: SparkSession.builder().withExtensions(new GraftExtensions)
  * }}}
  *
  * so SQL users get them without per-session registry calls. A session
  * built without the extension gets the same table through
  * [[GraftExtensions.install]], the one per-session fallback.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, cls, build) =>
      e.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    }
}

object GraftExtensions {
  type Builder = Seq[Expression] => Expression

  /** One table row: `build` wrapped in the arity check. */
  private def fn(name: String, cls: Class[_ <: Expression], arity: Int)(
      build: Builder): (String, Class[_ <: Expression], Builder) =
    (name, cls, { args =>
      require(args.length == arity,
        s"$name expects $arity argument(s), got ${args.length}")
      build(args)
    })

  /** The native functions, one (SQL name, expression class, arity-checked
    * builder) row each — the only list the extension and [[install]]
    * read. */
  val functions: Seq[(String, Class[_ <: Expression], Builder)] = Seq(
    fn("vec_dot_f", classOf[VecDotFloat], 2)(a => VecDotFloat(a(0), a(1))),
    fn("simhash64", classOf[SimHash64], 1)(a => SimHash64(a(0))),
    fn("simhash_md5", classOf[SimHashMd5], 1)(a => SimHashMd5(a(0))),
    fn("minhash_k", classOf[MinHashK], 2) { a =>
      require(a(1).foldable, "minhash_k: k must be a literal")
      MinHashK(a(0), a(1).eval().asInstanceOf[Number].intValue())
    },
    fn("minhash_md5", classOf[MinHashMd5], 2) { a =>
      require(a(1).foldable, "minhash_md5: k must be a literal")
      MinHashMd5(a(0), a(1).eval().asInstanceOf[Number].intValue())
    })

  /** Registers every function of [[functions]] the session lacks — a
    * no-op on an extension-built session (re-registering would log a
    * "replaced a previously registered function" warning per call). */
  def install(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (name, _, build) =>
      if (!reg.functionExists(new FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, build, "built-in")
    }
  }
}
