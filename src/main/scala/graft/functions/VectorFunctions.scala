package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dense-vector math over `array<float>` embedding columns (SURVEY.md
  * §2.D) — the one module that owns the oracle-pinned vector arithmetic.
  *
  * Two formulations of the same values:
  *  - the KERNEL every query uses: the codegen'd [[VecDotFloat]]
  *    (`vec_dot_f`, [[dotF]]) plus the norm, cosine, squared-L2 and
  *    cosine top-k built on it;
  *  - the higher-order-function REFERENCE ([[vecToDouble]], [[dot]],
  *    [[norm]], [[cosine]]): plain Spark expressions, kept so tests can
  *    compare the fast path against them.
  *
  * Determinism (the DuckDB oracle's list_sum recipe, bit for bit):
  * floats are widened to double BEFORE any arithmetic; every fold
  * accumulates element by element in index order; a norm is computed
  * ONCE per row and reused; cosine is `dot / (‖a‖ · ‖b‖)` in that operand
  * order; top-k ranks by `cos_sim` desc with a unique neighbour-id
  * tie-break.
  */
object VectorFunctions {

  /** array<float> → array<double>. */
  def vecToDouble(a: Column): Column = transform(a, x => x.cast(DoubleType))

  /** Sequential-fold dot product of two array<double> columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Euclidean norm. */
  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, x) => acc + x))

  /** Cosine similarity; expression shape mirrors the oracle SQL exactly
    * (dot / (sqrt(ssA) * sqrt(ssB))) so every IEEE op matches. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Codegen'd float-array dot product (see [[VecDotFloat]]): same values
    * as [[dot]] over [[vecToDouble]]'d inputs, ~an order of magnitude
    * faster (stays in whole-stage codegen). Resolved through the
    * session's function registry when the Column is first used, so the
    * session must carry `vec_dot_f`: [[withNorm]] installs it on
    * sessions built without GraftExtensions. */
  def dotF(a: Column, b: Column): Column =
    call_function("vec_dot_f", a, b)

  /** Euclidean norm over the codegen'd dot: `sqrt(vec_dot_f(v, v))`. */
  def normF(v: Column): Column = sqrt(dotF(v, v))

  /** Cosine over PRECOMPUTED norms: `vec_dot_f(a, b) / (normA * normB)`,
    * the oracle's operand order. */
  def cosineF(a: Column, b: Column, normA: Column, normB: Column): Column =
    dotF(a, b) / (normA * normB)

  /** SQL text of the full-vector squared-L2 fold between an array<float>
    * `v` and an array<double> (or float, widened by coercion) `m`:
    * float→double widening first, then one index-ordered double sum —
    * DuckDB's `list_sum(list_transform(list_zip(v::DOUBLE[], m),
    * x -> (x[1]-x[2])*(x[1]-x[2])))`. SQL text so it also nests inside
    * higher-order lambdas (CenterAssign's per-center scoring). */
  def sqL2Sql(v: String, m: String): String =
    s"aggregate(zip_with($v, $m," +
      " (v, m) -> (CAST(v AS DOUBLE) - m) * (CAST(v AS DOUBLE) - m))," +
      " CAST(0 AS DOUBLE), (acc, x) -> acc + x)"

  /** Column form of [[sqL2Sql]] over two named columns. */
  def sqL2(v: String, m: String): Column = expr(sqL2Sql(v, m))

  /** `df` plus `nrm` = [[normF]] of its `embedding` column — the per-row
    * norm every cosine downstream reuses. Installs `vec_dot_f` on `df`'s
    * session when it was built without GraftExtensions. */
  def withNorm(df: DataFrame): DataFrame = {
    graft.GraftExtensions.install(df.sparkSession)
    df.withColumn("nrm", normF(col("embedding")))
  }

  /** The cosine ranking step: per `by` group, keep the top `k` rows of
    * `scored` by `cos_sim` desc, then `nid` asc (a unique tie-break, so
    * both engines pick the same rows), numbering them in `rank`. */
  def topKByCosine(scored: DataFrame, by: String, nid: String, k: Int,
      rank: String = "rnk"): DataFrame =
    scored.withColumn(rank, row_number().over(
        Window.partitionBy(col(by)).orderBy(col("cos_sim").desc, col(nid).asc)))
      .filter(col(rank) <= k)
}
