package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-pipeline building blocks (SURVEY.md §2.D): tokenization, word
  * n-gram shingling, document fingerprinting, SimHash. All pure built-in
  * expressions — each stays a per-row projection (no shuffle) until the
  * caller aggregates or joins.
  */
object TextFunctions {

  /** Whitespace tokenization. */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct word `n`-gram shingles (positional n-grams joined by a
    * space) over a NAMED array<string> column. TOTAL: arrays shorter than
    * `n` yield an empty shingle set (without the guard, sequence(0, neg)
    * runs descending into negative indices, which ANSI mode rejects).
    * SQL-expression form because lambda-with-index is most direct in SQL
    * syntax. */
  def shinglesExpr(toksCol: String, n: Int): Column = {
    val parts = (0 until n).map(j => s"$toksCol[i + $j]").mkString(", ")
    expr(s"CASE WHEN size($toksCol) >= $n THEN " +
      s"array_distinct(transform(sequence(0, size($toksCol) - $n), " +
      s"i -> concat_ws(' ', $parts))) " +
      s"ELSE array_repeat('', 0) END")
  }

  /** Order-insensitive document fingerprint: md5 over the sorted distinct
    * token set. NULL text yields a NULL fingerprint (SQL null
    * propagation — concat_ws alone would silently treat the null token
    * array as empty and fingerprint null docs as if they were ""). */
  def fingerprint(text: Column): Column =
    when(text.isNull, lit(null))
      .otherwise(md5(concat_ws(" ", array_sort(array_distinct(split(text, " "))))))

  /** Order-SENSITIVE rolling-hash fingerprint (Rabin–Karp shape): fold
    * h ← (h·P + hash(token)) mod M over the token sequence — catches
    * documents with identical token sets but different order,
    * complementing [[fingerprint]]. Modular (M = 2³¹−1, P = 1000003)
    * keeps every intermediate ≤ 2⁵¹, so ANSI mode (Spark 4 default)
    * never sees a long overflow. Pure projection, no shuffle. */
  def rollingFingerprint(toksCol: String): Column =
    expr(s"aggregate($toksCol, 0L, (h, t) -> " +
      "pmod(h * 1000003L + pmod(xxhash64(t), 2147483647L), 2147483647L))")

  /** 64-bit SimHash over the tokens of `toksCol` (a named array<string>
    * column): per-token xxhash64, ±1 vote per bit, sign → bit. One vote
    * PER ELEMENT — pass array_distinct(toks) for set semantics. Entirely
    * in one projection via higher-order folds — no explode, no shuffle;
    * at 100 TB this is embarrassingly parallel per row. Reference
    * (interpreted) formulation; [[SimHash64]] is the codegen'd equivalent
    * used by the queries (SQL function `simhash64`, see
    * [[graft.GraftExtensions.functions]]). */
  def simhash64Hof(toksCol: String): Column = expr(
    s"""aggregate(
          zip_with(
            aggregate(
              transform($toksCol, t -> xxhash64(t)),
              array_repeat(0L, 64),
              (acc, h) -> zip_with(acc, sequence(0, 63),
                            (a, b) -> a + CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)),
            sequence(0, 63),
            (s, b) -> CASE WHEN s > 0 THEN shiftleft(1L, b) ELSE 0L END),
          0L, (acc, x) -> acc | x)""")
}
