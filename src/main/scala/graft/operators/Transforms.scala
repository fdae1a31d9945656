package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reference-parity transform operators (SURVEY.md §2.A.2; reference
  * semantics at /root/reference/dags/wine_etl_kaggle.py:69-93). Each op is
  * a `DataFrame => DataFrame` built purely from codegen'd built-in
  * expressions — zero UDFs — so the whole chain collapses into a single
  * `Project` under whole-stage codegen.
  */
object Transforms {

  /** `pd.to_numeric(errors='coerce')` (wine_etl_kaggle.py:73): non-ANSI
    * cast yields null on malformed input; `try_cast` semantics under ANSI.
    */
  def castCoerce(col0: String, to: DataType): DataFrame => DataFrame =
    df => df.withColumn(col0, try_cast_safe(col(col0), to))

  private def try_cast_safe(c: Column, to: DataType): Column =
    // try_cast is ANSI-proof; identical to cast when ANSI is off.
    c.try_cast(to)

  /** `df.dropna(subset=[...])` (wine_etl_kaggle.py:74). */
  def dropNulls(cols: Seq[String]): DataFrame => DataFrame =
    df => df.na.drop(cols)

  /** `fillna(const)` (wine_etl_kaggle.py:75,78,79,89). */
  def imputeConst(m: Map[String, Any]): DataFrame => DataFrame =
    df => df.na.fill(m)

  /** `str.replace(lit, '', regex=False)` (wine_etl_kaggle.py:76) —
    * `translate` is the literal-safe exact equivalent for single chars. */
  def stripChars(col0: String, chars: String): DataFrame => DataFrame =
    df => df.withColumn(col0, translate(col(col0), chars, ""))

  /** `df[c].fillna(df[c].median())` (wine_etl_kaggle.py:77) — global exact
    * median imputed into nulls. Implemented scale-safely as a 1-row
    * aggregate broadcast-joined into the plan (no collect, no global
    * window): the tiny aggregate is its own Spark job but the scalar flows
    * through a BroadcastNestedLoopJoin of a single row. Always exact
    * (`percentile`, pandas parity); at 100 TB `approx_percentile` is the
    * swap SURVEY §4.3 records.
    */
  def imputeMedian(col0: String): DataFrame => DataFrame = { df =>
    val med = df.agg(percentile(col(col0), lit(0.5)).as("__med"))
    df.crossJoin(broadcast(med))
      .withColumn(col0, coalesce(col(col0), col("__med")))
      .drop("__med")
  }

  /** `len(str(x)) if notnull else 0` (wine_etl_kaggle.py:81-82). */
  def strLen(src: String, dst: String): DataFrame => DataFrame =
    df => df.withColumn(dst, coalesce(length(col(src)), lit(0)).cast(IntegerType))

  /** `pd.cut(bins, labels)` (wine_etl_kaggle.py:84-86): RIGHT-closed /
    * left-open intervals `(b0,b1], (b1,b2], …` — value == lower edge of the
    * first bin (or null, or > last finite edge with no +inf bin) → null.
    * ML `Bucketizer` is left-closed, i.e. wrong here; a `when` chain keeps
    * the exact pandas semantics and stays inside codegen.
    *
    * `bins` are the finite edges (ascending); `labels.length == bins.length`
    * means the last label covers `(bins.last, +inf)`.
    */
  def binRightClosed(src: String, dst: String, bins: Seq[Double],
      labels: Seq[String]): DataFrame => DataFrame = { df =>
    require(labels.length == bins.length || labels.length == bins.length - 1)
    val c = col(src)
    val lower = bins.head
    val bounded = bins.tail.zip(labels).foldLeft(when(c <= lower, lit(null: String))) {
      case (acc, (edge, lab)) => acc.when(c <= edge, lit(lab))
    }
    val full =
      if (labels.length == bins.length) bounded.otherwise(lit(labels.last))
      else bounded
    df.withColumn(dst, when(c.isNull, lit(null: String)).otherwise(full))
  }

  /** `region_1.combine_first(region_2)` (wine_etl_kaggle.py:88). */
  def coalesceCols(dst: String, first: String, second: String): DataFrame => DataFrame =
    df => df.withColumn(dst, coalesce(col(first), col(second)))

  /** `astype('category').cat.codes` (wine_etl_kaggle.py:90): dense int
    * codes assigned by sorted order of distinct values; null → -1.
    *
    * Scale shape: codes are built by a range-partitioned sort of the
    * distinct set followed by RDD `zipWithIndex` — contiguous global ids
    * without an unpartitioned window, so a high-cardinality column (10⁶+
    * distinct values, tested) never funnels through one partition.
    * `zipWithIndex` costs one lightweight extra job (per-partition counts)
    * over the distinct set only.
    *
    * `broadcastCodes` (default true — categorical by definition) hints the
    * join back; pass false for high-cardinality dictionaries so the join
    * shuffles instead of shipping the whole code table to every executor.
    * `codeType` mirrors pandas' cat.codes dtype widening: ShortType
    * matches the reference's SMALLINT warehouse column, IntegerType for
    * dictionaries past 32k codes.
    */
  def dictEncode(src: String, dst: String, codeType: DataType = ShortType,
      broadcastCodes: Boolean = true): DataFrame => DataFrame = { df =>
    val spark = df.sparkSession
    val distinctVals = df.select(col(src)).na.drop().distinct()
    val srcField = distinctVals.schema.fields.head
    val indexed = distinctVals.orderBy(col(src)).rdd.zipWithIndex().map {
      case (r, i) => org.apache.spark.sql.Row(r.get(0), i)
    }
    // fail loudly if the dictionary outgrows the code type (e.g. 40k
    // distinct values into ShortType): a silent wrap would collide with
    // the -1 null sentinel and assign duplicate codes
    val maxCode: Long = codeType match {
      case ShortType   => Short.MaxValue.toLong
      case ByteType    => Byte.MaxValue.toLong
      case IntegerType => Int.MaxValue.toLong
      case _           => Long.MaxValue
    }
    val codes = spark.createDataFrame(indexed, StructType(Seq(
        srcField, StructField("__code", LongType, nullable = false))))
      .withColumn(dst,
        when(col("__code") <= lit(maxCode), col("__code").cast(codeType))
          .otherwise(raise_error(concat(
            lit(s"dictEncode: dictionary exceeds ${codeType.simpleString} "
              + "range at code "), col("__code").cast(StringType)))))
      .drop("__code")
    val codesHinted = if (broadcastCodes) broadcast(codes) else codes
    df.join(codesHinted, Seq(src), "left")
      .withColumn(dst, coalesce(col(dst), lit(-1).cast(codeType)))
  }

  /** Compose a chain of transform stages. */
  def chain(stages: (DataFrame => DataFrame)*): DataFrame => DataFrame =
    df => stages.foldLeft(df)((d, f) => f(d))
}
