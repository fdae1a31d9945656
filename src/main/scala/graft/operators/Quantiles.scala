package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Histogram quantiles over a numeric column, optionally per group —
  * the one recipe behind q45, q160, q233 and q237. The core is three
  * steps, each bounded by the number of groups, never by the data:
  *
  *  1. [[bounds]] — one collect of per-group (n, min, max) over the
  *     non-null values;
  *  2. [[histogram]] — one collect of per-(group, bin) counts under a
  *     caller-supplied MONOTONE bin function (counts add cell-wise, so
  *     partition partials are local histograms: constant state under
  *     any distinct growth, where `percentile` merges a value→count map
  *     at one reducer — the round-15 131×-at-100× cliff);
  *  3. [[rankBins]] — a driver-side cumulative walk to the first bin
  *     whose running count reaches each target rank.
  *
  * The approximate callers (q160, q237) stop there and place their
  * cut inside the bin with their own oracle-pinned arithmetic;
  * [[exactCuts]] adds a rank-pruned within-bin sort and replays
  * `percentile` exactly. The group column must be catalog-bounded (the
  * caller contract — every collect here is ≤ |groups|·bins cells). */
object Quantiles {

  /** A group's key (null when ungrouped), its non-null count, and its
    * min/max in the column's own type (null when n == 0). */
  final case class Bounds(key: Any, n: Long, mn: Any, mx: Any)

  private def keyCol(group: Option[String]): Seq[Column] =
    group.map(g => col(g).as("gk")).toSeq

  /** A [[binned]] frame's cell columns: bin and the group key. */
  private def cellCols(binned: DataFrame): Seq[Column] =
    binned.columns.toSeq.filter(_ != "vv").map(col)

  private def keyOf(r: Row): Any =
    if (r.schema.fieldNames.contains("gk")) r.getAs[Any]("gk") else null

  /** True on the rows of group `key`; `lit(true)` when ungrouped, which
    * Catalyst folds away. */
  private def inGroup(grouped: Boolean, key: Any): Column =
    if (!grouped) lit(true)
    else if (key == null) col("gk").isNull
    else col("gk") === lit(key)

  /** Pass 1: per-group (n, min, max) over the non-null values; one row
    * (key null) when `group` is None, even on empty input. */
  def bounds(df: DataFrame, group: Option[String], value: String)
      : Seq[Bounds] = {
    val v = col(value)
    df.groupBy(keyCol(group): _*)
      .agg(count(v).as("n"), min(v).as("mn"), max(v).as("mx"))
      .collect().toSeq
      .map(r => Bounds(keyOf(r), r.getAs[Long]("n"), r.getAs[Any]("mn"),
        r.getAs[Any]("mx")))
  }

  /** The non-null rows of `groups` as (vv, bin[, gk]), where `bin(b, v)`
    * is group b's bin of value column `v` — it must be monotone
    * non-decreasing in v. */
  def binned(df: DataFrame, group: Option[String], value: String,
      groups: Seq[Bounds])(bin: (Bounds, Column) => Column): DataFrame = {
    val grouped = group.isDefined
    def binOf(b: Bounds) = bin(b, col("vv"))
    val binE = groups.tail.foldLeft(
      when(inGroup(grouped, groups.head.key), binOf(groups.head))) {
      (acc, b) => acc.when(inGroup(grouped, b.key), binOf(b))
    }
    df.select(keyCol(group) :+ col(value).as("vv"): _*)
      .filter(col("vv").isNotNull &&
        groups.map(b => inGroup(grouped, b.key)).reduce(_ || _))
      .select(Seq(col("vv"), binE.cast("long").as("bin")) ++
        group.map(_ => col("gk")): _*)
  }

  /** Pass 2: per-group (bin, count) cells of a [[binned]] frame,
    * ascending bin. */
  def histogram(binned: DataFrame): Map[Any, IndexedSeq[(Long, Long)]] =
    binned.groupBy(cellCols(binned): _*)
      .agg(count(lit(1)).as("c"))
      .collect().toIndexedSeq
      .map(r => (keyOf(r), r.getAs[Long]("bin"), r.getAs[Long]("c")))
      .groupBy(_._1)
      .map { case (k, cells) => k -> cells.map(c => (c._2, c._3)).sortBy(_._1) }

  /** The rank walk: for each 1-based target rank, the first bin of
    * `hist` (ascending) whose running count reaches it, paired with the
    * number of rows in the bins before it. */
  def rankBins(hist: Seq[(Long, Long)], ranks: Seq[Long])
      : Map[Long, (Long, Long)] = {
    val cum = hist.scanLeft((0L, 0L)) { case ((_, s), (b, c)) => (b, s + c) }
    ranks.map { r =>
      val i = cum.indexWhere(_._2 >= r, 1)
      r -> (cum(i)._1, cum(i - 1)._2)
    }.toMap
  }

  /** EXACT percentiles, per group: bit-identical to
    * `groupBy(group).agg(percentile(value, array(qs)))` on a BIGINT or
    * DOUBLE column (WarehouseSpec pins both). Nulls are ignored, as the
    * agg ignores them; a group with no non-null value gets null cuts.
    * Returns one (bounds, cuts in `qs` order) per group.
    *
    * Replication contract, per group with n values: position =
    * (n−1)·q; lowerKey / higherKey = the sorted-multiset elements at
    * 1-based ranks floor(position)+1 / ceil(position)+1 under the
    * column type's order (the window sort's, so −0.0 < 0.0 and NaN
    * sorts last); result = lowerKey when the ranks coincide or the keys
    * are `==` as BOXED values — Scala's cooperative equality, exactly
    * `PercentileBase.getPercentile`'s test (Longs compare as Longs, so
    * distinct keys above 2⁵³ interpolate; −0.0 == 0.0 short-circuits;
    * NaN == NaN interpolates) — else
    * (higher−position)·lowerKey + (position−lower)·higherKey, the same
    * JVM ops in the same order, on the driver.
    *
    * The bin function floor((v−mn)·(bins/(mx−mn))) is evaluated in
    * double: monotone non-decreasing in v (every IEEE step is correctly
    * rounded), never overflowing, and a ±Inf/NaN scale (a zero-width,
    * −0.0/0.0-mixed or NaN-bearing group) sends the whole group to one
    * bin, where the sort stays exact. The probe sorts ONLY the
    * candidate bins holding a target rank (≈ n·2|qs|/bins rows) and
    * collects ≤ |groups|·2·|qs| keys. One hot value concentrates its
    * bin, so the probe degrades toward a sort of that bin — never worse
    * than the agg's single-reducer map merge. Groups whose min/max
    * carry identical bits skip the probe (every key equals mn), except
    * ±0.0 and NaN, which primitive codegen min/max cannot tell apart
    * from their mixes. `bins` is a test seam. */
  private[graft] def exactCuts(df: DataFrame, group: Option[String],
      value: String, qs: Seq[Double], bins: Int = 8192)
      : Seq[(Bounds, Seq[Double])] = {
    import java.lang.{Double => JDouble}
    def num(x: Any): Double = x.asInstanceOf[Number].doubleValue
    def degenerate(b: Bounds): Boolean = b.mn match {
      case d: JDouble => JDouble.doubleToLongBits(d) ==
        JDouble.doubleToLongBits(num(b.mx)) && d != 0.0 && !d.isNaN
      case m => m == b.mx
    }
    def ranksOf(n: Long): Seq[Long] = qs.flatMap { q =>
      val p = (n - 1).toDouble * q
      Seq(math.floor(p).toLong + 1L, math.ceil(p).toLong + 1L)
    }.distinct.sorted
    val stats = bounds(df, group, value)
    val general = stats.filter(b => b.n > 0L && !degenerate(b))
    val keyAt: Map[Any, Map[Long, Any]] = if (general.isEmpty) Map.empty
    else {
      val withBin = binned(df, group, value, general) { (b, v) =>
        val mn = num(b.mn)
        val k = bins / (num(b.mx) - mn)
        least(lit((bins - 1).toDouble), greatest(lit(0.0),
          nanvl(floor((v.cast("double") - lit(mn)) * lit(k)), lit(0.0))))
      }
      val hist = histogram(withBin)
      // per group: the target ranks and their bins' start offsets
      val probes = general.map { b =>
        val ranks = ranksOf(b.n)
        (b.key, ranks, rankBins(hist(b.key), ranks).values.toSeq.distinct)
      }
      val grouped = group.isDefined
      val cands = probes.flatMap { case (key, _, bs) =>
        bs.map { case (bin, start) =>
          (inGroup(grouped, key) && col("bin") === bin, start)
        }
      }
      val startE = cands.tail.foldLeft(when(cands.head._1, cands.head._2)) {
        case (acc, (p, s)) => acc.when(p, s)
      }
      val w = Window.partitionBy(cellCols(withBin): _*)
        .orderBy(col("vv").asc)
      // pass 3: exact keys at the target ranks
      withBin.filter(cands.map(_._1).reduce(_ || _))
        .withColumn("grank", row_number().over(w) + startE)
        .filter(probes.map { case (key, ranks, _) =>
          inGroup(grouped, key) && col("grank").isin(ranks: _*)
        }.reduce(_ || _))
        .collect().toSeq
        .map(r => (keyOf(r), r.getAs[Long]("grank"), r.get(0)))
        .groupBy(_._1)
        .map { case (k, rows) => k -> rows.map(t => t._2 -> t._3).toMap }
    }
    stats.map { b =>
      val cuts =
        if (b.n == 0L) null
        else if (degenerate(b)) qs.map(_ => num(b.mn))
        else {
          val at = keyAt(b.key)
          qs.map { q =>
            val pos = (b.n - 1).toDouble * q
            val lower = math.floor(pos).toLong
            val higher = math.ceil(pos).toLong
            val lowerKey = at(lower + 1L)
            if (higher == lower) num(lowerKey)
            else {
              val higherKey = at(higher + 1L)
              if (higherKey == lowerKey) num(lowerKey)
              else (higher - pos) * num(lowerKey) + (pos - lower) * num(higherKey)
            }
          }
        }
      (b, cuts)
    }
  }
}
