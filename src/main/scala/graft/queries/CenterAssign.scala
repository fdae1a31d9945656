package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Shared nearest-center assignment (q126 Lloyd k-means, q111 SemDeDup).
  *
  * The round-9 shape computed the per-vector argmin with
  * `row_number().over(Window.partitionBy("vec_id"))` over
  * `crossJoin(broadcast(centers))` — correct, but the window forces an
  * exchange of n·k rows on vec_id whose only job is to pick the min of
  * k co-located candidates. At 100 TB that is a corpus-sized shuffle
  * per assignment pass (×5 for a 4-round k-means).
  *
  * This shape removes the exchange entirely: the k centers are packed
  * into ONE broadcast row as a center_id-ordered
  * `array<struct<center_id, centroid>>`, and the argmin is a pure
  * projection — `transform` scores every center (the same pinned
  * index-ordered double fold as before, so distances stay
  * bit-identical), then a fold keeps the first strict minimum.
  * Because the array is center_id-ascending and the fold replaces only
  * on strictly smaller distance, ties resolve to the lowest center_id —
  * exactly the old window's `orderBy(dist_sq asc, center_id asc)`
  * row_number semantics. Assignment becomes a zero-exchange scan; the
  * only shuffle left in a k-means round is the (cluster, pos) centroid
  * agg (PlanShapeSpec-asserted).
  */
object CenterAssign {

  /** Pack a (center_id, centroid) table into one row holding the
    * center_id-sorted `cents` array. k·dim doubles — always
    * broadcastable (k and dim are operator constants). */
  def packCenters(centers: DataFrame): DataFrame =
    centers.groupBy()
      .agg(expr("array_sort(collect_list(struct(center_id, centroid)))")
        .as("cents"))

  // one (cluster, dist_sq) struct per center, in center_id order;
  // dist is the pinned index-ordered squared-L2 fold (q25/q105 recipe)
  private val scoredExpr =
    "transform(cents, c -> named_struct(" +
      "'cluster', c.center_id," +
      s"'dist_sq', ${VectorFunctions.sqL2Sql("embedding", "c.centroid")}))"

  // first strict minimum; init = element 0 (self-compare is a no-op)
  private val bestExpr =
    "aggregate(dscored, dscored[0]," +
      " (best, s) -> IF(s.dist_sq < best.dist_sq, s, best))"

  /** Append nearest-center (cluster, dist_sq) columns to `e` (which
    * must carry an `embedding` column) — zero exchanges on the `e`
    * side. `cluster` takes center_id's type (int for k-means cells,
    * string for label centroids). */
  def withNearest(e: DataFrame, centers: DataFrame): DataFrame =
    e.crossJoin(broadcast(packCenters(centers)))
      .withColumn("dscored", expr(scoredExpr))
      .withColumn("best", expr(bestExpr))
      .withColumn("cluster", col("best.cluster"))
      .withColumn("dist_sq", col("best.dist_sq"))
      .drop("cents", "dscored", "best")
}
