package graft.functions

import graft.plans.GraftFunctions
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns using codegen'd
  * higher-order functions (zip_with + ordered aggregate fold), no UDFs.
  *
  * Determinism contract: folds run left-to-right starting from 0.0, which
  * is bit-identical to DuckDB's `list_reduce` over the same doubles — so
  * cosine scores hash-match the oracle exactly.
  */
object VecFns {

  /** Cast float vector to double for exact cross-engine arithmetic. */
  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Ordered left fold sum. */
  def foldSum(v: Column): Column =
    aggregate(v, lit(0.0), (acc, x) => acc + x)

  /** Native codegen'd dot product (graft.functions.DotProduct). Works
    * directly on `array<float>` with double accumulation. */
  def dot(a: Column, b: Column): Column =
    GraftFunctions.call("graft_dot", a, b)

  /** Interpreted reference with identical semantics, which NullSafetySpec
    * checks the [[DotProduct]] kernel against (~10× slower per pair).
    * Matching the kernel takes care: a bare `zip_with` pads the shorter array with nulls and a
    * null product poisons the whole fold to NULL, where the native
    * expression zero-fills null elements and min-truncates unequal
    * lengths — hence the coalesces (null element → 0 contribution) which
    * also neutralize the padded tail. */
  def dotHof(a: Column, b: Column): Column =
    foldSum(zip_with(a, b,
      (x, y) => coalesce(x, lit(0.0f)) * coalesce(y, lit(0.0f))))

  def l2norm(v: Column): Column = sqrt(dot(v, v))

  /** Sign-bit LSH bucket over fixed dimensions (1-based), the scale path
    * for ANN: vectors only compete within their bucket. */
  def signBucket(v: Column, dims: Seq[Int]): Column =
    concat(dims.map(i => when(element_at(v, i) >= 0, lit("1")).otherwise(lit("0"))): _*)

  /** Squared L2 distance to a literal centroid (ordered left fold —
    * DuckDB `list_reduce` parity, same contract as the dot product). */
  def sqDistTo(v: Column, c: Seq[Double]): Column =
    foldSum(zip_with(v, array(c.map(lit): _*), (x, y) => (x - y) * (x - y)))

  /** Nearest centroid as a struct(d, cid) minimum — lexicographic struct
    * ordering gives nearest-by-distance with ties to the lowest cid
    * (matches an `ORDER BY d, cid` row_number in SQL). The centroid
    * matrix inlines as literals: one codegen-able projection, no join. */
  def nearestCentroid(v: Column, cents: Seq[(Int, Seq[Double])]): Column =
    array_min(array(cents.map { case (cid, c) =>
      struct(sqDistTo(v, c).as("d"), lit(cid).as("cid"))
    }: _*))
}
