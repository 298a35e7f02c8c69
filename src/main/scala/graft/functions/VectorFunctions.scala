package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `ArrayType(DoubleType)` embedding columns, built from
  * Spark's higher-order array functions (`zip_with` + `aggregate`) so the
  * whole computation is codegen'd inside the row pipeline — no UDF, no
  * serialization boundary, and a sequential left-fold accumulation order
  * that matches a scalar loop (important for cross-engine float parity).
  */
object VectorFunctions {

  /** Dot product — sequential left fold over `zip_with`, i.e. the same
    * accumulation order as a scalar loop. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def normSq(a: Column): Column = dot(a, a)

  /** Cosine similarity `a·b / (|a|·|b|)`. Compute in double; cast float
    * arrays with `col.cast("array<double>")` first. */
  def cosineSimilarity(a: Column, b: Column): Column =
    dot(a, b) / sqrt(normSq(a) * normSq(b))

  /** Unit-normalize a vector (zero vectors come back as NaN components —
    * filter on `normSq > 0` upstream if that matters). */
  def normalize(a: Column): Column = {
    val n = sqrt(normSq(a))
    transform(a, x => x / n)
  }

  /** Squared Euclidean distance — cheaper than euclidean when only used
    * for ordering (monotone transform). */
  def distSq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, v) => acc + v)

  def euclidean(a: Column, b: Column): Column = sqrt(distSq(a, b))

  /** Element-wise mean of an array column across rows — the centroid
    * aggregation for k-means-style IVF training (fixed dimension `dim`). */
  def meanVector(a: Column, dim: Int): Column =
    array((0 until dim).map(i => avg(element_at(a, i + 1))): _*)
}
