package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.expressions.VectorExpressions.vecDot

/** Embedding/vector layer for similarity search over `embeddings.parquet`
  * (ArrayType(FloatType) columns): the double cast, the composed dot
  * fold and the random-hyperplane LSH bits. Every fold runs left to
  * right, as DuckDB's does, so dot products are bit-identical for the
  * oracle.
  */
object VectorFunctions {

  /** Cast array<float> → array<double> so accumulation happens in double
    * (matches the oracle's ::DOUBLE[] cast). */
  def asDouble(v: Column): Column = transform(v, _.cast("double"))

  /** Dot product via zip_with + aggregate (sequential double fold) —
    * the bit-for-bit reference of the native
    * [[graft.expressions.VectorExpressions.vecDot]] (VecDotSpec). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Deterministic random-hyperplane LSH bit: sign of the dot product with
    * a ±1 pseudo-plane derived from md5(planeIdx:dim) parity. Gives a
    * bucketing scheme reproducible in ANSI SQL for the oracle, and at scale
    * turns O(N·Q) brute force into per-bucket probes. */
  def hyperplaneBit(v: Column, planeIdx: Int): Column = {
    // Coefficient = parity of the first hex nibble of md5("plane:dim") —
    // an IN-list parity test is expressible identically in ANSI SQL,
    // which keeps the oracle bit-for-bit compatible.
    val contrib = zip_with(v, sequence(lit(0), size(v) - 1), (x, i) =>
      when(substring(md5(concat(lit(s"$planeIdx:"), i.cast("string"))), 1, 1)
        .isin("0", "2", "4", "6", "8", "a", "c", "e"), x).otherwise(-x))
    when(aggregate(contrib, lit(0.0), (acc, x) => acc + x) >= 0, 1)
      .otherwise(0)
  }

  /** The ±1 hyperplane coefficients are a pure function of (plane, dim) —
    * hashing them per ROW (as `hyperplaneBit`'s expression does, 64 md5
    * digests per row per plane) is wasted work at any scale. Precompute
    * the plane once on the driver; same md5-nibble-parity scheme, so the
    * result is bit-identical to `hyperplaneBit` and to the SQL oracle. */
  def hyperplaneSigns(planeIdx: Int, dim: Int): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dim) { i =>
      md.reset()
      val h = md.digest(s"$planeIdx:$i".getBytes("UTF-8"))
      if (((h(0) >> 4) & 0xF) % 2 == 0) 1.0 else -1.0
    }
  }

  /** Codegen hyperplane bit: one native `vecDot` against the
    * precomputed literal plane. Fold order over the vector is identical
    * to `hyperplaneBit`'s, so the sign — and thus the bucket — matches
    * exactly. Floating-point note: (+x) + (-y) sums in the same sequence
    * either way. */
  def hyperplaneBitFast(v: Column, planeIdx: Int, dim: Int): Column =
    when(vecDot(v, lit(hyperplaneSigns(planeIdx, dim))) >= 0, 1)
      .otherwise(0)
}
