package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `ArrayType(FloatType)` embedding columns.
  *
  * Floats are widened to double BEFORE any arithmetic, and accumulation is
  * a sequential left fold — both properties make results bit-identical to
  * a straightforward loop in any other engine (the oracle requirement).
  *
  * `dot` is the native codegen'd [[graft.functions.expr.VecDot]] expression
  * (higher-order-function lambdas are evaluated interpreted in Spark — too
  * slow for per-pair similarity math); [[dotComposed]] keeps the pure
  * built-in form, and `VecDotSpec` proves them bit-identical. */
object VectorFunctions {

  def toDouble(v: Column): Column = transform(v, _.cast("double"))

  /** Sequential dot product of two equal-length vectors (native codegen'd
    * expression; registered by GraftExtensions). */
  def dot(a: Column, b: Column): Column =
    graft.functions.expr.VecDot(a, b)

  /** The same fold composed from built-in higher-order functions — the
    * cross-engine-readable reference form of [[dot]]. */
  def dotComposed(a: Column, b: Column): Column =
    aggregate(zip_with(toDouble(a), toDouble(b), _ * _),
      lit(0.0), (acc, x) => acc + x)

  def norm(v: Column): Column = sqrt(dot(v, v))

  /** Largest |component| — the symmetric-quantization scale. Max is
    * order-independent, so this is safe under any partitioning. */
  def absMax(v: Column): Column = array_max(transform(toDouble(v), abs(_)))

  /** Symmetric int8 quantization against a precomputed scale: each
    * component → round(127·x/scale) ∈ [-127,127] (|x| ≤ scale by
    * construction, so no clamp is needed). Elementwise double math — no
    * accumulation — so results are bit-identical on any engine/cluster.
    * The caller guards scale = 0 (the all-zero vector). At 100 TB this is
    * the 4× storage/bandwidth reduction step before ANN indexing. */
  def quantizeInt8(v: Column, scale: Column): Column =
    transform(toDouble(v), x => round(x * 127.0d / scale).cast("int"))

  /** Cosine similarity; null when either norm is zero. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val na = norm(a)
    val nb = norm(b)
    when(na === 0.0 || nb === 0.0, lit(null).cast("double"))
      .otherwise(d / (na * nb))
  }

  /** `bits`-bit coordinate-hyperplane sign band: bit i is set when
    * `v[off+i] >= 0`. An axis-aligned sign-bit LSH bucket, chosen when
    * the bucket id must be reproducible in ANSI SQL (x69 uses
    * two of these as LSH bands; sign bits survive float→double widening
    * exactly, so the band — and the candidate set — is engine-identical). */
  def signBand(v: Column, off: Int, bits: Int): Column =
    (0 until bits).map { i =>
      when(element_at(v, off + i + 1) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
}
