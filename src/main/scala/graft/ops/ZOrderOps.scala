package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) data layout.
  *
  * Multi-dimensional clustering for scan pruning: interleaving the bits of
  * two dimensions makes points that are close in BOTH dimensions close on
  * the curve, so range-partitioning by the z-value gives every output file
  * a tight bounding box in (x, y) — a 2-D box predicate then skips most
  * files/row-groups on parquet min/max stats, where a single-column sort
  * can only prune on its leading dimension. This is the standard layout
  * trick for 100 TB fact tables queried by more than one selective column
  * (Delta/Iceberg `ZORDER BY`, here re-expressed as plain Spark).
  *
  * The interleave is a pure bit expression (shift/and/or) — whole-stage
  * codegen'd, no UDF — and the layout write is one `repartitionByRange`
  * (sampled range boundaries, no global sort barrier) plus a within-
  * partition sort that parquet turns into tight per-row-group stats.
  */
object ZOrderOps {

  /** Morton z-value of two non-negative integer dims, `bits` bits each
    * (bits ≤ 31; the result occupies the low `2*bits` bits of a long).
    *
    * PRECONDITION: both dims must already lie in [0, 2^bits) — the
    * interleave reads only the low `bits` bits, so an out-of-range or
    * negative input silently ALIASES onto another curve position and
    * quietly destroys locality (files stop having tight bounding boxes).
    * Pre-fold wide domains yourself (q95 does `% 65536` for bits=16), or
    * use [[zvalueChecked]] to fail loudly instead. */
  def zvalue(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    val xl = x.cast("long")
    val yl = y.cast("long")
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(xl, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(yl, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
  }

  /** [[zvalue]] with the range precondition enforced per row: any dim
    * outside [0, 2^bits) raises (via `raise_error`) instead of aliasing —
    * use this when the caller hasn't provably pre-folded its domains. */
  def zvalueChecked(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    val lim = 1L << bits
    def checked(c: Column, name: String): Column =
      when(c.cast("long") >= 0 && c.cast("long") < lim, c)
        .otherwise(raise_error(concat(
          lit(s"zvalue: $name out of [0, $lim): "), c.cast("string"))))
    zvalue(checked(x, "x"), checked(y, "y"), bits)
  }

  /** The same interleave as ANSI SQL (for cross-engine oracles): `x` and
    * `y` must be non-negative integer-typed SQL expressions. */
  def zvalueSql(x: String, y: String, bits: Int): String =
    (0 until bits)
      .map(i => s"(((($x) >> $i) & 1) << ${2 * i}) | " +
                s"(((($y) >> $i) & 1) << ${2 * i + 1})")
      .mkString("(", " | ", ")")
}
