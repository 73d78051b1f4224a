package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The x132 mergeable quantile sketch's integer bucket algebra: a
  * positive cents value collapses to bucket b = digits·1000 + its
  * leading three digits (values of ≤ 3 digits are stored exactly), so
  * the sketch is pure integer math
  * (cross-engine exact — the leading digits come from a SUBSTRING of the
  * decimal rendering, no FP division anywhere), mergeable by count
  * addition, bounded at ~9·900 buckets, and its bucket-upper-bound
  * estimate carries relative error ≤ 1/m ≤ 1%.
  *
  * Signed values: all non-positive cents collapse into bucket 0 with
  * estimate 0 — still an upper bound, but with NO precision. Callers
  * sketching signed quantities split by sign (sketch the negated
  * negatives separately) rather than feeding them through. */
object QuantileSketchOps {

  /** Bucket id for a BIGINT cents column (the oracle's
    * `c // pow(10, digits-3)` — identical to the leading-3-digit
    * substring for positive c).
    *
    * Supported magnitude: c < 10^15 (d ≤ 15 digits) — within it the
    * pow(10, d-3) in [[upperBound]] is exact in double AND the
    * (m+1)·10^(d-3)−1 multiply fits a Long. Larger values (16–19-digit
    * cents are still valid BIGINTs) bucket fine here, but their
    * estimate saturates: [[upperBound]] clamps the exponent at 15 so
    * the multiply cannot overflow, making the estimate a LOWER bound
    * (10^18−1 scale) for those buckets rather than the documented ≤1%
    * upper bound. Callers sketching beyond-10^15 quantities should
    * rescale units first. */
  def bucketOf(c: Column): Column = {
    val s = c.cast("string")
    val d = length(s).cast("long")
    when(c <= 0, lit(0L))
      .when(d <= 3, d * 1000 + c)
      .otherwise(d * 1000 + substring(s, 1, 3).cast("long"))
  }

  /** Upper bound (in cents) of bucket `b` — the quantile estimate.
    * pow(10, k) for k ≤ 12 is exact in double, so the cast is exact.
    * The exponent is clamped at 15 so the (m+1)·10^(d-3) multiply can
    * never exceed Long.MaxValue (≤ 1000·10^15 < 9.2e18); buckets of
    * 19-digit values therefore get a saturated estimate instead of a
    * silently-wrapped one (see [[bucketOf]]'s magnitude contract). */
  def upperBound(b: Column): Column = {
    val d = floor(b / 1000).cast("long")
    val m = b % 1000
    when(d <= 3, m)
      .otherwise((m + 1) * pow(lit(10.0), least(d - 3, lit(15L)).cast("double"))
        .cast("long") - 1)
  }
}
