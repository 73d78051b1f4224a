package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Anti-entropy digest arithmetic (x111 / x116).
  *
  * The bucket digest is the SUM of per-row 48-bit md5 fingerprints. A
  * plain `sum(long)` is only valid while a bucket holds ≲ 2¹⁵ rows:
  * past that, Spark's default ANSI mode THROWS on the long overflow
  * while the DuckDB oracle silently promotes to HUGEINT — the
  * warehouse-scale guarantee the digests exist for is exactly where the
  * old encoding broke (ADVICE r9). The digest is therefore DEFINED as
  * the sum mod 2⁶⁴, mapped to its canonical signed-64-bit (two's
  * complement) representative:
  *
  *   - accumulation runs in DECIMAL(38,0) — exact below ~3·10²³ rows
  *     per bucket, i.e. never overflows in practice, and merge-ring
  *     properties (commutative, invertible via signed multiplicities)
  *     are preserved;
  *   - the wrap is one truncated-mod formula both engines evaluate
  *     bit-equal (`((s % 2⁶⁴) + 2⁶⁴) % 2⁶⁴`, then subtract 2⁶⁴ when
  *     ≥ 2⁶³), so Spark and the DuckDB twin agree at ANY cardinality,
  *     not just under a commented bound.
  */
object DigestFunctions {
  private val W = new java.math.BigDecimal("18446744073709551616") // 2^64
  private val H = new java.math.BigDecimal("9223372036854775808")  // 2^63

  /** Map an exact DECIMAL(38,0) value to the signed 64-bit canonical
    * representative of its residue mod 2⁶⁴ (two's-complement wrap —
    * what a non-ANSI long sum would have produced, made explicit and
    * engine-portable). NULL in, NULL out (empty-sum parity). */
  def wrap64(s: Column): Column = {
    val w = lit(W)
    val pm = ((s % w) + w) % w // truncated % twice = floored mod, ≥ 0
    when(pm >= lit(H), pm - w).otherwise(pm).cast("long")
  }

  /** Wrapped mod-2⁶⁴ sum of a long fingerprint column (signed
    * multiplicities welcome — x116's CDC delta). Aggregate version of
    * [[wrap64]]; usable in batch and streaming aggregations alike. */
  def digestSum(f: Column): Column =
    wrap64(sum(f.cast("decimal(38,0)")))

  /** The DuckDB spelling of [[wrap64]] for oracle SQL: `s` must be a
    * HUGEINT-valued SQL expression. Kept next to the Spark formula so
    * the two can only drift loudly. */
  def wrap64Sql(s: String): String = {
    val pm = s"((($s) % 18446744073709551616::HUGEINT " +
      "+ 18446744073709551616::HUGEINT) % 18446744073709551616::HUGEINT)"
    s"(CASE WHEN $pm >= 9223372036854775808::HUGEINT " +
      s"THEN $pm - 18446744073709551616::HUGEINT ELSE $pm END)::BIGINT"
  }
}
