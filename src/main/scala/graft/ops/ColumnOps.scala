package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Scalar / derived-column operators (SURVEY.md §2.1 D1–D15).
  *
  * Every helper returns a [[Column]] built exclusively from
  * `org.apache.spark.sql.functions` so the whole expression tree stays inside
  * Catalyst + whole-stage codegen — no UDFs anywhere on the hot path.
  *
  * Reference semantics (all cites into /root/reference/etl_payroll_pipeline.py):
  *  - D3  strip_decimal_str            (210-212)
  *  - D4  null-propagating `-` concat  (239,242,251,254,473,482)
  *  - D7  split-on-first-dash          (550-560)
  *  - D11 missing-marker normalization (324-328)
  */
object ColumnOps {

  /** D1+D2 — `ensure_string` (ref 220-223): trimmed string cast, nulls kept. */
  def ensureString(c: Column): Column = trim(c.cast(StringType))

  /** H2 — pandas `astype(str)` renders null as the literal "nan"
    * (ref 473,476-478,482). Apply only at the sites the reference does. */
  def castStrNanNull(c: Column): Column =
    coalesce(trim(c.cast(StringType)), lit("nan"))

  /** D3 — `strip_decimal_str` (ref 210-212): trim, then strip a trailing
    * float artifact `.0` that pandas produces for numeric Excel cells. */
  def stripDecimalStr(c: Column): Column =
    regexp_replace(trim(c.cast(StringType)), "\\.0$", "")

  /** D4 — dash concat, null-propagating (H3: pandas "string"-dtype `+`;
    * ref 239,242,251,254). NOT concat_ws (which would skip nulls). */
  def dashConcat(a: Column, b: Column): Column = concat(a, lit("-"), b)

  /** D5 — plain n-way concat, null-propagating (ref 246-247). */
  def concatAll(cs: Column*): Column = concat(cs: _*)

  /** D6 — prefix substring (ref 474: `TS-Org Code[:5]`). */
  def prefix(c: Column, n: Int): Column = substring(c, 1, n)

  /** D7 — split on FIRST delimiter into (code, name); when the delimiter is
    * absent the name side is empty string (ref 550-560 guard). */
  def splitFirst(c: Column, delim: String): (Column, Column) = {
    val parts = split(c, java.util.regex.Pattern.quote(delim), 2)
    val code = trim(element_at(parts, 1))
    val name = when(size(parts) < 2, lit("")).otherwise(trim(element_at(parts, 2)))
    (code, name)
  }

  /** D8 — parse timestamp, null on failure (pandas errors='coerce';
    * ref 322,374,438). try_to_timestamp: null-on-failure even under ANSI
    * mode (Spark 4 default, where plain to_timestamp throws). */
  def toTimestampCoerce(c: Column): Column = try_to_timestamp(c.cast(StringType))

  /** D9 — null-fill from a sibling column (ref 273-274). */
  def fillFrom(c: Column, fallback: Column): Column = coalesce(c, fallback)

  /** D10 — keep existing value iff non-null and non-empty, else mapped
    * (ref 293-299, 524-533). */
  def keepOrFill(existing: Column, mapped: Column): Column =
    when(existing.isNotNull && existing =!= "", existing).otherwise(mapped)

  /** D11 — missing-marker normalization: null/''/'nan'/'NaN' → default
    * (ref 324-328). */
  def isMissingMarker(c: Column): Column =
    c.isNull || trim(c).isin("", "nan", "NaN")

  def defaultIfMissing(c: Column, default: String): Column =
    when(isMissingMarker(c), lit(default)).otherwise(c)
}
