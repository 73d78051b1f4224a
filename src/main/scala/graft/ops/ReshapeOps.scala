package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Projection / schema operators (SURVEY.md P1–P7). */
object ReshapeOps {

  /** P3 — alias-tolerant rename: several source spellings map to one target;
    * applied only when the source exists and the target doesn't already
    * (/root/reference/etl_payroll_pipeline.py:256-261, 376-380, 563-584).
    * Aliases apply in order, so the first present spelling wins. Names
    * compare exactly, as pandas compares them; the renames are applied by
    * position, because Spark's own rename resolves names case-insensitively
    * and would rename `ADj …` and `Adj …` alike. */
  def renameIfExists(df: DataFrame, aliases: Seq[(String, String)]): DataFrame = {
    val names = aliasedNames(df.columns.toSeq, aliases)
    if (names == df.columns.toSeq) df else df.toDF(names: _*)
  }

  /** The column names [[renameIfExists]] gives `columns`, position for
    * position. */
  def aliasedNames(columns: Seq[String], aliases: Seq[(String, String)]): Seq[String] =
    aliases.foldLeft(columns) { case (names, (src, dst)) =>
      if (names.contains(src) && (src == dst || !names.contains(dst)))
        names.map(n => if (n == src) dst else n)
      else names
    }

  /** P4 — reshape-to-spec (ref 330-368 `col_map`): ordered output schema
    * where each output column pulls a named source column, or materializes
    * as all-null string when the source is missing. Returns the missing
    * source names for the reference's warning report (ref 360-366). */
  def reshapeToSpec(df: DataFrame, spec: Seq[(String, String)])
      : (DataFrame, Seq[String]) = {
    val have = df.columns.toSet
    val missing = spec.collect { case (_, src) if !have.contains(src) => src }
    val cols = spec.map { case (out, src) =>
      (if (have.contains(src)) col(src) else lit(null).cast(StringType)).as(out)
    }
    (df.select(cols: _*), missing)
  }

  /** P6 — header whitespace normalization (ref 205-207, applied inline for
    * CPA certs at 433-434). */
  def trimHeaders(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(_.trim).toIndexedSeq: _*)

  /** P7 — schema validation against an expected column list: warn, don't
    * abort (ref 457-471). Returns (ok, unexpected, missing). */
  def validateSchema(df: DataFrame, expected: Seq[String])
      : (Boolean, Seq[String], Seq[String]) = {
    val actual = df.columns.map(_.trim).toSeq
    val unexpected = actual.diff(expected)
    val missing = expected.diff(actual)
    val ok = unexpected.isEmpty && missing.isEmpty
    if (!ok) System.err.println(
      s"[graft] WARN schema mismatch: unexpected=$unexpected missing=$missing")
    (ok, unexpected, missing)
  }
}
