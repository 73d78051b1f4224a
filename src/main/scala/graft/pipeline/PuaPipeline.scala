package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import scala.collection.immutable.ListMap
import graft.ops._

/** PUA transformation pipeline — Spark-first re-expression of
  * /root/reference/etl_payroll_pipeline.py:235-380.
  *
  * The whole pipeline is ONE lazy logical plan: Catalyst collapses the
  * derive/rename/select layers (CollapseProject), prunes columns into the
  * scans, and broadcasts every lookup join; the only shuffle is the
  * keep-first dedup window on (UIN, Pay Event, Job Number).
  *
  * Null conventions mirror the reference site-by-site (SURVEY.md §1.4):
  *  - `ensure_string` sites (astype("string")): trim, nulls KEPT → concats
  *    null-propagate (H3).
  *  - `astype(str)` sites (strip_decimal_str, E-Class, TE M): null → the
  *    literal "nan" (H2).
  */
object PuaPipeline {

  final case class Inputs(
      pua: DataFrame,       // primary extract, all-string, with _ingest_ord
      tsOrg: DataFrame,     // TS-Org Code, TS-Org Title
      tsDept: DataFrame,    // TS-Org Dept Code, TS-Org Dept Title
      overtime: DataFrame,  // Job Eclass, Overtime FLSA, ...
      teM: DataFrame)       // TE M, Time Entry Method, ...

  /** Reshape spec (ref 330-357 `col_map`): output name ← source name. */
  val ColMap: Seq[(String, String)] = Seq(
    "UIN" -> "UIN", "Pay ID" -> "Pay ID", "Year" -> "Year",
    "Pay #" -> "Pay #", "Seq #" -> "Seq #", "Job Number" -> "Job Number",
    "College Code" -> "College Code", "College Name" -> "College Name",
    "College" -> "College", "TS COA" -> "TS COA", "TS Org" -> "TS ORG",
    "TS-Org Code" -> "TS-Org Code", "TS-Org Title" -> "TS-Org Title",
    "Dept Code" -> "DEPT Code", "TS-Org Dept Code" -> "TS-Org Dept Code",
    "TS-Org Dept Title" -> "TS-Org Dept Title", "E-Class Code" -> "ECLS",
    "E-Class" -> "ECLS DESC", "TE M" -> "TE M", "Time Entry" -> "Time Entry",
    "Overtime" -> "Overtime", "Earn Code" -> "Earn Code",
    "Earn Code Description" -> "DESCRIPTION",
    "Adjustment Reason Code" -> "ADJ Reason Code",
    "Adjustment Reason" -> "ADJ Reason DESC", "Calc Date" -> "Calc Date")

  /** Header-variant tolerance for the ADJ columns (ref 256-261). */
  val AdjAliases: Seq[(String, String)] = Seq(
    "ADj Reason Code" -> "ADJ Reason Code",
    "Adj Reason Code" -> "ADJ Reason Code",
    "Adj Reason" -> "ADJ Reason DESC")

  /** Source-field projection before dedup (ref 301-309). */
  val SourceFields: Seq[String] = Seq(
    "UIN", "Pay ID", "Year", "Pay #", "Seq #", "Job Number",
    "College Code", "College Name", "College",
    "TS COA", "TS ORG", "TS-Org Code", "TS-Org Title",
    "DEPT Code", "TS-Org Dept Code", "TS-Org Department Code",
    "TS-Org Dept Title", "ECLS", "ECLS DESC", "E-Class", "TE M",
    "Time Entry", "Overtime", "Earn Code", "DESCRIPTION",
    "ADJ Reason Code", "ADJ Reason DESC", "Calc Date", "Pay Event",
    "POSN", "SUFF")

  /** The result is lazy: the caller's single collect runs the plan once
    * and both sinks render from those rows ([[graft.io.TableIo.writeCsvAndXlsx]]).
    * The plan is built in one projection per dependency level — derived
    * fields, their concatenations, the post-join projection, the post-dedup
    * reshape — so the driver analyses a handful of plans, not one per
    * column step. A derived column that another one reads stays in its own,
    * earlier projection: CollapseProject does not merge a non-trivial
    * expression referenced twice, so inlining it would only repeat it. */
  def run(in: Inputs): DataFrame = {
    import ColumnOps._
    val ord = DedupOps.OrdinalCol
    def es(c: String): Column = ensureString(col(c)) // astype("string").strip
    // strip_decimal_str = astype(str) → null becomes "nan" (H2)
    def sds(c: String): Column = stripDecimalStr(castStrNanNull(col(c)))

    // --- derived fields (ref 238-254): the trims and casts, with TE M's
    // astype(str), then the concats that read them ----------------------
    var df = in.pua
      .withColumns(ListMap(
        "TS COA" -> es("TS COA"), "TS ORG" -> es("TS ORG"),
        "DEPT Code" -> sds("DEPT Code"),
        "Department Name" -> es("Department Name"),
        "E-Class" -> castStrNanNull(col("ECLS DESC")),
        "Year" -> es("Year"), "Pay ID" -> es("Pay ID"),
        "Pay #" -> es("Pay #"), "Seq #" -> es("Seq #"),
        "POSN" -> sds("POSN"), "SUFF" -> sds("SUFF"),
        "College Code" -> es("College Code"),
        "College Name" -> es("College Name"),
        "TE M" -> castStrNanNull(col("TE M"))))
      .withColumns(ListMap(
        "TS-Org Code" -> dashConcat(col("TS COA"), col("TS ORG")),
        "TS-Org Department Code" -> dashConcat(col("TS COA"), col("DEPT Code")),
        "Pay Event" ->
          concatAll(col("Year"), col("Pay ID"), col("Pay #"), col("Seq #")),
        "Job Number" -> dashConcat(col("POSN"), col("SUFF")),
        "College" -> dashConcat(col("College Code"), col("College Name"))))

    // --- alias-tolerant ADJ rename (ref 256-261) ------------------------
    df = ReshapeOps.renameIfExists(df, AdjAliases)
    // A column P1 does not select whose name is a case variant of one it
    // does (a workbook with both `ADj Reason Code` and `Adj Reason Code`
    // keeps the second) is renamed out of the way by position: Spark
    // resolves names case-insensitively, so P1's `col` would match both,
    // where pandas selects the exact name and drops the rest.
    val selected = SourceFields.map(_.toLowerCase).toSet
    val unselected = df.columns.toSeq.zipWithIndex.map {
      case (n, i) if !SourceFields.contains(n) && selected(n.toLowerCase) =>
        s"_unselected_$i"
      case (n, _) => n
    }
    if (unselected != df.columns.toSeq) df = df.toDF(unselected: _*)

    // --- J1 org lookup (ref 263-264) ------------------------------------
    val org = Lookups.org(in.tsOrg)
    df = JoinOps.leftJoin(df, org, Seq("TS-Org Code"))

    // --- J2 dept lookup, both keys kept (ref 266-272) -------------------
    val dept = Lookups.dept(in.tsDept)
    df = JoinOps.leftJoinExpr(df, dept,
      df("TS-Org Department Code") === dept("TS-Org Dept Code"))

    // --- J3 overtime lookup (ref 276-279) -------------------------------
    val ot = JoinOps.prepareLookup(in.overtime, Seq("Job Eclass", "Overtime FLSA"))
    df = JoinOps.leftJoinExpr(df, ot, df("ECLS") === ot("Job Eclass"))

    // --- G1 te_map (ref 282-299): mode of Time Entry Method per trimmed
    // TE M (ties → smallest) ----------------------------------------------
    val teMap = Lookups.teModeMap(in.teM)
    df = JoinOps.leftJoinExpr(df, broadcast(teMap), df("TE M") === teMap("_te_key"))

    // --- D9 dept-title fallback (ref 273-274), J3 rename with the right
    // key dropped (ref 276-279), D10 Time Entry fill (ref 293-299), P1
    // projection (ref 301-312) ---------------------------------------------
    val have = df.columns.toSet
    val timeEntry = // the extract may have no 'Time Entry' column
      if (have("Time Entry")) col("Time Entry") else lit(null).cast(StringType)
    val filled = Map(
      "TS-Org Dept Title" ->
        fillFrom(col("TS-Org Dept Title"), col("Department Name")),
      "Overtime" -> col("Overtime FLSA"),
      "Time Entry" -> keepOrFill(timeEntry, col("_te_mapped")))
    df = df.select(SourceFields.collect {
      case c if filled.contains(c) => filled(c).as(c)
      case c if have(c) => col(c)
    } :+ col(ord): _*)

    // --- U2 keep-first dedup (ref 314-317) ------------------------------
    df = DedupOps.dedupKeepFirst(df, Seq("UIN", "Pay Event", "Job Number"))

    // --- D15 retype (ref 319-322), D11 ADJ default (ref 324-328), P4
    // reshape (ref 330-368), D15 again and the P3 renames (ref 370-380) --
    // (reshapeToSpec semantics, inlined so the ingest ordinal rides along)
    val kept = df.columns.toSet
    def retype(name: String, c: Column): Column =
      if (name == "Calc Date") toTimestampCoerce(c) else ensureString(c)
    // the mask reads the retyped code BEFORE the default overwrites it;
    // the DESC update uses the same mask over that original value
    val adjMissing =
      if (kept("ADJ Reason Code"))
        Some(isMissingMarker(retype("ADJ Reason Code", col("ADJ Reason Code"))))
      else None
    val adjDefault = Map("ADJ Reason Code" -> "INT", "ADJ Reason DESC" -> "Internal")
    def source(s: String): Column = {
      val retyped = retype(s, col(s))
      (adjMissing, adjDefault.get(s)) match {
        case (Some(m), Some(d)) => when(m, lit(d)).otherwise(retyped)
        case _ => retyped
      }
    }
    val finalName = Map("TS Org" -> "TS ORG",
      "Adjustment Reason" -> "Adjustment Reason Description")
    df.select(ColMap.map { case (o, s) =>
      retype(o, if (kept(s)) source(s) else lit(null).cast(StringType))
        .as(finalName.getOrElse(o, o))
    } :+ col(ord): _*)
  }
}
