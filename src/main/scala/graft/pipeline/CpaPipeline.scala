package graft.pipeline

import java.time.Clock
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import scala.collection.immutable.ListMap
import graft.ops._

/** CPA transformation pipeline — Spark-first re-expression of
  * /root/reference/etl_payroll_pipeline.py:433-591.
  *
  * Differences from PUA worth noting (all reference-exact):
  *  - the blanket strip (ref 476-478) converts EVERY string column's nulls
  *    to the literal "nan" (H2) — downstream concats/splits see "nan";
  *  - fiscal-year filter bounds come from an injected clock (D13), with
  *    fy_end at MIDNIGHT Jun 30;
  *  - the overtime join is composite-key and the right-side `Pay ID`
  *    collides with the renamed left `PAY_ID` — the engine drops the right
  *    key post-join, which is what pandas' keep-first duplicate-column
  *    elimination (ref 591) resolves to;
  *  - College split: rows without a '-' get a NULL College Name (pandas
  *    expand=True leaves None in the second column).
  */
object CpaPipeline {

  final case class Inputs(
      certBw: DataFrame,    // BW certification CSV (34 cols), _ingest_ord
      certMn: DataFrame,    // MN certification CSV
      tsOrg: DataFrame,
      tsDept: DataFrame,
      overtime: DataFrame,  // Job Eclass, Pay ID, Overtime FLSA, Job Detail E-Class Long Desc
      teM: DataFrame)       // UIN Job, TE M, Time Entry Method, Time Entry Type

  val ExpectedColumns: Seq[String] = Seq(
    "UIN", "PAY_YEAR", "PAY_ID", "PAY_NBR", "PAY_SEQ", "TRAN_ID",
    "TRAN_COMPNT", "ADJ_REASON", "TRAN_CREATE_DT", "TRAN_CLOSED_DT", "JOB",
    "JOB_TITLE", "JOB_TS_COAS", "JOB_TS_ORGN", "JOB_ECLS", "COLLEGE",
    "OWNING_UIN", "LAST_NAME", "FIRST_NAME", "UI_ENTERPRISE_ID", "EMAIL_ADDR",
    "HRLY_RATE", "RT_LEAVE_DT", "RT_ENTER_DT", "RT_CREATE_DT", "LVL", "ROLE",
    "ACTION", "ROUTED_BY_UIN", "RETURNED_FLAG", "TRAN_ROUTE_DT",
    "ELAPSED_WORK_TIME", "ROUTE_STOP_TIME", "ELAPSED_TRAN_TIME")

  /** Final rename (ref 563-584) and 20-column select (ref 586-589). */
  val FinalColumns: Seq[String] = Seq(
    "UIN", "Pay ID", "Year", "Pay #", "Seq #", "Job Number", "College Code",
    "College Name", "College", "TS COA", "TS Org", "TS-Org Code",
    "TS-Org Title", "TS-Org Dept Code", "TS-Org Dept Title", "E-Class Code",
    "E-Class", "TE M", "Time Entry", "Overtime")

  /** The result is lazy, like [[PuaPipeline.run]]'s: one collect runs it
    * for both sinks. Each stage is one projection — derives with the D14
    * strip and re-casts, the post-dedup split/rename/select — so the driver
    * analyses a handful of plans, not one per column step. */
  def run(in: Inputs, clock: Clock): DataFrame = {
    import ColumnOps._
    val ord = DedupOps.OrdinalCol

    // --- P6 header strip + U1 union BW→MN (ref 433-436) -----------------
    val bw = ReshapeOps.trimHeaders(in.certBw)
    val mn = ReshapeOps.trimHeaders(in.certMn)
    var df = DedupOps.unionByNameOrdered(
      bw.drop(ord), mn.drop(ord)) // re-ordinal with BW block first

    // --- D8 parse + F6 fiscal-year filter (ref 438-452) -----------------
    df = df.withColumn("TRAN_CREATE_DT", toTimestampCoerce(col("TRAN_CREATE_DT")))
    val fy = DateOps.fiscalYearBounds(clock)
    df = df.filter(
      col("TRAN_CREATE_DT") >= lit(java.sql.Timestamp.valueOf(fy.start)) &&
      col("TRAN_CREATE_DT") <= lit(java.sql.Timestamp.valueOf(fy.end)))

    // --- P7 schema validation, warn only (ref 457-471) ------------------
    ReshapeOps.validateSchema(df.drop(ord), ExpectedColumns)

    // --- derives (ref 473-482), the D14 blanket strip of every string
    // column, null → "nan" (ref 476-478), and the re-casts that read the
    // stripped values, in one projection. Column order is withColumn's: a
    // derived column replaces a present one in place or is appended. ----
    val tsOrgCode = dashConcat(castStrNanNull(col("JOB_TS_COAS")),
                               castStrNanNull(col("JOB_TS_ORGN")))
    val derived = Map("TS-Org Code" -> tsOrgCode, "Dept TS-Org" -> prefix(tsOrgCode, 5))
    val strings = df.schema.fields.collect {
      case f if f.dataType == StringType => f.name // not the ordinal or the date
    }.toSet ++ derived.keys
    def strip(n: String): Column = {
      val v = derived.getOrElse(n, col(n))
      if (strings(n)) castStrNanNull(v) else v
    }
    val recast = Map(
      "JOB_ECLS" -> castStrNanNull(strip("JOB_ECLS")),
      "PAY_ID" -> castStrNanNull(strip("PAY_ID")),
      "UIN Job" -> dashConcat(castStrNanNull(strip("UIN")),
                              castStrNanNull(strip("JOB"))))
    val names = appended(df.columns.toSeq,
      Seq("TS-Org Code", "Dept TS-Org", "JOB_ECLS", "PAY_ID", "UIN Job"))
    df = df.select(names.map(n => recast.getOrElse(n, strip(n)).as(n)): _*)

    // lookup normalization (ref 484-485), applied purely where consumed
    val overtimeNorm = in.overtime.withColumns(ListMap(
      "Job Eclass" -> castStrNanNull(col("Job Eclass")),
      "Pay ID" -> castStrNanNull(col("Pay ID"))))

    // --- J1 org join → TS-Org Name (ref 487-492) ------------------------
    val org = Lookups.org(in.tsOrg)
    df = JoinOps.leftJoin(df, org, Seq("TS-Org Code"))
      .withColumnRenamed("TS-Org Title", "TS-Org Name")

    // --- J2 dept join on Dept TS-Org (ref 494-500) ----------------------
    val dept = Lookups.dept(in.tsDept)
    df = JoinOps.leftJoinExpr(df, dept,
        df("Dept TS-Org") === dept("TS-Org Dept Code"))
      .withColumnRenamed("TS-Org Dept Title", "TS-Org Department Name")

    // --- J5 TE_M join on UIN Job (ref 511-515) --------------------------
    val teLookup = JoinOps.prepareLookup(in.teM,
      Seq("UIN Job", "TE M", "Time Entry Method", "Time Entry Type"))
    df = JoinOps.leftJoin(df, teLookup, Seq("UIN Job"))

    // --- G1 + D10 Time Entry (ref 502-509, 517-533) ---------------------
    val teMap = Lookups.teModeMap(in.teM)
    df = df.withColumn("TE M", castStrNanNull(col("TE M")))
    val existing = // 'Time Entry' column does not exist pre-join (ref 524-527)
      if (df.columns.contains("Time Entry")) ensureString(col("Time Entry"))
      else lit(null).cast(StringType)
    df = JoinOps.leftJoinExpr(df, broadcast(teMap), df("TE M") === teMap("_te_key"))
      .withColumn("Time Entry", keepOrFill(existing, col("_te_mapped")))
      .drop("_te_key", "_te_mapped")

    // --- J4 composite overtime join (ref 535-543) -----------------------
    val ot = JoinOps.prepareLookup(overtimeNorm,
      Seq("Job Eclass", "Pay ID", "Overtime FLSA", "Job Detail E-Class Long Desc"))
    df = JoinOps.leftJoinExpr(df, ot,
        df("JOB_ECLS") === ot("Job Eclass") && df("PAY_ID") === ot("Pay ID"))
      .drop(ot("Pay ID")) // P5: the right key would collide after PAY_ID→Pay ID
      .drop("Job Eclass")
      .withColumnRenamed("Job Detail E-Class Long Desc", "E-Class Description")

    // --- F7 + U3 + U4 (ref 545-547) -------------------------------------
    df = df.filter(col("ACTION") === "3 - Apply")
    df = DedupOps.distinctKeepMinOrdinal(df)
    df = DedupOps.dedupKeepFirst(df, Seq("UIN Job"))

    // --- D7 College split (ref 550-560), P3 rename (ref 563-584), P1
    // select (ref 586-589) ------------------------------------------------
    val parts = split(col("COLLEGE"), "-", 2)
    val split2 = Map(
      "College Code" -> trim(element_at(parts, 1)),
      "College Name" -> when(size(parts) < 2, lit(null).cast(StringType))
        .otherwise(trim(element_at(parts, 2))))
    val sources = appended(df.columns.toSeq, split2.keys.toSeq)
    val renamed = ReshapeOps.aliasedNames(sources, Seq(
      "PAY_ID" -> "Pay ID", "PAY_YEAR" -> "Year", "PAY_NBR" -> "Pay #",
      "PAY_SEQ" -> "Seq #", "JOB" -> "Job Number", "COLLEGE" -> "College",
      "JOB_TS_COAS" -> "TS COA", "JOB_TS_ORGN" -> "TS Org",
      "TS-Org Name" -> "TS-Org Title",
      "TS-Org Department Name" -> "TS-Org Dept Title",
      "JOB_ECLS" -> "E-Class Code", "E-Class Description" -> "E-Class",
      "Overtime FLSA" -> "Overtime"))
    val sourceOf = renamed.zip(sources).toMap
    df.select((FinalColumns.map { n =>
      val src = sourceOf.getOrElse(n, n)
      split2.getOrElse(src, col(src)).as(n)
    } :+ col(ord)): _*)
  }

  /** `names` followed by each of `added` not already among them: the
    * column order a chain of `withColumn` calls produces. */
  private def appended(names: Seq[String], added: Seq[String]): Seq[String] =
    names ++ added.filterNot(names.contains)
}
