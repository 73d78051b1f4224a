package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{AggOps, JoinOps}
import graft.ops.ColumnOps.castStrNanNull

/** The lookups both payroll pipelines join, defined once. */
object Lookups {

  /** J1 org lookup (PUA ref 263-264, CPA ref 487-492). */
  def org(tsOrg: DataFrame): DataFrame =
    JoinOps.prepareLookup(tsOrg, Seq("TS-Org Code", "TS-Org Title"))

  /** J2 dept lookup (PUA ref 266-272, CPA ref 494-500). */
  def dept(tsDept: DataFrame): DataFrame =
    JoinOps.prepareLookup(tsDept, Seq("TS-Org Dept Code", "TS-Org Dept Title"))

  /** G1 te_map (PUA ref 282-299, CPA ref 502-509): the mode of `Time Entry
    * Method` per `TE M`, both as `astype(str)`, ties → the smallest value,
    * as columns `_te_key` → `_te_mapped`. */
  def teModeMap(teM: DataFrame): DataFrame = {
    val te = teM
      .filter(col("TE M").isNotNull && col("Time Entry Method").isNotNull)
      .select(castStrNanNull(col("TE M")).as("TE M"),
              castStrNanNull(col("Time Entry Method")).as("Time Entry Method"))
    AggOps.modeDeterministic(te, "TE M", "Time Entry Method")
      .toDF("_te_key", "_te_mapped")
  }
}
