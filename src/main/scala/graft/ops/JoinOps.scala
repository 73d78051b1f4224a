package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Join operators (SURVEY.md J1–J8). All reference joins are LEFT OUTER
  * equi-joins against small lookup tables
  * (/root/reference/etl_payroll_pipeline.py:263-279,487-543) — in Spark these
  * become broadcast hash joins (no shuffle of the big side), which is exactly
  * the reference's dict-map optimization (J8) done by the engine for free.
  */
object JoinOps {

  /** J6 — prepare a lookup side: project to the needed columns then full-row
    * distinct (ref `drop_duplicates()` at 263,266,276,488,495,512,536).
    * Fan-out protection: a duplicated lookup key would multiply left rows.
    * The result is explicitly broadcast — lookups are small by contract. */
  def prepareLookup(lookup: DataFrame, cols: Seq[String]): DataFrame =
    broadcast(lookup.select(cols.map(col): _*).dropDuplicates())

  /** J1 — left equi-join on same-named key(s) (ref 263-264, 487-492). */
  def leftJoin(df: DataFrame, lookup: DataFrame, keys: Seq[String]): DataFrame =
    df.join(broadcast(lookup), keys, "left")

  /** J2/J4 — left equi-join on differing key names; BOTH key columns survive,
    * matching pandas left_on/right_on (ref 266-272, 494-500, 535-543). */
  def leftJoinExpr(df: DataFrame, lookup: DataFrame, cond: Column): DataFrame =
    df.join(broadcast(lookup), cond, "left")

  /** J7 — row-count-stability guard (`safe_merge_left`, ref 226-232): a left
    * join whose output row count is checked against the input. Implemented
    * with `observe` so the check costs no extra Spark job — the metric is
    * collected as a side effect of whatever action runs the plan. The
    * caller reads the observation after an action. */
  def leftJoinGuarded(df: DataFrame, lookup: DataFrame, keys: Seq[String],
                      guardName: String): DataFrame =
    df.observe(s"${guardName}_before", count(lit(1)))
      .join(broadcast(lookup), keys, "left")
      .observe(s"${guardName}_after", count(lit(1)))
}
