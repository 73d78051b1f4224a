package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Aggregation operators (SURVEY.md G1–G3). */
object AggOps {

  /** G1 — group-mode with DETERMINISTIC tie-break: per key, the most
    * frequent value; ties broken by smallest value (pandas `mode().iat[0]`
    * returns sorted values — /root/reference/etl_payroll_pipeline.py:215-217,
    * 517-521).
    *
    * Spark's built-in `mode()` is non-deterministic on ties, so this is the
    * composition: count per (key, value), then row_number ordered by
    * (count desc, value asc). Two shuffles on `key` but the first is a
    * partial-aggregating groupBy (map-side combine), so the data volume
    * hitting the exchange is #distinct(key, value), not #rows —
    * scale-safe. Null values are dropped first (ref 284: dropna). */
  def modeDeterministic(df: DataFrame, key: String, value: String): DataFrame = {
    val counted = df
      .filter(col(key).isNotNull && col(value).isNotNull)
      .groupBy(col(key), col(value))
      .agg(count(lit(1)).as("_cnt"))
    val w = Window.partitionBy(col(key)).orderBy(col("_cnt").desc, col(value).asc)
    counted
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col(key), col(value))
  }
}
