package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Change-history (SCD2-style) operators. */
object HistoryOps {

  /** Derive validity intervals from a change log: each row of `df` becomes
    * valid from its own `tsCol` until the NEXT row for the same `keys`
    * (`valid_to` null on the latest row — the open current version).
    * `order` breaks ties among rows sharing a timestamp, which keeps the
    * intervals deterministic. One shuffle on the keys; the `lead` window
    * never crosses keys, so this scales as an ordinary keyed window. */
  def validityIntervals(df: DataFrame, keys: Seq[String], tsCol: String,
                        order: Seq[Column] = Nil): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol) +: order: _*)
    df.withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
  }
}
