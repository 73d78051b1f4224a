package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

class HistoryOpsSpec extends SparkSpec {

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("validityIntervals reconstruct point-in-time state") {
    import spark.implicits._
    val log = Seq(
      (1L, "k1", "bronze", ts("2024-01-01 00:00:00")),
      (2L, "k1", "silver", ts("2024-02-01 00:00:00")),
      (3L, "k1", "gold",   ts("2024-03-01 00:00:00")),
      (4L, "k2", "bronze", ts("2024-01-15 00:00:00")))
      .toDF("id", "key", "tier", "changed_at")
    val iv = HistoryOps.validityIntervals(log, Seq("key"), "changed_at",
      Seq(col("id")))
    // latest row per key is open-ended
    val open = iv.filter(col("valid_to").isNull)
      .select("id").as[Long].collect().toSet
    assert(open == Set(3L, 4L))
    // mid-February falls in k1's silver interval and k2's open bronze one
    val silver = iv.filter(col("id") === 2L)
      .select("valid_from", "valid_to").head()
    assert(silver.getTimestamp(0) == ts("2024-02-01 00:00:00") &&
      silver.getTimestamp(1) == ts("2024-03-01 00:00:00"))
    val bronze = iv.filter(col("id") === 4L).select("valid_from").head()
    assert(bronze.getTimestamp(0) == ts("2024-01-15 00:00:00"))
    // intervals tile: each row's valid_to equals the next row's valid_from
    val k1 = iv.filter(col("key") === "k1").orderBy("valid_from")
      .select("valid_from", "valid_to").collect()
    assert((0 until k1.length - 1).forall(i =>
      k1(i).getTimestamp(1) == k1(i + 1).getTimestamp(0)))
  }
}
