package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

class BucketOpsSpec extends SparkSpec {

  test("bucketed tables join without a shuffle exchange") {
    import spark.implicits._
    def exchangeFree(df: org.apache.spark.sql.DataFrame): Boolean =
      !df.queryExecution.executedPlan.toString.contains("Exchange")
    // disable auto-broadcast so the join would otherwise need an exchange
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    try {
      val facts = (1 to 5000).map(i => (i.toLong % 97, s"f$i")).toDF("k", "fv")
      val dims = (0L until 97L).map(k => (k, s"d$k")).toDF("k", "dv")
      BucketOps.writeBucketed(facts, "graft_facts_b", "k", 8, sortBy = Some("k"))
      BucketOps.writeBucketed(dims, "graft_dims_b", "k", 8, sortBy = Some("k"))

      val joined = BucketOps.read(spark, "graft_facts_b")
        .join(BucketOps.read(spark, "graft_dims_b"), Seq("k"))
      assert(joined.count() == 5000)
      assert(exchangeFree(joined),
        joined.queryExecution.executedPlan.toString.take(2000))

      // the same join over plain (unbucketed) data DOES shuffle
      val plain = facts.join(dims, Seq("k"))
      assert(!exchangeFree(plain))
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS graft_facts_b")
      spark.sql("DROP TABLE IF EXISTS graft_dims_b")
    }
  }
}
