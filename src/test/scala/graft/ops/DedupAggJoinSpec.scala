package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

class DedupAggJoinSpec extends SparkSpec {

  test("U2 keep-first dedup survives repartitioning (H4)") {
    import spark.implicits._
    val base = Seq(
      ("k1", "first", 0L), ("k1", "second", 1L), ("k2", "only", 2L),
      ("k1", "third", 3L), ("k3", "a", 4L), ("k3", "b", 5L))
      .toDF("k", "v", DedupOps.OrdinalCol)
    for (parts <- Seq(1, 2, 7)) {
      val out = DedupOps.dedupKeepFirst(base.repartition(parts), Seq("k"))
        .orderBy("k").select("v").as[String].collect()
      assert(out.toSeq == Seq("first", "only", "a"), s"parts=$parts")
    }
  }

  test("U2 ignores missing key columns like the reference") {
    import spark.implicits._
    val df = Seq(("a", 0L), ("a", 1L)).toDF("k", DedupOps.OrdinalCol)
    val out = DedupOps.dedupKeepFirst(df, Seq("k", "NotAColumn"))
    assert(out.count() == 1)
  }

  test("U1 unionByNameOrdered aligns columns and orders BW before MN") {
    import spark.implicits._
    val bw = Seq(("b1", "x")).toDF("id", "only_bw")
    val mn = Seq(("m1", "y")).toDF("id", "only_mn")
    val u = DedupOps.unionByNameOrdered(bw, mn)
      .orderBy(col(DedupOps.OrdinalCol))
    assert(u.columns.toSet == Set("id", "only_bw", "only_mn", DedupOps.OrdinalCol))
    val rows = u.select("id", "only_bw", "only_mn").collect()
    assert(rows(0).getString(0) == "b1" && rows(0).isNullAt(2))
    assert(rows(1).getString(0) == "m1" && rows(1).isNullAt(1))
  }

  test("U3 distinct keeps the minimum ordinal per duplicate group") {
    import spark.implicits._
    val df = Seq(("a", 5L), ("a", 2L), ("b", 9L))
      .toDF("v", DedupOps.OrdinalCol)
    val out = DedupOps.distinctKeepMinOrdinal(df)
      .orderBy("v")
      .select(col(DedupOps.OrdinalCol)).as[Long].collect()
    assert(out.toSeq == Seq(2L, 9L))
  }

  test("G1 mode: most frequent wins; ties take the smallest value") {
    import spark.implicits._
    val df = Seq(
      ("k1", "b"), ("k1", "b"), ("k1", "a"),        // freq: b wins
      ("k2", "z"), ("k2", "a"),                      // tie → a
      ("k3", null), ("k3", "only"),                  // nulls dropped
      (null, "x")                                    // null key dropped
    ).toDF("k", "v")
    val out = AggOps.modeDeterministic(df, "k", "v")
      .orderBy("k").as[(String, String)].collect()
    assert(out.toSeq == Seq(("k1", "b"), ("k2", "a"), ("k3", "only")))
  }

  test("J6 prepareLookup removes duplicate rows (fan-out protection)") {
    import spark.implicits._
    val left = Seq(("k1", 1)).toDF("k", "x")
    val lookup = Seq(("k1", "t"), ("k1", "t"), ("k2", "u")).toDF("k", "t")
    val prepped = JoinOps.prepareLookup(lookup, Seq("k", "t"))
    assert(JoinOps.leftJoin(left, prepped, Seq("k")).count() == 1)
  }

  test("J7 guarded join keeps pandas merge semantics on fan-out") {
    import spark.implicits._
    val left = Seq(("k1", 1)).toDF("k", "x")
    val dupLookup = Seq(("k1", "a"), ("k1", "b")).toDF("k", "t")
    val out = JoinOps.leftJoinGuarded(left, dupLookup, Seq("k"), "test")
    assert(out.count() == 2) // row count changed → the guard's warn case
  }

  test("J7 observe-based guard collects row counts without an extra job") {
    import spark.implicits._
    val left = Seq(("k1", 1), ("k2", 2)).toDF("k", "x")
    val lookup = Seq(("k1", "a")).toDF("k", "t")
    val guarded = JoinOps.leftJoinGuarded(left, lookup, Seq("k"), "g")
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      @volatile var metrics: Map[String, Long] = Map.empty
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             d: Long): Unit = {
        metrics = qe.observedMetrics.view.mapValues(_.getLong(0)).toMap
      }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      assert(guarded.count() == 2)
      var tries = 0
      while (listener.metrics.isEmpty && tries < 50) { Thread.sleep(100); tries += 1 }
      assert(listener.metrics.get("g_before").contains(2L), listener.metrics)
      assert(listener.metrics.get("g_after").contains(2L), listener.metrics)
    } finally spark.listenerManager.unregister(listener)
  }

  test("salted join returns exactly the plain join's rows (skew mitigation)") {
    import spark.implicits._
    // heavily skewed left: 900 rows of one key, a few of others
    val left = ((1 to 900).map(i => ("hot", i)) ++
                Seq(("cold1", 1), ("cold2", 2), ("nomatch", 3)))
      .toDF("k", "id")
    val right = Seq(("hot", "H"), ("cold1", "C1"), ("cold2", "C2"))
      .toDF("k", "v")
    val plain = left.join(right, Seq("k"), "left")
      .orderBy("k", "id").collect().map(_.toString).toSeq
    val salted = SkewOps.saltedLeftJoin(left, right, "k", buckets = 8,
      saltFrom = Seq(col("id")))
      .select("k", "id", "v")
      .orderBy("k", "id").collect().map(_.toString).toSeq
    assert(salted == plain)
  }

  test("P4 reshapeToSpec materializes missing sources as null and reports them") {
    import spark.implicits._
    val df = Seq(("1", "n")).toDF("c_id", "c_name")
    val (out, missing) = ReshapeOps.reshapeToSpec(df,
      Seq("id" -> "c_id", "name" -> "c_name", "ghost" -> "c_ghost"))
    assert(out.columns.toSeq == Seq("id", "name", "ghost"))
    assert(out.head.isNullAt(2))
    assert(missing == Seq("c_ghost"))
  }

  test("P3 renameIfExists: the first present alias wins, a taken target or absent source is skipped") {
    import spark.implicits._
    // both PUA spellings of the ADJ code: they differ only in case, which
    // Spark's own rename would not tell apart
    val both = Seq(("a", "b", "c")).toDF("ADj Reason Code", "Adj Reason Code", "Adj Reason")
    val renamed = ReshapeOps.renameIfExists(both, graft.pipeline.PuaPipeline.AdjAliases)
    assert(renamed.columns.toSeq ==
      Seq("ADJ Reason Code", "Adj Reason Code", "ADJ Reason DESC"))
    assert(renamed.head.toSeq == Seq("a", "b", "c"))

    // a rename onto an existing name is skipped; an absent source is ignored
    val taken = Seq(("x", "y")).toDF("Adj Reason", "ADJ Reason DESC")
    val kept = ReshapeOps.renameIfExists(taken,
      Seq("Adj Reason" -> "ADJ Reason DESC", "Ghost" -> "Spirit"))
    assert(kept.columns.toSeq == Seq("Adj Reason", "ADJ Reason DESC"))
    assert(kept.head.toSeq == Seq("x", "y"))
  }
}
