package graft.operators

import graft.SparkSpec
import graft.ops.CacheScope
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Beam search over a frozen NN-Descent graph: served answers vs
  * brute-force exact top-k on planted geometry, the constant budget
  * bound, seed semantics, partition invariance, and the pinned negative
  * (a mis-seeded query cannot escape its seed cluster along directed
  * within-cluster edges — why the coarse quantizer matters). */
class GraphSearchSpec extends SparkSpec {
  import spark.implicits._
  implicit val scope: CacheScope = CacheScope.session

  /** NnDescentSpec's fixture: two tight direction clusters in 4-d —
    * within-cluster cosines ~1, cross-cluster ~0. */
  private def fixture(cellOf: Long => Long): DataFrame = {
    val pts =
      (0L to 5L).map(i => (i, Seq(100.0, i.toDouble, 2.0 * i, 1.0))) ++
      (10L to 15L).map(i => (i, Seq((i - 10).toDouble, 100.0, 1.0, i - 9.0)))
    pts.map { case (id, v) =>
      val nrm = math.sqrt(v.map(x => x * x).sum)
      (id, cellOf(id), v, nrm)
    }.toDF("vec_id", "cell", "v", "nrm")
  }

  private def cosRef(a: Seq[Double], b: Seq[Double]): Double = {
    val d = a.zip(b).map { case (x, y) => x * y }.sum
    d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
  }

  private def exactTopK(sn: DataFrame, qid: Long, k: Int): Seq[Long] = {
    val pts = sn.select("vec_id", "v").as[(Long, Seq[Double])].collect()
    val qv = pts.find(_._1 == qid).get._2
    pts.filter(_._1 != qid)
      .map { case (w, vw) => (w, cosRef(qv, vw)) }
      .sortBy { case (w, c) => (-c, w) }.take(k).map(_._1).toSeq
  }

  private def buildAll(sn: DataFrame, kg: Int = 3) = {
    val g = scope.persist(
      NnDescent.build(sn, kg, rounds = 2, mixBuckets = 3)
        .select(col("u"), col("w")))
    g.count()
    g
  }

  private def queryFrame(sn: DataFrame, ids: Seq[Long]) =
    sn.filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id").as("qid"), col("v").as("qv"),
              col("nrm").as("qn"))

  private def assignedFrame(sn: DataFrame, ids: Seq[Long]) =
    sn.filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id").as("qid"), col("cell"))

  test("served top-k equals exact top-k when seeded from the right cell") {
    val sn = fixture(id => if (id < 6) 0L else 1L)
    val g = buildAll(sn)
    val qids = Seq(0L, 3L, 12L)
    val seeds = GraphSearch.cellSeeds(assignedFrame(sn, qids), sn, beam = 2)
    val out = GraphSearch.search(g, sn, queryFrame(sn, qids), seeds,
                                 beam = 2, hops = 3)
      .filter(col("rn") <= 3)
      .select(col("qid"), col("rn"), col("nid"))
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).map { case (q, rs) =>
        q -> rs.sortBy(_._2).map(_._3).toSeq }
    qids.foreach { q =>
      assert(out(q) == exactTopK(sn, q, 3), s"query $q served wrong")
    }
  }

  test("scored_n respects the constant budget bound and excludes self") {
    val sn = fixture(id => if (id < 6) 0L else 1L)
    val g = buildAll(sn)
    val qids = Seq(0L, 13L)
    val seeds = GraphSearch.cellSeeds(assignedFrame(sn, qids), sn, beam = 2)
    val vf = GraphSearch.search(g, sn, queryFrame(sn, qids), seeds,
                                beam = 2, hops = 3)
    val rows = vf.select(col("qid"), col("nid"), col("scored_n"))
      .as[(Long, Long, Long)].collect()
    val bound = 2 * (1 + 3 * 3) // beam·(1 + hops·kg)
    rows.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.forall(_._2 != q), s"query $q scored itself")
      assert(rs.head._3 == rs.length.toLong, s"scored_n wrong for $q")
      assert(rs.length <= bound, s"budget blown for $q: ${rs.length}")
    }
  }

  test("hops = 0 returns exactly the scored seed set") {
    val sn = fixture(id => if (id < 6) 0L else 1L)
    val g = buildAll(sn)
    val seeds = Seq((0L, 2L), (0L, 4L)).toDF("qid", "nid")
    val vf = GraphSearch.search(g, sn, queryFrame(sn, Seq(0L)), seeds,
                                beam = 2, hops = 0)
    val got = vf.select(col("nid")).as[Long].collect().toSet
    assert(got == Set(2L, 4L))
  }

  test("served answer is partition-invariant") {
    val sn = fixture(id => if (id < 6) 0L else 1L)
    val g = buildAll(sn)
    val qids = Seq(0L, 12L)
    def run(snIn: DataFrame) = {
      val seeds = GraphSearch.cellSeeds(assignedFrame(snIn, qids), snIn, 2)
      GraphSearch.search(g, snIn, queryFrame(snIn, qids), seeds, 2, 2)
        .select(col("qid"), col("nid"), col("rn"))
        .as[(Long, Long, Int)].collect().toSet
    }
    assert(run(sn) == run(sn.repartition(7)))
  }

  test("a mis-seeded query cannot escape the wrong cluster along directed within-cluster edges (why the coarse quantizer matters)") {
    val sn = fixture(id => if (id < 6) 0L else 1L)
    // the DESCENDED graph equals the exact kNN graph on this geometry
    // (NnDescentSpec), and exact top-3 edges stay within their tight
    // cluster — so expansion from a wrong-cluster seed can only ever
    // visit that cluster
    val g = buildAll(sn)
    val q = queryFrame(sn, Seq(0L)) // query 0 lives in cluster A (ids < 6)
    val wrongSeeds = Seq((0L, 10L), (0L, 11L)).toDF("qid", "nid")
    val vf = GraphSearch.search(g, sn, q, wrongSeeds, beam = 2, hops = 3)
    val visited = vf.select(col("nid")).as[Long].collect().toSet
    assert(visited.forall(_ >= 10L),
      s"escaped the seed cluster: $visited — fixture no longer separated?")
  }

  test("longRangeEdges restore cross-cluster reachability: a far-mis-seeded query recovers once anchors are linked (the connectivity claim; x171 measures the nearest-sibling limit)") {
    val sn = fixture(id => if (id < 6) 0L else 1L)
    val g = buildAll(sn)
    val cent = sn.groupBy(col("cell"))
      .agg(array((0 until 4).map(i => avg(col("v")(i))): _*).as("c"))
    val lr = GraphSearch.longRangeEdges(sn, cent, ell = 1)
    // with two cells, every node's one long-range edge targets the
    // OTHER cluster's smallest-id anchor
    assert(lr.as[(Long, Long)].collect().toSet ==
      ((0L to 5L).map(_ -> 10L) ++ (10L to 15L).map(_ -> 0L)).toSet)
    val ga = scope.persist(g.union(lr).distinct())
    ga.count()
    val q = queryFrame(sn, Seq(1L))
    val wrongSeeds = Seq((1L, 10L), (1L, 11L)).toDF("qid", "nid")
    // plain directed graph: provably trapped (the pinned negative above)
    val plain = GraphSearch.search(g, sn, q, wrongSeeds, beam = 2, hops = 3)
      .select(col("nid")).as[Long].collect().toSet
    assert(plain.forall(_ >= 10L))
    // augmented: hop 1 reaches cluster A's anchor through the
    // long-range edge, hops 2–3 climb — the served top-3 is exact
    val served = GraphSearch
      .search(ga, sn, q, wrongSeeds, beam = 2, hops = 3)
      .filter(col("rn") <= 3).orderBy(col("rn"))
      .select(col("nid")).as[Long].collect().toSeq
    assert(served == exactTopK(sn, 1L, 3), s"served $served")
  }

  test("cellSeeds: smallest cell-mates, self excluded, at most beam") {
    val sn = fixture(id => if (id < 6) 0L else 1L)
    val seeds = GraphSearch
      .cellSeeds(assignedFrame(sn, Seq(1L, 12L)), sn, beam = 3)
      .as[(Long, Long)].collect().toSet
    assert(seeds == Set((1L, 0L), (1L, 2L), (1L, 3L),
                        (12L, 10L), (12L, 11L), (12L, 13L)))
  }

  test("serveShards closure contract: gmap = depth <= hops-1 reachable from members, vmap = depth <= hops, seeds = beam+1 smallest") {
    // a 6-node directed CHAIN 0→1→2→3→4→5 with node 0 alone in cell 0:
    // depths from cell 0's member set are exactly the chain positions,
    // so the closure cut is observable per node
    val chain = (0L to 5L).map(i =>
      (i, if (i == 0) 0L else 1L, Seq(1.0, i.toDouble), math.sqrt(1 + i * i)))
      .toDF("vec_id", "cell", "v", "nrm")
    val g = (0L to 4L).map(i => (i, i + 1)).toDF("u", "w")
    val shard0 = GraphSearch.serveShards(g, chain, beam = 2, hops = 3)
      .filter(col("cell") === 0L).collect().head
    assert(shard0.getSeq[Long](1) == Seq(0L)) // seeds: the only member
    // gmap: nodes at depth <= 2 from {0} = {0, 1, 2}
    assert(shard0.getMap[Long, Seq[Long]](2).keySet == Set(0L, 1L, 2L))
    // vmap: nodes at depth <= 3 = {0, 1, 2, 3}
    assert(shard0.getMap[Long, org.apache.spark.sql.Row](3).keySet ==
      Set(0L, 1L, 2L, 3L))
    // hops=1: gmap = members only, vmap = members + their out-neighbors
    val s1 = GraphSearch.serveShards(g, chain, beam = 2, hops = 1)
      .filter(col("cell") === 0L).collect().head
    assert(s1.getMap[Long, Seq[Long]](2).keySet == Set(0L))
    assert(s1.getMap[Long, org.apache.spark.sql.Row](3).keySet ==
      Set(0L, 1L))
    intercept[IllegalArgumentException](
      GraphSearch.serveShards(g, chain, beam = 2, hops = 0))
  }

  test("fails loud on bad arguments") {
    val sn = fixture(_ => 0L)
    val g = buildAll(sn)
    val q = queryFrame(sn, Seq(0L))
    val seeds = Seq((0L, 1L)).toDF("qid", "nid")
    intercept[IllegalArgumentException](
      GraphSearch.search(g, sn, q, seeds, beam = 0, hops = 1))
    intercept[IllegalArgumentException](
      GraphSearch.search(g, sn, q, seeds, beam = 2, hops = 9))
  }

  test("serve: the served answer over a query split equals batch GraphSearch.search") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    implicit val scope: graft.ops.CacheScope = graft.ops.CacheScope.session
    val beam = 2; val hops = 2; val kg = 2; val k = 4
    // three tight clusters around orthogonal axes with graded offsets —
    // enough structure that hops genuinely move the frontier
    val pts = (0 until 18).map { i =>
      val axis = i % 3
      val off = 0.03 * (i / 3)
      (i.toLong, axis.toLong,
       Seq.tabulate(6)(j =>
         if (j == axis) 1.0 else if (j == 3 + axis) off else 0.0))
    }
    val sn = pts.toDF("vec_id", "cell", "v")
      .withColumn("nrm", graft.functions.VectorFunctions.norm(col("v")))
      .persist()
    val g = graft.operators.NnDescent.build(sn, kg, rounds = 1,
        mixBuckets = 4)
      .select(col("u"), col("w")).persist()
    g.count()
    val qrows = pts.filter(_._1 < 6) // two queries per cell
    val q = sn.filter(col("vec_id") < 6)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
              col("nrm").as("qn"))
    val assigned = sn.filter(col("vec_id") < 6)
      .select(col("vec_id").as("qid"), col("cell"))
    val seeds = graft.operators.GraphSearch.cellSeeds(assigned, sn, beam)
    val batch = graft.operators.GraphSearch.search(g, sn, q, seeds,
        beam, hops)
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn").cast("long").as("rank"), col("nid"),
              col("cos"), col("scored_n"))
      .collect().map(_.toSeq).toSet

    val artifacts = graft.operators.GraphSearch.serveShards(g, sn, beam,
        hops).persist()
    // the serving path is genuinely SHARDED: one row per cell, and the
    // query split below spans several shards (never a single-shard
    // degenerate pass)
    assert(artifacts.count() == 3)
    assert(qrows.map(_._2).distinct.size >= 2)
    val mem = MemoryStream[(Long, Seq[Double], Long)]
    val stream = mem.toDF().toDF("qid", "qv", "cell")
      .withColumn("qn", graft.functions.VectorFunctions.norm(col("qv")))
    val sq = GraphSearch.serve(stream, artifacts,
        beam, hops, k)
      .writeStream.format("memory").queryName("gserve")
      .outputMode("append").start()
    // split the queries across two micro-batches — per-row statelessness
    // means the split cannot change any answer
    mem.addData(qrows.take(3).map(p => (p._1, p._3, p._2)): _*)
    sq.processAllAvailable()
    mem.addData(qrows.drop(3).map(p => (p._1, p._3, p._2)): _*)
    sq.processAllAvailable()
    val streamed = spark.table("gserve")
      .select(col("qid"), col("rank").cast("long"), col("nid"),
              col("cos"), col("scored_n"))
      .collect().map(_.toSeq).toSet
    sq.stop()
    assert(streamed == batch,
      s"streamed ${streamed.size} rows != batch ${batch.size}:\n" +
        s"only-stream: ${(streamed -- batch).take(5)}\n" +
        s"only-batch: ${(batch -- streamed).take(5)}")
    sn.unpersist(); g.unpersist()
    spark.catalog.clearCache()
  }

  test("serveTop2: two-shard serve over a query split equals batch top-2 search (cells in different shard rows)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    implicit val scope: graft.ops.CacheScope = graft.ops.CacheScope.session
    val beam = 2; val hops = 2; val kg = 2; val k = 4
    val pts = (0 until 18).map { i =>
      val axis = i % 3
      val off = 0.03 * (i / 3)
      (i.toLong, axis.toLong,
       Seq.tabulate(6)(j =>
         if (j == axis) 1.0 else if (j == 3 + axis) off else 0.0))
    }
    val sn = pts.toDF("vec_id", "cell", "v")
      .withColumn("nrm", graft.functions.VectorFunctions.norm(col("v")))
      .persist()
    val g = graft.operators.NnDescent.build(sn, kg, rounds = 1,
        mixBuckets = 4)
      .select(col("u"), col("w")).persist()
    g.count()
    // each query routes to its own cell plus a DIFFERENT second cell —
    // the two shard rows the top-2 serve must union correctly
    val qrows = pts.filter(_._1 < 6)
      .map(p => (p._1, p._3, p._2, (p._2 + 1) % 3))
    val q = sn.filter(col("vec_id") < 6)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
              col("nrm").as("qn"))
    // batch reference: x163's 'two'-mode seeds — per (qid, cell),
    // members by nid ASC, self excluded, beam/2 each
    val seedRows = for {
      (qid, _, c1, c2) <- qrows
      c <- Seq(c1, c2)
      nid <- pts.filter(p => p._2 == c && p._1 != qid)
        .map(_._1).sorted.take(beam / 2)
    } yield (qid, nid)
    val batch = graft.operators.GraphSearch.search(g, sn, q,
        seedRows.toDF("qid", "nid"), beam, hops)
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn").cast("long").as("rank"), col("nid"),
              col("cos"), col("scored_n"))
      .collect().map(_.toSeq).toSet
    val artifacts = graft.operators.GraphSearch.serveShards(g, sn, beam,
        hops).persist()
    assert(artifacts.count() == 3)
    val mem = MemoryStream[(Long, Seq[Double], Long, Long)]
    val stream = mem.toDF().toDF("qid", "qv", "cell1", "cell2")
      .withColumn("qn", graft.functions.VectorFunctions.norm(col("qv")))
    val sq = GraphSearch.serveTop2(stream, artifacts,
        beam, hops, k)
      .writeStream.format("memory").queryName("gserve2")
      .outputMode("append").start()
    mem.addData(qrows.take(3).map(p => (p._1, p._2, p._3, p._4)): _*)
    sq.processAllAvailable()
    mem.addData(qrows.drop(3).map(p => (p._1, p._2, p._3, p._4)): _*)
    sq.processAllAvailable()
    val streamed = spark.table("gserve2")
      .select(col("qid"), col("rank").cast("long"), col("nid"),
              col("cos"), col("scored_n"))
      .collect().map(_.toSeq).toSet
    sq.stop()
    assert(streamed == batch,
      s"streamed ${streamed.size} rows != batch ${batch.size}:\n" +
        s"only-stream: ${(streamed -- batch).take(5)}\n" +
        s"only-batch: ${(batch -- streamed).take(5)}")
    // the artifact records its build parameters; a serve call with
    // different ones must fail before the stream starts
    val em = intercept[IllegalArgumentException](
      GraphSearch.serve(stream, artifacts, beam, hops + 1,
        k))
    assert(em.getMessage.contains("built with"))
    val eo = intercept[IllegalArgumentException](
      GraphSearch.serveTop2(stream, artifacts, 3, hops, k))
    assert(eo.getMessage.contains("even"))
    // an artifact lacking the parameter columns (a stale build) is
    // rejected outright
    val en = intercept[IllegalArgumentException](
      GraphSearch.serve(stream,
        artifacts.drop("beam", "hops"), beam, hops, k))
    assert(en.getMessage.contains("beam/hops"))
    sn.unpersist(); g.unpersist(); artifacts.unpersist()
    spark.catalog.clearCache()
  }
}
