package graft

import org.apache.spark.sql.functions._
import graft.ops.ZOrderOps

/** Invariant coverage for the round-6 layout & linkage surface
  * (q95–q97, x62). Cross-engine value parity is the DuckDB oracle's job;
  * these specs assert the properties that must hold at any scale. */
class LayoutQueriesSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private def run(name: String) =
    SparkEntry.queries(name)(spark, sfDir)

  test("zvalue matches a bit-interleave reference on a grid") {
    import spark.implicits._
    def ref(x: Long, y: Long, bits: Int): Long =
      (0 until bits).foldLeft(0L) { (acc, i) =>
        acc | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      }
    val pts = for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y)
    val got = pts.toDF("x", "y")
      .select(col("x"), col("y"),
              ZOrderOps.zvalue(col("x"), col("y"), 5).as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, z) =>
      assert(z == ref(x, y, 5), s"zvalue($x,$y) = $z, want ${ref(x, y, 5)}")
    }
    // the curve is a bijection on the grid
    assert(got.map(_._3).distinct.length == pts.length)
  }

  test("z-order layout prunes 2-D box queries better than single-column sort") {
    import spark.implicits._
    val pts = (for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y))
      .toDF("x", "y")
    // chunk bboxes for a layout = what parquet row-group min/max stats
    // would record; a box query scans every chunk whose bbox intersects it
    def bboxes(ordered: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Long)] = {
      val chunks = 16
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("o"))
      ordered
        .withColumn("chunk", ((row_number().over(w) - 1) / (64 * 64 / chunks))
          .cast("long"))
        .groupBy("chunk")
        .agg(min("x").as("x0"), max("x").as("x1"),
             min("y").as("y0"), max("y").as("y1"))
        .select("x0", "x1", "y0", "y1")
        .as[(Long, Long, Long, Long)].collect().toSeq
    }
    def hits(bs: Seq[(Long, Long, Long, Long)],
             qx0: Long, qx1: Long, qy0: Long, qy1: Long): Int =
      bs.count { case (x0, x1, y0, y1) =>
        x1 >= qx0 && x0 <= qx1 && y1 >= qy0 && y0 <= qy1 }
    val zB = bboxes(
      pts.withColumn("o", ZOrderOps.zvalue(col("x"), col("y"), 6)))
    val xB = bboxes(pts.withColumn("o", col("x") * 64 + col("y")))
    // 16×16 box probes: z-chunks are 16×16 quadrants (1–4 hits); x-sorted
    // chunks are 4-wide full-height stripes — every probe with 16 x-values
    // crosses ≥ 4 of them, and they never prune on y at all
    val probes = Seq((0L, 15L, 0L, 15L), (16L, 31L, 32L, 47L),
                     (40L, 55L, 8L, 23L))
    val (zHits, xHits) = probes.map(p =>
      (hits(zB, p._1, p._2, p._3, p._4), hits(xB, p._1, p._2, p._3, p._4)))
      .unzip match { case (a, b) => (a.sum, b.sum) }
    assert(zHits * 2 <= xHits,
      s"z layout touched $zHits chunks, x-sort $xHits — z must prune ≥ 2×")
  }

  test("q95 buckets partition the curve: counts sum to table size, boxes nest") {
    val rows = run("q95_zorder_locality").collect()
    val n = Tables(spark, sfDir, "customer").count()
    assert(rows.map(_.getLong(1)).sum == n)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(3) && r.getLong(4) <= r.getLong(5))
    }
  }

  test("q96 ER: every dirty name resolves, and to its own source row") {
    val rows = run("q96_entity_resolution").collect()
    val n = Tables(spark, sfDir, "customer").count()
    assert(rows.length == n, "blocking must never lose the true match")
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(0),
        s"d_id ${r.getLong(0)} matched ${r.getLong(1)} — the single-char " +
        "deletion must resolve to its own master row (lev 1 beats lev 2)")
      assert(r.getInt(2) == 1)
    }
  }

  test("q96 ER: candidate generation stays inside blocks (no cross join)") {
    val plan = run("q96_entity_resolution").queryExecution.executedPlan
    assert(!plan.toString.contains("CartesianProduct"),
      "blocked ER must never degenerate to an all-pairs join")
  }

  test("q97 bitmap distinct equals expand-based count_distinct") {
    val got = run("q97_bitmap_distinct").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val want = Tables(spark, sfDir, "lineitem")
      .groupBy("l_returnflag")
      .agg(count_distinct(col("l_orderkey")).as("n"),
           count(lit(1)).as("r"))
      .orderBy("l_returnflag")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want)
  }

  test("x62 CDC: chunks re-concatenate to the document, boundaries content-defined") {
    import spark.implicits._
    // reference: recompute boundaries per doc in plain Scala and check a
    // a sample doc's chunks tile the text exactly
    val doc = Tables(spark, sfDir, "documents")
      .select("doc_id", "text").as[(Long, String)].head()
    val (_, text) = doc
    val md = java.security.MessageDigest.getInstance("MD5")
    def h6(s: String): Long = {
      val hex = md.digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 6)
      java.lang.Long.parseLong(hex, 16)
    }
    val n = text.length
    val bounds = (1 +: (2 to n - 7).filter(p =>
      h6(text.substring(p - 1, p + 7)) % 32 == 0)) :+ (n + 1)
    val chunks = bounds.zip(bounds.tail)
      .map { case (a, b) => text.substring(a - 1, b - 1) }
    assert(chunks.mkString == text, "chunks must tile the document")
    // and the corpus-level query only reports genuinely repeated chunks
    val rows = run("x62_cdc_chunks").collect()
    rows.foreach(r => assert(r.getLong(1) >= 2))
  }

  test("q100 pattern: strict adjacency — an interleaved event breaks the run") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val ev = Seq(
      (1L, t(1), 1L, "view"), (1L, t(2), 2L, "click"),
      (1L, t(3), 3L, "purchase"),                       // match
      (2L, t(1), 4L, "view"), (2L, t(2), 5L, "error"),
      (2L, t(3), 6L, "click"), (2L, t(4), 7L, "purchase") // broken by error
    ).toDF("user_id", "ts", "event_id", "event_type")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val got = ev
      .withColumn("p1", lag(col("event_type"), 1).over(w))
      .withColumn("p2", lag(col("event_type"), 2).over(w))
      .filter(col("event_type") === "purchase" &&
              col("p1") === "click" && col("p2") === "view")
      .select("user_id").as[Long].collect().toSeq
    assert(got == Seq(1L), "only user 1 has an unbroken view,click,purchase run")
    // and the declared query runs green on the real events table
    assert(run("q100_seq_pattern").collect().forall(_.getLong(1) >= 1))
  }

  test("zvalueChecked: agrees in range, fails loudly out of range") {
    import spark.implicits._
    val ok = Seq((3L, 7L), (0L, 31L)).toDF("x", "y")
      .select(ZOrderOps.zvalue(col("x"), col("y"), 5).as("z"),
              ZOrderOps.zvalueChecked(col("x"), col("y"), 5).as("zc"))
      .collect()
    ok.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // an unfolded dim must raise, not silently alias onto the curve
    val e = intercept[Exception] {
      Seq((32L, 1L)).toDF("x", "y")
        .select(ZOrderOps.zvalueChecked(col("x"), col("y"), 5)).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("out of [0, 32)")), e.toString)
  }

  test("q102 rules: confidence bounded, pair support symmetric across directions") {
    val rows = run("q102_market_basket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, sup, conf, lift) =>
      assert(sup >= 2, "minsup filter")
      assert(conf >= 0 && conf <= 1000, s"confidence $conf out of [0,1000]")
      assert(lift > 0)
    }
    // a→b and b→a carry the same pair support when both rank in the top-k
    val bySup = rows.map { case (a, c, s0, _, _) => ((a min c, a max c), s0) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    bySup.foreach { case (pair, sups) =>
      assert(sups.length == 1, s"pair $pair reported differing supports: $sups")
    }
  }

  test("q102 a-priori prune: a planted mega-basket of one-off items is inert") {
    import spark.implicits._
    import graft.operators.MarketBasket
    // normal co-occurring baskets…
    val normal = (0 until 60).flatMap(ok =>
      Seq((ok.toLong, 1L), (ok.toLong, 2L), (ok.toLong, 3L + ok % 4)))
    // …plus ONE basket holding 50k items that occur nowhere else. Without
    // the prune the HOF expansion would build 50k²/2 ≈ 1.25e9 pair structs
    // in a single task; with it the basket shrinks to nothing before
    // pairing (one-off items can never reach pair minsup).
    val mega = (0 until 50000).map(i => (999L, 1000000L + i))
    val rules = MarketBasket.rules((normal ++ mega).toDF("ok", "p"))
      .orderBy(col("ante"), col("cons"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val rulesNoMega = MarketBasket.rules(normal.toDF("ok", "p"))
      .orderBy(col("ante"), col("cons"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rules.nonEmpty)
    // identical rule set and supports with and without the mega-basket
    assert(rules.toSeq == rulesNoMega.toSeq)
    assert(rules.forall { case (a, c, _) => a < 1000000L && c < 1000000L })
  }

  test("q106 exact quantiles: ordered, inside the group's range, at the exact rank") {
    import spark.implicits._
    val rows = run("q106_exact_quantiles").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4)))
    assert(rows.nonEmpty)
    // driver-side reference on the raw rows — the quantile definition is
    // the lower order statistic at rank ⌈q·n⌉
    val byFlag = Tables(spark, sfDir, "lineitem")
      .select(col("l_returnflag").as("f"),
              round(col("l_extendedprice") * 100).cast("long").as("v"))
      .as[(String, Long)].collect().groupBy(_._1)
    rows.foreach { case (f, p50, p90, p99, n) =>
      val vs = byFlag(f).map(_._2).sorted
      assert(n == vs.length)
      def ref(q: Int) = vs((q * vs.length + 99) / 100 - 1) // ⌈q·n/100⌉, 1-based
      assert(p50 == ref(50) && p90 == ref(90) && p99 == ref(99),
        s"$f: ($p50,$p90,$p99) vs (${ref(50)},${ref(90)},${ref(99)})")
      assert(p50 <= p90 && p90 <= p99)
    }
  }

  test("x65 bottom-k sample: exactly k per stratum, invariant under partitioning") {
    val a = run("x65_bottomk_sample").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    assert(a.groupBy(_._1).forall(_._2.length == 5),
      "every stratum must yield exactly k rows")
    // same members on a different physical layout (the draw is a pure
    // function of the doc id — no engine rand(), no partition dependence)
    val b = SparkEntry.queries("x65_bottomk_sample")(spark, sfDir)
      .repartition(13).orderBy(col("source"), col("rk")).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    assert(a == b)
  }

  test("q103 TWAP: weighted mean stays within the user's observed value range") {
    import spark.implicits._
    val rows = run("q103_time_weighted_avg").collect()
    assert(rows.nonEmpty)
    val bounds = Tables(spark, sfDir, "events")
      .groupBy(col("user_id"))
      .agg(min(round(col("value") * 100).cast("long")).as("lo"),
           max(round(col("value") * 100).cast("long")).as("hi"))
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    rows.foreach { r =>
      val (u, span, twap) = (r.getLong(0), r.getLong(2), r.getLong(3))
      assert(span > 0, s"user $u: non-positive holding span")
      val (lo, hi) = bounds(u)
      assert(twap >= lo - 1 && twap <= hi,
        s"user $u: twap $twap outside value range [$lo, $hi]")
    }
  }

  test("q103 TWAP: an all-same-timestamp user is dropped, not divided by zero") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(s: Long) = new java.sql.Timestamp(t0.getTime + s * 1000)
    // user 1: three observations on ONE timestamp — sum(dt) = 0, the
    // fixture that made DuckDB's // abort before the HAVING guard;
    // user 2: 10.00 held 10s then 20.00 held 30s → twap 17.50
    val events = Seq(
      (1L, t0, 100L, 5.0), (1L, t0, 101L, 6.0), (1L, t0, 102L, 7.0),
      (2L, at(0), 200L, 10.0), (2L, at(10), 201L, 20.0),
      (2L, at(40), 202L, 30.0)
    ).toDF("user_id", "ts", "event_id", "value")
    val rows = LayoutQueries.twap(events).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(2L),
      "the zero-span user must be dropped, the normal user kept")
    val r = rows.head
    assert(r.getLong(1) == 2L && r.getLong(2) == 40000000L &&
           r.getLong(3) == 1750L,
      s"user 2: want (2 holds, 40s span, twap 1750 cents), got $r")
  }

  test("q104 equi-depth: buckets tile the value range with near-equal mass") {
    val rows = run("q104_equidepth_hist").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4)))
    rows.groupBy(_._1).foreach { case (flag, bs) =>
      val sorted = bs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (0L until sorted.length).toSeq,
        s"$flag: bucket ids must be dense from 0")
      // ranges ascend without overlap
      sorted.sliding(2).foreach {
        case Array((_, _, _, hi1, _), (_, _, lo2, _, _)) =>
          assert(hi1 < lo2, s"$flag: buckets overlap")
        case _ =>
      }
      // equal depth within one distinct-value granule: every bucket holds
      // between tot/B − maxValueCount and tot/B + maxValueCount rows
      val tot = sorted.map(_._5).sum
      val target = tot / sorted.length
      sorted.foreach { case (_, b, _, _, n) =>
        assert(math.abs(n - target) <= target,
          s"$flag bucket $b: mass $n vs target $target drifted wildly")
      }
    }
  }

  test("x95 sorted neighborhood: banded equi-join finds exactly the brute-force rank-window pairs") {
    import org.apache.spark.sql.expressions.Window
    // brute-force reference: row_number over the same reversed-name sort,
    // inequality-filtered cross-side pairs within rank distance 3, best
    // match by (jw desc, cid asc) — the single-partition form the banded
    // query must reproduce exactly
    val dirtySql = "concat(substring(c_name, 1, 9 + c_custkey % 5), " +
      "substring(c_name, 11 + c_custkey % 5, 30))"
    val clean = Tables(spark, sfDir, "customer")
      .select(col("c_name").as("nm"), lit(0).as("side"),
              col("c_custkey").as("id"))
    val dirty = Tables(spark, sfDir, "customer")
      .select(expr(dirtySql).as("nm"), lit(1).as("side"),
              col("c_custkey").as("id"))
    val u = clean.unionByName(dirty)
      .withColumn("rn", row_number().over(
        Window.orderBy(reverse(col("nm")), col("side"), col("id"))))
    val a = u.select(col("rn").as("ra"), col("nm").as("na"),
                     col("side").as("sa"), col("id").as("ia"))
    val b = u.select(col("rn").as("rb"), col("nm").as("nb"),
                     col("side").as("sb"), col("id").as("ib"))
    val brute = a.crossJoin(b)
      .filter((col("rb") - col("ra")).between(1, 3) &&
              col("sa") =!= col("sb"))
      .select(
        when(col("sa") === 1, col("ia")).otherwise(col("ib")).as("d_id"),
        when(col("sa") === 1, col("na")).otherwise(col("nb")).as("dn"),
        when(col("sa") === 1, col("ib")).otherwise(col("ia")).as("cid"),
        when(col("sa") === 1, col("nb")).otherwise(col("na")).as("cn"))
      .withColumn("jw",
        graft.functions.expr.JaroWinkler(col("dn"), col("cn")))
      .groupBy(col("d_id"))
      .agg(min(struct((-col("jw")).as("njw"), col("cid").as("cid"),
                      col("jw").as("jw"))).as("m"))
      .select(col("d_id"), col("m.cid").as("matched"),
              col("m.jw").as("jw"),
              (col("m.cid") === col("d_id")).as("hit"))
    val got = run("x95_sorted_neighborhood")
    assert(got.exceptAll(brute).isEmpty && brute.exceptAll(got).isEmpty,
      "banded neighborhood pairs must equal the brute-force rank window")
    // the reversed-key pass must actually rescue recall on this fixture
    val hits = got.filter(col("hit")).count()
    assert(hits > got.count() / 2,
      s"reversed-name pass should catch most true matches, got $hits")
  }

  test("x99 edit-distance join: prefix pruning equals brute force and finds every planted 1-edit pair") {
    val dirtySql = "concat(substring(c_name, 1, 9 + c_custkey % 5), " +
      "substring(c_name, 11 + c_custkey % 5, 30))"
    val clean = Tables(spark, sfDir, "customer")
      .select(col("c_custkey").as("cid"), col("c_name").as("cn"))
    val dirty = Tables(spark, sfDir, "customer")
      .filter(col("c_custkey") % 100 === 7)
      .select(col("c_custkey").as("did"), expr(dirtySql).as("dn"))
    val brute = dirty.crossJoin(clean)
      .withColumn("lev", levenshtein(col("dn"), col("cn"), 2))
      .filter(col("lev") >= 0 && col("lev") <= 2)
      .select(col("did"), col("cid"), col("lev"))
    val got = run("x99_editdist_join")
    assert(got.exceptAll(brute).isEmpty && brute.exceptAll(got).isEmpty,
      "q-gram prefix candidates must lose no qualifying pair")
    // the deletion fixture plants (k, k) at distance exactly 1 for every
    // customer — zero-miss means all of them surface
    val n = dirty.count()
    assert(n > 0, "batch filter must select some records at this SF")
    assert(got.filter(col("did") === col("cid") && col("lev") === 1)
      .count() == n, "every planted 1-edit pair must be found")
  }

  test("x102 golden record: survivorship recovers the uncorrupted fields for every cluster") {
    val rows = run("x102_golden_record").collect()
    val nCust = Tables(spark, sfDir, "customer").count()
    // every record lands in exactly one cluster
    assert(rows.map(_.getLong(1)).sum == 3 * nCust)
    rows.foreach { r =>
      assert(r.getLong(1) >= 3, s"cluster below one customer's variants: $r")
      // longest-name rule always recovers an uncorrupted 18-char name
      assert(r.getString(2).length == 18, s"corrupted name survived: $r")
      // balance and segment each exist on >= 1 variant per customer
      assert(!r.isNullAt(3) && !r.isNullAt(4), s"null field survived: $r")
    }
  }

  test("x103 incremental golden record is row-identical to the x102 full recompute") {
    val full = run("x102_golden_record")
    val inc = run("x103_golden_incremental")
    assert(inc.exceptAll(full).isEmpty && full.exceptAll(inc).isEmpty,
      "merging old partials + batch must equal consolidating everything")
    // the batch split must be non-trivial for the test to mean anything
    val batchCust = Tables(spark, sfDir, "customer")
      .filter(col("c_custkey") % 10 === 3).count()
    assert(batchCust > 0)
  }

  test("x123 block purging: over-cap blocks consolidate as audited singletons, under-cap blocks link like x102") {
    import spark.implicits._
    // two customers collide on the last-3 block suffix '001' (their 6
    // records exceed cap=4 → the block purges, every record a flagged
    // singleton); customer 7 owns its '007' block alone (3 records ≤
    // cap → links into one consolidated cluster, exactly like x102)
    val dir = java.nio.file.Files.createTempDirectory("graft-purge").toString
    Seq((1L, "Customer#000000001", 100.0, "AUTO"),
        (1000000001L, "Customer#1000000001", 150.0, "AUTO"),
        (7L, "Customer#000000007", 200.0, "AUTO"))
      .toDF("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val out = SparkEntry.queries("x123_purged_linkage")(spark, dir)
      .select("label", "n_records", "purged")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    // nothing lost: 3 customers × 3 variants
    assert(out.map(_._2).sum == 9L, s"records lost: ${out.toSeq}")
    // the colliding block (6 records, suffix '001') purges → 6 audited
    // singletons; customer 7's block (3 records) links into one cluster
    val purged = out.filter(_._3)
    assert(purged.length == 6 && purged.forall(_._2 == 1L),
      s"over-cap block must yield audited singletons: ${out.toSeq}")
    assert(out.exists(r => !r._3 && r._2 == 3L),
      s"under-cap block must consolidate: ${out.toSeq}")
  }

  test("x102/x103: a record with no linkage edge survives as its own one-record cluster") {
    import spark.implicits._
    // Customer 1's name is short enough that the dirty deletion (drop
    // char 10 + key%5) eats into the LAST-3 block suffix: its corrupted
    // variant lands in a block of its own, with no lev<=2 neighbor —
    // the singleton the inner-join form silently dropped. Customer 2 is
    // a normal 3-variant cluster.
    val dir = java.nio.file.Files
      .createTempDirectory("graft-singleton").toString
    Seq((1L, "ABCDEFGHIJKL", 100.0, "AUTO"),
        (2L, "Customer#000000002", 200.0, "AUTO"))
      .toDF("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/customer.parquet")
    for (q <- Seq("x102_golden_record", "x103_golden_incremental")) {
      val out = SparkEntry.queries(q)(spark, dir)
        .select("label", "n_records").as[(Long, Long)].collect().toMap
      assert(out.values.sum == 6L,
        s"$q lost records: ${out.toSeq.sorted} must total 2 customers x 3 variants")
      // rid 11 (customer 1's dirty variant) is the engineered singleton
      assert(out.get(11L).contains(1L),
        s"$q: the edgeless record must self-label, got ${out.toSeq.sorted}")
    }
  }
}
