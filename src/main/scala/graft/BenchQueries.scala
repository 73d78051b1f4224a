package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.BucketOps

/** Headline analytic queries (bench flagships): a TPC-H-Q1-style pricing
  * summary and a Q5-style revenue join, shaped for the engine's scale
  * story — partial-agg groupBy (map-side combine → tiny exchange) and a
  * join tree where only genuinely-small sides broadcast.
  *
  * Money math uses integer CENTS (prices/discounts have 2 decimals), so
  * sums are exact and hash-identical across engines regardless of
  * summation order — float accumulation order would differ between Spark
  * partial aggregates and the oracle. */
object BenchQueries {

  private def cents(c: org.apache.spark.sql.Column) =
    round(c * 100).cast("long")

  /** The pay-once ORC fact layout PARTITIONED BY l_returnflag (the
    * b03/b05 device on the second columnar format) — shared by x172
    * (static literal prune) and x179 (dimension-driven dynamic prune). */
  private def orcpLayout(s: SparkSession, dir: String): String = {
    val path = Scratch.dir("orcp", dir)
    if (!new java.io.File(path, "_SUCCESS").exists())
      graft.io.TableIo.writePartitioned(
        Tables(s, dir, "lineitem"), path, Seq("l_returnflag"), "orc")
    path
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "b01_pricing_summary" -> ((s, dir) =>
      Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
          sum(cents(col("l_extendedprice")) * (lit(100) - cents(col("l_discount"))))
            .as("sum_disc_cents_x100"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    "b02_revenue_by_nation" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val o = Tables(s, dir, "orders")
      val c = Tables(s, dir, "customer")
      val n = broadcast(Tables(s, dir, "nation"))
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          sum(cents(col("l_extendedprice")) * (lit(100) - cents(col("l_discount"))))
            .as("revenue_cents_x100"),
          count(lit(1)).as("n_items"))
        .orderBy(col("n_name"))
    }),

    // B03 — the b02 join shape on BUCKETED layout: orders and lineitem are
    // written once as co-bucketed tables on the join key (one file per
    // bucket via a pre-repartition, sorted within buckets), then the join
    // reads buckets directly — no exchange, no sort, on either side
    // (PlanShapeSpec asserts). This is SCALING.md's "first change at
    // 100 TB": a recurring fact-fact join stops shuffling entirely, paying
    // one layout write instead. The merge hint keeps the demo honest at
    // smoke scale, where the planner would otherwise broadcast away the
    // join this query exists to show exchange-free.
    "b03_bucketed_revenue" -> ((s, dir) => {
      val sfTag = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9]", "_")
      val B = 8
      val o = BucketOps.ensureBucketed(s, s"b03_orders_$sfTag",
          "o_orderkey", B, Some("o_orderkey"))(
        Tables(s, dir, "orders").select("o_orderkey", "o_orderpriority")
          .repartition(B, col("o_orderkey")))
      val li = BucketOps.ensureBucketed(s, s"b03_lineitem_$sfTag",
          "l_orderkey", B, Some("l_orderkey"))(
        Tables(s, dir, "lineitem")
          .select("l_orderkey", "l_extendedprice", "l_discount")
          .repartition(B, col("l_orderkey")))
      o.hint("merge").join(li, o("o_orderkey") === li("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          sum(cents(col("l_extendedprice")) * (lit(100) - cents(col("l_discount"))))
            .as("revenue_cents_x100"),
          count(lit(1)).as("n_items"))
        .orderBy(col("o_orderpriority"))
    }),

    // B04 — the PERSISTED form of x84's sketch rollup: the b03 economics
    // applied to sketch columns. The per-(priority, month) HLL partials
    // are written ONCE as a parquet sketch table (rows = grouping
    // cardinality, ~60 here — kilobytes at any corpus size); the
    // steady-state query answers "distinct customers per priority" by
    // reading THAT table and merging sketches, never rescanning orders.
    // The exact-distinct audit branch rides along so the oracle pins the
    // estimate inside its 3σ bound (x15's device) — in production that
    // branch doesn't exist, and the steady-state cost is the sketch-table
    // read alone.
    "b04_sketch_steady" -> ((s, dir) => {
      val path = Scratch.dir("sk", dir)
      if (!new java.io.File(path, "_SUCCESS").exists())
        Tables(s, dir, "orders")
          .groupBy(col("o_orderpriority").as("prio"),
                   date_trunc("month", col("o_orderdate")).as("mon"))
          .agg(hll_sketch_agg(col("o_custkey"), 12).as("hs"),
               count(lit(1)).as("n"))
          .write.mode("overwrite").parquet(path)
      val rolled = s.read.parquet(path).groupBy(col("prio"))
        .agg(hll_sketch_estimate(hll_union_agg(col("hs"))).as("est_cust"),
             sum(col("n")).as("n_orders"))
      val exact = Tables(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("prio"))
        .agg(count_distinct(col("o_custkey")).as("exact_cust"))
      rolled.join(broadcast(exact), Seq("prio"))
        .select(col("prio"), col("n_orders"),
          (abs(col("est_cust") - col("exact_cust")) <=
             col("exact_cust") * lit(0.05)).as("hll_ok"))
        .orderBy(col("prio"))
    }),

    // B06 — VIEW-MAINTENANCE economics: the b-family's fourth cost
    // story (b03 scans, b04 sketches, b05 ANN — here materialized
    // views). The base aggregate V = γ_prio(count, Σ cents) over
    // yesterday's orders is written ONCE as a 5-row parquet view; the
    // steady-state query aggregates ONLY the arriving delta batch
    // (o_orderkey % 10 = 7, ~10%) and merges it into the view by one
    // full-outer merge of two GROUPING-CARDINALITY frames (Spark cannot
    // broadcast a full-outer side, so this is a sort-merge of |groups|
    // rows — the exchange carries the view, never the facts) — the
    // historical fact table is never rescanned. The exact-recompute
    // audit branch rides along (b04's device) so the oracle pins
    // merged ≡ recompute per group; in production that branch doesn't
    // exist and the steady-state cost is the delta scan plus a 5-row
    // read.
    "b06_ivm_steady" -> ((s, dir) => {
      val path = Scratch.dir("ivm", dir)
      val isDelta = col("o_orderkey") % 10 === 7
      def agg(df: DataFrame): DataFrame = df
        .groupBy(col("o_orderpriority").as("prio"))
        .agg(count(lit(1)).as("n"), sum(cents(col("o_totalprice"))).as("c"))
      if (!new java.io.File(path, "_SUCCESS").exists())
        agg(Tables(s, dir, "orders").filter(!isDelta))
          .write.mode("overwrite").parquet(path)
      val base = s.read.parquet(path)
        .select(col("prio"), col("n").as("n0"), col("c").as("c0"))
      val delta = agg(Tables(s, dir, "orders").filter(isDelta))
        .select(col("prio"), col("n").as("nd"), col("c").as("cd"))
      val merged = base.join(delta, Seq("prio"), "full_outer")
        .select(col("prio"),
          (coalesce(col("n0"), lit(0L)) + coalesce(col("nd"), lit(0L)))
            .as("n_orders"),
          (coalesce(col("c0"), lit(0L)) + coalesce(col("cd"), lit(0L)))
            .as("sum_cents"))
      val full = agg(Tables(s, dir, "orders"))
        .select(col("prio"), col("n").as("nf"), col("c").as("cf"))
      merged.join(full, Seq("prio"), "full_outer")
        .select(col("prio"), col("n_orders"), col("sum_cents"),
          (col("n_orders") <=> col("nf") && col("sum_cents") <=> col("cf"))
            .as("ivm_ok"))
        .orderBy(col("prio"))
    }),

    // B05 — ANN serving on a PARTITION-PRUNED layout: the b03/b04
    // pay-once economics applied to similarity search. The corpus is
    // written once partitioned by a DETERMINISTIC sign-bit cell (3
    // coordinate hyperplanes → 8 cells — the quantizer is a pure
    // function of the vector, so the oracle reproduces the entire
    // search, which KMeans cells cannot offer); the steady-state query
    // probes each query's own cell plus its three 1-bit neighbors
    // (x76's multi-probe) and the scan OPENS ONLY THOSE PARTITIONS.
    // Probe cells are collected from the 5-row query set at plan time
    // (q110's certified-small device), so the pruning is STATIC —
    // `PartitionFilters: [cell IN (…)]` in the plan, no dynamic-pruning
    // dependence. At 100 TB the steady-state read is nprobe/cells of
    // the corpus, and the exact in-cell top-k is the x09 kernel over
    // that slice alone.
    // X169 — ORC source/sink fidelity: the warehouse's second columnar
    // format (orc-core ships inside Spark — no extra deps). The fact
    // table round-trips through an ORC layout written PAY-ONCE under
    // the content-fingerprinted scratch path (the b04/b05 device), and
    // the oracle computes the same audit aggregate from the PARQUET
    // original — green means every value class the table carries
    // (dates, doubles, strings, ints) survived the format byte-exactly
    // (sums in integer cents, so partial-agg order can't hide a drift).
    "x169_orc_roundtrip" -> ((s, dir) => {
      val path = Scratch.dir("orc", dir)
      if (!new java.io.File(path, "_SUCCESS").exists())
        Tables(s, dir, "lineitem").write.mode("overwrite").orc(path)
      graft.io.TableIo.readOrc(s, path)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
             sum(round(col("l_quantity") * 100).cast("long")).as("qty_c"),
             sum(round(col("l_extendedprice") * 100).cast("long"))
               .as("price_c"),
             sum(round(col("l_discount") * 100).cast("long")).as("disc_c"),
             countDistinct(col("l_shipdate")).as("n_shipdates"),
             max(col("l_shipdate")).as("max_shipdate"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // X172 — ORC PARTITIONED layout + predicate pushdown (x169's scale
    // path): the fact table lands once PARTITIONED BY l_returnflag as
    // ORC (the b03/b05 pay-once device on the second columnar format);
    // the steady-state read opens ONLY the 'R' partition directory
    // (PartitionFilters, static) and pushes the shipdate range INTO the
    // ORC reader (PushedFilters — row groups outside the range never
    // decompress). At 100 TB that is the difference between scanning a
    // third of the warehouse and scanning the matching stripes of one
    // directory. The audit aggregate is the x169 device: counts and
    // integer-cents sums the oracle computes from the parquet original
    // under the same predicate — green proves partition pruning +
    // pushdown lost no rows and the format carried every value class.
    "x172_orc_partitioned" -> ((s, dir) => {
      val path = orcpLayout(s, dir)
      graft.io.TableIo.readOrc(s, path)
        .filter(col("l_returnflag") === "R" &&
                col("l_shipdate") >= lit("1995-06-01").cast("date"))
        .groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
             sum(round(col("l_quantity") * 100).cast("long")).as("qty_c"),
             sum(round(col("l_extendedprice") * 100).cast("long"))
               .as("price_c"),
             countDistinct(col("l_shipdate")).as("n_shipdates"),
             min(col("l_shipdate")).as("min_shipdate"),
             max(col("l_shipdate")).as("max_shipdate"))
        .orderBy(col("l_linestatus"))
    }),

    // X179 — DYNAMIC partition pruning over the x172 layout: x172's
    // prune is a LITERAL predicate (static); the 100 TB star-schema
    // case is dimension-DRIVEN — the partition values to read are known
    // only after filtering a small dimension at runtime, never as a
    // literal in the query text. A 3-row flag dimension (distinct
    // l_returnflag + a group attribute) lands pay-once beside the fact
    // layout; the steady-state query joins the partitioned ORC fact to
    // the dimension filtered on the ATTRIBUTE (flag_grp = 'returned'),
    // and Spark injects `dynamicpruningexpression` into the fact scan's
    // PartitionFilters via the reused broadcast — only the matching
    // partition directory is opened (PlanShapeSpec pins the subquery in
    // the scan AND the partitions-read metric at 1 of 3). The audit
    // aggregate is x172's device; the oracle computes the same join
    // from the unpartitioned parquet original, so green proves the
    // runtime prune lost no rows.
    "x179_dpp_star_prune" -> ((s, dir) => {
      val path = orcpLayout(s, dir)
      val dimPath = Scratch.dir("dppd", dir)
      if (!new java.io.File(dimPath, "_SUCCESS").exists())
        Tables(s, dir, "lineitem").select(col("l_returnflag")).distinct()
          .withColumn("flag_grp",
            when(col("l_returnflag") === "R", lit("returned"))
              .otherwise(lit("kept")))
          .coalesce(1).write.mode("overwrite").parquet(dimPath)
      val fact = graft.io.TableIo.readOrc(s, path)
      val dim = s.read.parquet(dimPath)
        .filter(col("flag_grp") === "returned")
      fact.join(broadcast(dim), "l_returnflag")
        .groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
             sum(round(col("l_quantity") * 100).cast("long")).as("qty_c"),
             sum(round(col("l_extendedprice") * 100).cast("long"))
               .as("price_c"),
             countDistinct(col("l_shipdate")).as("n_shipdates"))
        .orderBy(col("l_linestatus"))
    }),

    // X181 — COMPACTION OF THE STREAMING-INGEST LAYOUT (the
    // operational loop x172's ingest twin opens): partitionedSinkBatch
    // leaves one directory per (partition, batch) forever — the
    // small-file death of a streaming table at 100 TB. The maintenance
    // protocol (Compaction.compactIngest / readIngest / vacuumLive)
    // folds sealed batches into compacted GENERATIONS committed by an
    // atomic watermark rename — no transaction log, the directory
    // stays readable as a plain columnar layout. The pay-once fixture
    // drives the real sink body for batches 0–3 (lineitem split by
    // orderkey mod 5, partitioned by l_returnflag), compacts, lets
    // batch 4 arrive AFTER the compaction, and vacuums the folded
    // batches; the steady-state read is generation ∪ live tail with
    // partition pruning intact on both arms (PlanShapeSpec pins it).
    // The oracle restates the audit from the original table — green
    // proves the fold + vacuum lost nothing and duplicated nothing.
    "x181_ingest_compaction" -> ((s, dir) => {
      val root = Scratch.dir("ingc", dir)
      val livePath = s"$root/live"
      val compactPath = s"$root/compact"
      if (!new java.io.File(root, "_DONE").exists()) {
        val li = Tables(s, dir, "lineitem")
        val sink = graft.io.Compaction
          .partitionedSinkBatch(livePath, Seq("l_returnflag"))
        for (b <- 0L to 3L)
          sink(li.filter(pmod(col("l_orderkey"), lit(5)) === b), b)
        graft.io.Compaction.compactIngest(s, livePath, compactPath,
          Seq("l_returnflag"), 64L * 1024 * 1024)
        sink(li.filter(pmod(col("l_orderkey"), lit(5)) === 4), 4L)
        graft.io.Compaction.vacuumLive(s, livePath, compactPath)
        new java.io.FileOutputStream(new java.io.File(root, "_DONE"))
          .close()
      }
      graft.io.Compaction.readIngest(s, livePath, compactPath)
        .filter(col("l_returnflag") === "R")
        .groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
             sum(cents(col("l_quantity"))).as("qty_c"),
             sum(cents(col("l_extendedprice"))).as("price_c"),
             countDistinct(col("l_shipdate")).as("n_shipdates"))
        .orderBy(col("l_linestatus"))
    }),

    // X184 — MANIFEST-SERVED RANGE READ over the maintained ingest
    // layout (x181's serving-side completion): the fold runs with
    // sortCols so the committed generation is RANGE-CLUSTERED on
    // l_shipdate, the maintenance loop persists a zone-map manifest
    // beside the watermark, and the steady-state range query serves
    // the generation through the manifest (whole files skipped — the
    // Delta/Iceberg data-skipping shape over plain directories) while
    // the unfolded tail (minutes of ingest at 100 TB, one batch here)
    // is read whole under the row filter. The predicate re-applies
    // row-level on both arms, so manifest coarseness can only cost
    // I/O, never correctness — which is exactly what the oracle
    // proves from the original table. PlanShapeSpec pins the file
    // skip (the generation scan opens fewer files than the generation
    // holds) and the tail's _batch_id partition prune.
    "x184_ingest_range_serve" -> ((s, dir) => {
      val root = Scratch.dir("ingr", dir)
      val livePath = s"$root/live"
      val compactPath = s"$root/compact"
      val manifestPath = s"$root/manifest"
      if (!new java.io.File(root, "_DONE").exists()) {
        val li = Tables(s, dir, "lineitem")
        val sink = graft.io.Compaction
          .partitionedSinkBatch(livePath, Seq("l_returnflag"))
        for (b <- 0L to 3L)
          sink(li.filter(pmod(col("l_orderkey"), lit(5)) === b), b)
        val bytes = graft.io.Compaction.batchDirs(s, livePath)
          .flatMap { case (_, d) => graft.io.Compaction.dataFiles(s, d) }
          .map(_._2).sum
        val wm = graft.io.Compaction.compactIngest(s, livePath,
          compactPath, Seq("l_returnflag"),
          targetBytes = math.max(1L, bytes / 6),
          sortCols = Seq("l_shipdate"))
        graft.io.Compaction.zoneMap(s, s"$compactPath/gen_$wm",
            Seq("l_shipdate"))
          .coalesce(1).write.mode("overwrite").parquet(manifestPath)
        sink(li.filter(pmod(col("l_orderkey"), lit(5)) === 4), 4L)
        graft.io.Compaction.vacuumLive(s, livePath, compactPath)
        new java.io.FileOutputStream(new java.io.File(root, "_DONE"))
          .close()
      }
      graft.io.Compaction.readIngestRange(s, livePath, compactPath,
          s.read.parquet(manifestPath), "l_shipdate",
          lit("1995-06-01").cast("date"), lit("1996-06-01").cast("date"))
        .groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
             sum(cents(col("l_quantity"))).as("qty_c"),
             sum(cents(col("l_extendedprice"))).as("price_c"),
             countDistinct(col("l_shipdate")).as("n_shipdates"),
             min(col("l_shipdate")).as("min_shipdate"),
             max(col("l_shipdate")).as("max_shipdate"))
        .orderBy(col("l_linestatus"))
    }),

    // X185 — SNAPSHOT (TIME-TRAVEL) READ on the maintained ingest
    // layout: a committed generation gen_W holds EXACTLY batches 0..W,
    // so every fold is a free, immutable snapshot of the table as of
    // that point in the stream — the audit/reproducibility read every
    // log-structured table ships (Delta VERSION AS OF), here without a
    // log: retention (`vacuumLive(retainGenerations = 2)`) keeps the
    // last two fold snapshots on disk, `readIngestAsOf` serves the OLD
    // one, and an as-of request for a vacuumed snapshot fails loud
    // listing what is available instead of silently serving the wrong
    // table. The fixture folds twice (after batches 0–1, after 2–3);
    // the steady query reads the FIRST snapshot — the oracle restates
    // it from the original table (orderkey mod 5 ∈ {0,1}), so green
    // proves the old generation still carries exactly the first two
    // batches, untouched by the later fold and vacuum.
    "x185_ingest_time_travel" -> ((s, dir) => {
      val root = Scratch.dir("ingt", dir)
      val livePath = s"$root/live"
      val compactPath = s"$root/compact"
      if (!new java.io.File(root, "_DONE").exists()) {
        val li = Tables(s, dir, "lineitem")
        val sink = graft.io.Compaction
          .partitionedSinkBatch(livePath, Seq("l_returnflag"))
        for (b <- 0L to 1L)
          sink(li.filter(pmod(col("l_orderkey"), lit(5)) === b), b)
        graft.io.Compaction.compactIngest(s, livePath, compactPath,
          Seq("l_returnflag"), 64L * 1024 * 1024)
        for (b <- 2L to 3L)
          sink(li.filter(pmod(col("l_orderkey"), lit(5)) === b), b)
        graft.io.Compaction.compactIngest(s, livePath, compactPath,
          Seq("l_returnflag"), 64L * 1024 * 1024)
        graft.io.Compaction.vacuumLive(s, livePath, compactPath,
          retainGenerations = 2)
        new java.io.FileOutputStream(new java.io.File(root, "_DONE"))
          .close()
      }
      graft.io.Compaction.readIngestAsOf(s, compactPath, 1L)
        .filter(col("l_returnflag") === "R")
        .groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
             sum(cents(col("l_quantity"))).as("qty_c"),
             sum(cents(col("l_extendedprice"))).as("price_c"),
             countDistinct(col("l_shipdate")).as("n_shipdates"))
        .orderBy(col("l_linestatus"))
    }),

    // X186 — UPSERT / CDC-APPLY on the ingest layout (merge-on-read):
    // the append family (x181/x184/x185) covers fact streams; the
    // OTHER half of every warehouse is dimension/state tables fed by
    // change capture, where a row REPLACES its key's previous version
    // and a tombstone deletes it — Hudi/Delta MERGE. Here the fold
    // resolves `previous generation ∪ sealed tail` to latest-per-key
    // (batch id = precedence, per-batch key uniqueness enforced loud)
    // and applies tombstones, so the committed generation IS the
    // resolved table state and the steady read only merges it with the
    // unfolded tail. The fixture drives four CDC batches over orders
    // (each inserts a key class, re-prices the previous class 2×, the
    // last also tombstones every 20th key), folds MID-STREAM after
    // batch 2, and vacuums; the read must therefore resolve an update
    // whose versions straddle the fold boundary, an insert-only class,
    // and tail tombstones hiding generation rows. The oracle restates
    // the final state from the original table — green proves the
    // resolve got every precedence decision right.
    "x186_ingest_upsert" -> ((s, dir) => {
      val root = Scratch.dir("ingu", dir)
      val livePath = s"$root/live"
      val compactPath = s"$root/compact"
      if (!new java.io.File(root, "_DONE").exists()) {
        val o = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"),
                  col("o_totalprice"))
        def ins(b: Long) = o
          .filter(pmod(col("o_orderkey"), lit(4)) === b)
          .withColumn("_deleted", lit(false))
        def upd(b: Long) = o
          .filter(pmod(col("o_orderkey"), lit(4)) === b)
          .withColumn("o_totalprice", col("o_totalprice") * 2)
          .withColumn("_deleted", lit(false))
        val del = o.filter(pmod(col("o_orderkey"), lit(20)) === 0)
          .withColumn("o_totalprice", lit(null).cast("double"))
          .withColumn("_deleted", lit(true))
        val sink = graft.io.Compaction
          .partitionedSinkBatch(livePath, Seq("o_orderpriority"))
        sink(ins(0), 0L)
        sink(ins(1).unionByName(upd(0)), 1L)
        sink(ins(2).unionByName(upd(1)), 2L)
        graft.io.Compaction.compactIngestUpsert(s, livePath, compactPath,
          Seq("o_orderpriority"), Seq("o_orderkey"), 64L * 1024 * 1024,
          deleteCol = Some("_deleted"))
        sink(ins(3).unionByName(upd(2)).unionByName(del), 3L)
        graft.io.Compaction.vacuumLive(s, livePath, compactPath)
        new java.io.FileOutputStream(new java.io.File(root, "_DONE"))
          .close()
      }
      graft.io.Compaction.readIngestUpsert(s, livePath, compactPath,
          Seq("o_orderkey"), deleteCol = Some("_deleted"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
             sum(cents(col("o_totalprice"))).as("price_c"),
             sum(col("o_orderkey")).as("sum_key"))
        .orderBy(col("o_orderpriority"))
    }),

    // X187 — CHANGE DATA FEED between retained snapshots (x185 × x186:
    // what changed between fold W and fold W'?): every downstream sync
    // and backfill needs the inserted/updated/deleted key sets, and
    // the retained generations already CONTAIN that answer — one
    // null-safe full outer join on the key classifies it, Delta's
    // table_changes derived from snapshots with zero write-path
    // overhead. The fixture is x186's CDC stream folded TWICE with
    // retention 2; the steady query diffs the two snapshots and
    // audits each change class. The oracle restates all three classes
    // from the original table (inserts = the %4==3 class, updates =
    // the %4==2 class re-priced 2×, deletes = every 20th key at its
    // pre-delete doubled price) — green proves the diff classifies
    // every key correctly and carries the right row version (new for
    // insert/update, old for delete).
    "x187_snapshot_diff" -> ((s, dir) => {
      val root = Scratch.dir("ingd", dir)
      val livePath = s"$root/live"
      val compactPath = s"$root/compact"
      if (!new java.io.File(root, "_DONE").exists()) {
        val o = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"),
                  col("o_totalprice"))
        def ins(b: Long) = o
          .filter(pmod(col("o_orderkey"), lit(4)) === b)
          .withColumn("_deleted", lit(false))
        def upd(b: Long) = o
          .filter(pmod(col("o_orderkey"), lit(4)) === b)
          .withColumn("o_totalprice", col("o_totalprice") * 2)
          .withColumn("_deleted", lit(false))
        val del = o.filter(pmod(col("o_orderkey"), lit(20)) === 0)
          .withColumn("o_totalprice", lit(null).cast("double"))
          .withColumn("_deleted", lit(true))
        val sink = graft.io.Compaction
          .partitionedSinkBatch(livePath, Seq("o_orderpriority"))
        sink(ins(0), 0L)
        sink(ins(1).unionByName(upd(0)), 1L)
        sink(ins(2).unionByName(upd(1)), 2L)
        graft.io.Compaction.compactIngestUpsert(s, livePath, compactPath,
          Seq("o_orderpriority"), Seq("o_orderkey"), 64L * 1024 * 1024,
          deleteCol = Some("_deleted"))
        sink(ins(3).unionByName(upd(2)).unionByName(del), 3L)
        graft.io.Compaction.compactIngestUpsert(s, livePath, compactPath,
          Seq("o_orderpriority"), Seq("o_orderkey"), 64L * 1024 * 1024,
          deleteCol = Some("_deleted"))
        graft.io.Compaction.vacuumLive(s, livePath, compactPath,
          retainGenerations = 2)
        new java.io.FileOutputStream(new java.io.File(root, "_DONE"))
          .close()
      }
      graft.io.Compaction.snapshotDiff(s, compactPath, 2L, 3L,
          Seq("o_orderkey"))
        .groupBy(col("_change"))
        .agg(count(lit(1)).as("n"),
             sum(col("o_orderkey")).as("sum_key"),
             sum(cents(col("o_totalprice"))).as("price_c"))
        .orderBy(col("_change"))
    }),

    // X182 — RUNTIME ROW-LEVEL BLOOM FILTER (x179's row-level
    // complement): DPP prunes PARTITIONS the dimension rules out; the
    // other runtime filter a 100 TB star join needs prunes ROWS on a
    // NON-partition join key before they reach the shuffle. The
    // dimension here (urgent orders) is far too big to broadcast at
    // warehouse scale — the shuffle-join shape is forced to model that
    // — so Spark's InjectRuntimeFilter builds a bloom filter from the
    // filtered creation side and injects `might_contain(xxhash64(key))`
    // into the fact side BELOW its exchange: ~80% of fact rows (the
    // 4/5 whose order is not urgent) drop before they are hashed,
    // written, and shuffled (PlanShapeSpec pins the injected filter
    // under the fact-side shuffle). The
    // configs are scoped to this query — the plan materializes inside
    // the scope via localCheckpoint (the x176 device), then the tiny
    // result sorts outside it. Green proves the bloom filter (a
    // may-contain structure) never changed a result, only shuffle
    // volume.
    "x182_runtime_bloom_join" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val o = Tables(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      val scoped = Seq(
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      val saved = scoped.map { case (k, _) => k -> s.conf.getOption(k) }
      scoped.foreach { case (k, v) => s.conf.set(k, v) }
      val agg =
        try
          li.join(o, li("l_orderkey") === o("o_orderkey"))
            .groupBy(col("l_returnflag"))
            .agg(count(lit(1)).as("n"),
                 sum(cents(col("l_extendedprice"))
                   * (lit(100) - cents(col("l_discount"))))
                   .as("revenue_cents_x100"),
                 countDistinct(col("o_orderdate")).as("n_dates"))
            .localCheckpoint()
        finally saved.foreach { case (k, ov) =>
          ov.fold(s.conf.unset(k))(v => s.conf.set(k, v)) }
      agg.orderBy(col("l_returnflag"))
    }),

    // X183 — AQE SKEW-JOIN SPLIT (the RUNTIME answer to the skew x110
    // salts by hand): a join key where one value carries ~95% of the
    // fact rows puts ~95% of the shuffle in ONE reduce partition — the
    // straggler that holds a 1000-executor stage hostage. Spark's
    // OptimizeSkewedJoin splits that partition into mapper-range
    // slices at runtime (each slice joins against a replica of the
    // matching dimension partition — correct because the dim side is
    // read whole per slice), visible as `SortMergeJoin(skew=true)` over
    // an `AQEShuffleRead ... skewed` (PlanShapeSpec pins both). Two
    // test-box emulations of cluster reality, both documented: the
    // fact side repartitions to 16 map tasks (the split unit is a
    // mapper's output — a single-file local read collapses to one
    // mapper, which no real cluster has), and the skew thresholds
    // scale down to the test bytes (256 MB default → 16 KB) with the
    // shuffle shape forced (the dimension exceeds broadcast at
    // warehouse scale). Configs scoped via the localCheckpoint device.
    // The oracle computes the same aggregate expression-only — green
    // proves the runtime split changed task boundaries, never results.
    // Where AQE can't see the skew (aggregation, not join), x110's
    // explicit salting remains the governed path.
    "x183_aqe_skew_split" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val scoped = Seq(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
        // skew is judged against the MEDIAN partition: with a tiny
        // partition count (the local[2] spec session) the hot
        // partition IS the median and nothing is ever "skewed" — pin
        // the realistic count the detection math assumes
        "spark.sql.shuffle.partitions" -> "32")
      val saved = scoped.map { case (k, _) => k -> s.conf.getOption(k) }
      scoped.foreach { case (k, v) => s.conf.set(k, v) }
      val agg =
        try {
          val mx = li.agg(max(col("l_orderkey"))).head.getLong(0)
          val fact = li.repartition(16)
            .withColumn("k",
              when(pmod(col("l_orderkey"), lit(20)) < 19, lit(0L))
                .otherwise(col("l_orderkey")))
          val dim = s.range(0, mx + 1)
            .select(col("id").as("k"), pmod(col("id"), lit(7)).as("grp"))
          fact.join(dim, "k")
            .groupBy(col("grp"))
            .agg(count(lit(1)).as("n"),
                 sum(cents(col("l_quantity"))).as("qty_c"),
                 sum(cents(col("l_extendedprice"))).as("price_c"))
            .localCheckpoint()
        } finally saved.foreach { case (k, ov) =>
          ov.fold(s.conf.unset(k))(v => s.conf.set(k, v)) }
      agg.orderBy(col("grp"))
    }),

    // X175 — SCHEMA EVOLUTION at the scan: a table written in two
    // generations (gen 1 lacks l_returnflag — the column arrived later,
    // the normal life of a 100 TB warehouse table) reads as ONE frame
    // via mergeSchema over the partitioned layout; gen-1 rows surface
    // the missing column as NULL and flow through a null-group
    // aggregate. Green means the merged read loses no rows, types
    // unify, and the null-fill is exactly what the oracle computes
    // from the unsplit original — the drift case every long-lived
    // ingest pipeline hits, proven instead of assumed.
    "x175_schema_evolution" -> ((s, dir) => {
      val path = Scratch.dir("sevo", dir)
      if (!new java.io.File(path, "_SUCCESS").exists()) {
        val li = Tables(s, dir, "lineitem")
        li.filter(col("l_orderkey") % 2 === 0)
          .select(col("l_orderkey"), col("l_quantity"), col("l_shipdate"))
          .write.mode("overwrite").parquet(s"$path/g=1")
        li.filter(col("l_orderkey") % 2 =!= 0)
          .select(col("l_orderkey"), col("l_quantity"), col("l_shipdate"),
                  col("l_returnflag"))
          .write.mode("overwrite").parquet(s"$path/g=2")
        // partition-style layout: the two generations are subdirs; the
        // top-level _SUCCESS marks the whole artifact
        new java.io.FileOutputStream(new java.io.File(path, "_SUCCESS"))
          .close()
      }
      s.read.option("mergeSchema", "true").parquet(path)
        .groupBy(col("g"), col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
             sum(round(col("l_quantity") * 100).cast("long")).as("qty_c"),
             countDistinct(col("l_shipdate")).as("n_shipdates"))
        .orderBy(col("g"), col("l_returnflag"))
    }),

    // X180 — SCHEMA EVOLUTION WITH TYPE WIDENING: x175 covers the
    // added-column case; the other drift every long-lived table hits is
    // a column whose TYPE widened between generations (gen 1 wrote
    // l_orderkey as int and l_quantity as float; gen 2 as long/double —
    // plain mergeSchema refuses the read with a merge conflict).
    // TableIo.readUnified reads each generation with its own schema,
    // casts to the widest type (int+long → long; float+double → double,
    // both lossless), null-fills gen 1's missing l_returnflag, and
    // unions by name. The oracle restates both generations from the
    // unsplit original — including gen 1's float round-trip
    // (CAST(CAST(x AS REAL) AS DOUBLE)), so a widening that silently
    // altered a value would hash-mismatch. Narrowing/lossy unions
    // (long↔double, string↔numeric) fail loud — spec-pinned.
    "x180_type_widening" -> ((s, dir) => {
      val path = Scratch.dir("widen", dir)
      if (!new java.io.File(path, "_SUCCESS").exists()) {
        val li = Tables(s, dir, "lineitem")
        li.filter(col("l_orderkey") % 2 === 0)
          .select(col("l_orderkey").cast("int").as("l_orderkey"),
                  col("l_quantity").cast("float").as("l_quantity"),
                  col("l_shipdate"))
          .write.mode("overwrite").parquet(s"$path/g1")
        li.filter(col("l_orderkey") % 2 =!= 0)
          .select(col("l_orderkey"), col("l_quantity"), col("l_shipdate"),
                  col("l_returnflag"))
          .write.mode("overwrite").parquet(s"$path/g2")
        new java.io.FileOutputStream(new java.io.File(path, "_SUCCESS"))
          .close()
      }
      graft.io.TableIo.readUnified(s, Seq(s"$path/g1", s"$path/g2"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
             sum(round(col("l_quantity") * 100).cast("long")).as("qty_c"),
             sum(col("l_orderkey")).as("sum_key"),
             countDistinct(col("l_shipdate")).as("n_shipdates"))
        // NULLS LAST pins the null group's position to the oracle's
        // DuckDB default (Spark's ASC default is NULLS FIRST)
        .orderBy(col("l_returnflag").asc_nulls_last)
    }),

    // X176 — CORRUPT-TOLERANT JSONL ingest: a feed where every 7th
    // record arrives truncated (the normal life of an at-scale ingest
    // firehose) reads under PERMISSIVE mode with the malformed line
    // captured in _corrupt_record instead of poisoning the batch —
    // the quarantine-don't-crash contract. The corruption is a
    // DETERMINISTIC function of doc_id, so the oracle reproduces both
    // populations from the clean table: green proves no good record
    // was dropped, no bad record silently parsed, and the quarantined
    // line count is exact.
    "x176_jsonl_corrupt" -> ((s, dir) => {
      val path = Scratch.dir("cjl", dir)
      if (!new java.io.File(path, "_SUCCESS").exists()) {
        val docs = Tables(s, dir, "documents")
        val line = to_json(struct(col("doc_id"), col("lang"),
                                  col("n_chars")))
        docs.select(
            when(col("doc_id") % 7 === 0, substring(line, 1, 10))
              .otherwise(line).as("value"))
          .write.mode("overwrite").text(path)
      }
      // localCheckpoint is load-bearing, not hygiene: a downstream
      // count() prunes the aggregate's value columns away, leaving a
      // raw-JSON scan that references ONLY the corrupt column — which
      // Spark disallows (QUERY_ONLY_CORRUPT_RECORD_COLUMN). The
      // checkpoint materializes every column once, so any consumer
      // shape (full dump, count, single-column select) replans from
      // the materialized rows, never from the raw scan.
      s.read
        .schema("doc_id LONG, lang STRING, n_chars LONG, " +
                "_corrupt_record STRING")
        .json(path)
        .localCheckpoint()
        .groupBy(col("_corrupt_record").isNotNull.as("quarantined"))
        .agg(count(lit(1)).as("n"),
             sum(col("n_chars")).as("sum_chars"),
             countDistinct(col("lang")).as("n_lang"))
        .orderBy(col("quarantined"))
    }),

    // X177 — BINARY-FILE ingest (spark.read.format("binaryFile")): the
    // actual front door for the multimodal family — media lands as
    // FILES in object storage, and this source turns a directory into
    // (path, length, content) rows that the x18 codec-boundary
    // operators consume. A deterministic slice of documents is
    // serialized to .bin files pay-once; the read recovers each file's
    // identity from its PATH, its length, and a content fingerprint —
    // all three oracle-checked against the source table, so the
    // bytes-on-disk → binary-column hop provably loses nothing.
    "x177_binaryfile_ingest" -> ((s, dir) => {
      val path = Scratch.dir("binf", dir)
      if (!new java.io.File(path, "_SUCCESS").exists()) {
        val rows = Tables(s, dir, "documents")
          .filter(col("doc_id") % 100 === 0)
          .select(col("doc_id"), col("text")).collect() // ≤ N/100 files
        new java.io.File(path).mkdirs()
        rows.foreach { r =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(path, f"doc_${r.getLong(0)}%06d.bin"),
            r.getString(1).getBytes("UTF-8"))
        }
        new java.io.FileOutputStream(new java.io.File(path, "_SUCCESS"))
          .close()
      }
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin").load(path)
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1)
            .cast("long").as("doc_id"),
          col("length"),
          md5(col("content")).as("content_md5"))
        .orderBy(col("doc_id"))
    }),

    "b05_ann_steady" -> ((s, dir) => {
      import graft.functions.{VectorFunctions => V}
      import org.apache.spark.sql.expressions.Window
      val path = Scratch.dir("ivf", dir)
      if (!new java.io.File(path, "_SUCCESS").exists())
        graft.io.TableIo.writePartitioned(
          Tables(s, dir, "embeddings")
            .withColumn("cell", V.signBand(col("embedding"), 0, 3).cast("int")),
          path, Seq("cell"))
      val qs = Tables(s, dir, "embeddings").filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
                V.norm(col("embedding")).as("qn"),
                V.signBand(col("embedding"), 0, 3).cast("int").as("qc"))
        .select(col("qid"), col("qv"), col("qn"),
          explode(array(col("qc"), col("qc").bitwiseXOR(1),
            col("qc").bitwiseXOR(2), col("qc").bitwiseXOR(4))).as("cell"))
      // ≤ 20 ints — the certified-small probe set; folding it to a
      // literal IN gives static partition pruning on the corpus scan
      val probeCells = qs.select(col("cell")).distinct()
        .collect().map(_.getInt(0)).sorted
      val corpus = s.read.parquet(path)
        .filter(col("cell").isin(probeCells: _*))
        .select(col("cell"), col("vec_id"), col("embedding"),
                V.norm(col("embedding")).as("cn"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("vec_id"))
      corpus.join(broadcast(qs), Seq("cell"))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("cos",
          when(col("qn") === 0.0 || col("cn") === 0.0,
            lit(null).cast("double"))
          .otherwise(V.dot(col("qv"), col("embedding"))
                       / (col("qn") * col("cn"))))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("qid"), col("rank").cast("long").as("rank"),
                col("vec_id").as("nid"), round(col("cos"), 4).as("cos"))
        .orderBy(col("qid"), col("rank"))
    }),

    // B07 — ADVISOR-DRIVEN JOIN ORDERING: x106 ranks pairwise join sizes
    // from CMS sketches; here the ranking is CONSUMED. The three
    // single-key relations (events.user_id, orders.o_custkey,
    // customer.c_custkey) are sketched (O(d·w) cells each — data never
    // moves for the estimates), the greedy decision picks the smallest
    // estimated pair as the first join, and the 3-way join executes in
    // BOTH the advisor's order and the anti-advisor's (largest-first)
    // order, each pinned shuffled-hash so Catalyst cannot quietly undo
    // the experiment. The output carries the decision (best/worst pair,
    // their estimates, their EXACT first-join sizes as audit — the
    // intermediate the advisor actually saved) and proves both orders
    // agree on (row count, cents checksum): join order changes cost,
    // never results. The only driver-side values are the three 1-row
    // estimate aggregates — exactly the stats consultation a cost-based
    // optimizer performs, certified-small by construction (b05's probe
    // precedent). Timings for the two orders land in BENCH_DETAIL per
    // round; at 100 TB the first-join choice here is the difference
    // between a |events ⋈ orders| fan-out intermediate and the
    // dimension-sized one.
    "b07_join_order" -> ((s, dir) => {
      import graft.ops.JoinAdvisorOps
      val rels: Map[String, DataFrame] = Map(
        "events" -> Tables(s, dir, "events")
          .select(col("user_id").cast("string").as("k")),
        "orders" -> Tables(s, dir, "orders")
          .select(col("o_custkey").cast("string").as("k"),
                  cents(col("o_totalprice")).as("c")),
        "customer" -> Tables(s, dir, "customer")
          .select(col("c_custkey").cast("string").as("k")))
      val names = rels.keys.toSeq.sorted
      // each relation is sketched ONCE (persisted 2048-cell frame, the
      // at-rest stats-table shape) and consulted by every pair; since
      // round 10 the sketch/estimate/greedy-order machinery is the
      // reusable [[graft.ops.JoinAdvisorOps]] API — this query is its
      // executing consumer (same estimates, same decision, same hash)
      val sk: Map[String, DataFrame] = names.map(n =>
        n -> JoinAdvisorOps.sketch(rels(n).select("k"), "k").persist()).toMap
      val advice = JoinAdvisorOps.advise(sk)
      val best = advice.bestPair
      val worst = advice.worstPair
      def order(p: JoinAdvisorOps.PairEstimate): Seq[String] =
        Seq(p.a, p.b, (names.toSet -- Set(p.a, p.b)).head)
      def threeWay(ord: Seq[String]): DataFrame =
        ord.map(rels).reduce((l, r) =>
          l.hint("shuffle_hash").join(r, Seq("k")))
      def resOf(ord: Seq[String]): DataFrame = threeWay(ord)
        .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"))
      def exactOf(p: JoinAdvisorOps.PairEstimate): DataFrame =
        rels(p.a).select("k").hint("shuffle_hash")
          .join(rels(p.b).select("k"), Seq("k"))
          .agg(count(lit(1)).as("x"))
      assert(order(best) == advice.greedyOrder(names),
        "the executed best order must BE the advisor's greedy order")
      resOf(order(best))
        .select(col("n").as("n_best"), col("sc").as("sc_best"))
        .crossJoin(resOf(order(worst))
          .select(col("n").as("n_worst"), col("sc").as("sc_worst")))
        .crossJoin(exactOf(best).select(col("x").as("exact_best")))
        .crossJoin(exactOf(worst).select(col("x").as("exact_worst")))
        .select(lit(best.label).as("best_pair"),
                lit(worst.label).as("worst_pair"),
                lit(best.est).as("est_best"), lit(worst.est).as("est_worst"),
                col("exact_best"), col("exact_worst"),
                col("n_best").as("joined_rows"),
                col("sc_best").as("joined_cents"),
                (col("n_best") === col("n_worst") &&
                 col("sc_best") === col("sc_worst")).as("orders_agree"))
    }),

    // B09 — GREEDY JOIN CHAIN over FOUR relations: b07 proves the
    // advisor's first-join pick; this executes the FULL
    // [[graft.ops.JoinAdvisorOps.JoinAdvice.greedyOrder]] decision —
    // cheapest estimated pair opens, then cheapest-link extension —
    // against the shared-key quad (customer, events, orders, supplier).
    // The oracle re-derives the SAME greedy order from its own SQL
    // sketch estimates (best pair via min est, third via min link), so
    // hash parity proves the engine's ORDER, not just its result; the
    // anti-advisor execution (greedy reversed) rides along and the
    // orders_agree audit pins "order changes cost, never results". All
    // four chains are pinned shuffle_hash; the only driver values are
    // the 6 pair estimates (one certified-small collect).
    "b09_join_chain" -> ((s, dir) => {
      import graft.ops.JoinAdvisorOps
      val rels: Map[String, DataFrame] = Map(
        "customer" -> Tables(s, dir, "customer")
          .select(col("c_custkey").cast("string").as("k")),
        "events" -> Tables(s, dir, "events")
          .select(col("user_id").cast("string").as("k")),
        "orders" -> Tables(s, dir, "orders")
          .select(col("o_custkey").cast("string").as("k"),
                  cents(col("o_totalprice")).as("c")),
        "supplier" -> Tables(s, dir, "supplier")
          .select(col("s_suppkey").cast("string").as("k")))
      val names = rels.keys.toSeq.sorted
      val sk: Map[String, DataFrame] = names.map(n =>
        n -> JoinAdvisorOps.sketch(rels(n).select("k"), "k").persist()).toMap
      val advice = JoinAdvisorOps.advise(sk)
      val order = advice.greedyOrder(names)
      val anti = order.reverse
      def agg(ord: Seq[String]): DataFrame =
        ord.map(rels).reduce((l, r) =>
            l.hint("shuffle_hash").join(r, Seq("k")))
          .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"))
      agg(order).select(col("n").as("n_rows"), col("sc").as("cents"))
        .crossJoin(agg(anti)
          .select(col("n").as("_na"), col("sc").as("_sa")))
        .select(lit(order.mkString("-")).as("greedy_order"),
                lit(advice.bestPair.est).as("est_first"),
                col("n_rows"), col("cents"),
                (col("n_rows") === col("_na") &&
                 col("cents") <=> col("_sa")).as("orders_agree"))
    }),

    // X151 — the advisor WIRED INTO a real query (the b09 device applied
    // to a user-facing pipeline, not the advisor's own demo): b02's
    // four-relation revenue join, with the join ORDER produced by
    // adviseGraph over the query's own join graph and executed as
    // executeChain's left-deep pinned-shuffle_hash chain. The advice is
    // the certified-small contract (3 single-row edge estimates, one
    // collect — stats consultation, never data movement); inner joins
    // commute, so the result is HASH-IDENTICAL to b02 (the oracle IS
    // b02's SQL), and PlanShapeSpec asserts the physical leaf order
    // follows the advice. On this data the advisor opens with
    // customer–nation (the cheapest edge) and appends orders then
    // lineitem — fact tables join LAST, after the dimension prefix has
    // bounded the build sides, which is exactly the order a cost-based
    // optimizer would seed with.
    "x151_advised_revenue" -> ((s, dir) => {
      import graft.ops.JoinAdvisorOps
      import graft.ops.JoinAdvisorOps.JoinEdge
      val rels: Map[String, DataFrame] = Map(
        "lineitem" -> Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_extendedprice"),
                  col("l_discount")),
        "orders" -> Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey")),
        "customer" -> Tables(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey")),
        "nation" -> Tables(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name")))
      val edges = Seq(
        JoinEdge("lineitem", "l_orderkey", "orders", "o_orderkey"),
        JoinEdge("orders", "o_custkey", "customer", "c_custkey"),
        JoinEdge("customer", "c_nationkey", "nation", "n_nationkey"))
      val order = JoinAdvisorOps.adviseGraph(rels, edges)
        .greedyOrder(rels.keys.toSeq.sorted)
      JoinAdvisorOps.executeChain(rels, edges, order)
        .groupBy(col("n_name"))
        .agg(
          sum(cents(col("l_extendedprice")) *
              (lit(100) - cents(col("l_discount"))))
            .as("revenue_cents_x100"),
          count(lit(1)).as("n_items"))
        .orderBy(col("n_name"))
    }),

    // B08 — AQP AT REST: x108's deterministic PPS sample persisted as a
    // pay-once artifact (the b04 economics applied to approximate query
    // processing). The sample — (id, prio, w, step, mult), refreshed by
    // one prefix-sum pass when the data changes (the Scratch fingerprint
    // misses) — is written ONCE; the steady-state dashboard group-by
    // then reads |sample| rows, never the fact table. The
    // exact-recompute audit branch rides along so the oracle pins the
    // estimate against truth per group; in production that branch
    // doesn't exist and the per-query cost is a ~100-row scan, whatever
    // the fact table weighs.
    "b08_aqp_steady" -> ((s, dir) => {
      val n = 100
      val path = Scratch.dir("pps", dir)
      def orders0 = Tables(s, dir, "orders")
        .select(col("o_orderkey").as("id"),
                col("o_orderpriority").as("prio"),
                cents(col("o_totalprice")).as("w"))
      if (!new java.io.File(path, "_SUCCESS").exists())
        graft.ops.PrefixSumOps
          .runningSum(orders0, Seq(), "id", "w", "cum_w", "tot_w")
          .withColumn("step", expr(s"tot_w div $n"))
          .withColumn("anchor", expr("step div 2"))
          .filter(col("step") > 0)
          .withColumn("lo", col("cum_w") - col("w"))
          .withColumn("g_hi", expr(
            s"CASE WHEN cum_w <= anchor THEN 0L ELSE " +
            s"least(cast($n as bigint), (cum_w - anchor - 1) div step + 1) END"))
          .withColumn("g_lo", expr(
            s"CASE WHEN lo <= anchor THEN 0L ELSE " +
            s"least(cast($n as bigint), (lo - anchor - 1) div step + 1) END"))
          .withColumn("mult", col("g_hi") - col("g_lo"))
          .filter(col("mult") >= 1)
          .select(col("id"), col("prio"), col("w"), col("step"),
                  col("mult"))
          .coalesce(1).write.mode("overwrite").parquet(path)
      val est = s.read.parquet(path).groupBy(col("prio"))
        .agg(sum(col("mult")).as("n_sampled"),
             sum(col("mult") * col("step")).as("est_cents"),
             sum(expr("(mult * step + w DIV 2) div w")).as("est_n"))
      val exact = orders0.groupBy(col("prio"))
        .agg(count(lit(1)).as("exact_n"), sum(col("w")).as("exact_cents"))
      est.join(broadcast(exact), Seq("prio"))
        .select(col("prio"), col("n_sampled"),
                col("est_cents"), col("exact_cents"),
                expr("abs(est_cents - exact_cents) * 1000 div exact_cents")
                  .as("err_permille"),
                col("est_n"), col("exact_n"))
        .orderBy(col("prio"))
    }))

  val oracleSql: Map[String, String] = Map(
    // the audit aggregate straight from the PARQUET original — parity
    // proves the ORC roundtrip value-exact on every carried type
    "x169_orc_roundtrip" ->
      """SELECT l_returnflag, l_linestatus,
           count(*)::BIGINT AS n,
           CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
             AS qty_c,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS price_c,
           CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
             AS disc_c,
           count(DISTINCT l_shipdate)::BIGINT AS n_shipdates,
           max(l_shipdate) AS max_shipdate
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""",

    // identity, size, and fingerprint restated from the source table
    // (the files carry the text's UTF-8 bytes)
    "x177_binaryfile_ingest" ->
      """SELECT doc_id,
           octet_length(encode(text))::BIGINT AS length,
           md5(text) AS content_md5
         FROM documents WHERE doc_id % 100 = 0 ORDER BY doc_id""",

    // both populations restated from the clean table: doc_id % 7 = 0
    // lines were truncated (quarantined, nulls throughout), the rest
    // parse whole
    "x176_jsonl_corrupt" ->
      """SELECT quarantined, count(*)::BIGINT AS n,
           sum(n_chars)::BIGINT AS sum_chars,
           count(DISTINCT lang)::BIGINT AS n_lang
         FROM (SELECT doc_id % 7 = 0 AS quarantined,
                 CASE WHEN doc_id % 7 = 0 THEN NULL ELSE n_chars END
                   AS n_chars,
                 CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang
               FROM documents)
         GROUP BY 1 ORDER BY 1""",

    // both generations restated from the unsplit original: even keys
    // are gen 1 (int/float columns, no returnflag — the float
    // round-trip is reproduced via REAL so a value altered by the
    // widening cast would mismatch), odd keys are gen 2 (long/double)
    "x180_type_widening" ->
      """SELECT CASE WHEN l_orderkey % 2 = 0 THEN NULL
                ELSE l_returnflag END AS l_returnflag,
           count(*)::BIGINT AS n,
           CAST(sum(CAST(round(
             CASE WHEN l_orderkey % 2 = 0
                  THEN CAST(CAST(l_quantity AS REAL) AS DOUBLE)
                  ELSE l_quantity END * 100) AS BIGINT)) AS BIGINT)
             AS qty_c,
           sum(l_orderkey)::BIGINT AS sum_key,
           count(DISTINCT l_shipdate)::BIGINT AS n_shipdates
         FROM lineitem GROUP BY 1 ORDER BY 1""",

    // the audit restated from the original table — the compacted
    // generation ∪ live tail read must carry exactly the rows the five
    // micro-batches ingested, no more (vacuum replay) and no fewer
    // (a fold that dropped a batch)
    "x181_ingest_compaction" ->
      """SELECT l_linestatus,
           count(*)::BIGINT AS n,
           CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
             AS qty_c,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS price_c,
           count(DISTINCT l_shipdate)::BIGINT AS n_shipdates
         FROM lineitem WHERE l_returnflag = 'R'
         GROUP BY 1 ORDER BY 1""",

    // the FIRST snapshot restated from the original table: gen_1 holds
    // exactly batches 0 and 1 (orderkey mod 5 ∈ {0,1}) — green proves
    // the old generation survived the later fold and the
    // retention-bounded vacuum untouched
    "x185_ingest_time_travel" ->
      """SELECT l_linestatus,
           count(*)::BIGINT AS n,
           CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
             AS qty_c,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS price_c,
           count(DISTINCT l_shipdate)::BIGINT AS n_shipdates
         FROM lineitem
         WHERE l_returnflag = 'R' AND l_orderkey % 5 IN (0, 1)
         GROUP BY 1 ORDER BY 1""",

    // the final CDC state restated from the original table: every key
    // class except %4==3 was re-priced 2× by the following batch,
    // every 20th key was tombstoned — green proves latest-per-key
    // resolution across the fold boundary and tail tombstones hiding
    // generation rows
    "x186_ingest_upsert" ->
      """SELECT o_orderpriority,
           count(*)::BIGINT AS n,
           CAST(sum(CAST(round(o_totalprice *
             (CASE WHEN o_orderkey % 4 = 3 THEN 1 ELSE 2 END) * 100)
             AS BIGINT)) AS BIGINT) AS price_c,
           sum(o_orderkey)::BIGINT AS sum_key
         FROM orders WHERE o_orderkey % 20 <> 0
         GROUP BY 1 ORDER BY 1""",

    // the three change classes restated from the original table:
    // inserts are the %4==3 class at original price, updates the
    // %4==2 class at doubled price, deletes every 20th key at its
    // pre-delete doubled price
    "x187_snapshot_diff" ->
      """SELECT * FROM (
           SELECT 'delete' AS _change, count(*)::BIGINT AS n,
             sum(o_orderkey)::BIGINT AS sum_key,
             CAST(sum(CAST(round(o_totalprice * 2 * 100) AS BIGINT))
               AS BIGINT) AS price_c
           FROM orders WHERE o_orderkey % 20 = 0
           UNION ALL
           SELECT 'insert', count(*)::BIGINT,
             sum(o_orderkey)::BIGINT,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
               AS BIGINT)
           FROM orders WHERE o_orderkey % 4 = 3
           UNION ALL
           SELECT 'update', count(*)::BIGINT,
             sum(o_orderkey)::BIGINT,
             CAST(sum(CAST(round(o_totalprice * 2 * 100) AS BIGINT))
               AS BIGINT)
           FROM orders WHERE o_orderkey % 4 = 2
         ) ORDER BY _change""",

    // the same range audit from the original table — green proves the
    // manifest file skip + tail union lost no in-range row and leaked
    // no out-of-range one
    "x184_ingest_range_serve" ->
      """SELECT l_linestatus,
           count(*)::BIGINT AS n,
           CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
             AS qty_c,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS price_c,
           count(DISTINCT l_shipdate)::BIGINT AS n_shipdates,
           min(l_shipdate) AS min_shipdate,
           max(l_shipdate) AS max_shipdate
         FROM lineitem
         WHERE l_shipdate >= DATE '1995-06-01'
           AND l_shipdate <= DATE '1996-06-01'
         GROUP BY 1 ORDER BY 1""",

    // the plain join semantics — green proves the injected bloom
    // filter (a may-contain structure) changed shuffle volume only,
    // never a result
    "x182_runtime_bloom_join" ->
      """SELECT l_returnflag,
           count(*)::BIGINT AS n,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                AS BIGINT) AS revenue_cents_x100,
           count(DISTINCT o_orderdate)::BIGINT AS n_dates
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderpriority = '1-URGENT'
         GROUP BY 1 ORDER BY 1""",

    // the same aggregate expression-only (every fact key matches the
    // dense range dimension, and grp is a pure function of the key) —
    // green proves the runtime skew split changed task boundaries,
    // never results
    "x183_aqe_skew_split" ->
      """SELECT (CASE WHEN l_orderkey % 20 < 19 THEN 0
                 ELSE l_orderkey END) % 7 AS grp,
           count(*)::BIGINT AS n,
           CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
             AS qty_c,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS price_c
         FROM lineitem GROUP BY 1 ORDER BY 1""",

    // the two generations restated from the unsplit original: even
    // orderkeys are gen 1 (l_returnflag arrived later → NULL), odd are
    // gen 2 (column present)
    "x175_schema_evolution" ->
      """SELECT CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE 2 END AS g,
           CASE WHEN l_orderkey % 2 = 0 THEN NULL
                ELSE l_returnflag END AS l_returnflag,
           count(*)::BIGINT AS n,
           CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
             AS qty_c,
           count(DISTINCT l_shipdate)::BIGINT AS n_shipdates
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""",

    // the same dimension-driven join from the unpartitioned parquet
    // original — green proves the runtime (dynamic) partition prune
    // lost no rows and double-counted none
    "x179_dpp_star_prune" ->
      """SELECT l_linestatus,
           count(*)::BIGINT AS n,
           CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
             AS qty_c,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS price_c,
           count(DISTINCT l_shipdate)::BIGINT AS n_shipdates
         FROM lineitem l
         JOIN (SELECT l_returnflag,
                 CASE WHEN l_returnflag = 'R' THEN 'returned'
                      ELSE 'kept' END AS flag_grp
               FROM (SELECT DISTINCT l_returnflag FROM lineitem)) d
           ON d.l_returnflag = l.l_returnflag
         WHERE d.flag_grp = 'returned'
         GROUP BY 1 ORDER BY 1""",

    // same predicate over the PARQUET original — green proves the
    // partition-pruned + predicate-pushed ORC read lost nothing
    "x172_orc_partitioned" ->
      """SELECT l_linestatus,
           count(*)::BIGINT AS n,
           CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
             AS qty_c,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS price_c,
           count(DISTINCT l_shipdate)::BIGINT AS n_shipdates,
           min(l_shipdate) AS min_shipdate,
           max(l_shipdate) AS max_shipdate
         FROM lineitem
         WHERE l_returnflag = 'R' AND l_shipdate >= DATE '1995-06-01'
         GROUP BY 1 ORDER BY 1""",

    "b01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_base_cents,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
             AS sum_disc_cents_x100,
           round(avg(l_quantity), 4) AS avg_qty,
           count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "b02_revenue_by_nation" ->
      """SELECT n_name,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
             AS revenue_cents_x100,
           count(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name""",
    // inner joins commute: the advised order must reproduce b02 exactly
    "x151_advised_revenue" ->
      """SELECT n_name,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
             AS revenue_cents_x100,
           count(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name""",

    // same rows as the raw-parquet join: layout must never change results
    "b03_bucketed_revenue" ->
      """SELECT o_orderpriority,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
             AS revenue_cents_x100,
           count(*) AS n_items
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "b04_sketch_steady" ->
      """SELECT o_orderpriority AS prio, count(*)::BIGINT AS n_orders,
           TRUE AS hll_ok
         FROM orders GROUP BY 1 ORDER BY 1""",

    // merged view must equal the full recompute — the oracle computes
    // the recompute and pins ivm_ok TRUE
    "b06_ivm_steady" ->
      """SELECT o_orderpriority AS prio, count(*)::BIGINT AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           TRUE AS ivm_ok
         FROM orders GROUP BY 1 ORDER BY 1""",

    // layout must never change results: the oracle runs the identical
    // deterministic quantizer + multi-probe + exact in-cell top-k with
    // no partitioned table at all
    "b05_ann_steady" -> {
      val cell = (0 until 3).map(i =>
        s"(CASE WHEN v[${i + 1}] >= 0 THEN ${1L << i} ELSE 0 END)")
        .mkString(" + ")
      val cos =
        """CASE WHEN sqrt(list_dot_product(qv, qv)) = 0
                OR sqrt(list_dot_product(cv, cv)) = 0 THEN NULL
           ELSE list_dot_product(qv, cv) /
                (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
           END"""
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                     FROM embeddings),
          s AS (SELECT vec_id, v, ($cell)::INT AS cell FROM e),
          q AS (SELECT vec_id AS qid, v AS qv, cell AS qc
                FROM s WHERE vec_id < 5),
          pr AS (SELECT qid, qv,
                   unnest([qc, xor(qc, 1), xor(qc, 2), xor(qc, 4)]) AS cell
                 FROM q),
          cand AS (SELECT p.qid, p.qv, c.vec_id AS nid, c.v AS cv
                   FROM pr p JOIN s c
                     ON c.cell = p.cell AND c.vec_id <> p.qid),
          r AS (SELECT qid, nid, $cos AS cos FROM cand),
          rk AS (SELECT qid, nid, cos,
                   row_number() OVER (PARTITION BY qid
                     ORDER BY cos DESC NULLS LAST, nid) AS rank
                 FROM r)
          SELECT qid, rank::BIGINT AS rank, nid, round(cos, 4) AS cos
          FROM rk WHERE rank <= 3 ORDER BY qid, rank"""
    },

    // the oracle reproduces the DECISION (same sketch formula, same
    // tie-breaks) and computes the 3-way join once — join order cannot
    // change SQL results, so orders_agree is pinned TRUE
    "b07_join_order" -> {
      def sk(rel: String, key: String, cnt: String) =
        s"""(SELECT rs.r AS r,
               ('0x' || substr(md5(rs.r::VARCHAR || ':' || $key::VARCHAR),
                 1, 8))::BIGINT % 512 AS b, count(*)::BIGINT AS $cnt
             FROM $rel CROSS JOIN
               (SELECT unnest([0, 1, 2, 3]) AS r) rs GROUP BY 1, 2)"""
      def pair(na: String, ka: String, nb: String, kb: String) =
        s"""SELECT '$na-$nb' AS pair,
              (SELECT CASE WHEN count(*) < 4 THEN 0 ELSE min(ip) END
                 FROM (
                 SELECT sum(sa.ca * sb.cb)::BIGINT AS ip
                 FROM ${sk(na, ka, "ca")} sa
                 JOIN ${sk(nb, kb, "cb")} sb ON sb.r = sa.r AND sb.b = sa.b
                 GROUP BY sa.r))::BIGINT AS est,
              (SELECT count(*) FROM $na a JOIN $nb b
                 ON a.$ka = b.$kb)::BIGINT AS exact"""
      s"""WITH allp AS (
            ${pair("customer", "c_custkey", "events", "user_id")}
            UNION ALL
            ${pair("customer", "c_custkey", "orders", "o_custkey")}
            UNION ALL
            ${pair("events", "user_id", "orders", "o_custkey")}),
          best AS (SELECT pair, est, exact FROM allp
                   ORDER BY est, pair LIMIT 1),
          worst AS (SELECT pair, est, exact FROM allp
                    ORDER BY est DESC, pair DESC LIMIT 1),
          j AS (SELECT count(*)::BIGINT AS n,
                  CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS sc
                FROM events e
                JOIN orders o ON o.o_custkey = e.user_id
                JOIN customer c ON c.c_custkey = e.user_id)
          SELECT best.pair AS best_pair, worst.pair AS worst_pair,
            best.est AS est_best, worst.est AS est_worst,
            best.exact AS exact_best, worst.exact AS exact_worst,
            j.n AS joined_rows, j.sc AS joined_cents,
            TRUE AS orders_agree
          FROM best, worst, j"""
    },

    // the greedy order is RE-DERIVED in SQL from the oracle's own
    // sketch estimates (min-est opening pair, min-link extension, same
    // tie-breaks), so hash parity proves the engine's decision
    "b09_join_chain" -> {
      def sk(rel: String, key: String, cnt: String) =
        s"""(SELECT rs.r AS r,
               ('0x' || substr(md5(rs.r::VARCHAR || ':' || $key::VARCHAR),
                 1, 8))::BIGINT % 512 AS b, count(*)::BIGINT AS $cnt
             FROM $rel CROSS JOIN
               (SELECT unnest([0, 1, 2, 3]) AS r) rs GROUP BY 1, 2)"""
      def pair(na: String, ka: String, nb: String, kb: String) =
        s"""SELECT '$na' AS a, '$nb' AS b,
              (SELECT CASE WHEN count(*) < 4 THEN 0 ELSE min(ip) END
                 FROM (
                 SELECT sum(sa.ca * sb.cb)::BIGINT AS ip
                 FROM ${sk(na, ka, "ca")} sa
                 JOIN ${sk(nb, kb, "cb")} sb ON sb.r = sa.r AND sb.b = sa.b
                 GROUP BY sa.r))::BIGINT AS est"""
      s"""WITH allp AS MATERIALIZED (
            ${pair("customer", "c_custkey", "events", "user_id")}
            UNION ALL
            ${pair("customer", "c_custkey", "orders", "o_custkey")}
            UNION ALL
            ${pair("customer", "c_custkey", "supplier", "s_suppkey")}
            UNION ALL
            ${pair("events", "user_id", "orders", "o_custkey")}
            UNION ALL
            ${pair("events", "user_id", "supplier", "s_suppkey")}
            UNION ALL
            ${pair("orders", "o_custkey", "supplier", "s_suppkey")}),
          best AS (SELECT a, b, est FROM allp ORDER BY est, a, b LIMIT 1),
          opened AS (SELECT a AS n FROM best UNION SELECT b FROM best),
          rest AS (SELECT n FROM (VALUES ('customer'), ('events'),
                     ('orders'), ('supplier')) t(n)
                   WHERE n NOT IN (SELECT n FROM opened)),
          link AS (SELECT r.n AS n, min(p.est) AS le
                   FROM rest r JOIN allp p
                     ON (p.a = r.n AND p.b IN (SELECT n FROM opened))
                     OR (p.b = r.n AND p.a IN (SELECT n FROM opened))
                   GROUP BY 1),
          third AS (SELECT n FROM link ORDER BY le, n LIMIT 1),
          fourth AS (SELECT n FROM rest
                     WHERE n NOT IN (SELECT n FROM third)),
          j AS (SELECT count(*)::BIGINT AS n,
                  CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS sc
                FROM events e
                JOIN orders o ON o.o_custkey = e.user_id
                JOIN customer c ON c.c_custkey = e.user_id
                JOIN supplier s ON s.s_suppkey = e.user_id)
          SELECT (SELECT a FROM best) || '-' || (SELECT b FROM best)
                 || '-' || (SELECT n FROM third)
                 || '-' || (SELECT n FROM fourth) AS greedy_order,
            (SELECT est FROM best) AS est_first,
            j.n AS n_rows, j.sc AS cents, TRUE AS orders_agree
          FROM j"""
    },

    // the at-rest sample is the SAME deterministic PPS dataflow x108
    // derives inline — one oracle pins both (estimate AND audit)
    "b08_aqp_steady" -> ExtensionQueries.oracleSql("x108_aqp_sample"))
}
