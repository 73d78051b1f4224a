package graft.io

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec

class CompactionSpec extends SparkSpec {

  private def tmp(tag: String) =
    Files.createTempDirectory(s"graft_$tag").toString

  /** A deliberately fragmented copy of sf0.001 documents: 16 tiny files. */
  private lazy val fragmented: String = {
    val dir = tmp("frag")
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .repartition(16).write.mode("overwrite").parquet(dir)
    dir
  }

  test("compact merges small files without changing content") {
    val out = tmp("compact")
    val inFiles = Compaction.dataFiles(spark, fragmented).size
    val totalBytes = Compaction.dataFiles(spark, fragmented).map(_._2).sum
    val nOut = Compaction.compact(spark, fragmented, out, totalBytes * 2)
    assert(inFiles == 16)
    assert(nOut == 1, s"2x-total target must compact to one file, got $nOut")
    val a = spark.read.parquet(fragmented)
    val b = spark.read.parquet(out)
    assert(b.count() == a.count())
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("sorted compaction range-clusters: per-file zones are disjoint") {
    val out = tmp("sorted")
    val totalBytes = Compaction.dataFiles(spark, fragmented).map(_._2).sum
    val nOut = Compaction.compact(spark, fragmented, out,
      math.max(1L, totalBytes / 4), sortCols = Seq("doc_id"))
    assert(nOut >= 3, s"quarter-size target should yield >=3 files, got $nOut")
    val zones = Compaction.zoneMap(spark, out, Seq("doc_id"))
      .orderBy("doc_id_min")
      .select("doc_id_min", "doc_id_max").collect()
    zones.sliding(2).foreach {
      case Array(prev, next) =>
        assert(prev.getLong(1) <= next.getLong(0),
          s"zones overlap: ${prev.mkString(",")} vs ${next.mkString(",")}")
      case _ =>
    }
  }

  test("zoneMap matches brute-force per-file stats") {
    val zm = Compaction.zoneMap(spark, fragmented, Seq("doc_id", "n_chars"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(zm.size == 16)
    Compaction.dataFiles(spark, fragmented).foreach { case (f, _) =>
      val one = spark.read.parquet(f)
        .agg(count(lit(1)), min("doc_id"), max("doc_id"),
             min("n_chars"), max("n_chars"),
             sum(col("n_chars").isNull.cast("long"))).head
      // zoneMap's `file` comes from _metadata.file_path (file:/ prefix)
      val key = zm.keys.find(_.endsWith(f.replaceFirst("^file:/+", "/")))
        .getOrElse(fail(s"no zone row for $f"))
      val z = zm(key)
      assert(z.getAs[Long]("rows") == one.getLong(0))
      assert(z.getAs[Long]("doc_id_min") == one.getLong(1))
      assert(z.getAs[Long]("doc_id_max") == one.getLong(2))
      assert(z.getAs[Long]("n_chars_min") == one.getLong(3))
      assert(z.getAs[Long]("n_chars_max") == one.getLong(4))
      assert(z.getAs[Long]("n_chars_nulls") == one.getLong(5))
    }
  }

  test("readPruned on a clustered layout reads fewer files, same result") {
    val out = tmp("pruned")
    val totalBytes = Compaction.dataFiles(spark, fragmented).map(_._2).sum
    Compaction.compact(spark, fragmented, out,
      math.max(1L, totalBytes / 8), sortCols = Seq("n_chars"))
    val zm = Compaction.zoneMap(spark, out, Seq("n_chars")).cache()
    val nFiles = Compaction.dataFiles(spark, out).size
    val (lo, hi) = (lit(100), lit(200))
    val cand = Compaction.candidateFiles(zm, "n_chars", lo, hi)
    assert(cand.nonEmpty && cand.size < nFiles,
      s"narrow range should prune: ${cand.size} of $nFiles files")
    val pruned = Compaction.readPruned(spark, out, zm, "n_chars", lo, hi)
    assert(pruned.inputFiles.length == cand.size,
      "scan must touch exactly the candidate files")
    val full = spark.read.parquet(out)
      .filter(col("n_chars") >= 100 && col("n_chars") <= 200)
    assert(pruned.count() == full.count() && full.count() > 0)
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
    zm.unpersist()
  }

  test("readPruned returns an empty, correctly-typed frame when no file matches") {
    val zm = Compaction.zoneMap(spark, fragmented, Seq("n_chars"))
    val none = Compaction.readPruned(spark, fragmented, zm, "n_chars",
      lit(-500), lit(-100))
    assert(none.count() == 0)
    assert(none.schema.fieldNames.contains("doc_id"))
  }

  test("zoneMapRefresh profiles only new files and drops rows for vanished ones") {
    val dir = tmp("refresh")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.filter(col("doc_id") < 250).repartition(4)
      .write.mode("overwrite").parquet(dir)
    val m0 = Compaction.zoneMap(spark, dir, Seq("n_chars"))
      .collect() // freeze the initial manifest
    val m0df = spark.createDataFrame(
      spark.sparkContext.parallelize(m0.toSeq),
      Compaction.zoneMap(spark, dir, Seq("n_chars")).schema)
    // append a batch: 4 more files land next to the original 4
    docs.filter(col("doc_id") >= 250).repartition(4)
      .write.mode("append").parquet(dir)
    val refreshed = Compaction.zoneMapRefresh(spark, dir, Seq("n_chars"), m0df)
    val full = Compaction.zoneMap(spark, dir, Seq("n_chars"))
    assert(refreshed.count() == 8)
    assert(refreshed.exceptAll(full).isEmpty && full.exceptAll(refreshed).isEmpty,
      "incremental refresh must equal a full rebuild")
    // rows for files that no longer exist must drop out
    val stale = m0df.withColumn("file", concat(col("file"), lit(".gone")))
    val cleaned = Compaction.zoneMapRefresh(spark, dir, Seq("n_chars"), stale)
    assert(cleaned.count() == 8, "stale rows dropped, all live files re-profiled")
  }

  // ---- streaming-ingest layout maintenance ----

  import org.apache.spark.sql.DataFrame

  private def sinkRows(n: Range, flagOf: Int => String): DataFrame = {
    import spark.implicits._
    n.map(i => (flagOf(i), i.toLong)).toDF("flag", "qty")
  }

  /** Drive the REAL sink body for `batches` micro-batches of 10 rows
    * each over three flags, into `live`. */
  private def ingest(live: String, batches: Range): Unit = {
    val fn = Compaction.partitionedSinkBatch(live, Seq("flag"))
    batches.foreach { b =>
      fn(sinkRows(b * 10 until (b + 1) * 10,
        i => Seq("R", "A", "N")(i % 3)), b.toLong)
    }
  }

  private def contents(df: DataFrame): Set[(String, Long)] =
    df.select(col("flag"), col("qty")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet

  private def expect(n: Range): Set[(String, Long)] =
    n.map(i => (Seq("R", "A", "N")(i % 3), i.toLong)).toSet

  test("compactIngest folds sealed batches behind an atomic watermark; " +
       "readIngest = generation ∪ live tail; vacuum removes folded " +
       "directories without changing results") {
    val root = tmp("ingest")
    val live = s"$root/live"; val comp = s"$root/compact"
    ingest(live, 0 until 4)
    assert(Compaction.batchDirs(spark, live).map(_._1).toSet ==
      Set(0L, 1L, 2L, 3L))
    // before any compaction the reader is just the live layout
    assert(contents(Compaction.readIngest(spark, live, comp)) ==
      expect(0 until 40))
    val wm = Compaction.compactIngest(spark, live, comp, Seq("flag"),
      targetBytes = 1L << 30)
    assert(wm == 3L &&
      Compaction.compactedThrough(spark, comp) == 3L)
    // a batch arriving AFTER the compaction stays visible via the tail
    ingest(live, 4 until 5)
    assert(contents(Compaction.readIngest(spark, live, comp)) ==
      expect(0 until 50))
    // vacuum deletes exactly the folded batch dirs, results unchanged
    val dirsBefore = Compaction.batchDirs(spark, live).size
    val removed = Compaction.vacuumLive(spark, live, comp)
    val after = Compaction.batchDirs(spark, live)
    assert(after.map(_._1).forall(_ > 3L),
      s"folded batch dirs survived vacuum: ${after.map(_._1).distinct}")
    assert(removed == dirsBefore - after.size)
    assert(contents(Compaction.readIngest(spark, live, comp)) ==
      expect(0 until 50))
    // the fold actually compacted: one generation holds 4 batches' rows
    // in ≤ one file per output task per partition
    val genFiles = Compaction.dataFiles(spark, s"$comp/gen_3").size
    assert(genFiles <= 3, s"expected ≤1 file per partition, got $genFiles")
  }

  test("a crash before the watermark commit is invisible; re-running " +
       "the compactor overwrites the orphan generation and commits") {
    val root = tmp("ingcrash")
    val live = s"$root/live"; val comp = s"$root/compact"
    ingest(live, 0 until 3)
    // simulate the crash: a fully-written generation, no watermark —
    // exactly what a failure between save() and commitWatermark leaves
    spark.read.parquet(live).drop("_batch_id")
      .write.partitionBy("flag").parquet(s"$comp/gen_2")
    assert(Compaction.compactedThrough(spark, comp) == -1L)
    assert(contents(Compaction.readIngest(spark, live, comp)) ==
      expect(0 until 30),
      "an uncommitted generation must be invisible to readers")
    // vacuum must refuse — nothing is committed, nothing is safe
    val e = intercept[IllegalArgumentException](
      Compaction.vacuumLive(spark, live, comp))
    assert(e.getMessage.contains("no committed compaction"))
    // the re-run folds the same batches, overwrites the orphan, commits
    assert(Compaction.compactIngest(spark, live, comp, Seq("flag"),
      1L << 30) == 2L)
    assert(contents(Compaction.readIngest(spark, live, comp)) ==
      expect(0 until 30))
  }

  test("a second compaction cycle folds generation + new tail; vacuum " +
       "removes the superseded generation; a no-op cycle fails loud") {
    val root = tmp("ingcycle")
    val live = s"$root/live"; val comp = s"$root/compact"
    ingest(live, 0 until 2)
    Compaction.compactIngest(spark, live, comp, Seq("flag"), 1L << 30)
    val e = intercept[IllegalArgumentException](
      Compaction.compactIngest(spark, live, comp, Seq("flag"), 1L << 30))
    assert(e.getMessage.contains("nothing new to compact"))
    ingest(live, 2 until 5)
    assert(Compaction.compactIngest(spark, live, comp, Seq("flag"),
      1L << 30) == 4L)
    assert(contents(Compaction.readIngest(spark, live, comp)) ==
      expect(0 until 50))
    Compaction.vacuumLive(spark, live, comp)
    assert(!new java.io.File(s"$comp/gen_1".replaceFirst("^file:", ""))
      .exists(), "the superseded generation must be vacuumed")
    assert(contents(Compaction.readIngest(spark, live, comp)) ==
      expect(0 until 50))
    // everything folded and vacuumed: the reader is the generation alone
    assert(Compaction.batchDirs(spark, live).isEmpty)
  }

  test("a range-clustered fold (sortCols) makes the generation " +
       "zone-prunable: per-partition file zones are disjoint and a " +
       "range read through the manifest prunes files") {
    val root = tmp("ingsort")
    val live = s"$root/live"; val comp = s"$root/compact"
    ingest(live, 0 until 4)
    val bytes = Compaction.batchDirs(spark, live)
      .flatMap { case (_, d) => Compaction.dataFiles(spark, d) }
      .map(_._2).sum
    Compaction.compactIngest(spark, live, comp, Seq("flag"),
      targetBytes = math.max(1L, bytes / 3), sortCols = Seq("qty"))
    val gen = s"$comp/gen_3"
    val zm = Compaction.zoneMap(spark, gen, Seq("qty"))
    // per business partition, the range clustering makes file zones
    // disjoint — the property zone-map pruning profits from
    val rows = zm.select("file", "qty_min", "qty_max").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    rows.groupBy(_._1.replaceAll("/[^/]*$", ""))
      .foreach { case (_, fs) =>
        fs.sortBy(_._2).sliding(2).foreach {
          case Array(a, b) =>
            assert(a._3 <= b._2, s"zones overlap within a partition: $a $b")
          case _ =>
        }
      }
    // a manifest-pruned range read: correct rows, fewer files opened
    val pruned = Compaction.readPruned(spark, gen, zm, "qty",
      lit(5L), lit(12L))
    assert(contents(pruned) == expect(0 until 40)
      .filter(x => x._2 >= 5 && x._2 <= 12))
    val candidates = Compaction.candidateFiles(zm, "qty",
      lit(5L), lit(12L))
    assert(candidates.size < rows.length,
      s"the 8-value range should not need all ${rows.length} files")
  }

  test("maintenance under a LIVE stream: fold + vacuum between " +
       "micro-batches never disturbs the sink's checkpointed progress " +
       "or the maintained read") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmp("inglive")
    val live = s"$root/live"; val comp = s"$root/compact"
    val fn = Compaction.partitionedSinkBatch(live, Seq("flag"))
    val mem = MemoryStream[(String, Long)]
    val sq = mem.toDS().toDF("flag", "qty").writeStream
      .foreachBatch(fn)
      .option("checkpointLocation", s"$root/ckpt")
      .start()
    def feed(r: Range): Unit = {
      mem.addData(r.map(i => (Seq("R", "A", "N")(i % 3), i.toLong)): _*)
      sq.processAllAvailable()
    }
    feed(0 until 10); feed(10 until 20)
    // the maintenance cycle runs while the stream is live
    Compaction.compactIngest(spark, live, comp, Seq("flag"), 1L << 30)
    Compaction.vacuumLive(spark, live, comp)
    assert(contents(Compaction.readIngest(spark, live, comp)) ==
      expect(0 until 20))
    // the sink keeps committing new batches after the vacuum
    feed(20 until 30)
    sq.stop()
    assert(contents(Compaction.readIngest(spark, live, comp)) ==
      expect(0 until 30))
    // and the next fold picks up exactly the post-vacuum tail
    Compaction.compactIngest(spark, live, comp, Seq("flag"), 1L << 30)
    Compaction.vacuumLive(spark, live, comp)
    assert(contents(Compaction.readIngest(spark, live, comp)) ==
      expect(0 until 30))
  }

  test("an UNSEALED batch (directories present, no marker — a stream " +
       "mid-write) is never folded: the watermark stops below it and " +
       "its rows stay served from the live tail") {
    val root = tmp("ingseal")
    val live = s"$root/live"; val comp = s"$root/compact"
    ingest(live, 0 until 3)
    // simulate batch 2 mid-write: its directories exist, seal not yet
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(live, "_sealed_2"), false)
    assert(Compaction.sealedIds(spark, live) == Set(0L, 1L))
    val wm = Compaction.compactIngest(spark, live, comp, Seq("flag"),
      1L << 30)
    assert(wm == 1L, "the fold must stop below the unsealed batch")
    // nothing lost: batch 2 serves from the tail
    assert(contents(Compaction.readIngest(spark, live, comp)) ==
      expect(0 until 30))
    Compaction.vacuumLive(spark, live, comp)
    assert(Compaction.batchDirs(spark, live).map(_._1).toSet == Set(2L),
      "vacuum must keep the unsealed batch")
    assert(contents(Compaction.readIngest(spark, live, comp)) ==
      expect(0 until 30))
    // a layout with NO sealed batches at all fails loud
    val root2 = tmp("ingseal2")
    ingest(s"$root2/live", 0 until 1)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root2/live", "_sealed_0"),
      false)
    val e = intercept[IllegalArgumentException](
      Compaction.compactIngest(spark, s"$root2/live", s"$root2/compact",
        Seq("flag"), 1L << 30))
    assert(e.getMessage.contains("no SEALED batches"))
  }

  test("snapshot reads: gen_W is exactly batches 0..W; retention keeps " +
       "the last N fold snapshots; an as-of read of a vacuumed " +
       "snapshot fails loud listing what is available") {
    val root = tmp("ingtt")
    val live = s"$root/live"; val comp = s"$root/compact"
    ingest(live, 0 until 2)
    Compaction.compactIngest(spark, live, comp, Seq("flag"), 1L << 30)
    ingest(live, 2 until 4)
    Compaction.compactIngest(spark, live, comp, Seq("flag"), 1L << 30)
    ingest(live, 4 until 5)
    Compaction.compactIngest(spark, live, comp, Seq("flag"), 1L << 30)
    assert(Compaction.generations(spark, comp) == Seq(1L, 3L, 4L))
    // each snapshot is the table as of its fold, immutable
    assert(contents(Compaction.readIngestAsOf(spark, comp, 1L)) ==
      expect(0 until 20))
    assert(contents(Compaction.readIngestAsOf(spark, comp, 3L)) ==
      expect(0 until 40))
    // retention keeps the newest two (the committed gen always stays)
    Compaction.vacuumLive(spark, live, comp, retainGenerations = 2)
    assert(Compaction.generations(spark, comp) == Seq(3L, 4L))
    assert(contents(Compaction.readIngestAsOf(spark, comp, 3L)) ==
      expect(0 until 40))
    assert(contents(Compaction.readIngest(spark, live, comp)) ==
      expect(0 until 50))
    val e = intercept[IllegalArgumentException](
      Compaction.readIngestAsOf(spark, comp, 1L))
    assert(e.getMessage.contains("gen_1") &&
      e.getMessage.contains("3, 4"), e.getMessage)
    // retention below 1 can never be asked for
    val e2 = intercept[IllegalArgumentException](
      Compaction.vacuumLive(spark, live, comp, retainGenerations = 0))
    assert(e2.getMessage.contains("at least the committed generation"))
  }

  test("upsert fold + merge-on-read: latest version wins across the " +
       "fold boundary, tail tombstones hide generation rows, a " +
       "delete-then-reinsert resurrects the key, duplicate keys in " +
       "one batch fail loud") {
    import spark.implicits._
    val root = tmp("ingup")
    val live = s"$root/live"; val comp = s"$root/compact"
    val fn = Compaction.partitionedSinkBatch(live, Seq("flag"))
    def batch(rows: Seq[(String, Long, Double, Boolean)], id: Long) =
      fn(rows.toDF("flag", "key", "v", "del"), id)
    def state(): Map[Long, (String, Double)] =
      Compaction.readIngestUpsert(spark, live, comp, Seq("key"),
          deleteCol = Some("del"))
        .collect().map(r => r.getAs[Long]("key") ->
          ((r.getAs[String]("flag"), r.getAs[Double]("v")))).toMap
    batch(Seq(("R", 1L, 1.0, false), ("A", 2L, 2.0, false),
              ("R", 3L, 3.0, false)), 0L)
    batch(Seq(("R", 1L, 10.0, false), ("A", 4L, 4.0, false)), 1L)
    // pre-fold read resolves from the live layout alone
    assert(state() == Map(1L -> ("R", 10.0), 2L -> ("A", 2.0),
      3L -> ("R", 3.0), 4L -> ("A", 4.0)))
    Compaction.compactIngestUpsert(spark, live, comp, Seq("flag"),
      Seq("key"), 1L << 30, deleteCol = Some("del"))
    // the generation is the RESOLVED state: one row per key, no
    // tombstones, latest values
    val gen = spark.read.parquet(s"$comp/gen_1")
    assert(gen.count() == 4 &&
      gen.filter(col("key") === 1L).head.getAs[Double]("v") == 10.0)
    // tail: update across the fold boundary, tombstone hiding a gen
    // row, delete-then-reinsert in consecutive batches
    batch(Seq(("R", 3L, 30.0, false), ("A", 2L, 0.0, true)), 2L)
    batch(Seq(("A", 2L, 22.0, false), ("R", 1L, 0.0, true)), 3L)
    assert(state() == Map(2L -> ("A", 22.0), 3L -> ("R", 30.0),
      4L -> ("A", 4.0)),
      "update-over-gen, tombstone-over-gen, and reinsert-over-tombstone")
    // a second fold applies the same decisions and vacuums cleanly
    Compaction.compactIngestUpsert(spark, live, comp, Seq("flag"),
      Seq("key"), 1L << 30, deleteCol = Some("del"))
    Compaction.vacuumLive(spark, live, comp)
    assert(state() == Map(2L -> ("A", 22.0), 3L -> ("R", 30.0),
      4L -> ("A", 4.0)))
    assert(spark.read.parquet(s"$comp/gen_3").count() == 3)
    // a key moving PARTITION between versions: the keyed window wins
    batch(Seq(("N", 4L, 44.0, false)), 4L)
    assert(state()(4L) == ("N", 44.0),
      "a key that changed partition must resolve to its newest row")
    // malformed CDC: two rows for one key in ONE batch fails loud
    batch(Seq(("R", 9L, 1.0, false), ("R", 9L, 2.0, false)), 5L)
    val e = intercept[IllegalArgumentException](
      Compaction.compactIngestUpsert(spark, live, comp, Seq("flag"),
        Seq("key"), 1L << 30, deleteCol = Some("del")))
    assert(e.getMessage.contains("at most one row per key per batch"))
  }

  test("snapshotDiff classifies insert/update/delete between retained " +
       "snapshots, carries the right row version per class, and fails " +
       "loud on vacuumed snapshots, inverted ranges, and drifted " +
       "schemas") {
    import spark.implicits._
    val root = tmp("ingdiff")
    val live = s"$root/live"; val comp = s"$root/compact"
    val fn = Compaction.partitionedSinkBatch(live, Seq("flag"))
    def batch(rows: Seq[(String, Long, Double, Boolean)], id: Long) =
      fn(rows.toDF("flag", "key", "v", "del"), id)
    batch(Seq(("R", 1L, 1.0, false), ("A", 2L, 2.0, false),
              ("R", 3L, 3.0, false)), 0L)
    Compaction.compactIngestUpsert(spark, live, comp, Seq("flag"),
      Seq("key"), 1L << 30, deleteCol = Some("del"))
    batch(Seq(("R", 1L, 10.0, false), ("A", 2L, 0.0, true),
              ("N", 4L, 4.0, false)), 1L)
    Compaction.compactIngestUpsert(spark, live, comp, Seq("flag"),
      Seq("key"), 1L << 30, deleteCol = Some("del"))
    Compaction.vacuumLive(spark, live, comp, retainGenerations = 2)
    val d = Compaction.snapshotDiff(spark, comp, 0L, 1L, Seq("key"))
      .collect()
      .map(r => r.getAs[Long]("key") ->
        ((r.getAs[String]("_change"), r.getAs[Double]("v"))))
      .toMap
    // update carries the NEW version, delete the OLD, unchanged keys
    // (3) are absent
    assert(d == Map(1L -> ("update", 10.0), 2L -> ("delete", 2.0),
      4L -> ("insert", 4.0)), d.toString)
    val e1 = intercept[IllegalArgumentException](
      Compaction.snapshotDiff(spark, comp, 1L, 0L, Seq("key")))
    assert(e1.getMessage.contains("fromGen < toGen"))
    val e2 = intercept[IllegalArgumentException](
      Compaction.snapshotDiff(spark, comp, 0L, 7L, Seq("key")))
    assert(e2.getMessage.contains("gen_7") &&
      e2.getMessage.contains("0, 1"))
    // a drifted snapshot schema is refused, not silently mis-diffed
    spark.read.parquet(s"$comp/gen_1").withColumn("extra", lit(1))
      .write.partitionBy("flag").parquet(s"$comp/gen_9")
    val e3 = intercept[IllegalArgumentException](
      Compaction.snapshotDiff(spark, comp, 1L, 9L, Seq("key")))
    assert(e3.getMessage.contains("different columns"))
  }

  test("partitionedSinkBatch: stream-ingested partitioned layout equals " +
       "batch writePartitioned; a replayed batch is idempotent; the read " +
       "still prunes partitions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_psink")
      .toString
    val rows1 = Seq(("R", 1L), ("A", 2L))
    val rows2 = Seq(("R", 3L), ("N", 4L))
    val fn = Compaction.partitionedSinkBatch(s"$dir/out", Seq("flag"),
      "orc")
    val mem = MemoryStream[(String, Long)]
    val sq = mem.toDS().toDF("flag", "qty").writeStream
      .foreachBatch(fn)
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    mem.addData(rows1: _*)
    sq.processAllAvailable()
    mem.addData(rows2: _*)
    sq.processAllAvailable()
    sq.stop()
    // failure-recovery replay of the LAST batch (the at-least-once
    // window): the dynamic overwrite must replace, not duplicate
    fn(rows2.toDF("flag", "qty"), 1L)
    val streamed = spark.read.orc(s"$dir/out")
    assert(streamed.columns.contains("_batch_id"))
    val got = streamed.select(col("flag"), col("qty"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // the batch twin over the same rows
    graft.io.TableIo.writePartitioned(
      (rows1 ++ rows2).toDF("flag", "qty"), s"$dir/batch", Seq("flag"),
      "orc")
    val want = spark.read.orc(s"$dir/batch")
      .select(col("flag"), col("qty"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == want, s"stream $got != batch $want")
    assert(streamed.count() == 4, "replay must not duplicate rows")
    // the business partition column is still the pruning surface
    val plan = streamed.filter(col("flag") === "R")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("flag"),
      "partition pruning lost on the stream-ingested layout:\n" +
        plan.take(2000))
  }
}
