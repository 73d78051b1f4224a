package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table maintenance for parquet layouts: small-file compaction and
  * per-file zone-map manifests.
  *
  * A long-lived 100 TB table accretes files from many incremental writes
  * (streaming micro-batches, per-day appends, retried tasks): thousands of
  * KB-scale files per partition turn every scan into a task-scheduling and
  * footer-reading exercise long before any byte of data is touched. The two
  * standing remedies are (a) periodic COMPACTION into target-size files and
  * (b) a FILE-LEVEL statistics manifest so predicates prune whole files
  * without opening them — the same design Delta/Iceberg/Hudi ship, expressed
  * here directly over plain parquet directories.
  *
  * Scale design:
  *  - [[compact]] sizes the output from the listed ENCODED input bytes
  *    (compression survives a rewrite to within row-group framing), so the
  *    job needs no pre-scan. Unsorted compaction is one round-robin
  *    shuffle; sorted compaction is `repartitionByRange` +
  *    `sortWithinPartitions` — N parallel bounded sorts, never a global
  *    single-task sort, and the result is exactly the clustering
  *    [[zoneMap]] pruning profits from.
  *  - [[zoneMap]] is one scan of ONLY the profiled columns (column pruning
  *    keeps the read narrow) grouped by `_metadata.file_path` — the shuffle
  *    is |files| rows of (min,max,nulls) tuples, trivially small.
  *  - [[readPruned]] applies the manifest and hands Spark just the
  *    surviving files; the predicate is re-applied row-level, so pruning
  *    can only ever REMOVE work, never change a result.
  */
object Compaction {

  /** Leaf data files of a parquet directory with their encoded sizes —
    * a pure namenode/listing operation, no data read, no Spark job. */
  def dataFiles(spark: SparkSession, path: String): Seq[(String, Long)] = {
    val p = new Path(path)
    val fs = FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (f.isFile && !name.startsWith("_") && !name.startsWith("."))
        buf += ((f.getPath.toString, f.getLen))
    }
    buf.toSeq.sortBy(_._1)
  }

  /** Rewrite `inPath` into ~`targetBytes`-sized parquet files at `outPath`.
    *
    * Output file count = ceil(listed encoded bytes / targetBytes) — the
    * standard post-compression heuristic (row-group framing and dictionary
    * resets keep re-encoded size within ~±20% of input). With `sortCols`
    * the rewrite also range-clusters the data, which is what makes a
    * subsequent [[zoneMap]] selective; without, a round-robin shuffle
    * balances file sizes exactly. Returns the output file count. */
  def compact(spark: SparkSession, inPath: String, outPath: String,
              targetBytes: Long, sortCols: Seq[String] = Nil): Int = {
    require(targetBytes > 0, "compact needs a positive target file size")
    val totalBytes = dataFiles(spark, inPath).map(_._2).sum
    val n = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    val df = spark.read.parquet(inPath)
    if (sortCols.isEmpty)
      df.repartition(n).write.mode("overwrite").parquet(outPath)
    else
      TableIo.writeRangeSorted(df, outPath, n, sortCols)
    dataFiles(spark, outPath).size
  }

  /** Scheme-free canonical form shared by the HDFS listing
    * (`file:/x/y`) and `_metadata.file_path` (`file:///x/y`), so manifest
    * rows and listings compare exactly. */
  private def canon(p: String): String = p.replaceFirst("^file:/+", "/")

  private def canonCol(c: Column): Column =
    regexp_replace(c, "^file:/+", "/")

  /** Per-file zone maps: for each data file, row count plus min / max /
    * null count of every column in `cols`. One narrow scan; the manifest
    * is |files| rows — persist it next to the table and refresh on write
    * ([[zoneMapRefresh]] scans only NEW files). `file` is the canonical
    * path; columns come out as `<c>_min`, `<c>_max`, `<c>_nulls`. */
  def zoneMap(spark: SparkSession, path: String,
              cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "zoneMap needs at least one column to profile")
    spark.read.parquet(path)
      .select(canonCol(col("_metadata.file_path")).as("file")
                +: cols.map(col): _*)
      .groupBy("file")
      .agg(zoneAggs(cols).head, zoneAggs(cols).tail: _*)
  }

  /** Incremental manifest maintenance: manifest rows whose files still
    * exist, unioned with freshly-profiled rows for files the manifest
    * has never seen. Which files are new comes from the LISTING alone,
    * and only those files are opened — the append-mostly refresh a
    * streaming table needs after every micro-batch stays O(new data);
    * rows for files a compaction rewrote away drop out via the same
    * listing. */
  def zoneMapRefresh(spark: SparkSession, path: String, cols: Seq[String],
                     manifest: DataFrame): DataFrame = {
    val byCanon = dataFiles(spark, path)
      .map { case (p, _) => canon(p) -> p }.toMap
    val live = byCanon.keySet
    val known = manifest.select("file").collect().map(_.getString(0)).toSet
    val kept = manifest.filter(col("file").isin(live.toSeq: _*))
    val fresh = (live -- known).toSeq.sorted
    if (fresh.isEmpty) kept
    else {
      val freshZones = spark.read.parquet(fresh.map(byCanon): _*)
        .select(canonCol(col("_metadata.file_path")).as("file")
                  +: cols.map(col): _*)
        .groupBy("file")
        .agg(zoneAggs(cols).head, zoneAggs(cols).tail: _*)
      kept.unionByName(freshZones)
    }
  }

  private def zoneAggs(cols: Seq[String]): Seq[Column] =
    count(lit(1)).as("rows") +: cols.flatMap { c =>
      Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max"),
          sum(col(c).isNull.cast("long")).as(s"${c}_nulls"))
    }

  /** Files whose `[min, max]` zone for `column` intersects `[lo, hi]` —
    * i.e. every file that COULD hold a matching row. A null min/max means
    * the file is all-null in that column, and an all-null file cannot
    * satisfy a range predicate, so it is pruned too. */
  def candidateFiles(zoneMap: DataFrame, column: String,
                     lo: Column, hi: Column): Seq[String] = {
    val mn = col(s"${column}_min"); val mx = col(s"${column}_max")
    zoneMap.filter(mn.isNotNull && mx.isNotNull && mx >= lo && mn <= hi)
      .select("file").collect().map(_.getString(0)).toSeq
  }

  /** Range read through the manifest: scan only the files whose zones
    * intersect `[lo, hi]`, then re-apply the predicate row-level. On a
    * range-clustered layout (see [[compact]] with `sortCols`) this turns
    * a point/range lookup into an O(matching files) read; on a random
    * layout it degrades gracefully to a full scan with identical results.
    * Returns an empty frame with the table's schema when nothing can
    * match. */
  def readPruned(spark: SparkSession, path: String, zm: DataFrame,
                 column: String, lo: Column, hi: Column): DataFrame = {
    val files = candidateFiles(zm, column, lo, hi)
    val pred = col(column) >= lo && col(column) <= hi
    if (files.isEmpty)
      spark.read.parquet(path).filter(lit(false))
    else
      // basePath keeps directory-derived partition columns resolvable
      // when the surviving leaves sit under partition=value dirs (the
      // ingest-generation layout); on a flat layout it changes nothing
      spark.read.option("basePath", path).parquet(files: _*).filter(pred)
  }

  // ------------------------------------------------------------------
  // The streaming-ingest layout ([[partitionedSinkBatch]]) and its
  // maintenance: business partitions with a trailing `_batch_id=<id>`
  // level. The sink makes
  // every micro-batch idempotent, but it also makes the table accrete
  // one directory per (partition, batch) forever — at one batch a
  // minute that is half a million directories a year, and every scan
  // pays the listing. The maintenance loop below folds sealed batches
  // into compacted GENERATIONS without ever needing a transaction log,
  // keeping the directory readable as a plain columnar layout:
  //
  //   live/   flag=R/_batch_id=0/...      (the sink keeps appending)
  //   compact/gen_7/flag=R/...            (batches 0..7, compacted)
  //   compact/_compacted_through = "7"    (the COMMIT POINT)
  //
  // Readers ([[readIngest]]) take `compacted generation` ∪ `live
  // batches > watermark`. The watermark file is written temp-then-
  // atomic-rename, so every crash point is safe: a half-written
  // generation is invisible (watermark still points at the old one,
  // all live batches still present), and re-running the compactor
  // simply overwrites it. Deleting folded live batches
  // ([[vacuumLive]]) is pure retention, gated on the COMMITTED
  // watermark — it can lag arbitrarily and never affects results.
  // ------------------------------------------------------------------

  private val WatermarkName = "_compacted_through"

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    FileSystem.get(new Path(path).toUri,
                   spark.sparkContext.hadoopConfiguration)

  /** The ingest sink (x172's layout written by a stream): a stream
    * appending into the partitioned columnar layout ([[graft.io.TableIo.writePartitioned]])
    * with EXACTLY-ONCE semantics. Returns the `foreachBatch` body; the
    * caller wires it with a checkpoint:
    * {{{
    *   stream.writeStream
    *     .foreachBatch(Compaction.partitionedSinkBatch(path, Seq("dt")))
    *     .option("checkpointLocation", ckpt).start()
    * }}}
    *
    * Exactly-once mechanics: each micro-batch writes under an extra
    * trailing `_batch_id=<id>` partition level in DYNAMIC partition-
    * overwrite mode, so a batch REPLAYED after a failure (the at-least-
    * once window between a sink write and the checkpoint commit)
    * overwrites exactly its own `(partition values, _batch_id)`
    * directories — idempotent — while every other batch's directories
    * are untouched. The business partition column stays the TOP
    * directory level, so readers prune on it exactly as on the batch
    * layout (CompactionSpec pins PartitionFilters on the read), and the
    * extra level is invisible to partition-pruned scans.
    *
    * Why not Spark's built-in file sink (`writeStream.format("orc")`):
    * it is also exactly-once, but through a driver-side `_spark_metadata`
    * transaction log that grows with every batch for the table's
    * lifetime, must be compacted, and makes the directory unreadable as
    * a PLAIN columnar layout (readers that don't consult the log see
    * uncommitted files). The batch-id partition level carries the same
    * guarantee in the layout itself — any engine can read the directory,
    * and retention/compaction work per directory ([[compactIngest]]
    * and [[vacuumLive]] below). */
  def partitionedSinkBatch(path: String, partitionCols: Seq[String],
                           format: String = "parquet")
      : (DataFrame, Long) => Unit = {
    require(partitionCols.nonEmpty,
      "partitionedSinkBatch needs at least one partition column")
    require(!partitionCols.contains("_batch_id"),
      "_batch_id is the sink's idempotency level — it cannot also be a " +
        "business partition column")
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      val key = "spark.sql.sources.partitionOverwriteMode"
      val old = spark.conf.getOption(key)
      spark.conf.set(key, "dynamic")
      try
        batch.withColumn("_batch_id", lit(batchId))
          .write.mode("overwrite")
          .partitionBy((partitionCols :+ "_batch_id"): _*)
          .format(format).save(path)
      finally old.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
      // SEAL the batch: its directories exist from the first task
      // commit onward, so a maintenance fold running beside the stream
      // could otherwise read a half-written batch, advance the
      // watermark past it, and permanently hide the late-arriving rows
      // behind the `> watermark` tail filter. The marker is written
      // only after save() returns (the batch is complete), it is
      // underscore-prefixed (invisible to data readers), and a crash
      // between save and marker just replays the batch — the dynamic
      // overwrite and the marker rewrite are both idempotent.
      // compactIngest folds ONLY sealed batches.
      fsOf(spark, path).create(new Path(path, s"_sealed_$batchId"), true)
        .close()
    }
  }

  /** `_batch_id=<id>` directories under a [[partitionedSinkBatch]]
    * layout, as (id, path) — a pure listing, no data read. Empty when
    * the live directory does not exist yet (a stream that has not
    * committed its first batch). */
  def batchDirs(spark: SparkSession, livePath: String)
      : Seq[(Long, String)] = {
    val root = new Path(livePath)
    val fs = fsOf(spark, livePath)
    if (!fs.exists(root)) return Nil
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    def walk(p: Path): Unit =
      fs.listStatus(p).foreach { st =>
        if (st.isDirectory) {
          val n = st.getPath.getName
          if (n.startsWith("_batch_id=")) {
            val id = n.stripPrefix("_batch_id=")
            require(id.matches("-?\\d+"),
              s"malformed batch directory '$n' under $livePath — not a " +
                "partitionedSinkBatch layout")
            out += ((id.toLong, st.getPath.toString))
          }
          else if (!n.startsWith(".")) walk(st.getPath)
        }
      }
    walk(root)
    out.toSeq.sortBy(x => (x._1, x._2))
  }

  /** Batch ids the sink has SEALED (the `_sealed_<id>` markers
    * [[partitionedSinkBatch]] writes after
    * each batch's save returns). A batch's directories exist from its
    * first task commit onward, so directory presence alone cannot
    * distinguish a complete batch from one mid-write — only sealed
    * batches are safe to fold. */
  def sealedIds(spark: SparkSession, livePath: String): Set[Long] = {
    val root = new Path(livePath)
    val fs = fsOf(spark, livePath)
    if (!fs.exists(root)) return Set.empty
    fs.listStatus(root).iterator
      .filter(st => st.isFile && st.getPath.getName.startsWith("_sealed_"))
      .map { st =>
        val id = st.getPath.getName.stripPrefix("_sealed_")
        require(id.matches("-?\\d+"),
          s"malformed seal marker '${st.getPath.getName}' under " +
            s"$livePath")
        id.toLong
      }
      .toSet
  }

  /** The committed compaction watermark: every live batch with id ≤
    * this value is folded into `compactPath/gen_<watermark>`. −1 when
    * no compaction has ever committed. */
  def compactedThrough(spark: SparkSession, compactPath: String): Long = {
    val p = new Path(compactPath, WatermarkName)
    val fs = fsOf(spark, compactPath)
    if (!fs.exists(p)) -1L
    else {
      val in = fs.open(p)
      try {
        val s = scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        require(s.matches("-?\\d+"),
          s"corrupt watermark file $p: '$s' is not a batch id")
        s.toLong
      } finally in.close()
    }
  }

  /** Fold all sealed live batches into a new compacted generation and
    * COMMIT it. Reads `previous generation ∪ live batches in
    * (oldWatermark, maxLiveBatch]`, rewrites into ≈`targetBytes` files
    * per output task under `compactPath/gen_<maxLiveBatch>` (business
    * partitioning preserved — partition pruning on the compacted read
    * is identical to the live read), then atomically advances the
    * watermark file. Returns the new watermark.
    *
    * Crash-safe at every point without a log: the generation write is
    * invisible until the watermark rename lands, and a re-run after
    * any failure overwrites the orphan and commits it. Fails loud when
    * there is nothing new to fold (a no-op compaction cycle is a
    * scheduling bug worth hearing about). Only SEALED batches fold —
    * see [[sealedIds]]; an in-flight batch stays in the live tail.
    * One maintenance actor at a time: two concurrent compactors would
    * race on the same generation directory (the protocol is
    * crash-safe, not multi-writer — run it from the single maintenance
    * schedule, the same discipline OPTIMIZE jobs follow). Superseded
    * generations and
    * folded live batches are NOT deleted here — that is [[vacuumLive]],
    * deliberately separate so retention can lag the longest-running
    * reader (the standard snapshot-retention discipline). */
  def compactIngest(spark: SparkSession, livePath: String,
                    compactPath: String, partitionCols: Seq[String],
                    targetBytes: Long, format: String = "parquet",
                    sortCols: Seq[String] = Nil): Long = {
    require(partitionCols.nonEmpty,
      "compactIngest needs the layout's business partition columns")
    require(targetBytes > 0, "compactIngest needs a positive file target")
    val present = batchDirs(spark, livePath)
    require(present.nonEmpty,
      s"no _batch_id directories under $livePath — nothing to compact")
    // fold ONLY sealed batches: a batch's directories exist from its
    // first task commit, so an unsealed max batch may be MID-WRITE by
    // a live stream — advancing the watermark past it would hide its
    // late-arriving rows behind the `> watermark` tail filter forever
    val sealedSet = sealedIds(spark, livePath)
    val ids = present.filter(x => sealedSet.contains(x._1))
    require(ids.nonEmpty,
      s"no SEALED batches under $livePath (directories exist for ids " +
        s"${present.map(_._1).distinct.sorted.mkString(",")} but no " +
        "_sealed_<id> markers) — either the stream is mid-first-batch " +
        "or this layout predates the seal protocol; re-drive it " +
        "through partitionedSinkBatch")
    val through = ids.map(_._1).max
    val prev = compactedThrough(spark, compactPath)
    require(through > prev,
      s"nothing new to compact: sealed batches reach $through but the " +
        s"watermark is already $prev")
    val tailDirs = ids.filter(_._1 > prev).map(_._2)
    val tail = spark.read.format(format).load(livePath)
      .filter(col("_batch_id") > prev && col("_batch_id") <= through)
      .drop("_batch_id")
    val prevGen = s"$compactPath/gen_$prev"
    val all = if (prev < 0) tail
      else spark.read.format(format).load(prevGen).unionByName(tail)
    val bytes = tailDirs.flatMap(d => dataFiles(spark, d)).map(_._2).sum +
      (if (prev < 0) 0L else dataFiles(spark, prevGen).map(_._2).sum)
    val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    // with sortCols the fold also RANGE-CLUSTERS the generation (the
    // [[compact]] discipline: N parallel bounded sorts, never a global
    // one), which is what makes a [[zoneMap]] over it selective — the
    // ingest stream arrives in time order, the fold is where clustering
    // is paid once per generation instead of per query
    val shaped =
      if (sortCols.isEmpty) all.repartition(n)
      else all.repartitionByRange(n, sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*)
    shaped.write.mode("overwrite")
      .partitionBy(partitionCols: _*).format(format)
      .save(s"$compactPath/gen_$through")
    commitWatermark(spark, compactPath, through)
    through
  }

  /** Atomic watermark commit: write a temp file, rename over the live
    * name (`Options.Rename.OVERWRITE` — atomic on HDFS and on the
    * local filesystem). Everything before this rename is invisible to
    * readers. */
  private def commitWatermark(spark: SparkSession, compactPath: String,
                              through: Long): Unit = {
    val fs = fsOf(spark, compactPath)
    fs.mkdirs(new Path(compactPath))
    val tmp = new Path(compactPath, s".$WatermarkName.tmp")
    val dst = new Path(compactPath, WatermarkName)
    val out = fs.create(tmp, true)
    try out.write(through.toString.getBytes("UTF-8")) finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      dst.toUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** The reader over the maintained layout: `compacted generation ∪
    * live batches above the watermark`, business partition columns
    * restored on both arms (pruning works exactly as on a plain
    * partitioned table — PlanShapeSpec pins it). With no committed
    * compaction this is just the live read; with everything folded and
    * vacuumed it is just the generation read. */
  def readIngest(spark: SparkSession, livePath: String,
                 compactPath: String,
                 format: String = "parquet"): DataFrame = {
    val wm = compactedThrough(spark, compactPath)
    val liveIds = batchDirs(spark, livePath)
    val gen =
      if (wm < 0) None
      else Some(spark.read.format(format).load(s"$compactPath/gen_$wm"))
    val tail =
      if (liveIds.forall(_._1 <= wm)) None // all folded (maybe vacuumed)
      else Some(spark.read.format(format).load(livePath)
        .filter(col("_batch_id") > wm).drop("_batch_id"))
    (gen, tail) match {
      case (Some(g), Some(t)) => g.unionByName(t)
      case (Some(g), None)    => g
      case (None, Some(t))    => t
      case (None, None) => throw new IllegalArgumentException(
        s"no committed generation under $compactPath and no live " +
          s"batches under $livePath — the table does not exist yet")
    }
  }

  /** Range query over the MAINTAINED ingest layout: the committed
    * generation is served through the zone-map manifest ([[zoneMap]]
    * over `gen_<watermark>`, persisted by the maintenance loop and
    * refreshed per fold) with whole files skipped, while the live tail
    * — small by construction, it is only the batches the last fold has
    * not sealed — is read whole with the row filter. This is the
    * standing time/range-serving shape of log-structured tables
    * (Delta/Iceberg data-skipping), expressed over plain directories:
    * at 100 TB the generation holds years of data in range-clustered
    * files of which a day's query opens a handful, and the unfolded
    * tail is minutes of ingest. The predicate is re-applied row-level
    * on both arms, so a stale or coarse manifest can only cost I/O,
    * never correctness. Requires a committed fold — before the first
    * one there is no manifest to serve through; use [[readIngest]]. */
  def readIngestRange(spark: SparkSession, livePath: String,
                      compactPath: String, manifest: DataFrame,
                      column: String, lo: Column, hi: Column): DataFrame = {
    val wm = compactedThrough(spark, compactPath)
    require(wm >= 0,
      s"no committed generation under $compactPath — nothing for the " +
        "manifest to serve; fold first or use readIngest")
    val gen = readPruned(spark, s"$compactPath/gen_$wm", manifest,
      column, lo, hi)
    val pred = col(column) >= lo && col(column) <= hi
    val liveIds = batchDirs(spark, livePath)
    if (liveIds.forall(_._1 <= wm)) gen
    else gen.unionByName(
      spark.read.parquet(livePath)
        .filter(col("_batch_id") > wm).drop("_batch_id").filter(pred))
  }

  // ------------------------------------------------------------------
  // UPSERT (CDC-apply) on the ingest layout — merge-on-read semantics:
  // each arriving row REPLACES the previous row with the same business
  // key, an optional boolean tombstone column deletes the key, and the
  // fold materializes the resolved state so the steady read only merges
  // `resolved generation ∪ small tail`. Precedence is the batch id
  // (later batch wins); within one batch keys must be unique — enforced
  // loud at fold time, the contract every CDC feed already satisfies.
  // This is the Hudi/Delta MERGE steady state over plain directories.
  // ------------------------------------------------------------------

  /** Latest-row-per-key resolve: rank rows by `_prec` DESC within each
    * key, keep rank 1, then drop tombstoned keys. The caller guarantees
    * `_prec` ties cannot occur (per-batch key uniqueness, enforced at
    * fold time). */
  private def resolveLatest(df: DataFrame, keyCols: Seq[String],
                            deleteCol: Option[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("_prec").desc)
    val latest = df
      .withColumn("_rn", org.apache.spark.sql.functions.row_number.over(w))
      .filter(col("_rn") === 1).drop("_rn", "_prec")
    deleteCol.fold(latest)(d => latest.filter(!coalesce(col(d),
      lit(false))).drop(d))
  }

  /** Loud per-batch key-uniqueness check: two rows for one key in the
    * SAME batch have no defined winner — that is a malformed CDC feed,
    * not a tie to break silently. */
  private def requireUniqueKeys(df: DataFrame, keyCols: Seq[String],
                                what: String): Unit = {
    val dup = df.groupBy((keyCols.map(col) :+ col("_prec")): _*)
      .count().filter(col("count") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"$what carries duplicate keys within one batch " +
        s"(${keyCols.mkString(",")} = ${dup.headOption.map(_.toSeq.dropRight(1)
          .mkString("/")).getOrElse("")}) — a CDC feed must emit at most " +
        "one row per key per batch")
  }

  /** [[compactIngest]] with UPSERT semantics: the fold resolves
    * `previous resolved generation ∪ sealed tail` to the latest row
    * per `keyCols` (batch id = precedence; the generation carries the
    * old watermark's precedence) and drops tombstoned keys
    * (`deleteCol` true — after application nothing older remains, so
    * the tombstone itself is gone from the generation). The committed
    * generation is therefore the fully-resolved table state as of the
    * watermark, and [[readIngestUpsert]] only has to merge it with the
    * small unfolded tail. Same watermark commit, same crash safety,
    * same seal gating as [[compactIngest]].
    *
    * Scale: the resolve shuffles by key once per fold (rank-1 window);
    * a key that changes partition value between versions is handled
    * correctly BECAUSE the window is keyed, not partition-local. */
  def compactIngestUpsert(spark: SparkSession, livePath: String,
                          compactPath: String, partitionCols: Seq[String],
                          keyCols: Seq[String], targetBytes: Long,
                          format: String = "parquet",
                          deleteCol: Option[String] = None): Long = {
    require(partitionCols.nonEmpty,
      "compactIngestUpsert needs the layout's business partition columns")
    require(keyCols.nonEmpty, "compactIngestUpsert needs the business key")
    require(targetBytes > 0, "compactIngestUpsert needs a positive target")
    val present = batchDirs(spark, livePath)
    require(present.nonEmpty,
      s"no _batch_id directories under $livePath — nothing to compact")
    val sealedSet = sealedIds(spark, livePath)
    val ids = present.filter(x => sealedSet.contains(x._1))
    require(ids.nonEmpty,
      s"no SEALED batches under $livePath — either the stream is " +
        "mid-first-batch or this layout predates the seal protocol")
    val through = ids.map(_._1).max
    val prev = compactedThrough(spark, compactPath)
    require(through > prev,
      s"nothing new to compact: sealed batches reach $through but the " +
        s"watermark is already $prev")
    val tail = spark.read.format(format).load(livePath)
      .filter(col("_batch_id") > prev && col("_batch_id") <= through)
      .withColumn("_prec", col("_batch_id")).drop("_batch_id")
    requireUniqueKeys(tail, keyCols, s"the live tail under $livePath")
    val prevGen = s"$compactPath/gen_$prev"
    val all = if (prev < 0) tail
      else spark.read.format(format).load(prevGen)
        .withColumn("_prec", lit(prev))
        .transform(g => deleteCol.fold(g)(d =>
          g.withColumn(d, lit(false)))) // the gen never holds tombstones
        .unionByName(tail)
    val resolved = resolveLatest(all, keyCols, deleteCol)
      .transform(r => deleteCol.fold(r)(d =>
        r.withColumn(d, lit(false)))) // schema-stable for the next fold
    val bytes = ids.filter(_._1 > prev).map(_._2)
      .flatMap(d => dataFiles(spark, d)).map(_._2).sum +
      (if (prev < 0) 0L else dataFiles(spark, prevGen).map(_._2).sum)
    val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    resolved.repartition(n).write.mode("overwrite")
      .partitionBy(partitionCols: _*).format(format)
      .save(s"$compactPath/gen_$through")
    commitWatermark(spark, compactPath, through)
    through
  }

  /** The UPSERT reader: latest row per key over `resolved generation ∪
    * live tail`, tombstones applied — the merge-on-read query shape.
    * The generation is already resolved (one row per surviving key at
    * watermark precedence), so the rank-1 window's work tracks
    * generation size + tail size, and the tail is only the batches the
    * last fold has not sealed. */
  def readIngestUpsert(spark: SparkSession, livePath: String,
                       compactPath: String, keyCols: Seq[String],
                       format: String = "parquet",
                       deleteCol: Option[String] = None): DataFrame = {
    require(keyCols.nonEmpty, "readIngestUpsert needs the business key")
    val wm = compactedThrough(spark, compactPath)
    val liveIds = batchDirs(spark, livePath)
    val gen =
      if (wm < 0) None
      else Some(spark.read.format(format).load(s"$compactPath/gen_$wm")
        .withColumn("_prec", lit(wm))
        .transform(g => deleteCol.fold(g)(d =>
          g.withColumn(d, lit(false)))))
    val tail =
      if (liveIds.forall(_._1 <= wm)) None
      else Some(spark.read.format(format).load(livePath)
        .filter(col("_batch_id") > wm)
        .withColumn("_prec", col("_batch_id")).drop("_batch_id"))
    val all = (gen, tail) match {
      case (Some(g), Some(t)) => g.unionByName(t)
      case (Some(g), None)    => g
      case (None, Some(t))    => t
      case (None, None) => throw new IllegalArgumentException(
        s"no committed generation under $compactPath and no live " +
          s"batches under $livePath — the table does not exist yet")
    }
    resolveLatest(all, keyCols, deleteCol)
  }

  /** Committed-or-superseded generation ids present under
    * `compactPath`, ascending — a listing, no data read. */
  def generations(spark: SparkSession, compactPath: String): Seq[Long] = {
    val p = new Path(compactPath)
    val fs = fsOf(spark, compactPath)
    if (!fs.exists(p)) return Nil
    fs.listStatus(p).iterator
      .filter(st => st.isDirectory &&
        st.getPath.getName.matches("gen_-?\\d+"))
      .map(_.getPath.getName.stripPrefix("gen_").toLong)
      .toSeq.sorted
  }

  /** SNAPSHOT read: the table exactly as of fold `genId` — a committed
    * generation gen_W holds precisely batches 0..W, so the as-of read
    * is the generation alone, no tail. This is time travel the way the
    * layout gives it away for free: [[vacuumLive]]'s
    * `retainGenerations` keeps the last N fold snapshots on disk for
    * audit and reproducibility reads, and an as-of query against a
    * vacuumed (or never-committed) snapshot fails loud with what IS
    * available rather than silently serving the wrong one. */
  def readIngestAsOf(spark: SparkSession, compactPath: String,
                     genId: Long,
                     format: String = "parquet"): DataFrame = {
    val gens = generations(spark, compactPath)
    require(gens.contains(genId),
      s"no snapshot gen_$genId under $compactPath — available " +
        s"generations: ${if (gens.isEmpty) "none" else
          gens.mkString(", ")} (vacuumed, or never committed)")
    spark.read.format(format).load(s"$compactPath/gen_$genId")
  }

  /** CHANGE DATA FEED between two retained snapshots: classify every
    * key as inserted / updated / deleted between `fromGen` and `toGen`
    * (both must still be on disk — [[vacuumLive]]'s `retainGenerations`
    * is what keeps them). One full outer join on the key; "updated"
    * means any non-key column differs (null-safe). This is Delta's
    * table_changes derived FROM the snapshots instead of logged beside
    * them: no write-path overhead at all, at the price of the
    * join-at-read — the right trade when change feeds are occasional
    * (backfills, downstream syncs) rather than continuous. Output:
    * key columns + `_change` ('insert' | 'update' | 'delete') + the
    * NEW row's remaining columns (the OLD row's for deletes). */
  def snapshotDiff(spark: SparkSession, compactPath: String,
                   fromGen: Long, toGen: Long, keyCols: Seq[String],
                   format: String = "parquet"): DataFrame = {
    require(keyCols.nonEmpty, "snapshotDiff needs the business key")
    require(fromGen < toGen,
      s"snapshotDiff needs fromGen < toGen, got $fromGen >= $toGen")
    val gens = generations(spark, compactPath)
    Seq(fromGen, toGen).foreach(g => require(gens.contains(g),
      s"no snapshot gen_$g under $compactPath — available: " +
        s"${if (gens.isEmpty) "none" else gens.mkString(", ")}"))
    val a = spark.read.format(format).load(s"$compactPath/gen_$fromGen")
    val b = spark.read.format(format).load(s"$compactPath/gen_$toGen")
    require(a.columns.sorted.sameElements(b.columns.sorted),
      s"snapshots carry different columns (${a.columns.sorted.mkString(",")}" +
        s" vs ${b.columns.sorted.mkString(",")}) — diff them through " +
        "readUnified-style alignment first")
    val valCols = a.columns.filterNot(keyCols.contains).sorted
    val oldSide = a.select(a.columns.map(c =>
      col(c).as(s"_old_$c")).toSeq: _*)
    val newSide = b
    val joinCond = keyCols.map(k =>
      col(s"_old_$k") <=> col(k)).reduce(_ && _)
    val joined = oldSide.join(newSide, joinCond, "full_outer")
    // business keys are non-null by CDC contract, so a null key side
    // after the full outer join means "absent from that snapshot"
    val inOld = keyCols.map(k => col(s"_old_$k").isNotNull).reduce(_ || _)
    val inNew = keyCols.map(k => col(k).isNotNull).reduce(_ || _)
    val differs =
      if (valCols.isEmpty) lit(false)
      else valCols.map(c => !(col(s"_old_$c") <=> col(c)))
        .reduce(_ || _)
    joined
      .withColumn("_change",
        when(!inOld, lit("insert"))
          .when(!inNew, lit("delete"))
          .when(differs, lit("update")))
      .filter(col("_change").isNotNull)
      .select(
        keyCols.map(k => coalesce(col(k), col(s"_old_$k")).as(k)) ++
          Seq(col("_change")) ++
          valCols.map(c =>
            when(col("_change") === "delete", col(s"_old_$c"))
              .otherwise(col(c)).as(c)): _*)
  }

  /** Retention: delete live `_batch_id` directories already folded
    * into the COMMITTED generation, and generation directories older
    * than the newest `retainGenerations` snapshots (the committed one
    * always survives). Gated on the committed watermark — refuses to
    * run before the first commit, and a crash mid-delete just leaves
    * some folded directories for the next run ([[readIngest]] never
    * looks at them). Run it with a delay exceeding the longest reader,
    * the standard snapshot-retention discipline; `retainGenerations >
    * 1` keeps fold snapshots serveable via [[readIngestAsOf]]. Returns
    * the number of directories removed. */
  def vacuumLive(spark: SparkSession, livePath: String,
                 compactPath: String, retainGenerations: Int = 1): Int = {
    require(retainGenerations >= 1,
      "retention must keep at least the committed generation")
    val wm = compactedThrough(spark, compactPath)
    require(wm >= 0,
      s"no committed compaction under $compactPath — nothing is safe " +
        "to delete")
    val fs = fsOf(spark, livePath)
    val folded = batchDirs(spark, livePath).filter(_._1 <= wm)
    folded.foreach { case (_, d) => fs.delete(new Path(d), true) }
    // the folded batches' seal markers go with them
    sealedIds(spark, livePath).filter(_ <= wm).foreach { id =>
      fs.delete(new Path(livePath, s"_sealed_$id"), false) }
    val cfs = fsOf(spark, compactPath)
    val keep = generations(spark, compactPath)
      .filter(_ <= wm).sorted.takeRight(retainGenerations).toSet
    val oldGens = generations(spark, compactPath)
      .filter(g => g < wm && !keep.contains(g))
    oldGens.foreach(g =>
      cfs.delete(new Path(compactPath, s"gen_$g"), true))
    folded.size + oldGens.length
  }
}
