package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => T}
import graft.ops.CacheScope

/** Whole-dataset deduplication operators for training-data pipelines.
  *
  * Scale design: every near-dup flavor is CANDIDATE GENERATION (an O(N)
  * shuffle on a bucket key — never an O(N²) cross join) followed by
  * pairwise VERIFICATION inside buckets. At 100 TB the bucket join is an
  * ordinary shuffled equi-join that AQE can skew-split; the verify stage
  * touches only candidate pairs.
  */
object DedupOperators {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Ensure at least the cluster's default parallelism before CPU-heavy
    * per-row work (shingling/hashing). A small or single-row-group parquet
    * input arrives as one task, serializing the whole computation; on a
    * real cluster big inputs already carry ≥ default-parallelism splits
    * and this is a no-op. */
  private def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // toRdd: plan-only partition count — skips building the extra
    // row-deserializer RDD that `.rdd` would chain on every call
    if (df.queryExecution.toRdd.getNumPartitions < target)
      df.repartition(target)
    else df
  }

  /** Exact dedup by normalized-content fingerprint: one hash-groupBy
    * (map-side partial agg), keeps the smallest id per group. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val surviving = df
      .groupBy(T.fingerprint(col(textCol)).as("_fp"))
      .agg(min(col(idCol)).as(idCol))
      .drop("_fp")
    df.join(surviving, Seq(idCol), "left_semi")
  }

  /** MinHash-LSH band index of a corpus: one row per (id, band_idx,
    * band_key). This is the PERSISTED form for incremental dedup at scale:
    * write it partitioned/bucketed by `band_key` once, then each new batch
    * joins its own (small) index against it — the corpus text is never
    * re-shingled. See [[incrementalCandidates]]. */
  def signatureIndex(df: DataFrame, idCol: String, textCol: String,
                     shingleN: Int = 3, k: Int = 8,
                     bands: Int = 4): DataFrame = {
    val rows = k / bands
    // words → native one-pass md5 signature → bands, in STAGED projections.
    // The native MinHashSigMd5 keeps the md5-hex-min semantics the DuckDB
    // oracles check, with the hot loop in shared precompiled bytecode —
    // the composed HOF form is interpreted, duplicates its subtree per
    // consumer, and re-pays janino/JIT warm-up per plan shape.
    // degenerate docs (< shingleN words → zero shingles) are EXCLUDED from
    // the index: their all-NULL signatures would collapse onto the single
    // md5("") band key, making every pair of short docs a candidate — a
    // quadratic blowup on exactly the rows that carry no shingle evidence
    // (ADVICE r10). A doc with no shingles has Jaccard 0 against
    // everything, so dropping it from CANDIDATE GENERATION loses no true
    // near-dup under the verify threshold.
    spread(df).select(col(idCol).as("id"), T.words(col(textCol)).as("_w"))
      .filter(size(col("_w")) >= shingleN)
      .select(col("id"),
        graft.functions.expr.MinHashSigMd5(col("_w"), shingleN, k).as("_sig"))
      .select(col("id"), posexplode(T.lshBands(col("_sig"), bands, rows)))
      .toDF("id", "band_idx", "band_key")
  }

  /** Near-dup candidate pairs of a NEW batch against an already-indexed
    * corpus plus within the batch itself: only the new docs are shingled
    * and hashed; the corpus side is the persisted [[signatureIndex]].
    * Returns (id_a, id_b) with id_a < id_b, distinct. */
  def incrementalCandidates(corpusIndex: DataFrame, newDocs: DataFrame,
                            idCol: String, textCol: String,
                            shingleN: Int = 3, k: Int = 8,
                            bands: Int = 4)
                           (implicit scope: CacheScope): DataFrame = {
    // The batch index is joined twice below, so cache it. It stays cached
    // after return because the result depends on it lazily — the implicit
    // [[CacheScope]] owns the lifetime: callers doing many batches in one
    // session wrap each batch in `CacheScope.using`, materialize, and the
    // index frees on scope close (else session clearCache / LRU).
    val newIdx = scope.persist(
      signatureIndex(newDocs, idCol, textCol, shingleN, k, bands))
    // two separate joins — NOT a union-then-self-join, which would destroy
    // the corpus index's storage partitioning: when the corpus side is a
    // table bucketed by band_key, this join reads its buckets in place and
    // only the (small) batch side shuffles
    val crossPairs = corpusIndex
      .select(col("band_idx"), col("band_key"), col("id").as("_cid"))
      .join(newIdx.select(col("band_idx"), col("band_key"),
                          col("id").as("_nid")),
            Seq("band_idx", "band_key"))
      .filter(col("_cid") =!= col("_nid"))
      .select(least(col("_cid"), col("_nid")).as("id_a"),
              greatest(col("_cid"), col("_nid")).as("id_b"))
    val a = newIdx.select(col("band_idx"), col("band_key"), col("id").as("id_a"))
    val b = newIdx.select(col("band_idx").as("_bi2"), col("band_key").as("_bk2"),
                          col("id").as("id_b"))
    val withinPairs = a.join(b, col("band_idx") === col("_bi2") &&
        col("band_key") === col("_bk2") && col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    crossPairs.unionByName(withinPairs).distinct()
  }

  /** MinHash+LSH near-dup candidate pairs: signature → band keys →
    * explode → self-join per band → distinct pairs (a<b).
    *
    * Cost: explode multiplies rows by `bands` (a constant); the join
    * shuffles on the band hash — uniform by construction (md5). */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, k: Int = 8,
                        bands: Int = 4)
                       (implicit scope: CacheScope): DataFrame = {
    // persist the band index before the self-join: the two join sides carry
    // different aliases, so Catalyst cannot reuse one exchange for both and
    // would otherwise run the whole shingle+hash pipeline twice; lifetime
    // owned by the implicit [[CacheScope]]
    val banded = scope.persist(
      signatureIndex(df, idCol, textCol, shingleN, k, bands)
        .toDF("_id", "_band_idx", "_band_key"))
    val a = banded.select(col("_band_idx"), col("_band_key"), col("_id").as("id_a"))
    val b = banded.select(col("_band_idx").as("_bi2"), col("_band_key").as("_bk2"),
                          col("_id").as("id_b"))
    a.join(b, col("_band_idx") === col("_bi2") &&
              col("_band_key") === col("_bk2") && col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Time-WINDOWED near-dup candidates — the dedup-HORIZON form: only
    * pairs whose `timeCol` values differ by at most `window` are
    * candidates, so the comparison state a production dedup holds is
    * the horizon, never all history (the batch shape of a streaming
    * dedup with a watermark; at 100 TB the horizon is what makes the
    * problem bounded as the corpus grows unboundedly).
    *
    * The gate rides the SAME banded equi-join as [[minhashCandidates]]:
    * the join key gains a coarse time CELL of width max(window, 1).
    * The left side posts its own cell; the right side posts
    * {c−1, c, c+1} (the q29 range-cell device), so a pair within
    * `window` shares EXACTLY one (band, cell) key — no pair inside the
    * window can be missed, nothing beyond 3 cells is ever probed, and
    * per band no duplicate candidate is generated (the id order makes
    * the roles asymmetric). The exact |Δt| ≤ window predicate applies
    * inside the join (cells only gate generation); `distinct` collapses
    * multi-band hits. `timeCol` must be a non-negative integral column
    * (a day number, an epoch bucket). */
  def windowedMinhashCandidates(df: DataFrame, idCol: String,
                                textCol: String, timeCol: String,
                                window: Long, shingleN: Int = 3,
                                k: Int = 8, bands: Int = 4)
                               (implicit scope: CacheScope): DataFrame = {
    require(window >= 0, s"window must be >= 0, got $window")
    val rows = k / bands
    val cellW = math.max(window, 1L)
    val idx = scope.persist(
      spread(df)
        .select(col(idCol).as("id"), col(timeCol).cast("long").as("_t"),
                T.words(col(textCol)).as("_w"))
        // same degenerate-doc exclusion as [[signatureIndex]] — without it
        // every short-doc pair inside the horizon shares the md5("") band
        .filter(size(col("_w")) >= shingleN)
        .select(col("id"), col("_t"),
          graft.functions.expr.MinHashSigMd5(col("_w"), shingleN, k)
            .as("_sig"))
        .select(col("id"), col("_t"),
                posexplode(T.lshBands(col("_sig"), bands, rows)))
        .toDF("id", "_t", "band_idx", "band_key")
        .withColumn("_c", expr(s"_t div $cellW")))
    val a = idx.select(col("band_idx"), col("band_key"), col("_c"),
                       col("id").as("id_a"), col("_t").as("_ta"))
    val b = idx.select(col("band_idx").as("_bi"), col("band_key").as("_bk"),
        explode(array(col("_c") - 1, col("_c"), col("_c") + 1)).as("_cb"),
        col("id").as("id_b"), col("_t").as("_tb"))
    a.join(b, col("band_idx") === col("_bi") &&
              col("band_key") === col("_bk") && col("_c") === col("_cb") &&
              col("id_a") < col("id_b") &&
              abs(col("_ta") - col("_tb")) <= window)
      .select("id_a", "id_b").distinct()
  }

  /** MinHash near-dup pairs, verified by true n-gram Jaccard ≥ threshold. */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double, shingleN: Int = 3, k: Int = 8,
                      bands: Int = 4)
                     (implicit scope: CacheScope): DataFrame = {
    val cands = minhashCandidates(df, idCol, textCol, shingleN, k, bands)
    val txt = df.select(col(idCol), col(textCol))
    val withA = cands.join(txt.withColumnRenamed(idCol, "id_a")
      .withColumnRenamed(textCol, "_text_a"), Seq("id_a"))
    val withB = withA.join(txt.withColumnRenamed(idCol, "id_b")
      .withColumnRenamed(textCol, "_text_b"), Seq("id_b"))
    withB
      .withColumn("jaccard", T.ngramJaccard(col("_text_a"), col("_text_b"), shingleN))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** SimHash near-dups within a Hamming radius, found WITHOUT a cross
    * join: split the `bits`-wide simhash into `radius+1` blocks — any two
    * values within the radius must agree on at least one whole block
    * (pigeonhole), so candidates come from equality joins on block values. */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      bits: Int = 16, radius: Int = 3): DataFrame =
    simhashNearDupsFromHash(
      df.select(col(idCol).as("_id"), T.simhash(col(textCol), bits).as("_sh")),
      bits, radius)

  /** [[simhashNearDups]] over a pre-computed signature frame `(_id, _sh)` —
    * the entry point when the fingerprint isn't word-SimHash (x96's
    * payload-chunk pHash) or is already persisted as a column. */
  def simhashNearDupsFromHash(sh: DataFrame,
                              bits: Int, radius: Int): DataFrame = {
    val blocks = radius + 1
    val blockBits = bits / blocks
    val banded = sh.select(col("_id"), col("_sh"),
      posexplode(array((0 until blocks).map { blk =>
        shiftright(col("_sh"), blk * blockBits)
          .bitwiseAND((1L << blockBits) - 1)
      }: _*))).toDF("_id", "_sh", "_blk", "_key")
    val a = banded.select(col("_blk"), col("_key"),
                          col("_id").as("id_a"), col("_sh").as("_sh_a"))
    val b = banded.select(col("_blk").as("_blk2"), col("_key").as("_key2"),
                          col("_id").as("id_b"), col("_sh").as("_sh_b"))
    a.join(b, col("_blk") === col("_blk2") && col("_key") === col("_key2") &&
              col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
              T.hammingDistance(col("_sh_a"), col("_sh_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= radius)
  }

  /** Cluster near-dup PAIRS into duplicate groups via iterative min-label
    * propagation (connected components): every id starts as its own label;
    * each round, labels flow across pairs and every node takes the
    * minimum; fixpoint (checked by an aggregate, not a collect of data)
    * ⇒ each component is labeled by its smallest member.
    *
    * Scale: each iteration is one join + one groupBy on the id — both
    * shuffle O(|pairs|); rounds needed = graph diameter, which for
    * near-dup graphs (dense clusters) is small. `maxIters` bounds runaway
    * chains; when the bound is hit before the fixpoint (diameter >
    * maxIters, e.g. a long chain), labels are only PARTIALLY propagated —
    * use [[clusterPairsWithStatus]] to observe convergence, or rely on the
    * WARN this method logs. Checkpoint-free because lineage depth is
    * bounded. */
  def clusterPairs(pairs: DataFrame, maxIters: Int = 10): DataFrame = {
    val (labels, converged) = clusterPairsWithStatus(pairs, maxIters)
    if (!converged) log.warn(
      s"clusterPairs did not converge within $maxIters iterations — " +
      "component labels are partially propagated (graph diameter exceeds " +
      "maxIters); raise maxIters or use clusterPairsWithStatus")
    labels
  }

  /** [[clusterPairs]] plus the convergence flag: `(labels, converged)`.
    * `converged = false` means the label fixpoint was NOT reached within
    * `maxIters` rounds and some components carry more than one label.
    *
    * Each round folds in (a) neighbor labels and (b) the label's own label
    * (pointer jumping), so convergence needs only O(log diameter) rounds
    * rather than O(diameter). Labels only ever decrease, so the fixpoint
    * test is "did sum(label) change" — one cheap aggregate over the
    * checkpointed round result, no join. */
  def clusterPairsWithStatus(pairs: DataFrame,
                             maxIters: Int = 10): (DataFrame, Boolean) = {
    // cache the edge list: it is re-joined every round, and its lineage
    // (e.g. MinHash candidate generation) can be far more expensive than
    // the propagation itself. Symmetrize with ONE explode, not
    // union(pairs, pairs.swap) — a union's branches each re-execute the
    // unpersisted pair lineage when the cache first materializes, doubling
    // exactly the expensive part.
    // NOTE (r17, measured both ways): pre-partitioning this cache by
    // `src` (the GraphOps.bfs device) removes the per-round edge shuffle
    // — x102's profile dropped 82.4 → 58.0 MB shuffled, the right shape
    // for a many-round loop over a cluster-scale edge list — but at
    // bench SF the explicit repartition PINS the cached edge frame at
    // spark.sql.shuffle.partitions forever (user-specified repartitions
    // are exempt from AQE coalescing), forcing every round into
    // full-width task waves over near-empty partitions: TimeMany A/B/A
    // showed +0.4–1.6 s on ALL of x14/x74/x92/x103 and no win even on
    // x102. Kept un-partitioned: AQE sizes each round's exchanges to the
    // data, which is also the honest cluster-scale default (the edge
    // re-shuffle per round is bytes the coalesced plan prices correctly;
    // a deployment with a fixed huge graph would pre-bucket the edge
    // TABLE at rest instead — b03's layout — not repartition in-query).
    val edges = pairs
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("_e"))
      .select(col("_e.src").as("src"), col("_e.dst").as("dst"))
      .persist()
    // localCheckpoint LAZILY (eager=false): the labelSum action below is the
    // job that materializes each round's checkpoint, so every round costs ONE
    // Spark job, not two — iteration overhead, not data volume, dominates
    // this loop's wall clock
    // seed labels with least(id, min neighbor) — the same single shuffle a
    // plain distinct-ids init would cost, but it bakes round 1's neighbor
    // propagation into the init, so dense star-shaped dup groups typically
    // converge one full round earlier. Grouped by SRC (r17): on a
    // symmetrized edge set {(s,d)} = {(d,s)}, so groupBy(src).min(dst)
    // ≡ groupBy(dst).min(src) value-for-value — and src is the key the
    // round joins probe, so any layout that pre-partitions the edges by
    // src (bucketed edge table at rest) makes this init exchange-free.
    var labels = edges.groupBy(col("src"))
      .agg(min(col("dst")).as("_m"))
      .select(col("src").as("id"), least(col("_m"), col("src")).as("label"))
      .localCheckpoint(false)
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("label").cast("decimal(38,0)"))).head().getDecimal(0)
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = prevSum == null // empty pair set: nothing to do
    while (iter < maxIters && !converged) {
      val viaEdges = edges
        .join(labels, edges("src") === labels("id"))
        .select(col("dst").as("id"), col("label"))
      val viaLabels = labels.as("a")
        .join(labels.as("b"), col("a.label") === col("b.id"))
        .select(col("a.id").as("id"), col("b.label").as("label"))
      // localCheckpoint (not just persist): each round's plan must become a
      // fresh leaf, or the logical plan grows with the iteration count and
      // Catalyst analysis time explodes long before the data does
      val next = labels.select(col("id"), col("label"))
        .union(viaEdges).union(viaLabels)
        .groupBy("id").agg(min("label").as("label"))
        .localCheckpoint(false)
      val nextSum = labelSum(next)
      // the labelSum job materialized next's checkpoint, so the previous
      // round's blocks are now unreachable by any future computation —
      // free them instead of waiting for a GC-driven ContextCleaner pass
      graft.ops.CheckpointOps.free(labels)
      labels = next
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      iter += 1
    }
    edges.unpersist()
    log.info(s"clusterPairs: ${if (converged) "converged" else "STOPPED"} " +
      s"after $iter propagation rounds")
    // (id, label) where label = min id of the duplicate group
    (labels, converged)
  }

  /** End-to-end corpus dedup: exact + MinHash near-dup candidates →
    * Jaccard verify → connected components → keep each group's smallest
    * id. Returns the surviving rows of `df`.
    *
    * Clustering runs at most `clusterIters` label-propagation rounds
    * (= the max near-dup-graph diameter it can resolve); if the graph has
    * a longer chain, clusterPairs logs a WARN and some duplicate groups
    * keep more than one survivor — raise `clusterIters` for such corpora. */
  def dedupCorpus(df: DataFrame, idCol: String, textCol: String,
                  jaccardThreshold: Double = 0.7,
                  shingleN: Int = 3, k: Int = 8, bands: Int = 4,
                  clusterIters: Int = 10)
                 (implicit scope: CacheScope): DataFrame = {
    // exactDedup's result feeds FOUR consumers (candidate generation, the
    // two text joins of the Jaccard verify, and the final anti-join) —
    // without a persist its scan+agg+semi-join lineage re-executes per
    // consumer. Freed lazily by LRU / session end; the survivors result is
    // typically written immediately, after which the cache is dead weight
    // the evictor reclaims.
    val exact = scope.persist(exactDedup(df, idCol, textCol))
    val nearPairs = minhashNearDups(exact, idCol, textCol,
      jaccardThreshold, shingleN, k, bands)
    val labels = clusterPairs(nearPairs, clusterIters)
    val victims = labels.filter(col("id") =!= col("label"))
      .select(col("id").as(idCol))
    exact.join(victims, Seq(idCol), "left_anti")
  }
}
