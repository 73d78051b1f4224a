package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{VectorFunctions => V}

/** Deterministic Lloyd's k-means over `Array[Float]` embedding columns —
  * every arithmetic step is chosen so an independent engine (the DuckDB
  * oracle) reproduces the SAME final assignment, which is what makes
  * clustering usable as a *candidate-generation block* for semantic dedup
  * (SemDeDup, Abbas et al. 2023) and as an oracle-checkable coarse
  * quantizer for IVF-style recall audits — places where MLlib's KMeans
  * (thread-order-dependent reductions, engine-private init) cannot be
  * cross-checked row-for-row.
  *
  * Determinism contract:
  *   - init: centroids are the vectors of the `k` smallest ids (cell id =
  *     rank in that order) — no RNG, no engine-private seeding;
  *   - assignment: argmin of squared L2 `dot(v,v) − 2·dot(v,c) + dot(c,c)`
  *     with ties broken by smallest cell id (`min(struct(dist, cell))`);
  *   - update: element-wise mean, each component rounded to 6 decimals —
  *     the rounding absorbs partition-order float-sum noise (~1e-13
  *     relative), so the next iteration's distances are in practice
  *     computed from bit-identical centroids on any partitioning or
  *     engine. This absorption is PROBABILISTIC, not absolute: a mean
  *     landing within the noise of a 0.5e-6 rounding boundary can still
  *     round differently (residual risk ~1e-7 per cell-dim-iteration;
  *     see the note at the update step for the canonical-order-summation
  *     alternative a hard guarantee would require);
  *   - an emptied cell keeps its previous centroid (never NaN, never a
  *     re-seed).
  *
  * Scale shape (100 TB): per iteration, assignment is ONE broadcast pass
  * (k·d doubles ride to every task; argmin is a map-side-combinable
  * `min(struct)`), and the mean update shuffles only the partially
  * aggregated (cell, dim) sums — k·d rows per map partition, NOT the
  * corpus. The only driver materialization is the k-row centroid frame
  * per iteration (certified small: k·d doubles — the same contract as
  * BPE's K-row merge table). Fitting on a deterministic sample at very
  * large N is the caller's composition: pre-filter the fit frame with an
  * md5-bucket predicate (the [[IvfSearch.build]] device) and pass the
  * full frame to [[assign]].
  */
object KMeansDet {

  /** Final centroids; index in the array IS the cell id. */
  final case class Model(centroids: Array[Array[Double]]) {
    def k: Int = centroids.length
  }

  /** Above this k the argmin falls back to the broadcast-join form. Two
    * measured failure modes rule out stretching the literal projection:
    * a FLAT k-branch array outgrows what Janino compiles past a few dozen
    * branches (interpreted fallback, ~7× slower at k=80), and a chunked
    * two-level `array_min` DOES compile but pays multi-second CODEGEN
    * time per plan for the k·d embedded literals (k=142: 48 s/run, vs
    * 9.5 s join-form, vs 2 s execution-only). k as data — the broadcast
    * join — is the only shape whose cost is flat in code size. */
  private[graft] val LiteralFormMaxK = 16

  /** One argmin-assignment pass: (id, v, cell), form picked by k.
    *
    * Small k (≤ [[LiteralFormMaxK]]): centroids are driver-side constants
    * (k·d doubles), so the whole argmin compiles to ONE codegen'd
    * projection — `array_min` over k (dist, cell) structs whose centroid
    * halves are literals. No join, no shuffle, no sort: the pass is
    * embarrassingly parallel, one corpus scan per iteration.
    *
    * Large k: broadcast the k-row centroid frame, expand k candidates per
    * row, re-aggregate with the map-side-combinable `min(struct)` — k
    * stays data, not code, so codegen never blows up.
    *
    * Both forms share the distance expression the oracle restates —
    * dot(v,v) − 2·dot(v,c) + dot(c,c), left-to-right (the literal form
    * pre-folds dot(c,c) on the driver IN THE SAME sequential order) — and
    * the same (dist, cell) lexicographic tie-break, so they are
    * value-identical ([[KMeansDetSpec]] proves it on both sides of the
    * threshold). */
  private def assignPass(e: DataFrame, m: Model): DataFrame =
    if (m.k <= LiteralFormMaxK) assignPassLiteral(e, m)
    else assignPassJoin(e, m)

  /** The k-way argmin over `m`'s centroids as ONE expression on vector
    * column `v` (with `vv` = dot(v,v) provided by the caller, usually a
    * prior withColumn so codegen computes it once): array_min over
    * (dist, cell) structs with literal centroid halves. Shared by the
    * small-k assignment pass and [[ProductQuantizer]]'s per-subspace
    * encoder. Only for small k — see [[LiteralFormMaxK]]. */
  private[operators] def argminCell(m: Model, v: Column, vv: Column): Column = {
    val cands = m.centroids.zipWithIndex.map { case (c, i) =>
      val cc = c.foldLeft(0.0)((acc, x) => acc + x * x) // seq fold = oracle
      struct(
        (vv - lit(2.0) * V.dot(v, typedlit(c.toSeq)) + lit(cc)).as("_d"),
        lit(i).as("_cell"))
    }
    array_min(array(cands.toIndexedSeq: _*)).getField("_cell")
  }

  private[operators] def assignPassLiteral(e: DataFrame, m: Model): DataFrame =
    e.withColumn("_vv", V.dot(col("_v"), col("_v")))
      .withColumn("_cell", argminCell(m, col("_v"), col("_vv")))
      .select(col("_id"), col("_v"), col("_cell"))

  private[operators] def assignPassJoin(e: DataFrame, m: Model): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val cents = m.centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("_kcell", "_c")
    e.crossJoin(broadcast(cents))
      .withColumn("_d",
        V.dot(col("_v"), col("_v")) - lit(2.0) * V.dot(col("_v"), col("_c"))
          + V.dot(col("_c"), col("_c")))
      .groupBy(col("_id"))
      .agg(min(struct(col("_d"), col("_kcell"))).as("_m"),
           first(col("_v")).as("_v")) // _v is constant per _id
      .select(col("_id"), col("_v"), col("_m._kcell").as("_cell"))
  }

  /** Fit `iters` Lloyd iterations from the deterministic id-rank init.
    * Each iteration runs one assignment pass and one rounded-mean update;
    * the k-row centroid collect per iteration is the certified-small
    * driver materialization documented above.
    *
    * Caller contract: `idCol` values are UNIQUE — the id-rank init (and
    * its oracle restatement, `ORDER BY id LIMIT k`) is only deterministic
    * when the k smallest ids name k specific vectors; duplicate ids make
    * the tie between their rows engine-private. */
  def fit(corpus: DataFrame, k: Int, iters: Int, idCol: String = "vec_id",
          vecCol: String = "embedding"): Model = {
    val e = corpus.select(col(idCol).as("_id"),
                          V.toDouble(col(vecCol)).as("_v"))
    // orderBy + limit: rows arrive in ascending-id order (global sort)
    val init = e.orderBy(col("_id")).limit(k).collect()
    require(init.length == k,
      s"kmeans init needs >= $k rows, got ${init.length}")
    var m = Model(init.map(_.getSeq[Double](1).toArray))
    for (_ <- 1 to iters) {
      val means = assignPass(e, m)
        .select(col("_cell"), posexplode(col("_v")).as(Seq("_p", "_x")))
        .groupBy(col("_cell"), col("_p"))
        // round(avg, 6) absorbs the ~1e-13 partition-order float-sum
        // noise in avg — PROBABILISTICALLY, not as a hard guarantee: a
        // cell mean landing within that noise of a 0.5e-6 rounding
        // boundary could still round differently across partitionings
        // or engines and flip downstream assignments. The specs'
        // dyadic-grid fixtures make the sum order provably irrelevant;
        // on arbitrary data the residual boundary risk is ~(noise /
        // rounding step) ≈ 1e-7 per cell-dim per iteration. A hard
        // guarantee would need canonical-order summation (sort-then-fold
        // of collected per-cell partials) — not paid here because every
        // oracle gate since x125 has held across 32-partition shuffles.
        .agg(round(avg(col("_x")), 6).as("_mv"))
        .groupBy(col("_cell"))
        .agg(transform(array_sort(collect_list(struct(col("_p"), col("_mv")))),
               t => t.getField("_mv")).as("_c"))
        .collect() // certified small: <= k rows of d doubles
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
      m = Model(m.centroids.indices
        .map(i => means.getOrElse(i, m.centroids(i))).toArray)
    }
    m
  }

  /** Label every row with its nearest-centroid cell: (idCol, cell). */
  def assign(corpus: DataFrame, m: Model, idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame =
    assignPass(corpus.select(col(idCol).as("_id"),
                             V.toDouble(col(vecCol)).as("_v")), m)
      .select(col("_id").as(idCol), col("_cell").cast("long").as("cell"))

  /** [[assign]] keeping the double vector and its norm, as a PURE
    * projection — no persist, no shuffle (for k ≤ [[LiteralFormMaxK]] no
    * join either), so it is legal on a STREAMING frame. Batch consumers
    * that read the frame more than once want [[assignWithVec]] instead. */
  def labeled(corpus: DataFrame, m: Model, idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame =
    assignPass(corpus.select(col(idCol).as("_id"),
                             V.toDouble(col(vecCol)).as("_v")), m)
      .select(col("_id").as(idCol), col("_cell").cast("long").as("cell"),
              col("_v").as("v"), V.norm(col("_v")).as("nrm"))

  /** [[assign]] keeping the double vector and its norm — the shape the
    * within-cell similarity passes (x126/x127/x128) consume. The result is
    * PERSISTED under the implicit [[graft.ops.CacheScope]]: every consumer
    * reads it more than once (both sides of a self-join, or the exact and
    * probed arms of a recall audit), and without the barrier the widened
    * vectors and the k-way argmin are re-derived per probe inside the
    * downstream join — measured 4× slower at the sf1 probe scale. The
    * persist is EAGER (one count populates the cache before the join
    * stages race each other to fill it — measured 2× again over a lazy
    * persist, the x114 eager-kernel finding repeating here). In a
    * production pipeline this frame is the cluster index, written
    * partitioned by cell; the cache is the in-session stand-in. */
  def assignWithVec(corpus: DataFrame, m: Model, idCol: String = "vec_id",
                    vecCol: String = "embedding")
                   (implicit scope: graft.ops.CacheScope): DataFrame = {
    val out = scope.persist(labeled(corpus, m, idCol, vecCol))
    out.count() // eager: populate once, before consumers fan out
    out
  }
}
