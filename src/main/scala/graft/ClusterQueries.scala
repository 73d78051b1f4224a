package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{VectorFunctions => V}
import graft.operators.KMeansDet

/** Round-11 clustering suite: deterministic k-means as an oracle-checkable
  * building block, and the two workloads it unlocks for a training-data
  * engine — SemDeDup-style semantic deduplication (cluster = candidate
  * block, cosine verify within the block) and an HONEST IVF recall audit
  * (nprobe < nlist, measured against the exact top-k, not the x73 device
  * of probing every cell).
  *
  * Why not MLlib KMeans here: its reductions are thread-order-dependent
  * and its init engine-private, so no independent engine can replicate the
  * assignment — fine for x73 (whose oracle only needs full-probe ≡ exact),
  * fatal for a dedup operator whose DROP DECISIONS must be auditable.
  * [[graft.operators.KMeansDet]] pins init (k smallest ids), tie-breaks
  * (min cell id), and update arithmetic (6-dp-rounded means), and the
  * oracles below restate the identical iteration in SQL — the cluster
  * assignment itself is part of every hash.
  *
  * Scale shape: one broadcast argmin pass + one map-side-combinable mean
  * update per iteration; within-cell pair generation is the x22 blocked
  * O(Σ|cell|²) join, never N²; the recall audit's exact arm broadcasts the
  * fixed 20-query probe set (O(Q·N) with tiny Q — the ground-truth cost
  * every published recall number pays).
  */
object ClusterQueries {

  private val K = 8
  private val ITERS = 2
  private val DIMS = 64
  private val TAU = 0.4
  private val PQ_M = 4             // PQ subspaces
  private val PQ_SD = DIMS / PQ_M  // dims per subspace
  private val KG = 4               // x138: k-NN graph degree
  private val MCAP = 16            // x166: capped direct mates per batch node
  private val GR = 2               // x138: NN-Descent rounds
  private val MIXB = 16            // x138: cross-cell mixing ring buckets
  private val BEAM = 4             // x148/x149: beam width per hop
  private val HOPS = 3             // x148/x149: graph-search expansion hops
  private val LRE = 4              // x171: long-range edges per node
  // x149: label-centroid amplification — MEASURED on the driver
  // embeddings (unit-norm, label-centroid norm ≈ 0.14, cross-label
  // centroid dots ≈ 0): v' = v + 40·c_label gives same-label cos
  // ≈ 0.95–0.99 and cross-label ≈ −0.03, i.e. genuinely clustered
  // geometry derived deterministically from the input table alone
  private val AMP = 40.0

  private def centroidFrame(s: SparkSession, m: KMeansDet.Model): DataFrame = {
    import s.implicits._
    m.centroids.zipWithIndex.map { case (c, i) => (i.toLong, c.toSeq) }
      .toSeq.toDF("cell", "c")
  }

  /** cos(qv, v) with the zero-norm → null guard, shared by x126/x127. */
  private def cosOf(qv: String, qn: String, v: String, n: String) =
    when(col(qn) === 0.0 || col(n) === 0.0, lit(null).cast("double"))
      .otherwise(V.dot(col(qv), col(v)) / (col(qn) * col(n)))

  /** The x126 dataflow, parameterized. Cost is O(Σ|cell|²) dot products —
    * at a FIXED k that grows quadratically with the corpus, so production
    * scales k with N (cells of bounded target size), which keeps the pair
    * count linear. The x126 oracle pins k=[[K]] for parity; the sf1 probe
    * (SCALING.md) measures the k ∝ N governance path through this entry. */
  def semanticDedup(s: SparkSession, dir: String, k: Int, iters: Int,
                    tau: Double): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val m = KMeansDet.fit(e, k, iters)
    val sn = KMeansDet.assignWithVec(e, m)
    val a = sn.select(col("cell"), col("vec_id").as("id_a"),
                      col("v").as("va"), col("nrm").as("na"))
    val b = sn.select(col("cell"), col("vec_id").as("id_b"),
                      col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("cell")).filter(col("id_a") < col("id_b"))
      .withColumn("cos", cosOf("va", "na", "vb", "nb"))
      .filter(col("cos") >= tau)
      .groupBy(col("id_b"), col("cell"))
      .agg(min(col("id_a")).as("kept_id"),
           round(max(col("cos")), 4).as("max_cos"))
      .select(col("id_b").as("vec_id"), col("cell"), col("kept_id"),
              col("max_cos"))
  }

  /** The x149 clustered-corpus derivation, shared by x149/x163/x164/x165:
    * scale-governed sub-cluster key (label·G + vec_id % G, G = ⌈n/120⌉ so
    * cells hold ~12 members at any SF — the x133 device), 6dp-rounded
    * cell centroids, v' = v + AMP·centroid, then x138's NN-Descent graph
    * over v'. Returns (sn, centroids, graph), all persisted under scope
    * and materialized (each is probed repeatedly downstream).
    *
    * The derivation is a FROZEN ARTIFACT, built pay-once under the
    * content-fingerprinted [[Scratch]] path (the b04/b05 device) — this
    * is the deployment shape every consumer preaches (x149's "reads
    * yesterday's graph as a table"), and it stops the three audit
    * queries from each paying the same build. Every step is pinned-
    * deterministic (6dp means, NN-Descent's tie-broken ranks), so the
    * artifact is the same frame any session would rebuild. */
  private def clusteredGraph(s: SparkSession, dir: String)
      (implicit scope: graft.ops.CacheScope)
      : (DataFrame, DataFrame, DataFrame, String) = {
    val path = Scratch.dir("cgr", dir)
    if (!new java.io.File(s"$path/g/_SUCCESS").exists()) {
      val e = Tables(s, dir, "embeddings")
      val n = e.count() // certified small: one scalar
      val grp = math.max(1L, math.ceil(n / 120.0).toLong)
      val ef = e.select(col("vec_id"),
                        (col("label").cast("long") * grp +
                         pmod(col("vec_id"), lit(grp))).as("cell"),
                        V.toDouble(col("embedding")).as("v0"))
      val means = (0 until DIMS).map(i =>
        round(avg(col("v0")(i)), 6).as(s"m$i"))
      val cent = scope.persist(ef.groupBy(col("cell"))
        .agg(means.head, means.tail: _*)
        .select(col("cell"),
                array((0 until DIMS).map(i => col(s"m$i")): _*).as("c")))
      val sn = scope.persist(ef.join(broadcast(cent), "cell")
        .withColumn("v",
          zip_with(col("v0"), col("c"), (a, b) => a + lit(AMP) * b))
        .withColumn("nrm", V.norm(col("v")))
        .select(col("vec_id"), col("cell"), col("v"), col("nrm")))
      sn.count() // eager: read by the graph build and the writes
      cent.write.mode("overwrite").parquet(s"$path/cent")
      sn.write.mode("overwrite").parquet(s"$path/sn")
      graft.operators.NnDescent.build(sn, KG, GR, mixBuckets = MIXB)
        .select(col("u"), col("w"))
        .write.mode("overwrite").parquet(s"$path/g")
    }
    val sn = scope.persist(s.read.parquet(s"$path/sn"))
    val cent = scope.persist(s.read.parquet(s"$path/cent"))
    val g = scope.persist(s.read.parquet(s"$path/g"))
    sn.count(); g.count()
    // the path rides along so consumers freezing SIBLING artifacts
    // (x171's ga) don't re-pay the content-fingerprint walk
    (sn, cent, g, path)
  }

  /** x142/x148's raw-corpus k-means + NN-Descent build as a pay-once
    * [[Scratch]] artifact — the same frozen-graph economics as
    * [[clusteredGraph]]; both consumers previously paid the identical
    * deterministic build. */
  private def kmeansGraph(s: SparkSession, dir: String)
      (implicit scope: graft.ops.CacheScope): (DataFrame, DataFrame) = {
    val path = Scratch.dir("kgr", dir)
    if (!new java.io.File(s"$path/g/_SUCCESS").exists()) {
      val e = Tables(s, dir, "embeddings")
      val m = KMeansDet.fit(e, K, ITERS)
      val sn = scope.persist(KMeansDet.assignWithVec(e, m))
      sn.count()
      sn.write.mode("overwrite").parquet(s"$path/sn")
      graft.operators.NnDescent.build(sn, KG, GR, mixBuckets = MIXB)
        .select(col("u"), col("w"))
        .write.mode("overwrite").parquet(s"$path/g")
    }
    val sn = scope.persist(s.read.parquet(s"$path/sn"))
    val g = scope.persist(s.read.parquet(s"$path/g"))
    sn.count(); g.count()
    (sn, g)
  }

  /** x147/x166's frozen ingest-day artifacts (corpus split
    * vec_id % 10 < 8): yesterday's centroids, assigned corpus, and
    * k-NN graph, built pay-once under the content-fingerprinted
    * [[Scratch]] path. Both incremental-maintenance queries preach
    * exactly this economics ("a deployment reads yesterday's graph as
    * a table and pays only the batch terms") — now the code does it
    * too; the deterministic build means the artifact equals what any
    * session would recompute. The centroid table reloads into the
    * driver-side [[KMeansDet.Model]] (k×64 doubles — the literal
    * argmin's input is a driver value by design). */
  private def incrementalArtifacts(s: SparkSession, dir: String)
      (implicit scope: graft.ops.CacheScope)
      : (KMeansDet.Model, DataFrame, DataFrame) = {
    val path = Scratch.dir("igr", dir)
    if (!new java.io.File(s"$path/g/_SUCCESS").exists()) {
      val corpus = Tables(s, dir, "embeddings")
        .filter(col("vec_id") % 10 < 8)
      val n = corpus.count() // certified small: one scalar
      val k = math.max(K, math.ceil(math.sqrt(n.toDouble) / 3).toInt)
      val m = KMeansDet.fit(corpus, k, ITERS)
      import s.implicits._
      m.centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cell", "c").coalesce(1)
        .write.mode("overwrite").parquet(s"$path/cent")
      val sn = scope.persist(KMeansDet.assignWithVec(corpus, m))
      sn.count()
      sn.write.mode("overwrite").parquet(s"$path/sn")
      graft.operators.NnDescent.build(sn, KG, GR, mixBuckets = MIXB)
        .select(col("u"), col("w"))
        .write.mode("overwrite").parquet(s"$path/g")
    }
    val m = KMeansDet.Model(
      s.read.parquet(s"$path/cent").orderBy(col("cell")).collect()
        .map(_.getSeq[Double](1).toArray))
    val sn = scope.persist(s.read.parquet(s"$path/sn"))
    val g = scope.persist(s.read.parquet(s"$path/g"))
    sn.count(); g.count()
    (m, sn, g)
  }

  /** The exact cosine top-KG per query — the Q·N broadcast ground-truth
    * arm every recall audit pays (x127/x130/x142 convention). */
  private def exactTopKG(q: DataFrame, sn: DataFrame): DataFrame = {
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc_nulls_last, col("nid").asc)
    broadcast(q).join(sn, col("vec_id") =!= col("qid"))
      .select(col("qid"), col("qv"), col("qn"), col("vec_id").as("nid"),
              col("v"), col("nrm"))
      .withColumn("cos", cosOf("qv", "qn", "v", "nrm"))
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= KG)
      .select(col("qid"), col("nid"))
  }

  /** hits (served top-KG ∩ exact top-KG) + the budget actually paid,
    * from a [[graft.operators.GraphSearch.search]] visited frame. */
  private def auditServe(exact: DataFrame, vf: DataFrame): DataFrame = {
    val served = vf.filter(col("rn") <= KG)
      .select(col("qid").as("aqid"), col("nid").as("anid"))
    val budget = vf.select(col("qid").as("bqid"), col("scored_n"))
      .distinct()
    exact.join(served, col("qid") === col("aqid") &&
                       col("nid") === col("anid"), "left")
      .groupBy(col("qid")).agg(count(col("anid")).as("hits"))
      .join(budget, col("qid") === col("bqid"))
      .select(col("qid"), col("hits"), col("scored_n"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // X125 — deterministic k-means assignment over the embedding corpus:
    // k=8 cells, 2 Lloyd iterations from the id-rank init. The output is
    // the per-vector cell label — the strongest possible parity check
    // (every assignment decision is in the hash).
    "x125_kmeans_embed" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val m = KMeansDet.fit(e, K, ITERS)
      KMeansDet.assign(e, m).orderBy(col("vec_id"))
    }),

    // X126 — semantic dedup (SemDeDup): k-means cells are the candidate
    // blocks; within each cell, a vector is dropped when an earlier-id
    // cell-mate sits at cosine ≥ τ. Chains collapse to min-id evidence
    // (the x05 survivor convention); the drop decision — cluster label,
    // kept id, and the similarity that justified it — is the output, so
    // the recall trade of blocking by cluster is audited, never silent.
    "x126_semantic_dedup" -> ((s, dir) =>
      semanticDedup(s, dir, K, ITERS, TAU).orderBy(col("vec_id"))),

    // X127 — IVF recall audit at nprobe=2 of nlist=8: per query, how many
    // of the exact cosine top-3 does cell-pruned search actually find?
    // x73 sidesteps this (nprobe = nlist ⇒ exact); this is the number a
    // 100 TB deployment consults before committing to a partition-pruned
    // serving path. Integer output (qid, hits) — no FP in the hash.
    "x127_ivf_recall" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val m = KMeansDet.fit(e, K, ITERS)
      val sn = KMeansDet.assignWithVec(e, m)
      val q = sn.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
                col("nrm").as("qn"))
      val wq = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc_nulls_last, col("nid").asc)
      val exact = broadcast(q).join(sn, col("vec_id") =!= col("qid"))
        .select(col("qid"), col("qv"), col("qn"), col("vec_id").as("nid"),
                col("v"), col("nrm"))
        .withColumn("cos", cosOf("qv", "qn", "v", "nrm"))
        .withColumn("rn", row_number().over(wq)).filter(col("rn") <= 3)
        .select(col("qid"), col("nid"))
      val probed = broadcast(q).crossJoin(broadcast(centroidFrame(s, m)))
        .withColumn("d",
          V.dot(col("qv"), col("qv")) - lit(2.0) * V.dot(col("qv"), col("c"))
            + V.dot(col("c"), col("c")))
        .withColumn("rn", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("d").asc, col("cell").asc)))
        .filter(col("rn") <= 2).select(col("qid"), col("cell"))
      val qp = q.join(probed, Seq("qid")).withColumnRenamed("cell", "pcell")
      val approx = broadcast(qp)
        .join(sn, col("cell") === col("pcell") &&
                  col("vec_id") =!= col("qid"))
        .select(col("qid"), col("qv"), col("qn"), col("vec_id").as("nid"),
                col("v"), col("nrm"))
        .withColumn("cos", cosOf("qv", "qn", "v", "nrm"))
        .withColumn("rn", row_number().over(wq)).filter(col("rn") <= 3)
        .select(col("qid").as("aqid"), col("nid").as("anid"))
      exact.join(approx,
          col("qid") === col("aqid") && col("nid") === col("anid"), "left")
        .groupBy(col("qid"))
        .agg(count(col("anid")).as("hits"))
        .orderBy(col("qid"))
    }),

    // X128 — INCREMENTAL semantic dedup: today's batch (vec_id % 10 ∈
    // {8,9}, the x16 split convention) is screened against the persisted
    // corpus WITHOUT re-clustering it — centroids are frozen from the
    // corpus fit, the batch gets one assignment pass, and candidates are
    // batch-vs-corpus cell-mates only (corpus-internal pairs were
    // adjudicated when the corpus was ingested; x126 is that pass). This
    // is the ingest shape at 100 TB: per day, cost is O(|batch|·k) dots +
    // O(|batch|·|cell|) verifies — history is never re-scanned, the same
    // economics as x16/x116/x103.
    "x128_semantic_incremental" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val corpus = e.filter(col("vec_id") % 10 < 8)
      val batch = e.filter(col("vec_id") % 10 >= 8)
      val m = KMeansDet.fit(corpus, K, ITERS)
      val snc = KMeansDet.assignWithVec(corpus, m)
        .select(col("cell"), col("vec_id").as("id_a"),
                col("v").as("va"), col("nrm").as("na"))
      val snb = KMeansDet.assignWithVec(batch, m)
        .select(col("cell"), col("vec_id").as("id_b"),
                col("v").as("vb"), col("nrm").as("nb"))
      snb.join(snc, Seq("cell"))
        .withColumn("cos", cosOf("va", "na", "vb", "nb"))
        .filter(col("cos") >= TAU)
        .groupBy(col("id_b"), col("cell"))
        .agg(min(col("id_a")).as("kept_id"),
             round(max(col("cos")), 4).as("max_cos"))
        .select(col("id_b").as("vec_id"), col("cell"), col("kept_id"),
                col("max_cos"))
        .orderBy(col("vec_id"))
    }),

    // X133 — SemDeDup with k AS A SCALE FUNCTION: k = max(8, ⌈√N/3⌉) —
    // √N keeps the two cost terms (assignment c₁·N·k, pairs c₂·N²/k)
    // balanced at N^1.5, and the ÷3 is the MEASURED √(c₂/c₁) of this
    // engine (the join-form assignment constant is ~10× the pair-dot
    // constant). This is the governance the sf3 probe proved x126's
    // fixed k=8 needs (6.4× for 3× data at 60k vectors). N is one
    // certified-small count; the oracle re-derives the same k from its
    // own count(*), so the SCALE DECISION is part of the hash, like
    // x123's purge flag.
    "x133_semantic_scaled" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val n = e.count() // certified small: one scalar
      val k = math.max(K, math.ceil(math.sqrt(n.toDouble) / 3).toInt)
      val m = KMeansDet.fit(e, k, ITERS)
      val sn = KMeansDet.assignWithVec(e, m)
      val a = sn.select(col("cell"), col("vec_id").as("id_a"),
                        col("v").as("va"), col("nrm").as("na"))
      val b = sn.select(col("cell"), col("vec_id").as("id_b"),
                        col("v").as("vb"), col("nrm").as("nb"))
      a.join(b, Seq("cell")).filter(col("id_a") < col("id_b"))
        .withColumn("cos", cosOf("va", "na", "vb", "nb"))
        .filter(col("cos") >= TAU)
        .groupBy(col("id_b"), col("cell"))
        .agg(min(col("id_a")).as("kept_id"),
             round(max(col("cos")), 4).as("max_cos"))
        .select(col("id_b").as("vec_id"), col("cell"), col("kept_id"),
                col("max_cos"))
        .orderBy(col("vec_id"))
    }),

    // X129 — product-quantization encode: every vector compressed to 4
    // codebook codes (4 × 16-dim KMeansDet sub-fits). The codes ARE the
    // output — full encode parity, the strongest oracle for a compressor.
    // Encoding is one codegen'd projection over the corpus: the artifact
    // a 100 TB deployment writes next to (or instead of) raw vectors.
    "x129_pq_encode" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val m = graft.operators.ProductQuantizer.fit(e, PQ_M, K, ITERS, DIMS)
      graft.operators.ProductQuantizer.encode(e, m).orderBy(col("vec_id"))
    }),

    // X130 — PQ recall audit: exact L2 top-3 vs ADC top-3 over the codes
    // — the quantization recall loss, measured, per query. The ADC arm
    // scans only (id, 4 codes) + a literal LUT; the exact arm is the
    // Q·N ground truth every published PQ recall number pays. Integer
    // (qid, hits) output.
    "x130_pq_recall" -> ((s, dir) => {
      import graft.operators.ProductQuantizer
      val e = Tables(s, dir, "embeddings")
      val m = ProductQuantizer.fit(e, PQ_M, K, ITERS, DIMS)
      val ef = e.select(col("vec_id"), V.toDouble(col("embedding")).as("v"))
      val q = ef.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val wq = Window.partitionBy(col("qid"))
        .orderBy(col("d").asc, col("nid").asc)
      val exact = broadcast(q).join(ef, col("vec_id") =!= col("qid"))
        .withColumn("d",
          V.dot(col("qv"), col("qv")) - lit(2.0) * V.dot(col("qv"), col("v"))
            + V.dot(col("v"), col("v")))
        .withColumn("nid", col("vec_id"))
        .withColumn("rn", row_number().over(wq)).filter(col("rn") <= 3)
        .select(col("qid"), col("nid"))
      val codes = ProductQuantizer.encode(e, m)
      val approx = broadcast(q).join(codes, col("vec_id") =!= col("qid"))
        .withColumn("d", ProductQuantizer.adcDist(m, col("qv")))
        .withColumn("nid", col("vec_id"))
        .withColumn("rn", row_number().over(wq)).filter(col("rn") <= 3)
        .select(col("qid").as("aqid"), col("nid").as("anid"))
      exact.join(approx,
          col("qid") === col("aqid") && col("nid") === col("anid"), "left")
        .groupBy(col("qid"))
        .agg(count(col("anid")).as("hits"))
        .orderBy(col("qid"))
    }),

    // X131 — IVF-ADC serving (the classic IVFADC composition): the coarse
    // quantizer prunes to nprobe=2 of 8 cells, then candidates are ranked
    // by ADC over their 4 PQ codes — the serving path scans nprobe/nlist
    // of a 4-codes-per-vector index, never a raw vector. The output IS
    // the served answer (qid, rank, nid, adc), all of it in the hash:
    // coarse assignment, codes, LUT arithmetic, and tie-breaks.
    "x131_ivfadc_search" -> ((s, dir) => {
      import graft.operators.{KMeansDet, ProductQuantizer}
      val e = Tables(s, dir, "embeddings")
      val coarse = KMeansDet.fit(e, K, ITERS)
      val pq = ProductQuantizer.fit(e, PQ_M, K, ITERS, DIMS)
      // the serving index: (vec_id, cell, c0..c3) — cells for pruning,
      // codes for ranking, built in ONE projection (no vec_id self-join);
      // at scale this is written PARTITIONED BY cell
      val idx = ProductQuantizer.encodeWithCell(e, pq, coarse)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"),
                V.toDouble(col("embedding")).as("qv"))
      val probed = broadcast(q).crossJoin(broadcast(centroidFrame(s, coarse)))
        .withColumn("d",
          V.dot(col("qv"), col("qv")) - lit(2.0) * V.dot(col("qv"), col("c"))
            + V.dot(col("c"), col("c")))
        .withColumn("rn", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("d").asc, col("cell").asc)))
        .filter(col("rn") <= 2)
        .select(col("qid"), col("cell").as("pcell"))
      val qp = broadcast(q.join(probed, Seq("qid")))
      qp.join(idx, col("cell") === col("pcell") &&
                   col("vec_id") =!= col("qid"))
        .withColumn("adc", ProductQuantizer.adcDist(pq, col("qv")))
        .withColumn("rank", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("adc").asc, col("vec_id").asc)))
        .filter(col("rank") <= 3)
        .select(col("qid"), col("rank"), col("vec_id").as("nid"),
                round(col("adc"), 4).as("adc"))
        .orderBy(col("qid"), col("rank"))
    }),

    // X138 — k-NN graph by NN-Descent (Dong et al., WWW 2011): the
    // graph-based member of the ANN family (brute → LSH → IVF → PQ →
    // IVF-ADC → THIS). Init = ring-successors within each KMeansDet cell
    // (warm start: cell-mates are likely neighbors) UNION a hash-bucket
    // ring (vec_id % 16 — the cross-cell mixing random init provides in
    // the paper; candidates only propagate along existing edges, so a
    // cell-only init would freeze each cell into a closed component).
    // Both rings are lead() windows — linear, no join. Each round
    // replaces every node's neighbor list with the top-KG of {current ∪
    // reversed ∪ neighbors-of-neighbors} by cosine — the "a neighbor of
    // my neighbor is probably my neighbor" fixpoint. Candidates per round
    // are O(N·KG²) from keyed equi-joins (never N²), the property making
    // graph construction feasible at 100 TB where exact kNN is N².
    // Every edge decision (rank, neighbor, similarity) is in the hash.
    "x138_knn_graph" -> ((s, dir) => {
      implicit val scope: graft.ops.CacheScope = graft.ops.CacheScope.session
      val e = Tables(s, dir, "embeddings")
      val m = KMeansDet.fit(e, K, ITERS)
      val sn = KMeansDet.assignWithVec(e, m)
      graft.operators.NnDescent.build(sn, KG, GR, mixBuckets = MIXB)
        .select(col("u").as("vec_id"), col("rn").as("rank"),
                col("w").as("nbr"), round(col("cos"), 4).as("cos"))
        .orderBy(col("vec_id"), col("rank"))
    }),

    // X142 — NN-Descent recall audit: per query, how many of the exact
    // cosine top-KG does the 2-round descended graph actually hold? The
    // x127/x130 honesty device applied to the graph — the number a
    // deployment consults before serving from it (x138's edge parity
    // proves the algorithm; THIS measures whether the algorithm's answer
    // is any good). Integer (qid, hits) output. On THIS corpus the
    // honest answer is low (~5% at sf0.1): the driver embeddings are
    // near-isotropic — measured, a point's exact top-4 share its label
    // at chance rate (9.4% vs 10%) and top-1 cosine is 0.41 against a
    // 0.125-std noise floor — so neighbor-of-neighbor locality barely
    // exists, and a degree-4 graph's ~K² candidate budget per node
    // cannot beat it (x127 scores 2.3/3 here only by exactly scoring
    // nprobe/nlist = 25% of the corpus per query — a 30× larger
    // budget). Low recall on diffuse data at a tiny budget is the
    // truthful reading, and surfacing it before anyone serves from the
    // graph is the audit's entire job; NnDescentSpec proves the same
    // operator reaches exact kNN on clustered geometry.
    "x142_knn_recall" -> ((s, dir) => {
      implicit val scope: graft.ops.CacheScope = graft.ops.CacheScope.session
      val (sn, g0) = kmeansGraph(s, dir)
      val g = g0.filter(col("u") < 20)
        .select(col("u").as("gqid"), col("w").as("gnid"))
      val q = sn.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
                col("nrm").as("qn"))
      val wq = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc_nulls_last, col("nid").asc)
      val exact = broadcast(q).join(sn, col("vec_id") =!= col("qid"))
        .select(col("qid"), col("qv"), col("qn"), col("vec_id").as("nid"),
                col("v"), col("nrm"))
        .withColumn("cos", cosOf("qv", "qn", "v", "nrm"))
        .withColumn("rn", row_number().over(wq)).filter(col("rn") <= KG)
        .select(col("qid"), col("nid"))
      exact.join(g, col("qid") === col("gqid") &&
                    col("nid") === col("gnid"), "left")
        .groupBy(col("qid")).agg(count(col("gnid")).as("hits"))
        .orderBy(col("qid"))
    }),

    // X147 — INCREMENTAL k-NN graph maintenance: today's batch (the
    // x16/x128 % 10 split) gets graph edges WITHOUT re-descending the
    // corpus — centroids and the corpus graph are frozen artifacts from
    // yesterday's build; a batch vector's candidates are its frozen-cell
    // corpus mates PLUS one expansion hop over their graph adjacency
    // (the hop recovers near-boundary neighbors the cell alone misses —
    // query-time mixing, the same role x138's init ring plays at build
    // time). Per batch node the cost is O(|cell|·(1+KG)) — history is
    // never re-scanned beyond the touched cells, the x16/x116/x128
    // ingest economics applied to the graph family. k is the x133 scale
    // function (fixed k=8 measured 6.7 → 38 s over one decade before
    // governance: |cell| grows with N, and mates = |batch|·|cell| is the
    // dominant term); the oracle re-derives k from its own count(*).
    "x147_knn_incremental" -> ((s, dir) => {
      implicit val scope: graft.ops.CacheScope = graft.ops.CacheScope.session
      val e = Tables(s, dir, "embeddings")
      val batch = e.filter(col("vec_id") % 10 >= 8)
      val (m, sn, g) = incrementalArtifacts(s, dir)
      val bs = KMeansDet.assignWithVec(batch, m)
        .select(col("vec_id").as("bid"), col("cell"),
                col("v").as("qv"), col("nrm").as("qn"))
      val mates = bs
        .join(sn.select(col("cell"), col("vec_id").as("cid")), Seq("cell"))
        .select(col("bid"), col("cid"))
      val hop = mates.join(g, mates("cid") === g("u"))
        .select(col("bid"), col("w").as("cid"))
      val cand = mates.union(hop).distinct()
      val w = Window.partitionBy(col("bid"))
        .orderBy(col("cos").desc_nulls_last, col("cid").asc)
      cand
        .join(bs.select(col("bid"), col("qv"), col("qn")), "bid")
        .join(sn.select(col("vec_id").as("cid"), col("v").as("cv"),
                        col("nrm").as("cn")), "cid")
        .withColumn("cos", cosOf("qv", "qn", "cv", "cn"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= KG)
        .select(col("bid").as("vec_id"), col("rn").as("rank"),
                col("cid").as("nbr"), round(col("cos"), 4).as("cos"))
        .orderBy(col("vec_id"), col("rank"))
    }),

    // X166 — x147's GOVERNED twin (the x123/x152 device applied to
    // ingest-time graph maintenance): the sf10 probe measured x147 at
    // 507–610 s (sf1 10.4 s — the sqrt-blocking candidate set's N^1.5
    // arriving on schedule at the third decade: mates = |batch|·|cell|
    // with |cell| = 3√N). Here a batch node's direct mates are CAPPED
    // at the MCAP smallest corpus ids of its frozen cell — per-cell,
    // not per-pair, so the |batch|·|cell| frame is never materialized —
    // and the one-hop graph expansion (already x147's design: the hop
    // recovers near-boundary neighbors) does the neighborhood work the
    // dropped mates would have done. Per batch node the candidate
    // budget is ≤ MCAP·(1+KG), CONSTANT in corpus size; the cap binds
    // at every SF (gate cells hold ~50 members > MCAP=16). Output
    // shape identical to x147: the exact top-KG of the capped
    // candidate set, all decisions in the hash.
    "x166_knn_incremental_capped" -> ((s, dir) => {
      implicit val scope: graft.ops.CacheScope = graft.ops.CacheScope.session
      val e = Tables(s, dir, "embeddings")
      val batch = e.filter(col("vec_id") % 10 >= 8)
      val (m, sn, g) = incrementalArtifacts(s, dir)
      val bs = KMeansDet.assignWithVec(batch, m)
        .select(col("vec_id").as("bid"), col("cell"),
                col("v").as("qv"), col("nrm").as("qn"))
      val wm = Window.partitionBy(col("cell")).orderBy(col("cid").asc)
      val capped = sn.select(col("cell"), col("vec_id").as("cid"))
        .withColumn("mrn", row_number().over(wm))
        .filter(col("mrn") <= MCAP)
        .select(col("cell"), col("cid"))
      val mates = bs.join(capped, Seq("cell"))
        .select(col("bid"), col("cid"))
      val hop = mates.join(g, mates("cid") === g("u"))
        .select(col("bid"), col("w").as("cid"))
      val cand = mates.union(hop).distinct()
      val w = Window.partitionBy(col("bid"))
        .orderBy(col("cos").desc_nulls_last, col("cid").asc)
      cand
        .join(bs.select(col("bid"), col("qv"), col("qn")), "bid")
        .join(sn.select(col("vec_id").as("cid"), col("v").as("cv"),
                        col("nrm").as("cn")), "cid")
        .withColumn("cos", cosOf("qv", "qn", "cv", "cn"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= KG)
        .select(col("bid").as("vec_id"), col("rn").as("rank"),
                col("cid").as("nbr"), round(col("cos"), 4).as("cos"))
        .orderBy(col("vec_id"), col("rank"))
    }),

    // X148 — SERVING from the x138 k-NN graph: deterministic beam search
    // (x131's analog for the graph family, closing its build → audit →
    // serve gap). Seeds are the query's coarse cell-mates — UNSCORED
    // smallest ids, because scoring a whole cell is IVF's budget, the
    // cost this path exists to avoid — then HOPS rounds of expand-the-
    // frozen-adjacency / score / beam-cut, every decision pinned by
    // (cos DESC NULLS LAST, id ASC). Per query the scored-candidate
    // budget is ≤ BEAM·(1 + HOPS·KG) — CONSTANT in corpus size, vs
    // IVF's nprobe/nlist fraction; x149 measures what recall that
    // budget buys on geometry where a degree-KG graph can hold the
    // answer (x142 documents the ~5% it buys on THIS near-isotropic
    // corpus — the serve/don't-serve pair). Output is the served answer
    // (qid, rank, nid, cos), all in the hash.
    "x148_graph_search" -> ((s, dir) => {
      implicit val scope: graft.ops.CacheScope = graft.ops.CacheScope.session
      val (sn, g) = kmeansGraph(s, dir)
      val q = sn.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
                col("nrm").as("qn"))
      // nprobe=1 coarse assignment: for a corpus-member query the argmin
      // over centroids IS its stored cell, so read it from sn (a fresh
      // query would pay one broadcast argmin here — x131's probe step)
      val assigned = sn.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("cell"))
      val seeds = graft.operators.GraphSearch.cellSeeds(assigned, sn, BEAM)
      graft.operators.GraphSearch.search(g, sn, q, seeds, BEAM, HOPS)
        .filter(col("rn") <= 3)
        .select(col("qid"), col("rn").as("rank"), col("nid"),
                round(col("cos"), 4).as("cos"))
        .orderBy(col("qid"), col("rank"))
    }),

    // X170 — SHARDED graph serving ≡ batch beam search: the x148 answer
    // reproduced through the per-cell shard artifacts
    // (GraphSearch.serveShards — seed list + closure-restricted
    // adjacency/vector maps, ONE ROW PER CELL) and the keyed-join
    // higher-order-function serve (GraphSearch.serve, the serving path
    // for a batch frame and a query stream alike).
    // Green means the shard CLOSURE restriction is exactly sufficient:
    // every node a cell-seeded search expands (depth ≤ HOPS−1) or
    // scores (depth ≤ HOPS) is in the shard, so per-shard serving loses
    // nothing vs the whole-graph batch operator — the 100 TB sharding
    // story made structural and hash-audited (the oracle is x148's
    // verbatim beam chain + the budget column). scored_n is in the
    // hash: a shard that silently dropped a reachable candidate would
    // shift the budget even where the top-3 survived.
    "x170_graph_serve_sharded" -> ((s, dir) => {
      implicit val scope: graft.ops.CacheScope = graft.ops.CacheScope.session
      val (sn, g) = kmeansGraph(s, dir)
      val shards = scope.persist(
        graft.operators.GraphSearch.serveShards(g, sn, BEAM, HOPS))
      shards.count() // eager: the shard build is one job, probed per query
      val q = sn.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
                col("nrm").as("qn"), col("cell"))
      graft.operators.GraphSearch.serve(q, shards, BEAM, HOPS, 3)
        .select(col("qid"), col("rank"), col("nid"),
                round(col("cos"), 4).as("cos"), col("scored_n"))
        .orderBy(col("qid"), col("rank"))
    }),

    // X149 — the graph-serving recall twin on CLUSTERED geometry: the
    // positive example the x142 audit needs before the serve/don't-serve
    // decision means anything (x142's ~5% on the near-isotropic driver
    // corpus is the negative). The clustered corpus is DERIVED from the
    // embeddings table deterministically: sub-cluster key = label·G +
    // vec_id % G with G SCALE-GOVERNED so clusters hold ~12 members at
    // any SF (the x133 device — the oracle re-derives G from its own
    // count(*)), then v' = v + AMP·centroid(cell) with 6dp-rounded
    // centroids (the KMeansDet convention). Measured on the driver
    // embeddings: same-cell cos ≈ 0.99, cross-cell ≤ ~0.2 — genuinely
    // clustered, with CLUSTER SIZE COMMENSURATE WITH degree·budget,
    // which is the real serve/don't-serve criterion this pair teaches:
    // a first measurement at label-sized cells (~N/10 members) returned
    // 27% recall — tight clusters much larger than the budget leave the
    // search facing isotropic residuals again, exactly x142's regime.
    // Cells are the graph cells (no quantizer in the loop — the twin
    // isolates graph + search behavior). Build x138's graph over v',
    // serve with the SAME beam search at the SAME budget, audit per
    // query: hits = how many of the exact top-KG the served top-KG
    // found, scored_n = the budget actually paid. (qid, hits, scored_n)
    // — the budget→recall row, integer-only in the hash.
    "x149_graph_recall_clustered" -> ((s, dir) => {
      implicit val scope: graft.ops.CacheScope = graft.ops.CacheScope.session
      val (sn, _, g, _) = clusteredGraph(s, dir)
      val q = sn.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
                col("nrm").as("qn"))
      val assigned = sn.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("cell"))
      val seeds = graft.operators.GraphSearch.cellSeeds(assigned, sn, BEAM)
      val vf = graft.operators.GraphSearch.search(g, sn, q, seeds,
                                                  BEAM, HOPS)
      auditServe(exactTopKG(q, sn), vf).orderBy(col("qid"))
    }),

    // X163 — multi-cell seeding insurance (the nprobe>1 analog for graph
    // serving) + mis-seed recall audit, on the x149 clustered corpus at
    // the SAME total seed budget. Three modes, each a full serve+audit:
    //   one  — x149's baseline: BEAM seeds from the quantizer's nearest
    //          cell (by centroid distance, not the stored label — the
    //          probe a fresh query actually pays);
    //   two  — BEAM/2 seeds from EACH of the top-2 cells (nprobe=2 at
    //          the same total seed count — the insurance policy);
    //   mis1 — BEAM seeds from the SECOND-nearest cell only: the
    //          deliberately mis-assigned set quantifying what x149's
    //          GraphSearchSpec documents qualitatively — a mis-seeded
    //          query cannot escape the wrong cluster, because every
    //          frozen out-edge points within it.
    // The quantizer is the derivation's own 6dp cell-centroid table
    // (dist = |q|² − 2q·c + |c|², ties by cell — the KMeansDet
    // expression); for these corpus-member queries its nearest cell IS
    // the stored cell, so `one` reproduces x149's numbers. Output
    // (mode, qid, hits, scored_n) — the nprobe=2 insurance priced in
    // recall AND budget, integer-only in the hash.
    "x163_graph_seed_insurance" -> ((s, dir) => {
      implicit val scope: graft.ops.CacheScope = graft.ops.CacheScope.session
      val (sn, cent, g, _) = clusteredGraph(s, dir)
      val q = scope.persist(sn.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
                col("nrm").as("qn")))
      // coarse ranking: Q × |cells| against the broadcast centroid
      // table — the quantizer probe cost (Q·nlist), tiny and constant
      // in corpus size
      val wc = Window.partitionBy(col("qid"))
        .orderBy(col("dist").asc, col("cell").asc)
      val ranked = scope.persist(q.crossJoin(broadcast(cent))
        .withColumn("dist",
          V.dot(col("qv"), col("qv")) - lit(2.0) * V.dot(col("qv"), col("c"))
            + V.dot(col("c"), col("c")))
        .withColumn("crn", row_number().over(wc))
        .filter(col("crn") <= 2)
        .select(col("qid"), col("cell"), col("crn")))
      ranked.count() // eager: confine the Q×nlist probe to its own job
      val members = sn.select(col("cell"), col("vec_id").as("nid"))
      def seedsFrom(cells: DataFrame, perCell: Int): DataFrame = {
        val ws = Window.partitionBy(col("qid"), col("cell"))
          .orderBy(col("nid").asc)
        cells.join(members, "cell")
          .filter(col("nid") =!= col("qid"))
          .withColumn("srn", row_number().over(ws))
          .filter(col("srn") <= perCell)
          .select(col("qid"), col("nid"))
      }
      val exact = scope.persist(exactTopKG(q, sn))
      exact.count() // eager: the Q·N ground-truth arm pays once, one job
      val modes = Seq(
        ("one", ranked.filter(col("crn") === 1), BEAM),
        ("two", ranked, BEAM / 2),
        ("mis1", ranked.filter(col("crn") === 2), BEAM))
      modes.map { case (mode, cells, perCell) =>
        val vf = graft.operators.GraphSearch.search(
          g, sn, q, seedsFrom(cells.select(col("qid"), col("cell")), perCell),
          BEAM, HOPS)
        auditServe(exact, vf)
          .select(lit(mode).as("mode"), col("qid"), col("hits"),
                  col("scored_n"))
      }.reduce(_ unionByName _).orderBy(col("mode"), col("qid"))
    }),

    // X178 — TOP-2-CELL SEED INSURANCE ON THE SHARDED SERVING PATH:
    // x163 measured that top-2 seeding (not static edges — x171) is the
    // principled mis-seed insurance, but the deployment-shaped serve
    // (x170: per-cell shards + keyed stream-static join) routed each
    // query to exactly ONE shard. This closes that gap: each query
    // carries its top-2 coarse cells from the quantizer ranking and
    // joins BOTH cells' shard rows (two keyed lookups, union visited,
    // dedup by nid before the rank cut — GraphSearch.serveTop2, the
    // serving path for batch and stream queries alike). Green means the
    // two-shard serve ≡ the batch x163 'two'-mode beam search exactly —
    // the oracle is that chain verbatim, served top-3 with the budget
    // column in the hash (a shard union that dropped or double-counted
    // a reachable candidate would shift scored_n even where the top-3
    // survived). Budget ~2× the nprobe=1 serve and still CONSTANT in
    // corpus size; the x163 rows price what it buys (91–94% vs 0–6%
    // mis-seeded at the same total seed count).
    "x178_graph_serve_top2" -> ((s, dir) => {
      implicit val scope: graft.ops.CacheScope = graft.ops.CacheScope.session
      val (sn, cent, g, _) = clusteredGraph(s, dir)
      val shards = scope.persist(
        graft.operators.GraphSearch.serveShards(g, sn, BEAM, HOPS))
      shards.count() // eager: the shard build is one job, probed per query
      val q = sn.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
                col("nrm").as("qn"))
      // quantizer probe: Q × |cells| against the broadcast centroid
      // table (x163's ranking), folded to one (cell1, cell2) row per
      // query — the routing columns the top-2 serve joins on
      val wc = Window.partitionBy(col("qid"))
        .orderBy(col("dist").asc, col("cell").asc)
      val routed = q.crossJoin(broadcast(cent))
        .withColumn("dist",
          V.dot(col("qv"), col("qv")) - lit(2.0) * V.dot(col("qv"), col("c"))
            + V.dot(col("c"), col("c")))
        .withColumn("crn", row_number().over(wc))
        .filter(col("crn") <= 2)
        .groupBy(col("qid"))
        .agg(min(when(col("crn") === 1, col("cell"))).as("cell1"),
             min(when(col("crn") === 2, col("cell"))).as("cell2"))
        .join(q, "qid")
      graft.operators.GraphSearch.serveTop2(routed, shards, BEAM, HOPS, 3)
        .select(col("qid"), col("rank"), col("nid"),
                round(col("cos"), 4).as("cos"), col("scored_n"))
        .orderBy(col("qid"), col("rank"))
    }),

    // X171 — LONG-RANGE EDGES: the fix for x163's measured mis-seed
    // failure (mis1 recalls 0–6% because every frozen out-edge points
    // within the cluster). GraphSearch.longRangeEdges augments the
    // frozen graph AT BUILD TIME — each node gains one edge to the
    // smallest-id member of each of its top-LRE foreign cells by
    // centroid distance (the HNSW-upper-layer / NSG-navigating-node
    // idea, deterministic) — and the SAME mis-seeded serve re-runs over
    // both graphs, plus the correctly-seeded serve over the augmented
    // graph (does the insurance degrade the happy path, and at what
    // budget?). Three audited arms at identical beam/hops/seed budgets:
    //   mis1_plain — x163's mis1 verbatim (the measured failure);
    //   mis1_aug   — the same mis-seeds over g ∪ longRange;
    //   one_aug    — nearest-cell seeds over the augmented graph.
    // Output (mode, qid, hits, scored_n) — recovery AND its price in
    // scored candidates land in the same row, integer-only in the hash.
    // MEASURED: recovery 6.2→21.2% at sf0.001 decaying to 0→0% by
    // sf0.1 at ~25–45% more scored; the happy path holds 92.5–97.5%.
    // The honest verdict lives in GraphSearch.longRangeEdges' scaladoc:
    // static edges buy diversity/connectivity, not navigation among
    // quantizer-noise-separated siblings — x163's top-2 seeding is the
    // principled mis-seed insurance.
    "x171_graph_longrange" -> ((s, dir) => {
      implicit val scope: graft.ops.CacheScope = graft.ops.CacheScope.session
      val (sn, cent, g, cgrPath) = clusteredGraph(s, dir)
      // the augmented graph is a BUILD-TIME artifact (the scaladoc's
      // "paid once at build, never at query time" — now structurally
      // true): frozen beside the cgr derivation under the same
      // content-fingerprinted path, keyed by LRE
      val gaPath = s"$cgrPath/ga$LRE"
      if (!new java.io.File(s"$gaPath/_SUCCESS").exists())
        g.select(col("u"), col("w"))
          .union(graft.operators.GraphSearch.longRangeEdges(sn, cent, LRE))
          .distinct()
          .write.mode("overwrite").parquet(gaPath)
      val ga = scope.persist(s.read.parquet(gaPath))
      ga.count() // eager: the augmented artifact is probed per hop
      val q = scope.persist(sn.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
                col("nrm").as("qn")))
      val wc = Window.partitionBy(col("qid"))
        .orderBy(col("dist").asc, col("cell").asc)
      val ranked = scope.persist(q.crossJoin(broadcast(cent))
        .withColumn("dist",
          V.dot(col("qv"), col("qv")) - lit(2.0) * V.dot(col("qv"), col("c"))
            + V.dot(col("c"), col("c")))
        .withColumn("crn", row_number().over(wc))
        .filter(col("crn") <= 2)
        .select(col("qid"), col("cell"), col("crn")))
      ranked.count() // eager: confine the Q×nlist probe to its own job
      val members = sn.select(col("cell"), col("vec_id").as("nid"))
      def seedsFrom(cells: DataFrame): DataFrame = {
        val ws = Window.partitionBy(col("qid"), col("cell"))
          .orderBy(col("nid").asc)
        cells.join(members, "cell")
          .filter(col("nid") =!= col("qid"))
          .withColumn("srn", row_number().over(ws))
          .filter(col("srn") <= BEAM)
          .select(col("qid"), col("nid"))
      }
      val exact = scope.persist(exactTopKG(q, sn))
      exact.count() // eager: the Q·N ground-truth arm pays once, one job
      val one = ranked.filter(col("crn") === 1)
        .select(col("qid"), col("cell"))
      val mis = ranked.filter(col("crn") === 2)
        .select(col("qid"), col("cell"))
      val modes = Seq(
        ("mis1_plain", mis, g),
        ("mis1_aug", mis, ga),
        ("one_aug", one, ga))
      modes.map { case (mode, cells, graph) =>
        val vf = graft.operators.GraphSearch.search(
          graph, sn, q, seedsFrom(cells), BEAM, HOPS)
        auditServe(exact, vf)
          .select(lit(mode).as("mode"), col("qid"), col("hits"),
                  col("scored_n"))
      }.reduce(_ unionByName _).orderBy(col("mode"), col("qid"))
    }),

    // X164 — the symmetrize-at-build trade, MEASURED: GraphSearch's
    // scaladoc asserts a deployment symmetrizes the directed k-NN graph
    // once at build time for higher recall per hop — this prices that
    // claim on the x149 corpus. `dir` serves over the frozen directed
    // out-edges (x149's arm, the comparison row); `sym` serves over
    // g ∪ reverse(g) built ONCE (a distinct union — at 100 TB a single
    // extra keyed dedup over the edge artifact, paid at build, never at
    // query time) with the IDENTICAL beam/hops/seeds. Expansion fan-out
    // grows from out-degree KG to at most 2·KG, so scored_n rises with
    // it — recall AND the budget paid for it land in the same row.
    // Output (mode, qid, hits, scored_n), integer-only.
    "x164_graph_symmetrized" -> ((s, dir) => {
      implicit val scope: graft.ops.CacheScope = graft.ops.CacheScope.session
      val (sn, _, g, _) = clusteredGraph(s, dir)
      val gu = scope.persist(
        g.union(g.select(col("w").as("u"), col("u").as("w"))).distinct())
      gu.count() // eager: the symmetrized artifact is probed per hop
      val q = scope.persist(sn.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
                col("nrm").as("qn")))
      val assigned = sn.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("cell"))
      val seeds = scope.persist(
        graft.operators.GraphSearch.cellSeeds(assigned, sn, BEAM))
      val exact = scope.persist(exactTopKG(q, sn))
      Seq(("dir", g), ("sym", gu)).map { case (mode, graph) =>
        val vf = graft.operators.GraphSearch.search(graph, sn, q, seeds,
                                                    BEAM, HOPS)
        auditServe(exact, vf)
          .select(lit(mode).as("mode"), col("qid"), col("hits"),
                  col("scored_n"))
      }.reduce(_ unionByName _).orderBy(col("mode"), col("qid"))
    }),

    // X165 — the serve/don't-serve decision DIAGNOSTIC: x142 measured
    // ~5% recall serving the raw near-isotropic corpus (kmeans cells ≫
    // budget) and x149 measured ~96% on the clustered corpus (cells ~12
    // ≤ budget 52) — this emits the decision INPUTS (cell-size
    // distribution, doc-weighted median neighborhood, degree, budget,
    // coverage ratio) and the verdict for BOTH corpora, so the prose
    // criterion becomes a table a pipeline can gate on before
    // committing to graph serving. No graph build, no search — the
    // diagnostic is one keyed count per corpus collapsed to the |cells|
    // domain; it must agree with the measured pair at every SF.
    "x165_serve_decision" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val m = KMeansDet.fit(e, K, ITERS)
      val iso = KMeansDet.assign(e, m).select(col("cell"))
      val n = e.count() // certified small: one scalar
      val grp = math.max(1L, math.ceil(n / 120.0).toLong)
      val clu = e.select((col("label").cast("long") * grp +
                          pmod(col("vec_id"), lit(grp))).as("cell"))
      graft.operators.GraphSearch.serveDiagnostic(iso, KG, BEAM, HOPS)
        .select(lit("isotropic").as("corpus"), col("*"))
        .unionByName(
          graft.operators.GraphSearch.serveDiagnostic(clu, KG, BEAM, HOPS)
            .select(lit("clustered").as("corpus"), col("*")))
        .orderBy(col("corpus"))
    }),

    // X145 — hard-negative mining for embedding-model training (the
    // FaceNet semi-hard device): per anchor, the highest-cosine
    // cell-mates with a DIFFERENT label — the pairs a contrastive loss
    // learns most from. Candidates are cell-blocked (the x126 Σ|cell|²
    // economics) with k AS A SCALE FUNCTION from the start — the x133
    // governance is baked in, not retrofitted: fixed k=8 measured
    // 3.5 → 21 s over one 10× decade before this was applied. Anchor
    // label, negative label, rank, and similarity are all in the hash;
    // the oracle re-derives k from its own count(*).
    "x145_hard_negatives" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val n = e.count() // certified small: one scalar
      val k = math.max(K, math.ceil(math.sqrt(n.toDouble) / 3).toInt)
      val m = KMeansDet.fit(e, k, ITERS)
      val sn = KMeansDet.assignWithVec(e, m)
      val lab = e.select(col("vec_id"), col("label").cast("long").as("lab"))
      val snl = sn.join(lab, "vec_id")
      val a = snl.select(col("cell"), col("vec_id").as("aid"),
                         col("v").as("va"), col("nrm").as("na"),
                         col("lab").as("la"))
      val b = snl.select(col("cell"), col("vec_id").as("nid"),
                         col("v").as("vb"), col("nrm").as("nb"),
                         col("lab").as("lb"))
      val w = Window.partitionBy(col("aid"))
        .orderBy(col("cos").desc_nulls_last, col("nid").asc)
      a.join(b, Seq("cell"))
        .filter(col("aid") =!= col("nid") && col("la") =!= col("lb"))
        .withColumn("cos", cosOf("va", "na", "vb", "nb"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
        .select(col("aid").as("vec_id"), col("rn").as("rank"),
                col("nid").as("neg_id"), col("la").as("label"),
                col("lb").as("neg_label"), round(col("cos"), 4).as("cos"))
        .orderBy(col("vec_id"), col("rank"))
    }),

    // X146 — cluster-balanced corpus downsample (the D4-style diversity
    // quota): keep the ceil(|cell|/4) most central vectors of every
    // k-means cell — a 25% subset whose semantic coverage is balanced
    // by construction (a frequency-proportional sample would let the
    // dominant modes crowd out the tail cells). Selection = distance to
    // the final centroid with id tie-break; every kept row's rank and
    // distance are in the hash.
    "x146_cell_downsample" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val m = KMeansDet.fit(e, K, ITERS)
      val sn = KMeansDet.assignWithVec(e, m)
      val cf = centroidFrame(s, m)
      val w = Window.partitionBy(col("cell"))
        .orderBy(col("d").asc, col("vec_id").asc)
      sn.join(broadcast(cf), Seq("cell"))
        .withColumn("d",
          V.dot(col("v"), col("v")) - lit(2.0) * V.dot(col("v"), col("c"))
            + V.dot(col("c"), col("c")))
        .withColumn("rn", row_number().over(w))
        .withColumn("csize",
          count(lit(1)).over(Window.partitionBy(col("cell"))))
        .filter(col("rn") <= expr("(csize + 3) div 4"))
        .select(col("vec_id"), col("cell"), col("rn").as("rank"),
                round(col("d"), 4).as("d"))
        .orderBy(col("cell"), col("rank"))
    }),

    // X134 — grid-blocked DBSCAN: the density-based complement to the
    // k-means family (discovers the cluster COUNT, isolates noise —
    // k-means can do neither). Points are derived from customer in three
    // deterministic density regimes (tight blobs → core, a sparser halo
    // strip → border/core mix, uniform scatter → noise), so every role
    // appears; eps-neighborhoods come from the 9-offset grid-cell
    // equi-join (the q29 gap-cell device in 2-D — provably complete, 3x3
    // probed, all-integer distance math), components from the x14
    // pointer-jumping device over core-core edges. Role AND label of
    // every point are in the hash.
    "x134_dbscan_grid" -> ((s, dir) =>
      graft.operators.DbscanGrid
        .cluster(dbscanPoints(s, dir), DB_EPS, DB_MINPTS)
        .orderBy(col("id")))
  )

  private val DB_EPS = 60L
  private val DB_MINPTS = 5L

  /** Keys above this never join a blob/halo — the planted dense regions
    * have FIXED population (bounded cliques: the recursive-CTE closure
    * oracle is cubic-ish in clique size, and an UNBOUNDED dense region is
    * exactly what production DBSCAN governs with occupancy caps anyway),
    * while the scatter grows with SF, keeping the operator's measured
    * scaling regime (linear in N at constant density) intact. */
  private val DB_DENSE_MAX = 1500L

  /** x134's deterministic 2-D integer point derivation from customer:
    * of the first [[DB_DENSE_MAX]] keys, 30% collapse into 5 tight blobs
    * (spread 37x41 < eps — all mutually within eps, core once a blob
    * holds minPts) and 10% form a sparser halo strip just right of each
    * blob (within eps of the blob edge — the border/low-density regime);
    * everything else scatters uniformly over a 20000x20000 window
    * (density far below minPts at every SF — noise). All arithmetic is
    * integer and restated verbatim in the oracle. */
  private def dbscanPoints(s: SparkSession, dir: String): DataFrame = {
    val ck = col("c_custkey")
    val cents = round(col("c_acctbal") * 100).cast("long")
    val g = (expr("c_custkey div 10") % 5).cast("long")
    val kind = when(ck <= DB_DENSE_MAX, ck % 10).otherwise(lit(9L))
    Tables(s, dir, "customer").select(
      ck.as("id"),
      when(kind < 3, g * 4000 + ck % 37)
        .when(kind === 3, g * 4000 + 70 + ck % 80)
        .otherwise(((cents % 20000) + 20000) % 20000).as("x"),
      when(kind < 3, g * 4000 + ck % 41)
        .when(kind === 3, g * 4000 + ck % 61)
        .otherwise((ck * 7919) % 20000).as("y"))
  }

  /** The same derivation as DuckDB SQL (`//` = floor div on BIGINTs,
    * same as `div` on Spark longs for these non-negative operands). */
  private val dbscanPtsSql =
    s"""pts AS (SELECT c_custkey AS id,
         CASE WHEN c_custkey <= $DB_DENSE_MAX AND c_custkey % 10 < 3
                THEN ((c_custkey // 10) % 5) * 4000 + c_custkey % 37
              WHEN c_custkey <= $DB_DENSE_MAX AND c_custkey % 10 = 3
                THEN ((c_custkey // 10) % 5) * 4000 + 70 + c_custkey % 80
              ELSE ((CAST(round(c_acctbal * 100) AS BIGINT) % 20000)
                    + 20000) % 20000 END AS x,
         CASE WHEN c_custkey <= $DB_DENSE_MAX AND c_custkey % 10 < 3
                THEN ((c_custkey // 10) % 5) * 4000 + c_custkey % 41
              WHEN c_custkey <= $DB_DENSE_MAX AND c_custkey % 10 = 3
                THEN ((c_custkey // 10) % 5) * 4000 + c_custkey % 61
              ELSE (c_custkey * 7919) % 20000 END AS y
       FROM customer)"""

  // ---------------------------------------------------------------- oracle

  private def distSql(v: String, c: String): String =
    s"list_dot_product($v, $v) - 2 * list_dot_product($v, $c)" +
      s" + list_dot_product($c, $c)"

  /** One k-means iteration chain restated as DuckDB CTEs, names prefixed
    * with `p`: ends with `${p}af` (vec_id, v, cell) — the final
    * assignment — and `${p}c$ITERS` (the final centroids). Must stay
    * arithmetically identical to [[KMeansDet]]: same init, same distance
    * expression, same tie-break, same 6-dp mean rounding, same empty-cell
    * carry-over. `vexpr` is the vector expression over `embeddings`
    * (x129/x130 fit one chain per subspace SLICE); `eWhere` restricts the
    * FIT corpus (x128 trains on yesterday's corpus only). */
  private def kmeansChain(p: String, vexpr: String, dims: Int,
                          eWhere: String, kSql: String = K.toString): String = {
    val sb = new StringBuilder
    sb ++= s"""${p}e AS MATERIALIZED (SELECT vec_id, $vexpr AS v
                     FROM embeddings WHERE $eWhere),
      ${p}c0 AS (SELECT rn - 1 AS cell, v AS c FROM (
               SELECT v, row_number() OVER (ORDER BY vec_id) AS rn
               FROM ${p}e) WHERE rn <= ($kSql)),"""
    for (i <- 1 to ITERS) {
      val prev = s"${p}c${i - 1}"
      sb ++= s"""
      ${p}a$i AS MATERIALIZED (SELECT vec_id, v, cell FROM (
          SELECT e.vec_id, e.v, c.cell,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY ${distSql("e.v", "c.c")} ASC, c.cell ASC) AS rn
          FROM ${p}e e CROSS JOIN $prev c) WHERE rn = 1),
      ${p}m$i AS (SELECT cell, i, round(avg(v[i]), 6) AS mv
              FROM ${p}a$i CROSS JOIN generate_series(1, $dims) AS g(i)
              GROUP BY cell, i),
      ${p}c$i AS MATERIALIZED (SELECT p.cell, coalesce(mm.c, p.c) AS c
              FROM $prev p LEFT JOIN (SELECT cell, list(mv ORDER BY i) AS c
                                      FROM ${p}m$i GROUP BY cell) mm
                USING (cell)),"""
    }
    sb ++= s"""
      ${p}af AS MATERIALIZED (SELECT vec_id, v, cell FROM (
          SELECT e.vec_id, e.v, c.cell,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY ${distSql("e.v", "c.c")} ASC, c.cell ASC) AS rn
          FROM ${p}e e CROSS JOIN ${p}c$ITERS c) WHERE rn = 1)"""
    sb.toString
  }

  private def kmeansCtes(eWhere: String = "TRUE"): String =
    kmeansChain("", "embedding::DOUBLE[]", DIMS, eWhere)

  /** The x138 NN-Descent CTE chain (expects [[kmeansCtes]] in the same
    * WITH — reads `af`): sn with norms → cell ring `ld` + mixing ring
    * `lm` → `g0` → per-round und/cd/g; ends at `g$GR`. Shared by the
    * x138 edge-parity oracle and the x142 recall audit. Must stay
    * arithmetically identical to [[graft.operators.NnDescent.build]]. */
  private def nndCtes: String = {
    def leadCols(grp: String) = (1 to KG).map(i =>
      s"lead(vec_id, $i) OVER (PARTITION BY $grp ORDER BY vec_id) " +
        s"AS w$i").mkString(", ")
    val wList = (1 to KG).map(i => s"w$i").mkString(", ")
    val cosRaw = """CASE WHEN a.n = 0 OR b.n = 0 THEN NULL
              ELSE list_dot_product(a.v, b.v) / (a.n * b.n) END"""
    def roundCte(i: Int): String = {
      val prev = s"g${i - 1}"
      s"""und$i AS MATERIALIZED (SELECT u, w FROM $prev
                 UNION SELECT w AS u, u AS w FROM $prev),
        cd$i AS MATERIALIZED (SELECT a.u AS u, b.w AS w
                 FROM und$i a JOIN und$i b ON b.u = a.w WHERE b.w <> a.u
                 UNION SELECT u, w FROM und$i),
        g$i AS MATERIALIZED (SELECT u, w, cos, rn FROM (
            SELECT c.u, c.w, $cosRaw AS cos,
              row_number() OVER (PARTITION BY c.u ORDER BY
                ($cosRaw) DESC NULLS LAST, c.w ASC) AS rn
            FROM cd$i c JOIN sn a ON a.vec_id = c.u
                 JOIN sn b ON b.vec_id = c.w)
          WHERE rn <= $KG)"""
    }
    s"""sn AS MATERIALIZED (SELECT vec_id, cell, v,
                 sqrt(list_dot_product(v, v)) AS n FROM af),
        ld AS (SELECT vec_id AS u, ${leadCols("cell")} FROM sn),
        lm AS (SELECT vec_id AS u, ${leadCols(s"vec_id % $MIXB")} FROM sn),
        g0 AS MATERIALIZED (SELECT u, w FROM (
                 SELECT u, unnest([$wList]) AS w FROM ld) WHERE w IS NOT NULL
               UNION
               SELECT u, w FROM (
                 SELECT u, unnest([$wList]) AS w FROM lm)
               WHERE w IS NOT NULL),
        ${(1 to GR).map(roundCte).mkString(",\n        ")}"""
  }

  /** The x148/x149/x163/x164 beam-search CTE chain (expects `sn`, a
    * query CTE `qs(qid, qv, qn)`, a seed CTE `seed(qid, nid)`, and the
    * graph CTE `gName(u, w)` in the same WITH). Ends at
    * `${p}vf(qid, nid, cos, rn, scored_n)` — the ranked visited set; the
    * `p` prefix lets several chains (seeding modes, graph variants)
    * coexist in one WITH. Must stay arithmetically identical to
    * [[graft.operators.GraphSearch.search]]: per hop, beam cut by
    * (cos DESC NULLS LAST, nid ASC), directed expansion excluding self,
    * UNION set-dedup (cos is recomputed bit-identically, so set
    * semantics match the Spark distinct()). */
  private def beamCtes(gName: String, p: String = "",
                       seed: String = "s0"): String = {
    val cosQ = """CASE WHEN q.qn = 0 OR b.n = 0 THEN NULL
              ELSE list_dot_product(q.qv, b.v) / (q.qn * b.n) END"""
    val hops = (1 to HOPS).map { h =>
      s"""${p}bm$h AS (SELECT qid, nid FROM (
             SELECT qid, nid, row_number() OVER (PARTITION BY qid
               ORDER BY cos DESC NULLS LAST, nid ASC) AS rn
             FROM ${p}v${h - 1}) WHERE rn <= $BEAM),
        ${p}nw$h AS (SELECT DISTINCT f.qid, g.w AS nid
                 FROM ${p}bm$h f JOIN $gName g ON g.u = f.nid
                 WHERE g.w <> f.qid),
        ${p}v$h AS MATERIALIZED (SELECT qid, nid, cos FROM ${p}v${h - 1}
                UNION
                SELECT n.qid, n.nid, $cosQ AS cos
                FROM ${p}nw$h n JOIN qs q ON q.qid = n.qid
                     JOIN sn b ON b.vec_id = n.nid)"""
    }.mkString(",\n        ")
    s"""${p}v0 AS MATERIALIZED (SELECT DISTINCT s.qid, s.nid, $cosQ AS cos
               FROM $seed s JOIN qs q ON q.qid = s.qid
                    JOIN sn b ON b.vec_id = s.nid),
        $hops,
        ${p}vf AS MATERIALIZED (SELECT qid, nid, cos,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY cos DESC NULLS LAST, nid ASC) AS rn,
                 count(*) OVER (PARTITION BY qid) AS scored_n
               FROM ${p}v$HOPS)"""
  }

  /** The x149/x163/x164 clustered-corpus derivation as CTEs: ends at
    * `af(vec_id, v, cell)` (amplified vectors) and `cc(cell, c)` (the
    * 6dp-rounded cell centroids — x163's coarse quantizer table). Must
    * stay arithmetically identical to [[clusteredGraph]]. */
  private def clusteredCtes: String = {
    val amp = AMP.toInt // 40.0 is integer-exact; int·double is exact SQL
    s"""gd AS (SELECT greatest(1, CAST(ceil(count(*) / 120.0)
               AS BIGINT)) AS g FROM embeddings),
        ex0 AS MATERIALIZED (SELECT vec_id,
               CAST(label AS BIGINT) * gd.g + vec_id % gd.g AS cell,
               embedding::DOUBLE[] AS v0 FROM embeddings CROSS JOIN gd),
        cm AS (SELECT cell, i, round(avg(v0[i]), 6) AS m
               FROM ex0 CROSS JOIN generate_series(1, $DIMS) AS gs0(i)
               GROUP BY cell, i),
        cc AS MATERIALIZED (SELECT cell, list(m ORDER BY i) AS c FROM cm GROUP BY cell),
        af AS MATERIALIZED (SELECT vec_id,
                 list_transform(generate_series(1, $DIMS),
                   i -> v0[i] + $amp * c[i]) AS v,
                 ex0.cell
               FROM ex0 JOIN cc USING (cell))"""
  }

  /** Shared exact-top-KG arm (expects `qs` and `sn`): `ex(qid, nid)`. */
  private def exCte: String =
    s"""ex AS MATERIALIZED (SELECT qid, nid FROM (
        SELECT q.qid, s.vec_id AS nid,
          row_number() OVER (PARTITION BY q.qid
            ORDER BY CASE WHEN q.qn = 0 OR s.n = 0 THEN NULL
              ELSE list_dot_product(q.qv, s.v) / (q.qn * s.n) END
              DESC NULLS LAST, s.vec_id ASC) AS rn
        FROM qs q JOIN sn s ON s.vec_id <> q.qid) WHERE rn <= $KG)"""

  /** Serve audit over a `${p}vf` beam chain vs `ex`: `${p}au(qid, hits,
    * scored_n)`. */
  private def auditCte(p: String): String =
    s"""${p}ap AS (SELECT qid, nid FROM ${p}vf WHERE rn <= $KG),
        ${p}bu AS (SELECT DISTINCT qid, scored_n FROM ${p}vf),
        ${p}au AS (SELECT ex.qid AS qid, count(${p}ap.nid) AS hits,
                 any_value(${p}bu.scored_n) AS scored_n
               FROM ex LEFT JOIN ${p}ap
                 ON ${p}ap.qid = ex.qid AND ${p}ap.nid = ex.nid
                 JOIN ${p}bu ON ${p}bu.qid = ex.qid
               GROUP BY ex.qid)"""

  /** x148/x149 seed CTE: the BEAM smallest same-cell ids per query,
    * self excluded, unscored (see [[graft.operators.GraphSearch
    * .cellSeeds]]). Queries are the sn members with vec_id < `qMax`. */
  private def seedCtes(qMax: Int): String =
    s"""qs AS (SELECT vec_id AS qid, v AS qv, n AS qn
               FROM sn WHERE vec_id < $qMax),
        s0 AS (SELECT qid, nid FROM (
            SELECT q.vec_id AS qid, s.vec_id AS nid,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY s.vec_id ASC) AS srn
            FROM sn q JOIN sn s
              ON s.cell = q.cell AND s.vec_id <> q.vec_id
            WHERE q.vec_id < $qMax) WHERE srn <= $BEAM)"""

  /** x165 per-corpus diagnostic CTEs over a `(cell)` source CTE `src`:
    * ends at `${p}dg` — one row of decision inputs + verdict. Must stay
    * arithmetically identical to
    * [[graft.operators.GraphSearch.serveDiagnostic]]. */
  private def diagCtes(p: String, src: String, label: String): String = {
    val budget = BEAM.toLong + HOPS.toLong * BEAM * KG
    s"""${p}sz AS (SELECT cell, count(*)::BIGINT AS sz
               FROM $src GROUP BY cell),
        ${p}st AS (SELECT sum(sz)::BIGINT AS n, count(*)::BIGINT AS n_cells,
                 min(sz) AS min_sz, max(sz) AS max_sz FROM ${p}sz),
        ${p}cu AS (SELECT sz, sum(sz) OVER (ORDER BY sz ASC, cell ASC
                 ROWS UNBOUNDED PRECEDING)::BIGINT AS cum FROM ${p}sz),
        ${p}md AS (SELECT min_by(sz, cum) AS med_sz
               FROM ${p}cu CROSS JOIN ${p}st WHERE cum * 2 >= n),
        ${p}dg AS (SELECT '$label' AS corpus, n, n_cells, min_sz, med_sz,
                 max_sz, CAST($KG AS BIGINT) AS degree,
                 CAST($budget AS BIGINT) AS budget,
                 (100 * $budget) // med_sz AS ratio_pct,
                 CASE WHEN med_sz <= $budget THEN 'serve'
                      ELSE 'dont_serve' END AS verdict
               FROM ${p}st CROSS JOIN ${p}md)"""
  }

  /** The four per-subspace PQ chains (p0..p3 over 16-dim slices). */
  private def pqChains: String =
    (0 until PQ_M).map { j =>
      kmeansChain(s"p$j",
        s"(embedding::DOUBLE[])[${j * PQ_SD + 1}:${(j + 1) * PQ_SD}]",
        PQ_SD, "TRUE")
    }.mkString(",\n      ")

  private val cosSql =
    """CASE WHEN a.n = 0 OR b.n = 0 THEN NULL
            ELSE list_dot_product(a.v, b.v) / (a.n * b.n) END"""

  val oracleSql: Map[String, String] = Map(

    "x125_kmeans_embed" ->
      s"""WITH ${kmeansCtes()}
          SELECT vec_id, cell FROM af ORDER BY vec_id""",

    "x126_semantic_dedup" ->
      s"""WITH ${kmeansCtes()},
          sn AS (SELECT vec_id, cell, v,
                   sqrt(list_dot_product(v, v)) AS n FROM af),
          p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, b.cell AS cell,
                  $cosSql AS cos
                FROM sn a JOIN sn b
                  ON b.cell = a.cell AND b.vec_id > a.vec_id)
          SELECT id_b AS vec_id, cell, min(id_a) AS kept_id,
                 round(max(cos), 4) AS max_cos
          FROM p WHERE cos >= $TAU
          GROUP BY id_b, cell ORDER BY vec_id""",

    "x127_ivf_recall" ->
      s"""WITH ${kmeansCtes()},
          sn AS (SELECT vec_id, cell, v,
                   sqrt(list_dot_product(v, v)) AS n FROM af),
          qs AS (SELECT vec_id AS qid, v AS qv,
                   sqrt(list_dot_product(v, v)) AS qn
                 FROM e WHERE vec_id < 20),
          ex AS (SELECT qid, nid FROM (
              SELECT qs.qid, s.vec_id AS nid,
                row_number() OVER (PARTITION BY qs.qid
                  ORDER BY CASE WHEN qs.qn = 0 OR s.n = 0 THEN NULL
                    ELSE list_dot_product(qs.qv, s.v) / (qs.qn * s.n) END
                    DESC NULLS LAST, s.vec_id ASC) AS rn
              FROM qs JOIN sn s ON s.vec_id <> qs.qid) WHERE rn <= 3),
          pr AS (SELECT qid, cell FROM (
              SELECT qs.qid, c.cell,
                row_number() OVER (PARTITION BY qs.qid
                  ORDER BY ${distSql("qs.qv", "c.c")} ASC, c.cell ASC) AS rn
              FROM qs CROSS JOIN c$ITERS c) WHERE rn <= 2),
          ap AS (SELECT qid, nid FROM (
              SELECT qs.qid, s.vec_id AS nid,
                row_number() OVER (PARTITION BY qs.qid
                  ORDER BY CASE WHEN qs.qn = 0 OR s.n = 0 THEN NULL
                    ELSE list_dot_product(qs.qv, s.v) / (qs.qn * s.n) END
                    DESC NULLS LAST, s.vec_id ASC) AS rn
              FROM qs JOIN pr ON pr.qid = qs.qid
              JOIN sn s ON s.cell = pr.cell AND s.vec_id <> qs.qid)
            WHERE rn <= 3)
          SELECT ex.qid AS qid, count(ap.nid) AS hits
          FROM ex LEFT JOIN ap ON ap.qid = ex.qid AND ap.nid = ex.nid
          GROUP BY ex.qid ORDER BY ex.qid""",

    "x128_semantic_incremental" ->
      s"""WITH ${kmeansCtes("vec_id % 10 < 8")},
          eb AS (SELECT vec_id, embedding::DOUBLE[] AS v
                 FROM embeddings WHERE vec_id % 10 >= 8),
          ab AS (SELECT vec_id, v, cell FROM (
              SELECT eb.vec_id, eb.v, c.cell,
                row_number() OVER (PARTITION BY eb.vec_id
                  ORDER BY ${distSql("eb.v", "c.c")} ASC, c.cell ASC) AS rn
              FROM eb CROSS JOIN c$ITERS c) WHERE rn = 1),
          snc AS (SELECT vec_id, cell, v,
                    sqrt(list_dot_product(v, v)) AS n FROM af),
          snb AS (SELECT vec_id, cell, v,
                    sqrt(list_dot_product(v, v)) AS n FROM ab),
          p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, b.cell AS cell,
                  $cosSql AS cos
                FROM snc a JOIN snb b ON b.cell = a.cell)
          SELECT id_b AS vec_id, cell, min(id_a) AS kept_id,
                 round(max(cos), 4) AS max_cos
          FROM p WHERE cos >= $TAU
          GROUP BY id_b, cell ORDER BY vec_id""",

    "x133_semantic_scaled" -> {
      val kSql = s"SELECT greatest($K, CAST(ceil(sqrt(count(*)) / 3) " +
        "AS BIGINT)) FROM e"
      s"""WITH ${kmeansChain("", "embedding::DOUBLE[]", DIMS, "TRUE", kSql)},
          sn AS (SELECT vec_id, cell, v,
                   sqrt(list_dot_product(v, v)) AS n FROM af),
          p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, b.cell AS cell,
                  $cosSql AS cos
                FROM sn a JOIN sn b
                  ON b.cell = a.cell AND b.vec_id > a.vec_id)
          SELECT id_b AS vec_id, cell, min(id_a) AS kept_id,
                 round(max(cos), 4) AS max_cos
          FROM p WHERE cos >= $TAU
          GROUP BY id_b, cell ORDER BY vec_id"""
    },

    "x129_pq_encode" ->
      s"""WITH $pqChains
          SELECT p0af.vec_id AS vec_id, p0af.cell AS c0, p1af.cell AS c1,
                 p2af.cell AS c2, p3af.cell AS c3
          FROM p0af JOIN p1af USING (vec_id) JOIN p2af USING (vec_id)
               JOIN p3af USING (vec_id)
          ORDER BY vec_id""",

    "x130_pq_recall" -> {
      val adc = (0 until PQ_M).map { j =>
        distSql(s"(qs.qv)[${j * PQ_SD + 1}:${(j + 1) * PQ_SD}]", s"k$j.c")
      }.map(t => s"($t)").mkString(" + ")
      val lutJoins = (0 until PQ_M)
        .map(j => s"JOIN p${j}c$ITERS k$j ON k$j.cell = cd.c$j")
        .mkString("\n       ")
      s"""WITH $pqChains,
          ef AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          qs AS (SELECT vec_id AS qid, v AS qv FROM ef WHERE vec_id < 10),
          cds AS (SELECT p0af.vec_id AS vec_id, p0af.cell AS c0,
                         p1af.cell AS c1, p2af.cell AS c2, p3af.cell AS c3
                  FROM p0af JOIN p1af USING (vec_id)
                       JOIN p2af USING (vec_id) JOIN p3af USING (vec_id)),
          ex AS (SELECT qid, nid FROM (
              SELECT qs.qid, x.vec_id AS nid,
                row_number() OVER (PARTITION BY qs.qid
                  ORDER BY ${distSql("qs.qv", "x.v")} ASC, x.vec_id ASC)
                  AS rn
              FROM qs JOIN ef x ON x.vec_id <> qs.qid) WHERE rn <= 3),
          ap AS (SELECT qid, nid FROM (
              SELECT qs.qid, cd.vec_id AS nid,
                row_number() OVER (PARTITION BY qs.qid
                  ORDER BY ($adc) ASC, cd.vec_id ASC) AS rn
              FROM qs JOIN cds cd ON cd.vec_id <> qs.qid
              $lutJoins) WHERE rn <= 3)
          SELECT ex.qid AS qid, count(ap.nid) AS hits
          FROM ex LEFT JOIN ap ON ap.qid = ex.qid AND ap.nid = ex.nid
          GROUP BY ex.qid ORDER BY ex.qid"""
    },

    "x131_ivfadc_search" -> {
      val adc = (0 until PQ_M).map { j =>
        distSql(s"(qs.qv)[${j * PQ_SD + 1}:${(j + 1) * PQ_SD}]", s"k$j.c")
      }.map(t => s"($t)").mkString(" + ")
      val lutJoins = (0 until PQ_M)
        .map(j => s"JOIN p${j}c$ITERS k$j ON k$j.cell = cd.c$j")
        .mkString("\n       ")
      s"""WITH ${kmeansChain("g", "embedding::DOUBLE[]", DIMS, "TRUE")},
          $pqChains,
          qs AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
                 FROM embeddings WHERE vec_id < 10),
          cds AS (SELECT p0af.vec_id AS vec_id, gaf.cell AS cell,
                         p0af.cell AS c0, p1af.cell AS c1,
                         p2af.cell AS c2, p3af.cell AS c3
                  FROM p0af JOIN p1af USING (vec_id)
                       JOIN p2af USING (vec_id) JOIN p3af USING (vec_id)
                       JOIN gaf USING (vec_id)),
          pr AS (SELECT qid, cell FROM (
              SELECT qs.qid, c.cell,
                row_number() OVER (PARTITION BY qs.qid
                  ORDER BY ${distSql("qs.qv", "c.c")} ASC, c.cell ASC) AS rn
              FROM qs CROSS JOIN gc$ITERS c) WHERE rn <= 2)
          SELECT qid, rank, nid, adc FROM (
              SELECT qs.qid, cd.vec_id AS nid,
                round(($adc), 4) AS adc,
                row_number() OVER (PARTITION BY qs.qid
                  ORDER BY ($adc) ASC, cd.vec_id ASC) AS rank
              FROM qs JOIN pr ON pr.qid = qs.qid
              JOIN cds cd ON cd.cell = pr.cell AND cd.vec_id <> qs.qid
              $lutJoins)
          WHERE rank <= 3 ORDER BY qid, rank"""
    },

    // the identical NN-Descent iteration: cell-ring + mixing-ring lead()
    // init, then per round candidates = current ∪ reversed ∪
    // neighbors-of-neighbors (UNION = set semantics, matching the Spark
    // distinct()), top-KG per node by (cos DESC NULLS LAST, id ASC)
    "x138_knn_graph" ->
      s"""WITH ${kmeansCtes()},
          $nndCtes
          SELECT u AS vec_id, rn AS rank, w AS nbr, round(cos, 4) AS cos
          FROM g$GR ORDER BY vec_id, rank""",

    // x138's chain + the x127 exact arm: per query, how many of the true
    // top-KG neighbors does the descended graph hold?
    "x142_knn_recall" ->
      s"""WITH ${kmeansCtes()},
          $nndCtes,
          qs AS (SELECT vec_id AS qid, v AS qv, n AS qn
                 FROM sn WHERE vec_id < 20),
          ex AS (SELECT qid, nid FROM (
              SELECT qs.qid, s.vec_id AS nid,
                row_number() OVER (PARTITION BY qs.qid
                  ORDER BY CASE WHEN qs.qn = 0 OR s.n = 0 THEN NULL
                    ELSE list_dot_product(qs.qv, s.v) / (qs.qn * s.n) END
                    DESC NULLS LAST, s.vec_id ASC) AS rn
              FROM qs JOIN sn s ON s.vec_id <> qs.qid) WHERE rn <= $KG),
          gg AS (SELECT u, w FROM g$GR WHERE u < 20)
          SELECT ex.qid AS qid, count(gg.w) AS hits
          FROM ex LEFT JOIN gg ON gg.u = ex.qid AND gg.w = ex.nid
          GROUP BY ex.qid ORDER BY ex.qid""",

    // the identical frozen-artifact maintenance: corpus-only k-means +
    // NN-Descent chains, batch assigned against the frozen centroids,
    // candidates = cell mates ∪ one adjacency hop
    "x147_knn_incremental" -> {
      val cosBS = """CASE WHEN b.n = 0 OR s.n = 0 THEN NULL
            ELSE list_dot_product(b.v, s.v) / (b.n * s.n) END"""
      val kSql = s"SELECT greatest($K, CAST(ceil(sqrt(count(*)) / 3) " +
        "AS BIGINT)) FROM e"
      s"""WITH ${kmeansChain("", "embedding::DOUBLE[]", DIMS,
                             "vec_id % 10 < 8", kSql)},
          $nndCtes,
          eb AS (SELECT vec_id, embedding::DOUBLE[] AS v
                 FROM embeddings WHERE vec_id % 10 >= 8),
          ab AS (SELECT vec_id, v, cell FROM (
              SELECT eb.vec_id, eb.v, c.cell,
                row_number() OVER (PARTITION BY eb.vec_id
                  ORDER BY ${distSql("eb.v", "c.c")} ASC, c.cell ASC) AS rn
              FROM eb CROSS JOIN c$ITERS c) WHERE rn = 1),
          bsn AS (SELECT vec_id, cell, v,
                    sqrt(list_dot_product(v, v)) AS n FROM ab),
          mates AS (SELECT b.vec_id AS bid, s.vec_id AS cid
                    FROM bsn b JOIN sn s ON s.cell = b.cell),
          hop AS (SELECT m.bid, g.w AS cid
                  FROM mates m JOIN g$GR g ON g.u = m.cid),
          cand AS (SELECT bid, cid FROM mates
                   UNION SELECT bid, cid FROM hop),
          sc AS (SELECT c.bid, c.cid, $cosBS AS cos,
                   row_number() OVER (PARTITION BY c.bid ORDER BY
                     ($cosBS) DESC NULLS LAST, c.cid ASC) AS rn
                 FROM cand c JOIN bsn b ON b.vec_id = c.bid
                      JOIN sn s ON s.vec_id = c.cid)
          SELECT bid AS vec_id, rn AS rank, cid AS nbr,
                 round(cos, 4) AS cos
          FROM sc WHERE rn <= $KG ORDER BY vec_id, rank"""
    },

    // x147's chain with the per-cell MCAP-smallest mate cap spliced in
    "x166_knn_incremental_capped" -> {
      val cosBS = """CASE WHEN b.n = 0 OR s.n = 0 THEN NULL
            ELSE list_dot_product(b.v, s.v) / (b.n * s.n) END"""
      val kSql = s"SELECT greatest($K, CAST(ceil(sqrt(count(*)) / 3) " +
        "AS BIGINT)) FROM e"
      s"""WITH ${kmeansChain("", "embedding::DOUBLE[]", DIMS,
                             "vec_id % 10 < 8", kSql)},
          $nndCtes,
          eb AS (SELECT vec_id, embedding::DOUBLE[] AS v
                 FROM embeddings WHERE vec_id % 10 >= 8),
          ab AS (SELECT vec_id, v, cell FROM (
              SELECT eb.vec_id, eb.v, c.cell,
                row_number() OVER (PARTITION BY eb.vec_id
                  ORDER BY ${distSql("eb.v", "c.c")} ASC, c.cell ASC) AS rn
              FROM eb CROSS JOIN c$ITERS c) WHERE rn = 1),
          bsn AS (SELECT vec_id, cell, v,
                    sqrt(list_dot_product(v, v)) AS n FROM ab),
          cm0 AS (SELECT cell, cid FROM (
              SELECT cell, vec_id AS cid,
                row_number() OVER (PARTITION BY cell
                  ORDER BY vec_id ASC) AS mrn
              FROM sn) WHERE mrn <= $MCAP),
          mates AS (SELECT b.vec_id AS bid, c.cid
                    FROM bsn b JOIN cm0 c ON c.cell = b.cell),
          hop AS (SELECT m.bid, g.w AS cid
                  FROM mates m JOIN g$GR g ON g.u = m.cid),
          cand AS (SELECT bid, cid FROM mates
                   UNION SELECT bid, cid FROM hop),
          sc AS (SELECT c.bid, c.cid, $cosBS AS cos,
                   row_number() OVER (PARTITION BY c.bid ORDER BY
                     ($cosBS) DESC NULLS LAST, c.cid ASC) AS rn
                 FROM cand c JOIN bsn b ON b.vec_id = c.bid
                      JOIN sn s ON s.vec_id = c.cid)
          SELECT bid AS vec_id, rn AS rank, cid AS nbr,
                 round(cos, 4) AS cos
          FROM sc WHERE rn <= $KG ORDER BY vec_id, rank"""
    },

    // the identical frozen-graph beam search: x138's k-means + NN-Descent
    // chains, unscored smallest-id cell seeds, HOPS expand/score/cut
    // rounds, served top-3
    "x148_graph_search" ->
      s"""WITH ${kmeansCtes()},
          $nndCtes,
          ${seedCtes(10)},
          ${beamCtes(s"g$GR")}
          SELECT qid, rn AS rank, nid, round(cos, 4) AS cos
          FROM vf WHERE rn <= 3 ORDER BY qid, rank""",

    // the shard path must EQUAL the whole-graph beam search, so the
    // oracle IS x148's verbatim chain — plus the per-query budget
    // column (a dropped reachable candidate shifts scored_n even where
    // the served top-3 survives)
    "x170_graph_serve_sharded" ->
      s"""WITH ${kmeansCtes()},
          $nndCtes,
          ${seedCtes(10)},
          ${beamCtes(s"g$GR")}
          SELECT qid, rn AS rank, nid, round(cos, 4) AS cos, scored_n
          FROM vf WHERE rn <= 3 ORDER BY qid, rank""",

    // the identical clustered-corpus derivation (scale-governed
    // sub-cluster key, 6dp-rounded cell centroids, v' = v + AMP·c)
    // feeding the SAME NN-Descent + beam chains, audited against the
    // exact top-KG; G re-derived from the oracle's own count (x133)
    "x149_graph_recall_clustered" ->
      s"""WITH $clusteredCtes,
          $nndCtes,
          ${seedCtes(20)},
          ${beamCtes(s"g$GR")},
          $exCte,
          ${auditCte("")}
          SELECT qid, hits, scored_n FROM au ORDER BY qid""",

    // the identical clustered derivation + graph; three seed sets from
    // the 6dp-centroid quantizer ranking (nearest cell / top-2 at half
    // seeds each / second-nearest only), three beam chains, three audit
    // arms against the shared exact top-KG
    "x163_graph_seed_insurance" -> {
      val half = BEAM / 2
      s"""WITH $clusteredCtes,
          $nndCtes,
          qs AS (SELECT vec_id AS qid, v AS qv, n AS qn
                 FROM sn WHERE vec_id < 20),
          cr AS (SELECT qid, cell, crn FROM (
              SELECT q.qid, cc.cell,
                row_number() OVER (PARTITION BY q.qid
                  ORDER BY ${distSql("q.qv", "cc.c")} ASC, cc.cell ASC)
                  AS crn
              FROM qs q CROSS JOIN cc) WHERE crn <= 2),
          so AS (SELECT qid, nid FROM (
              SELECT cr.qid, s.vec_id AS nid,
                row_number() OVER (PARTITION BY cr.qid, cr.cell
                  ORDER BY s.vec_id ASC) AS srn
              FROM cr JOIN sn s ON s.cell = cr.cell AND s.vec_id <> cr.qid
              WHERE cr.crn = 1) WHERE srn <= $BEAM),
          st AS (SELECT qid, nid FROM (
              SELECT cr.qid, s.vec_id AS nid,
                row_number() OVER (PARTITION BY cr.qid, cr.cell
                  ORDER BY s.vec_id ASC) AS srn
              FROM cr JOIN sn s ON s.cell = cr.cell AND s.vec_id <> cr.qid)
            WHERE srn <= $half),
          sm AS (SELECT qid, nid FROM (
              SELECT cr.qid, s.vec_id AS nid,
                row_number() OVER (PARTITION BY cr.qid, cr.cell
                  ORDER BY s.vec_id ASC) AS srn
              FROM cr JOIN sn s ON s.cell = cr.cell AND s.vec_id <> cr.qid
              WHERE cr.crn = 2) WHERE srn <= $BEAM),
          ${beamCtes(s"g$GR", "o_", "so")},
          ${beamCtes(s"g$GR", "t_", "st")},
          ${beamCtes(s"g$GR", "m_", "sm")},
          $exCte,
          ${auditCte("o_")},
          ${auditCte("t_")},
          ${auditCte("m_")}
          SELECT * FROM (
            SELECT 'one' AS mode, qid, hits, scored_n FROM o_au
            UNION ALL SELECT 'two', qid, hits, scored_n FROM t_au
            UNION ALL SELECT 'mis1', qid, hits, scored_n FROM m_au)
          ORDER BY mode, qid"""
    },

    // the two-shard serve must EQUAL the batch top-2 beam search, so
    // the oracle is x163's 'two'-mode chain verbatim (top-2 cells from
    // the 6dp-centroid quantizer ranking, beam/2 seeds from each),
    // served top-3 with the per-query budget column in the hash
    "x178_graph_serve_top2" -> {
      val half = BEAM / 2
      s"""WITH $clusteredCtes,
          $nndCtes,
          qs AS (SELECT vec_id AS qid, v AS qv, n AS qn
                 FROM sn WHERE vec_id < 20),
          cr AS (SELECT qid, cell, crn FROM (
              SELECT q.qid, cc.cell,
                row_number() OVER (PARTITION BY q.qid
                  ORDER BY ${distSql("q.qv", "cc.c")} ASC, cc.cell ASC)
                  AS crn
              FROM qs q CROSS JOIN cc) WHERE crn <= 2),
          st AS (SELECT qid, nid FROM (
              SELECT cr.qid, s.vec_id AS nid,
                row_number() OVER (PARTITION BY cr.qid, cr.cell
                  ORDER BY s.vec_id ASC) AS srn
              FROM cr JOIN sn s ON s.cell = cr.cell AND s.vec_id <> cr.qid)
            WHERE srn <= $half),
          ${beamCtes(s"g$GR", "t_", "st")}
          SELECT qid, rn AS rank, nid, round(cos, 4) AS cos, scored_n
          FROM t_vf WHERE rn <= 3 ORDER BY qid, rank"""
    },

    // both corpora's cell assignments (kmeans / derived sub-cluster
    // key), each collapsed to per-cell sizes; the doc-weighted median
    // walk and verdict restated per corpus
    "x165_serve_decision" ->
      s"""WITH ${kmeansCtes()},
          iso AS (SELECT cell FROM af),
          gd AS (SELECT greatest(1, CAST(ceil(count(*) / 120.0)
                 AS BIGINT)) AS g FROM embeddings),
          clu AS (SELECT CAST(label AS BIGINT) * gd.g + vec_id % gd.g
                    AS cell
                  FROM embeddings CROSS JOIN gd),
          ${diagCtes("i_", "iso", "isotropic")},
          ${diagCtes("c_", "clu", "clustered")}
          SELECT * FROM (
            SELECT * FROM i_dg UNION ALL SELECT * FROM c_dg)
          ORDER BY corpus""",

    // the identical derivation + graph; long-range edges from the
    // per-node N×|cells| centroid ranking joined to the per-cell
    // min-member anchors, unioned into the graph; three prefixed beam
    // chains (mis-seeds over plain/augmented, nearest-cell seeds over
    // augmented) audited against the shared exact top-KG
    "x171_graph_longrange" ->
      s"""WITH $clusteredCtes,
          $nndCtes,
          qs AS (SELECT vec_id AS qid, v AS qv, n AS qn
                 FROM sn WHERE vec_id < 20),
          cr AS (SELECT qid, cell, crn FROM (
              SELECT q.qid, cc.cell,
                row_number() OVER (PARTITION BY q.qid
                  ORDER BY ${distSql("q.qv", "cc.c")} ASC, cc.cell ASC)
                  AS crn
              FROM qs q CROSS JOIN cc) WHERE crn <= 2),
          so AS (SELECT qid, nid FROM (
              SELECT cr.qid, s.vec_id AS nid,
                row_number() OVER (PARTITION BY cr.qid, cr.cell
                  ORDER BY s.vec_id ASC) AS srn
              FROM cr JOIN sn s ON s.cell = cr.cell AND s.vec_id <> cr.qid
              WHERE cr.crn = 1) WHERE srn <= $BEAM),
          sm AS (SELECT qid, nid FROM (
              SELECT cr.qid, s.vec_id AS nid,
                row_number() OVER (PARTITION BY cr.qid, cr.cell
                  ORDER BY s.vec_id ASC) AS srn
              FROM cr JOIN sn s ON s.cell = cr.cell AND s.vec_id <> cr.qid
              WHERE cr.crn = 2) WHERE srn <= $BEAM),
          nr AS (SELECT u, tcell FROM (
              SELECT s.vec_id AS u, c2.cell AS tcell,
                row_number() OVER (PARTITION BY s.vec_id
                  ORDER BY ${distSql("s.v", "c2.c")} ASC, c2.cell ASC)
                  AS nrn
              FROM sn s JOIN cc c2 ON c2.cell <> s.cell)
            WHERE nrn <= $LRE),
          tgt AS (SELECT cell, min(vec_id) AS w FROM sn GROUP BY cell),
          ga AS MATERIALIZED (SELECT u, w FROM g$GR
                 UNION
                 SELECT nr.u, tgt.w FROM nr JOIN tgt ON tgt.cell = nr.tcell),
          ${beamCtes(s"g$GR", "p_", "sm")},
          ${beamCtes("ga", "a_", "sm")},
          ${beamCtes("ga", "o_", "so")},
          $exCte,
          ${auditCte("p_")},
          ${auditCte("a_")},
          ${auditCte("o_")}
          SELECT * FROM (
            SELECT 'mis1_plain' AS mode, qid, hits, scored_n FROM p_au
            UNION ALL SELECT 'mis1_aug', qid, hits, scored_n FROM a_au
            UNION ALL SELECT 'one_aug', qid, hits, scored_n FROM o_au)
          ORDER BY mode, qid""",

    // the identical derivation + directed graph, plus its symmetrized
    // union; the SAME seeds/beam/hops through both, two audit arms
    "x164_graph_symmetrized" ->
      s"""WITH $clusteredCtes,
          $nndCtes,
          ${seedCtes(20)},
          gs AS (SELECT u, w FROM g$GR
                 UNION SELECT w AS u, u AS w FROM g$GR),
          ${beamCtes(s"g$GR", "d_")},
          ${beamCtes("gs", "y_")},
          $exCte,
          ${auditCte("d_")},
          ${auditCte("y_")}
          SELECT * FROM (
            SELECT 'dir' AS mode, qid, hits, scored_n FROM d_au
            UNION ALL SELECT 'sym', qid, hits, scored_n FROM y_au)
          ORDER BY mode, qid""",

    // the identical cell-blocked different-label pair mine, k re-derived
    // from the oracle's own count (the x133 device)
    "x145_hard_negatives" -> {
      val kSql = s"SELECT greatest($K, CAST(ceil(sqrt(count(*)) / 3) " +
        "AS BIGINT)) FROM e"
      s"""WITH ${kmeansChain("", "embedding::DOUBLE[]", DIMS, "TRUE", kSql)},
          sn AS (SELECT vec_id, cell, v,
                   sqrt(list_dot_product(v, v)) AS n FROM af),
          sl AS (SELECT sn.vec_id, sn.cell, sn.v, sn.n,
                   CAST(e2.label AS BIGINT) AS lab
                 FROM sn JOIN embeddings e2 USING (vec_id)),
          p AS (SELECT a.vec_id AS aid, b.vec_id AS nid,
                  a.lab AS la, b.lab AS lb,
                  CASE WHEN a.n = 0 OR b.n = 0 THEN NULL
                       ELSE list_dot_product(a.v, b.v) / (a.n * b.n)
                  END AS cos,
                  row_number() OVER (PARTITION BY a.vec_id
                    ORDER BY CASE WHEN a.n = 0 OR b.n = 0 THEN NULL
                      ELSE list_dot_product(a.v, b.v) / (a.n * b.n) END
                      DESC NULLS LAST, b.vec_id ASC) AS rn
                FROM sl a JOIN sl b ON b.cell = a.cell
                  AND b.vec_id <> a.vec_id AND b.lab <> a.lab)
          SELECT aid AS vec_id, rn AS rank, nid AS neg_id, la AS label,
                 lb AS neg_label, round(cos, 4) AS cos
          FROM p WHERE rn <= 2 ORDER BY vec_id, rank"""
    },

    // the identical centrality quota per cell
    "x146_cell_downsample" ->
      s"""WITH ${kmeansCtes()},
          j AS (SELECT af.vec_id, af.cell, ${distSql("af.v", "c.c")} AS d
                FROM af JOIN c$ITERS c USING (cell)),
          r AS (SELECT vec_id, cell, d,
                  row_number() OVER (PARTITION BY cell
                    ORDER BY d ASC, vec_id ASC) AS rn,
                  count(*) OVER (PARTITION BY cell) AS csize
                FROM j)
          SELECT vec_id, cell, rn AS rank, round(d, 4) AS d
          FROM r WHERE rn <= (csize + 3) // 4 ORDER BY cell, rank""",

    // the identical DBSCAN dataflow: 9-offset cell join, integer squared
    // distance, recursive-CTE closure over core-core edges (the x14/x123
    // component device), min-label border attachment
    "x134_dbscan_grid" ->
      s"""WITH RECURSIVE
          $dbscanPtsSql,
          cells AS (SELECT id, x, y,
              CAST(floor(x / $DB_EPS.0) AS BIGINT) AS cx,
              CAST(floor(y / $DB_EPS.0) AS BIGINT) AS cy FROM pts),
          offs(dx, dy) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),
                                  (0,1),(1,-1),(1,0),(1,1)),
          prs AS (SELECT a.id AS ia, b.id AS ib
                  FROM cells a CROSS JOIN offs o
                  JOIN cells b ON b.cx = a.cx + o.dx
                              AND b.cy = a.cy + o.dy
                  WHERE (a.x - b.x) * (a.x - b.x)
                      + (a.y - b.y) * (a.y - b.y)
                     <= ${DB_EPS * DB_EPS}),
          neigh AS (SELECT ia AS id, count(*)::BIGINT AS n_eps
                    FROM prs GROUP BY ia),
          core AS (SELECT id FROM neigh WHERE n_eps >= $DB_MINPTS),
          edges AS (SELECT p.ia AS src, p.ib AS dst FROM prs p
                    JOIN core ca ON ca.id = p.ia
                    JOIN core cb ON cb.id = p.ib
                    WHERE p.ia <> p.ib),
          comp(id, lbl) AS (
            SELECT DISTINCT src, src FROM edges
            UNION
            SELECT e.dst, c.lbl FROM comp c JOIN edges e ON e.src = c.id),
          lab AS (SELECT id, min(lbl) AS label FROM comp GROUP BY id),
          corelab AS (SELECT c.id, coalesce(l.label, c.id) AS label
                      FROM core c LEFT JOIN lab l ON l.id = c.id),
          borderlab AS (SELECT p.ia AS id, min(cl.label) AS label
                        FROM prs p JOIN corelab cl ON cl.id = p.ib
                        WHERE p.ia NOT IN (SELECT id FROM core)
                        GROUP BY p.ia)
          SELECT p.id, p.x, p.y, n.n_eps,
                 CASE WHEN cl.id IS NOT NULL THEN 'core'
                      WHEN bl.id IS NOT NULL THEN 'border'
                      ELSE 'noise' END AS role,
                 coalesce(cl.label, bl.label) AS label
          FROM pts p JOIN neigh n ON n.id = p.id
          LEFT JOIN corelab cl ON cl.id = p.id
          LEFT JOIN borderlab bl ON bl.id = p.id
          ORDER BY p.id"""
  )
}
