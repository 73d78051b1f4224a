package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{VectorFunctions => V}
import graft.ops.CacheScope

/** Query-time serving over a frozen k-NN graph — the greedy/beam-search
  * analog of IVF-ADC's x131 path, closing the graph family's
  * build → audit → SERVE gap (x138 builds, x142 audits, THIS answers).
  *
  * The algorithm is the deterministic core of graph-ANN serving (HNSW /
  * NSG-style best-first search, restated as a FIXED-hop beam so every
  * decision is oracle-checkable): seed each query with a few members of
  * its coarse cell, then repeat `hops` times — take the current `beam`
  * best visited nodes, expand their frozen out-adjacency, score the new
  * candidates against the query, and fold them into the visited set.
  * Ranking and the beam cut are pinned by (cos DESC NULLS LAST, id ASC);
  * the visited set is a pure function of (graph, seeds, query), so the
  * whole served answer hashes identically in an independent engine.
  *
  * Budget (the property IVF cannot offer): per query, scored candidates
  * are ≤ seeds + hops·beam·kg — CONSTANT in corpus size, vs IVF's
  * nprobe/nlist FRACTION of the corpus. At 100 TB that is the difference
  * between a per-query scan of millions of vectors and a few dozen keyed
  * lookups; the scored count is part of the output (`scored_n`), so the
  * budget→recall trade is audited per query, never asserted.
  *
  * Adjacency is expanded along the graph's DIRECTED out-edges (the
  * artifact x138 persists); a deployment wanting higher recall per hop
  * symmetrizes the graph once at build time and serves over that — the
  * search itself is unchanged. MEASURED (x164, the x149 corpus):
  * g ∪ reverse(g) at the identical beam/hops/seeds lifts recall@4 from
  * 96.2/97.5/92.5% to 97.5/100/100% across sf0.001/0.01/0.1 for ~6–10%
  * more scored candidates (avg 9.7→10.3 at sf0.001, 11.4→12.5 at
  * sf0.1) — the reverse edges recover exactly the neighbors a directed
  * out-list drops when a popular node's in-edges aren't reciprocated.
  * Seeding sensitivity is measured too (x163): a DELIBERATELY
  * mis-seeded query (second-nearest cell) recalls 0–6% — the search
  * cannot escape the wrong cluster, because every frozen out-edge
  * points within it — while top-2-cell seeding at the SAME total seed
  * count holds 91–94% and prices the insurance at ~60% more scored
  * candidates (two cells' adjacency both expand).
  *
  * Scale shape: every hop is one keyed equi-join of the (tiny) beam
  * frontier against the adjacency table (at rest: bucketed by `u`, so
  * the probe is co-partitioned and exchange-free) plus one keyed join
  * against the vector store for scoring. Nothing driver-side; the
  * per-hop visited set is persisted under `scope` (read twice: beam cut
  * and next union — the x14/x120 iteration hygiene).
  */
object GraphSearch {

  /** cos(query, candidate) with the zero-norm → null guard (the x126
    * convention, identical to the build-side scoring). */
  private def cosQC =
    when(col("qn") === 0.0 || col("cn") === 0.0, lit(null).cast("double"))
      .otherwise(V.dot(col("qv"), col("cv")) / (col("qn") * col("cn")))

  /** Beam-search `g` for each query in `q`.
    *
    * @param g     frozen adjacency (u, w) — e.g. [[NnDescent.build]]
    *              output projected to its edge pair
    * @param sn    vector store (vec_id, v: array<double>, nrm: double)
    * @param q     queries (qid, qv: array<double>, qn: double)
    * @param seeds (qid, nid) start set, e.g. [[cellSeeds]]
    * @param beam  frontier width per hop
    * @param hops  expansion rounds (a small constant — each is one keyed
    *              join; fixed so the oracle can restate the chain)
    * @return one row per VISITED (qid, nid): (qid, nid, cos, rn,
    *         scored_n) ranked by (cos DESC NULLS LAST, nid ASC) with
    *         scored_n = |visited(qid)| — the per-query budget. Callers
    *         cut rn <= k for the served answer. A query's own id never
    *         appears (excluded at seed and expansion). */
  def search(g: DataFrame, sn: DataFrame, q: DataFrame, seeds: DataFrame,
             beam: Int, hops: Int)
            (implicit scope: CacheScope): DataFrame = {
    require(beam > 0, s"beam must be positive, got $beam")
    require(hops >= 0 && hops <= 8,
      s"hops must be in [0, 8] (each is a keyed expansion), got $hops")
    val cand = sn.select(col("vec_id").as("nid"), col("v").as("cv"),
                         col("nrm").as("cn"))
    // uniquely-named adjacency resolved BY NAME: after hop 1 the frontier
    // derives from g, so dataset-qualified g("w") would be an ambiguous
    // self-join reference
    val adj = g.select(col("u").as("__gu"), col("w").as("__gw"))
    def score(ids: DataFrame): DataFrame =
      ids.join(q, "qid").join(cand, "nid")
        .select(col("qid"), col("nid"), cosQC.as("cos"))
    // per-hop LAZY localCheckpoint (the x14/x120 iteration device, NOT a
    // persist): visited is referenced twice per hop (beam cut + union),
    // so without plan truncation the logical tree doubles every hop and
    // CATALYST ANALYSIS time explodes long before the data does —
    // measured on ~250 rows/query-batch at bench SF: per-hop action cost
    // 0.25 → 0.9 → 1.8 → 4.5 s (doubling = planning, not execution).
    // Checkpoints are lazy, so the final count materializes the whole
    // chain in one cascade — hops jobs total, constant-size plans each.
    var visited =
      score(seeds.filter(col("nid") =!= col("qid")).distinct())
        .localCheckpoint(false)
    val wb = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc_nulls_last, col("nid").asc)
    for (_ <- 1 to hops) {
      val frontier = visited
        .withColumn("rn", row_number().over(wb)).filter(col("rn") <= beam)
        .select(col("qid"), col("nid"))
      val expand = frontier.join(adj, col("nid") === col("__gu"))
        .select(col("qid"), col("__gw").as("nid"))
        .filter(col("nid") =!= col("qid"))
        .distinct()
      // union + distinct dedups re-visits: cos is recomputed by the
      // identical expression over identical rows, so the (qid, nid, cos)
      // triple is bit-equal and set semantics match the oracle's UNION
      visited = visited.union(score(expand)).distinct()
        .localCheckpoint(false)
    }
    // the last hop's checkpoint IS the materialization — a persist on
    // top would store the same tiny rows twice; downstream consumers
    // (rank cut, budget, audit arms) re-plan from the checkpoint leaf
    visited.count() // eager: drives the lazy checkpoint cascade once
    visited
      .withColumn("rn", row_number().over(wb))
      .withColumn("scored_n",
        count(lit(1)).over(Window.partitionBy(col("qid"))))
  }

  /** The frozen serving artifacts SHARDED BY COARSE CELL — one row per
    * cell: `seeds` (the beam+1 smallest member ids; +1 because
    * self-exclusion happens per query, AFTER which the first `beam` are
    * the [[cellSeeds]] set), `gmap` (node → sorted out-neighbors) and
    * `vmap` (node → (v, nrm)) restricted to the cell's hops-reachable
    * CLOSURE. This is the structural form of the 100 TB serving story
    * the one-row export used to carry only as prose: each serving
    * executor holds ITS cell's row (the HNSW resident-shard
    * convention), queries route to shards by coarse cell, and the
    * stream side is one keyed stream-static join — no whole-corpus
    * single-row aggregate anywhere in the serving path.
    *
    * Closure bound, pinned to the search's access pattern: a query
    * seeded from this cell only ever EXPANDS nodes it visited at hop
    * ≤ hops−1 and only ever SCORES nodes at hop ≤ hops, so `gmap`
    * carries the (≤ hops−1)-reachable set from the cell's members and
    * `vmap` the (≤ hops)-reachable set — per-shard serving is then
    * EXACTLY the batch [[search]] answer for cell-local queries (x170
    * hash-proves it at 3 SFs). Shard size is governed by the graph
    * degree: |members|·(1 + kg + … + kg^hops) keys worst-case, in
    * practice far smaller because neighbors-of-neighbors overlap
    * within a cluster (the locality NN-Descent exists to exploit).
    * Scale shape: `hops` keyed self-joins on the edge artifact + two
    * per-cell map aggregations — no driver state, no global collect. */
  def serveShards(g: DataFrame, sn: DataFrame, beam: Int,
                  hops: Int): DataFrame = {
    require(beam > 0, s"beam must be positive, got $beam")
    require(hops >= 1, s"hops must be >= 1, got $hops")
    val adj = g.select(col("u").as("__gu"), col("w").as("__gw"))
    val members = sn.select(col("cell"), col("vec_id").as("nid"))
    def expand(nodes: DataFrame): DataFrame =
      nodes.join(adj, col("nid") === col("__gu"))
        .select(col("cell"), col("__gw").as("nid"))
        .distinct()
    // depth ≤ hops−1 closure (gmap keys: nodes whose adjacency a
    // cell-seeded beam search can expand)
    var reachG = members
    var frontier = members
    for (_ <- 1 to hops - 1) {
      frontier = expand(frontier)
      reachG = reachG.union(frontier).distinct()
    }
    // depth ≤ hops closure (vmap keys: nodes the search can score)
    val reachV = reachG.union(expand(frontier)).distinct()
    val gm = reachG.join(g, reachG("nid") === g("u"))
      .groupBy(col("cell"), col("u"))
      .agg(sort_array(collect_list(col("w"))).as("nbrs"))
      .groupBy(col("cell"))
      .agg(map_from_entries(collect_list(struct(col("u"), col("nbrs"))))
        .as("gmap"))
    val vm = reachV
      .join(sn.select(col("vec_id").as("nid"), col("v"), col("nrm")), "nid")
      .groupBy(col("cell"))
      .agg(map_from_entries(collect_list(struct(col("nid"),
        struct(col("v"), col("nrm"))))).as("vmap"))
    val ws = Window.partitionBy(col("cell")).orderBy(col("vec_id").asc)
    val sd = sn.select(col("cell"), col("vec_id"))
      .withColumn("srn", row_number().over(ws))
      .filter(col("srn") <= beam + 1)
      .groupBy(col("cell"))
      .agg(sort_array(collect_list(col("vec_id"))).as("seeds"))
    // left joins from the seed table: every cell has members (hence
    // seeds); a cell whose closure carries no out-edges simply has a
    // null gmap — the per-lookup coalesce in the serve path covers it.
    // beam/hops ride IN the artifact: the closure depth is a property
    // of the build, so a serve call must prove it matches ([[serve]]
    // validates before the query is planned) — a shard built with
    // smaller hops would otherwise silently return incomplete results
    // behind the per-lookup coalesce.
    sd.join(gm, Seq("cell"), "left").join(vm, Seq("cell"), "left")
      .select(col("cell"), col("seeds"), col("gmap"), col("vmap"),
              lit(beam).as("beam"), lit(hops).as("hops"))
  }

  /** Graph-ANN SERVING of a query frame (batch or stream) over the PER-CELL
    * sharded artifacts ([[serveShards]]: one row per coarse cell — seed list,
    * closure-restricted adjacency and vector maps). Each query joins to ITS
    * cell's shard row — one KEYED equi-join on `cell` (stream-static on a
    * stream: zero state), no whole-corpus broadcast — and the whole fixed-hop
    * beam search runs INSIDE the joined row as higher-order array functions:
    * seed from the shard's seed list (self excluded), then `hops` rounds of
    * sort-by-(cos DESC NULLS LAST, nid ASC) → take `beam` → expand `gmap` →
    * score fresh candidates via `vmap`. Per-row work is bounded by the same
    * constant budget as the batch operator (≤ beam + hops·beam·kg scored
    * candidates); the shard's closure restriction covers every node a
    * cell-seeded search can touch, so the visited set is the identical pure
    * function of (graph, seeds, query) — GraphSearchSpec reconciles the
    * served answer with [[search]] over a query stream split ACROSS shards,
    * and x170 hash-proves shard ≡ batch at 3 SFs. Output per query: (qid,
    * rank, nid, cos, scored_n) for rank ≤ `k`.
    *
    * This is the deployment shape for query-time ANN at ingest: each serving
    * executor holds its cell's shard resident (the HNSW convention), queries
    * route to shards by coarse cell upstream, and corpus growth adds SHARDS,
    * never widens a global artifact. */
  def serve(queries: DataFrame, artifacts: DataFrame,
            beam: Int, hops: Int, k: Int): DataFrame = {
    validateShardParams(artifacts, beam, hops)
    // keyed join: each query row picks up exactly its cell's shard
    // (seeds + closure maps)
    serveCore(
      queries.join(artifacts, "cell"),
      slice(filter(
        coalesce(col("seeds"), array().cast("array<long>")),
        id => id =!= col("qid")), 1, beam),
      id => coalesce(element_at(col("gmap"), id),
                     array().cast("array<long>")),
      id => element_at(col("vmap"), id),
      beam, hops, k)
  }

  /** [[serve]] with TOP-2-CELL SEED INSURANCE — the deployment shape of
    * x163's measured result: top-2 seeding at the same total seed count holds
    * 91–94% recall where a mis-seeded nprobe=1 serve recalls 0–6% (and static
    * long-range edges recover ~0–21%, x171), so the near-boundary query's
    * insurance belongs on the SEEDING side of the serving path, not in the
    * graph. Each query carries its top-2 coarse cells (`cell1`, `cell2` — the
    * quantizer's two nearest centroids) and joins BOTH cells' shard rows —
    * two keyed stream-static equi-joins, still zero state — seeding beam/2
    * ids from each shard's seed list (self excluded; x163's 'two' mode
    * exactly) and resolving every adjacency/vector lookup through the first
    * shard that carries the key (closures overlap, and where they do the
    * entries are identical by construction, so lookup order cannot matter).
    * The visited set dedups by nid before every beam cut and the final rank,
    * exactly like the batch union-distinct. Budget: ≤ 2× the nprobe=1 serve
    * (both cells' seed neighborhoods expand) and still CONSTANT in corpus
    * size; x178 hash-proves the two-shard serve ≡ the batch x163 top-2 search
    * at 3 SFs.
    *
    * Contract: `beam` must be even (the per-cell split is beam/2) and both
    * cells must exist in the artifact (a query with one legitimate cell
    * repeats it in both columns — the seed dedup collapses the duplicate
    * seeds, leaving a plain nprobe=1 serve at half seeds). */
  def serveTop2(queries: DataFrame, artifacts: DataFrame,
                beam: Int, hops: Int, k: Int): DataFrame = {
    require(beam % 2 == 0,
      s"top-2 serving splits the seed budget per cell — beam must be " +
        s"even, got $beam")
    validateShardParams(artifacts, beam, hops)
    def shardAs(i: Int): DataFrame = artifacts.select(
      col("cell").as(s"cell$i"), col("seeds").as(s"seeds$i"),
      col("gmap").as(s"gmap$i"), col("vmap").as(s"vmap$i"))
    def halfSeeds(c: Column): Column =
      slice(filter(coalesce(c, array().cast("array<long>")),
        id => id =!= col("qid")), 1, beam / 2)
    serveCore(
      queries.join(shardAs(1), "cell1").join(shardAs(2), "cell2"),
      array_distinct(concat(halfSeeds(col("seeds1")),
                            halfSeeds(col("seeds2")))),
      id => coalesce(element_at(col("gmap1"), id),
                     element_at(col("gmap2"), id),
                     array().cast("array<long>")),
      id => coalesce(element_at(col("vmap1"), id),
                     element_at(col("vmap2"), id)),
      beam, hops, k)
  }

  /** One-time artifact validation before the serve is planned (the shard side
    * of the join — |cells| rows, one tiny job): the shard closure depth is a
    * property of the BUILD, so serving a shard built with different beam/hops
    * would silently return incomplete results behind the per-lookup coalesce.
    * [[serveShards]] stamps its parameters into every row; this requires them
    * to match the serve call's. */
  private def validateShardParams(artifacts: DataFrame, beam: Int,
                                  hops: Int): Unit = {
    require(artifacts.columns.contains("beam") &&
        artifacts.columns.contains("hops"),
      "shard artifact carries no beam/hops columns — rebuild it with " +
        "GraphSearch.serveShards (the closure depth must be provable)")
    val ps = artifacts.select(col("beam"), col("hops")).distinct().collect()
    require(ps.length == 1,
      s"shard artifact carries ${ps.length} distinct (beam, hops) " +
        "pairs — expected exactly one build generation")
    val (ab, ah) = (ps(0).getInt(0), ps(0).getInt(1))
    require(ab == beam && ah == hops,
      s"shard artifact was built with beam=$ab hops=$ah but serve was " +
        s"called with beam=$beam hops=$hops — a mismatched closure " +
        "depth silently drops reachable candidates; rebuild the shards " +
        "or match the call")
  }

  /** The shared fixed-hop beam-search serve loop over a query frame
    * already joined to its shard row(s): `seedIds` is the self-excluded
    * seed id array, `gLookup`/`vLookup` resolve a node id to its
    * out-adjacency / (v, nrm) struct through whatever shard columns the
    * caller joined. Everything else — the (cos DESC NULLS LAST, nid
    * ASC) rank, the per-hop beam cut, the visited-set dedup by nid, the
    * budget column — is identical across nprobe=1 and top-2 serving. */
  private def serveCore(joined: DataFrame, seedIds: Column,
                        gLookup: Column => Column,
                        vLookup: Column => Column,
                        beam: Int, hops: Int, k: Int): DataFrame = {
    // comparator for (cos DESC NULLS LAST, nid ASC) — the batch rank
    def cmp(l: Column, r: Column): Column = {
      val byId = when(l.getField("nid") < r.getField("nid"), -1)
        .when(l.getField("nid") > r.getField("nid"), 1).otherwise(0)
      val lc = l.getField("cos"); val rc = r.getField("cos")
      when(lc.isNull && rc.isNull, byId)
        .when(lc.isNull, 1).when(rc.isNull, -1)
        .when(lc > rc, -1).when(lc < rc, 1)
        .otherwise(byId)
    }
    def scoreOf(id: Column): Column = {
      val e = vLookup(id)
      val cos = when(col("qn") === 0.0 || e.getField("nrm") === 0.0,
          lit(null).cast("double"))
        .otherwise(V.dot(
            col("qv"), e.getField("v")) / (col("qn") * e.getField("nrm")))
      struct(id.as("nid"), cos.as("cos"))
    }
    var out = joined.withColumn("visited", transform(seedIds, scoreOf(_)))
    for (_ <- 1 to hops) {
      out = out
        .withColumn("_beam", slice(array_sort(col("visited"), cmp), 1, beam))
        .withColumn("_fresh",
          filter(
            array_distinct(flatten(transform(col("_beam"), b =>
              gLookup(b.getField("nid"))))),
            id => id =!= col("qid") &&
              !exists(col("visited"), v => v.getField("nid") === id)))
        .withColumn("visited",
          concat(col("visited"), transform(col("_fresh"), scoreOf(_))))
    }
    out
      .select(col("qid"), size(col("visited")).cast("long").as("scored_n"),
              posexplode(array_sort(col("visited"), cmp)))
      .filter(col("pos") < k)
      .select(col("qid"), (col("pos") + 1).as("rank"),
              col("col").getField("nid").as("nid"),
              col("col").getField("cos").as("cos"), col("scored_n"))
  }

  /** The serve/don't-serve decision, OPERATIONALIZED (x165): the
    * criterion the x142/x149 pair taught — graph serving pays off only
    * when a typical coarse-cell neighborhood fits inside the per-query
    * scored-candidate budget (seeds + hops·beam·kg); cells much larger
    * than the budget leave the beam search facing isotropic residuals
    * (x142's regime, ~5% recall), cells commensurate with it reach
    * ~96%+ (x149) — turned from in-code prose into a queryable table a
    * pipeline can gate on.
    *
    * Emits ONE row of decision inputs + verdict: corpus size, cell
    * count, min/max cell size, the DOC-WEIGHTED median cell size (the
    * neighborhood a typical VECTOR experiences — for skewed quantizers
    * this is what a random query actually lands in, not the typical
    * cell), the graph degree and budget, the coverage ratio
    * 100·budget/med (how much of a typical neighborhood the budget
    * covers), and `serve` iff med ≤ budget. Median pinned: walk cells
    * by (size ASC, cell ASC), first cell whose cumulative vector count
    * reaches half the corpus. Scale shape: one keyed count collapses
    * the corpus to the |cells| domain (bounded by the quantizer's
    * nlist); the single-partition window runs on that domain only. */
  def serveDiagnostic(assigned: DataFrame, kg: Int, beam: Int,
                      hops: Int): DataFrame = {
    val budget = beam.toLong + hops.toLong * beam * kg
    val sizes = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("sz"))
    val wc = Window.orderBy(col("sz").asc, col("cell").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val stats = sizes.agg(
      sum(col("sz")).as("n"), count(lit(1)).as("n_cells"),
      min(col("sz")).as("min_sz"), max(col("sz")).as("max_sz"))
    val med = sizes.withColumn("cum", sum(col("sz")).over(wc))
      .crossJoin(broadcast(sizes.agg(sum(col("sz")).as("_n"))))
      .filter(col("cum") * 2 >= col("_n"))
      .agg(min_by(col("sz"), col("cum")).as("med_sz"))
    stats.crossJoin(broadcast(med))
      .withColumn("degree", lit(kg.toLong))
      .withColumn("budget", lit(budget))
      .withColumn("ratio_pct",
        (lit(100L * budget) / col("med_sz")).cast("long"))
      .withColumn("verdict",
        when(col("med_sz") <= budget, lit("serve"))
          .otherwise(lit("dont_serve")))
      .select(col("n"), col("n_cells"), col("min_sz"), col("med_sz"),
              col("max_sz"), col("degree"), col("budget"),
              col("ratio_pct"), col("verdict"))
  }

  /** LONG-RANGE graph augmentation — the deterministic analog of
    * HNSW's upper layers / NSG's navigating node, built to fix the
    * failure x163 MEASURED: a query seeded in the wrong cell recalls
    * 0–6%, because every frozen out-edge points within the cluster and
    * the beam search cannot escape it. The remedy adds, at BUILD time,
    * a few edges per node that leave the cluster: each node gets one
    * edge to the SMALLEST-id member of each of its top-`ell` foreign
    * cells by centroid distance (dist = |v|² − 2v·c + |c|², ties by
    * cell ASC — the KMeansDet ranking expression over the quantizer's
    * centroid table). A mis-seeded beam then reaches a nearby foreign
    * cluster's anchor in one hop and climbs from there; x171 prices the
    * recovery (recall recovered × extra scored candidates) against the
    * un-augmented graph at 3 SFs.
    *
    * MEASURED VERDICT (x171, ell=4, the x149 corpus): the remedy buys
    * beam DIVERSITY, not query-directed navigation. Mis-seeded recall
    * recovers 6.2→21.2% at sf0.001 and decays to 5→0% and 0→0% at
    * sf0.01/sf0.1 (for ~25–45% more scored candidates; the
    * correctly-seeded arm is unharmed at 92.5–97.5%). Why, mechanically:
    * every wrong-cell member's amplified vector is dominated by the
    * SAME 40·centroid term, so all beam nodes rank foreign cells
    * nearly identically — widening the beam multiplies visited nodes
    * but NOT visited anchors — and the sub-cells a nearest-sibling
    * mis-seed must navigate among are separated only by quantizer
    * noise, which a query-independent static edge set cannot rank for
    * a specific query. The principled insurance remains SEEDING-side:
    * x163's top-2-cell split holds 91–94% at the same total seed
    * count. Static long-range edges stay the right device for what
    * they actually provide — cross-cluster CONNECTIVITY (escape from a
    * far mis-route, reachability for component-spanning walks) — and
    * the wrong device for nearest-sibling precision, which is now a
    * number, not a guess.
    *
    * @param sn   vector store (vec_id, cell, v, nrm)
    * @param cent quantizer centroids (cell, c)
    * @param ell  long-range edges per node (top-ell foreign cells)
    * @return (u, w) edge pairs to union with the frozen k-NN graph */
  def longRangeEdges(sn: DataFrame, cent: DataFrame, ell: Int): DataFrame = {
    require(ell >= 1, s"ell must be >= 1, got $ell")
    val tc = cent.select(col("cell").as("tcell"), col("c"))
    val tgt = sn.groupBy(col("cell"))
      .agg(min(col("vec_id")).as("w"))
      .select(col("cell").as("tcell"), col("w"))
    val wn = Window.partitionBy(col("vec_id"))
      .orderBy(col("dist").asc, col("tcell").asc)
    sn.select(col("vec_id"), col("cell"), col("v"))
      .join(broadcast(tc), col("tcell") =!= col("cell"))
      .withColumn("dist",
        V.dot(col("v"), col("v")) - lit(2.0) * V.dot(col("v"), col("c"))
          + V.dot(col("c"), col("c")))
      .withColumn("nrn", row_number().over(wn))
      .filter(col("nrn") <= ell)
      .join(tgt, "tcell")
      .select(col("vec_id").as("u"), col("w"))
  }

  /** Coarse-cell seeds: for each query, the `beam` SMALLEST vec_ids of
    * its cell — deliberately unscored (scoring whole cells is IVF's
    * cost, the budget this serving path exists to avoid); the descent to
    * good neighbors is the beam search's job. Self never seeds itself.
    * `assigned` is (qid, cell) from the coarse quantizer — the query's
    * argmin cell, x131's nprobe device at nprobe = 1. */
  def cellSeeds(assigned: DataFrame, sn: DataFrame, beam: Int): DataFrame = {
    val members = sn.select(col("cell"), col("vec_id").as("nid"))
    val ws = Window.partitionBy(col("qid")).orderBy(col("nid").asc)
    assigned.join(members, "cell")
      .filter(col("nid") =!= col("qid"))
      .withColumn("srn", row_number().over(ws)).filter(col("srn") <= beam)
      .select(col("qid"), col("nid"))
  }
}
